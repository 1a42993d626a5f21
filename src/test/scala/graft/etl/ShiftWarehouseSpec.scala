package graft.etl

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

class ShiftWarehouseSpec extends SparkTestBase {

  test("committed batch is visible with correct counts") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-commit"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    assert(wh.shifts.count() === 2)
    assert(wh.breaks.count() === 2)
    assert(wh.allowances.count() === 3)
    assert(wh.awardInterpretations.count() === 2)
  }

  test("duplicate PK within a batch rolls back the whole batch (tests:242-300)") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-dup"))
    val page = PageSource.parsePage(spark, ShiftFixtures.dupPkPage)
    val e = intercept[IllegalStateException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    }
    assert(e.getMessage.contains("duplicate key"))
    // all-or-nothing: NOTHING visible, not even the valid shifts rows
    assert(wh.shifts.count() === 0)
    assert(wh.breaks.count() === 0)
    assert(wh.allowances.count() === 0)
    assert(wh.awardInterpretations.count() === 0)
  }

  test("duplicate PK against an earlier committed batch also rolls back") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-dup2"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    intercept[IllegalStateException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "b1") // same ids again
    }
    assert(wh.shifts.count() === 2) // first batch intact, second invisible
  }

  test("as-of snapshot reads are stable as later batches land") {
    // validatePks=false so the same fixture page can land twice
    val wh = new ShiftWarehouse(spark, tempDir("wh-snap"), validatePks = false)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val snapAtB0 = wh.tableAsOf("shifts", "b0")
    assert(snapAtB0.count() === 2)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b1")
    // current read sees both batches; the b0 snapshot is unchanged
    assert(wh.shifts.count() === 4)
    assert(wh.tableAsOf("shifts", "b0").count() === 2)
    assert(wh.tableAsOf("shifts", "b1").count() === 4)
  }

  test("as-of snapshots follow commit order even when ids sort differently") {
    // 'run-kpis' < 'run-p00001' lexicographically, but it is committed
    // SECOND — the snapshot at it must contain both batches
    val wh = new ShiftWarehouse(spark, tempDir("wh-snap-order"), validatePks = false)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "run-p00001")
    wh.appendBatch(ShiftNormalizer.normalize(page), "run-kpis")
    assert(wh.tableAsOf("shifts", "run-p00001").count() === 2)
    assert(wh.tableAsOf("shifts", "run-kpis").count() === 4)
    val e = intercept[IllegalArgumentException] {
      wh.tableAsOf("shifts", "never-committed")
    }
    assert(e.getMessage.contains("never committed"))
  }

  test("legacy marker that mimics the <seq>.<id> grammar stays visible (ADVICE r5)") {
    // A pre-sequence layout wrote bare batch-id markers. An id like
    // '20240101.nightly' parses as seq=20240101/id=nightly under the new
    // grammar — without the batch-dir disambiguation, reads would look
    // for batch=nightly, miss, and silently drop the batch's data.
    val root = tempDir("wh-legacy")
    val wh = new ShiftWarehouse(spark, root)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    val legacyId = "20240101.nightly"
    // simulate the legacy layout: data dirs + bare-id marker, no sequence
    val wh2 = new ShiftWarehouse(spark, root, validatePks = false)
    wh2.appendBatch(ShiftNormalizer.normalize(page), "tmp-stage")
    val base = java.nio.file.Paths.get(root)
    Seq("shifts", "breaks", "allowances", "award_interpretations").foreach { t =>
      java.nio.file.Files.move(
        base.resolve(t).resolve("batch=tmp-stage"),
        base.resolve(t).resolve(s"batch=$legacyId"))
    }
    java.nio.file.Files.delete(base.resolve("_commits").resolve("00000001.tmp-stage"))
    java.nio.file.Files.createFile(base.resolve("_commits").resolve(legacyId))
    assert(wh.shifts.count() === 2, "legacy batch must stay visible")
    assert(wh.committedBatches === Seq(legacyId))
    // and NEW ids that would collide with the marker grammar are rejected
    val e = intercept[IllegalArgumentException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "20240102.late")
    }
    assert(e.getMessage.contains("marker grammar"))
    // collision case (review r6): a SEQUENCED batch whose id equals the
    // legacy marker's truncated suffix must not be double-read, and the
    // legacy batch must not vanish — full-name dir wins the parse
    val whNoPk = new ShiftWarehouse(spark, root, validatePks = false)
    whNoPk.appendBatch(ShiftNormalizer.normalize(page), "nightly")
    assert(whNoPk.committedBatches.sorted === Seq(legacyId, "nightly").sorted)
    assert(whNoPk.shifts.count() === 4, "each batch read exactly once")
  }

  test("upsert replaces rows per PK in the current view, history stays as-of readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = new ShiftWarehouse(spark, tempDir("wh-upsert"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val original = wh.shifts.select($"shift_id", $"shift_cost".cast("double"))
      .as[(String, Double)].collect().toMap
    assert(original.size == 2)
    val (replacedId, keptId) = (original.keys.min, original.keys.max)
    // SCD1 correction: same PK, new cost
    val corrected = wh.shifts.filter($"shift_id" === replacedId)
      .withColumn("shift_cost", lit(999.5).cast("decimal(13,4)"))
    wh.upsertBatch("shifts", corrected, "b1-fix")
    // a plain append with the same PK would have rolled back — upsert commits
    val cur = wh.currentView("shifts")
      .select($"shift_id", $"shift_cost".cast("double"))
      .as[(String, Double)].collect().toMap
    assert(cur.size == 2, "one row per PK in the current view")
    assert(cur(replacedId) == 999.5, "later batch wins per PK")
    assert(cur(keptId) == original(keptId), "untouched PK keeps its row")
    // bag-semantics table read sees both versions; as-of sees the old one
    assert(wh.shifts.count() == 3)
    assert(wh.tableAsOf("shifts", "b0").count() == 2)
    // within-batch duplicate PKs still roll an upsert back
    intercept[IllegalStateException] {
      wh.upsertBatch("shifts", corrected.union(corrected), "b2-dup")
    }
    assert(wh.currentView("shifts").count() == 2)
    // the global PK audit must not flag the legitimate correction...
    wh.validateAllPks()
    // ...and a table without a PK is a clear error, not a key lookup
    intercept[IllegalArgumentException](wh.currentView("kpis"))
  }

  test("compaction after upserts keeps the corrected row, not the superseded one") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = new ShiftWarehouse(spark, tempDir("wh-upsert-compact"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val replacedId = wh.shifts.select($"shift_id").as[String].collect().min
    val corrected = wh.shifts.filter($"shift_id" === replacedId)
      .withColumn("shift_cost", lit(999.5).cast("decimal(13,4)"))
    wh.upsertBatch("shifts", corrected, "b1-fix")
    // bag compaction would merge both row versions under one seq and
    // could resurrect the superseded row — it must refuse
    val e = intercept[IllegalArgumentException](wh.compact())
    assert(e.getMessage.contains("compactCurrent"))
    wh.compactCurrent()
    val cost = wh.currentView("shifts").filter($"shift_id" === replacedId)
      .select($"shift_cost".cast("double")).head().getDouble(0)
    assert(cost == 999.5, "compaction must keep the corrected version")
    assert(wh.shifts.count() == 2, "superseded row version is vacuumed")
    // history is collapsed and append-semantics again: plain compact works
    wh.validateAllPks()
    wh.compact()
    assert(wh.currentView("shifts").count() == 2)
  }

  test("delete keys of the wrong type are rejected before anything commits") {
    import spark.implicits._
    val wh = new ShiftWarehouse(spark, tempDir("wh-delete-type"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    // shift_id is a string PK; a LongType keys frame would write and
    // commit fine, then poison every later read when tombstones()
    // applies the declared schema — must fail fast instead
    val e = intercept[IllegalArgumentException] {
      wh.deleteRows("shifts", Seq(42L).toDF("shift_id"), "b1-bad")
    }
    assert(e.getMessage.contains("must be string"))
    // nothing committed, nothing tombstoned
    assert(wh.currentView("shifts").count() == 2)
    wh.clear()
  }

  test("scoped delete tombstones a PK; re-insert resurrects; compaction erases") {
    import spark.implicits._
    val wh = new ShiftWarehouse(spark, tempDir("wh-delete"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val ids = wh.shifts.select($"shift_id").as[String].collect().sorted
    val (dead, alive) = (ids.head, ids.last)
    wh.deleteRows("shifts", Seq(dead).toDF("shift_id"), "b1-del")
    // current view drops the tombstoned key; bag + as-of history keep it
    assert(wh.currentView("shifts").select($"shift_id").as[String].collect().toSeq
      == Seq(alive))
    assert(wh.shifts.count() == 2)
    assert(wh.tableAsOf("shifts", "b0").count() == 2)
    // a LATER upsert of the same key outlives the tombstone
    val back = wh.shifts.filter($"shift_id" === dead)
    wh.upsertBatch("shifts", back, "b2-back")
    assert(wh.currentView("shifts").count() == 2, "re-insert resurrects the key")
    // delete again, then compactCurrent physically forgets the row
    wh.deleteRows("shifts", Seq(dead).toDF("shift_id"), "b3-del")
    intercept[IllegalArgumentException](wh.compact())
    wh.compactCurrent()
    assert(wh.shifts.select($"shift_id").as[String].collect().toSeq == Seq(alive),
      "deleted row must be gone from the physical table after VACUUM")
    assert(wh.currentView("shifts").count() == 1)
  }

  test("compaction collapses the batch history to one dir per table, same rows") {
    def ls(parts: String*): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(parts.head, parts.tail: _*))
      try s.toArray.map(_.toString).toSeq finally s.close()
    }
    val root = tempDir("wh-compact")
    val wh = new ShiftWarehouse(spark, root, validatePks = false)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    wh.appendBatch(ShiftNormalizer.normalize(page), "b1")
    wh.appendBatch(ShiftNormalizer.normalize(page), "b2")
    val before = wh.shifts.count()
    assert(before === 6)

    val cid = wh.compact()
    assert(wh.shifts.count() === before, "current reads unchanged")
    assert(wh.breaks.count() === 6)
    assert(wh.committedBatches === Seq(cid), "history rewritten to one batch")
    assert(ls(root, "shifts").size === 1, "one batch dir expected")
    assert(ls(root, "shifts", s"batch=$cid").count(_.endsWith(".parquet")) === 1,
      "coalesced to one data file")

    // the warehouse keeps working after compaction: appends sequence on
    wh.appendBatch(ShiftNormalizer.normalize(page), "b3")
    assert(wh.shifts.count() === 8)
    assert(wh.tableAsOf("shifts", cid).count() === 6)
    assert(wh.committedBatches === Seq(cid, "b3"))

    // periodic maintenance: a SECOND compaction must work (review r6 —
    // a fixed batch id collided with its own previous output)
    val cid2 = wh.compact()
    assert(cid2 !== cid)
    assert(wh.shifts.count() === 8, "re-compaction preserves all rows")
    assert(wh.committedBatches === Seq(cid2))
    assert(ls(root, "shifts").size === 1)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b4")
    assert(wh.shifts.count() === 10)
  }

  test("compaction is re-runnable back-to-back — ids never collide with live output") {
    // the marker swap resets the commit sequence, so an id derived from
    // nextSeq alone can equal the PREVIOUS compaction's still-committed
    // id (one-batch warehouse: both runs compute `compacted-2`) — the
    // periodic maintenance job must not fail on its second tick
    val wh = new ShiftWarehouse(spark, tempDir("wh-recompact"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val before = wh.shifts.count()
    val id1 = wh.compact()
    val id2 = wh.compact()
    assert(id1 != id2, s"compaction reused id $id1")
    assert(wh.shifts.count() == before)
    assert(wh.committedBatches == Seq(id2), "exactly the newest compacted batch is live")
  }

  test("clear removes everything (DELETE CASCADE semantics)") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-clear"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    wh.clear()
    assert(wh.shifts.count() === 0)
    assert(wh.kpis.count() === 0)
  }

  /** singlePage with the given ids renamed, so it can commit next to a
    * batch holding the original page. */
  private def renaming(ids: Seq[String]): DataFrame =
    PageSource.parsePage(spark, ids.foldLeft(ShiftFixtures.singlePage)((j, id) => j.replace(id, s"$id-2")))

  private def keys(df: DataFrame, pk: String): Seq[String] =
    df.select(pk).collect().map(_.getString(0)).toSeq

  test("a failed concurrent staged write rolls the whole batch back") {
    val root = tempDir("wh-stage-fail")
    val wh = new ShiftWarehouse(spark, root)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    val n = ShiftNormalizer.normalize(page)
    val failing = n.copy(awardInterpretations = n.awardInterpretations.withColumn("award_units",
      when(col("award_id").isNotNull, raise_error(lit("staged write failed")))
        .otherwise(col("award_units"))))
    val e = intercept[Exception](wh.appendBatch(failing, "b0"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("staged write failed")), e)
    assert(wh.shifts.count() === 0)
    assert(wh.breaks.count() === 0)
    assert(wh.allowances.count() === 0)
    assert(wh.awardInterpretations.count() === 0)
    assert(!Files.exists(Paths.get(root, "_staging", "b0")), "staging residue left behind")
  }

  test("the key check names the table of a within-batch duplicate") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-dup-breaks"))
    val page = PageSource.parsePage(spark, ShiftFixtures.dupPkPage)
    val e = intercept[IllegalStateException](wh.appendBatch(ShiftNormalizer.normalize(page), "b0"))
    assert(e.getMessage === "duplicate key value violates unique constraint: " +
      "breaks.break_id = 16419f82-8b9d-4434-a465-e150bd9c66b3 (batch b0)")
  }

  test("the key check names the table of a cross-batch duplicate") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-dup-awards"))
    wh.appendBatch(ShiftNormalizer.normalize(PageSource.parsePage(spark, ShiftFixtures.singlePage)), "b0")
    // fresh shift, break and allowance ids; the award ids are reused
    val fresh = ShiftWarehouse.pkColumns.toSeq.filter(_._1 != "award_interpretations")
      .flatMap { case (t, pk) => keys(wh.table(t), pk) }
    val e = intercept[IllegalStateException](
      wh.appendBatch(ShiftNormalizer.normalize(renaming(fresh)), "b1"))
    val expected = keys(wh.awardInterpretations, "award_id").map(id =>
      s"duplicate key value violates unique constraint: award_interpretations.award_id = $id (batch b1)")
    assert(expected.contains(e.getMessage), e.getMessage)
    assert(wh.committedBatches === Seq("b0"))
  }

  /** Waits until `seen` holds, failing after 30 s. */
  private def await(seen: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
    assert(seen, "listener event never arrived")
  }

  test("a batch commits in one query per staged table plus one key check") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-queries"))
    wh.appendBatch(ShiftNormalizer.normalize(PageSource.parsePage(spark, ShiftFixtures.singlePage)), "b0")
    val page = renaming(ShiftWarehouse.pkColumns.toSeq.flatMap { case (t, pk) => keys(wh.table(t), pk) })
    val batch = ShiftNormalizer.normalize(page)
    // listener events arrive asynchronously and in order: a sentinel query
    // before and after the commit brackets exactly the commit's executions
    val succeeded = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        succeeded.add(qe.analyzed.output.map(_.name).find(_.startsWith("sentinel_")).getOrElse(funcName))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).toDF("sentinel_before").collect()
      await(succeeded.contains("sentinel_before"))
      wh.appendBatch(batch, "b1")
      spark.range(1).toDF("sentinel_after").collect()
      await(succeeded.contains("sentinel_after"))
    } finally spark.listenerManager.unregister(listener)
    val all = succeeded.toArray.toSeq
    val commit = all.slice(all.indexOf("sentinel_before") + 1, all.indexOf("sentinel_after"))
    assert(commit.size >= 4, s"the four staged writes are missing: $commit")
    assert(commit.size <= 5, s"${commit.size} SQL executions for one batch: $commit")
    assert(wh.shifts.count() === 4)
  }

  test("every job of a batch commit carries the batch's label, pool threads included") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-labels"))
    val batch = ShiftNormalizer.normalize(PageSource.parsePage(spark, ShiftFixtures.singlePage))
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    def sentinel(label: String): Unit = {
      sc.setJobDescription(label)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      await(labels.contains(label))
    }
    sc.addSparkListener(listener)
    try {
      sentinel("sentinel before")
      wh.appendBatch(batch, "b0")
      sentinel("sentinel after")
    } finally sc.removeSparkListener(listener)
    val all = labels.toArray.toSeq.map(_.toString)
    val commit = all.slice(all.indexOf("sentinel before") + 1, all.indexOf("sentinel after"))
    assert(commit.nonEmpty)
    assert(commit.forall(_.startsWith("etl b0: ")), commit)
    assert(commit.toSet ===
      (ShiftWarehouse.pkColumns.keySet.map(t => s"etl b0: stage $t") + "etl b0: key check"))
  }
}

class ShiftsEtlSpec extends SparkTestBase {

  test("paginated two-page run equals the single-page golden results (tests:127-240)") {
    val wh = new ShiftWarehouse(spark, tempDir("etl-pages"))
    val payloads = Map(
      "http://localhost:8000/api/shifts" -> (ShiftFixtures.page1, Some("/api/shifts?start=1&limit=1")),
      "http://localhost:8000/api/shifts?start=1&limit=1" -> (ShiftFixtures.page2, None))
    val pages = PageSource.pages("http://localhost:8000/api/shifts") { url =>
      val (json, next) = payloads(url)
      (PageSource.parsePage(spark, json), next)
    }
    val kpis = ShiftsEtl.run(pages, wh, LocalDate.parse("2023-12-31"), "run1")

    assert(wh.shifts.count() === 2)
    assert(wh.breaks.count() === 2)
    assert(wh.allowances.count() === 3)
    assert(wh.awardInterpretations.count() === 2)

    val k = kpis.collect().map(r => r.getString(0) -> Option(r.getDecimal(2)).map(BigDecimal(_))).toMap
    assert(k("mean_break_length_in_minutes") === Some(BigDecimal("24.41")))
    assert(k("mean_shift_cost") === Some(BigDecimal("81.55")))
    assert(k("max_allowance_cost_14d") === Some(BigDecimal("0.00")))
    assert(k("max_break_free_shift_period_in_days") === Some(BigDecimal("0.00")))
    assert(k("min_shift_length_in_hours") === Some(BigDecimal("8.75")))
    assert(k("total_number_of_paid_breaks") === Some(BigDecimal("1.00")))
  }

  test("relative next link resolves against the page URL (get_next_url :146-152)") {
    assert(PageSource.resolveNext("http://h:8000/api/shifts?start=0",
      Some("/api/shifts?start=1&limit=1")) === Some("http://h:8000/api/shifts?start=1&limit=1"))
    assert(PageSource.resolveNext("http://h:8000/api/shifts", None) === None)
  }
}
