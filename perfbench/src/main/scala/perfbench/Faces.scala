package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `faces`: the read path. After `Bench.setupSteps` from a clean store
  * state, each listed query face runs once, timed from calling it until a
  * `noop` write of its whole result returns (every column computed, the
  * final sort kept). The seed permutes the face order. */
object Faces {

  type Face = (SparkSession, String) => DataFrame

  /** The `queries/` modules `SparkEntry.queries` is built from. */
  val moduleFaces: Seq[(String, Map[String, Face])] = {
    import graft.queries._
    Seq("Relational" -> Relational.queries, "Normalize" -> Normalize.queries,
      "Events" -> Events.queries, "TextOps" -> TextOps.queries, "Dedup" -> Dedup.queries,
      "Similarity" -> Similarity.queries, "Scale" -> Scale.queries,
      "MultimodalMeta" -> MultimodalMeta.queries, "Analytics" -> Analytics.queries,
      "TemporalJoins" -> TemporalJoins.queries, "Curation" -> Curation.queries,
      "Mixing" -> Mixing.queries, "Retrieval" -> Retrieval.queries, "Corpus" -> Corpus.queries,
      "Passages" -> Passages.queries, "IndexOps" -> IndexOps.queries)
  }
  val modules: Seq[String] = moduleFaces.map(_._1)

  /** Setup steps reported one metric each; any other step adds to
    * `setup.other_s`. */
  val setupStepNames: Seq[String] = Seq("bucketed_mirrors", "clustered_mirror",
    "dedup_staging", "docs_wide", "wide_mirrors", "decontam_staging", "dedup_index",
    "ivf_cells.cells_subset", "ivf_cells.centroid_mirror", "ivf_cells.cells_learned",
    "ivf_cells.lsh_bands", "ivf_cells.quant_int8", "ivf_cells.pq_codes", "ivf_cells.jl16",
    "ivf_cells.pca_model", "ivf_cells.pca_model2", "semantic_cell_index", "phash_staging",
    "phash_index", "retrieval_staging", "postings_index", "winnow_staging", "profile_staging",
    "curation_signals", "bpe_model", "journey_model", "events_prewarm")

  /** The committed store kinds `Bench` wipes, under the program's scratch base. */
  val storeKinds: Seq[String] = Seq("dedup-index", "postings-index", "phash-index",
    "semantic-cells", "ann-centroids", "ann-centroids-staging", "bpe-merges",
    "bpe-merges-staging", "journey-model", "journey-model-staging", "bucketed-mirror",
    "clustered-mirror", "corpus-mirror")

  val corpusDir: Path = Paths.get("perfbench", "corpus", "sf0.001")
  val referenceFile: Path = Paths.get("perfbench", "faces_reference.tsv")

  /** Expected result of one face: row count, digest, and whether the
    * digest is checked (`digest`) or only the row count (`rows`). */
  final case class Expected(rows: Long, digest: String, check: String)

  def readReference(): Seq[(String, Expected)] =
    Files.readAllLines(referenceFile).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t") match {
        case Array(n, rows, d, c) => n -> Expected(rows.toLong, d, c)
        case other => sys.error(s"bad reference line: ${other.mkString("\t")}")
      })

  /** Doubles as 10 significant digits, recursively, so that the digest
    * does not depend on floating-point summation order. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, vt, _) => array_sort(map_entries(transform_values(c, (_, v) => canon(v, vt))))
    case _ => c
  }

  /** Row count and an order-independent digest of a result, observed while
    * the `noop` write runs (one execution). */
  private def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val hash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (df.observe(obs, count(lit(1)).as("rows"), sum(hash.cast(DecimalType(38, 0))).as("digest")), obs)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `face` fully materialized; returns (rows, digest). */
  private def materialize(df: DataFrame, name: String): (Long, String) = {
    val (o, obs) = observed(df, name)
    noop(o)
    val row = Await.result(obs.future, 60.seconds)
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("null"))
  }

  private def wipeStores(): Unit = {
    val base = graft.core.Scratch.base()
    storeKinds.foreach(k => Files2.deleteRecursively(base.resolve(k)))
  }

  private def storesBytes(): Long = {
    val base = graft.core.Scratch.base()
    storeKinds.map(k => Files2.usage(base.resolve(k))._2).sum
  }

  private def setup(r: Run, dir: String): Unit = {
    wipeStores()
    // Bench's warm-up query, counted here as set-up
    graft.queries.Relational.q1PricingSummary(r.spark, dir).count()
    graft.BenchSetup.steps.foreach { case (name, fn) =>
      val t0 = Clock.nowMs
      r.spans(s"setup.$name", "operators", name)(fn(r.spark, dir))
      r.add(if (setupStepNames.contains(name)) s"setup.${name}_s" else "setup.other_s",
        (Clock.nowMs - t0) / 1000)
    }
  }

  def run(r: Run): Unit = {
    val dir = corpusDir.toAbsolutePath.toString
    val all: Map[String, Face] = graft.SparkEntry.queries
    val moduleOf = moduleFaces.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val expected = readReference()
    val order = new scala.util.Random(r.seed).shuffle(expected.map(_._1))
    val exp = expected.toMap
    setup(r, dir)
    Heap.checkpoint()
    r.storeBytes = storesBytes()
    r.inputBytes = Files2.usage(corpusDir)._2
    r.layer("stores.bytes") = r.storeBytes.toDouble
    r.layer("operators.persisted_bytes") =
      r.spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum
    r.startMeasure()
    val passed = mutable.ArrayBuffer.empty[String]
    order.zipWithIndex.foreach { case (name, i) =>
      r.attempted += 1
      all.get(name) match {
        case None => r.fail(s"face $name is not in SparkEntry.queries")
        case Some(fn) =>
          val t0 = Clock.nowMs
          val result =
            try Right(r.spans("faces.face", "queries", name) {
              val df = r.spans("faces.construct", "queries", name)(fn(r.spark, dir))
              r.spans("faces.action", "queries", name)(materialize(df, s"face-$i"))
            })
            catch { case e: Exception => Left(e) }
          val ms = Clock.nowMs - t0
          result match {
            case Left(e) => r.fail(s"face $name: ${e.getMessage}")
            case Right((rows, digest)) =>
              val e = exp(name)
              if (rows != e.rows || (e.check == "digest" && digest != e.digest))
                r.fail(s"face $name: rows $rows digest $digest, expected ${e.rows} ${e.digest}")
              else {
                r.items += 1
                r.itemsWallS += ms / 1000
                r.opLatencyMs += ms
                passed += name
                r.notes += f"face $name%-34s $ms%9.1f ms"
                r.add(s"queries.${moduleOf.getOrElse(name, "unknown")}_s", ms / 1000)
              }
          }
      }
    }
    r.endMeasure()
    Heap.checkpoint()
    r.units = 1
    if (r.traced) {
      val sp = r.spans.all
      r.layer("faces.construct_s") = sp.filter(_.name == "faces.construct").map(_.dur).sum / 1000
      r.layer("faces.action_s") = sp.filter(_.name == "faces.action").map(_.dur).sum / 1000
      Layers.compute(r, _.name == "faces.face")
      // After the timed pass, each face's result is built once more and
      // then both written by a plain noop (no digest) and counted, in
      // alternating order so neither action is always the warmer one. The
      // output projections Catalyst prunes under count() are the gap.
      def timed(f: => Unit): Double = { val t0 = Clock.nowMs; f; Clock.nowMs - t0 }
      val warm = passed.toSeq.zipWithIndex.map { case (name, i) =>
        val df = all(name)(r.spark, dir)
        val write = () => timed(noop(df))
        val count = () => timed { df.count(); () }
        name -> (if (i % 2 == 0) { val w = write(); (w, count()) }
                 else { val c = count(); (write(), c) })
      }
      r.layer("faces.count_s") = warm.map(_._2._2).sum / 1000
      r.layer("faces.pruned_gap_s") = warm.map { case (_, (w, c)) => w - c }.sum / 1000
      val gap = warm.filter { case (_, (w, c)) => w > 2 * c }.sortBy(-_._2._1)
      r.layer("faces.gap_faces") = gap.size.toDouble
      gap.foreach { case (n, (w, c)) =>
        r.notes += f"noop > 2x count(): $n%-34s noop $w%8.1f ms  count() $c%8.1f ms"
      }
    }
  }

  /** Faces per `queries/` module in the reference: every `Stride`-th by name. */
  val Stride = 8

  /** Writes the reference file: within each `queries/` module, every
    * `Stride`-th face by name (so every module is represented), with its
    * row count and digest from two runs; a face whose digest differs
    * between the runs is checked on row count only, with the evidence. */
  def record(spark: SparkSession): Unit = {
    val dir = corpusDir.toAbsolutePath.toString
    val names = moduleFaces.flatMap { case (_, qs) =>
      qs.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }
    }.sorted
    val r = new Run(spark, "faces", 0, 0, traced = false, Paths.get(".bench_build", "record"))
    setup(r, dir)
    def pass(tag: String, order: Seq[String]) = order.zipWithIndex.map { case (n, i) =>
      n -> materialize(graft.SparkEntry.queries(n)(spark, dir), s"rec-$tag-$i")
    }.toMap
    val a = pass("a", names)
    val b = pass("b", new scala.util.Random(7).shuffle(names))
    val lines = names.map { n =>
      val (ra, da) = a(n)
      val (rb, db) = b(n)
      require(ra == rb, s"face $n row count differs between runs: $ra vs $rb")
      if (da == db) s"$n\t$ra\t$da\tdigest"
      else s"# $n: digest differs between two runs ($da vs $db)\n$n\t$ra\t-\trows"
    }
    val header = Seq(
      s"# Faces of the faces workload: every ${Stride}th face by name within each queries/ module,",
      "# with row count and digest on perfbench/corpus/sf0.001.",
      "# name\trows\tdigest\tcheck")
    Files.write(referenceFile, (header ++ lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"recorded ${names.size} faces to $referenceFile")
  }
}
