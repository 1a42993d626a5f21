package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.file.{FileSystems, Files, Path, StandardWatchEventKinds}
import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.etl.{EtlServer, PageSource, ShiftWarehouse, ShiftsEtl}

/** Records when each commit marker appears in a warehouse's `_commits`
  * directory (a filesystem watch: the program is not instrumented). */
final class MarkerWatch(dir: Path) extends AutoCloseable {
  Files.createDirectories(dir)
  private val ws = FileSystems.getDefault.newWatchService()
  dir.register(ws, StandardWatchEventKinds.ENTRY_CREATE)
  val seen = new ConcurrentHashMap[String, Double]()
  private val thread = new Thread(() => {
    try {
      while (true) {
        val key = ws.take()
        val t = Clock.nowMs
        key.pollEvents().asScala.foreach(e => seen.putIfAbsent(e.context().toString, t))
        key.reset()
      }
    } catch { case _: InterruptedException | _: java.nio.file.ClosedWatchServiceException => () }
  }, "perfbench-marker-watch")
  thread.setDaemon(true)
  thread.start()

  /** Time the marker whose name ends with `suffix` appeared; falls back to
    * its modification time if the watch missed it. */
  def at(suffix: String): Option[Double] =
    seen.asScala.collectFirst { case (n, t) if n.endsWith(suffix) => t }.orElse {
      val s = Files.list(dir)
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(suffix))
        .map(p => Files.getLastModifiedTime(p).toMillis.toDouble)
      finally s.close()
    }

  override def close(): Unit = { ws.close(); thread.interrupt(); thread.join(5000) }
}

/** Correctness of a committed warehouse against the generated corpus. */
object EtlCheck {
  def ids(df: DataFrame, col: String): Set[String] =
    df.select(col).collect().map(_.getString(0)).toSet

  /** Pages (of `pageSize` shifts) whose rows are missing, whether the
    * tables hold exactly the corpus (counts, no extra keys), and whether the
    * KPI rows are exact. */
  final case class Verdict(badPages: Set[Int], tablesExact: Boolean, kpisExact: Boolean) {
    def ok: Boolean = badPages.isEmpty && tablesExact && kpisExact
  }

  def check(wh: ShiftWarehouse, corpus: IndexedSeq[Shifts.Shift], pageSize: Int,
      asOf: LocalDate): Verdict = {
    val shiftIds = ids(wh.shifts, "shift_id")
    val breakIds = ids(wh.breaks, "break_id")
    val allowIds = ids(wh.allowances, "allowance_id")
    val awardIds = ids(wh.awardInterpretations, "award_id")
    val counts = Seq(wh.shifts.count(), wh.breaks.count(), wh.allowances.count(),
      wh.awardInterpretations.count())
    val expected = Seq(corpus.size.toLong, corpus.map(_.breaks.size).sum.toLong,
      corpus.map(_.allowances.size).sum.toLong, corpus.map(_.awards.size).sum.toLong)
    val allIds = corpus.flatMap(s => s.id +: (s.breaks.map(_.id) ++ s.allowances.map(_.id) ++
      s.awards.map(_.id))).toSet
    val extra = (shiftIds ++ breakIds ++ allowIds ++ awardIds) -- allIds
    val badPages = corpus.grouped(pageSize).zipWithIndex.collect {
      case (page, i) if page.exists(s => !shiftIds(s.id) ||
        s.breaks.exists(b => !breakIds(b.id)) || s.allowances.exists(a => !allowIds(a.id)) ||
        s.awards.exists(w => !awardIds(w.id))) => i
    }.toSet
    val kpis = wh.kpis.collect().map(r => r.getString(0) ->
      Option(r.getDecimal(2)).map(BigDecimal(_))).toMap
    val ref = Shifts.referenceKpis(corpus, asOf)
    val kpiOk = kpis.size == ref.size &&
      ref.forall { case (k, v) => kpis.get(k).exists(Shifts.matches(_, v)) }
    if (!kpiOk) System.err.println(s"[perfbench] KPI mismatch: committed $kpis, exact $ref")
    if (badPages.nonEmpty) System.err.println(s"[perfbench] pages not committed: $badPages")
    Verdict(badPages, extra.isEmpty && counts == expected, kpiOk)
  }

  /** The golden 2-shift fixture through the library path, once per run. */
  def golden(run: Run): Boolean = {
    val spark = run.spark
    val wh = new ShiftWarehouse(spark, run.newDir("golden").toString)
    ShiftsEtl.run(Iterator(PageSource.parsePage(spark, Shifts.goldenPage)), wh,
      Shifts.goldenAsOf, "golden")
    val got = wh.kpis.collect().map(r => r.getString(0) -> BigDecimal(r.getDecimal(2))).toMap
    val ok = got == Shifts.goldenKpis
    if (!ok) System.err.println(s"[perfbench] golden KPI fixture mismatch: $got")
    ok
  }

  def post(url: String): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setConnectTimeout(10000)
    c.setReadTimeout(170000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    try (code, new String(in.readAllBytes(), "UTF-8")) finally c.disconnect()
  }

  /** Rows a corpus commits: four tables plus the six KPI rows. */
  def rows(corpus: Seq[Shifts.Shift]): Long =
    corpus.size + corpus.map(s => s.breaks.size + s.allowances.size + s.awards.size).sum + 6L

  /** Parquet files and all bytes a warehouse holds on disk. */
  def storeUsage(dir: Path): (Long, Long) = {
    val (_, bytes) = Files2.usage(dir)
    val (files, _) = Files2.usage(dir, _.endsWith(".parquet"))
    (files, bytes)
  }
}

/** `etl_paged`: the reference's own path. The benchmark serves the corpus
  * from its page API and calls `POST /run-etl?batch_size=7` on a new
  * [[EtlServer]] over a fresh warehouse: one atomic commit per 7-shift
  * page, then the KPIs. Requests repeat until `--seconds` have passed. */
object EtlPaged {
  val PageSize = 7
  val Pages = 8
  val FirstDay: LocalDate = LocalDate.parse("2024-01-01")

  def run(r: Run): Unit = {
    val corpus = Shifts.generate(r.seed, FirstDay, Pages * PageSize)
    val asOf = FirstDay.plusDays(corpus.size.toLong)
    val api = new PageApi(corpus)
    try {
      if (!EtlCheck.golden(r)) r.fail("golden KPI fixture")
      r.attempted += 1
      // warm-up: one untimed 2-page request over another corpus, so the
      // timed pages do not run while the JIT is still compiling this path
      val warmCorpus = Shifts.generate(r.seed + 1, FirstDay, 2 * PageSize)
      val warm = new PageApi(warmCorpus)
      try request(r, warm.url, r.newDir("warm-up"), asOf, warmCorpus, timed = false)
      finally warm.close()
      Heap.checkpoint()
      r.startMeasure()
      while (r.units == 0 || r.elapsedS < r.seconds) {
        val served0 = api.bytesServed.get
        val wh = r.newDir(s"wh-${r.units}")
        request(r, api.url, wh, asOf, corpus, timed = true)
        val (files, bytes) = EtlCheck.storeUsage(wh)
        r.inputBytes += api.bytesServed.get - served0
        r.storeBytes += bytes
        r.add("etl.files_written", files.toDouble)
        r.add("etl.bytes_written", bytes.toDouble)
        r.units += 1
        Heap.checkpoint()
      }
      r.endMeasure()
      r.add("sources.input_bytes", r.inputBytes.toDouble)
      r.add("sources.pages", Pages * r.units)
      if (r.traced) {
        r.perUnit()
        Layers.compute(r, _.name == "etl.page")
      }
    } finally api.close()
  }

  /** One `POST /run-etl` over a fresh warehouse. A timed request records
    * the page latencies, checks the committed tables and KPIs, and (traced)
    * adds its spans and per-layer numbers. */
  private def request(r: Run, apiUrl: String, whDir: Path, asOf: LocalDate,
      corpus: IndexedSeq[Shifts.Shift], timed: Boolean): Unit = {
    val spark = r.spark
    val wh = new ShiftWarehouse(spark, whDir.toString)
    val watch = new MarkerWatch(whDir.resolve("_commits"))
    val fetches = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    val inner = PageSource.httpFetcher(spark)
    val fetch: String => (DataFrame, Option[String]) = url => {
      val t0 = Clock.nowMs
      try inner(url) finally fetches.add((t0, Clock.nowMs))
    }
    val server = new EtlServer(spark, wh, apiUrl, () => asOf, fetch)
    val port = server.start(port = 0)
    val t0 = Clock.nowMs
    val (code, body) =
      try EtlCheck.post(s"http://127.0.0.1:$port/run-etl?batch_size=$PageSize")
      finally server.stop()
    val t1 = Clock.nowMs
    watch.close()
    if (!timed) {
      if (code != 200) r.fail(s"warm-up POST /run-etl returned $code: $body")
      return
    }
    val pages = corpus.size / PageSize
    r.attempted += pages + 1
    if (code != 200) {
      r.failed += pages
      r.fail(s"POST /run-etl returned $code: $body")
      return
    }
    // page i runs from its fetch call to the next one; the last page ends
    // when its commit marker appears, where the KPI pass starts
    val f = fetches.asScala.toIndexedSeq.sortBy(_._1)
    val kpiStart = watch.at(f"-p${pages - 1}%05d").getOrElse(t1)
    val ends = f.indices.map(i => if (i + 1 < f.size) f(i + 1)._1 else kpiStart)
    f.indices.foreach(i => r.opLatencyMs += ends(i) - f(i)._1)
    val v = EtlCheck.check(wh, corpus, PageSize, asOf)
    r.failed += v.badPages.size
    if (!v.tablesExact || !v.kpisExact) r.fail("request check (row counts, keys or KPIs)")
    if (v.ok) { r.items += corpus.size; r.itemsWallS += (t1 - t0) / 1000.0 }
    if (r.traced) {
      r.sparkTrace.get.drain()
      val sp = r.spans
      val req = sp.add("etl.request", "etl", s"unit-${r.units}", t0, t1, parent = 0)
      f.indices.foreach { i =>
        val op = s"unit-${r.units}/page-$i"
        val page = sp.add("etl.page", "etl", op, f(i)._1, ends(i), parent = req)
        sp.add("sources.fetch", "sources", op, f(i)._1, f(i)._2, parent = page)
        r.add("etl.page_s", (ends(i) - f(i)._1) / 1000)
        r.add("sources.fetch_s", (f(i)._2 - f(i)._1) / 1000)
        val (w, o) = Layers.writeAndOtherJobs(r, f(i)._2, ends(i))
        r.add("etl.write_jobs", w)
        r.add("etl.validate_jobs", o)
        watch.at(f"-p$i%05d").foreach { marker =>
          val lastJob = Layers.lastJobEnd(r, f(i)._2, marker)
          sp.add("core.publish", "core", op, lastJob, marker, parent = page)
          r.add("core.publish_s", (marker - lastJob) / 1000)
        }
      }
      sp.add("etl.kpis", "etl", s"unit-${r.units}/kpis", kpiStart, t1, parent = req)
      r.add("etl.kpi_s", (t1 - kpiStart) / 1000)
      r.add("etl.read_amp", Layers.recordsRead(r, t0, t1).toDouble / EtlCheck.rows(corpus))
    }
  }
}
