package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM:
  * `--workload <etl_paged|faces> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints a human-readable report, then, as the last line, the result JSON
  * with the end-to-end metrics (untraced) or the per-layer metrics
  * (traced). `--record-faces` rewrites the faces reference. */
object Main {

  val Workloads: Map[String, Run => Unit] = Map(
    "etl_paged" -> EtlPaged.run, "faces" -> Faces.run)

  def session(cores: Int, workDir: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val code =
      if (args.contains("--record-faces")) {
        val spark = session(cores, Paths.get(".bench_build", "record"))
        try { Faces.record(spark); 0 } finally spark.stop()
      } else
        runOnce(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap, cores)
    sys.exit(code)
  }

  private def runOnce(opts: Map[String, String], cores: Int): Int = {
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.keys.mkString(", ")}")
      return 2
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "15").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val workDir = Paths.get(".bench_build", "run", workload)
    Files2.deleteRecursively(workDir)
    Files.createDirectories(workDir)
    val spark = session(cores, workDir)
    val run = new Run(spark, workload, seed, seconds, traced, workDir)
    try body(run)
    catch { case e: Exception =>
      e.printStackTrace()
      run.fail(s"run aborted: $e")
    }
    val maxHeapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    println(s"""[perfbench] stamp {"workload": "$workload", "seed": $seed, "nproc": $cores, """ +
      s""""master": "${spark.sparkContext.master}", "spark": "${spark.version}", """ +
      s""""max_heap_mb": $maxHeapMb, "units": ${run.units}, "traced": $traced}""")
    spark.stop()

    val lat = run.opLatencyMs.toSeq
    val tail = Stats.tail(lat)
    println(f"[perfbench] ops ${lat.size} p50 ${Stats.median(lat)}%.1f ms" + tail.fold(
      " (fewer than 11 ops: no tail)") { case (p, v) => f", tail p$p%.0f $v%.1f ms" })
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", run.setupS, "s"),
      ("op_p50_ms", Stats.median(lat), "ms"),
      ("items_per_s", if (run.itemsWallS > 0) run.items / run.itemsWallS else 0.0, "1/s"),
      ("store_bytes_ratio",
        if (run.inputBytes > 0) run.storeBytes.toDouble / run.inputBytes else 0.0, "ratio"),
      ("live_heap_peak_mb", Heap.peakMb, "MB"))
    e2e.foreach { case (n, v, u) => println(s"[perfbench] e2e $n $v $u") }
    val metrics =
      if (!traced) e2e
      else Layers.names.map(n => (n, run.layer.getOrElse(n, 0.0), unitOf(n)))
    if (traced) metrics.foreach { case (n, v, u) => println(f"[perfbench] layer $n%-34s $v%16.4f $u") }
    run.notes.foreach(n => println(s"[perfbench] $n"))
    if (traced) writeTrace(run)

    val correct = run.failed == 0
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, run.attempted)}, """ +
      s""""failed": ${run.failed}, "metrics": {$ms}}""")
    0
  }

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.contains("bytes")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("read_amp")) "ratio"
    else "count"

  /** Spans and job records as JSON lines under `.bench_build/traces/`. */
  private def writeTrace(run: Run): Unit = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(".bench_build", "traces")
    Files.createDirectories(dir)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = run.spans.all.map(s =>
      s"""{"span": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "layer": ${q(s.layer)}, """ +
        s""""op": ${q(s.op)}, "start_ms": ${s.start}, "end_ms": ${s.end}}""")
    val all = run.spans.all.toSeq
    val jobs = run.sparkTrace.toSeq.flatMap(_.jobs.asScala).map { j =>
      val parent = Layers.innermost(all, j.start.toDouble)
      s"""{"job": ${j.id}, "parent": ${parent.fold(0)(_.id)}, "op": ${q(parent.fold("")(_.op))}, """ +
        s""""layer": "spark", "execution": ${j.execId}, "start_ms": ${j.start}, """ +
        s""""end_ms": ${j.end}, "stages": [${j.stages.mkString(", ")}]}"""
    }
    val f = dir.resolve(s"${run.workload}-seed${run.seed}.jsonl")
    Files.write(f, (spans ++ jobs).mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"[perfbench] trace: ${spans.size} spans, ${jobs.size} jobs -> $f")
  }
}
