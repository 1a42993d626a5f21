package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the untraced end-to-end
  * measurements, and (when traced) the spans and listener records the
  * per-layer metrics are computed from. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val workDir: Path) {

  val spans = new Spans
  val sparkTrace: Option[SparkTrace] = if (traced) Some(new SparkTrace(spark)) else None
  sparkTrace.foreach(_.install())

  var attempted = 0L
  var failed = 0L
  val opLatencyMs = mutable.ArrayBuffer.empty[Double]
  /** Work items completed (shifts or faces) and the wall seconds they took. */
  var items = 0L
  var itemsWallS = 0.0
  var storeBytes = 0L
  var inputBytes = 0L
  var units = 0
  /** Per-layer numbers a workload measures itself (traced run). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]

  private var measureStartMs = 0.0
  private var measureEndMs = 0.0
  private var gcAtStart = 0.0
  var setupS = 0.0

  def add(metric: String, v: Double): Unit = layer(metric) = layer.getOrElse(metric, 0.0) + v

  /** Turns the per-layer totals a workload added into per-unit values. */
  def perUnit(): Unit = layer.keys.toSeq.foreach(k => layer(k) = layer(k) / math.max(1, units))

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Marks the first timed operation: everything before it is set-up. */
  def startMeasure(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    measureStartMs = Clock.nowMs
    setupS = (measureStartMs - jvmStart) / 1000.0
    gcAtStart = Heap.gcSeconds
  }

  def endMeasure(): Unit = {
    measureEndMs = Clock.nowMs
    layer("spark.gc_s") = Heap.gcSeconds - gcAtStart
  }

  def elapsedS: Double = (Clock.nowMs - measureStartMs) / 1000.0
  def window: (Double, Double) = (measureStartMs, measureEndMs)

  def newDir(name: String): Path = {
    val d = workDir.resolve(name)
    Files.createDirectories(d)
    d
  }
}

object Files2 {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** (file count, bytes) under a directory, optionally only matching names. */
  def usage(p: Path, nameFilter: String => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && nameFilter(f.getFileName.toString)).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value), or None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) None
    else {
      val idx = n - 11 // ten samples lie strictly above s(idx)
      Some((100.0 * (idx + 1) / n, s(idx)))
    }
  }
}
