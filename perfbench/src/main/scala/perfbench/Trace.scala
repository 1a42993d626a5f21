package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so that
  * benchmark spans and Spark listener times (epoch ms) share one axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `parent` is 0 for a root; `op` identifies the page,
  * load or face it belongs to. */
final case class Span(id: Int, parent: Int, name: String, layer: String, op: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans around the benchmark's calls into the program, kept in memory.
  * The benchmark calls the program from one thread, so nesting follows a
  * stack. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def apply[T](name: String, layer: String, op: String = "")(body: => T): T = {
    val id = all.size + 1
    val parent = stack.headOption.getOrElse(0)
    val t0 = Clock.nowMs
    stack ::= id
    all += Span(id, parent, name, layer, op, t0, t0) // placeholder keeps ids dense
    try body
    finally {
      stack = stack.tail
      all(id - 1) = all(id - 1).copy(end = Clock.nowMs)
    }
  }

  /** Record an interval timed elsewhere; returns its id. */
  def add(name: String, layer: String, op: String, start: Double, end: Double,
      parent: Int = -1): Int = {
    val id = all.size + 1
    all += Span(id, if (parent >= 0) parent else stack.headOption.getOrElse(0),
      name, layer, op, start, end)
    id
  }
}

/** Per-task numbers the layer metrics need, from `SparkListenerTaskEnd`. */
final case class TaskRec(stage: Int, launch: Long, runMs: Long,
    recordsIn: Long, shuffleRecordsIn: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)

final case class JobRec(id: Int, start: Long, end: Long, execId: Long, stages: Seq[Int])

/** Spark's public listeners, recorded for the traced run: jobs, stages,
  * tasks and SQL executions (SparkListener), query phases
  * (QueryExecutionListener) and codegen compile times (the
  * `CodeGenerator` INFO log line, captured by a log4j appender). */
final class SparkTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val sqlStarts = new ConcurrentLinkedQueue[Long]()
  /** (time, analysis ms, optimization ms, planning ms) per finished query. */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStarts.put(e.jobId, (e.time, exec, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, exec, stages) =>
      jobs.add(JobRec(e.jobId, t0, e.time, exec, stages))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stageSubmit.put(s.stageId, s.submissionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts.add(s.time)
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    phases.add((System.currentTimeMillis(), ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    CodegenLog.install()
  }

  /** Wait until every started job has ended and events stop arriving. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = jobs.size.toLong * 31 + tasks.size + phases.size * 7L + sqlStarts.size * 13L
      if (n == last && jobStarts.isEmpty) stable += 1 else stable = 0
      last = n
    }
  }
}

/** Captures the CodeGenerator's "Code generated in N ms" log events. */
object CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  /** (epoch ms, compile ms) */
  val compiles = new ConcurrentLinkedQueue[(Long, Double)]()
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

  /** Routes the CodeGenerator logger's INFO events to the capture only. */
  def install(): Unit = {
    val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case pattern(ms) => compiles.add((e.getTimeMillis, ms.toDouble))
          case _ => ()
        }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }
}

/** Live heap: heap in use after a full collection, read from the GC
  * MXBeans. Full collections are forced at fixed checkpoints between timed
  * operations, where the live set does not depend on the operation order. */
object Heap {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** Force a full collection and keep the live heap it leaves. A second
    * collection follows a short pause, so that memory Spark's ContextCleaner
    * releases after the first one is not counted as live. A young collection
    * that ends after the full one leaves more in use, so the smallest
    * after-collection heap since the checkpoint began is the live heap. */
  def checkpoint(): Unit = {
    val since = ManagementFactory.getRuntimeMXBean.getUptime
    System.gc()
    Thread.sleep(200)
    System.gc()
    val after = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean
          if b.getLastGcInfo != null && b.getLastGcInfo.getEndTime >= since =>
        b.getLastGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
    }
    if (after.nonEmpty) synchronized { peak = math.max(peak, after.min) }
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
}

/** Interval arithmetic for self-time accounting. */
object Intervals {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
