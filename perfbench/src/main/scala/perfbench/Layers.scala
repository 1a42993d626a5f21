package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the benchmark's spans and the
  * Spark listener records. Times are seconds, totals over the measured
  * section divided by the number of measured units (one ETL request or
  * one pass over the faces). */
object Layers {

  /** Every per-layer metric the traced run reports, in print order. The
    * workload-specific ones are filled by the workloads; a metric a
    * workload does not exercise reads 0. */
  val names: Seq[String] = Seq(
    "self.etl_s", "self.sources_s", "self.core_s", "self.queries_s", "self.operators_s",
    "self.spark_s",
    "etl.page_s", "etl.kpi_s", "etl.write_jobs", "etl.validate_jobs", "etl.read_amp",
    "etl.files_written", "etl.bytes_written",
    "core.publish_s",
    "sources.fetch_s", "sources.input_bytes", "sources.pages",
    "spark.jobs", "spark.job_s", "spark.tasks", "spark.task_run_s", "spark.task_wait_s",
    "spark.empty_task_frac", "spark.sql_executions", "spark.analysis_s",
    "spark.optimization_s", "spark.planning_s", "spark.codegen_s", "spark.codegen_n",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.gc_s", "driver.self_s",
    "faces.construct_s", "faces.action_s", "faces.count_s", "faces.pruned_gap_s",
    "faces.gap_faces",
    "operators.persisted_bytes", "stores.bytes", "setup.other_s") ++
    Faces.modules.map(m => s"queries.${m}_s") ++
    Faces.setupStepNames.map(s => s"setup.${s}_s")

  /** Layer of each span name prefix, for the self-time table. */
  private val selfLayers = Seq("etl", "sources", "core", "queries", "operators")

  /** Fills the generic metrics into `run.layer`; `opSpan` selects the
    * spans that are one operation each (pages or faces). */
  def compute(run: Run, opSpan: Span => Boolean): Unit = {
    val tr = run.sparkTrace.get
    tr.drain()
    val (m0, m1) = run.window
    val per = math.max(1, run.units).toDouble
    val jobs = tr.jobs.asScala.toSeq.filter(j => j.start >= m0 && j.start <= m1)
    val stagesIn = jobs.flatMap(_.stages).toSet
    val tasks = tr.tasks.asScala.toSeq.filter(t => stagesIn(t.stage))
    val L = run.layer
    def put(k: String, v: Double): Unit = L(k) = v / per

    put("spark.jobs", jobs.size)
    put("spark.job_s", jobs.map(j => (j.end - j.start) / 1000.0).sum)
    put("spark.tasks", tasks.size)
    put("spark.task_run_s", tasks.map(_.runMs / 1000.0).sum)
    put("spark.task_wait_s", tasks.map { t =>
      Option(tr.stageSubmit.get(t.stage)).map(s => math.max(0L, t.launch - s) / 1000.0).getOrElse(0.0)
    }.sum)
    L("spark.empty_task_frac") =
      if (tasks.isEmpty) 0.0
      else tasks.count(t => t.recordsIn + t.shuffleRecordsIn == 0).toDouble / tasks.size
    put("spark.shuffle_read_bytes", tasks.map(_.shuffleReadBytes.toDouble).sum)
    put("spark.shuffle_write_bytes", tasks.map(_.shuffleWriteBytes.toDouble).sum)
    put("spark.spill_bytes", tasks.map(_.spillBytes.toDouble).sum)
    put("spark.sql_executions", tr.sqlStarts.asScala.count(t => t >= m0 && t <= m1))
    val ph = tr.phases.asScala.toSeq.filter(p => p._1 >= m0 && p._1 <= m1 + 2000)
    put("spark.analysis_s", ph.map(_._2).sum / 1000.0)
    put("spark.optimization_s", ph.map(_._3).sum / 1000.0)
    put("spark.planning_s", ph.map(_._4).sum / 1000.0)
    val cg = CodegenLog.compiles.asScala.toSeq.filter(c => c._1 >= m0 && c._1 <= m1)
    put("spark.codegen_s", cg.map(_._2).sum / 1000.0)
    put("spark.codegen_n", cg.size)

    // self time: a span's duration minus the union of its children, where
    // a job is the child of the innermost span that contains its start
    val spans = run.spans.all.toSeq
    // self time covers set-up spans too, so it uses every job of the run
    val allJobIv = tr.jobs.asScala.toSeq.map(j => (j.start.toDouble, j.end.toDouble))
    val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val jobOwner: Map[Int, Seq[(Double, Double)]] = allJobIv.flatMap { case iv @ (a, _) =>
      innermost(spans, a).map(_.id -> iv)
    }.groupMap(_._1)(_._2)
    val kids = spans.groupMap(_.parent)(s => (s.start, s.end))
    val selfBy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var sparkCovered = 0.0
    spans.foreach { s =>
      val js = jobOwner.getOrElse(s.id, Nil)
      val cov = Intervals.covered(kids.getOrElse(s.id, Nil) ++ js, s.start, s.end)
      sparkCovered += Intervals.covered(js, s.start, s.end)
      selfBy(s.layer) += (s.dur - cov) / 1000.0
    }
    selfLayers.foreach(l => put(s"self.${l}_s", selfBy(l)))
    put("self.spark_s", sparkCovered / 1000.0)
    put("driver.self_s", spans.filter(opSpan).map { s =>
      s.dur - Intervals.covered(jobIv, s.start, s.end)
    }.sum / 1000.0)
    names.foreach(n => if (!L.contains(n)) L(n) = 0.0)
  }

  /** The innermost span open at time `t` (the latest-starting one, as
    * spans that contain a common instant are nested). */
  def innermost(spans: Seq[Span], t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(_.start)

  /** Jobs whose tasks wrote output, and the others, inside [a, b]. */
  def writeAndOtherJobs(run: Run, a: Double, b: Double): (Int, Int) = {
    val tr = run.sparkTrace.get
    val writing = tr.tasks.asScala.filter(_.outputBytes > 0).map(_.stage).toSet
    val js = tr.jobs.asScala.toSeq.filter(j => j.start >= a && j.start <= b)
    val w = js.count(_.stages.exists(writing))
    (w, js.size - w)
  }

  /** Input records read by tasks of jobs started inside [a, b]. */
  def recordsRead(run: Run, a: Double, b: Double): Long = {
    val tr = run.sparkTrace.get
    val stages = tr.jobs.asScala.filter(j => j.start >= a && j.start <= b).flatMap(_.stages).toSet
    tr.tasks.asScala.filter(t => stages(t.stage)).map(_.recordsIn).sum
  }

  /** End of the last job that ended inside [a, b], or a. */
  def lastJobEnd(run: Run, a: Double, b: Double): Double = {
    val ends = run.sparkTrace.get.jobs.asScala.map(_.end.toDouble).filter(e => e >= a && e <= b)
    if (ends.isEmpty) a else ends.max
  }
}
