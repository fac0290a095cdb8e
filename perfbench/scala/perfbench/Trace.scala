package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch microseconds; `parent` is the
  * id of the span that caused this one (-1 for an op), `op` the index of
  * the op it belongs to (-1 for set-up work).
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    op: Int, startUs: Long, endUs: Long)

/** The benchmark's view of the program from outside: a Spark listener
  * and a streaming listener, registered only for traced runs. It counts
  * jobs, stages, tasks and their metrics, attributes each job to a layer
  * from its call-site stack, and records job and stage spans under the
  * harness span that was current when the job was submitted (carried in
  * the `perfbench.span` / `perfbench.op` / `perfbench.module` local
  * properties).
  */
final class Trace extends SparkListener {
  private val epochBaseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = epochBaseUs + System.nanoTime() / 1000L

  private var nextId = 0L
  def newId(): Long = synchronized { nextId += 1; nextId }
  val spans = mutable.ArrayBuffer[Span]()
  def add(s: Span): Unit = synchronized { spans += s }

  // counters ---------------------------------------------------------
  val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def bump(k: String, v: Double): Unit = counts(k) = counts(k) + v
  val pinnedRdds = mutable.Set[Int]()
  val batchSeconds = mutable.ArrayBuffer[Double]()
  val stateRows = mutable.Map[String, Long]()

  private final case class Job(spanId: Long, parent: Long, op: Int, startMs: Long,
      module: String, category: String, sink: String)
  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val executionSites = mutable.Map[Long, Seq[String]]()

  /** Forgets the set-up's counts, so counters cover the timed pass only. */
  def reset(): Unit = synchronized {
    counts.clear(); pinnedRdds.clear(); batchSeconds.clear(); stateRows.clear()
  }

  private def frames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split('\n')).map(_.trim)

  // AQE submits query-stage jobs from a pool thread whose stack holds no
  // caller frames; the SQL execution they belong to carries the caller's.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionSites(x.executionId) = frames(x.details)
    }
    case _ =>
  }

  /** Layer that submitted a job: the first `graft.*` frame of its call
    * site, else the module of the registered query the op runs.
    */
  private def classify(frames: Seq[String], module: String): (String, String, String) = {
    val owner = frames.collectFirst {
      case f if f.startsWith("graft.") => f.split('.')(1).takeWhile(_ != '$')
    }.filter(_.nonEmpty).getOrElse(module.takeWhile(_ != '.'))
    val category =
      if (frames.exists(_.contains("graft.engine.Sources$"))) "csv_edge"
      else if (frames.exists(_.contains("graft.flights.Pipeline$.transform"))) "transform"
      else if (frames.exists(_.contains("graft.flights.Pipeline$"))) "load"
      else ""
    val sink =
      if (frames.exists(_.contains("graft.engine.Sources$.writeCsv"))) "csv"
      else if (frames.exists(_.contains("graft.engine.Sinks$"))) "sinks"
      else ""
    (owner, category, sink)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => executionSites.get(id.toLong))
      .getOrElse(frames(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull))
    val (owner, category, sink) = classify(site, prop("perfbench.module").getOrElse("bench"))
    jobs(e.jobId) = Job(newId(), prop("perfbench.span").map(_.toLong).getOrElse(-1L),
      prop("perfbench.op").map(_.toInt).getOrElse(-1), e.time, owner, category, sink)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    bump("spark.jobs", 1)
    jobs.get(e.jobId).foreach { j =>
      val secs = (e.time - j.startMs) / 1000.0
      if (j.category.nonEmpty) bump(s"cat.${j.category}_s", secs)
      add(Span(j.spanId, j.parent, "job", s"job ${e.jobId} ${j.module}", j.op,
        j.startMs * 1000L, e.time * 1000L))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageSubmitMs(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    info.rddInfos.filter(r => r.storageLevel.useMemory || r.storageLevel.useDisk)
      .foreach(r => pinnedRdds += r.id)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    bump("spark.stages", 1)
    val info = e.stageInfo
    val start = info.submissionTime.getOrElse(0L)
    val end = info.completionTime.getOrElse(start)
    if (info.numTasks == 1) bump("spark.serial_stage_s", (end - start) / 1000.0)
    val job = stageJob.get(info.stageId).flatMap(jobs.get)
    add(Span(newId(), job.map(_.spanId).getOrElse(-1L), "stage",
      s"stage ${info.stageId} (${info.numTasks} tasks)", job.map(_.op).getOrElse(-1),
      start * 1000L, end * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    bump("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val runS = m.executorRunTime / 1000.0
      bump("spark.task_run_s", runS)
      bump("spark.task_cpu_s", m.executorCpuTime / 1e9)
      bump("spark.gc_s", m.jvmGCTime / 1000.0)
      bump("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      bump("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      bump("spark.spill_mb", (m.diskBytesSpilled + m.memoryBytesSpilled) / 1048576.0)
      bump("spark.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      job.foreach { j =>
        bump(s"${j.module}.task_s", runS)
        val out = m.outputMetrics.bytesWritten / 1048576.0
        if (j.sink.nonEmpty) bump(s"out.${j.sink}_mb", out)
      }
    }
    stageSubmitMs.get(e.stageId).foreach { s =>
      bump("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1000.0)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        batchSeconds += p.batchDuration / 1000.0
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        val k = p.runId.toString
        stateRows(k) = math.max(stateRows.getOrElse(k, 0L), rows)
      }
  }
}
