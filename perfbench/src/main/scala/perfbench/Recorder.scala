package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners for traced passes. Jobs carry the query and phase that were
  * open when they started (as local properties, which streaming threads
  * inherit from the thread that started the stream); stages and tasks are
  * tied to queries through their jobs. Streaming progress and action
  * planning times arrive on the same bus and are filed under `current`,
  * the query running when they were posted; the harness drains the bus
  * after every traced query, so none is filed under the next one.
  *
  * Everything is kept in memory and handed over once, by [[dump]]. */
class Recorder extends SparkListener {
  @volatile var current: String = ""

  private val jobs = new ConcurrentHashMap[Int, JMap[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), JMap[String, Any]]()
  private val progress = new JList[Any]()
  private val planned = new JList[Any]()

  private def stage(id: Int, attempt: Int): JMap[String, Any] =
    stages.computeIfAbsent((id, attempt), _ => {
      val m = new JMap[String, Any]()
      m.put("stage", id); m.put("attempt", attempt)
      m.put("job", stageJob.getOrDefault(id, -1))
      Recorder.TaskFields.foreach(m.put(_, 0L))
      m
    })

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val m = new JMap[String, Any]()
    m.put("job", e.jobId); m.put("start_ms", e.time)
    m.put("tag", p.map(_.getProperty(Recorder.QueryKey)).orNull)
    m.put("phase", p.map(_.getProperty(Recorder.PhaseKey)).orNull)
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobs.put(e.jobId, m)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { m =>
      m.put("end_ms", e.time)
      m.put("ok", e.jobResult == JobSucceeded)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = stage(i.stageId, i.attemptNumber())
    i.submissionTime.foreach(m.put("start_ms", _))
    i.completionTime.foreach(m.put("end_ms", _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = stage(e.stageId, e.stageAttemptId)
    def add(k: String, v: Long): Unit = m.put(k, m.get(k).asInstanceOf[Long] + v)
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    Option(e.taskMetrics).foreach { t =>
      add("run_ms", t.executorRunTime)
      add("cpu_ns", t.executorCpuTime)
      add("gc_ms", t.jvmGCTime)
      add("input_bytes", t.inputMetrics.bytesRead)
      add("input_rows", t.inputMetrics.recordsRead)
      add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", t.diskBytesSpilled)
      add("output_bytes", t.outputMetrics.bytesWritten)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val m = new JMap[String, Any]()
      m.put("tag", current); m.put("run_id", p.runId.toString); m.put("batch", p.batchId)
      m.put("start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli)
      m.put("input_rows", p.numInputRows)
      p.durationMs.asScala.foreach { case (k, v) => m.put(s"$k", v.longValue) }
      m.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      m.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      m.put("state_bytes", p.stateOperators.map(_.memoryUsedBytes).sum)
      progress.synchronized(progress.add(m))
    }
  }

  val actions: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val m = new JMap[String, Any](Recorder.phaseMs(qe).asJava)
      m.put("tag", current)
      planned.synchronized(planned.add(m))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def dump(out: JMap[String, Any]): Unit = {
    out.put("jobs", new JList[Any](jobs.values()))
    out.put("stages", new JList[Any](stages.values()))
    out.put("stream_progress", progress)
    out.put("actions", planned)
  }
}

object Recorder {
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"
  val TaskFields: Seq[String] = Seq("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms",
    "input_bytes", "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes")

  /** Catalyst phase durations of one QueryExecution, in ms. */
  def phaseMs(qe: QueryExecution): Map[String, Any] =
    qe.tracker.phases.collect { case (k, v) if k != "parsing" => s"${k}_ms" -> v.durationMs }
}
