package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports through its public listener APIs, raw,
  * for `perfbench/stats.py` to attribute and aggregate:
  *
  *  - jobs (start, end, job tags) and stages (submit, complete), with
  *    task metrics summed per stage;
  *  - each action's planning phases from its `QueryPlanningTracker`
  *    (a QueryExecutionListener on the root session; stats.py places
  *    them by time, as they carry no job tags);
  *  - streaming queries (run id -> job tags) and every progress report.
  *
  * Streaming progress is read off the SparkContext's bus, not
  * `spark.streams`: the twins run in sessions of their own whose query
  * managers a listener on the root session never hears from.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var jvm: Map[String, Double] = Map.empty

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(Map("func" -> funcName) ++
        qe.tracker.phases.map { case (phase, p) =>
          phase -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
        })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Starts hearing; the passes before this call run without the
    * listeners. */
  def listen(): Unit = {
    spark.listenerManager.register(planListener)
    spark.sparkContext.addSparkListener(this)
  }

  @volatile private var drained = false
  private val DrainTag = "perfbench-drain"

  /** Stops hearing, once every event posted so far has reached this
    * listener: the bus delivers in order, so the end of one marker job
    * comes after everything before it. */
  def stopListening(): Unit = {
    val sc = spark.sparkContext
    sc.addJobTag(DrainTag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(DrainTag)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }

  private def tags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, Map("job" -> e.jobId, "start_ms" -> e.time,
      "tags" -> tags(e.properties), "stages" -> e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { s =>
      if (s("tags").asInstanceOf[Seq[String]].contains(DrainTag)) drained = true
      jobs.add(s ++ Map("end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  /** Per-stage sums, in this order. */
  private val taskFields = Seq("tasks", "task_failures", "run_ms", "cpu_ns", "gc_ms",
    "deser_ms", "sched_wait_ms", "result_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "input_bytes",
    "input_records", "output_bytes")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
    val row: Array[Double] =
      if (m == null) Array(1.0, 1.0) ++ Array.fill(taskFields.length - 2)(0.0)
      else Array(1.0, if (e.reason == Success) 0.0 else 1.0,
        m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
        m.executorDeserializeTime.toDouble, (e.taskInfo.launchTime - submit).toDouble,
        m.resultSize.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
        m.shuffleReadMetrics.totalBytesRead.toDouble, m.shuffleReadMetrics.fetchWaitTime.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, m.inputMetrics.bytesRead.toDouble,
        m.inputMetrics.recordsRead.toDouble, m.outputMetrics.bytesWritten.toDouble)
    stageSums.compute(e.stageId, (_, acc) =>
      if (acc == null) row else { var i = 0; while (i < acc.length) { acc(i) += row(i); i += 1 }; acc })
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val sums = Option(stageSums.remove(info.stageId)).getOrElse(Array.fill(taskFields.length)(0.0))
    stages.add(Map("stage" -> info.stageId, "attempt" -> info.attemptNumber(),
      "start_ms" -> info.submissionTime.getOrElse(0L),
      "end_ms" -> info.completionTime.getOrElse(0L)) ++ taskFields.zip(sums))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: QueryStartedEvent =>
      queries.add(Map("run" -> q.runId.toString, "tags" -> q.jobTags.toSeq))
    case p: QueryProgressEvent =>
      val pr = p.progress
      progress.add(Map("run" -> pr.runId.toString,
        "start_ms" -> java.time.Instant.parse(pr.timestamp).toEpochMilli,
        "rows_in" -> pr.numInputRows,
        "duration_ms" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_commit_ms" -> pr.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> pr.stateOperators.map(_.memoryUsedBytes).sum))
    case _ => ()
  }

  def json: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "plans" -> plans.asScala.toSeq,
    "queries" -> queries.asScala.toSeq, "progress" -> progress.asScala.toSeq, "jvm" -> jvm)
}
