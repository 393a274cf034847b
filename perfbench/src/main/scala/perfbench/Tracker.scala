package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The benchmark's own Spark listener: every task's metrics, every job,
  * and every SQL execution that writes one of `JobPipeline`'s stage
  * directories. Layers are attributed from outside the program: a job
  * belongs to the stage whose directory its SQL execution writes, or else
  * to the stage whose time window it started in (see [[Spans]]).
  *
  * With `detail = false` (the untraced runs) only run totals are kept;
  * the per-task records and job list are the
  * tracing this benchmark reports the overhead of.
  *
  * Events arrive on Spark's listener-bus thread; the measuring thread
  * reads only after [[drain]], which waits for a sentinel job's end —
  * the bus delivers in post order, so every earlier event is in. */
final class Tracker(sc: SparkContext, detail: Boolean) extends SparkListener {
  import Tracker._

  private val lock = new Object
  // totals (always kept)
  private var cpuNs = 0L
  // detail
  private val taskRecs = mutable.ArrayBuffer.empty[TaskRec]
  private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // always: write target per SQL execution (route guard, crash injection)
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  @volatile private var sentinelDone = false
  @volatile private var sentinelJob = -1
  private val sentinelStages = mutable.HashSet.empty[Int]
  @volatile private var crashAt: Option[String] = None
  private val crashed = mutable.HashSet.empty[Long]

  /** Start a fresh run's bookkeeping. */
  def reset(): Unit = lock.synchronized {
    cpuNs = 0
    taskRecs.clear(); jobRecs.clear(); stageJob.clear()
    execs.clear(); crashed.clear()
  }

  /** Cancel the first job of any SQL execution that writes `stage` —
    * the emulated crash `resume-s4` prepares its committed stages with. */
  def crashOn(stage: Option[String]): Unit = crashAt = stage

  private def execOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    if (Option(e.properties).exists(p => p.getProperty(SentinelProp) != null)) {
      sentinelJob = e.jobId; sentinelStages ++= e.stageIds; return
    }
    val ex = execOf(e.properties)
    val writes = execs.get(ex).flatMap(_.writes)
    if (crashAt.isDefined && writes == crashAt && crashed.add(ex))
      sc.cancelJob(e.jobId, s"emulated crash in ${crashAt.get}")
    if (detail) {
      jobRecs(e.jobId) = JobRec(e.jobId, e.time, -1L, ex)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    if (e.jobId == sentinelJob) sentinelDone = true
    jobRecs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || sentinelStages.contains(e.stageId)) return
    lock.synchronized {
      cpuNs += m.executorCpuTime
      if (detail)
        taskRecs += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.recordsWritten)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => lock.synchronized {
      execs(e.executionId) = ExecRec(e.executionId, e.time, -1L,
        writeTarget(e.physicalPlanDescription), route(e.physicalPlanDescription))
    }
    case e: SparkListenerSQLExecutionEnd => lock.synchronized {
      execs.get(e.executionId).foreach(_.end = e.time)
    }
    case _ => ()
  }

  /** Block until every event posted before this call is delivered: run
    * a one-task sentinel job and wait for its JobEnd on the bus. */
  def drain(): Unit = {
    sentinelDone = false
    sc.setLocalProperty(SentinelProp, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SentinelProp, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(2)
    require(sentinelDone, "Spark listener bus did not drain within 60 s")
  }

  def taskCpuSeconds: Double = lock.synchronized(cpuNs / 1e9)
  def tasks: Seq[TaskRec] = lock.synchronized(taskRecs.toList)
  def jobs: Seq[JobRec] = lock.synchronized(jobRecs.values.toList)
  def jobOfStage(stageId: Int): Option[Int] = lock.synchronized(stageJob.get(stageId))
  def executions: Seq[ExecRec] = lock.synchronized(execs.values.toList)
}

object Tracker {
  private val SentinelProp = "perfbench.sentinel"
  val Stages: Seq[String] = Seq("s1_preprocess", "s2_embed", "s3_index", "s4_pairs")

  final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long, recordsOut: Long)
  final case class JobRec(id: Int, start: Long, var end: Long, execId: Long)
  final case class ExecRec(id: Long, start: Long, var end: Long,
      writes: Option[String], route: Option[String])

  private val WriteCommand =
    "Execute (InsertIntoHadoopFsRelationCommand|CreateDataSourceTableAsSelectCommand|SaveAsV1TableCommand)".r
  private val StageDir =
    "(?:/|graft_)(s1_preprocess|s2_embed|s3_index|s4_pairs|similarity_results_csv)(?:[,\\s_]|$)".r

  /** The pipeline directory a write command targets, from the "Arguments"
    * of the plan's root write node (a path ending in the stage directory,
    * or stage 3's bucketed catalog table). Reads of a stage, and the
    * model store's artifact writes, never match. */
  def writeTarget(plan: String): Option[String] = {
    val lines = plan.linesIterator.toVector
    val tree = lines.takeWhile(_.trim.nonEmpty)
    if (!tree.exists(l => WriteCommand.findFirstIn(l).isDefined)) None
    else {
      val node = lines.indexWhere(l => l.matches("""\(\d+\) Execute .*""") &&
        WriteCommand.findFirstIn(l).isDefined)
      lines.drop(node + 1).takeWhile(_.trim.nonEmpty).find(_.startsWith("Arguments:"))
        .flatMap(a => StageDir.findFirstMatchIn(a).map(_.group(1)))
    }
  }

  /** "exact" if a plan holds stage 4's exact route, a non-equi all-pairs
    * join; any other plan (the LSH bucket join among them) is not. */
  def route(plan: String): Option[String] =
    if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
      Some("exact")
    else None
}
