package bloombench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative executor counters. Always registered: the end-to-end
  * metrics `cpu_s`, `shuffle_mb` and `jobs` are differences of two
  * snapshots around a lifecycle. Events arrive on the listener-bus thread;
  * read only after [[org.apache.spark.BenchAccess.drain]]. */
final class Counters extends SparkListener {
  @volatile var jobs = 0L // one writer thread; volatile for the reader
  @volatile var cpuNs = 0L
  @volatile var shuffleWritten = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      shuffleWritten += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def snapshot: Counters.Snap = Counters.Snap(jobs, cpuNs, shuffleWritten)
}

object Counters {
  final case class Snap(jobs: Long, cpuNs: Long, shuffleWritten: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, cpuNs - o.cpuNs, shuffleWritten - o.shuffleWritten)
  }
}

/** The traced run's recorder: SQL executions, jobs, stages and tasks from
  * a `SparkListener`, Catalyst phase times from a `QueryExecutionListener`.
  * It keeps everything in memory; the traced run folds it into per-layer
  * figures after the lifecycle returned. */
final class Tracer extends SparkListener with QueryExecutionListener {

  final case class Execution(id: Long, root: Long, start: Long, var end: Long,
      details: String, plan: String)
  final case class StageSum(id: Int, var tasks: Int = 0, var runMs: Long = 0, var gcMs: Long = 0,
      var cpuNs: Long = 0, var shuffleRead: Long = 0, var spill: Long = 0, var input: Long = 0, var output: Long = 0,
      durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
      var scopes: Seq[String] = Nil, var cachedRdds: Seq[Int] = Nil,
      var submitted: Long = 0, var completed: Long = 0)

  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  val jobExecution = mutable.Map.empty[Int, Long]
  val jobSites = mutable.Map.empty[Int, String] // job -> its first stage's call site
  val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.LinkedHashMap.empty[Int, StageSum]
  var analysisMs, optimizationMs, planningMs = 0L
  var executed = 0

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions(s.executionId) = Execution(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
        s.time, -1, s.details, s.physicalPlanDescription)
    case s: SparkListenerSQLExecutionEnd =>
      executions.get(s.executionId).foreach(_.end = s.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => jobExecution(e.jobId) = id.toLong)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    jobSites(e.jobId) = e.stageInfos.map(_.name).headOption.getOrElse("")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = stages.getOrElseUpdate(e.stageInfo.stageId, StageSum(e.stageInfo.stageId))
    st.scopes = BenchAccess.scopeNames(e.stageInfo)
    st.cachedRdds = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    st.submitted = e.stageInfo.submissionTime.getOrElse(0L)
    st.completed = e.stageInfo.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.getOrElseUpdate(e.stageId, StageSum(e.stageId))
    st.tasks += 1
    st.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled
      st.input += m.inputMetrics.bytesRead
      st.output += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
    executed += 1
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    executed += 1

}

object Tracer {

  private val writtenDir =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: [^,\s]*/([A-Za-z0-9_]+),""".r

  /** An SQL execution's phase: a write is named by its output directory,
    * any other execution is the workload's probe. */
  def phaseOf(plan: String, probePhase: String): String =
    writtenDir.findFirstMatchIn(plan).map(_.group(1)) match {
      case Some("linecount") => "linecount"
      case Some("filters") => "build_persist"
      case Some("results") => "probe_write"
      case Some(other) => s"write_$other"
      case None => probePhase
    }

  /** The first program frame of an execution's long call site. */
  def callSite(details: String): String =
    details.linesIterator.map(_.trim).find(l => l.startsWith("graft.") || l.contains(" graft."))
      .orElse(details.linesIterator.map(_.trim).find(_.contains("bloombench.")))
      .getOrElse(details.linesIterator.toSeq.headOption.getOrElse(""))

  /** Input bytes of the stages that scan files whose operation scope names
    * `scope` (`Scan csv`). A stage that reads an RDD an earlier stage
    * already cached is left out: its input bytes are cached blocks, not
    * file reads. */
  def scannedBytes(stages: Seq[Tracer#StageSum], scope: String): Long = {
    val cached = mutable.Set.empty[Int]
    stages.sortBy(_.id).map { st =>
      val readsCache = st.cachedRdds.exists(cached)
      cached ++= st.cachedRdds
      if (!readsCache && st.scopes.exists(_.toLowerCase.contains(scope))) st.input else 0L
    }.sum
  }

  /** Union length of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total
  }
}
