package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Maps a Spark call site to the repository layer that launched the
  * job. Spark records the long call site innermost frame first; the
  * first frame of a known module wins, `graft.ops` helpers are skipped
  * so a job is charged to the module that called them, and a job no
  * module launched directly is charged to the engine (the benchmark's
  * own `noop` write, AQE stage jobs, broadcasts). */
object Attribution {
  val layers: Seq[String] = Seq("pipeline", "sources", "queries", "plans", "engine")

  def layerOfFrame(frame: String): Option[String] = {
    val f = frame.trim
    if (f.startsWith("graft.pipeline.")) Some("pipeline")
    else if (f.startsWith("graft.sources.")) Some("sources")
    else if (f.startsWith("graft.queries.") || f.startsWith("graft.SparkEntry")) Some("queries")
    else if (f.startsWith("graft.plans.")) Some("plans")
    else if (f.startsWith("perfbench.")) Some("engine")
    else None
  }

  def layer(callSiteLong: String): String =
    Option(callSiteLong).iterator.flatMap(_.split("\n")).flatMap(layerOfFrame)
      .nextOption().getOrElse("engine")
}

/** Session-conf keys whose value differs between two snapshots. */
object ConfDiff {
  def apply(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.filter(k => before.get(k) != after.get(k))
}

/** One traced job, attributed to an op and a layer. */
final case class JobRec(id: Int, op: String, layer: String, name: String,
                        callSite: String, startMs: Long, var endMs: Long = -1L)

/** Engine counters of one op, summed over its tasks. */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
}

/** The benchmark's listener: jobs, stages and tasks of the current op,
  * plus the plan shape and planning time of every query execution it
  * ran. The harness
  * sets `op` before an op and drains the bus after it, so every event
  * is charged to the op that caused it. */
final class LayerListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var op: String = ""
  private val byOp = mutable.HashMap.empty[String, Counters]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  /** (op, start ms, end ms) of each execution's optimization and
    * physical planning, as its own QueryPlanningTracker timed them. */
  val plans: mutable.ArrayBuffer[(String, Long, Long)] = mutable.ArrayBuffer.empty
  private val jobById = mutable.HashMap.empty[Int, JobRec]

  // SQL execution id -> (description, call site) of the thread that
  // started it: AQE stage jobs and broadcasts are submitted from pool
  // threads whose own stacks name no module
  private val executions = mutable.HashMap.empty[String, (String, String)]

  def counters(opId: String): Counters = synchronized(byOp.getOrElseUpdate(opId, new Counters))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId.toString) = (s.description, s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(executions.get)
    val (name, details) = exec.getOrElse(
      (result.map(_.name).getOrElse(""), result.map(_.details).getOrElse("")))
    val rec = JobRec(e.jobId, op, Attribution.layer(details), name, details, e.time)
    jobs += rec
    jobById(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
    val c = counters(op)
    c.add("jobs", 1)
    c.add("jobs." + rec.layer, 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val opId = stageJob.get(si.stageId).map(_.op).getOrElse(op)
    val c = counters(opId)
    c.add("stages", 1)
    if (si.rddInfos.exists(_.name.contains("DataSourceRDD")))
      c.add("dsv2_scan_tasks", si.numTasks.toDouble)
    stageTasks.remove((si.stageId, si.attemptNumber())).foreach { ds =>
      if (ds.size >= 2) {
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).toDouble
        c.max("stage_skew", sorted.last / math.max(med, 1.0))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val opId = stageJob.get(e.stageId).map(_.op).getOrElse(op)
    val c = counters(opId)
    val info = e.taskInfo
    c.add("tasks", 1)
    if (info.attemptNumber > 0) c.add("task_retries", 1)
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      info.duration
    val m = e.taskMetrics
    if (m != null) {
      c.add("executor_cpu_s", m.executorCpuTime / 1e9)
      c.add("executor_run_s", m.executorRunTime / 1e3)
      c.add("gc_s", m.jvmGCTime / 1e3)
      val deser = m.executorDeserializeTime
      val delay = info.duration - m.executorRunTime - deser - m.resultSerializationTime -
        (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L)
      c.add("scheduler_delay_s", math.max(0L, delay) / 1e3)
      c.add("input_rows", m.inputMetrics.recordsRead.toDouble)
      c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      c.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      c.add("spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
      c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      c.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  // ---- QueryExecutionListener: plan shape and planning time of what
  // actually ran
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planStats(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planStats(qe)

  private def planStats(qe: QueryExecution): Unit = synchronized {
    val c = counters(op)
    val phases = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty) {
      c.add("plan_s", phases.map(_.durationMs).sum / 1e3)
      plans += ((op, phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max))
    }
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    c.add("executions", 1)
    c.add("exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble)
    c.add("broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble)
    c.add("codegen_stages", nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble)
    c.add("aqe_skew_splits", nodes.count {
      case r: AQEShuffleReadExec => r.hasSkewedPartition
      case _ => false
    }.toDouble)
    nodes.foreach {
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").foreach(m => c.add("output_files", m.value.toDouble))
      case _ =>
    }
  }
}
