package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds; `parent` is
  * -1 for a root. All spans of one operation carry its op id.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    op: String, startMs: Double, endMs: Double)

/** Task-level counters summed over the tasks of one phase of one op. */
final class TaskSums {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0L
  var shuffleWriteNs = 0L
  var spillBytes = 0L
  var peakMemBytes = 0L
  var maxSkew = 1.0
}

/** Records Spark's own events for the traced run.
  *
  * Jobs are attributed through two local properties the harness sets
  * around every builder call and action: `perfbench.op` (the op id) and
  * `perfbench.phase` (`build` or `action`). Stages and tasks inherit the
  * attribution of the job that submitted them. Query executions are
  * queued as they finish; the harness drains the bus after each op and
  * takes the queue, so every execution in it belongs to that op.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private final case class JobRec(op: String, phase: String, start: Long,
      var end: Long, stageIds: Seq[Int])
  private final case class StageRec(var submit: Long, var complete: Long,
      runTimes: mutable.ArrayBuffer[Long])

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val sums = mutable.HashMap.empty[(String, String), TaskSums]
  private val executions = mutable.ArrayBuffer.empty[QueryExecution]

  private def sumsFor(op: String, phase: String): TaskSums =
    sums.getOrElseUpdate((op, phase), new TaskSums)

  private def stageOwner(stageId: Int): Option[JobRec] =
    stageJob.get(stageId).flatMap(jobs.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty("perfbench.op"))).getOrElse("")
    val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("")
    if (op.nonEmpty) {
      jobs(e.jobId) = JobRec(op, phase, e.time, e.time, e.stageIds)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      sumsFor(op, phase).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    if (stageOwner(info.stageId).isDefined) {
      val rec = stages.getOrElseUpdate(info.stageId,
        StageRec(0L, 0L, mutable.ArrayBuffer.empty))
      rec.submit = info.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner(info.stageId).foreach { job =>
      val rec = stages.getOrElseUpdate(info.stageId,
        StageRec(info.submissionTime.getOrElse(0L), 0L, mutable.ArrayBuffer.empty))
      rec.complete = info.completionTime.getOrElse(System.currentTimeMillis())
      val s = sumsFor(job.op, job.phase)
      s.stages += 1
      if (rec.runTimes.size >= 2) {
        val sorted = rec.runTimes.sorted
        val med = sorted(sorted.size / 2).max(1L)
        s.maxSkew = s.maxSkew.max(sorted.last.toDouble / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner(e.stageId).foreach { job =>
      val m = e.taskMetrics
      val s = sumsFor(job.op, job.phase)
      s.tasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.peakMemBytes = s.peakMemBytes.max(m.peakExecutionMemory)
        stages.getOrElseUpdate(e.stageId,
          StageRec(0L, 0L, mutable.ArrayBuffer.empty)).runTimes += m.executorRunTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { executions += qe }

  /** Task sums of one op phase (empty sums when it ran no job). */
  def taskSums(op: String, phase: String): TaskSums = synchronized {
    sums.getOrElse((op, phase), new TaskSums)
  }

  /** Query executions finished since the last call. */
  def takeExecutions(): Seq[QueryExecution] = synchronized {
    val out = executions.toList
    executions.clear()
    out
  }

  /** Job and stage spans of `op`, children of the given phase spans. */
  def jobSpans(op: String, phaseSpan: String => Int, nextId: () => Int): Seq[Span] =
    synchronized {
      jobs.toSeq.filter(_._2.op == op).flatMap { case (jobId, j) =>
        val jid = nextId()
        val js = Span(jid, phaseSpan(j.phase), "job", s"job $jobId", op,
          j.start.toDouble, j.end.toDouble)
        val ss = j.stageIds.filter(s => stageJob.get(s).contains(jobId)).flatMap { sid =>
          stages.get(sid).filter(r => r.submit > 0 && r.complete >= r.submit).map { r =>
            Span(nextId(), jid, "stage", s"stage $sid", op, r.submit.toDouble, r.complete.toDouble)
          }
        }
        js +: ss
      }
    }

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); sums.clear(); executions.clear()
  }

  /** Forget every record of `op` once its metrics have been taken. */
  def forget(op: String): Unit = synchronized {
    val ids = jobs.collect { case (id, j) if j.op == op => id }.toSet
    val stageIds = stageJob.collect { case (s, j) if ids(j) => s }.toSet
    jobs --= ids
    stageJob --= stageIds
    stages --= stageIds
    sums --= sums.keys.filter(_._1 == op).toSeq
  }
}

/** SQL metrics and planning times read from executed query plans. */
object PlanMetrics {

  /** Every node of an executed plan, descending into adaptive plans, query
    * stages, command wrappers and subqueries; each node once.
    */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _ => p.children ++ p.subqueries
      }
      kids.foreach(visit)
    }
    visit(root)
    out.toSeq
  }

  /** A node's metric in base units: seconds for timings, bytes for sizes. */
  private def value(node: SparkPlan, key: String): Double =
    node.metrics.get(key).map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => m.value.toDouble
      }
    }.getOrElse(0.0)

  /** Operator-class sums over the executed plans of one op. */
  def sums(executions: Seq[QueryExecution]): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    executions.foreach { qe =>
      val phases = qe.tracker.phases
      def phase(name: String): Double =
        phases.get(name).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      add("plan.analysis_s", phase("analysis"))
      add("plan.optimizer_s", phase("optimization"))
      add("plan.physical_s", phase("planning"))
      val ns = try nodes(qe.executedPlan) catch { case NonFatal(_) => Nil }
      add("plan.nodes", ns.size.toDouble)
      ns.foreach { n =>
        val c = n.getClass.getSimpleName
        if (c.contains("Scan") && !c.contains("Exchange")) {
          add("scan.rows", value(n, "numOutputRows"))
          add("scan.files", value(n, "numFiles"))
          add("scan.mb", value(n, "filesSize") / 1e6)
          add("scan.s", value(n, "scanTime"))
        }
        if (c == "GenerateExec") add("op.generate.rows", value(n, "numOutputRows"))
        if (c.endsWith("AggregateExec")) {
          add("op.aggregate.rows", value(n, "numOutputRows"))
          add("op.aggregate.s", value(n, "aggTime"))
        }
        if (c == "WholeStageCodegenExec") add("op.wscg.s", value(n, "pipelineTime"))
        if (c.endsWith("JoinExec") || c == "CartesianProductExec") {
          val rows = value(n, "numOutputRows")
          add("op.join.rows", rows)
          acc("op.join.max_rows") = acc("op.join.max_rows").max(rows)
        }
        if (c == "SortExec") add("op.sort.s", value(n, "sortTime"))
      }
    }
    acc.toMap
  }

  /** Start and end (epoch ms) of the planning phases of each execution. */
  def planIntervals(executions: Seq[QueryExecution]): Seq[(Double, Double)] =
    executions.flatMap { qe =>
      val ps = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (ps.isEmpty) None
      else Some((ps.map(_.startTimeMs).min.toDouble, ps.map(_.endTimeMs).max.toDouble))
    }
}
