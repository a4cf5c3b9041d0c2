package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of one job group (one query execution of one pass). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planNs = 0L
  var maxJoinRows = 0L
  var asofMatched = 0L
  /** (launch, finish) epoch ms of every task, for busy/idle time. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spark-side observer for traced runs. Task, stage and job events are
  * attributed to the job group the benchmark set before the call; the
  * QueryExecutionListener callbacks (plan phases, SQL metrics) carry no
  * group, so they go to `current`, which the benchmark changes only after
  * draining the listener bus.
  */
final class Probe(spark: SparkSession, trace: Trace) extends SparkListener
    with QueryExecutionListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  /** Span id of the query span for each group, so jobs nest under it. */
  val parentOf = mutable.HashMap.empty[String, Long]
  /** Trace (pass) id of each group; a group without one is its own trace. */
  val traceOf = mutable.HashMap.empty[String, String]
  @volatile var current: String = ""

  def stats(group: String): GroupStats =
    synchronized(groups.getOrElseUpdate(group, new GroupStats))

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.BusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      jobGroup(e.jobId) = g
      jobStarts(e.jobId) = e.time
      jobSpan(e.jobId) = trace.nextId()
      e.stageIds.foreach { st => stageGroup(st) = g; stageSpan(st) = jobSpan(e.jobId) }
      stats(g).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val start = jobStarts.remove(e.jobId).getOrElse(e.time)
      trace.add(Span(jobSpan.remove(e.jobId).get, parentOf.getOrElse(g, 0L),
        traceOf.getOrElse(g, g), "spark.job", s"job ${e.jobId}",
        start * 1000L, e.time * 1000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      stats(g).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        trace.add(Span(trace.nextId(), stageSpan.getOrElse(info.stageId, 0L),
          traceOf.getOrElse(g, g), "spark.stage", s"stage ${info.stageId}",
          s * 1000L, c * 1000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      if (e.taskMetrics != null) {
        s.taskMs += e.taskMetrics.executorRunTime
        s.shuffleWriteBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        s.spillBytes += e.taskMetrics.memoryBytesSpilled +
          e.taskMetrics.diskBytesSpilled
      }
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val s = stats(current)
    val planNs = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    val plan = nodes(qe.executedPlan)
    val joins = plan.collect { case j: BaseJoinExec => metric(j, "numOutputRows") }
    val asof = plan.collect {
      case p if p.nodeName.startsWith("AsOfMergeJoin") => metric(p, "numMatched")
    }
    synchronized {
      s.planNs += planNs
      s.maxJoinRows = (s.maxJoinRows +: joins).max
      s.asofMatched += asof.sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages, reused exchanges and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Wall time inside `[from, to]` (epoch ms) not covered by any task. */
  def idleMs(g: String, from: Long, to: Long): Long = {
    val iv = stats(g).taskIntervals
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = from
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (to - from) - covered
  }
}
