package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.GraftShim

/** Dev tool (not driver contract): dump `explain("formatted")` for named
  * queries into <outDir>/<name>_<suffix>.txt — the before/after plan
  * evidence committed under plans/rNN/. Each file also lists what running
  * the query did ([[traced]]): its job count and, per SQL execution, the
  * join nodes of the final adaptive plan. For an iterative query the
  * returned frame's plan is a bare checkpoint scan; its joins ran in the
  * eager round checkpoints, which only the execution list shows.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...]
  */
object PlanDump {

  /** What one query run did: the frame it collected, the final adaptive
    * plan of every SQL execution it started, in start order, and the
    * Spark jobs it ran.
    */
  final case class Run(frame: DataFrame, plans: Seq[SparkPlanInfo],
      jobs: Int) {
    /** Join nodes per execution, by physical operator name. */
    def joins: Seq[Map[String, Int]] = plans.map(joinCounts)
    def joinTotals: Map[String, Int] =
      joins.flatten.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private val joinNodes = Set("BroadcastHashJoin", "ShuffledHashJoin",
    "SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct")

  /** Physical join-node counts of one plan tree. A reused exchange's
    * subtree ran elsewhere in the plan, so it is not counted twice.
    */
  def joinCounts(p: SparkPlanInfo): Map[String, Int] = {
    def nodes(p: SparkPlanInfo): Seq[String] =
      p.nodeName +: (if (p.nodeName == "ReusedExchange") Seq.empty
                     else p.children.flatMap(nodes))
    nodes(p).filter(joinNodes).groupMapReduce(identity)(_ => 1)(_ + _)
  }

  /** Indented node tree of a final plan (one `simpleString` per line). */
  def treeString(p: SparkPlanInfo, depth: Int = 0): String =
    (("  " * depth + p.simpleString) +:
      p.children.map(treeString(_, depth + 1))).mkString("\n")

  /** Build `query` and collect it, recording every SQL execution and job
    * that the build and the collect start, eager loop checkpoints
    * included. The last plan an execution reports is its final adaptive
    * plan (its start plan, when AQE re-plans nothing).
    */
  def traced(spark: SparkSession)(query: => DataFrame): Run = {
    val finals = new ConcurrentSkipListMap[Long, SparkPlanInfo]
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          finals.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          finals.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    GraftShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val frame =
      try {
        val df = query
        df.collect()
        GraftShim.drainListenerBus(spark)
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    Run(frame, finals.values.asScala.toSeq, jobs.get)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> " +
          "<name>[,<name>...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.split(',').foreach { n =>
      val run = traced(spark)(SparkEntry.queries(n)(spark, sfDir))
      val plan = run.frame.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      def fmt(m: Map[String, Int]): String =
        m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
      val executions = run.plans.zip(run.joins).zipWithIndex.map {
        case ((p, j), i) => s"-- execution $i: ${fmt(j)}\n${treeString(p)}"
      }
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"),
        (plan +: s"== Run: jobs=${run.jobs} joins: ${fmt(run.joinTotals)}" +:
          executions).mkString("\n"))
      println(s"[plandump] $n jobs=${run.jobs} joins: ${fmt(run.joinTotals)}")
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
