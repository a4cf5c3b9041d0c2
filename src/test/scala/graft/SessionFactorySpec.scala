package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin
import graft.plans.{AsOfJoinStrategy, AsOfMergeJoinExec}

/** One session factory and one registration path for the as-of planner
  * strategy: `GraftSession.local` is the only place a session is built,
  * and `AsOfJoin.leftAsOfNative` — the only builder of the as-of node —
  * registers the strategy on whichever session will plan it.
  */
class SessionFactorySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private def asOfOn(s: SparkSession): DataFrame = {
    val left = s.createDataFrame(Seq((1L, 10L), (1L, 25L), (2L, 5L)))
      .toDF("k", "t")
    val right = s.createDataFrame(Seq((1L, 9L, "a"), (1L, 20L, "b")))
      .toDF("k", "rt", "v")
    AsOfJoin.leftAsOfNative(left, right, Seq("k"), "t", "rt", Seq("v"))
  }

  private def strategies(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies

  test("src/main builds a SparkSession only in GraftSession.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sweep must run from the repo root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val builders = walk(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8").mkString
      Seq.fill("SparkSession.builder".r.findAllIn(src).size)(f.getName)
    }
    assert(builders === Seq("GraftSession.scala"))
  }

  test("the as-of strategy is registered exactly once on a factory session") {
    val s = GraftSession.local(cpus = 4, appName = suiteName)
    asOfOn(s).collect()
    asOfOn(s).collect()
    assert(strategies(s).count(_ eq AsOfJoinStrategy) === 1)
  }

  test("leftAsOfNative on a newSession() child plans the merge join") {
    val child = GraftSession.local(cpus = 4, appName = suiteName).newSession()
    val df = asOfOn(child)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(rows === Set((1L, 10L, Some("a")), (1L, 25L, Some("b")),
      (2L, 5L, None)))
    val plan: SparkPlan = df.queryExecution.executedPlan
    assert(collect(plan) { case j: AsOfMergeJoinExec => j }.size === 1, plan)
  }
}
