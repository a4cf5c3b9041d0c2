package graft

import org.scalatest.funsuite.AnyFunSuite

/** Committed plan-shape snapshots for the headline queries: the multiset
  * of load-bearing physical operators each query plans at sf0.001.
  * PlanSpec asserts targeted properties ("no cartesian", "partial agg
  * below the exchange"); this guard catches EVERYTHING ELSE — a config
  * drift, a dependency bump, or an innocent-looking refactor that flips
  * a join strategy or doubles an exchange shows up as a diff here before
  * it shows up as a benchmark regression.
  *
  * Counts reflect the INITIAL adaptive plan on the sf0.001 fixture. AQE
  * re-plans joins at run time from measured shuffle sizes, so the join
  * a query finally runs can differ from the one counted here; PlanSpec
  * pins the final plans of the iterative and blocking-join queries
  * (`PlanDump.traced`). q30's BroadcastNestedLoopJoin is the
  * intentional broadcast scatter of the tiny query set — keyless by
  * design, not a regression.
  *
  * On an intentional plan change: re-run with -DupdateShapes? No —
  * update the literal below in the same commit and explain in its
  * message. The snapshot being code-reviewed is the point.
  */
class PlanSnapshotSpec extends AnyFunSuite with SparkSpec {

  private val interesting = Seq("ShuffledHashJoin", "SortMergeJoin",
    "BroadcastHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
    "Exchange hashpartitioning", "Exchange rangepartitioning",
    "HashAggregate", "SortAggregate", "ObjectHashAggregate", "Window",
    "WindowGroupLimit", "AsOfMergeJoin", "Generate", "TakeOrderedAndProject")

  private def shape(name: String): Map[String, Int] = {
    val p = SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString
    interesting.map(i => i -> i.r.findAllIn(p).size).filter(_._2 > 0).toMap
  }

  private val expected: Map[String, Map[String, Int]] = Map(
    "q01_pricing_summary" -> Map(
      "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1,
      "HashAggregate" -> 2),
    "q03_top_orders" -> Map(
      "BroadcastHashJoin" -> 2, "Exchange hashpartitioning" -> 1,
      "HashAggregate" -> 2, "TakeOrderedAndProject" -> 1),
    "q05_star_join" -> Map(
      "BroadcastHashJoin" -> 5, "Exchange hashpartitioning" -> 1,
      "Exchange rangepartitioning" -> 1, "HashAggregate" -> 2),
    "q09_window_topk" -> Map(
      "Exchange hashpartitioning" -> 1, "Exchange rangepartitioning" -> 1,
      "Window" -> 3, "WindowGroupLimit" -> 2),
    "q19_asof_join" -> Map(
      "Exchange hashpartitioning" -> 3, "Exchange rangepartitioning" -> 1,
      "HashAggregate" -> 2, "AsOfMergeJoin" -> 1),
    // r5: q27 reads the Materialized (localCheckpoint'ed) shared LSH
    // pair list — the derivation's joins/aggregates run once per session
    // at registry build, so the query plan is just the final sort over
    // the checkpoint scan. The derivation's own shape stays pinned by
    // DedupSpec/PlanSpec on the operator.
    "q27_minhash_lsh" -> Map(
      "Exchange rangepartitioning" -> 1),
    // rankTopK is row_number() <= k: a Window over a Final and a Partial
    // WindowGroupLimit ("Window" also counts both limits), as in q09.
    "q30_cosine_topk" -> Map(
      "BroadcastNestedLoopJoin" -> 1, "Exchange hashpartitioning" -> 1,
      "Exchange rangepartitioning" -> 1, "Window" -> 3,
      "WindowGroupLimit" -> 2))

  expected.foreach { case (q, want) =>
    test(s"$q plans its committed operator shape") {
      val got = shape(q)
      assert(got === want,
        s"\n$q plan shape drifted.\n  committed: $want\n  actual:    $got\n" +
          "If intentional, update PlanSnapshotSpec in this commit and say why.")
    }
  }
}
