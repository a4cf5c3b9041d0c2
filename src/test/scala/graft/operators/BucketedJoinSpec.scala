package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The co-located-join contract: bucketed tables join with ZERO exchanges.
  * This is the storage-side shuffle elimination SURVEY §4 calls for — the
  * plan shape, not just the row count, is the assertion.
  */
class BucketedJoinSpec extends SparkSpec {

  // Conf-mutating suite (broadcast threshold): use an isolated
  // `newSession()` so concurrent plan-shape suites never observe the
  // flipped threshold on the shared session (see RuntimeFilterSpec).
  override lazy val spark: org.apache.spark.sql.SparkSession = {
    val s = graft.GraftSession.local(cpus = 4, appName = suiteName)
      .newSession()
    graft.functions.Native.register(s)
    s
  }

  test("bucketed lineitem joins bucketed orders with no exchange at all") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Disable broadcast so the planner must consider a shuffle — and then
    // prove bucketing removed the need for one.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(Tables.lineitem(spark, sf), "li_bucketed",
        "l_orderkey", buckets = 8)
      Bucketing.writeBucketed(Tables.orders(spark, sf), "ord_bucketed",
        "o_orderkey", buckets = 8)
      val (l, r) = (spark.table("li_bucketed"), spark.table("ord_bucketed"))
      val j = l.join(r, l("l_orderkey") === r("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(1200)}")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(1200)}")
      // And it computes the same join as the unbucketed path.
      val expected = Tables.lineitem(spark, sf).join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("groupBy on the bucket key also skips the shuffle") {
    try {
      Bucketing.writeBucketed(Tables.lineitem(spark, sf), "li_bucketed2",
        "l_orderkey", buckets = 8)
      val agg = spark.table("li_bucketed2")
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"aggregation on the bucket key must not shuffle:\n${plan.take(1200)}")
      assert(agg.count() ===
        Tables.lineitem(spark, sf).select("l_orderkey").distinct().count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bucketed2")
    }
  }
}
