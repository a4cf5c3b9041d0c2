package graft.operators

import graft.SparkSpec
import org.apache.spark.BlockProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** The RDD ids that hold blocks after `f` and did not before. */
  private def heldBy[T](f: => T): (T, Set[Int]) = {
    val before = BlockProbe.rddIds(spark.sparkContext)
    val out = f
    (out, BlockProbe.rddIds(spark.sparkContext) -- before)
  }

  private def chain(n: Int): DataFrame =
    (1 until n).map(i => (i.toLong, i + 1L)).toDF("a", "b")

  test("Dataset.unpersist leaves a checkpoint's blocks; release frees them") {
    val df = spark.range(1000).toDF("id").groupBy(col("id") % 7).count()
    def cached(ids: Set[Int]) =
      BlockProbe.rddIds(spark.sparkContext).intersect(ids)
    for (checkpoint <- Seq[DataFrame => DataFrame](_.localCheckpoint(true),
        GraftShim.ckptNoStats(_, eager = true))) {
      val (ck, held) = heldBy(checkpoint(df))
      assert(held.size === 1, s"one checkpointed RDD expected: $held")
      ck.unpersist(blocking = true)
      assert(cached(held) === held,
        "Dataset.unpersist is expected to leave a checkpoint cached")
      // A lazy relation over the checkpoint does not own its blocks.
      GraftShim.release(ck.select(col("count")))
      assert(cached(held) === held)
      GraftShim.release(ck)
      assert(cached(held).isEmpty)
    }
  }

  test("dedupClusters and kCore keep no blocks of superseded rounds") {
    // A 300-node chain takes several pointer-doubling rounds, each with
    // two pinned intermediates; only the result's round may stay.
    val (labels, held) = heldBy(Dedup.dedupClusters(chain(300), "a", "b"))
    assert(held.size === 1, s"cached RDDs after dedupClusters: $held")
    assert(labels.agg(countDistinct(col("cluster_id")), count(lit(1)))
      .as[(Long, Long)].head() === ((1L, 300L)))
    // kCore's result reads its input checkpoint's successors only through
    // the last two rounds (the certificate compares them).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val (core, heldCore) = heldBy(Graph.kCore(edges, "u", "v", 2, 6))
    assert(heldCore.size === 3,
      s"kCore(6 rounds) should hold its input and two rounds: $heldCore")
    assert(core.select(col("node_id"), col("converged")).as[(Long, Boolean)]
      .collect() === Array((1L, true), (2L, true), (3L, true)))
  }

  test("a dedupClusters guard throw leaves no checkpoint blocks") {
    val (err, held) = heldBy(intercept[IllegalArgumentException](
      Dedup.dedupClusters(chain(300), "a", "b", maxIters = 1)))
    assert(err.getMessage.contains(
      "label propagation did not converge in 1 rounds"))
    assert(held.isEmpty, s"cached RDDs after the guard threw: $held")
  }
}
