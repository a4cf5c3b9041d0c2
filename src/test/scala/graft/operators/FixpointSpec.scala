package graft.operators

import graft.SparkSpec
import org.apache.spark.BlockProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
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

  test("an untilStable round runs one job: the change count rides its checkpoint") {
    // A checkpoint-only step (a projection, no shuffle): v climbs to 3,
    // so rounds 1-3 change every row and round 4 none. The jobs of this
    // thread's job group are counted, so other suites' jobs do not show.
    val init = spark.range(100).toDF("id").withColumn("v", lit(0L))
      .localCheckpoint(true)
    val group = s"fixpoint-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "untilStable job count")
    var rounds = 0
    val out = try Fixpoint.untilStable(init, 10, "no convergence") {
      (round, s) =>
        rounds = round.index
        s.select(col("id"), least(col("v") + 1, lit(3L)).as("v"),
          col("v").as("old"))
    }(count_if(col("v") =!= col("old")))
    finally {
      spark.sparkContext.clearJobGroup()
      GraftShim.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(rounds === 4)
    assert(jobs.get === rounds, s"$rounds rounds ran ${jobs.get} jobs")
    assert(out.agg(min("v"), max("v")).as[(Long, Long)].head() === ((3L, 3L)))
    GraftShim.release(out)
    GraftShim.release(init)
  }

  test("raking, HST levels and HITS keep only the checkpoints their result reads") {
    def reads(df: DataFrame): Set[Int] =
      GraftShim.analyzed(df).collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val pts = (0 until 40).map(i => (i.toLong, (i * 7 % 13).toDouble,
      (i * 5 % 11).toDouble, s"r${i % 3}", s"c${i % 4}"))
      .toDF("id", "x", "y", "r", "c")
    val edges = chain(12)
    val ops = Seq[(String, () => DataFrame)](
      "rakeToUniform" -> (() =>
        PipelineOps.rakeToUniform(pts, col("r"), col("c"), 3)),
      "hstOutliers" -> (() => Similarity.hstOutliers(pts, "id",
        Seq(col("x"), col("y")), depth = 4, topN = 5)),
      "hits" -> (() => Graph.hits(edges, "a", "b", 3)))
    for ((name, run) <- ops) {
      val (out, held) = heldBy(run())
      assert(held.nonEmpty && held === reads(out),
        s"$name holds $held, its result reads ${reads(out)}")
      assert(out.collect().nonEmpty, name)
    }
  }
}
