package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one deliberate reach into Spark's `private[sql]` surface: wrapping a
  * hand-built [[LogicalPlan]] (graft.plans.AsOfJoinNode) back into a public
  * `DataFrame`. `Dataset.ofRows` is the canonical constructor for this and
  * has no public equivalent, so this object lives under `org.apache.spark
  * .sql` for access — the standard pattern for Spark extension libraries
  * that add custom plan nodes. Nothing else engine-side depends on
  * internals beyond the calls here plus the documented extension point
  * `experimental.extraStrategies`.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** The analyzed logical plan of a DataFrame (public on the classic
    * Dataset; hidden behind the connect-compatible API type).
    */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  /** Stats-dropping checkpoint — THE way to truncate lineage inside a
    * state→state loop (pagerank, LPA, fixpoints, incremental folds):
    * `localCheckpoint` + [[dropOriginStats]] in one call, so no new
    * iterative operator can reintroduce the stats-compounding hazard by
    * forgetting the second half. One-shot (non-loop) checkpoints may
    * keep the origin stats — they are the real input's and inform join
    * strategy — and mark the site `// stats-ok: <reason>` for
    * CheckpointDisciplineSpec's sweep.
    */
  def ckptNoStats(df: DataFrame, eager: Boolean = false): DataFrame =
    dropOriginStats(df.localCheckpoint(eager))

  /** True when the DataFrame is already a materialized leaf (a
    * `localCheckpoint` result) — lets an operator that defensively
    * checkpoints a reused input skip the copy when the caller already
    * paid for one.
    */
  def isMaterialized(df: DataFrame): Boolean =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Drop the origin statistics (and constraints) a `localCheckpoint`
    * carries over from the plan that produced it. An iterative
    * algorithm that checkpoints every round otherwise COMPOUNDS the
    * size-in-bytes estimate — a self-join squares it each round, so
    * after ~20 rounds Catalyst's stats visitor is multiplying
    * million-bit BigIntegers on the driver and planning hangs. Data,
    * lineage truncation, and output partitioning of the checkpoint are
    * untouched; the relation merely reverts to the
    * `defaultSizeInBytes` leaf estimate.
    */
  def dropOriginStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ClassicDataset.ofRows(ds.sparkSession,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
            lr.isStreaming, lr.stream)(ds.sparkSession, None, None))
      case _ => df
    }
  }

  /** Block until every event already posted to the listener bus has been
    * delivered — a deterministic drain (`listenerBus` is `private[spark]`)
    * for callers that read listener-fed counters after a job.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
