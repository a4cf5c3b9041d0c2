package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark lacks natively.
  *
  * Semantics: for each left row, attach the single most recent right row of
  * the same key whose time is <= the left row's time (DuckDB `ASOF JOIN`
  * semantics, left outer).
  *
  * Implementation is the union+window trick rather than a join: tag both
  * sides, union, and carry the latest right payload forward with
  * `last(_, ignoreNulls)` over a per-key time-ordered window. This costs ONE
  * shuffle (partition by key) + a sort — no row explosion, no per-key
  * nested-loop — so it scales linearly in |L|+|R| and survives 100 TB inputs
  * where the naive join-then-rank approach (|L| x |R| per key before
  * filtering) blows up. Skewed keys are handled by AQE since the heavy
  * operation is a plain window over a hash-partitioned sort.
  *
  * Reference had no relational operators at all (SURVEY.md §2.5); this is
  * part of the extended surface (§2.6).
  */
object AsOfJoin {

  /** Left as-of join.
    *
    * @param right must be unique per (keys, rightTime); pre-dedupe if not —
    *              with duplicates the matched row would be order-dependent
    *              (DuckDB ASOF has the same caveat).
    * @param rightPayload right columns to attach (null when no match).
    * @param direction `backward` (default): most recent right row at-or-
    *                  before the left time — DuckDB `ON l.t >= r.t`;
    *                  `forward`: earliest right row at-or-after —
    *                  `ON l.t <= r.t`; `nearest`: whichever of the two is
    *                  closer in time, ties broken backward (the pandas
    *                  `merge_asof` convention). All three are the same
    *                  union+window shape — `nearest` runs both ordered
    *                  passes over ONE exchange (two in-partition sorts).
    * @param tolerance when set, a match further than this from the left
    *                  time is nulled out (the pandas `merge_asof
    *                  tolerance` bound — "the last click, but only within
    *                  the attribution window"). Same type algebra as the
    *                  time columns: an interval Column for timestamps, a
    *                  numeric Column for long/epoch times. Applied as a
    *                  post-window mask on the already-matched row — no
    *                  extra shuffle, no change of plan shape.
    */
  def leftAsOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      direction: String = "backward",
      tolerance: Option[Column] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown as-of direction '$direction'")
    val leftCols = left.columns.toSeq
    // Only the nearest mode and the tolerance mask need the matched right
    // TIME ("_rt") in the payload struct — plain single-direction joins
    // skip it so their shuffled rows stay as narrow as before.
    val carried =
      if (direction == "nearest" || tolerance.isDefined)
        rightPayload.map(col) :+ col(rightTime).as("_rt")
      else rightPayload.map(col)
    val l = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(1))
      .withColumn("_rp", lit(null).cast(
        right.select(carried: _*).schema
          .fields.foldLeft(new org.apache.spark.sql.types.StructType()) {
            (st, f) => st.add(f)
          }))
    val r = right.select(
      keys.map(col) ++ Seq(
        col(rightTime).as("_t"),
        lit(0).as("_side"),
        struct(carried: _*).as("_rp")): _*)
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // Right rows sort before left rows at equal time in BOTH directions
    // (side asc after t asc or t desc) => ties match (<= / >=).
    def pass(timeOrd: Column) =
      last(col("_rp"), ignoreNulls = true).over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(timeOrd, col("_side").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val backward = pass(col("_t").asc)
    val forward = pass(col("_t").desc)
    val m = direction match {
      case "backward" => backward
      case "forward" => forward
      case "nearest" =>
        val b = backward
        val f = forward
        // strictly-closer forward wins; ties (incl. exact-time hits on
        // both sides, same row) go backward
        when(b.isNull, f)
          .when(f.isNull, b)
          .when(f.getField("_rt") - col("_t") < col("_t") - b.getField("_rt"), f)
          .otherwise(b)
    }
    val matched0 = unioned
      .withColumn("_m", m)
      .where(col("_side") === 1)
    // Tolerance mask: keep the match only when the matched right time is
    // within [t - tol, t + tol]. A null match stays null (the comparison
    // is null, so `when` falls through to the null otherwise-branch).
    val matched = tolerance match {
      case Some(tol) => matched0.withColumn("_m",
        when(col("_m._rt") >= col("_t") - tol &&
             col("_m._rt") <= col("_t") + tol, col("_m")))
      case None => matched0
    }
    val out = leftCols.map(col) ++
      rightPayload.map(p => col(s"_m.$p").as(p))
    matched.select(out: _*)
  }

  /** Left as-of join via the engine's NATIVE sorted-merge operator
    * (graft.plans.AsOfMergeJoinExec) — same semantics and result as
    * [[leftAsOf]] (equivalence is spec-pinned and both are DuckDB-oracle
    * checked), different physical shape: each side shuffles in its own
    * narrow schema and is merged in one O(1)-state pass per partition,
    * instead of union-widening every row and buffering a window frame.
    * Exchanges/sorts are REQUIREMENTS, not operators we schedule — a
    * bucketed-sorted side plans with zero exchanges.
    *
    * Registers the planner strategy (graft.plans.AsOfJoinStrategy) on the
    * left side's session itself, so any session plans the node — a
    * `newSession()` child or one built outside [[graft.GraftSession]]
    * included. Time columns must be long-backed (long / int / timestamp /
    * timestamp_ntz / date).
    */
  def leftAsOfNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.types._
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown as-of direction '$direction'")
    require(keys.nonEmpty, "as-of join requires at least one key column")
    val ls = GraftShim.analyzed(left)
    // A self-join (shared lineage) would alias the same attribute ids on
    // both sides; re-key the right side with fresh ids so resolution is
    // unambiguous (what Spark's dedup-relations rule does for Join).
    val rs0 = GraftShim.analyzed(right)
    val rs: LogicalPlan =
      if (ls.outputSet.intersect(rs0.outputSet).isEmpty) rs0
      else Project(rs0.output.map(a => Alias(a, a.name)()), rs0)
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$side column '$n' not found among ${p.output.map(_.name).mkString(", ")}"))
    val longBacked: Set[DataType] =
      Set(LongType, IntegerType, TimestampType, TimestampNTZType, DateType)
    val (lt, rt) = (attr(ls, leftTime, "left time"), attr(rs, rightTime, "right time"))
    require(longBacked.contains(lt.dataType) && rt.dataType == lt.dataType,
      s"as-of time columns must share a long-backed type, got " +
        s"${lt.dataType} / ${rt.dataType}")
    val lk = keys.map(attr(ls, _, "left key"))
    val rk = keys.map(attr(rs, _, "right key"))
    lk.zip(rk).foreach { case (a, b) =>
      require(a.dataType == b.dataType,
        s"as-of key '${a.name}' type mismatch: ${a.dataType} vs ${b.dataType}")
    }
    val payload = rightPayload.map(n => Alias(attr(rs, n, "payload"), n)())
    val payloadOut = payload.map(_.toAttribute.withNullability(true))
    // The one registration path of the strategy: idempotent, on the session
    // that will plan the node. Experimental strategies are per session.
    val ex = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
        ex.extraStrategies = ex.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
    GraftShim.ofRows(left.sparkSession,
      graft.plans.AsOfJoinNode(ls, rs, lk, rk, lt, rt, payload, payloadOut, direction))
  }
}
