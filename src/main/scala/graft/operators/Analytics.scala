package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens
import FixedPoint.{bin6, fd, floorDiv}

/** Analytic SQL surface beyond Relational's q01-q20 (SURVEY.md §2.5):
  * lateral/positional explode, exact percentiles, moment statistics,
  * navigation window functions, time-RANGE window frames, unpivot,
  * multiset set operations, and string/regex/edit-distance functions.
  * All Spark built-ins — Catalyst owns the physical plan; the QueryDefs
  * pin semantics against the DuckDB oracle.
  *
  * Scale notes: exact `percentile` sorts per group — at 100 TB use
  * `approx_percentile` (t-digest, mergeable partials); everything else
  * here is partial-aggregatable or map-side and scales with the built-in
  * operators it compiles to. The RANGE frame is bounded (7 days), so
  * streaming state / window buffers stay bounded too.
  */
object Analytics {

  /** Calendar-day bucket of a timestamp: micros since epoch,
    * floor-divided, so a pre-1970 instant lands on its own day.
    */
  def dayId(ts: Column): Column =
    floorDiv(unix_micros(ts), lit(86400000000L))

  /** Hour-of-day bucket (0..23 for post-1970 input). */
  def hourOfDay(ts: Column): Column =
    floorDiv(unix_micros(ts), lit(3600000000L)) % 24

  /** q46: positional token explode — (doc_id, pos, token) with ordinality. */
  private def q46(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("p", "token")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("token"))
      .orderBy(col("doc_id"), col("pos"))
  private val q46Sql =
    """SELECT doc_id, pos, tokens[pos + 1] AS token FROM (
         SELECT doc_id, string_split(text, ' ') AS tokens,
           unnest(range(0, len(string_split(text, ' ')))) AS pos
         FROM documents WHERE doc_id < 20)
       ORDER BY doc_id, pos"""

  /** q47: exact interpolated percentiles per group. */
  private def q47(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("pct"))
      .select(col("l_returnflag"),
        round(element_at(col("pct"), 1), 4).as("p25"),
        round(element_at(col("pct"), 2), 4).as("p50"),
        round(element_at(col("pct"), 3), 4).as("p75"))
      .orderBy(col("l_returnflag"))
  private val q47Sql =
    """SELECT l_returnflag,
         round((quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]))[1], 4) AS p25,
         round((quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]))[2], 4) AS p50,
         round((quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]))[3], 4) AS p75
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q57: approximate percentile — the mergeable t-digest scale path for
    * q47's exact sort-based percentile — computed beside the exact value
    * with the accuracy assertion IN the row (the q36 pattern: the oracle
    * emits literal true, so the approximation is oracle-checked every
    * round instead of being a rows-only entry).
    */
  private def q57(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.5D)").as("exact_raw"),
        expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("approx"))
      .select(col("l_returnflag"),
        round(col("exact_raw"), 4).as("exact_p50"),
        (abs(col("approx") - col("exact_raw")) <=
          col("exact_raw") * 0.01).as("within_bound"))
      .orderBy(col("l_returnflag"))
  private val q57Sql =
    """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
         true AS within_bound
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q48: second-moment statistics (corr / covariance / stddev / variance).
    * Rounding per metric magnitude: single-pass co-moment accumulation
    * differs in summation order between engines.
    */
  private def q48(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0)).as("qp_corr"),
        (round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0)).as("qp_covar"),
        round(stddev_samp(col("l_quantity")), 4).as("q_stddev"),
        round(var_samp(col("l_extendedprice")), 2).as("p_var"))
      .orderBy(col("l_returnflag"))
  private val q48Sql =
    """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qp_corr,
         round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS qp_covar,
         round(stddev_samp(l_quantity), 4) AS q_stddev,
         round(var_samp(l_extendedprice), 2) AS p_var
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** q49: navigation window functions over each customer's order history. */
  private def q49(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("first_key", first(col("o_orderkey")).over(w))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("order_day"), col("o_totalprice"),
        col("prev_price"), col("next_price"), col("quartile"), col("first_key"))
      .orderBy(col("o_orderkey"))
  }
  private val q49Sql =
    """SELECT o_orderkey, o_custkey, o_orderdate::DATE AS order_day,
         o_totalprice,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         ntile(4) OVER w AS quartile,
         first_value(o_orderkey) OVER w AS first_key
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_orderkey"""

  /** q50: trailing 7-day RANGE frame per user over event time (epoch
    * seconds on both sides: Spark's cast(ts as long) and DuckDB's
    * epoch_us // 1000000 both floor).
    */
  private def q50(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-604800, 0)
    Tables.events(s, d)
      .withColumn("w7_sum", round(sum(col("value")).over(w), 6))
      .select(col("event_id"), col("user_id"),
        col("ts").cast("date").as("day"), col("value"), col("w7_sum"))
      .orderBy(col("event_id"))
  }
  private val q50Sql =
    """SELECT event_id, user_id, ts::DATE AS day, value,
         round(sum(value) OVER (PARTITION BY user_id
           ORDER BY (epoch_us(ts) // 1000000)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 6) AS w7_sum
       FROM events ORDER BY event_id"""

  /** q51: unpivot aggregated measures to long form. */
  private def q51(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")), "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))
  private val q51Sql =
    """WITH agg AS (
         SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
       UNION ALL
       SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
       ORDER BY l_returnflag, measure"""

  /** q52: multiset set operations (INTERSECT ALL / EXCEPT ALL) on the
    * customer vs supplier nation multisets, folded to (op, key, n) rows.
    */
  private def q52(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
    val sup = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
    val i = c.intersectAll(sup).withColumn("op", lit("intersect_all"))
    val e = c.exceptAll(sup).withColumn("op", lit("except_all"))
    i.union(e)
      .groupBy(col("op"), col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("op"), col("nationkey"))
  }
  private val q52Sql =
    """WITH i AS (
         SELECT c_nationkey AS nationkey FROM customer
         INTERSECT ALL SELECT s_nationkey FROM supplier),
       e AS (
         SELECT c_nationkey AS nationkey FROM customer
         EXCEPT ALL SELECT s_nationkey FROM supplier)
       SELECT 'intersect_all' AS op, nationkey, count(*) AS n FROM i GROUP BY 2
       UNION ALL
       SELECT 'except_all' AS op, nationkey, count(*) AS n FROM e GROUP BY 2
       ORDER BY op, nationkey"""

  /** q53: string/regex/edit-distance scalar functions. */
  private def q53(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        levenshtein(col("p_brand"), col("p_type")).cast("long").as("edit_dist"),
        upper(col("p_brand")).as("brand_uc"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_padded"))
      .orderBy(col("p_partkey"))
  private val q53Sql =
    """SELECT p_partkey,
         regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
         levenshtein(p_brand, p_type)::BIGINT AS edit_dist,
         upper(p_brand) AS brand_uc,
         lpad(p_size::VARCHAR, 4, '0') AS size_padded
       FROM part WHERE p_partkey <= 200 ORDER BY p_partkey"""

  // ---- q65: batch session windows (gaps-and-islands parity) ------------------
  // Spark's session_window vs the classic lag/cumsum islands construction:
  // a new session starts when the gap since the previous event is >= the
  // 30-minute window (Spark merges while t < previous + gap). The session
  // end is last-event + gap, Spark's definition. Exact integer-microsecond
  // arithmetic on both sides.
  //
  // Scale: session_window is a single hash aggregation after one exchange
  // on user_id — no window-function sort of the whole event history.
  private def q65(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start_us"))
  private val q65Sql =
    """WITH e AS (
         SELECT user_id, epoch_us(ts::TIMESTAMP) AS t FROM events),
       flags AS (
         SELECT user_id, t,
           CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                     >= 1800000000
                THEN 1 ELSE 0 END AS new_s
         FROM e),
       sess AS (
         SELECT user_id, t,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM flags)
       SELECT user_id, min(t) AS session_start_us,
         max(t) + 1800000000 AS session_end_us, count(*) AS n_events
       FROM sess GROUP BY user_id, sid
       ORDER BY user_id, session_start_us"""

  // ---- q66: ordered funnel (view → click → purchase) --------------------------
  // Greedy earliest-event chaining: first view, then the first click
  // strictly after it, then the first purchase strictly after that. The
  // per-step reached-user counts are the funnel report.
  //
  // Scale: each step is a filtered aggregation to |users| rows; the chain
  // joins run on those small per-user relations, not on raw events.
  private def q66(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    // Each step relation is |users|-sized but consumed twice (next step's
    // join + its own count) — checkpoint them so the plan embeds the
    // events scan once per step, not once per downstream consumer. The
    // blocks live as long as the returned (lazy) DataFrame and are
    // reclaimed by the ContextCleaner once it is dropped — a query-shaped
    // helper cannot unpersist eagerly without killing its own plan.
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t_view"))
      .localCheckpoint(false) // stats-ok: one-shot funnel stage consumed twice
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t_click"))
      .localCheckpoint(false) // stats-ok: one-shot funnel stage consumed twice
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t_purchase"))
    val one = v.agg(count(lit(1)).as("n1"))
      .crossJoin(c.agg(count(lit(1)).as("n2")))
      .crossJoin(p.agg(count(lit(1)).as("n3")))
    one.select(stack(lit(3),
      lit("1_view"), col("n1"), lit("2_click"), col("n2"),
      lit("3_purchase"), col("n3")).as(Seq("step", "n_users")))
      .orderBy(col("step"))
  }
  private val q66Sql =
    """WITH e AS (
         SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS t FROM events),
       v AS (SELECT user_id, min(t) AS t_view FROM e
             WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, min(t) AS t_click FROM e
             JOIN v ON e.user_id = v.user_id
             WHERE event_type = 'click' AND t > t_view GROUP BY e.user_id),
       p AS (SELECT e.user_id, min(t) AS t_purchase FROM e
             JOIN c ON e.user_id = c.user_id
             WHERE event_type = 'purchase' AND t > t_click GROUP BY e.user_id)
       SELECT step, n_users FROM (
         SELECT '1_view' AS step, count(*) AS n_users FROM v
         UNION ALL SELECT '2_click', count(*) FROM c
         UNION ALL SELECT '3_purchase', count(*) FROM p)
       ORDER BY step"""

  /** Retention cohorts: assign each user to the cohort of their first-
    * activity day, then count distinct users active in each whole-week
    * offset from their cohort day — the standard product-analytics
    * retention triangle.
    *
    * Scale design: the first-touch table is a partial-aggregated
    * `min(day)` per user (map-side combine, one exchange on the user key);
    * the events side of the enrichment join shuffles on the same key, so
    * the join itself adds no exchange beyond those two, and no sort — the
    * window-function formulation (`min over (partition by user)`) would
    * shuffle the same rows AND sort every partition. The final
    * (cohort, offset) aggregation runs on the already-joined stream with
    * partial distinct-user aggregation below its exchange.
    */
  def retention(df: DataFrame, userCol: String, tsCol: String,
      bucketDays: Int = 7): DataFrame = {
    val e = df.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
    val first = e.groupBy(col("u")).agg(min(col("day")).as("cohort_day"))
    e.join(first, "u")
      .groupBy(col("cohort_day"),
        floor(datediff(col("day"), col("cohort_day")) / bucketDays)
          .as("bucket_offset"))
      .agg(countDistinct(col("u")).as("users"))
  }

  // ---- q75: retention cohorts -------------------------------------------------
  private def q75(s: SparkSession, d: String): DataFrame =
    retention(Tables.events(s, d), "user_id", "ts", bucketDays = 7)
      .withColumnRenamed("bucket_offset", "week_offset")
      .orderBy(col("cohort_day"), col("week_offset"))
  private val q75Sql =
    """WITH e AS (SELECT user_id, ts::DATE AS day FROM events),
       f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
       SELECT cohort_day,
         ((e.day - f.cohort_day) // 7)::BIGINT AS week_offset,
         count(DISTINCT e.user_id)::BIGINT AS users
       FROM e JOIN f USING (user_id)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Regular-grid gap filling with forward fill (time-series resampling):
    * per key, build the complete daily spine from the key's first to last
    * observed day, left-join the observed daily aggregate onto it, and
    * carry the last observed value across the gaps — the standard
    * densification step before any per-entity time-series model.
    *
    * Scale design: the daily aggregate collapses the raw event stream to
    * |key × active-days| rows with map-side partials before its exchange;
    * the spine is generated per key from that already-collapsed relation
    * (`sequence` + `explode` — pure map work, no driver loop, no global
    * calendar join); and the forward-fill window re-uses the same hash
    * partitioning on the key, sorting only each key's |days| rows — the
    * raw events are never window-sorted. Spine cardinality is bounded by
    * key-count × date-span, independent of event volume.
    *
    * The daily relation is referenced twice (bounds + join), so the lazy
    * plan scans the raw events twice; in a recurring pipeline,
    * `localCheckpoint` the daily aggregate (the q66 funnel pattern) or
    * persist it — it is |key × active-days| rows, trivially cacheable.
    */
  def gapFillDaily(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"),
        col(valueCol).as("v"))
      .groupBy(col("k"), col("day"))
      .agg(count(lit(1)).as("n_obs"),
        // deterministic average: exact decimal sum, ONE double division —
        // bit-identical in both engines (a plain avg(double) folds in
        // partition order, so engines differ by an ulp). NOT rounded here:
        // round() itself is engine-divergent on half boundaries (Spark
        // rounds the shortest decimal representation, DuckDB the binary
        // value), so rounding happens once, at output, via bin6.
        (sum(col("v").cast("decimal(38,6)")).cast("double")
          / count(lit(1))).as("day_avg"))
    val spine = daily.groupBy(col("k"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("k"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("k", "day"), "left")
      .select(col("k"), col("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        bin6(last(col("day_avg"), ignoreNulls = true).over(w))
          .as("filled_avg"))
  }

  /** Daily gap fill with LINEAR INTERPOLATION — the other standard
    * resampling fill (forward fill is [[gapFillDaily]]): a missing day
    * gets prev + (next − prev) · gap-position, the straight line between
    * its surrounding observations. The spine spans each key's observed
    * [min, max] day, so interior gaps always have both neighbors; observed
    * days keep their own value (the prev_day = next_day branch — the
    * formula would be 0/0 there).
    *
    * Scale: identical shape to [[gapFillDaily]] — events collapse to
    * (key, day) with map-side partials; the four neighbor windows run
    * over the |key × days| spine only, never the raw event history, in
    * ONE partition pass (same window key both directions).
    */
  def gapFillInterpolate(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"),
        col(valueCol).as("v"))
      .groupBy(col("k"), col("day"))
      .agg(count(lit(1)).as("n_obs"),
        // deterministic average: exact decimal sum, ONE double division —
        // bit-identical in both engines (a plain avg(double) folds in
        // partition order, so engines differ by an ulp). NOT rounded here:
        // round() itself is engine-divergent on half boundaries (Spark
        // rounds the shortest decimal representation, DuckDB the binary
        // value), so rounding happens once, at output, via bin6.
        (sum(col("v").cast("decimal(38,6)")).cast("double")
          / count(lit(1))).as("day_avg"))
    val spine = daily.groupBy(col("k"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("k"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val back = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("day_avg").isNotNull, col("day"))
    spine.join(daily, Seq("k", "day"), "left")
      .select(col("k"), col("day"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        last(col("day_avg"), ignoreNulls = true).over(back).as("pv"),
        last(obsDay, ignoreNulls = true).over(back).as("pd"),
        first(col("day_avg"), ignoreNulls = true).over(fwd).as("nv"),
        first(obsDay, ignoreNulls = true).over(fwd).as("nd"))
      .select(col("k"), col("day"), col("n_obs"),
        bin6(when(col("pd") === col("nd"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * datediff(col("day"), col("pd"))
            / datediff(col("nd"), col("pd"))))
          .as("interp_avg"))
  }

  /** EXACT percentiles without a global sort — distributed selection by
    * iterative range narrowing, the classic answer to "exact median of
    * 100 TB": Spark's `percentile` buffers values per group and a
    * sort-based formulation total-orders the corpus; this instead runs
    * O(log_B(n/cutover)) rounds, each a single-column scan producing
    * COUNTS (≤ `buckets` longs to the driver — partition metadata, the
    * dedupClusters discipline), narrowing the candidate value range
    * until ≤ `cutover` rows remain, which one tiny sorted partition
    * finishes. 1024 buckets reach a 64k remainder from 10^12 rows in ~3
    * rounds.
    *
    * Robustness: bucket COUNTS only nominate a threshold pair (t0, t1);
    * the decision uses an exact recount with plain comparisons, so
    * floor-vs-compare float drift at bucket edges cannot misroute the
    * rank — a wrong nomination self-corrects by re-narrowing. Duplicate
    * floods shrink the range to double resolution and return the
    * duplicated value. NaNs/nulls are excluded.
    *
    * Semantics match `percentile`/`quantile_cont` (linear interpolation
    * at h = (n−1)·p): each requested p costs at most two order
    * statistics. Values are re-scanned per round rather than cached —
    * at scale a pruned single-column parquet re-scan is cheaper than
    * pinning the column in memory.
    */
  def percentileNoSort(df: DataFrame, valueCol: String, ps: Seq[Double],
      buckets: Int = 1024, cutover: Long = 65536): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles must lie in [0, 1]")
    require(buckets >= 2 && cutover >= 1 && cutover <= Int.MaxValue,
      "need >= 2 buckets, cutover in [1, Int.MaxValue]")
    val s = df.sparkSession
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    val n = vals.count()
    require(n > 0, s"$valueCol has no non-null values")
    val mm = vals.agg(min(col("v")), max(col("v"))).collect()(0)
    val (gLo, gHi) = (mm.getDouble(0), mm.getDouble(1))

    // (k+1)-th smallest value, 0-based rank k.
    def orderStat(k: Long): Double = {
      var (lo, hi) = (gLo, gHi)
      var below = 0L
      var remaining = n
      var rounds = 0
      while (remaining > cutover && hi > lo && rounds < 200) {
        rounds += 1
        val width = hi - lo
        val counts = vals.filter(col("v") >= lo && col("v") <= hi)
          .select(least(lit(buckets - 1),
            floor((col("v") - lo) * buckets / width).cast("int")).as("b"))
          .groupBy(col("b")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        var cum = below
        var b = 0
        while (b < buckets - 1 && cum + counts.getOrElse(b, 0L) < k + 1) {
          cum += counts.getOrElse(b, 0L); b += 1
        }
        val t0 = lo + b * width / buckets
        val t1 = if (b == buckets - 1) hi else lo + (b + 1) * width / buckets
        if (!(t1 > t0)) return t0 // range at double resolution: all equal
        // Exact recount with comparisons only — the authoritative counts.
        val r = vals.agg(
          sum(when(col("v") < t0, 1L).otherwise(0L)).as("below"),
          sum(when(col("v") >= t0 && col("v") <= t1, 1L).otherwise(0L))
            .as("inR")).collect()(0)
        val (b0, inR) = (r.getLong(0), r.getLong(1))
        if (b0 > k) hi = t0
        else if (b0 + inR <= k) lo = t1
        else { lo = t0; hi = t1; below = b0; remaining = inR }
      }
      vals.filter(col("v") >= lo && col("v") <= hi)
        .orderBy(col("v"))
        .offset((k - below).toInt).limit(1)
        .collect()(0).getDouble(0)
    }

    import s.implicits._
    ps.map { p =>
      val h = (n - 1) * p
      val r0 = math.floor(h).toLong
      val f = h - r0
      val v0 = orderStat(r0)
      val v = if (f == 0.0) v0 else v0 + f * (orderStat(r0 + 1) - v0)
      (p, v)
    }.toDF("p", "value")
  }

  // ---- q132: exact percentile without a global sort ----------------------------
  // Corpus-wide exact quartiles of extended price via distributed
  // selection; the oracle's quantile_cont walks a real sort. round(4) is
  // the q47-established parity bar for the interpolation arithmetic.
  private def q132(s: SparkSession, d: String): DataFrame =
    percentileNoSort(Tables.lineitem(s, d), "l_extendedprice",
        Seq(0.25, 0.5, 0.75), cutover = 4096)
      .select(col("p"), round(col("value"), 4).as("value"))
      .orderBy(col("p"))
  private val q132Sql =
    """SELECT 0.25::DOUBLE AS p,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS value FROM lineitem
       UNION ALL
       SELECT 0.5::DOUBLE, round(quantile_cont(l_extendedprice, 0.5), 4)
       FROM lineitem
       UNION ALL
       SELECT 0.75::DOUBLE, round(quantile_cont(l_extendedprice, 0.75), 4)
       FROM lineitem
       ORDER BY p"""

  // ---- q84: daily gap fill + forward fill ------------------------------------
  private def q84(s: SparkSession, d: String): DataFrame =
    gapFillDaily(Tables.events(s, d).filter(col("user_id") < 300),
        "user_id", "ts", "value")
      .withColumnRenamed("k", "user_id")
      .orderBy(col("user_id"), col("day"))
  private val q84Sql =
    """WITH e AS (
         SELECT user_id, ts::DATE AS day, value FROM events
         WHERE user_id < 300),
       daily AS (
         SELECT user_id, day, count(*) AS n_obs,
           sum(value::DECIMAL(38,6))::DOUBLE / count(*) AS day_avg
         FROM e GROUP BY 1, 2),
       bounds AS (
         SELECT user_id, min(day) AS d0, max(day) AS d1
         FROM daily GROUP BY 1),
       spine AS (
         SELECT user_id,
           unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
         FROM bounds)
       SELECT s.user_id, s.day,
         coalesce(daily.n_obs, 0)::BIGINT AS n_obs,
         floor(last_value(daily.day_avg IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           * 1e6 + 0.5) / 1e6 AS filled_avg
       FROM spine s LEFT JOIN daily
         ON s.user_id = daily.user_id AND s.day = daily.day
       ORDER BY s.user_id, s.day"""

  // ---- q125: daily gap fill + linear interpolation ----------------------------
  // Same spine as q84; missing days get the straight line between their
  // surrounding observations. Both engines evaluate the identical
  // prev + (next−prev)·i/m double expression over bit-identical inputs
  // (exact-decimal day sums, datediff as integer arithmetic), and the
  // output rounding is the shared binary floor(x·1e6+0.5)/1e6 — library
  // round() flips on exact half boundaries (see FixedPoint.bin6).
  private def q125(s: SparkSession, d: String): DataFrame =
    gapFillInterpolate(Tables.events(s, d).filter(col("user_id") < 300),
        "user_id", "ts", "value")
      .withColumnRenamed("k", "user_id")
      .orderBy(col("user_id"), col("day"))
  private val q125Sql =
    """WITH e AS (
         SELECT user_id, ts::DATE AS day, value FROM events
         WHERE user_id < 300),
       daily AS (
         SELECT user_id, day, count(*) AS n_obs,
           sum(value::DECIMAL(38,6))::DOUBLE / count(*) AS day_avg
         FROM e GROUP BY 1, 2),
       bounds AS (
         SELECT user_id, min(day) AS d0, max(day) AS d1
         FROM daily GROUP BY 1),
       spine AS (
         SELECT user_id,
           unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
         FROM bounds),
       nb AS (
         SELECT s.user_id, s.day,
           coalesce(daily.n_obs, 0)::BIGINT AS n_obs,
           last_value(daily.day_avg IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           last_value(CASE WHEN daily.day_avg IS NOT NULL THEN s.day END
             IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
           first_value(daily.day_avg IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           first_value(CASE WHEN daily.day_avg IS NOT NULL THEN s.day END
             IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
         FROM spine s LEFT JOIN daily
           ON s.user_id = daily.user_id AND s.day = daily.day)
       SELECT user_id, day, n_obs,
         floor((CASE WHEN pd = nd THEN pv
              ELSE pv + (nv - pv) * (day - pd) / (nd - pd)
         END) * 1e6 + 0.5) / 1e6 AS interp_avg
       FROM nb ORDER BY user_id, day"""

  /** Winsorized (percentile-clipped) per-group statistics: values below
    * the group's `loQ` quantile or above its `hiQ` quantile are clamped to
    * the bound before averaging — the standard outlier-robust aggregate
    * (and the "clip extreme document lengths/scores" step of a data
    * pipeline). Reports how many rows each side actually clipped.
    *
    * Bounds are rounded to 4 decimals BEFORE comparing, in both engines —
    * interpolated percentiles are the one place the engines' last-ulp
    * doubles could disagree, and a boundary value flipping sides would
    * change the clip counts; after identical rounding both engines compare
    * identical doubles. Exact `percentile` keeps the oracle exact; at
    * 100 TB swap in `approx_percentile` (mergeable t-digest — the q57
    * pattern shows how to keep that oracle-verifiable too). The bounds
    * relation is |groups| rows, broadcast back onto the corpus — one
    * corpus scan per pass, no corpus reshuffle beyond the final partial-
    * aggregated groupBy.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double, hiQ: Double): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    val bounds = df.groupBy(col(groupCol)).agg(
      round(expr(s"percentile($valueCol, ${loQ}D)"), 4).as("lo_b"),
      round(expr(s"percentile($valueCol, ${hiQ}D)"), 4).as("hi_b"))
    val v = col(valueCol)
    df.join(broadcast(bounds), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        count(when(v < col("lo_b"), 1)).as("n_clipped_lo"),
        count(when(v > col("hi_b"), 1)).as("n_clipped_hi"),
        round(avg(greatest(col("lo_b"), least(col("hi_b"), v))), 4)
          .as("avg_winsorized"))
  }

  // ---- q90: winsorized outlier clipping ---------------------------------------
  private def q90(s: SparkSession, d: String): DataFrame =
    winsorize(Tables.orders(s, d), "o_orderpriority", "o_totalprice",
        loQ = 0.05, hiQ = 0.95)
      .orderBy(col("o_orderpriority"))
  private val q90Sql =
    """WITH b AS (
         SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.05), 4) AS lo_b,
           round(quantile_cont(o_totalprice, 0.95), 4) AS hi_b
         FROM orders GROUP BY 1)
       SELECT o_orderpriority, count(*) AS n,
         count(*) FILTER (WHERE o_totalprice < lo_b) AS n_clipped_lo,
         count(*) FILTER (WHERE o_totalprice > hi_b) AS n_clipped_hi,
         round(avg(greatest(lo_b, least(hi_b, o_totalprice))), 4)
           AS avg_winsorized
       FROM orders JOIN b USING (o_orderpriority)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Time-weighted average over an irregular series (TWAP): each
    * observation's value is weighted by how long it remained current —
    * the time until the key's next observation. The last observation has
    * no known holding interval and carries zero weight (standard TWAP
    * convention); a key with a single observation yields null.
    *
    * Simultaneous observations (equal key+timestamp) are merged by mean
    * FIRST — otherwise `lead` over tied timestamps would hand the
    * holding interval to an arbitrary member of the tie and the result
    * would be partition-order-dependent (and engine-dependent).
    *
    * Scale design: the tie-merge collapses the raw stream with map-side
    * partials on (key, t); the window then exchanges the already-
    * collapsed points once on the key and sorts only per key for `lead`
    * (unavoidable — the weight IS the gap to the next point); the final
    * weighted sums aggregate with map-side partials on the window's
    * partitioning, adding no further exchange.
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("t"))
    df.select(col(keyCol), unix_micros(col(tsCol)).as("t"),
        col(valueCol).cast("double").as("v"))
      .groupBy(col(keyCol), col("t"))
      .agg(avg(col("v")).as("v"))
      .withColumn("t_next", lead(col("t"), 1).over(w))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_points"),
        round(sum((col("t_next") - col("t")) * col("v"))
          / sum(col("t_next") - col("t")), 6).as("twap"))
  }

  // ---- q97: time-weighted average ---------------------------------------------
  private def q97(s: SparkSession, d: String): DataFrame =
    timeWeightedAvg(Tables.events(s, d), "user_id", "ts", "value")
      .orderBy(col("user_id"))
  private val q97Sql =
    """WITH e AS (
         SELECT user_id, epoch_us(ts::TIMESTAMP) AS t,
           avg(value::DOUBLE) AS v
         FROM events GROUP BY 1, 2),
       g AS (
         SELECT user_id, t, v,
           lead(t) OVER (PARTITION BY user_id ORDER BY t) AS t_next
         FROM e)
       SELECT user_id, count(*) AS n_points,
         round(sum((t_next - t) * v) / sum(t_next - t), 6) AS twap
       FROM g GROUP BY user_id ORDER BY user_id"""

  /** Per-key ordinary-least-squares trend: slope and intercept of y over
    * x from the five algebraic sums (n, Σx, Σy, Σxy, Σx²) — the
    * "metric drifting?" detector over millions of keys at once. Emits
    * null when the variance denominator is zero (single point or
    * constant x).
    *
    * `x` is caller-supplied so it can be CENTERED (e.g. days since the
    * period start, not epoch micros): with x ~ 1e15 the Σx² term
    * overwhelms double precision and n·Σx² − (Σx)² cancels
    * catastrophically; with x in the tens both engines agree to the
    * rounding digit.
    *
    * Scale design: ONE partial-aggregated hash aggregation — the five
    * sums collapse map-side, |keys| rows cross the wire, and the
    * slope/intercept arithmetic is a projection. No window, no sort,
    * no second pass (contrast: a window-based fit would sort every
    * key's history).
    */
  def linearTrend(df: DataFrame, keyCol: String, x: Column, y: Column): DataFrame = {
    val agg = df.select(col(keyCol), x.cast("double").as("x"),
        y.cast("double").as("y"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
    agg.select(col(keyCol), col("n"),
      when(den === 0, lit(null)).otherwise(round(slope, 6) + lit(0.0))
        .as("slope"),
      when(den === 0, lit(null))
        .otherwise(round((col("sy") - slope * col("sx")) / col("n"), 6)
          + lit(0.0))
        .as("intercept"))
  }

  // ---- q101: per-user value trend over time ------------------------------------
  // x = fractional days since the fixture period start (2024-01-01) —
  // centered small so the OLS sums stay in the exact range of doubles.
  private def q101(s: SparkSession, d: String): DataFrame =
    linearTrend(Tables.events(s, d), "user_id",
        (unix_micros(col("ts")) - lit(1704067200000000L)) / 86400000000.0d,
        col("value"))
      .orderBy(col("user_id"))
  private val q101Sql =
    """WITH p AS (
         SELECT user_id,
           (epoch_us(ts::TIMESTAMP) - 1704067200000000) / 86400000000.0 AS x,
           value::DOUBLE AS y
         FROM events),
       a AS (
         SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx
         FROM p GROUP BY 1)
       SELECT user_id, n,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
           ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 END
           AS slope,
         CASE WHEN n * sxx - sx * sx = 0 THEN NULL
           ELSE round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
             / n, 6) + 0.0 END AS intercept
       FROM a ORDER BY user_id"""

  /** First-order transition matrix over per-key ordered event sequences:
    * counts and row-normalized probabilities of each (state → next state)
    * step — the Markov view of user journeys (what follows a `view`?)
    * and the input to next-event prediction baselines.
    *
    * Ordering ties are broken by `tieCol` (a unique id) — `lead` over a
    * timestamp alone would pick an arbitrary member of simultaneous
    * events and the matrix would be partition-order-dependent.
    *
    * Scale design: one exchange on the key for the `lead` window (sort
    * is per key), then the pair counts collapse map-side to at most
    * |states|² rows; the normalizing per-source totals derive from that
    * tiny relation and broadcast back. The event log is shuffled once.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val pairs = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(stateCol).as("state"))
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .filter(col("next_state").isNotNull)
      .groupBy(col("state"), col("next_state"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("state")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "state")
      .select(col("state"), col("next_state"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("p"))
  }

  // ---- q103: event-type transition matrix --------------------------------------
  private def q103(s: SparkSession, d: String): DataFrame =
    transitionMatrix(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type")
      .orderBy(col("state"), col("next_state"))
  private val q103Sql =
    """WITH seq AS (
         SELECT event_type AS state,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_state
         FROM events),
       pairs AS (
         SELECT state, next_state, count(*) AS n FROM seq
         WHERE next_state IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT state, sum(n)::BIGINT AS tot FROM pairs GROUP BY 1)
       SELECT pairs.state, next_state, n, round(n::DOUBLE / tot, 6) AS p
       FROM pairs JOIN tot ON pairs.state = tot.state
       ORDER BY pairs.state, next_state"""

  /** Two-step transition probabilities — the square of the
    * [[transitionMatrix]]: p₂(a→c) = Σ_b p(a→b)·p(b→c), answering "where
    * does a session land TWO events from here" (the Markov-chain lookahead
    * a next-event matrix can't). Exact cross-engine algebra: each path
    * term floors independently as (n_ab·n_bc·10⁶) div (r_a·r_b) and the
    * flooring-inside-the-sum convention is documented — both engines sum
    * identical BIGINT terms, so no float or summation-order divergence
    * exists. `path_weight` = Σ_b n_ab·n_bc (the raw two-step path count
    * product) rides along for support filtering.
    *
    * Scale design: the event log shuffles once for the per-key `lead`
    * window (same exchange [[transitionMatrix]] pays); everything after
    * operates on the |states|²-sized pair relation — the self-join and
    * totals joins are metadata-sized at any corpus scale.
    */
  def markovTwoStep(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val pairs = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(stateCol).as("state"))
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .filter(col("next_state").isNotNull)
      .groupBy(col("state"), col("next_state"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("state")).agg(sum(col("n")).as("tot"))
    val step = pairs.join(broadcast(totals), "state")
      .select(col("state"), col("next_state"), col("n"), col("tot"))
    step.as("p1").join(step.as("p2"),
        col("p1.next_state") === col("p2.state"))
      .groupBy(col("p1.state").as("state"), col("p2.next_state").as("next2"))
      .agg(sum(expr("cast(p1.n as decimal(38,0)) * p2.n")).cast("long")
          .as("path_weight"),
        sum(expr("""(cast(p1.n as decimal(38,0)) * p2.n * 1000000)
            div (cast(p1.tot as decimal(38,0)) * p2.tot)"""))
          .as("p2_micro"))
  }

  // ---- q266: two-step event-type transitions -----------------------------------
  private def q266(s: SparkSession, d: String): DataFrame =
    markovTwoStep(Tables.events(s, d), "user_id", "ts", "event_id",
        "event_type")
      .orderBy(col("state"), col("next2"))
  private val q266Sql =
    """WITH seq AS (
         SELECT event_type AS state,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS next_state
         FROM events),
       pairs AS (
         SELECT state, next_state, count(*)::BIGINT AS n FROM seq
         WHERE next_state IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT state, sum(n)::BIGINT AS tot FROM pairs GROUP BY 1),
       step AS (
         SELECT p.state, p.next_state, p.n, t.tot
         FROM pairs p JOIN tot t ON p.state = t.state)
       SELECT p1.state, p2.next_state AS next2,
         sum(p1.n::HUGEINT * p2.n)::BIGINT AS path_weight,
         sum((p1.n::HUGEINT * p2.n * 1000000)
           // (p1.tot::HUGEINT * p2.tot))::BIGINT AS p2_micro
       FROM step p1 JOIN step p2 ON p1.next_state = p2.state
       GROUP BY 1, 2 ORDER BY p1.state, next2"""

  /** Tukey-fence outlier audit per group: exact nearest-rank quartiles
    * over the (group, value) collapse, fences at Q1 − 1.5·IQR /
    * Q3 + 1.5·IQR (as (3·IQR) div 2 — pure integers), and the exact
    * count + micro-share of rows outside them. The box-plot rule — the
    * robust-outlier companion to the MAD alerts ([[dailyMadAlerts]]),
    * tuned to distribution SHAPE rather than a rolling center.
    *
    * Scale design: the corpus collapses once to per-(group, value)
    * counts; quartiles come from the same per-group cumulative window as
    * [[decileTable]] (bounded when the value domain is quantized — cents
    * here), and `quantized = false` swaps it for the
    * [[DistributedPrefix.cumSums]] two-pass machinery when the domain is
    * continuous (same contract as every cumulative-family member); the
    * outlier count is a broadcast of |groups| fence rows back onto the
    * collapse, never a second corpus pass.
    */
  def iqrOutliers(df: DataFrame, groupCol: String,
      valueCol: Column, quantized: Boolean = false): DataFrame = {
    val byV = df.select(col(groupCol).as("k"), valueCol.cast("long").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        byV.select(col("k"), col("v"), sum(col("c")).over(w).as("cum"),
          sum(col("c")).over(Window.partitionBy(col("k"))).as("n"))
      else
        DistributedPrefix.cumSums(byV, Seq("k"), Seq(col("v")), Seq("c"))
          .join(broadcast(byV.groupBy(col("k")).agg(sum(col("c")).as("n"))),
            Seq("k"))
          .select(col("k"), col("v"), col("cum_c").as("cum"), col("n"))
    val fences = cum
      .groupBy(col("k"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3"))
      .select(col("k"), col("n"), col("q1"), col("q3"),
        expr("q1 - (3L * (q3 - q1)) div 2").as("low_fence"),
        expr("q3 + (3L * (q3 - q1)) div 2").as("high_fence"))
    byV.join(broadcast(fences), "k")
      .groupBy(col("k"))
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("q3")).as("q3"),
        max(col("low_fence")).as("low_fence"),
        max(col("high_fence")).as("high_fence"),
        sum(when(col("v") < col("low_fence")
          || col("v") > col("high_fence"), col("c"))
          .otherwise(lit(0L))).as("n_outliers"))
      .withColumn("outlier_micro", expr("(n_outliers * 1000000L) div n"))
  }

  // ---- q283: which event types have heavy tails under the box-plot rule? ------
  private def q283(s: SparkSession, d: String): DataFrame =
    iqrOutliers(Tables.events(s, d), "event_type", floor(col("value") * 100),
        quantized = true)
      .orderBy(col("k"))
  private[operators] val q283Sql =
    """WITH byv AS (
         SELECT event_type AS k, floor(value * 100)::BIGINT AS v,
           count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       cum AS (
         SELECT k, v, c,
           sum(c) OVER (PARTITION BY k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS n
         FROM byv),
       f AS (
         SELECT k, max(n)::BIGINT AS n,
           min(CASE WHEN cum * 4 >= n THEN v END)::BIGINT AS q1,
           min(CASE WHEN cum * 4 >= n * 3 THEN v END)::BIGINT AS q3
         FROM cum GROUP BY k),
       fe AS (
         SELECT k, n, q1, q3,
           (q1 - (3 * (q3 - q1)) // 2)::BIGINT AS low_fence,
           (q3 + (3 * (q3 - q1)) // 2)::BIGINT AS high_fence
         FROM f)
       SELECT fe.k, fe.n, fe.q1, fe.q3, fe.low_fence, fe.high_fence,
         sum(CASE WHEN byv.v < fe.low_fence OR byv.v > fe.high_fence
           THEN byv.c ELSE 0 END)::BIGINT AS n_outliers,
         ((sum(CASE WHEN byv.v < fe.low_fence OR byv.v > fe.high_fence
           THEN byv.c ELSE 0 END) * 1000000) // fe.n)::BIGINT AS outlier_micro
       FROM byv JOIN fe ON byv.k = fe.k
       GROUP BY fe.k, fe.n, fe.q1, fe.q3, fe.low_fence, fe.high_fence
       ORDER BY fe.k"""

  /** Top-k members per group with an OTHERS rollup — the BI "top 3 plus
    * everyone else" table whose naïve form ranks the ENTIRE tail just to
    * throw it away. Here only the top k are ranked (a per-group window
    * the WindowGroupLimit rule prunes map-side); the OTHERS row derives
    * as total − Σtop from the group totals, so the tail is never sorted
    * or ranked. OTHERS carries rank k+1 and appears only when the tail
    * is nonempty. Ties break on member ascending (string compare — both
    * engines cast identically).
    *
    * Scale design: one (group, member) collapse, one map-side-pruned
    * top-k window over it, one metadata-sized totals aggregate joined
    * back broadcast.
    */
  def topKWithOthers(df: DataFrame, groupCol: String, memberCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, "topKWithOthers needs k >= 1")
    val counts = df.select(col(groupCol).as("g"),
        memberCol.cast("string").as("member"))
      .groupBy(col("g"), col("member")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("g"))
      .orderBy(col("n").desc, col("member"))
    val top = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("g"), col("rank").cast("long").as("rank"),
        col("member"), col("n"))
    val totals = counts.groupBy(col("g")).agg(sum(col("n")).as("total"))
    val others = top.groupBy(col("g")).agg(sum(col("n")).as("topsum"))
      .join(broadcast(totals), "g")
      .filter(col("total") > col("topsum"))
      .select(col("g"), lit(k + 1L).as("rank"), lit("OTHERS").as("member"),
        (col("total") - col("topsum")).as("n"))
    top.unionAll(others)
  }

  // ---- q281: heaviest users per event type, tail rolled up --------------------
  private def q281(s: SparkSession, d: String): DataFrame =
    topKWithOthers(Tables.events(s, d), "event_type", col("user_id"), 3)
      .orderBy(col("g"), col("rank"))
  private[operators] val q281Sql =
    """WITH counts AS (
         SELECT event_type AS g, user_id::VARCHAR AS member,
           count(*)::BIGINT AS n
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT g, member, n,
           row_number() OVER (PARTITION BY g
             ORDER BY n DESC, member) AS rank
         FROM counts),
       top AS (
         SELECT g, rank::BIGINT AS rank, member, n FROM ranked
         WHERE rank <= 3),
       tot AS (SELECT g, sum(n)::BIGINT AS total FROM counts GROUP BY 1),
       ts AS (SELECT g, sum(n)::BIGINT AS topsum FROM top GROUP BY 1)
       SELECT g, rank, member, n FROM top
       UNION ALL
       SELECT tot.g, 4::BIGINT, 'OTHERS', (total - topsum)::BIGINT
       FROM tot JOIN ts ON tot.g = ts.g WHERE total > topsum
       ORDER BY g, rank"""

  /** Quantile treatment effect: the per-decile difference between a
    * treatment and a control cohort's value distributions — the A/B
    * readout a mean-difference test hides ("the median moved 2 units but
    * the top decile moved 40"). Both decile rows come from ONE
    * [[decileTable]] pass (grouped by cohort, same exact nearest-rank
    * machinery and `quantized` switch), then unpivot against each other.
    *
    * Scale design: whatever decileTable costs (one exchange of the
    * (cohort, value) collapse); the effect table itself is a 1×1
    * broadcast join of two wide rows unpivoted to 9.
    */
  def quantileTreatmentEffect(df: DataFrame, cohortCol: Column,
      treatment: String, control: String, valueCol: Column,
      quantized: Boolean = false): DataFrame = {
    val dt = decileTable(
      df.filter(cohortCol.isin(treatment, control))
        .withColumn("__qte_cohort", cohortCol),
      "__qte_cohort", valueCol, quantized)
    val t = dt.filter(col("__qte_cohort") === treatment)
      .select(col("n").as("n_treatment") +:
        (1 to 9).map(i => col(s"d$i").as(s"t$i")): _*)
    val c = dt.filter(col("__qte_cohort") === control)
      .select(col("n").as("n_control") +:
        (1 to 9).map(i => col(s"d$i").as(s"c$i")): _*)
    val stackArgs = (1 to 9).flatMap(i =>
      Seq(lit(i.toLong), col(s"t$i"), col(s"c$i")))
    t.crossJoin(broadcast(c))
      .select(col("n_treatment"), col("n_control"),
        stack((lit(9) +: stackArgs): _*)
          .as(Seq("decile", "v_treatment", "v_control")))
      .select(col("decile"), col("n_treatment"), col("n_control"),
        col("v_treatment"), col("v_control"),
        (col("v_treatment") - col("v_control")).as("delta"))
  }

  // ---- q278: purchase-vs-view value shift, decile by decile -------------------
  private def q278(s: SparkSession, d: String): DataFrame =
    quantileTreatmentEffect(Tables.events(s, d), col("event_type"),
        "purchase", "view", floor(col("value") * 100), quantized = true)
      .orderBy(col("decile"))
  private val q278Sql =
    """WITH byv AS (
         SELECT event_type AS k, floor(value * 100)::BIGINT AS v,
           count(*)::BIGINT AS c
         FROM events WHERE event_type IN ('purchase', 'view')
         GROUP BY 1, 2),
       cum AS (
         SELECT k, v,
           sum(c) OVER (PARTITION BY k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS n
         FROM byv),
       wide AS (
         SELECT k, max(n)::BIGINT AS n,
           min(CASE WHEN cum * 10 >= n * 1 THEN v END)::BIGINT AS d1,
           min(CASE WHEN cum * 10 >= n * 2 THEN v END)::BIGINT AS d2,
           min(CASE WHEN cum * 10 >= n * 3 THEN v END)::BIGINT AS d3,
           min(CASE WHEN cum * 10 >= n * 4 THEN v END)::BIGINT AS d4,
           min(CASE WHEN cum * 10 >= n * 5 THEN v END)::BIGINT AS d5,
           min(CASE WHEN cum * 10 >= n * 6 THEN v END)::BIGINT AS d6,
           min(CASE WHEN cum * 10 >= n * 7 THEN v END)::BIGINT AS d7,
           min(CASE WHEN cum * 10 >= n * 8 THEN v END)::BIGINT AS d8,
           min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS d9
         FROM cum GROUP BY k),
       t AS (SELECT * FROM wide WHERE k = 'purchase'),
       c AS (SELECT * FROM wide WHERE k = 'view'),
       u AS (
         SELECT 1::BIGINT AS decile, t.n AS n_treatment, c.n AS n_control,
           t.d1 AS v_treatment, c.d1 AS v_control FROM t, c
         UNION ALL SELECT 2, t.n, c.n, t.d2, c.d2 FROM t, c
         UNION ALL SELECT 3, t.n, c.n, t.d3, c.d3 FROM t, c
         UNION ALL SELECT 4, t.n, c.n, t.d4, c.d4 FROM t, c
         UNION ALL SELECT 5, t.n, c.n, t.d5, c.d5 FROM t, c
         UNION ALL SELECT 6, t.n, c.n, t.d6, c.d6 FROM t, c
         UNION ALL SELECT 7, t.n, c.n, t.d7, c.d7 FROM t, c
         UNION ALL SELECT 8, t.n, c.n, t.d8, c.d8 FROM t, c
         UNION ALL SELECT 9, t.n, c.n, t.d9, c.d9 FROM t, c)
       SELECT decile, n_treatment, n_control, v_treatment, v_control,
         (v_treatment - v_control)::BIGINT AS delta
       FROM u ORDER BY decile"""

  /** Frequent 3-itemsets of a basket relation — the next rung above the
    * q177 pair rules ("which TRIOS sell together"), with the same
    * capped-enumeration scale contract as the co-occurrence family: at
    * most `maxItemsPerBasket` distinct items per basket enter the
    * enumeration (first by id — the deterministic QUALIFY convention),
    * bounding fan-out at C(cap, 3) per basket no matter how hot a
    * basket gets. Exact support counts; `minSupport` prunes the tail
    * before the final ranking.
    *
    * Scale design: the capped basket relation self-joins twice WITHIN
    * the basket key (co-partitioned — one exchange of the capped
    * relation, reused by both joins under AQE), then triples collapse
    * map-side to the |distinct-triples| relation.
    */
  def frequentTriples(baskets: DataFrame, basketCol: String, itemCol: String,
      maxItemsPerBasket: Int, minSupport: Long): DataFrame = {
    require(maxItemsPerBasket >= 3, "a triple needs three items per basket")
    val sp = baskets
      .select(col(basketCol).cast("long").as("c"),
        col(itemCol).cast("long").as("i"))
      .distinct()
    val w = Window.partitionBy(col("c")).orderBy(col("i"))
    val capped = sp.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxItemsPerBasket)
      .select(col("c"), col("i"))
    capped.as("x")
      .join(capped.as("y"), col("x.c") === col("y.c") && col("x.i") < col("y.i"))
      .join(capped.as("z"), col("y.c") === col("z.c") && col("y.i") < col("z.i"))
      .groupBy(col("x.i").as("i1"), col("y.i").as("i2"), col("z.i").as("i3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  // ---- q273: supplier trios customers buy together ----------------------------
  private def q273(s: SparkSession, d: String): DataFrame =
    frequentTriples(
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sup")),
        "c", "sup", maxItemsPerBasket = 12, minSupport = 2L)
      .orderBy(col("support").desc, col("i1"), col("i2"), col("i3"))
      .limit(30)
  private val q273Sql =
    """WITH sp AS (
         SELECT c, i FROM (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS i
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         QUALIFY row_number() OVER (PARTITION BY c ORDER BY i) <= 12)
       SELECT x.i AS i1, y.i AS i2, z.i AS i3, count(*)::BIGINT AS support
       FROM sp x JOIN sp y ON x.c = y.c AND x.i < y.i
         JOIN sp z ON y.c = z.c AND y.i < z.i
       GROUP BY 1, 2, 3 HAVING count(*) >= 2
       ORDER BY support DESC, i1, i2, i3 LIMIT 30"""

  /** Hour-of-week load profile: event counts and traffic share per
    * (day-of-week, hour-of-day) cell — the capacity-planning heatmap,
    * in pure epoch arithmetic (dow 0 = Monday via the epoch-day + 3
    * offset; never a timezone-dependent date function, per the
    * session-timezone advisory). share_micro = cell·10⁶ div total.
    *
    * Scale design: one partial-aggregated groupBy to ≤ 168 cells; the
    * grand total derives from those cells and broadcasts back.
    */
  def loadProfile(df: DataFrame, tsCol: String): DataFrame = {
    val cells = df
      .select(((dayId(col(tsCol)) + 3) % 7).as("dow"),
        hourOfDay(col(tsCol)).as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val total = cells.agg(sum(col("n")).as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hour"), col("n"),
        expr("(n * 1000000L) div total").as("share_micro"))
  }

  // ---- q274: when does event traffic arrive? -----------------------------------
  private def q274(s: SparkSession, d: String): DataFrame =
    loadProfile(Tables.events(s, d), "ts")
      .orderBy(col("dow"), col("hour"))
  private val q274Sql =
    """WITH cells AS (
         SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
           (epoch_us(ts) // 3600000000) % 24 AS hour,
           count(*)::BIGINT AS n
         FROM events GROUP BY 1, 2),
       t AS (SELECT sum(n)::BIGINT AS total FROM cells)
       SELECT dow::BIGINT AS dow, hour::BIGINT AS hour, n,
         ((n * 1000000) // total)::BIGINT AS share_micro
       FROM cells, t ORDER BY dow, hour"""

  /** Binary-decay exponentially weighted moving average of a per-day
    * metric: over the most recent `maxDays` days of each key, day at
    * recency-rank r (1 = latest) carries weight 2^(maxDays−r) — the
    * α = ½ EWMA, truncated, in EXACT integer algebra (the one decay
    * family whose weights are integers, so no pow/float enters the
    * score). Values quantize per row as floor(value·100) cents (the
    * file-wide convention — per-row, order-independent); the final
    * division truncates toward zero on both engines, negative sums
    * included. Emits the day count actually used, the latest epoch-day, and
    * ewma_cents.
    *
    * Scale design: one partial-aggregated groupBy collapses the event
    * log to (key, day) rows map-side; the recency window then runs per
    * key over ≤ a few thousand day rows — bounded state no matter how
    * many events a day holds.
    */
  def binaryEwma(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, maxDays: Int): DataFrame = {
    require(maxDays >= 1 && maxDays <= 32, "binaryEwma needs 1 <= maxDays <= 32")
    val daily = df
      .select(col(keyCol).as("k"),
        dayId(col(tsCol)).as("day_id"),
        floor(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("day_id"))
      .agg(sum(col("cents")).as("day_cents"))
    val w = Window.partitionBy(col("k")).orderBy(col("day_id").desc)
    daily.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxDays)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_days"),
        max(col("day_id")).as("last_day_id"),
        sum(expr(s"day_cents * shiftleft(1L, $maxDays - rn)")).as("num"),
        sum(expr(s"shiftleft(1L, $maxDays - rn)")).as("den"))
      .select(col("k"), col("n_days"), col("last_day_id"),
        expr("num div den").as("ewma_cents"))
  }

  // ---- q267: binary-decay EWMA of daily event value per type -------------------
  private def q267(s: SparkSession, d: String): DataFrame =
    binaryEwma(Tables.events(s, d), "event_type", "ts", "value", 16)
      .withColumnRenamed("k", "event_type")
      .orderBy(col("event_type"))
  private val q267Sql =
    """WITH daily AS (
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_id,
           sum(floor(value * 100)::BIGINT)::BIGINT AS day_cents
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT event_type, day_id, day_cents,
           row_number() OVER (PARTITION BY event_type
             ORDER BY day_id DESC) AS rn
         FROM daily)
       SELECT event_type, count(*)::BIGINT AS n_days,
         max(day_id)::BIGINT AS last_day_id,
         (sign(sum(day_cents * (1::BIGINT << (16 - rn))))::BIGINT
           * (abs(sum(day_cents * (1::BIGINT << (16 - rn))))
              // sum(1::BIGINT << (16 - rn))))::BIGINT AS ewma_cents
       FROM ranked WHERE rn <= 16
       GROUP BY event_type ORDER BY event_type"""

  /** Rolling z-score anomaly detection: each observation scored against
    * the trailing `windowSeconds` mean/stddev of its own key — the
    * streaming-adjacent "is this metric suddenly weird" detector, in
    * batch form. The z-score is ROUNDED before the threshold compare so
    * both engines flag identical rows (the raw mean/std can differ in
    * the last ulp from summation order; a boundary value must not flip).
    * Degenerate windows (fewer than two points, or zero variance) score
    * null and are never flagged.
    *
    * Scale design: one exchange on the key, one per-key sort shared by
    * both window aggregates (same frame); the bounded RANGE frame keeps
    * window buffers O(points-in-window), so state is bounded no matter
    * how long a key's history grows.
    */
  def rollingZscore(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowSeconds: Long, z: Double): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).cast("long"))
      .rangeBetween(-windowSeconds, 0)
    val m = avg(col(valueCol)).over(w)
    val sd = stddev_samp(col(valueCol)).over(w)
    // `+ 0.0` canonicalizes IEEE negative zero: a tiny-negative pre-round
    // value rounds to -0.0 on one engine and +0.0 on the other (value-equal
    // but bit-different, so hash-different). -0.0 + 0.0 = +0.0 exactly; all
    // other values (and null) pass through unchanged.
    val zscore = when(sd.isNull || sd === 0, lit(null))
      .otherwise(round((col(valueCol) - m) / sd, 4) + lit(0.0))
    df.withColumn("zscore", zscore)
      .withColumn("anomaly", when(col("zscore").isNull, lit(false))
        .otherwise(abs(col("zscore")) > z))
  }

  /** Month-of-year seasonal index: each calendar month's mean daily
    * value against the overall mean daily value, as an exact rational —
    * index_micro = (month_total · overall_days · 10⁶) div
    * (month_days · overall_total) — the classic seasonality table
    * (index 1.3 = "Decembers run 30% hot") computed without a single
    * float. Day counts come from DISTINCT observed days, so sparse
    * months aren't diluted by absent dates. The division truncates
    * toward zero on both engines, for totals of either sign.
    *
    * Scale design: one (month, day) collapse with map-side partials,
    * then twelve-row arithmetic against one broadcast overall row.
    */
  def seasonalIndex(df: DataFrame, tsCol: String,
      valueCol: Column): DataFrame = {
    val daily = df
      .select(dayId(col(tsCol).cast("timestamp"))
        .as("day_id"),
        floor(valueCol * 100).cast("long").as("cents"))
      .groupBy(col("day_id")).agg(sum(col("cents")).as("day_cents"))
      .withColumn("month",
        expr("month(date_from_unix_date(cast(day_id as int)))"))
    val monthly = daily.groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("day_cents")).as("total"))
    val overall = monthly.agg(sum(col("n_days")).as("all_days"),
      sum(col("total")).as("all_total"))
    monthly.crossJoin(broadcast(overall))
      .select(col("month").cast("long").as("month"), col("n_days"),
        col("total"),
        when(col("all_total") =!= 0,
          expr("""cast(total as decimal(38,0)) * all_days * 1000000L
            div (cast(n_days as decimal(38,0)) * all_total)"""))
          .otherwise(lit(null).cast("long")).as("index_micro"))
  }

  // ---- q308: which calendar months run hot? -----------------------------------
  private def q308(s: SparkSession, d: String): DataFrame =
    seasonalIndex(Tables.orders(s, d), "o_orderdate", col("o_totalprice"))
      .orderBy(col("month"))
  private val q308Sql =
    """WITH daily AS (
         SELECT epoch_us(o_orderdate) // 86400000000 AS day_id,
           sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS day_cents
         FROM orders GROUP BY 1),
       m AS (
         SELECT month(DATE '1970-01-01' + day_id::INT) AS month,
           count(*)::BIGINT AS n_days, sum(day_cents)::BIGINT AS total
         FROM daily GROUP BY 1),
       o AS (
         SELECT sum(n_days)::BIGINT AS all_days,
           sum(total)::BIGINT AS all_total
         FROM m)
       SELECT month::BIGINT AS month, n_days, total,
         CASE WHEN all_total != 0
           THEN sign(total)::BIGINT * sign(all_total)::BIGINT
             * ((abs(total)::HUGEINT * all_days * 1000000)
               // (n_days::HUGEINT * abs(all_total)))::BIGINT
           ELSE NULL END::BIGINT AS index_micro
       FROM m, o ORDER BY month"""

  /** Holt double-exponential (level + linear trend) smoothing per group,
    * with an `horizon`-step-ahead forecast table — the workhorse
    * short-range forecaster between naive last-value and a seasonal
    * model ([[seasonalIndexTable]] handles the seasonal shape; this
    * handles drift). α and β arrive as micro fractions; the recurrences
    *   l_t = (α·y_t·10⁶ + (10⁶−α)·(l+b)) div 10⁶
    *   b_t = (β·(l_t − l_{t−1}) + (10⁶−β)·b) div 10⁶
    * run in exact integer micro units — every product widened through
    * decimal(38,0) (HUGEINT in the oracle) and every division truncating
    * toward zero (`div`/`//` on BOTH engines) — so level, trend, and each
    * forecast ŷ_{T+h} = l_T + h·b_T are bit-identical cross-engine.
    * Initialization: l₀ = y₀·10⁶, b₀ = (y₁−y₀)·10⁶ (groups with fewer
    * than 2 periods are dropped — no trend is estimable).
    *
    * Scale design: the corpus collapses once to per-(group, period) sums
    * with map-side partials; the smoothing fold is sequential BY
    * DEFINITION and runs as a single array fold over each group's
    * bounded (calendar-sized) series — never over corpus rows.
    *
    * Domain contract (the `quantized` analogue for this operator): the
    * period id must be a CALENDAR-BOUNDED integer domain — months,
    * weeks, days, epochs. A high-cardinality period expression (raw
    * timestamps, event sequence numbers) makes the per-group collected
    * series as large as the group itself; bucket such domains to a
    * calendar grain FIRST — there is no DistributedPrefix escape hatch
    * here because the recurrence's data dependence is inherently
    * sequential, which is why the fold exists per-group only.
    */
  def holtForecast(df: DataFrame, groupCol: String, periodCol: Column,
      valueCol: Column, alphaMicro: Long = 500000L,
      betaMicro: Long = 300000L, horizon: Int = 3): DataFrame = {
    require(alphaMicro >= 0 && alphaMicro <= 1000000L, "alpha is micro")
    require(betaMicro >= 0 && betaMicro <= 1000000L, "beta is micro")
    require(horizon >= 1, "horizon must be >= 1")
    val (a, na) = (alphaMicro, 1000000L - alphaMicro)
    val (b, nb) = (betaMicro, 1000000L - betaMicro)
    val newL = s"($a * cast(x.yp as decimal(38,0)) * 1000000" +
      s" + $na * (cast(acc.l as decimal(38,0)) + acc.b)) div 1000000"
    val newB = s"($b * (cast($newL as decimal(38,0)) - acc.l)" +
      s" + $nb * cast(acc.b as decimal(38,0))) div 1000000"
    val foldExpr = s"""aggregate(slice(s, 3, size(s) - 2),
      named_struct('l', element_at(s, 1).yp * 1000000L,
        'b', (element_at(s, 2).yp - element_at(s, 1).yp) * 1000000L),
      (acc, x) -> named_struct('l', $newL, 'b', $newB))"""
    df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg(sum(col("y")).as("yp"))
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("yp")))).as("s"))
      .filter(size(col("s")) >= 2)
      .select(col("g"), size(col("s")).cast("long").as("n_periods"),
        expr(foldExpr).as("st"))
      .select(col("g"), col("n_periods"), col("st.l").as("level_micro"),
        col("st.b").as("trend_micro"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col("g"), col("n_periods"), col("level_micro"),
        col("trend_micro"), col("h").cast("long").as("h"),
        (col("level_micro") + col("h") * col("trend_micro"))
          .as("forecast_micro"))
  }

  // ---- q341: next-quarter order-volume forecast per priority class ------------
  private def q341(s: SparkSession, d: String): DataFrame =
    holtForecast(Tables.orders(s, d), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), alphaMicro = 500000L, betaMicro = 300000L, horizon = 3)
      .orderBy(col("g"), col("h"))
  // The fold is a RECURSIVE CTE over (group, step), not list_reduce:
  // DuckDB 1.0.0 mis-evaluates multi-step list_reduce lambdas whose 'b'
  // field re-evaluates the newL subexpression inline (one-step folds are
  // correct, the identical expression outside a lambda is correct, from
  // the second step the nested re-evaluation diverges). Plain recursive
  // SQL evaluates the same truncating micro arithmetic correctly and is
  // verified bit-identical to the Spark fold at sf0.001/0.01/0.1.
  private val q341Sql =
    """WITH RECURSIVE m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders GROUP BY 1, 2),
       s AS (
         SELECT g, count(*)::BIGINT AS n_periods,
           list(yp ORDER BY p) AS ys
         FROM m GROUP BY g HAVING count(*) >= 2),
       fold AS (
         SELECT g, n_periods, ys, 2::BIGINT AS step,
           (ys[1] * 1000000)::BIGINT AS l,
           ((ys[2] - ys[1]) * 1000000)::BIGINT AS b
         FROM s
         UNION ALL
         SELECT g, n_periods, ys, step + 1,
           (CASE WHEN (500000::HUGEINT * ys[step + 1] * 1000000
               + 500000::HUGEINT * (l::HUGEINT + b)) < 0 THEN -1 ELSE 1 END
             * (abs(500000::HUGEINT * ys[step + 1] * 1000000
               + 500000::HUGEINT * (l::HUGEINT + b)) // 1000000))::BIGINT,
           (CASE WHEN (300000::HUGEINT
               * (((CASE WHEN (500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b)) < 0
                   THEN -1 ELSE 1 END
                 * (abs(500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b))
                   // 1000000))::HUGEINT) - l)
               + 700000::HUGEINT * b) < 0 THEN -1 ELSE 1 END
             * (abs(300000::HUGEINT
               * (((CASE WHEN (500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b)) < 0
                   THEN -1 ELSE 1 END
                 * (abs(500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b))
                   // 1000000))::HUGEINT) - l)
               + 700000::HUGEINT * b) // 1000000))::BIGINT
         FROM fold WHERE step < n_periods),
       fc AS (
         SELECT g, n_periods, l AS level_micro, b AS trend_micro,
           unnest(range(1, 4))::BIGINT AS h
         FROM fold WHERE step = n_periods)
       SELECT g, n_periods, level_micro, trend_micro, h,
         (level_micro + h * trend_micro)::BIGINT AS forecast_micro
       FROM fc ORDER BY g, h"""

  /** Split-conformal forecast intervals on [[holtForecast]] — the
    * production form of "forecast + honest uncertainty" (VERDICT r8
    * Next #8): fit Holt on the series PREFIX (all but the last `calN`
    * periods), score the held-out calibration suffix with the prefix
    * state's h-step-ahead forecasts (j = 1..calN), take the k-th
    * smallest |residual| with k = ⌈(calN + 1)·(1 − α)⌉ — the
    * distribution-free radius of [[Profile.conformalIntervals]], here
    * with TIME as the split axis (the only honest split for a series:
    * calibrate on the most recent past, never on a random shuffle) —
    * then refit on the FULL series for the point forecast and attach
    * the radius to every horizon step. Calibration residuals span
    * horizons 1..calN while the emitted interval covers 1..horizon, so
    * for horizon ≤ calN the mixed-horizon radius leans conservative
    * (longer-horizon residuals are the larger ones). When k > calN the
    * interval is infinite: radius and bounds are NULL (the textbook
    * degenerate case, not an error).
    *
    * Exactness: both folds are [[holtForecast]]'s truncating micro
    * recurrence; residuals, the order-statistic radius, and the bounds
    * are exact BIGINTs — no float anywhere, both engines agree bitwise.
    *
    * Scale design: identical to [[holtForecast]] — one per-(group,
    * period) collapse with map-side partials, then TWO bounded array
    * folds per group (prefix and full — the recursion must replay
    * anyway, and the second fold shares the collected array rather than
    * re-shuffling). Groups with fewer than calN + 2 periods drop out
    * (no prefix to fit).
    */
  def conformalHoltForecast(df: DataFrame, groupCol: String,
      periodCol: Column, valueCol: Column, alphaMicro: Long = 500000L,
      betaMicro: Long = 300000L, calN: Int = 8, horizon: Int = 3,
      confAlphaMicro: Long = 100000L): DataFrame = {
    require(alphaMicro >= 0 && alphaMicro <= 1000000L, "alpha is micro")
    require(betaMicro >= 0 && betaMicro <= 1000000L, "beta is micro")
    require(calN >= 1 && horizon >= 1, "calN and horizon must be >= 1")
    require(confAlphaMicro > 0 && confAlphaMicro < 1000000L,
      "conformal alpha is micro")
    val (a, na) = (alphaMicro, 1000000L - alphaMicro)
    val (b, nb) = (betaMicro, 1000000L - betaMicro)
    val newL = s"($a * cast(x.yp as decimal(38,0)) * 1000000" +
      s" + $na * (cast(acc.l as decimal(38,0)) + acc.b)) div 1000000"
    val newB = s"($b * (cast($newL as decimal(38,0)) - acc.l)" +
      s" + $nb * cast(acc.b as decimal(38,0))) div 1000000"
    def fold(len: String) = s"""aggregate(slice(s, 3, $len),
      named_struct('l', element_at(s, 1).yp * 1000000L,
        'b', (element_at(s, 2).yp - element_at(s, 1).yp) * 1000000L),
      (acc, x) -> named_struct('l', $newL, 'b', $newB))"""
    val k = ((calN + 1) * (1000000L - confAlphaMicro) + 999999L) / 1000000L
    val radiusCol =
      if (k <= calN) element_at(col("resid"), k.toInt)
      else lit(null).cast("long")
    df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg(sum(col("y")).as("yp"))
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("yp")))).as("s"))
      .filter(size(col("s")) >= calN + 2)
      .select(col("g"), col("s"), size(col("s")).cast("long").as("n_periods"),
        expr(fold(s"size(s) - ${calN + 2}")).as("stp"),
        expr(fold("size(s) - 2")).as("stf"))
      .withColumn("resid", expr(s"""array_sort(transform(sequence(1, $calN),
          j -> abs(element_at(s, cast(size(s) - $calN + j as int)).yp
            * 1000000L - (stp.l + j * stp.b))))"""))
      .withColumn("radius_micro", radiusCol)
      .select(col("g"), col("n_periods"), col("radius_micro"),
        col("stf.l").as("level_micro"), col("stf.b").as("trend_micro"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col("g"), col("n_periods"), col("h").cast("long").as("h"),
        (col("level_micro") + col("h") * col("trend_micro"))
          .as("forecast_micro"),
        col("radius_micro"))
      .withColumn("lo_micro", col("forecast_micro") - col("radius_micro"))
      .withColumn("hi_micro", col("forecast_micro") + col("radius_micro"))
  }

  // ---- q369: conformal error bars on the q341 order-volume forecast -----------
  // 90% nominal, 12-month calibration suffix: the last year's one-to-
  // twelve-step-ahead Holt residuals set the radius around the full-fit
  // next-quarter forecast — q341 with honest uncertainty attached.
  private def q369(s: SparkSession, d: String): DataFrame =
    conformalHoltForecast(Tables.orders(s, d), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), alphaMicro = 500000L, betaMicro = 300000L,
        calN = 12, horizon = 3, confAlphaMicro = 100000L)
      .orderBy(col("g"), col("h"))
  // q341's recursive-CTE fold (list_reduce stays off-limits — the q341
  // DuckDB defect), read at TWO anchor steps: the prefix state (step =
  // n − 12) scores the calibration suffix, the full state (step = n)
  // carries the point forecast. k = ceil(13 · 0.9) = 12.
  private val q369Sql =
    """WITH RECURSIVE m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders GROUP BY 1, 2),
       s AS (
         SELECT g, count(*)::BIGINT AS n_periods,
           list(yp ORDER BY p) AS ys
         FROM m GROUP BY g HAVING count(*) >= 14),
       fold AS (
         SELECT g, n_periods, ys, 2::BIGINT AS step,
           (ys[1] * 1000000)::BIGINT AS l,
           ((ys[2] - ys[1]) * 1000000)::BIGINT AS b
         FROM s
         UNION ALL
         SELECT g, n_periods, ys, step + 1,
           (CASE WHEN (500000::HUGEINT * ys[step + 1] * 1000000
               + 500000::HUGEINT * (l::HUGEINT + b)) < 0 THEN -1 ELSE 1 END
             * (abs(500000::HUGEINT * ys[step + 1] * 1000000
               + 500000::HUGEINT * (l::HUGEINT + b)) // 1000000))::BIGINT,
           (CASE WHEN (300000::HUGEINT
               * (((CASE WHEN (500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b)) < 0
                   THEN -1 ELSE 1 END
                 * (abs(500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b))
                   // 1000000))::HUGEINT) - l)
               + 700000::HUGEINT * b) < 0 THEN -1 ELSE 1 END
             * (abs(300000::HUGEINT
               * (((CASE WHEN (500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b)) < 0
                   THEN -1 ELSE 1 END
                 * (abs(500000::HUGEINT * ys[step + 1] * 1000000
                   + 500000::HUGEINT * (l::HUGEINT + b))
                   // 1000000))::HUGEINT) - l)
               + 700000::HUGEINT * b) // 1000000))::BIGINT
         FROM fold WHERE step < n_periods),
       pre AS (
         SELECT g, l, b FROM fold WHERE step = n_periods - 12),
       rad AS (
         SELECT f.g,
           (list_sort(list_transform(range(1, 13), j ->
             abs(f.ys[(f.n_periods - 12 + j)::INT]::BIGINT * 1000000
               - (p.l + j * p.b)))))[12]::BIGINT AS radius_micro
         FROM s f JOIN pre p ON f.g = p.g),
       ful AS (
         SELECT g, n_periods, l, b FROM fold WHERE step = n_periods),
       fc AS (
         SELECT f.g, f.n_periods, unnest(range(1, 4))::BIGINT AS h,
           f.l, f.b, r.radius_micro
         FROM ful f JOIN rad r ON f.g = r.g)
       SELECT g, n_periods, h,
         (l + h * b)::BIGINT AS forecast_micro, radius_micro,
         (l + h * b - radius_micro)::BIGINT AS lo_micro,
         (l + h * b + radius_micro)::BIGINT AS hi_micro
       FROM fc ORDER BY g, h"""

  /** Holt–Winters ADDITIVE-SEASONAL forecast per group — the completion
    * of the exponential-smoothing family ([[ewmaSeries]] smooths,
    * [[holtForecast]] adds trend, this adds the seasonal cycle): exact
    * integer-micro recurrences over per-period sums, season length `m`,
    * slot = period mod m (CALENDAR position, so a gap in the series
    * cannot shift season alignment),
    *   l_t = α·(y_t·10⁶ − s_slot) + (1−α)·(l + b)
    *   b_t = β·(l_t − l) + (1−β)·b
    *   s'_slot = γ·(y_t·10⁶ − l_t) + (1−γ)·s_slot
    * each with ONE truncating division by 10⁶ (identical
    * truncation on both engines), initialized from the first two
    * seasons: l₀ = mean(season 1)·10⁶, b₀ = (mean(season 2) −
    * mean(season 1))·10⁶/m, s₀[slot] = y_i·10⁶ − l₀ over the first m
    * observations (never-seen slots start at 0; groups with fewer than
    * 2m periods are dropped). Forecast ŷ_{T+h} = l_T + h·b_T +
    * s[(p_T + h) mod m] for h = 1..horizon, with the seasonal term
    * emitted alongside.
    *
    * Scale design and domain contract: identical to [[holtForecast]] —
    * one per-(group, period) collapse with map-side partials, one
    * bounded calendar-sized array fold per group (the recurrence is
    * sequential by definition); period ids must be a calendar-bounded
    * integer domain.
    */
  def holtWintersForecast(df: DataFrame, groupCol: String,
      periodCol: Column, valueCol: Column, m: Int,
      alphaMicro: Long = 400000L, betaMicro: Long = 200000L,
      gammaMicro: Long = 300000L, horizon: Int = 3): DataFrame = {
    require(m >= 2, "season length m must be >= 2")
    require(Seq(alphaMicro, betaMicro, gammaMicro)
      .forall(x => x >= 0 && x <= 1000000L), "alpha/beta/gamma are micro")
    require(horizon >= 1, "horizon must be >= 1")
    val (a, na) = (alphaMicro, 1000000L - alphaMicro)
    val (b, nb) = (betaMicro, 1000000L - betaMicro)
    val (g, ng) = (gammaMicro, 1000000L - gammaMicro)
    val slot = s"cast(x.p % $m as int)"
    val sv = s"element_at(acc.ss, $slot + 1)"
    val newL = s"($a * (cast(x.yp as decimal(38,0)) * 1000000 - $sv)" +
      s" + $na * (cast(acc.l as decimal(38,0)) + acc.b)) div 1000000"
    val newB = s"($b * (cast($newL as decimal(38,0)) - acc.l)" +
      s" + $nb * cast(acc.b as decimal(38,0))) div 1000000"
    val newS = s"($g * (cast(x.yp as decimal(38,0)) * 1000000 - $newL)" +
      s" + $ng * cast($sv as decimal(38,0))) div 1000000"
    val foldExpr = s"""aggregate(slice(s, ${m + 1}, size(s) - $m),
      named_struct('l', l0, 'b', b0, 'ss', ss0),
      (acc, x) -> named_struct('l', $newL, 'b', $newB,
        'ss', transform(acc.ss, (sv2, si) ->
          if(si = $slot, $newS, sv2))))"""
    df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg(sum(col("y")).as("yp"))
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("yp")))).as("s"))
      .filter(size(col("s")) >= 2 * m)
      .withColumn("s1",
        expr(s"aggregate(slice(s, 1, $m), 0L, (acc, x) -> acc + x.yp)"))
      .withColumn("s2",
        expr(s"aggregate(slice(s, ${m + 1}, $m), 0L, (acc, x) -> acc + x.yp)"))
      .withColumn("l0", expr(s"cast(s1 as decimal(38,0)) * 1000000 div $m"))
      .withColumn("b0", expr(
        s"(cast(s2 as decimal(38,0)) - s1) * 1000000 div ${m.toLong * m}"))
      // Seasonal init: for each slot, the LAST of the first m
      // observations landing on it (gaps may leave a slot unseen → 0).
      .withColumn("ss0", expr(s"""transform(sequence(0, ${m - 1}), k ->
          coalesce(aggregate(slice(s, 1, $m), cast(null as long),
            (acc, x) -> if(cast(x.p % $m as int) = k,
              x.yp * 1000000L - l0, acc)), 0L))"""))
      .select(col("g"), size(col("s")).cast("long").as("n_periods"),
        element_at(col("s"), -1).getField("p").as("last_p"),
        expr(foldExpr).as("st"))
      .select(col("g"), col("n_periods"), col("last_p"),
        col("st.l").as("level_micro"), col("st.b").as("trend_micro"),
        col("st.ss").as("ss"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col("g"), col("n_periods"), col("h").cast("long").as("h"),
        col("level_micro"), col("trend_micro"),
        expr(s"element_at(ss, cast((last_p + h) % $m as int) + 1)")
          .as("seasonal_micro"))
      .withColumn("forecast_micro",
        col("level_micro") + col("h") * col("trend_micro")
          + col("seasonal_micro"))
  }

  // ---- q345: seasonal next-quarter order-volume forecast per priority ---------
  // The q341 fixture with the annual cycle modeled: monthly order counts,
  // season length 12 — the seasonal term is what q341's plain trend
  // cannot see.
  private def q345(s: SparkSession, d: String): DataFrame =
    holtWintersForecast(Tables.orders(s, d), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), m = 12, alphaMicro = 400000L, betaMicro = 200000L,
        gammaMicro = 300000L, horizon = 4)
      .orderBy(col("g"), col("h"))
  private val q345Sql =
    """WITH RECURSIVE mm AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders GROUP BY 1, 2),
       s AS (
         SELECT g, count(*)::BIGINT AS n_periods,
           list(p ORDER BY p) AS ps, list(yp ORDER BY p) AS ys
         FROM mm GROUP BY g HAVING count(*) >= 24),
       ini AS (
         SELECT g, n_periods, ps, ys,
           (CASE WHEN list_aggregate(ys[1:12], 'sum') < 0 THEN -1 ELSE 1 END
             * (abs(list_aggregate(ys[1:12], 'sum')::HUGEINT * 1000000)
               // 12))::BIGINT AS l0,
           (CASE WHEN list_aggregate(ys[13:24], 'sum')
                 - list_aggregate(ys[1:12], 'sum') < 0 THEN -1 ELSE 1 END
             * (abs((list_aggregate(ys[13:24], 'sum')::HUGEINT
                 - list_aggregate(ys[1:12], 'sum')) * 1000000)
               // 144))::BIGINT AS b0
         FROM s),
       slots AS (
         SELECT i.g, k.slot,
           coalesce((
             SELECT ys[idx] * 1000000 - l0 FROM (
               SELECT unnest(range(1, 13)) AS idx) ix
             WHERE ps[idx] % 12 = k.slot
             ORDER BY idx DESC LIMIT 1), 0)::BIGINT AS sv
         FROM ini i CROSS JOIN (SELECT unnest(range(12)) AS slot) k),
       ss0 AS (
         SELECT g, list(sv ORDER BY slot) AS ss FROM slots GROUP BY g),
       fold AS (
         SELECT i.g, i.n_periods, i.ps, i.ys, 12::BIGINT AS step,
           i.l0 AS l, i.b0 AS b, s0.ss AS ss
         FROM ini i JOIN ss0 s0 ON i.g = s0.g
         UNION ALL
         SELECT g, n_periods, ps, ys, step + 1,
           (CASE WHEN (400000::HUGEINT * (ys[step + 1] * 1000000
                 - ss[(ps[step + 1] % 12) + 1])
               + 600000::HUGEINT * (l::HUGEINT + b)) < 0 THEN -1 ELSE 1 END
             * (abs(400000::HUGEINT * (ys[step + 1] * 1000000
                 - ss[(ps[step + 1] % 12) + 1])
               + 600000::HUGEINT * (l::HUGEINT + b)) // 1000000))::BIGINT,
           (CASE WHEN (200000::HUGEINT * (((CASE WHEN (400000::HUGEINT
                   * (ys[step + 1] * 1000000 - ss[(ps[step + 1] % 12) + 1])
                   + 600000::HUGEINT * (l::HUGEINT + b)) < 0
                   THEN -1 ELSE 1 END
                 * (abs(400000::HUGEINT * (ys[step + 1] * 1000000
                     - ss[(ps[step + 1] % 12) + 1])
                   + 600000::HUGEINT * (l::HUGEINT + b))
                   // 1000000))::HUGEINT) - l)
               + 800000::HUGEINT * b) < 0 THEN -1 ELSE 1 END
             * (abs(200000::HUGEINT * (((CASE WHEN (400000::HUGEINT
                   * (ys[step + 1] * 1000000 - ss[(ps[step + 1] % 12) + 1])
                   + 600000::HUGEINT * (l::HUGEINT + b)) < 0
                   THEN -1 ELSE 1 END
                 * (abs(400000::HUGEINT * (ys[step + 1] * 1000000
                     - ss[(ps[step + 1] % 12) + 1])
                   + 600000::HUGEINT * (l::HUGEINT + b))
                   // 1000000))::HUGEINT) - l)
               + 800000::HUGEINT * b) // 1000000))::BIGINT,
           ss[1:(ps[step + 1] % 12)]
             || [(CASE WHEN (300000::HUGEINT * (ys[step + 1] * 1000000
                   - ((CASE WHEN (400000::HUGEINT * (ys[step + 1] * 1000000
                         - ss[(ps[step + 1] % 12) + 1])
                       + 600000::HUGEINT * (l::HUGEINT + b)) < 0
                       THEN -1 ELSE 1 END
                     * (abs(400000::HUGEINT * (ys[step + 1] * 1000000
                         - ss[(ps[step + 1] % 12) + 1])
                       + 600000::HUGEINT * (l::HUGEINT + b)) // 1000000))))
                 + 700000::HUGEINT * ss[(ps[step + 1] % 12) + 1]) < 0
                 THEN -1 ELSE 1 END
               * (abs(300000::HUGEINT * (ys[step + 1] * 1000000
                   - ((CASE WHEN (400000::HUGEINT * (ys[step + 1] * 1000000
                         - ss[(ps[step + 1] % 12) + 1])
                       + 600000::HUGEINT * (l::HUGEINT + b)) < 0
                       THEN -1 ELSE 1 END
                     * (abs(400000::HUGEINT * (ys[step + 1] * 1000000
                         - ss[(ps[step + 1] % 12) + 1])
                       + 600000::HUGEINT * (l::HUGEINT + b)) // 1000000))))
                 + 700000::HUGEINT * ss[(ps[step + 1] % 12) + 1])
                 // 1000000))::BIGINT]
             || ss[(ps[step + 1] % 12) + 2:12]
         FROM fold WHERE step < n_periods),
       fc AS (
         SELECT g, n_periods, l AS level_micro, b AS trend_micro, ss,
           ps[n_periods] AS last_p, unnest(range(1, 5))::BIGINT AS h
         FROM fold WHERE step = n_periods)
       SELECT g, n_periods, h, level_micro, trend_micro,
         ss[((last_p + h) % 12) + 1]::BIGINT AS seasonal_micro,
         (level_micro + h * trend_micro
           + ss[((last_p + h) % 12) + 1])::BIGINT AS forecast_micro
       FROM fc ORDER BY g, h"""

  /** Classical additive seasonal decomposition per group (the
    * moving-average "STL-lite" every monitoring stack runs before
    * alerting on a seasonal series): y = trend + seasonal + residual,
    * with trend the CENTERED moving average over `m` observed periods
    * (for even m the standard 2×m MA — two overlapping m-sums, so the
    * half-weights at the window ends are exact integers over 2m),
    * seasonal the per-slot (period mod m) mean of the detrended series
    * RE-CENTERED to sum ≈ 0 across slots, and residual the remainder.
    * The readout [[holtWintersForecast]] fits recursively, this states
    * descriptively — which months carry the cycle, and how much is left
    * over once trend and cycle are removed.
    *
    * Exactness: values scale to micro BIGINTs first; every division
    * (the MA, the slot means, the re-centering) is ONE truncating
    * division — identical on both engines, no float
    * anywhere. Trend and residual are NULL at the series edges (no full
    * window — the honest answer, not an asymmetric fill).
    *
    * Scale design: one per-(group, period) collapse with map-side
    * partials; the MA is a per-group window over OBSERVED periods in
    * order (the [[holtForecast]] calendar-domain contract); seasonal
    * means are a second group-sized aggregation broadcast back.
    */
  def seasonalDecompose(df: DataFrame, groupCol: String, periodCol: Column,
      valueCol: Column, m: Int): DataFrame = {
    require(m >= 2, "season length m must be >= 2")
    val base = df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg((sum(col("y")) * 1000000L).as("ym"))
    val h = m / 2
    val ord = Window.partitionBy(col("g")).orderBy(col("p"))
    val trended =
      if (m % 2 == 1) {
        val f = ord.rowsBetween(-h, h)
        base.withColumn("sw", sum(col("ym")).over(f))
          .withColumn("cw", count(lit(1)).over(f))
          .withColumn("trend",
            when(col("cw") === m, expr(s"sw div $m")))
      } else {
        val f1 = ord.rowsBetween(-h, h - 1)
        val f2 = ord.rowsBetween(-h + 1, h)
        base.withColumn("sw",
            sum(col("ym")).over(f1) + sum(col("ym")).over(f2))
          .withColumn("cw",
            count(lit(1)).over(f1) + count(lit(1)).over(f2))
          .withColumn("trend",
            when(col("cw") === 2 * m, expr(s"sw div ${2 * m}")))
      }
    val det = trended
      .withColumn("slot", expr(s"cast(p % $m as int)"))
      .withColumn("d", col("ym") - col("trend"))
    val slotMeans = det.filter(col("d").isNotNull)
      .groupBy(col("g"), col("slot"))
      .agg(count(lit(1)).as("n_s"), sum(col("d")).as("ss"))
      .select(col("g"), col("slot"), expr("ss div n_s").as("smean"))
    val centered = slotMeans
      .join(slotMeans.groupBy(col("g"))
          .agg(count(lit(1)).as("k_s"), sum(col("smean")).as("sm")),
        Seq("g"))
      .select(col("g"), col("slot"),
        (col("smean") - expr("sm div k_s")).as("seasonal_micro"))
    det.join(broadcast(centered), Seq("g", "slot"), "left")
      .select(col("g"), col("p"), col("ym").as("y_micro"),
        col("trend").as("trend_micro"), col("seasonal_micro"),
        (col("ym") - col("trend") - col("seasonal_micro")).as("resid_micro"))
  }

  // ---- q376: where does the monthly order cycle live, per priority? -----------
  private def q376(s: SparkSession, d: String): DataFrame =
    seasonalDecompose(Tables.orders(s, d), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), m = 12)
      .orderBy(col("g"), col("p"))
  private val q376Sql =
    """WITH m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           (count(*) * 1000000)::BIGINT AS ym
         FROM orders GROUP BY 1, 2),
       tr AS (
         SELECT g, p, ym, p % 12 AS slot,
           CASE WHEN (count(*) OVER w1 + count(*) OVER w2) = 24 THEN
             (CASE WHEN (sum(ym) OVER w1 + sum(ym) OVER w2) < 0
                THEN -1 ELSE 1 END
              * (abs(sum(ym) OVER w1 + sum(ym) OVER w2)::HUGEINT // 24))
                ::BIGINT
           END AS trend
         FROM m
         WINDOW w1 AS (PARTITION BY g ORDER BY p
             ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
           w2 AS (PARTITION BY g ORDER BY p
             ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)),
       det AS (SELECT g, p, ym, slot, trend, ym - trend AS d FROM tr),
       sm AS (
         SELECT g, slot,
           (CASE WHEN sum(d) < 0 THEN -1 ELSE 1 END
             * (abs(sum(d))::HUGEINT // count(*)))::BIGINT AS smean
         FROM det WHERE d IS NOT NULL GROUP BY g, slot),
       ctr AS (
         SELECT s.g, s.slot,
           (s.smean - (CASE WHEN t.sm2 < 0 THEN -1 ELSE 1 END
             * (abs(t.sm2)::HUGEINT // t.k_s)))::BIGINT AS seasonal_micro
         FROM sm s JOIN (
           SELECT g, count(*)::BIGINT AS k_s, sum(smean)::BIGINT AS sm2
           FROM sm GROUP BY g) t ON s.g = t.g)
       SELECT d.g, d.p, d.ym AS y_micro, d.trend AS trend_micro,
         c.seasonal_micro,
         (d.ym - d.trend - c.seasonal_micro)::BIGINT AS resid_micro
       FROM det d LEFT JOIN ctr c ON d.g = c.g AND d.slot = c.slot
       ORDER BY d.g, d.p"""

  /** Held-out perplexity of the first-order Markov model over per-key
    * event sequences — "how predictable is the event stream", the
    * evaluation side of [[q103 transitionMatrix]]: train add-one-
    * smoothed transitions on one hash-split of KEYS, score the held-out
    * split's bigrams, report average negative log-likelihood in exact
    * micro-nats (lnq(c+1) − lnq(n+V): every logarithm takes an INTEGER
    * argument — the [[Supervised.naiveBayes]] discipline — so the score
    * is bit-stable under partitioning and engine; unseen contexts fall
    * out of the same formula with c = n = 0).
    *
    * Scale: one ordered window per key for the lag, then bounded-domain
    * (state × state) aggregates and a broadcast join back onto test
    * bigrams.
    */
  def markovPerplexity(df: DataFrame, keyCol: Column, orderCols: Seq[Column],
      stateCol: Column, testHexLt: String = "4"): DataFrame = {
    require(testHexLt.length == 1, "testHexLt is one hex char")
    val lnq = (c: Column) => floor(log(c.cast("double")) * lit(1e6) +
      lit(0.5)).cast("long")
    val w = Window.partitionBy(col("k")).orderBy(orderCols: _*)
    val ev = df.select((keyCol.as("k") +: stateCol.as("next") +:
        orderCols): _*)
      .withColumn("prev", lag(col("next"), 1).over(w))
      .withColumn("test",
        substring(md5(col("k").cast("string").cast("binary")), 1, 1)
          < lit(testHexLt))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("next"), col("test"))
    val tr = ev.filter(!col("test")).groupBy("prev", "next")
      .agg(count(lit(1)).as("c"))
    val rowt = tr.groupBy("prev").agg(sum("c").as("n"))
    val v = tr.agg(countDistinct("next").as("v"))
    val trainN = tr.agg(sum("c").as("n_train_bigrams"))
    ev.filter(col("test"))
      .join(broadcast(tr), Seq("prev", "next"), "left")
      .join(broadcast(rowt), Seq("prev"), "left")
      .crossJoin(broadcast(v))
      .select((lnq(coalesce(col("c"), lit(0L)) + 1) -
        lnq(coalesce(col("n"), lit(0L)) + col("v"))).as("lp"))
      .agg(count(lit(1)).as("n_test_bigrams"),
        expr("(-sum(lp)) div count(1)").as("avg_nll_micro"))
      .crossJoin(broadcast(trainN))
      .select(col("n_train_bigrams"), col("n_test_bigrams"),
        col("avg_nll_micro"))
  }

  // ---- q401: how predictable is a user's next event type? ---------------------
  private def q401(s: SparkSession, d: String): DataFrame =
    markovPerplexity(Tables.events(s, d), col("user_id"),
      Seq(col("ts"), col("event_id")), col("event_type"))
  private val q401Sql = {
    s"""WITH ev AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS prev,
          substr(md5(user_id::VARCHAR), 1, 1) < '4' AS test
        FROM events),
      bi AS (SELECT prev, event_type AS next, test FROM ev
        WHERE prev IS NOT NULL),
      tr AS (SELECT prev, next, count(*)::BIGINT AS c FROM bi
        WHERE NOT test GROUP BY 1, 2),
      rowt AS (SELECT prev, sum(c)::BIGINT AS n FROM tr GROUP BY 1),
      v AS (SELECT count(DISTINCT next)::BIGINT AS v FROM tr),
      scored AS (
        SELECT floor(ln(coalesce(t.c, 0) + 1)*1e6 + 0.5)::BIGINT
            - floor(ln(coalesce(r.n, 0) + (SELECT v FROM v))*1e6
              + 0.5)::BIGINT AS lp
        FROM bi b LEFT JOIN tr t ON t.prev = b.prev AND t.next = b.next
          LEFT JOIN rowt r ON r.prev = b.prev
        WHERE b.test)
      SELECT (SELECT sum(c)::BIGINT FROM tr) AS n_train_bigrams,
        count(*)::BIGINT AS n_test_bigrams,
        ${fd("-sum(lp)", "count(*)")}::BIGINT AS avg_nll_micro
      FROM scored"""
  }

  /** Exact trimmed mean per group (nearest-rank trims): drop the lowest
    * and highest ⌊n·trim⌋ values by (value, key) rank and average the
    * rest in micros — the robust location read between the mean
    * (outlier-hostage) and [[weightedMedian]] (throws away magnitude).
    * Deterministic rank ties via the key column; exact integer division.
    *
    * Scale: one per-group window rank (group-sized sort, the
    * [[kaplanMeier]] quantized-domain contract does not apply — this is
    * the generic order-statistic trade) then a grouped average.
    */
  def trimmedMean(df: DataFrame, groupCol: Column, keyCol: Column,
      valueCents: Column, trimPerMille: Int): DataFrame = {
    require(trimPerMille >= 0 && trimPerMille < 500, "trim in [0, 500)‰")
    val w = Window.partitionBy(col("g")).orderBy(col("c"), col("k"))
    val wAll = Window.partitionBy(col("g"))
    df.select(groupCol.as("g"), valueCents.cast("long").as("c"),
        keyCol.as("k"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") > expr(s"(n * $trimPerMille) div 1000") &&
        col("rn") <= col("n") - expr(s"(n * $trimPerMille) div 1000"))
      .groupBy("g")
      .agg(first("n").as("n"), count(lit(1)).as("n_kept"),
        expr("sum(c) * 10000 div count(1)").as("trimmed_mean_micro"))
      .orderBy("g")
  }

  // ---- q402: robust average order value per priority ---------------------------
  private def q402(s: SparkSession, d: String): DataFrame =
    trimmedMean(Tables.orders(s, d), col("o_orderpriority"),
      col("o_orderkey"), round(col("o_totalprice") * 100),
      trimPerMille = 100)
  private val q402Sql = {
    s"""WITH r AS (
        SELECT o_orderpriority AS g, round(o_totalprice*100)::BIGINT AS c,
          o_orderkey AS k FROM orders),
      rk AS (
        SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c, k) AS rn,
          count(*) OVER (PARTITION BY g) AS n
        FROM r),
      kept AS (
        SELECT g, c, n FROM rk
        WHERE rn > (n * 100) // 1000 AND rn <= n - (n * 100) // 1000)
      SELECT g, any_value(n) AS n, count(*)::BIGINT AS n_kept,
        ${fd("sum(c)*10000", "count(*)")}::BIGINT AS trimmed_mean_micro
      FROM kept GROUP BY g ORDER BY g"""
  }

  /** Yule–Walker AR(2) coefficients per group — "how much does this
    * month's volume echo the last two?", the classical autoregressive
    * companion to [[q191 autocorrelation]]'s single-lag read and the
    * sanity check run before trusting [[holtForecast]] on a series with
    * momentum.
    *
    * Exact integer algebra END TO END, fully distributed (no driver
    * state, unlike the GLM fits): deviations are kept UNSCALED as
    * n·y_t − Σy (the n² factors cancel in the coefficient ratios, so no
    * mean truncation is ever taken); autocovariance sums c₀,c₁,c₂ are
    * DECIMAL(38,0); φ₁ = (c₁c₀ − c₁c₂)/(c₀² − c₁²) and
    * φ₂ = (c₀c₂ − c₁²)/(c₀² − c₁²) are floor-divisions in ppm.
    * Magnitude contract: c₀² needs n·dev² ≲ 10¹⁹ — at larger volumes
    * pre-scale the value column (the ratios are scale-invariant).
    *
    * Scale: one (group, period) collapse with map-side partials, one
    * group-partitioned window for the two leads, one group aggregate.
    */
  def yuleWalkerAr2(df: DataFrame, groupCol: String, periodCol: Column,
      valueCol: Column): DataFrame = {
    val m = df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy("g", "p").agg(sum("y").as("y"))
    val s = m.groupBy("g").agg(count(lit(1)).as("n"), sum("y").as("sy"))
    val w = Window.partitionBy("g").orderBy("p")
    val dev = (col("y") * col("n") - col("sy")).cast("decimal(38,0)")
    val d = m.join(s, Seq("g"))
      .select(col("g"), col("p"), dev.as("dev"),
        lead(dev, 1).over(w).as("dev1"), lead(dev, 2).over(w).as("dev2"))
    val c = d.groupBy("g").agg(
      sum(col("dev") * col("dev")).as("c0"),
      sum(when(col("dev1").isNull, lit(0L).cast("decimal(38,0)"))
        .otherwise(col("dev") * col("dev1"))).as("c1"),
      sum(when(col("dev2").isNull, lit(0L).cast("decimal(38,0)"))
        .otherwise(col("dev") * col("dev2"))).as("c2"))
    val den = (col("c0") * col("c0") - col("c1") * col("c1"))
      .cast("decimal(38,0)")
    c.select(col("g"),
        floorDiv(((col("c1") * col("c0") - col("c1") * col("c2")) *
          lit(1000000L)).cast("decimal(38,0)"), den).as("phi1_ppm"),
        floorDiv(((col("c0") * col("c2") - col("c1") * col("c1")) *
          lit(1000000L)).cast("decimal(38,0)"), den).as("phi2_ppm"))
      .orderBy("g")
  }

  // ---- q390: monthly order-volume momentum per priority class -----------------
  private def q390(s: SparkSession, d: String): DataFrame =
    yuleWalkerAr2(Tables.orders(s, d), "o_orderpriority",
      expr("year(cast(o_orderdate as date)) * 12" +
        " + month(cast(o_orderdate as date))"),
      lit(1L))
  private[operators] val q390Sql = {
    s"""WITH m AS (
        SELECT o_orderpriority AS g,
          year(o_orderdate::DATE)*12 + month(o_orderdate::DATE) AS p,
          count(*)::BIGINT AS y
        FROM orders GROUP BY 1, 2),
      s AS (SELECT g, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
        FROM m GROUP BY g),
      d AS (
        SELECT m.g, m.p, (m.y * s.n - s.sy)::HUGEINT AS dev,
          lead(m.y * s.n - s.sy, 1) OVER (PARTITION BY m.g
            ORDER BY m.p)::HUGEINT AS dev1,
          lead(m.y * s.n - s.sy, 2) OVER (PARTITION BY m.g
            ORDER BY m.p)::HUGEINT AS dev2
        FROM m JOIN s ON s.g = m.g),
      c AS (
        SELECT g, sum(dev*dev)::HUGEINT AS c0,
          sum(CASE WHEN dev1 IS NULL THEN 0 ELSE dev*dev1 END)::HUGEINT AS c1,
          sum(CASE WHEN dev2 IS NULL THEN 0 ELSE dev*dev2 END)::HUGEINT AS c2
        FROM d GROUP BY g)
      SELECT g,
        ${fd("(c1*c0 - c1*c2)*1000000", "c0*c0 - c1*c1")}::BIGINT AS phi1_ppm,
        ${fd("(c0*c2 - c1*c1)*1000000", "c0*c0 - c1*c1")}::BIGINT AS phi2_ppm
      FROM c ORDER BY g"""
  }

  /** Exponentially-weighted moving average SERIES per group — the whole
    * smoothed curve, not just the final state ([[holtForecast]] is the
    * forecast-from-the-end companion; this is the monitoring/plotting
    * read): e₁ = y₁·10⁶, e_t = α·y_t·10⁶ + (1−α)·e_{t−1}, in exact
    * integer micro with one fixed truncation point per step (truncating
    * division, bit-identical cross-engine).
    *
    * Scale design: one per-(group, period) collapse with map-side
    * partials; each row's state is a prefix re-fold over the group's
    * collected array. Honest cost note (r9 adjudication of the r8→r9
    * flip-flop): BOTH expressible shapes are quadratic in the period
    * count n — the per-row prefix re-fold does n²/2 interpreted
    * arithmetic steps, while the "linearized" r8 array-accumulator fold
    * (`concat(acc, array(e_t))`) does n²/2 array-element COPIES plus n
    * arithmetic steps, and measured head-to-head at sf0.1 the re-fold
    * is 1.6× faster (0.36 vs 0.59 s) because an interpreted
    * HigherOrderFunction copy costs more than the division arithmetic it
    * avoids. Catalyst has no mutable-accumulator expression, so a true
    * O(n) curve is not expressible in one fold; the period domain is
    * CALENDAR-BOUNDED by contract (months/days of a business horizon,
    * n ≤ ~10⁴), which caps the quadratic term at trivial cost. Same
    * period-domain contract as [[holtForecast]].
    */
  def ewmaSeries(df: DataFrame, groupCol: String, periodCol: Column,
      valueCol: Column, alphaMicro: Long = 300000L): DataFrame = {
    require(alphaMicro >= 0 && alphaMicro <= 1000000L, "alpha is micro")
    val (a, na) = (alphaMicro, 1000000L - alphaMicro)
    // Prefix fold to position i (0-based): fold rows 2..i+1 onto e₁.
    val fold = s"""aggregate(slice(s, 2, i),
      element_at(s, 1).yp * 1000000L,
      (acc, x) -> ($a * cast(x.yp as decimal(38,0)) * 1000000
        + $na * cast(acc as decimal(38,0))) div 1000000)"""
    df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg(sum(col("y")).as("yp"))
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("yp")))).as("s"))
      .select(col("g"), col("s"), posexplode(col("s")))
      .toDF("g", "s", "i", "x")
      .select(col("g"), col("x.p").as("p"), col("x.yp").as("y"),
        expr(fold).as("ewma_micro"))
  }

  // ---- q342: smoothed monthly order-volume curve per priority class -----------
  private def q342(s: SparkSession, d: String): DataFrame =
    ewmaSeries(Tables.orders(s, d), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), alphaMicro = 300000L)
      .orderBy(col("g"), col("p"))
  private val q342Sql =
    """WITH RECURSIVE m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders GROUP BY 1, 2),
       s AS (
         SELECT g, list(p ORDER BY p) AS ps, list(yp ORDER BY p) AS ys
         FROM m GROUP BY g),
       f AS (
         SELECT g, ps, ys, 1::BIGINT AS step,
           (ys[1] * 1000000)::BIGINT AS e
         FROM s
         UNION ALL
         SELECT g, ps, ys, step + 1,
           (CASE WHEN (300000::HUGEINT * ys[step + 1] * 1000000
               + 700000::HUGEINT * e) < 0 THEN -1 ELSE 1 END
             * (abs(300000::HUGEINT * ys[step + 1] * 1000000
               + 700000::HUGEINT * e) // 1000000))::BIGINT
         FROM f WHERE step < len(ys))
       SELECT g, ps[step]::BIGINT AS p, ys[step]::BIGINT AS y,
         e AS ewma_micro
       FROM f ORDER BY g, p"""

  /** Croston's method for INTERMITTENT demand (Croston 1972): smooth the
    * nonzero demand SIZES and the CALENDAR INTERVALS between them as two
    * separate exponential recurrences, and read the demand rate as their
    * ratio — the forecasting primitive for series that are mostly zero,
    * where plain smoothing ([[ewmaSeries]] / [[holtForecast]]) dilutes
    * every real demand across the empty periods. Exact integer micro:
    * z₁ = y₁·10⁶, v₁ = 10⁶ (unit-interval init), then per subsequent
    * demand z ← α·y·10⁶ + (1−α)z and v ← α·(p_t − p_{t−1})·10⁶ + (1−α)v,
    * one truncating division each; rate = z·10⁶ div v. Groups with
    * fewer than 2 demands are dropped (no interval is estimable).
    *
    * `sba = true` applies the Syntetos–Boylan approximation (Syntetos &
    * Boylan 2005): rate ← (1 − α/2)·z/v — the bias correction that
    * makes the rate estimator approximately unbiased (plain Croston
    * systematically overshoots because E[z/v] > E[z]/E[v]); the variant
    * practitioners actually deploy. Exact rational: the correction
    * multiplies the numerator by (2·10⁶ − α_micro) against a 2·10⁶
    * denominator — ONE truncation total, not a truncated rate then a
    * truncated correction.
    *
    * Scale design and domain contract: identical to [[holtForecast]] —
    * one per-(group, period) collapse with map-side partials (zero
    * periods never enter it), one bounded calendar-sized array fold per
    * group.
    */
  def crostonForecast(df: DataFrame, groupCol: String, periodCol: Column,
      valueCol: Column, alphaMicro: Long = 200000L,
      sba: Boolean = false): DataFrame = {
    require(alphaMicro >= 0 && alphaMicro <= 1000000L, "alpha is micro")
    val (a, na) = (alphaMicro, 1000000L - alphaMicro)
    val newZ = s"($a * cast(x.yp as decimal(38,0)) * 1000000" +
      s" + $na * cast(acc.z as decimal(38,0))) div 1000000"
    // The interval is the CALENDAR gap to the previous demand — the
    // fold carries the previous period in the state.
    val newV = s"($a * cast(x.p - acc.pp as decimal(38,0)) * 1000000" +
      s" + $na * cast(acc.v as decimal(38,0))) div 1000000"
    val foldExpr = s"""aggregate(slice(s, 2, size(s) - 1),
      named_struct('z', element_at(s, 1).yp * 1000000L, 'v', 1000000L,
        'pp', element_at(s, 1).p),
      (acc, x) -> named_struct('z', $newZ, 'v', $newV, 'pp', x.p))"""
    df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg(sum(col("y")).as("yp"))
      .filter(col("yp") =!= 0L)
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("yp")))).as("s"))
      .filter(size(col("s")) >= 2)
      .select(col("g"), size(col("s")).cast("long").as("n_demands"),
        expr(foldExpr).as("st"))
      .select(col("g"), col("n_demands"), col("st.z").as("size_micro"),
        col("st.v").as("interval_micro"),
        (if (sba)
          expr(s"""cast(st.z as decimal(38,0)) * ${2000000L - a} * 1000000
               div (cast(st.v as decimal(38,0)) * 2000000)""")
        else
          expr("cast(st.z as decimal(38,0)) * 1000000 div st.v"))
          .as("rate_micro"))
  }

  // ---- q349: demand rate of a sparse buyer slice, per priority ----------------
  // Monthly order counts of the o_custkey % 11 = 0 slice — intermittent
  // at small scale factors (most months zero), dense at large ones
  // (interval smooths toward 1): the operator handles both ends of the
  // sparsity spectrum with the same recurrence.
  private def q349(s: SparkSession, d: String): DataFrame =
    crostonForecast(Tables.orders(s, d)
        .filter(expr("o_custkey % 11 = 0")), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), alphaMicro = 200000L)
      .orderBy(col("g"))
  private val q349Sql =
    """WITH RECURSIVE m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders WHERE o_custkey % 11 = 0
         GROUP BY 1, 2 HAVING count(*) > 0),
       s AS (
         SELECT g, count(*)::BIGINT AS n_demands,
           list(p ORDER BY p) AS ps, list(yp ORDER BY p) AS ys
         FROM m GROUP BY g HAVING count(*) >= 2),
       fold AS (
         SELECT g, n_demands, ps, ys, 1::BIGINT AS step,
           (ys[1] * 1000000)::BIGINT AS z, 1000000::BIGINT AS v
         FROM s
         UNION ALL
         SELECT g, n_demands, ps, ys, step + 1,
           (CASE WHEN (200000::HUGEINT * ys[step + 1] * 1000000
               + 800000::HUGEINT * z) < 0 THEN -1 ELSE 1 END
             * (abs(200000::HUGEINT * ys[step + 1] * 1000000
               + 800000::HUGEINT * z) // 1000000))::BIGINT,
           (CASE WHEN (200000::HUGEINT * (ps[step + 1] - ps[step]) * 1000000
               + 800000::HUGEINT * v) < 0 THEN -1 ELSE 1 END
             * (abs(200000::HUGEINT * (ps[step + 1] - ps[step]) * 1000000
               + 800000::HUGEINT * v) // 1000000))::BIGINT
         FROM fold WHERE step < n_demands)
       SELECT g, n_demands, z AS size_micro, v AS interval_micro,
         (CASE WHEN z < 0 THEN -1 ELSE 1 END
           * ((abs(z)::HUGEINT * 1000000) // v))::BIGINT AS rate_micro
       FROM fold WHERE step = n_demands ORDER BY g"""

  // ---- q352: the q349 demand rate with the SBA bias correction ----------------
  // Identical fixture and fold; only the rate emission differs — the
  // (1 - alpha/2) Syntetos-Boylan factor, one exact truncation.
  private def q352(s: SparkSession, d: String): DataFrame =
    crostonForecast(Tables.orders(s, d)
        .filter(expr("o_custkey % 11 = 0")), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L), alphaMicro = 200000L, sba = true)
      .orderBy(col("g"))
  private val q352Sql =
    """WITH RECURSIVE m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders WHERE o_custkey % 11 = 0
         GROUP BY 1, 2 HAVING count(*) > 0),
       s AS (
         SELECT g, count(*)::BIGINT AS n_demands,
           list(p ORDER BY p) AS ps, list(yp ORDER BY p) AS ys
         FROM m GROUP BY g HAVING count(*) >= 2),
       fold AS (
         SELECT g, n_demands, ps, ys, 1::BIGINT AS step,
           (ys[1] * 1000000)::BIGINT AS z, 1000000::BIGINT AS v
         FROM s
         UNION ALL
         SELECT g, n_demands, ps, ys, step + 1,
           (CASE WHEN (200000::HUGEINT * ys[step + 1] * 1000000
               + 800000::HUGEINT * z) < 0 THEN -1 ELSE 1 END
             * (abs(200000::HUGEINT * ys[step + 1] * 1000000
               + 800000::HUGEINT * z) // 1000000))::BIGINT,
           (CASE WHEN (200000::HUGEINT * (ps[step + 1] - ps[step]) * 1000000
               + 800000::HUGEINT * v) < 0 THEN -1 ELSE 1 END
             * (abs(200000::HUGEINT * (ps[step + 1] - ps[step]) * 1000000
               + 800000::HUGEINT * v) // 1000000))::BIGINT
         FROM fold WHERE step < n_demands)
       SELECT g, n_demands, z AS size_micro, v AS interval_micro,
         (CASE WHEN z < 0 THEN -1 ELSE 1 END
           * ((abs(z)::HUGEINT * 1800000 * 1000000)
              // (v::HUGEINT * 2000000)))::BIGINT AS rate_micro
       FROM fold WHERE step = n_demands ORDER BY g"""

  /** Dynamic-time-warping distance between two per-period series
    * (Sakoe & Chiba 1978): the minimum total |a_i − b_j| cost over all
    * monotone alignments — the ELASTIC series similarity ([[
    * leadLagProfile]] tests rigid shifts; DTW lets segments stretch, the
    * "same seasonal shape, different pacing" question). Exact integer
    * DP evaluated as anti-diagonal WAVEFRONTS: diagonal k depends only
    * on diagonals k−1 and k−2, so the whole table is a fold over
    * 2·max(n)−1 steps carrying two bounded arrays — no per-cell
    * recursion, and the identical wavefront replays as a recursive CTE
    * in the oracle (each cell a pure min of already-final cells; no
    * accumulator re-evaluation, the q341 defect class). One row out:
    * lengths, total cost, and cost·10⁶ div (n_a+n_b) per alignment
    * step.
    *
    * Scale design: one per-(series, period) collapse with map-side
    * partials; the O(n_a·n_b) DP runs ONCE on the single collapsed row
    * (calendar-bounded series — the [[holtForecast]] domain contract);
    * the corpus is touched once.
    *
    * `band` is the Sakoe–Chiba adjustment window: cells with
    * |i − j| > band are never expanded, cutting the cells COMPUTED from
    * n_a·n_b to O(band·(n_a+n_b)) — the standard guard before pointing
    * DTW at daily-grain multi-year series (out-of-band positions still
    * cost one comparison each inside the wavefront transform, but none
    * of the element_at/abs/min work). The window is clamped up to
    * |n_a − n_b| (narrower admits NO monotone alignment — the Sakoe &
    * Chiba validity condition), which also keeps every in-band cell's
    * diagonal predecessor in-band, so banding can never resurrect the
    * fresh-start fallback. Default ∞ ≡ the exact unbanded distance;
    * band-limited ≡ full whenever the optimal warp stays inside the
    * window (spec-pinned).
    */
  def dtwDistance(df: DataFrame, seriesCol: Column, periodCol: Column,
      valueCol: Column, seriesA: String, seriesB: String,
      band: Long = Long.MaxValue): DataFrame = {
    require(band >= 0, "band must be >= 0")
    val BIG = "1152921504606846976L" // 2^60: +cost can never overflow
    val byP = df
      .select(seriesCol.as("et"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .filter(col("et").isin(seriesA, seriesB))
      .groupBy(col("et"), col("p")).agg(sum(col("y")).as("yp"))
    // Effective window: never narrower than the length gap.
    val bandEff = s"greatest(${band}L, abs(na - nb))"
    def minPred = s"""least(
        case when i > 1L then element_at(acc.d1, cast(i as int) - 1)
          else $BIG end,
        element_at(acc.d1, cast(i as int)),
        case when i > 1L then element_at(acc.d2, cast(i as int) - 1)
          else $BIG end)"""
    // The fold's k IS the new diagonal (the oracle's recursive arm reads
    // the previous row's k, hence its k+1 offsets): cell (i, j) on
    // diagonal k has j = k + 1 - i, so |i - j| = |2i - k - 1|. The band
    // test leads the conjunction: out-of-band cells short-circuit
    // before any element_at.
    val cell = s"""case when abs(2L * i - k - 1L) <= $bandEff
          and i >= greatest(1L, k + 1L - nb)
          and i <= least(na, k)
        then abs(element_at(a, cast(i as int))
            - element_at(b, cast(k + 1L - i as int)))
          + (case when $minPred >= $BIG then 0L else $minPred end)
        else $BIG end"""
    val init1 = s"""transform(sequence(1L, na), i ->
      case when i = 1L then abs(element_at(a, 1) - element_at(b, 1))
        else $BIG end)"""
    val foldExpr = s"""case
      when na = 1L and nb = 1L
        then abs(element_at(a, 1) - element_at(b, 1))
      else element_at(aggregate(sequence(2L, na + nb - 1L),
        named_struct('d1', $init1,
          'd2', transform(sequence(1L, na), i -> $BIG)),
        (acc, k) -> named_struct(
          'd1', transform(sequence(1L, na), i -> $cell),
          'd2', acc.d1)).d1, cast(na as int))
      end"""
    byP.agg(
        array_sort(collect_list(when(col("et") === lit(seriesA),
          struct(col("p"), col("yp"))))).as("sa"),
        array_sort(collect_list(when(col("et") === lit(seriesB),
          struct(col("p"), col("yp"))))).as("sb"))
      .select(expr("transform(sa, x -> x.yp)").as("a"),
        expr("transform(sb, x -> x.yp)").as("b"))
      .select(col("a"), col("b"), size(col("a")).cast("long").as("na"),
        size(col("b")).cast("long").as("nb"))
      .filter(col("na") >= 1L && col("nb") >= 1L)
      .select(col("na"), col("nb"), expr(foldExpr).as("dtw_cost"))
      .select(col("na"), col("nb"), col("dtw_cost"),
        expr("dtw_cost * 1000000L div (na + nb)").as("dtw_per_step_micro"))
  }

  // ---- q348: do urgent and low-priority order flows share a shape? ------------
  // DTW over the two monthly count series — rigid-lag tools (q312) say
  // WHEN one leads; this says how alike the shapes are under elastic
  // alignment.
  private def q348(s: SparkSession, d: String): DataFrame =
    dtwDistance(Tables.orders(s, d), col("o_orderpriority"),
      expr("year(cast(o_orderdate as date)) * 12" +
        " + month(cast(o_orderdate as date))"),
      lit(1L), "1-URGENT", "5-LOW")
  private val q348Sql =
    """WITH RECURSIVE m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
         GROUP BY 1, 2),
       sa AS (SELECT list(yp ORDER BY p) AS a FROM m WHERE g = '1-URGENT'),
       sb AS (SELECT list(yp ORDER BY p) AS b FROM m WHERE g = '5-LOW'),
       dims AS (SELECT a, b, len(a)::BIGINT AS na, len(b)::BIGINT AS nb
                FROM sa, sb),
       wave AS (
         SELECT a, b, na, nb, 1::BIGINT AS k,
           list_transform(range(1, na + 1), i ->
             CASE WHEN i = 1 THEN abs(a[1] - b[1])
                  ELSE 1152921504606846976 END) AS d1,
           list_transform(range(1, na + 1),
             i -> 1152921504606846976::BIGINT) AS d2
         FROM dims
         UNION ALL
         SELECT a, b, na, nb, k + 1,
           list_transform(range(1, na + 1), i ->
             CASE WHEN i >= greatest(1, k + 2 - nb)
                 AND i <= least(na, k + 1)
               THEN abs(a[i] - b[k + 2 - i])
                 + CASE WHEN least(
                     CASE WHEN i > 1 THEN d1[i - 1]
                          ELSE 1152921504606846976 END,
                     d1[i],
                     CASE WHEN i > 1 THEN d2[i - 1]
                          ELSE 1152921504606846976 END)
                     >= 1152921504606846976
                   THEN 0
                   ELSE least(
                     CASE WHEN i > 1 THEN d1[i - 1]
                          ELSE 1152921504606846976 END,
                     d1[i],
                     CASE WHEN i > 1 THEN d2[i - 1]
                          ELSE 1152921504606846976 END) END
               ELSE 1152921504606846976 END) AS d1,
           d1 AS d2
         FROM wave WHERE k < na + nb - 1)
       SELECT na, nb, d1[na]::BIGINT AS dtw_cost,
         (d1[na] * 1000000 // (na + nb))::BIGINT AS dtw_per_step_micro
       FROM wave WHERE k = na + nb - 1"""

  /** Lead–lag cross-covariance profile between two daily series: for each
    * lag in [−maxLag, maxLag], the exact covariance numerator
    * n·Σxy − Σx·Σy over days where series A at day d aligns with series B
    * at day d+lag — the "does A lead B?" table (the argmax row is the
    * best-predicting offset; sign says direction). Values in cents, the
    * product algebra widened to decimal(38,0) so no intermediate ever
    * wraps, the final numerator cast back to long.
    *
    * Scale design: the corpus collapses once to (day, series) sums with
    * map-side partials; lags replicate only the |days|-sized collapse
    * (broadcast lag spine), and the alignment is an equi-join on
    * day+lag — never a range or cross join on the raw data.
    */
  def leadLagProfile(df: DataFrame, tsCol: String, seriesCol: Column,
      valueCol: Column, seriesA: String, seriesB: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val daily = df
      .select(dayId(col(tsCol).cast("timestamp"))
          .as("day_id"),
        seriesCol.as("et"), floor(valueCol * 100).cast("long").as("cents"))
      .filter(col("et").isin(seriesA, seriesB))
      .groupBy(col("day_id"), col("et")).agg(sum(col("cents")).as("v"))
    val a = daily.filter(col("et") === seriesA)
      .select(col("day_id").as("da"), col("v").as("x"))
    val b = daily.filter(col("et") === seriesB)
      .select(col("day_id").as("db"), col("v").as("y"))
    val lags = broadcast(df.sparkSession
      .createDataFrame((-maxLag to maxLag).map(l => Tuple1(l.toLong)))
      .toDF("lag"))
    a.crossJoin(lags)
      .join(b, col("da") + col("lag") === col("db"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      .select(col("lag"), col("n_days"), col("sx"), col("sy"),
        expr("""cast(cast(n_days as decimal(38,0)) * sxy
             - cast(sx as decimal(38,0)) * sy as long)""").as("cov_num"))
  }

  // ---- q312: do views lead purchases, and by how many days? -------------------
  private def q312(s: SparkSession, d: String): DataFrame =
    leadLagProfile(Tables.events(s, d), "ts", col("event_type"),
      col("value"), "view", "purchase", maxLag = 5)
      .orderBy(col("lag"))
  private val q312Sql =
    """WITH daily AS (
         SELECT epoch_us(ts) // 86400000000 AS day_id, event_type AS et,
           sum(floor(value * 100)::BIGINT)::BIGINT AS v
         FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
       a AS (SELECT day_id AS da, v AS x FROM daily WHERE et = 'view'),
       b AS (SELECT day_id AS db, v AS y FROM daily WHERE et = 'purchase'),
       l AS (SELECT unnest(range(-5, 6))::BIGINT AS lag),
       ja AS (
         SELECT lag, x, y FROM a CROSS JOIN l
         JOIN b ON da + lag = db)
       SELECT lag, count(*)::BIGINT AS n_days, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy,
         (count(*)::HUGEINT * sum(x::HUGEINT * y)
           - sum(x)::HUGEINT * sum(y))::BIGINT AS cov_num
       FROM ja GROUP BY lag ORDER BY lag"""

  /** As-of staleness histogram: given a backward as-of join's output, how
    * old is the matched right-side row at each left event — bucketed into
    * human-readable decades (<1 s, <10 s, <1 min, <10 min, <1 h, ≥1 h)
    * plus the unmatched class, with exact share and per-bucket max. THE
    * operational readout for an as-of pipeline: it prices the freshness
    * SLA (and the watermark/retention needed) before anyone trusts the
    * joined values.
    *
    * Scale design: consumes an already-planned as-of join (the native
    * merge operator at scale); one conditional bucket expression and one
    * tiny grouped count on top — the histogram adds no new shuffle of the
    * joined data beyond its 7-row collapse.
    */
  def asofStalenessProfile(joined: DataFrame, leftTs: Column,
      rightTs: Column): DataFrame = {
    val st = joined.select(
      (unix_micros(leftTs.cast("timestamp"))
        - unix_micros(rightTs.cast("timestamp"))).as("stale_us"))
    val bucketed = st.select(
      when(col("stale_us").isNull, 6L)
        .when(col("stale_us") < 1000000L, 0L)
        .when(col("stale_us") < 10000000L, 1L)
        .when(col("stale_us") < 60000000L, 2L)
        .when(col("stale_us") < 600000000L, 3L)
        .when(col("stale_us") < 3600000000L, 4L)
        .otherwise(5L).as("ord"),
      col("stale_us"))
    val labels = Seq("lt_1s", "lt_10s", "lt_1m", "lt_10m", "lt_1h",
      "ge_1h", "unmatched")
    val hist = bucketed.groupBy(col("ord"))
      .agg(count(lit(1)).as("n"), max(col("stale_us")).as("max_stale_us"))
    hist.crossJoin(broadcast(hist.agg(sum(col("n")).as("total"))))
      .select(col("ord"),
        element_at(typedLit(labels), col("ord").cast("int") + 1)
          .as("bucket"),
        col("n"), expr("n * 1000000L div total").as("share_micro"),
        col("max_stale_us"))
  }

  // ---- q313: how stale is the click each purchase joins back to? --------------
  private def q313(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("click_ts", col("ts"))
    val joined = AsOfJoin.leftAsOfNative(purchases, clicks,
      keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      rightPayload = Seq("click_ts"))
    asofStalenessProfile(joined, col("ts"), col("click_ts"))
      .orderBy(col("ord"))
  }
  private val q313Sql =
    """WITH purchases AS (
         SELECT event_id, user_id, ts FROM events
         WHERE event_type = 'purchase'),
       clicks AS (
         SELECT user_id, ts, max(event_id) AS click_id FROM events
         WHERE event_type = 'click' GROUP BY user_id, ts),
       j AS (
         SELECT epoch_us(p.ts) - epoch_us(c.ts) AS stale_us
         FROM purchases p ASOF LEFT JOIN clicks c
           ON p.user_id = c.user_id AND p.ts >= c.ts),
       bk AS (
         SELECT CASE
             WHEN stale_us IS NULL THEN 6
             WHEN stale_us < 1000000 THEN 0
             WHEN stale_us < 10000000 THEN 1
             WHEN stale_us < 60000000 THEN 2
             WHEN stale_us < 600000000 THEN 3
             WHEN stale_us < 3600000000 THEN 4
             ELSE 5 END::BIGINT AS ord,
           stale_us
         FROM j),
       hist AS (
         SELECT ord, count(*)::BIGINT AS n,
           max(stale_us)::BIGINT AS max_stale_us
         FROM bk GROUP BY ord),
       t AS (SELECT sum(n)::BIGINT AS total FROM hist)
       SELECT ord,
         (['lt_1s', 'lt_10s', 'lt_1m', 'lt_10m', 'lt_1h', 'ge_1h',
           'unmatched'])[ord + 1] AS bucket,
         n, (n * 1000000 // total)::BIGINT AS share_micro, max_stale_us
       FROM hist, t ORDER BY ord"""

  /** Calendar dimension spine: one row per day of [start, end], with
    * year/quarter/month/day plus ISO-agnostic day-of-week and weekend
    * flag computed from EPOCH-DAY arithmetic ((day_id + 3) % 7,
    * 0 = Monday) — the same timezone-free convention the dow/load
    * profiles use, so the spine joins consistently on any engine and
    * under any session timezone. Generated distributed via
    * `sequence()`/explode, not a driver loop.
    */
  def calendar(s: SparkSession, startDate: String,
      endDate: String): DataFrame = {
    // Strict ISO parse BEFORE the literals reach SQL text: a malformed
    // (or crafted) argument fails here with a clear message instead of
    // injecting expression text or surfacing a deep parse error.
    Seq("startDate" -> startDate, "endDate" -> endDate).foreach {
      case (what, v) =>
        try java.time.LocalDate.parse(v)
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"calendar: $what must be an ISO yyyy-MM-dd date, got '$v'")
        }
    }
    s.range(1).select(explode(expr(
        s"sequence(date'$startDate', date'$endDate', interval 1 day)"))
        .as("day"))
      .select(col("day"),
        expr("datediff(day, date'1970-01-01')").cast("long").as("day_id"),
        year(col("day")).cast("long").as("year"),
        quarter(col("day")).cast("long").as("quarter"),
        month(col("day")).cast("long").as("month"),
        dayofmonth(col("day")).cast("long").as("day_of_month"),
        expr("(datediff(day, date'1970-01-01') + 3) % 7").cast("long")
          .as("dow_monday0"))
      .withColumn("is_weekend", col("dow_monday0") >= 5)
  }

  // ---- q330: the 2024 calendar spine, reached from SQL ------------------------
  private def q330(s: SparkSession, d: String): DataFrame = {
    SqlRegistry.register(s)
    s.sql("""SELECT * FROM graft_calendar('2024-01-01', '2024-12-31')
      ORDER BY day""")
  }
  private val q330Sql =
    """SELECT day::DATE AS day,
         date_diff('day', DATE '1970-01-01', day)::BIGINT AS day_id,
         year(day)::BIGINT AS year, quarter(day)::BIGINT AS quarter,
         month(day)::BIGINT AS month, day(day)::BIGINT AS day_of_month,
         ((date_diff('day', DATE '1970-01-01', day) + 3) % 7)::BIGINT
           AS dow_monday0,
         ((date_diff('day', DATE '1970-01-01', day) + 3) % 7) >= 5
           AS is_weekend
       FROM generate_series(DATE '2024-01-01', DATE '2024-12-31',
         INTERVAL 1 DAY) t(day)
       ORDER BY day"""

  /** Type-7 linearly-interpolated quantiles (the numpy/pandas default)
    * per group, in EXACT micro arithmetic: the rank position
    * h = (n−1)·p/100 is an exact rational with denominator 100, so
    * q_micro = x_k·10⁶ + (x_{k+1} − x_k)·(h mod 1)·10⁶ is pure BIGINT —
    * the parity bridge for pipelines that must reproduce a pandas
    * `quantile()` exactly, beside the library's nearest-rank family
    * (q47/q205/q229). Values carried in cents.
    *
    * Scale design: one (group, value) collapse with map-side partials,
    * cumulative counts over the distinct-value relation (group-
    * partitioned window — the quantized-domain contract), then one
    * conditional aggregation per group; the two order statistics per
    * percentile are min-over-threshold lookups, not sorts.
    */
  def interpQuantiles(df: DataFrame, groupCol: Column, valueCol: Column,
      ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p < 100),
      "percentiles must be in [0, 100)")
    val byV = df
      .select(groupCol.as("g"), floor(valueCol * 100).cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .select(col("g"), col("v"), sum(col("c")).over(w).as("cum"))
      .join(byV.groupBy(col("g")).agg(sum(col("c")).as("n")), "g")
    val aggs = col("n").as("n") +: ps.flatMap { p =>
      // k = (n−1)·p div 100 (0-based); lookups need cum ≥ k+1 / k+2.
      val k = s"((n - 1) * $p div 100)"
      Seq(
        min(when(expr(s"cum >= $k + 1"), col("v"))).as(s"_lo_$p"),
        min(when(expr(s"cum >= $k + 2"), col("v"))).as(s"_hi_$p"))
    }
    val looked = cum.groupBy(col("g")).agg(max(col("n")).as("n"),
      aggs.tail: _*)
    ps.foldLeft(looked) { (d, p) =>
      d.withColumn(s"p${p}_micro", expr(
        s"""_lo_$p * 1000000L + (coalesce(_hi_$p, _lo_$p) - _lo_$p)
           * (((n - 1) * $p) % 100) * 10000L"""))
    }.select((col("g") +: col("n") +:
      ps.map(p => col(s"p${p}_micro"))): _*)
  }

  // ---- q329: pandas-exact value quantiles per event type ----------------------
  private def q329(s: SparkSession, d: String): DataFrame =
    interpQuantiles(Tables.events(s, d), col("event_type"), col("value"),
      Seq(25, 50, 75, 90))
      .orderBy(col("g"))
  private val q329Sql =
    """WITH byv AS (
         SELECT event_type AS g, floor(value * 100)::BIGINT AS v,
           count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       cum AS (
         SELECT g, v,
           sum(c) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS cum,
           sum(c) OVER (PARTITION BY g)::BIGINT AS n
         FROM byv),
       lk AS (
         SELECT g, max(n)::BIGINT AS n,
           min(CASE WHEN cum >= (n - 1) * 25 // 100 + 1 THEN v END)
             AS lo25,
           min(CASE WHEN cum >= (n - 1) * 25 // 100 + 2 THEN v END)
             AS hi25,
           min(CASE WHEN cum >= (n - 1) * 50 // 100 + 1 THEN v END)
             AS lo50,
           min(CASE WHEN cum >= (n - 1) * 50 // 100 + 2 THEN v END)
             AS hi50,
           min(CASE WHEN cum >= (n - 1) * 75 // 100 + 1 THEN v END)
             AS lo75,
           min(CASE WHEN cum >= (n - 1) * 75 // 100 + 2 THEN v END)
             AS hi75,
           min(CASE WHEN cum >= (n - 1) * 90 // 100 + 1 THEN v END)
             AS lo90,
           min(CASE WHEN cum >= (n - 1) * 90 // 100 + 2 THEN v END)
             AS hi90
         FROM cum GROUP BY g)
       SELECT g, n,
         (lo25 * 1000000 + (coalesce(hi25, lo25) - lo25)
           * (((n - 1) * 25) % 100) * 10000)::BIGINT AS p25_micro,
         (lo50 * 1000000 + (coalesce(hi50, lo50) - lo50)
           * (((n - 1) * 50) % 100) * 10000)::BIGINT AS p50_micro,
         (lo75 * 1000000 + (coalesce(hi75, lo75) - lo75)
           * (((n - 1) * 75) % 100) * 10000)::BIGINT AS p75_micro,
         (lo90 * 1000000 + (coalesce(hi90, lo90) - lo90)
           * (((n - 1) * 90) % 100) * 10000)::BIGINT AS p90_micro
       FROM lk ORDER BY g"""

  /** Reorder-point planning table: per group, mean and standard
    * deviation of DAILY demand (zero-demand days included — the
    * divisor is the global day count, and absent days contribute 0 to
    * every sum, so the moments need no gap-filling join), the safety
    * stock z·σ·√L and the reorder point μ·L + safety — the operations
    * readout behind "when do we restock". Variance numerator is exact
    * decimal(38,0) algebra; the single √/÷ finish follows the repo's
    * one-float-step + bin6 convention (identical expression text on
    * both engines, so the IEEE result is bit-stable). Demand is carried
    * in quantity-cents.
    *
    * Scale design: one (group, day) collapse with map-side partials,
    * one group collapse of the moments, one broadcast single-row day
    * count. The corpus is scanned once.
    */
  def reorderPoints(df: DataFrame, groupCol: Column, dayCol: Column,
      qtyCol: Column, leadTimeDays: Int, z: Double): DataFrame = {
    val pd = df
      .select(groupCol.as("g"), dayCol.cast("date").as("day"),
        floor(qtyCol * 100).cast("long").as("qc"))
      .groupBy(col("g"), col("day")).agg(sum(col("qc")).as("dq"))
    val nd = pd.select(col("day")).distinct()
      .agg(count(lit(1)).as("n"))
    val st = pd.groupBy(col("g"))
      .agg(sum(col("dq")).as("s"),
        sum(expr("cast(dq as decimal(38,0)) * dq")).as("ss"))
    val sigmaExpr = "sqrt(cast(cast(n as decimal(38,0)) * ss " +
      "- cast(s as decimal(38,0)) * s as double)) / n"
    st.crossJoin(broadcast(nd))
      .select(col("g"), col("n").as("n_days"), col("s").as("total_qc"),
        expr("s * 1000L div n").as("mean_daily_milli"),
        expr(s"floor(($sigmaExpr) * 1e6 + 0.5) / 1e6").as("sigma_daily"),
        expr(s"floor(($z * sqrt(cast($leadTimeDays as double)) " +
          s"* ($sigmaExpr)) * 1e6 + 0.5) / 1e6").as("safety_stock"),
        expr(s"floor(((s * cast($leadTimeDays as double)) / n " +
          s"+ $z * sqrt(cast($leadTimeDays as double)) * ($sigmaExpr)) " +
          "* 1e6 + 0.5) / 1e6").as("reorder_point"))
  }

  // ---- q328: per-supplier restock planning over daily shipped demand ----------
  private def q328(s: SparkSession, d: String): DataFrame =
    reorderPoints(Tables.lineitem(s, d), col("l_suppkey"),
      col("l_shipdate"), col("l_quantity"), leadTimeDays = 7, z = 1.65)
      .orderBy(col("g"))
  private val q328Sql =
    """WITH pd AS (
         SELECT l_suppkey AS g, l_shipdate::DATE AS day,
           sum(floor(l_quantity * 100)::BIGINT)::BIGINT AS dq
         FROM lineitem GROUP BY 1, 2),
       nd AS (SELECT count(DISTINCT day)::BIGINT AS n FROM pd),
       st AS (
         SELECT g, sum(dq)::BIGINT AS s, sum(dq::HUGEINT * dq) AS ss
         FROM pd GROUP BY 1)
       SELECT g, n AS n_days, s AS total_qc,
         (sign(s)::BIGINT * (abs(s) * 1000 // n))::BIGINT
           AS mean_daily_milli,
         floor((sqrt((n::HUGEINT * ss - s::HUGEINT * s)::DOUBLE) / n)
           * 1e6 + 0.5) / 1e6 AS sigma_daily,
         floor((1.65 * sqrt(cast(7 as double))
           * (sqrt((n::HUGEINT * ss - s::HUGEINT * s)::DOUBLE) / n))
           * 1e6 + 0.5) / 1e6 AS safety_stock,
         floor(((s * cast(7 as double)) / n
           + 1.65 * sqrt(cast(7 as double))
             * (sqrt((n::HUGEINT * ss - s::HUGEINT * s)::DOUBLE) / n))
           * 1e6 + 0.5) / 1e6 AS reorder_point
       FROM st, nd ORDER BY g"""

  /** Difference-in-differences table: the four (treated × period) cell
    * means in exact micro-cents (truncating division, identical on both
    * engines for sums of either sign) and the DiD
    * estimate (Δtreated − Δcontrol) — the first-reach causal readout for
    * any natural experiment ("the feature shipped to half the users on
    * day 15"). One row out.
    *
    * Scale design: one conditional-aggregation pass collapses the corpus
    * to a single row of eight accumulators; every mean and the estimate
    * are arithmetic on that row.
    */
  def diffInDiff(df: DataFrame, treatedCol: Column, postCol: Column,
      valueCol: Column): DataFrame = {
    val wide = df
      .select(treatedCol.as("t"), postCol.as("p"),
        floor(valueCol * 100).cast("long").as("c"))
      .agg(
        sum(when(col("t") && col("p"), 1L).otherwise(0L)).as("n_tp"),
        sum(when(col("t") && !col("p"), 1L).otherwise(0L)).as("n_t0"),
        sum(when(!col("t") && col("p"), 1L).otherwise(0L)).as("n_cp"),
        sum(when(!col("t") && !col("p"), 1L).otherwise(0L)).as("n_c0"),
        sum(when(col("t") && col("p"), col("c")).otherwise(0L)).as("s_tp"),
        sum(when(col("t") && !col("p"), col("c")).otherwise(0L)).as("s_t0"),
        sum(when(!col("t") && col("p"), col("c")).otherwise(0L)).as("s_cp"),
        sum(when(!col("t") && !col("p"), col("c")).otherwise(0L))
          .as("s_c0"))
    def mean(s: String, n: String): Column =
      when(col(n) > 0,
        expr(s"$s * 1000000L div $n"))
        .otherwise(lit(null).cast("long"))
    wide.select(col("n_tp"), col("n_t0"), col("n_cp"), col("n_c0"),
        mean("s_tp", "n_tp").as("m_tp_micro"),
        mean("s_t0", "n_t0").as("m_t0_micro"),
        mean("s_cp", "n_cp").as("m_cp_micro"),
        mean("s_c0", "n_c0").as("m_c0_micro"))
      .withColumn("did_micro",
        (col("m_tp_micro") - col("m_t0_micro"))
          - (col("m_cp_micro") - col("m_c0_micro")))
  }

  // ---- q323: did even-id users' event values move after Jan 16? ---------------
  private def q323(s: SparkSession, d: String): DataFrame =
    diffInDiff(Tables.events(s, d), col("user_id") % 2 === 0,
      expr("cast(ts as date) >= date'2024-01-16'"), col("value"))
  private val q323Sql =
    """WITH base AS (
         SELECT user_id % 2 = 0 AS t, ts::DATE >= DATE '2024-01-16' AS p,
           floor(value * 100)::BIGINT AS c
         FROM events),
       w AS (
         SELECT
           sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::BIGINT AS n_tp,
           sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::BIGINT AS n_t0,
           sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::BIGINT AS n_cp,
           sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::BIGINT
             AS n_c0,
           sum(CASE WHEN t AND p THEN c ELSE 0 END)::BIGINT AS s_tp,
           sum(CASE WHEN t AND NOT p THEN c ELSE 0 END)::BIGINT AS s_t0,
           sum(CASE WHEN NOT t AND p THEN c ELSE 0 END)::BIGINT AS s_cp,
           sum(CASE WHEN NOT t AND NOT p THEN c ELSE 0 END)::BIGINT
             AS s_c0
         FROM base),
       m AS (
         SELECT n_tp, n_t0, n_cp, n_c0,
           CASE WHEN n_tp > 0 THEN sign(s_tp)::BIGINT
             * (abs(s_tp) * 1000000 // n_tp) ELSE NULL END AS m_tp_micro,
           CASE WHEN n_t0 > 0 THEN sign(s_t0)::BIGINT
             * (abs(s_t0) * 1000000 // n_t0) ELSE NULL END AS m_t0_micro,
           CASE WHEN n_cp > 0 THEN sign(s_cp)::BIGINT
             * (abs(s_cp) * 1000000 // n_cp) ELSE NULL END AS m_cp_micro,
           CASE WHEN n_c0 > 0 THEN sign(s_c0)::BIGINT
             * (abs(s_c0) * 1000000 // n_c0) ELSE NULL END AS m_c0_micro
         FROM w)
       SELECT n_tp, n_t0, n_cp, n_c0, m_tp_micro, m_t0_micro, m_cp_micro,
         m_c0_micro,
         ((m_tp_micro - m_t0_micro) - (m_cp_micro - m_c0_micro))::BIGINT
           AS did_micro
       FROM m"""

  /** CUPED variance-reduced treatment effect (Deng et al. 2013): per
    * unit, the pre-period metric x and post-period metric y; the
    * adjustment coefficient θ = cov(x, y)/var(x) as an exact truncated
    * micro ratio (decimal(38,0)-widened products, fixed truncation
    * points), and the adjusted effect
    * (ȳ_t − ȳ_c) − θ·(x̄_t − x̄_c) — the industry-standard experiment
    * readout that removes pre-existing-behavior variance from the raw
    * diff. One row out.
    *
    * Scale design: one per-unit collapse (map-side partials), then ONE
    * global aggregation row carrying the moment sums; no second corpus
    * pass, no join.
    */
  def cuped(df: DataFrame, unitCol: Column, treatedCol: Column,
      isPreCol: Column, valueCol: Column): DataFrame = {
    val per = df
      .select(unitCol.as("u"), treatedCol.as("t"), isPreCol.as("pre"),
        floor(valueCol * 100).cast("long").as("c"))
      .groupBy(col("u"))
      .agg(max(col("t")).as("t"),
        sum(when(col("pre"), col("c")).otherwise(0L)).as("x"),
        sum(when(!col("pre"), col("c")).otherwise(0L)).as("y"))
    val g = per.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
      sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
      sum(when(col("t"), col("x")).otherwise(0L)).as("sx_t"),
      sum(when(col("t"), col("y")).otherwise(0L)).as("sy_t"))
    def mean(s: String, n: String): Column =
      when(col(n) > 0,
        expr(s"$s * 1000000L div $n"))
        .otherwise(lit(null).cast("long"))
    g.withColumn("sy_c", col("sy") - col("sy_t"))
      .withColumn("sx_c", col("sx") - col("sx_t"))
      .withColumn("n_c", col("n") - col("n_t"))
      .select(col("n"), col("n_t"),
        expr("""cast(cast(n as decimal(38,0)) * sxy
             - cast(sx as decimal(38,0)) * sy as decimal(38,0))""")
          .as("cov_num"),
        expr("""cast(cast(n as decimal(38,0)) * sxx
             - cast(sx as decimal(38,0)) * sx as decimal(38,0))""")
          .as("var_num"),
        mean("sy_t", "n_t").as("my_t"),
        mean("sy_c", "n_c").as("my_c"),
        mean("sx_t", "n_t").as("mx_t"),
        mean("sx_c", "n_c").as("mx_c"))
      .select(col("n"), col("n_t"),
        when(col("var_num") > 0,
          expr("cov_num * 1000000 div var_num"))
          .otherwise(lit(0L)).as("theta_micro"),
        (col("my_t") - col("my_c")).as("raw_diff_micro"),
        col("mx_t"), col("mx_c"), col("my_t"), col("my_c"))
      .withColumn("adj_diff_micro",
        col("raw_diff_micro") -
          expr("theta_micro * (mx_t - mx_c) div 1000000L"))
      .select(col("n"), col("n_t"), col("theta_micro"),
        col("raw_diff_micro"), col("adj_diff_micro"))
  }

  // ---- q324: the CUPED-adjusted effect for the same natural split -------------
  private def q324(s: SparkSession, d: String): DataFrame =
    cuped(Tables.events(s, d), col("user_id"), col("user_id") % 2 === 0,
      expr("cast(ts as date) < date'2024-01-16'"), col("value"))
  private val q324Sql =
    """WITH per AS (
         SELECT user_id AS u, max(user_id % 2 = 0) AS t,
           sum(CASE WHEN ts::DATE < DATE '2024-01-16' THEN
             floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
           sum(CASE WHEN ts::DATE >= DATE '2024-01-16' THEN
             floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
         FROM events GROUP BY 1),
       g AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
           sum(y)::BIGINT AS sy,
           sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
           sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS n_t,
           sum(CASE WHEN t THEN x ELSE 0 END)::BIGINT AS sx_t,
           sum(CASE WHEN t THEN y ELSE 0 END)::BIGINT AS sy_t
         FROM per),
       d1 AS (
         SELECT n, n_t,
           (n::HUGEINT * sxy - sx::HUGEINT * sy) AS cov_num,
           (n::HUGEINT * sxx - sx::HUGEINT * sx) AS var_num,
           CASE WHEN n_t > 0 THEN sign(sy_t)::BIGINT
             * (abs(sy_t) * 1000000 // n_t) ELSE NULL END AS my_t,
           CASE WHEN n - n_t > 0 THEN sign(sy - sy_t)::BIGINT
             * (abs(sy - sy_t) * 1000000 // (n - n_t)) ELSE NULL END
             AS my_c,
           CASE WHEN n_t > 0 THEN sign(sx_t)::BIGINT
             * (abs(sx_t) * 1000000 // n_t) ELSE NULL END AS mx_t,
           CASE WHEN n - n_t > 0 THEN sign(sx - sx_t)::BIGINT
             * (abs(sx - sx_t) * 1000000 // (n - n_t)) ELSE NULL END
             AS mx_c
         FROM g),
       d2 AS (
         SELECT n, n_t,
           CASE WHEN var_num > 0 THEN (sign(cov_num)
             * (abs(cov_num) * 1000000 // abs(var_num)))::BIGINT
             ELSE 0 END AS theta_micro,
           (my_t - my_c)::BIGINT AS raw_diff_micro,
           mx_t, mx_c
         FROM d1)
       SELECT n, n_t, theta_micro, raw_diff_micro,
         (raw_diff_micro - sign(theta_micro * (mx_t - mx_c))::BIGINT
           * (abs(theta_micro::HUGEINT * (mx_t - mx_c)) // 1000000))::BIGINT
           AS adj_diff_micro
       FROM d2"""

  /** Kaplan–Meier survival estimator over right-censored integer
    * durations: for each death time t, the risk-set size, deaths, the
    * exact hazard d·10⁶ div n, and the product-limit survival
    * S(t) = Π_{t_i ≤ t} (n_i − d_i)/n_i carried in micro units with a
    * FIXED truncation point per factor — the fold multiplies then
    * floor-divides at every step, so the estimate is bit-identical on
    * any engine (each factor is packed as (n−d)·2³² + n, making the
    * fold a pure BIGINT lambda both here and in the oracle; an at-risk
    * population ≥ 2³² would silently corrupt that packing, so the
    * operator raises on it rather than emit a wrong curve).
    *
    * Scale design: the corpus collapses once to per-duration (count,
    * deaths) rows with map-side partials; the risk set is ONE cumulative
    * pass over that collapse (`quantized = true` window for day-like
    * bounded domains, [[DistributedPrefix.cumSums]] otherwise), and only
    * the death-time rows — an inherently bounded relation for quantized
    * durations — enter the sequential product fold. The fold itself is
    * the textbook KM recurrence: sequential by definition, so it runs on
    * the collapsed metadata, never the corpus.
    */
  def kaplanMeier(df: DataFrame, durationCol: Column, eventCol: Column,
      quantized: Boolean = true): DataFrame = {
    val byT = df
      .select(durationCol.cast("long").as("t"),
        when(eventCol, 1L).otherwise(0L).as("e"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("e")).as("d"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        byT.select(col("t"), col("c"), col("d"),
          sum(col("c")).over(w).as("cum"))
      else DistributedPrefix.cumSums(byT, Nil, Seq(col("t")), Seq("c"))
        .select(col("t"), col("c"), col("d"), col("cum_c").as("cum"))
    val ev = cum
      .crossJoin(broadcast(byT.agg(sum(col("c")).as("n_total"))))
      .select(col("t"), col("d"),
        (col("n_total") - col("cum") + col("c")).as("n_risk"))
      .filter(col("d") > 0)
      .select(col("t"), col("n_risk"), col("d"),
        when(col("n_risk") < lit(4294967296L),
          (col("n_risk") - col("d")) * lit(4294967296L) + col("n_risk"))
          .otherwise(raise_error(lit("kaplanMeier: at-risk population" +
            " >= 2^32 overflows the packed survival factor")))
          .as("f"))
    ev.agg(array_sort(collect_list(struct(col("t"), col("n_risk"),
        col("d"), col("f")))).as("a"))
      .select(col("a"), posexplode(col("a")))
      .toDF("a", "i", "x")
      .select(col("x.t").as("t"), col("x.n_risk").as("n_risk"),
        col("x.d").as("d"),
        expr("x.d * 1000000L div x.n_risk").as("hazard_micro"),
        expr("""aggregate(slice(a, 1, i + 1), 1000000L,
             (acc, y) -> acc * (y.f div 4294967296L)
               div (y.f % 4294967296L))""").as("surv_micro"))
  }

  /** Nelson–Aalen cumulative-hazard estimator over right-censored
    * integer durations: at each death time, the risk-set size, deaths,
    * the exact hazard increment d·10⁶ div n, and the running total
    * H(t) = Σ_{t_i ≤ t} d_i/n_i — the additive companion to
    * [[kaplanMeier]]'s product-limit curve (H is what you difference,
    * regress, or compare across cohorts; S is what you read retention
    * off). All increments are exact BIGINT micros, so the running sum is
    * bit-identical on any engine with no packing tricks at all.
    *
    * Scale design: identical to [[kaplanMeier]] — one per-duration
    * collapse with map-side partials, one cumulative pass over that
    * collapse, and only the death-time rows (bounded for quantized
    * durations) enter the single-row array fold that forms the running
    * sum.
    */
  def nelsonAalen(df: DataFrame, durationCol: Column, eventCol: Column,
      quantized: Boolean = true): DataFrame = {
    val byT = df
      .select(durationCol.cast("long").as("t"),
        when(eventCol, 1L).otherwise(0L).as("e"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("e")).as("d"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        byT.select(col("t"), col("c"), col("d"),
          sum(col("c")).over(w).as("cum"))
      else DistributedPrefix.cumSums(byT, Nil, Seq(col("t")), Seq("c"))
        .select(col("t"), col("c"), col("d"), col("cum_c").as("cum"))
    val ev = cum
      .crossJoin(broadcast(byT.agg(sum(col("c")).as("n_total"))))
      .select(col("t"), col("d"),
        (col("n_total") - col("cum") + col("c")).as("n_risk"))
      .filter(col("d") > 0)
    ev.agg(array_sort(collect_list(struct(col("t"), col("n_risk"),
        col("d")))).as("a"))
      .select(col("a"), posexplode(col("a")))
      .toDF("a", "i", "x")
      .select(col("x.t").as("t"), col("x.n_risk").as("n_risk"),
        col("x.d").as("d"),
        expr("x.d * 1000000L div x.n_risk").as("hazard_micro"),
        expr("""aggregate(slice(a, 1, i + 1), 0L,
             (acc, y) -> acc + y.d * 1000000L div y.n_risk)""")
          .as("cum_hazard_micro"))
  }

  // ---- q340: cumulative ordering-churn hazard ----------------------------------
  // The q317 fixture read additively: how much churn hazard has a
  // customer lifetime accumulated by day t?
  private def q340(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("fo"),
        max(col("o_orderdate")).as("lo"))
      .select(datediff(col("lo"), col("fo")).cast("long").as("dur"),
        expr("cast(lo as date) < date'2001-02-01'").as("ev"))
    nelsonAalen(cust, col("dur"), col("ev")).orderBy(col("t"))
  }
  private val q340Sql =
    """WITH cust AS (
         SELECT o_custkey, min(o_orderdate) AS fo, max(o_orderdate) AS lo
         FROM orders GROUP BY 1),
       pc AS (
         SELECT date_diff('day', fo::DATE, lo::DATE)::BIGINT AS t,
           CASE WHEN lo::DATE < DATE '2001-02-01' THEN 1 ELSE 0 END AS e
         FROM cust),
       byt AS (
         SELECT t, count(*)::BIGINT AS c, sum(e)::BIGINT AS d
         FROM pc GROUP BY t),
       tot AS (SELECT sum(c)::BIGINT AS n_total FROM byt),
       km AS (
         SELECT t, d,
           (n_total - sum(c) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c)::BIGINT
             AS n_risk
         FROM byt, tot),
       ev AS (SELECT t, n_risk, d FROM km WHERE d > 0)
       SELECT t, n_risk, d, (d * 1000000 // n_risk)::BIGINT AS hazard_micro,
         (sum(d * 1000000 // n_risk) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS cum_hazard_micro
       FROM ev ORDER BY t"""

  /** Log-rank test for two right-censored survival curves: at each
    * death time, group 1's observed deaths vs its hypergeometric
    * expectation d·n₁/n, summed — with the variance term
    * d·n₁·(n−n₁)·(n−d) / (n²·(n−1)) — and the χ² statistic
    * (O−E)²/V, everything in decimal(38,0)-widened exact micro algebra
    * with fixed truncation points (the [[kaplanMeier]] discipline
    * applied to the two-sample comparison: "do even- and odd-keyed
    * customers churn at the same rate" gets an actual test, not two
    * curves eyeballed). One row out.
    *
    * Scale design: one per-(duration, group-slice) collapse with
    * map-side partials, one cumulative pass over the distinct-duration
    * relation (quantized-domain window, the q317 contract), then a
    * single aggregation row.
    */
  def logRank(df: DataFrame, durationCol: Column, eventCol: Column,
      group1Col: Column): DataFrame = {
    val byT = df
      .select(durationCol.cast("long").as("t"),
        when(eventCol, 1L).otherwise(0L).as("e"),
        when(group1Col, 1L).otherwise(0L).as("g1"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("e")).as("d"),
        sum(col("g1")).as("c1"),
        sum(col("e") * col("g1")).as("d1"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byT.select(col("t"), col("c"), col("d"), col("c1"),
      col("d1"), sum(col("c")).over(w).as("cum_c"),
      sum(col("c1")).over(w).as("cum_c1"))
    val risk = cum
      .crossJoin(broadcast(byT.agg(sum(col("c")).as("nt"),
        sum(col("c1")).as("nt1"))))
      .select(col("t"), col("d"), col("d1"),
        (col("nt") - col("cum_c") + col("c")).as("nr"),
        (col("nt1") - col("cum_c1") + col("c1")).as("nr1"))
      .filter(col("d") > 0 && col("nr") > 1)
    risk.agg(
        sum(col("d1")).as("o1"),
        sum(expr("""cast(d as decimal(38,0)) * nr1 * 1000000
             div nr""")).as("e1_micro"),
        sum(expr("""cast(d as decimal(38,0)) * nr1 * (nr - nr1)
             * (nr - d) * 1000000
             div (cast(nr as decimal(38,0)) * nr * (nr - 1))"""))
          .as("v_micro"))
      .select(col("o1"), col("e1_micro").cast("long").as("e1_micro"),
        col("v_micro").cast("long").as("v_micro"))
      .withColumn("chi2_micro",
        when(col("v_micro") > 0, expr(
          """cast((cast(o1 * 1000000L - e1_micro as decimal(38,0))
             * (o1 * 1000000L - e1_micro)) div v_micro as long)"""))
          .otherwise(lit(null).cast("long")))
  }

  // ---- q325: do even- and odd-keyed customers churn alike? --------------------
  private def q325(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("fo"),
        max(col("o_orderdate")).as("lo"))
      .select(col("o_custkey").as("ck"),
        datediff(col("lo"), col("fo")).cast("long").as("dur"),
        expr("cast(lo as date) < date'2001-02-01'").as("ev"))
    logRank(cust, col("dur"), col("ev"), col("ck") % 2 === 0)
  }
  private val q325Sql =
    """WITH cust AS (
         SELECT o_custkey AS ck, min(o_orderdate) AS fo,
           max(o_orderdate) AS lo
         FROM orders GROUP BY 1),
       pc AS (
         SELECT date_diff('day', fo::DATE, lo::DATE)::BIGINT AS t,
           CASE WHEN lo::DATE < DATE '2001-02-01' THEN 1 ELSE 0 END AS e,
           CASE WHEN ck % 2 = 0 THEN 1 ELSE 0 END AS g1
         FROM cust),
       byt AS (
         SELECT t, count(*)::BIGINT AS c, sum(e)::BIGINT AS d,
           sum(g1)::BIGINT AS c1, sum(e * g1)::BIGINT AS d1
         FROM pc GROUP BY t),
       tot AS (SELECT sum(c)::BIGINT AS nt, sum(c1)::BIGINT AS nt1
         FROM byt),
       risk AS (
         SELECT t, d, d1,
           (nt - sum(c) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c)::BIGINT
             AS nr,
           (nt1 - sum(c1) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c1)::BIGINT
             AS nr1
         FROM byt, tot),
       f AS (SELECT * FROM risk WHERE d > 0 AND nr > 1),
       agg AS (
         SELECT sum(d1)::BIGINT AS o1,
           sum(d::HUGEINT * nr1 * 1000000 // nr)::HUGEINT AS e1_micro,
           sum(d::HUGEINT * nr1 * (nr - nr1) * (nr - d) * 1000000
             // (nr::HUGEINT * nr * (nr - 1)))::HUGEINT AS v_micro
         FROM f)
       SELECT o1, e1_micro::BIGINT AS e1_micro, v_micro::BIGINT AS v_micro,
         CASE WHEN v_micro > 0
           THEN ((o1 * 1000000 - e1_micro)::HUGEINT
             * (o1 * 1000000 - e1_micro) // v_micro)::BIGINT
           ELSE NULL END AS chi2_micro
       FROM agg"""

  // ---- q383: does order frequency lower churn hazard? -------------------------
  // Same churn fixture as q317/q325; covariate = per-customer order count
  // capped at 12. β < 0 ⇒ frequent orderers churn slower.
  private def q383(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("fo"), max(col("o_orderdate")).as("lo"),
        count(lit(1)).as("cnt"))
      .select(datediff(col("lo"), col("fo")).cast("long").as("dur"),
        expr("cast(lo as date) < date'2001-02-01'").as("ev"),
        least(col("cnt"), lit(12L)).as("x"))
    coxFit(cust, col("dur"), col("ev"), Seq("" -> col("x")), iters = 6)
  }
  /** Unrolled Newton oracle for [[coxFit]] — one (byt, rs, ui, b) CTE
    * quartet per iteration, the [[Supervised.logisticFitSql]] pattern.
    */
  private def coxFitSql(subjSql: String, iters: Int): String = {
    val levels = scala.collection.mutable.ArrayBuffer(
      s"subj AS MATERIALIZED ($subjSql)",
      "b0 AS (SELECT 0::BIGINT AS beta)")
    for (i <- 1 to iters) {
      val w = "floor(exp(least(greatest(b.beta * s.x / 1e6, -20), 20))" +
        " * 1048576 + 0.5)::HUGEINT"
      levels += s"""byt$i AS MATERIALIZED (
        SELECT s.t, sum($w) AS sw, sum($w * s.x) AS swx,
          sum($w * s.x * s.x) AS swx2,
          sum(s.e)::HUGEINT AS d, sum(s.e * s.x)::HUGEINT AS dx
        FROM subj s, b${i - 1} b GROUP BY s.t)"""
      levels += s"""rs$i AS MATERIALIZED (
        SELECT t, d, dx,
          sum(sw) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0,
          sum(swx) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
          sum(swx2) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2
        FROM byt$i)"""
      val bq = fd("s1*1000000", "s0")
      levels += s"""ui$i AS (
        SELECT sum(dx * 1000000 - d * $bq)::HUGEINT AS u,
          sum(d * (${fd("s2*1000000", "s0")}
            - ${fd(s"$bq*$bq", "1000000")}))::HUGEINT AS i
        FROM rs$i WHERE d > 0)"""
      levels += s"""b$i AS (
        SELECT (CASE WHEN u.i > 0
          THEN b.beta + ${fd("u.u*1000000", "u.i")} ELSE b.beta END)::BIGINT
          AS beta
        FROM b${i - 1} b, ui$i u)"""
    }
    s"""WITH ${levels.mkString(",\n")}
      SELECT * FROM (
        SELECT 'beta_micro' AS term, beta AS value FROM b$iters
        UNION ALL SELECT 'n_events', sum(e)::BIGINT FROM subj
        UNION ALL SELECT 'n_subjects', count(*)::BIGINT FROM subj
        UNION ALL SELECT 'score_residual_micro', u::BIGINT FROM ui$iters)
      ORDER BY term"""
  }
  private val q383Sql = coxFitSql(
    """SELECT date_diff('day', min(o_orderdate)::DATE,
          max(o_orderdate)::DATE)::BIGINT AS t,
        (max(o_orderdate)::DATE < DATE '2001-02-01')::BIGINT AS e,
        least(count(*), 12)::BIGINT AS x
      FROM orders GROUP BY o_custkey""", iters = 6)

  // ---- q400: churn hazard vs order frequency AND spend ------------------------
  // The q383 fixture with a second covariate: does spend carry hazard
  // signal beyond frequency? (Frequency keeps its negative slope; the
  // spend slope is the adjusted answer.)
  private def q400(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("fo"), max(col("o_orderdate")).as("lo"),
        count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("spend"))
      .select(datediff(col("lo"), col("fo")).cast("long").as("dur"),
        expr("cast(lo as date) < date'2001-02-01'").as("ev"),
        least(col("cnt"), lit(12L)).as("x1"),
        least(expr("CAST(spend / 1000000 AS BIGINT)"), lit(8L)).as("x2"))
    coxFit(cust, col("dur"), col("ev"),
      Seq("1" -> col("x1"), "2" -> col("x2")), iters = 6)
  }
  private def coxFit2Sql(subjSql: String, iters: Int): String = {
    val levels = scala.collection.mutable.ArrayBuffer(
      s"subj AS MATERIALIZED ($subjSql)",
      "b0 AS (SELECT 0::BIGINT AS b1, 0::BIGINT AS b2)")
    for (i <- 1 to iters) {
      val w = "floor(exp(least(greatest((b.b1 * s.x1 + b.b2 * s.x2) / 1e6," +
        " -20), 20)) * 1048576 + 0.5)::HUGEINT"
      levels += s"""byt$i AS MATERIALIZED (
        SELECT s.t, sum($w) AS sw, sum($w * s.x1) AS sw1,
          sum($w * s.x2) AS sw2, sum($w * s.x1 * s.x1) AS sw11,
          sum($w * s.x1 * s.x2) AS sw12, sum($w * s.x2 * s.x2) AS sw22,
          sum(s.e)::HUGEINT AS d, sum(s.e * s.x1)::HUGEINT AS dx1,
          sum(s.e * s.x2)::HUGEINT AS dx2
        FROM subj s, b${i - 1} b GROUP BY s.t)"""
      val cum = Seq("sw" -> "s0", "sw1" -> "s1", "sw2" -> "s2",
        "sw11" -> "s11", "sw12" -> "s12", "sw22" -> "s22")
        .map { case (src, dst) =>
          s"""sum($src) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $dst"""
        }.mkString(",\n          ")
      levels += s"""rs$i AS MATERIALIZED (
        SELECT t, d, dx1, dx2,
          $cum
        FROM byt$i)"""
      def bqs(sj: String) = fd(s"$sj*1000000", "s0")
      levels += s"""ui$i AS (
        SELECT sum(dx1 * 1000000 - d * ${bqs("s1")})::HUGEINT AS u1,
          sum(dx2 * 1000000 - d * ${bqs("s2")})::HUGEINT AS u2,
          sum(d * (${fd("s11*1000000", "s0")}
            - ${fd(s"${bqs("s1")}*${bqs("s1")}", "1000000")}))::HUGEINT AS i11,
          sum(d * (${fd("s12*1000000", "s0")}
            - ${fd(s"${bqs("s1")}*${bqs("s2")}", "1000000")}))::HUGEINT AS i12,
          sum(d * (${fd("s22*1000000", "s0")}
            - ${fd(s"${bqs("s2")}*${bqs("s2")}", "1000000")}))::HUGEINT AS i22
        FROM rs$i WHERE d > 0)"""
      levels += s"""b$i AS (
        SELECT (CASE WHEN u.i11 * u.i22 - u.i12 * u.i12 > 0
            THEN b.b1 + ${fd("(u.i22 * u.u1 - u.i12 * u.u2) * 1000000",
              "u.i11 * u.i22 - u.i12 * u.i12")} ELSE b.b1 END)::BIGINT AS b1,
          (CASE WHEN u.i11 * u.i22 - u.i12 * u.i12 > 0
            THEN b.b2 + ${fd("(u.i11 * u.u2 - u.i12 * u.u1) * 1000000",
              "u.i11 * u.i22 - u.i12 * u.i12")} ELSE b.b2 END)::BIGINT AS b2
        FROM b${i - 1} b, ui$i u)"""
    }
    s"""WITH ${levels.mkString(",\n")}
      SELECT * FROM (
        SELECT 'beta1_micro' AS term, b1 AS value FROM b$iters
        UNION ALL SELECT 'beta2_micro', b2 FROM b$iters
        UNION ALL SELECT 'n_events', sum(e)::BIGINT FROM subj
        UNION ALL SELECT 'n_subjects', count(*)::BIGINT FROM subj
        UNION ALL SELECT 'score1_residual_micro', u1::BIGINT FROM ui$iters
        UNION ALL SELECT 'score2_residual_micro', u2::BIGINT FROM ui$iters)
      ORDER BY term"""
  }
  private val q400Sql = coxFit2Sql(
    """SELECT date_diff('day', min(o_orderdate)::DATE,
          max(o_orderdate)::DATE)::BIGINT AS t,
        (max(o_orderdate)::DATE < DATE '2001-02-01')::BIGINT AS e,
        least(count(*), 12)::BIGINT AS x1,
        least(floor(sum(o_totalprice) / 1000000)::BIGINT, 8) AS x2
      FROM orders GROUP BY o_custkey""", iters = 6)

  // ---- q317: customer ordering-lifetime survival curve ------------------------
  // Duration = days between a customer's first and last order; the event
  // (“stopped ordering”) is observed when the last order predates the
  // 2001-02-01 horizon, censored otherwise (the fixture's orders run to
  // 2001-08-01).
  private def q317(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("fo"),
        max(col("o_orderdate")).as("lo"))
      .select(datediff(col("lo"), col("fo")).cast("long").as("dur"),
        expr("cast(lo as date) < date'2001-02-01'").as("ev"))
    kaplanMeier(cust, col("dur"), col("ev")).orderBy(col("t"))
  }
  private[operators] val q317Sql =
    """WITH cust AS (
         SELECT o_custkey, min(o_orderdate) AS fo, max(o_orderdate) AS lo
         FROM orders GROUP BY 1),
       pc AS (
         SELECT date_diff('day', fo::DATE, lo::DATE)::BIGINT AS t,
           CASE WHEN lo::DATE < DATE '2001-02-01' THEN 1 ELSE 0 END AS e
         FROM cust),
       byt AS (
         SELECT t, count(*)::BIGINT AS c, sum(e)::BIGINT AS d
         FROM pc GROUP BY t),
       tot AS (SELECT sum(c)::BIGINT AS n_total FROM byt),
       km AS (
         SELECT t, d,
           (n_total - sum(c) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c)::BIGINT
             AS n_risk
         FROM byt, tot),
       ev AS (
         SELECT t, n_risk, d,
           (n_risk - d) * 4294967296 + n_risk AS f
         FROM km WHERE d > 0),
       arr AS (
         SELECT list(t ORDER BY t) AS ts, list(n_risk ORDER BY t) AS ns,
           list(d ORDER BY t) AS ds, list(f ORDER BY t) AS fs
         FROM ev)
       SELECT ts[i] AS t, ns[i] AS n_risk, ds[i] AS d,
         (ds[i] * 1000000 // ns[i])::BIGINT AS hazard_micro,
         list_reduce(list_prepend(1000000::BIGINT, fs[1:i]),
           (acc, x) -> acc * (x // 4294967296) // (x % 4294967296))::BIGINT
           AS surv_micro
       FROM arr CROSS JOIN (SELECT unnest(range(1, len(ts) + 1)) AS i
         FROM arr) r
       ORDER BY t"""

  /** Cox proportional-hazards fit for k integer covariates, Newton
    * iterations with Breslow tie handling — the REGRESSION member of the
    * survival family ([[kaplanMeier]] describes, [[logRank]] tests a
    * binary split, this quantifies graded effects as log-hazard slopes,
    * each adjusted for the others).
    *
    * Cross-engine determinism (the [[Supervised.logisticFit]] recipe):
    * β⃗ lives on the driver in exact micros; each Newton step is ONE
    * distributed aggregation. The only float op is exp(β⃗·x⃗/10⁶) —
    * clamped to ±20 and quantized to 1/2^20 units at its single site —
    * so the risk-set sums S0, S1_j, S2_ij (DECIMAL(38,0) cumulative
    * windows over the per-time collapse), the Breslow score
    * U_j = Σ_t (dx_j,t·10⁶ − d_t·⌊S1_j·10⁶/S0⌋) and the information
    * I_ij = Σ_t d_t·(⌊S2_ij·10⁶/S0⌋ − ⌊⌊S1_i·10⁶/S0⌋·⌊S1_j·10⁶/S0⌋/10⁶⌋)
    * are exact integer algebra. The step Δβ⃗ = I⁻¹U⃗ is solved exactly by
    * [[FixedPoint.cramer]] in driver BigInt and floored to micros; a step
    * whose det(I) ≤ 0 is skipped. The oracle unrolls the identical fold
    * as per-iteration CTE chains.
    *
    * Scale: the corpus collapses to one row per DISTINCT DURATION
    * (quantized-domain contract, the [[kaplanMeier]] treatment) before
    * the single-partition cumulative window; each iteration re-scans
    * only the persisted (t, e, x⃗) projection with map-side partials.
    * Output: term/value rows — `beta<name>_micro` per covariate,
    * n_events, n_subjects, and `score<name>_residual_micro` (the score
    * at the LAST update's β⃗, ≈0 at convergence).
    */
  def coxFit(df: DataFrame, durationCol: Column, eventCol: Column,
      covariates: Seq[(String, Column)], iters: Int): DataFrame = {
    require(iters >= 1, "coxFit needs iters >= 1")
    require(covariates.nonEmpty, "coxFit needs a covariate")
    val s = df.sparkSession
    import s.implicits._
    val ks = covariates.indices
    def x(j: Int) = col(s"x$j")
    val subj = df.select(durationCol.cast("long").as("t") +:
        eventCol.cast("long").as("e") +:
        ks.map(j => covariates(j)._2.cast("long").as(s"x$j")): _*)
      .persist()
    val pairs = for (i <- ks; j <- i until ks.size) yield (i, j)
    try {
      val beta = ks.map(_ => BigInt(0)).toArray
      var lastU = ks.map(_ => BigInt(0))
      val w = Window.orderBy(col("t").desc).rowsBetween(Long.MinValue, 0)
      for (_ <- 1 to iters) {
        val wq = floor(exp(least(greatest(
            ks.map(j => lit(beta(j).toLong) * x(j)).reduce(_ + _) / lit(1e6),
            lit(-20.0)), lit(20.0)))
          * lit(1048576.0) + lit(0.5)).cast("decimal(38,0)")
        val byt = subj.groupBy("t").agg(sum(wq).as("sw"),
          ks.map(j => sum(wq * x(j)).as(s"sw_$j")) ++
            pairs.map { case (i, j) =>
              sum(wq * x(i) * x(j)).as(s"sw_${i}_$j") } ++
            (sum(col("e")).as("d") +:
              ks.map(j => sum(col("e") * x(j)).as(s"dx_$j"))): _*)
        val rs = byt.select(Seq(col("t"), col("d")) ++
          ks.map(j => col(s"dx_$j")) ++
          (sum(col("sw")).over(w).as("s0") +:
            ks.map(j => sum(col(s"sw_$j")).over(w).as(s"s1_$j"))) ++
          pairs.map { case (i, j) =>
            sum(col(s"sw_${i}_$j")).over(w).as(s"s2_${i}_$j") }: _*)
        def bq(sj: String) =
          floorDiv((col(sj) * lit(1000000L)).cast("decimal(38,0)"), col("s0"))
        val terms = ks.map(j =>
            sum(col(s"dx_$j") * lit(1000000L) - col("d") * bq(s"s1_$j"))) ++
          pairs.map { case (i, j) =>
            sum(col("d") * (bq(s"s2_${i}_$j") -
              floorDiv((bq(s"s1_$i") * bq(s"s1_$j")).cast("decimal(38,0)"),
                lit(1000000L)))) }
        val ui = rs.filter(col("d") > 0).agg(terms.head, terms.tail: _*).head()
        val u = ks.map(j => BigInt(ui.getLong(j)))
        val inf = pairs.zipWithIndex
          .map { case (p, q) => p -> BigInt(ui.getLong(ks.size + q)) }.toMap
        val (det, dj) = FixedPoint.cramer(
          ks.map(i => ks.map(j => inf((i min j, i max j)))), u)
        lastU = u
        if (det > 0)
          for (j <- ks) beta(j) += floorDiv(dj(j) * 1000000, det)
      }
      val counts = subj.agg(sum("e"), count(lit(1))).head()
      val names = covariates.map(_._1)
      s.createDataset(
        names.zip(beta).map { case (nm, b) =>
          (s"beta${nm}_micro", b.toLong) } ++
          Seq(("n_events", counts.getLong(0)),
            ("n_subjects", counts.getLong(1))) ++
          names.zip(lastU).map { case (nm, u) =>
            (s"score${nm}_residual_micro", u.toLong) })
        .toDF("term", "value").orderBy("term")
    } finally subj.unpersist()
  }

  /** Price-volume decomposition of a revenue change between two periods,
    * per group: Δrevenue = price effect + volume effect + residue, the
    * FP&A bridge ("did we sell less, or sell cheaper?"). With
    * p_i = rev_i/q_i held as exact rationals:
    * price_effect = rev₂ − (rev₁·q₂) div q₁ (what revenue moved beyond
    * period-1 pricing at period-2 volume) and
    * volume_effect = (rev₁·(q₂−q₁)) div q₁ (period-1 pricing on the
    * volume change); the ≤ 1-cent flooring residue is EMITTED, so the
    * bridge reconciles to the exact Δ by construction. Groups missing
    * either period report null effects (no fabricated baseline).
    *
    * Scale design: one conditional-aggregation pass collapses the
    * corpus to |groups| rows; everything after is arithmetic on that
    * collapse, with the revenue×quantity cross products widened through
    * decimal(38,0) (HUGEINT in the oracle) so group totals far beyond
    * int64's 9.2e18 still bridge exactly.
    */
  def priceVolumeBridge(df: DataFrame, groupCol: Column, inFirst: Column,
      revenueCents: Column, quantity: Column): DataFrame = {
    df.select(groupCol.as("g"), inFirst.as("p1"),
        revenueCents.cast("long").as("r"), quantity.cast("long").as("q"))
      .groupBy(col("g"))
      .agg(sum(when(col("p1"), col("r"))).as("rev1"),
        sum(when(col("p1"), col("q"))).as("q1"),
        sum(when(!col("p1"), col("r"))).as("rev2"),
        sum(when(!col("p1"), col("q"))).as("q2"))
      .withColumn("delta", col("rev2") - col("rev1"))
      .withColumn("price_effect",
        when(col("q1") > 0 && col("q2") > 0,
          expr("rev2 - (cast(rev1 as decimal(38,0)) * q2) div q1"))
          .otherwise(lit(null).cast("long")))
      .withColumn("volume_effect",
        when(col("q1") > 0 && col("q2") > 0,
          expr("(cast(rev1 as decimal(38,0)) * (q2 - q1)) div q1"))
          .otherwise(lit(null).cast("long")))
      .withColumn("residue",
        when(col("price_effect").isNotNull,
          col("delta") - col("price_effect") - col("volume_effect"))
          .otherwise(lit(null).cast("long")))
  }

  // ---- q306: what moved each return class's revenue across the midpoint? ------
  private def q306(s: SparkSession, d: String): DataFrame =
    priceVolumeBridge(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_shipdate") < lit("1995-06-17"),
        floor(col("l_extendedprice") * 100),
        floor(col("l_quantity")))
      .orderBy(col("g"))
  private val q306Sql =
    """WITH base AS (
         SELECT l_returnflag AS g,
           (l_shipdate < TIMESTAMP '1995-06-17') AS p1,
           floor(l_extendedprice * 100)::BIGINT AS r,
           floor(l_quantity)::BIGINT AS q
         FROM lineitem),
       agg AS (
         SELECT g,
           sum(CASE WHEN p1 THEN r END)::BIGINT AS rev1,
           sum(CASE WHEN p1 THEN q END)::BIGINT AS q1,
           sum(CASE WHEN NOT p1 THEN r END)::BIGINT AS rev2,
           sum(CASE WHEN NOT p1 THEN q END)::BIGINT AS q2
         FROM base GROUP BY 1),
       eff AS (
         SELECT g, rev1, q1, rev2, q2, (rev2 - rev1)::BIGINT AS delta,
           CASE WHEN q1 > 0 AND q2 > 0
             THEN rev2 - (rev1::HUGEINT * q2) // q1 ELSE NULL END::BIGINT
             AS price_effect,
           CASE WHEN q1 > 0 AND q2 > 0
             THEN (rev1::HUGEINT * (q2 - q1)) // q1 ELSE NULL END::BIGINT
             AS volume_effect
         FROM agg)
       SELECT g, rev1, q1, rev2, q2, delta, price_effect, volume_effect,
         CASE WHEN price_effect IS NOT NULL
           THEN delta - price_effect - volume_effect
           ELSE NULL END::BIGINT AS residue
       FROM eff ORDER BY g"""

  /** Audience-overlap matrix: for every pair of segments, the exact
    * Jaccard of their DISTINCT-user sets — "do clickers and purchasers
    * overlap, or are they different populations?" Pure integers: the
    * intersection comes from a self-join of the (segment, user)
    * collapse on the user key, the union from per-segment distincts.
    *
    * Scale design: one (segment, user) distinct collapse; the self-join
    * is keyed on user (co-partitioned) and collapses map-side to
    * |segments|² rows; per-segment totals broadcast back.
    */
  def audienceOverlap(df: DataFrame, segmentCol: Column,
      userCol: Column): DataFrame = {
    val su = df.select(segmentCol.as("seg"), userCol.cast("long").as("u"))
      .distinct()
    val inter = su.as("a").join(su.as("b"),
        col("a.u") === col("b.u") && col("a.seg") < col("b.seg"))
      .groupBy(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"))
      .agg(count(lit(1)).as("n_both"))
    val sizes = su.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    inter
      .join(broadcast(sizes.select(col("seg").as("seg_a"), col("n").as("n_a"))),
        Seq("seg_a"))
      .join(broadcast(sizes.select(col("seg").as("seg_b"), col("n").as("n_b"))),
        Seq("seg_b"))
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("(n_both * 1000000L) div (n_a + n_b - n_both)")
          .as("jaccard_micro"))
  }

  // ---- q303: are the event-type audiences the same people? --------------------
  private def q303(s: SparkSession, d: String): DataFrame =
    audienceOverlap(Tables.events(s, d), col("event_type"), col("user_id"))
      .orderBy(col("seg_a"), col("seg_b"))
  private val q303Sql =
    """WITH su AS (
         SELECT DISTINCT event_type AS seg, user_id AS u FROM events),
       inter AS (
         SELECT a.seg AS seg_a, b.seg AS seg_b, count(*)::BIGINT AS n_both
         FROM su a JOIN su b ON a.u = b.u AND a.seg < b.seg
         GROUP BY 1, 2),
       sizes AS (SELECT seg, count(*)::BIGINT AS n FROM su GROUP BY 1)
       SELECT i.seg_a, i.seg_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
         ((i.n_both * 1000000) // (sa.n + sb.n - i.n_both))::BIGINT
           AS jaccard_micro
       FROM inter i JOIN sizes sa ON i.seg_a = sa.seg
         JOIN sizes sb ON i.seg_b = sb.seg
       ORDER BY i.seg_a, i.seg_b"""

  /** Chapman capture-recapture population estimate: from two overlapping
    * observation windows, the estimated TOTAL population
    * N̂ = (n₁+1)(n₂+1) div (m+1) − 1 (m = recaptures) with the exact
    * inputs beside it — "how many users exist that we never saw",
    * answerable from two samples and pure integer division. The
    * coverage-estimation primitive behind crawl-frontier sizing and
    * dark-pool user estimation; null when the windows never overlap
    * (the estimator is undefined without recaptures — reported, not a
    * fake number).
    *
    * Scale design: two distinct-set collapses and one co-partitioned
    * intersection join; three integers cross the wire.
    */
  def captureRecapture(df: DataFrame, userCol: Column,
      inFirst: Column, inSecond: Column): DataFrame = {
    val u1 = df.filter(inFirst).select(userCol.cast("long").as("u")).distinct()
    val u2 = df.filter(inSecond).select(userCol.cast("long").as("u")).distinct()
    val n1 = u1.agg(count(lit(1)).as("n1"))
    val n2 = u2.agg(count(lit(1)).as("n2"))
    val m = u1.join(u2, Seq("u")).agg(count(lit(1)).as("m"))
    n1.crossJoin(n2).crossJoin(m)
      .select(col("n1"), col("n2"), col("m"),
        when(col("m") > 0,
          expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1"))
          .otherwise(lit(null).cast("long")).as("n_est"))
  }

  // ---- q304: how many users exist beyond the ones we observed? ----------------
  // The two capture windows are the odd/even event halves — overlapping
  // but distinct samples of the same population.
  private def q304(s: SparkSession, d: String): DataFrame =
    captureRecapture(Tables.events(s, d), col("user_id"),
        col("event_id") % 2 === 0, col("event_id") % 2 === 1)
  private val q304Sql =
    """WITH u1 AS (
         SELECT DISTINCT user_id AS u FROM events WHERE event_id % 2 = 0),
       u2 AS (
         SELECT DISTINCT user_id AS u FROM events WHERE event_id % 2 = 1),
       c AS (
         SELECT (SELECT count(*) FROM u1)::BIGINT AS n1,
           (SELECT count(*) FROM u2)::BIGINT AS n2,
           (SELECT count(*) FROM u1 JOIN u2 ON u1.u = u2.u)::BIGINT AS m)
       SELECT n1, n2, m,
         CASE WHEN m > 0 THEN ((n1 + 1) * (n2 + 1)) // (m + 1) - 1
           ELSE NULL END::BIGINT AS n_est
       FROM c"""

  /** Day-over-day audience stability: the exact Jaccard between each
    * day's distinct-user set and the PREVIOUS day's — the churn-velocity
    * curve (a steady product hovers high; a campaign spike crashes it).
    * Consecutive-day pairs come from an equi-join on day+1 (never a
    * window over users), all counts exact integers.
    *
    * Scale design: one (day, user) distinct collapse; the join is keyed
    * on (user, day) equality and collapses map-side to |days| rows;
    * per-day totals broadcast back.
    */
  def dayOverDayOverlap(df: DataFrame, tsCol: String,
      userCol: Column): DataFrame = {
    val du = df.select(dayId(col(tsCol)).as("day_id"),
        userCol.cast("long").as("u"))
      .distinct()
    val inter = du.as("a").join(du.as("b"),
        col("a.u") === col("b.u") && col("b.day_id") === col("a.day_id") + 1)
      .groupBy(col("b.day_id").as("day_id"))
      .agg(count(lit(1)).as("n_both"))
    val sizes = du.groupBy(col("day_id")).agg(count(lit(1)).as("n"))
    sizes.select(col("day_id"), col("n").as("n_today"))
      .join(broadcast(sizes.select((col("day_id") + 1).as("day_id"),
        col("n").as("n_prev"))), Seq("day_id"))
      .join(inter, Seq("day_id"), "left")
      .select(col("day_id"), col("n_prev"), col("n_today"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
      .withColumn("jaccard_micro",
        expr("(n_both * 1000000L) div (n_prev + n_today - n_both)"))
  }

  // ---- q305: is the daily audience the same people as yesterday? --------------
  private def q305(s: SparkSession, d: String): DataFrame =
    dayOverDayOverlap(Tables.events(s, d), "ts", col("user_id"))
      .orderBy(col("day_id"))
  private val q305Sql =
    """WITH du AS (
         SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_id,
           user_id AS u
         FROM events),
       inter AS (
         SELECT b.day_id, count(*)::BIGINT AS n_both
         FROM du a JOIN du b ON a.u = b.u AND b.day_id = a.day_id + 1
         GROUP BY 1),
       sizes AS (SELECT day_id, count(*)::BIGINT AS n FROM du GROUP BY 1)
       SELECT t.day_id, p.n AS n_prev, t.n AS n_today,
         coalesce(i.n_both, 0)::BIGINT AS n_both,
         ((coalesce(i.n_both, 0) * 1000000)
           // (p.n + t.n - coalesce(i.n_both, 0)))::BIGINT AS jaccard_micro
       FROM sizes t JOIN sizes p ON t.day_id = p.day_id + 1
         LEFT JOIN inter i ON i.day_id = t.day_id
       ORDER BY t.day_id"""

  /** Ensemble anomaly consensus over a daily series: three independent
    * detectors — MAD (robust center), Tukey IQR fences (distribution
    * shape), and 3σ z-score (moment-based) — each vote on every day's
    * total, and only days with ≥ 1 vote are reported with their vote
    * count. One detector alone over- or under-flags by construction
    * (MAD collapses on half-constant series, σ is dragged by the very
    * outliers it hunts); the consensus column is what an on-call page
    * actually keys on. Integer algebra throughout: the MAD test is
    * 2·|x−med| > 7·mad (3.5·MAD without a float), the fences are the
    * q283 integers, and only the z-score takes the one identical
    * double path with pre-compare rounding (the q107 convention).
    *
    * Scale design: the corpus collapses once to calendar days (a
    * BOUNDED domain — windows over it are the quantized-domain
    * discipline); every statistic derives from that collapse and
    * broadcasts back as one row.
    */
  def anomalyConsensus(df: DataFrame, tsCol: String,
      valueCol: Column): DataFrame = {
    val daily = df
      .select(dayId(col(tsCol)).as("day_id"),
        floor(valueCol * 100).cast("long").as("cents"))
      .groupBy(col("day_id")).agg(sum(col("cents")).as("x"))
    val byV = daily.groupBy(col("x").as("v")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def rankStats(collapsed: DataFrame): DataFrame = collapsed
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val st1 = rankStats(byV).agg(
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("med"),
        min(when(col("cum") * 4 >= col("n"), col("v"))).as("q1"),
        min(when(col("cum") * 4 >= col("n") * 3, col("v"))).as("q3"))
    val devs = daily.crossJoin(broadcast(st1))
      .select(abs(col("x") - col("med")).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    val madRow = rankStats(devs)
      .agg(min(when(col("cum") * 2 >= col("n"), col("v"))).as("mad"))
    val moments = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("ss"))
    daily.crossJoin(broadcast(st1)).crossJoin(broadcast(madRow))
      .crossJoin(broadcast(moments))
      .withColumn("mad_flag", abs(col("x") - col("med")) * 2 > col("mad") * 7)
      .withColumn("iqr_flag",
        col("x") < col("q1") - expr("(3L * (q3 - q1)) div 2")
          || col("x") > col("q3") + expr("(3L * (q3 - q1)) div 2"))
      .withColumn("z",
        when(col("n") < 2, lit(null).cast("double")).otherwise {
          val m = col("s").cast("double") / col("n").cast("double")
          val varr = ((col("n").cast("double") * col("ss").cast("double")
            - col("s").cast("double") * col("s").cast("double"))
            / (col("n").cast("double") * (col("n").cast("double") - 1d)))
          when(varr <= 0d, lit(null).cast("double"))
            .otherwise(round((col("x").cast("double") - m) / sqrt(varr), 4)
              + lit(0.0))
        })
      .withColumn("z_flag", col("z").isNotNull && abs(col("z")) > 3d)
      .withColumn("votes",
        col("mad_flag").cast("long") + col("iqr_flag").cast("long")
          + col("z_flag").cast("long"))
      .filter(col("votes") >= 1)
      .select(col("day_id"), col("x").as("day_cents"), col("mad_flag"),
        col("iqr_flag"), col("z_flag"), col("votes"))
  }

  // ---- q296: which revenue days would page on-call, and by how many votes? ----
  private def q296(s: SparkSession, d: String): DataFrame =
    anomalyConsensus(Tables.events(s, d), "ts", col("value"))
      .orderBy(col("day_id"))
  private val q296Sql =
    """WITH daily AS (
         SELECT epoch_us(ts) // 86400000000 AS day_id,
           sum(floor(value * 100)::BIGINT)::BIGINT AS x
         FROM events GROUP BY 1),
       byv AS (SELECT x AS v, count(*)::BIGINT AS c FROM daily GROUP BY 1),
       cum1 AS (
         SELECT v, sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER () AS n
         FROM byv),
       st1 AS (
         SELECT min(CASE WHEN cum * 2 >= n THEN v END)::BIGINT AS med,
           min(CASE WHEN cum * 4 >= n THEN v END)::BIGINT AS q1,
           min(CASE WHEN cum * 4 >= n * 3 THEN v END)::BIGINT AS q3
         FROM cum1),
       devs AS (
         SELECT abs(x - med) AS v, count(*)::BIGINT AS c
         FROM daily, st1 GROUP BY 1),
       cum2 AS (
         SELECT v, sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER () AS n
         FROM devs),
       madr AS (
         SELECT min(CASE WHEN cum * 2 >= n THEN v END)::BIGINT AS mad
         FROM cum2),
       mom AS (
         SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s,
           sum(x * x)::BIGINT AS ss
         FROM daily),
       scored AS (
         SELECT day_id, x,
           (abs(x - med) * 2 > mad * 7) AS mad_flag,
           (x < q1 - (3 * (q3 - q1)) // 2
             OR x > q3 + (3 * (q3 - q1)) // 2) AS iqr_flag,
           CASE WHEN n < 2 THEN NULL
             WHEN (n::DOUBLE * ss - s::DOUBLE * s)
               / (n::DOUBLE * (n::DOUBLE - 1)) <= 0 THEN NULL
             ELSE round((x::DOUBLE - s::DOUBLE / n)
               / sqrt((n::DOUBLE * ss - s::DOUBLE * s)
                 / (n::DOUBLE * (n::DOUBLE - 1))), 4) + 0.0
             END AS z
         FROM daily, st1, madr, mom),
       flagged AS (
         SELECT day_id, x AS day_cents, mad_flag, iqr_flag,
           (z IS NOT NULL AND abs(z) > 3) AS z_flag
         FROM scored)
       SELECT day_id, day_cents, mad_flag, iqr_flag, z_flag,
         (mad_flag::BIGINT + iqr_flag::BIGINT + z_flag::BIGINT)::BIGINT
           AS votes
       FROM flagged
       WHERE mad_flag OR iqr_flag OR z_flag
       ORDER BY day_id"""

  /** NTILE bucket assignment — the remaining ranking-family window
    * beyond q104's rank/dense_rank/percent_rank/cume_dist: n
    * equal-as-possible buckets per partition, earlier buckets absorbing
    * the remainder (the standard semantics both engines share). The
    * ORDER BY carries a unique tiebreaker, so bucket membership is
    * deterministic even across tied values.
    */
  def ntileBuckets(df: DataFrame, partCol: String, orderCols: Seq[Column],
      n: Int): DataFrame = {
    require(n >= 1, "ntile needs n >= 1")
    val w = Window.partitionBy(col(partCol)).orderBy(orderCols: _*)
    df.withColumn("bucket", ntile(n).over(w).cast("long"))
  }

  // ---- q292: quartile assignment of order values within priority --------------
  private def q292(s: SparkSession, d: String): DataFrame =
    ntileBuckets(
        Tables.orders(s, d).filter(col("o_orderkey") < 500)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        "o_orderpriority",
        Seq(col("o_totalprice").desc, col("o_orderkey")), 4)
      .orderBy(col("o_orderkey"))
  private val q292Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS bucket
       FROM orders WHERE o_orderkey < 500
       ORDER BY o_orderkey"""

  /** Rolling correlation of two daily measures per key: for each (key,
    * day), the Pearson r of the per-day (x, y) sums over the trailing
    * `windowDays`-day RANGE frame — the drifting-relationship detector
    * ("did quantity stop tracking price this month?") that a global
    * [[graft.operators.Profile.groupedCorr]] averages away. The five
    * moments accumulate as exact BIGINT window sums (callers pre-quantize
    * per row, so partial order never matters); one identical double
    * finish per row, round6 + `+ 0.0`, null under two days or zero
    * variance.
    *
    * Scale design: one exchange on the key for the daily collapse; all
    * six window aggregates share one per-key sort and a bounded RANGE
    * frame buffer (O(days-in-window) state per key).
    */
  def rollingCorr(df: DataFrame, keyCol: String, dayCol: Column,
      xCol: Column, yCol: Column, windowDays: Int): DataFrame = {
    require(windowDays >= 2, "rollingCorr needs windowDays >= 2")
    val daily = df
      .select(col(keyCol).as("k"), dayCol.cast("long").as("day_id"),
        xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .groupBy(col("k"), col("day_id"))
      .agg(sum(col("x")).as("xd"), sum(col("y")).as("yd"))
    val w = Window.partitionBy(col("k")).orderBy(col("day_id"))
      .rangeBetween(-(windowDays - 1).toLong, 0)
    val moments = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("xd")).over(w))
      .withColumn("sy", sum(col("yd")).over(w))
      .withColumn("sxx", sum(col("xd") * col("xd")).over(w))
      .withColumn("syy", sum(col("yd") * col("yd")).over(w))
      .withColumn("sxy", sum(col("xd") * col("yd")).over(w))
    def d(c: String) = col(c).cast("double")
    val va = d("n") * d("sxx") - d("sx") * d("sx")
    val vb = d("n") * d("syy") - d("sy") * d("sy")
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    moments.select(col("k"), col("day_id"), col("n").as("n_days"),
      when(col("n") < 2 || va === 0d || vb === 0d, lit(null).cast("double"))
        .otherwise(round(num / (sqrt(va) * sqrt(vb)), 6) + lit(0.0))
        .as("corr"))
  }

  // ---- q284: is quantity still tracking price, return class by class? ---------
  private def q284(s: SparkSession, d: String): DataFrame =
    rollingCorr(Tables.lineitem(s, d), "l_returnflag",
        unix_date(to_date(col("l_shipdate"))), floor(col("l_quantity") * 100),
        floor(col("l_extendedprice")), windowDays = 30)
      .orderBy(col("k"), col("day_id"))
  private val q284Sql =
    """WITH daily AS (
         SELECT l_returnflag AS k,
           (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS day_id,
           sum(floor(l_quantity * 100)::BIGINT)::BIGINT AS xd,
           sum(floor(l_extendedprice)::BIGINT)::BIGINT AS yd
         FROM lineitem GROUP BY 1, 2),
       m AS (
         SELECT k, day_id,
           count(*) OVER w AS n,
           sum(xd) OVER w AS sx, sum(yd) OVER w AS sy,
           sum(xd * xd) OVER w AS sxx, sum(yd * yd) OVER w AS syy,
           sum(xd * yd) OVER w AS sxy
         FROM daily
         WINDOW w AS (PARTITION BY k ORDER BY day_id
           RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
       SELECT k, day_id, n::BIGINT AS n_days,
         CASE WHEN n < 2
             OR (n::DOUBLE * sxx - sx::DOUBLE * sx) = 0
             OR (n::DOUBLE * syy - sy::DOUBLE * sy) = 0 THEN NULL
           ELSE round((n::DOUBLE * sxy - sx::DOUBLE * sy)
             / (sqrt(n::DOUBLE * sxx - sx::DOUBLE * sx)
                * sqrt(n::DOUBLE * syy - sy::DOUBLE * sy)), 6) + 0.0
           END AS corr
       FROM m ORDER BY k, day_id"""

  // ---- q107: rolling anomaly flags --------------------------------------------
  private def q107(s: SparkSession, d: String): DataFrame =
    rollingZscore(Tables.events(s, d), "user_id", "ts", "value",
        windowSeconds = 604800, z = 2.0)
      .select(col("event_id"), col("user_id"), col("value"),
        col("zscore"), col("anomaly"))
      .orderBy(col("event_id"))
  private val q107Sql =
    """WITH s AS (
         SELECT event_id, user_id, value,
           avg(value) OVER w AS m,
           stddev_samp(value) OVER w AS sd
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY (epoch_us(ts) // 1000000)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)),
       scored AS (
         SELECT event_id, user_id, value,
           CASE WHEN sd IS NULL OR sd = 0 THEN NULL
                ELSE round((value - m) / sd, 4) + 0.0 END AS zscore
         FROM s)
       SELECT event_id, user_id, value, zscore,
         CASE WHEN zscore IS NULL THEN false
              ELSE abs(zscore) > 2.0 END AS anomaly
       FROM scored ORDER BY event_id"""

  /** Interval-concurrency sweep line: how many intervals are open after
    * each boundary event — "shipments in transit", "concurrent sessions",
    * "instances running" over time. Ends release before starts at the
    * same instant (half-open [start, end) semantics: order by (t, delta)
    * puts −1 before +1).
    *
    * This is a GLOBAL running sum — the one aggregation shape a
    * hash-partitioned engine cannot express without a total order — so it
    * is implemented as the classic two-pass distributed prefix sum rather
    * than a window over one partition:
    *   pass 1: range-partition boundaries by time, sort within partitions,
    *           and take each partition's delta TOTAL (tiny: P rows);
    *   pass 2: each partition streams its rows once, seeded with the sum
    *           of all earlier partitions' totals (broadcast).
    * Wall-clock scales with the largest partition, not the timeline; the
    * window formulation (the oracle) would funnel every boundary into ONE
    * task. Rows with identical (t, delta) are interchangeable, so the
    * output MULTISET is deterministic even though their relative order
    * is not.
    */
  def concurrency(df: DataFrame, startCol: String, endCol: String,
      partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val bounds = df.select(col(startCol).cast("long").as("t"), lit(1).as("d"))
      .unionAll(df.select(col(endCol).cast("long").as("t"), lit(-1).as("d")))
      .repartitionByRange(partitions, col("t"), col("d"))
      .sortWithinPartitions(col("t"), col("d"))
      .as[(Long, Int)]
      .localCheckpoint(false) // stats-ok: pass 2 must see pass 1's exact partitions
    val totals = bounds.mapPartitions { it =>
        Iterator.single(
          (org.apache.spark.TaskContext.getPartitionId(), it.map(_._2.toLong).sum))
      }.collect().toMap // P entries — partition metadata, not data
    val offsets = (0 until partitions)
      .scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L)).toArray
    val offB = s.sparkContext.broadcast(offsets)
    bounds.mapPartitions { it =>
        var running = offB.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (t, d) => running += d; (t, d, running) }
      }
      .select(col("_1").as("t"), col("_2").as("delta"),
        col("_3").as("concurrent"))
  }

  // ---- q116: in-transit shipment concurrency -----------------------------------
  // lineitem rows as [ship, ship + transit) intervals (transit time is a
  // deterministic 1-30 days from the line identity — the fixture has no
  // receipt column): the number of shipments in flight after every
  // boundary. The oracle is the single-task global window form; the
  // engine runs the two-pass distributed sweep.
  private def q116(s: SparkSession, d: String): DataFrame =
    concurrency(
        Tables.lineitem(s, d).select(
          // NTZ parquet timestamps: go through TIMESTAMP (UTC session) to
          // epoch seconds, matching the oracle's epoch_us // 1e6
          col("l_shipdate").cast("timestamp").cast("long").as("ship"),
          (col("l_shipdate") +
            expr("make_interval(0, 0, 0, CAST(l_orderkey % 30 + 1 AS INT))"))
            .cast("timestamp").cast("long").as("receipt")),
        "ship", "receipt")
      .orderBy(col("t"), col("delta"), col("concurrent"))
  private val q116Sql =
    """WITH b AS (
         SELECT epoch_us(l_shipdate::TIMESTAMP)
           // 1000000 AS t, 1 AS delta FROM lineitem
         UNION ALL
         SELECT epoch_us((l_shipdate
             + to_days((l_orderkey % 30 + 1)::INT))::TIMESTAMP) // 1000000,
           -1
         FROM lineitem)
       SELECT t, delta,
         (sum(delta) OVER (ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS concurrent
       FROM b ORDER BY t, delta, concurrent"""

  // ---- q104: ranking-family windows (rank / dense_rank / percent_rank / cume_dist)
  // The remaining ranking functions beyond q09/q49: tied values share a
  // rank (deterministic — the functions depend only on the ORDER values,
  // and each output row still carries its unique key), percent_rank is
  // (rank-1)/(n-1) and cume_dist n_at_or_before/n in BOTH engines.
  private def q104(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    Tables.orders(s, d).filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy(col("o_orderkey"))
  }
  private val q104Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         round(percent_rank() OVER w, 6) AS prnk,
         round(cume_dist() OVER w, 6) AS cdist
       FROM orders WHERE o_orderkey < 500
       WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
       ORDER BY o_orderkey"""

  // ---- q99: ordered string aggregation (LISTAGG surface) ----------------------
  // Per (lang, source): member count + CSV of the 3 smallest doc ids in
  // order — the LISTAGG/string_agg SQL surface. collect_list gathers the
  // whole group, acceptable for id-sized payloads and bounded groups; for
  // a top-k CSV over huge groups, rank with `row_number() <= k` first
  // (q85 shape) and concat the k survivors instead.
  private def q99(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",",
          slice(sort_array(collect_list(col("doc_id"))), 1, 3)).as("first_ids"))
      .orderBy(col("lang"), col("source"))
  private val q99Sql =
    """SELECT lang, source, count(*) AS n,
         array_to_string(list_slice(list_sort(list(doc_id)), 1, 3), ',')
           AS first_ids
       FROM documents GROUP BY lang, source ORDER BY lang, source"""

  // ---- q100: hopping (sliding) windows in batch --------------------------------
  // 1-hour windows every 15 minutes: each event lands in exactly 4
  // windows. The oracle derives the same window set arithmetically
  // (epoch-aligned grid, k = 0..3 back-offsets), pinning Spark's
  // window(slide) assignment semantics bit-for-bit.
  private def q100(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start_us"))
  private val q100Sql =
    """WITH e AS (
         SELECT epoch_us(ts::TIMESTAMP) AS t, value FROM events),
       hopped AS (
         SELECT (t // 900000000) * 900000000 - k * 900000000 AS ws, value
         FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k))
       SELECT ws AS window_start_us, count(*) AS n_events,
         round(sum(value), 2) AS total_value
       FROM hopped GROUP BY ws ORDER BY ws"""

  /** Robust per-group outlier profile via median absolute deviation: the
    * heavy-tail-proof companion to [[rollingZscore]] (mean/stddev break
    * down when the outliers themselves inflate the baseline; median and
    * MAD have a 50% breakdown point). Flags |x − median| > k·MAD.
    *
    * Three passes over the relation (median → MAD → flag counts), each a
    * group aggregate with the tiny per-group stat table BROADCAST back —
    * the data relation itself never reshuffles. Exact `percentile` sorts
    * per group; at 100 TB swap in `approx_percentile` (mergeable t-digest,
    * one pass for both quantiles via the pair trick) — the q47→q57
    * upgrade path, deliberately mirrored here.
    */
  def madProfile(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 3): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5D)").as("med"))
    val mad = df.join(broadcast(med), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(max(col("med")).as("med"),
        expr(s"percentile(abs($valueCol - med), 0.5D)").as("mad"))
    df.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 4).as("med_r"),
        round(max(col("mad")), 4).as("mad_r"),
        sum(when(abs(col(valueCol) - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), col("n"), col("med_r").as("med"),
        col("mad_r").as("mad"), col("n_outliers"))
  }

  // ---- q176: MAD-based robust anomaly profile ---------------------------------
  // events.value per event_type: median, MAD, and the count beyond 3 MADs.
  // Both engines interpolate the same exact median (q47 parity), so the
  // flag threshold is computed identically.
  private def q176(s: SparkSession, d: String): DataFrame =
    madProfile(Tables.events(s, d), "event_type", "value", k = 3)
      .orderBy(col("event_type"))
  private val q176Sql =
    """WITH med AS (
         SELECT event_type, quantile_cont(value, 0.5) AS med
         FROM events GROUP BY 1),
       mad AS (
         SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
         FROM events e JOIN med m USING (event_type) GROUP BY 1)
       SELECT e.event_type, count(*)::BIGINT AS n,
         round(max(m.med), 4) AS med, round(max(d.mad), 4) AS mad,
         sum(CASE WHEN abs(e.value - m.med) > 3 * d.mad
           THEN 1 ELSE 0 END)::BIGINT AS n_outliers
       FROM events e JOIN med m USING (event_type)
         JOIN mad d USING (event_type)
       GROUP BY 1 ORDER BY 1"""

  /** Association rules over (basket, item) memberships: for every ordered
    * item pair a→b, co-occurrence count, support, confidence and lift in
    * integer micro-units — the market-basket read on any categorical
    * co-membership (event types per user, sources per near-dup cluster,
    * labels per annotator).
    *
    * Exact integer algebra: support = n_ab·10^6 div N and confidence =
    * n_ab·10^6 div n_a are single floors; lift is computed as
    * `(conf_micro · N) div n_b` — two floors instead of one so no
    * intermediate exceeds max(n_ab·10^6, conf_micro·N) « 2^63 even at
    * billions of baskets (the single-floor form n_ab·N·10^6 overflows at
    * ~3·10^6 baskets). Both engines floor identically; the quantization
    * (≤ N/n_b micro-units) is deterministic, not engine noise.
    *
    * Scale design: membership is DISTINCT (basket, item) — the corpus
    * collapses to that relation first (map-side partials). The pair
    * self-join keys on basket; per-basket fan-out is |items-per-basket|²,
    * so for unbounded item domains cap per-basket membership first (the
    * q163 capped-fan-out discipline) — with a curated vocabulary (event
    * types, sources) the fan-out is a small constant. Item totals and the
    * basket count broadcast back onto the vocabulary-sized pair relation.
    */
  def associationRules(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame = {
    val items = df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    val itemTotals = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val nBaskets = items.select(col("basket")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    items.as("x").join(items.as("y"), Seq("basket"))
      .filter(col("x.item") =!= col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(itemTotals.select(col("item").as("a"),
        col("n_item").as("n_a"))), Seq("a"))
      .join(broadcast(itemTotals.select(col("item").as("b"),
        col("n_item").as("n_b"))), Seq("b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("n_ab * 1000000L div n_baskets").as("support_micro"),
        expr("n_ab * 1000000L div n_a").as("conf_micro"),
        expr("((n_ab * 1000000L div n_a) * n_baskets) div n_b")
          .as("lift_micro"))
  }

  // ---- q177: association rules between event types per user -------------------
  private def q177(s: SparkSession, d: String): DataFrame =
    associationRules(Tables.events(s, d), "user_id", "event_type")
      .orderBy(col("a"), col("b"))
  private val q177Sql =
    """WITH items AS (
         SELECT DISTINCT user_id AS basket, event_type AS item FROM events),
       tot AS (SELECT item, count(*)::BIGINT AS n_item FROM items GROUP BY 1),
       nb AS (SELECT count(DISTINCT basket)::BIGINT AS n_baskets FROM items),
       pairs AS (
         SELECT x.item AS a, y.item AS b, count(*)::BIGINT AS n_ab
         FROM items x JOIN items y ON x.basket = y.basket AND x.item != y.item
         GROUP BY 1, 2)
       SELECT a, b, n_ab, ta.n_item AS n_a, tb.n_item AS n_b,
         (n_ab * 1000000 // n_baskets)::BIGINT AS support_micro,
         (n_ab * 1000000 // ta.n_item)::BIGINT AS conf_micro,
         (((n_ab * 1000000 // ta.n_item) * n_baskets) // tb.n_item)::BIGINT
           AS lift_micro
       FROM pairs JOIN tot ta ON ta.item = a JOIN tot tb ON tb.item = b
       CROSS JOIN nb ORDER BY a, b"""

  /** Top-k per group WITH ties — `rank()` ≤ k instead of `row_number()`
    * ≤ k: every row tying the k-th value is kept, so the answer is
    * deterministic WITHOUT a total-order tie-break column (the business
    * question "the best k quantities" has no canonical k-th row when
    * values tie; returning all of them is the honest contract).
    *
    * Plan note: Spark's `WindowGroupLimit` pushes a rank()-filter limit
    * below the exchange just like row_number() (map-side partial
    * top-k-with-ties per partition), so the shuffle carries only
    * candidate rows — the q09 discipline extended to tie semantics.
    */
  def topKWithTies(df: DataFrame, partCol: String, orderCol: String,
      k: Int): DataFrame =
    df.withColumn("rnk",
        rank().over(Window.partitionBy(col(partCol))
          .orderBy(col(orderCol).desc)))
      .filter(col("rnk") <= k)

  // ---- q178: top quantities per supplier, ties kept ---------------------------
  // lineitem quantities are small integers — ties are the common case, so
  // the rank()-vs-row_number() distinction is load-bearing here. Grouped
  // output (supplier, quantity, rank, n_rows) keeps the result compact
  // and hashable.
  private def q178(s: SparkSession, d: String): DataFrame =
    topKWithTies(Tables.lineitem(s, d), "l_suppkey", "l_quantity", k = 2)
      .groupBy(col("l_suppkey"), col("l_quantity"),
        col("rnk").cast("long").as("rnk"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("l_suppkey"), col("rnk"), col("l_quantity"))
  private val q178Sql =
    """WITH r AS (
         SELECT l_suppkey, l_quantity,
           rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC)
             AS rnk
         FROM lineitem)
       SELECT l_suppkey, l_quantity, rnk, count(*)::BIGINT AS n_rows
       FROM r WHERE rnk <= 2 GROUP BY 1, 2, 3
       ORDER BY l_suppkey, rnk, l_quantity"""

  /** ABC / Pareto classification: rank groups by a measure, accumulate
    * the share, and band into A (the head carrying `aMicro` of the total),
    * B (through `bMicro`), C (the tail) — the 80/15/5 read on "which
    * suppliers/sources/domains carry the corpus".
    *
    * Determinism: the measure is an exact BIGINT, shares are integer
    * micro-units, and the ordering (measure desc, group asc) is total, so
    * the banding is bit-identical cross-engine — no float cumshare
    * boundary ever decides a class.
    *
    * Scale note: the window runs over the ALREADY-AGGREGATED group
    * relation (|groups| rows, one exchange), not the corpus — the
    * corpus-sized input collapses via map-side partials first. The
    * single-partition window over |groups| is deliberate: groups =
    * vocabulary, not data (for corpus-sized grouping keys use the
    * two-pass prefix-sum sweep, q132/q149).
    */
  def abcClassify(df: DataFrame, groupCol: String, measure: Column,
      aMicro: Long = 800000L, bMicro: Long = 950000L): DataFrame = {
    require(0 < aMicro && aMicro < bMicro && bMicro <= 1000000L,
      "need 0 < aMicro < bMicro <= 1e6")
    val per = df.groupBy(col(groupCol)).agg(sum(measure).as("m"))
    val w = Window.orderBy(col("m").desc, col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .crossJoin(broadcast(per.agg(sum(col("m")).as("total"))))
      .withColumn("cum", sum(col("m")).over(w))
      .select(col(groupCol), col("m"),
        expr("cum * 1000000L div total").as("cum_share_micro"),
        when(expr("cum * 1000000L div total") <= aMicro, lit("A"))
          .when(expr("cum * 1000000L div total") <= bMicro, lit("B"))
          .otherwise(lit("C")).as("abc_class"))
  }

  /** Combined ABC/XYZ classification: ABC ranks each key's total measure
    * by cumulative Pareto share ([[abcClassify]]); XYZ grades demand
    * VARIABILITY from the per-period sums — the squared coefficient of
    * variation as a pure rational, (m·Σq² − (Σq)²)·10⁶ div (Σq)² (never
    * a sqrt), X below `xMicro`, Y below `yMicro`, else Z. A-X items are
    * high-volume + predictable (automate the reorder); C-Z is the long
    * tail nobody should forecast. Null variability (zero total) grades Z.
    *
    * Scale design: one (key, period) collapse with map-side partials,
    * one |keys|-sized moment aggregate, joined to the Pareto table —
    * the per-key window in abcClassify runs on the |keys| collapse.
    */
  def abcXyz(df: DataFrame, groupCol: String, measure: Column,
      periodCol: Column, xMicro: Long = 250000L,
      yMicro: Long = 1000000L): DataFrame = {
    require(0 < xMicro && xMicro < yMicro, "need 0 < xMicro < yMicro")
    val monthly = df
      .select(col(groupCol), periodCol.cast("long").as("p"),
        measure.cast("long").as("q"))
      .groupBy(col(groupCol), col("p")).agg(sum(col("q")).as("qp"))
    val xyz = monthly.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_periods"), sum(col("qp")).as("sq"),
        sum(col("qp").cast("decimal(38,0)") * col("qp")).as("sqq"))
      .select(col(groupCol), col("n_periods"),
        when(col("sq") =!= 0,
          expr("""(cast(n_periods as decimal(38,0)) * sqq
            - cast(sq as decimal(38,0)) * sq) * 1000000
            div (cast(sq as decimal(38,0)) * sq)"""))
          .otherwise(lit(null).cast("long")).as("var_ratio_micro"))
      .withColumn("xyz_class",
        when(col("var_ratio_micro").isNull, lit("Z"))
          .when(col("var_ratio_micro") <= xMicro, lit("X"))
          .when(col("var_ratio_micro") <= yMicro, lit("Y"))
          .otherwise(lit("Z")))
    abcClassify(df, groupCol, measure).join(xyz, Seq(groupCol))
      .select(col(groupCol), col("m"), col("cum_share_micro"),
        col("abc_class"), col("n_periods"), col("var_ratio_micro"),
        col("xyz_class"),
        concat(col("abc_class"), col("xyz_class")).as("combined"))
  }

  // ---- q285: which suppliers deserve automated reordering? --------------------
  private def q285(s: SparkSession, d: String): DataFrame =
    abcXyz(Tables.lineitem(s, d), "l_suppkey", col("l_quantity").cast("long"),
        expr("year(cast(l_shipdate as date)) * 12 + month(cast(l_shipdate as date))"))
      .orderBy(col("l_suppkey"))
  private val q285Sql =
    """WITH per AS (
         SELECT l_suppkey, sum(l_quantity::BIGINT)::BIGINT AS m
         FROM lineitem GROUP BY 1),
       t AS (SELECT sum(m)::BIGINT AS total FROM per),
       abc AS (
         SELECT l_suppkey, m,
           (sum(m) OVER (ORDER BY m DESC, l_suppkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1000000 // total)::BIGINT AS cum_share_micro
         FROM per CROSS JOIN t),
       abcc AS (
         SELECT l_suppkey, m, cum_share_micro,
           CASE WHEN cum_share_micro <= 800000 THEN 'A'
                WHEN cum_share_micro <= 950000 THEN 'B'
                ELSE 'C' END AS abc_class
         FROM abc),
       monthly AS (
         SELECT l_suppkey,
           year(l_shipdate::DATE) * 12 + month(l_shipdate::DATE) AS p,
           sum(l_quantity::BIGINT)::BIGINT AS qp
         FROM lineitem GROUP BY 1, 2),
       xyz AS (
         SELECT l_suppkey, count(*)::BIGINT AS n_periods,
           CASE WHEN sum(qp) != 0
             THEN ((count(*)::HUGEINT * sum(qp::HUGEINT * qp)
               - sum(qp)::HUGEINT * sum(qp)) * 1000000)
               // (sum(qp)::HUGEINT * sum(qp))
             ELSE NULL END::BIGINT AS var_ratio_micro
         FROM monthly GROUP BY 1),
       xyzc AS (
         SELECT l_suppkey, n_periods, var_ratio_micro,
           CASE WHEN var_ratio_micro IS NULL THEN 'Z'
                WHEN var_ratio_micro <= 250000 THEN 'X'
                WHEN var_ratio_micro <= 1000000 THEN 'Y'
                ELSE 'Z' END AS xyz_class
         FROM xyz)
       SELECT a.l_suppkey, a.m, a.cum_share_micro, a.abc_class,
         x.n_periods, x.var_ratio_micro, x.xyz_class,
         a.abc_class || x.xyz_class AS combined
       FROM abcc a JOIN xyzc x ON a.l_suppkey = x.l_suppkey
       ORDER BY a.l_suppkey"""

  // ---- q179: ABC analysis of suppliers by shipped quantity --------------------
  // l_quantity is integral-valued (cast exact); the classic warehouse
  // Pareto: a handful of A suppliers carry most of the volume.
  private def q179(s: SparkSession, d: String): DataFrame =
    abcClassify(Tables.lineitem(s, d), "l_suppkey",
      col("l_quantity").cast("long"))
      .orderBy(col("l_suppkey"))
  private val q179Sql =
    """WITH per AS (
         SELECT l_suppkey, sum(l_quantity::BIGINT)::BIGINT AS m
         FROM lineitem GROUP BY 1),
       t AS (SELECT sum(m)::BIGINT AS total FROM per),
       c AS (
         SELECT l_suppkey, m,
           (sum(m) OVER (ORDER BY m DESC, l_suppkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1000000 // total)::BIGINT AS cum_share_micro
         FROM per CROSS JOIN t)
       SELECT l_suppkey, m, cum_share_micro,
         CASE WHEN cum_share_micro <= 800000 THEN 'A'
              WHEN cum_share_micro <= 950000 THEN 'B'
              ELSE 'C' END AS abc_class
       FROM c ORDER BY l_suppkey"""

  /** One-sided CUSUM drift detection per key over an ordered value
    * stream, in closed window form: the textbook recurrence
    * S_t = max(0, S_{t−1} + d_t) is not window-expressible, but its
    * closed form S_t = P_t − min(0, min_{j≤t} P_j) over the prefix sums
    * P of the deviations d IS — two cumulative windows over the same
    * sort, no driver loop, no UDF state.
    *
    * Deviations are exact integer centi-units against the key's FIRST
    * value as baseline (drift-from-onset); `floor(x·100 + 0.5)` is the
    * cross-engine-stable fixed-point read of 2-decimal data. Alarms are
    * integer threshold compares, so engine-exact.
    *
    * Scale: one shuffle by key, one per-key sort, both windows share it
    * (same WindowSpec ordering → one physical Window over one sort).
    */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      tieCol: String, thresholdCenti: Long): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("vc", expr(s"cast(floor($valueCol * 100 + 0.5) as bigint)"))
      .withColumn("base", first(col("vc")).over(cum))
      .withColumn("p", sum(col("vc") - col("base")).over(cum))
      .withColumn("s_centi",
        col("p") - least(lit(0L), min(col("p")).over(cum)))
      .withColumn("alarm", col("s_centi") > thresholdCenti)
  }

  // ---- q180: CUSUM drift alarms per user --------------------------------------
  // Per-user summary of the detector run: peak statistic, alarm count,
  // and the lowest alarming event id (an exact integer min; null when
  // the user never alarms).
  private def q180(s: SparkSession, d: String): DataFrame =
    cusum(Tables.events(s, d), "user_id", "ts", "value", "event_id",
        thresholdCenti = 50000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("s_centi")).as("max_s_centi"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("alarm"), col("event_id"))).as("min_alarm_event"))
      .orderBy(col("user_id"))
  private val q180Sql =
    """WITH v AS (
         SELECT user_id, ts, event_id,
           floor(value * 100 + 0.5)::BIGINT AS vc
         FROM events),
       b AS (
         SELECT user_id, ts, event_id, vc,
           first_value(vc) OVER w AS base
         FROM v
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       p AS (
         SELECT user_id, ts, event_id,
           sum(vc - base) OVER w AS pp
         FROM b
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       sc AS (
         SELECT user_id, event_id,
           (pp - least(0, min(pp) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT
             AS s_centi
         FROM p)
       SELECT user_id, count(*)::BIGINT AS n_events,
         max(s_centi) AS max_s_centi,
         sum(CASE WHEN s_centi > 50000 THEN 1 ELSE 0 END)::BIGINT AS n_alarms,
         min(CASE WHEN s_centi > 50000 THEN event_id END) AS min_alarm_event
       FROM sc GROUP BY user_id ORDER BY user_id"""

  /** Frequent ordered event sequences of length n per key — the order-k
    * generalization of the q103 transition matrix (bigrams): which PATHS
    * through the event space recur, not just which steps. Each key's
    * history is assembled once in (ts, tie) order and windowed by the
    * same native n-gram kernel the text surface uses
    * ([[graft.functions.WordNGrams]]) — sequences ARE n-grams over the
    * alphabet of event types.
    *
    * Determinism: the per-key ordering struct (ts, tie, type) is total
    * (tie unique per key), `sort_array` sorts it lexicographically, and
    * counts are exact integers.
    *
    * Scale note: `collect_list` bounds state by the per-key history — fine
    * for per-user event streams (thousands of events); for keys with
    * unbounded history, pre-truncate per key (`row_number() <= n` on
    * recency) or window by time. The alternative lag(n−1) window form
    * shuffles the same data but keeps no list state; it pays n−1 window
    * passes.
    */
  def eventSequences(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, typeCol: String, n: Int, k: Int): DataFrame = {
    import graft.functions.TextFunctions.ngrams
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(
        struct(col(tsCol), col(tieCol), col(typeCol).as("t")))).as("evs"))
      .select(expr("transform(evs, e -> e.t)").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(ngrams(col("toks"), n)).as("seq"))
      .groupBy(col("seq")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("seq"))
      .limit(k)
  }

  // ---- q184: top event-type paths of length 3 ---------------------------------
  private def q184(s: SparkSession, d: String): DataFrame =
    eventSequences(Tables.events(s, d), "user_id", "ts", "event_id",
      "event_type", n = 3, k = 20)
  private val q184Sql =
    """WITH o AS (
         SELECT user_id,
           list(event_type ORDER BY ts, event_id) AS toks
         FROM events GROUP BY user_id),
       g AS (
         SELECT unnest(list_transform(range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS seq
         FROM o WHERE len(toks) >= 3)
       SELECT seq, count(*)::BIGINT AS n_occurrences
       FROM g GROUP BY seq ORDER BY n_occurrences DESC, seq LIMIT 20"""

  /** Day-of-week × hour-of-day activity profile from raw epoch
    * arithmetic — deliberately NOT `dayofweek()`/`hour()`: weekday
    * numbering conventions differ across engines (Spark counts 1 =
    * Sunday, DuckDB 0 = Sunday, ISO 1 = Monday), and that class of
    * silent off-by-one survives row-count checks. Integer epoch algebra
    * has one convention: dow = (epoch_days + 3) mod 7 with 0 = Monday
    * (1970-01-01 was a Thursday), hour = seconds-into-day div 3600 —
    * identical on every engine, UTC by construction.
    */
  def seasonalProfile(df: DataFrame, tsCol: String,
      valueCol: String): DataFrame =
    df
      .withColumn("__es", col(tsCol).cast("long"))
      .select(expr("((__es div 86400) + 3) % 7").as("dow"),
        expr("(__es % 86400) div 3600").as("hour"),
        col(valueCol))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"),
        round(sum(col(valueCol)), 4).as("value_sum"))

  // ---- q185: weekly seasonality heatmap of the event stream -------------------
  private def q185(s: SparkSession, d: String): DataFrame =
    seasonalProfile(Tables.events(s, d), "ts", "value")
      .orderBy(col("dow"), col("hour"))
  private val q185Sql =
    """WITH e AS (
         SELECT epoch_us(ts) // 1000000 AS es, value FROM events)
       SELECT ((es // 86400) + 3) % 7 AS dow,
         (es % 86400) // 3600 AS hour,
         count(*)::BIGINT AS n, round(sum(value), 4) AS value_sum
       FROM e GROUP BY 1, 2 ORDER BY dow, hour"""

  /** Lag-k autocorrelation of a per-key regular series: Pearson
    * correlation of the series against itself shifted k steps — the
    * "does yesterday predict today" read on any keyed daily metric, and
    * the standard seasonality probe when computed at the period lag.
    *
    * Built as: aggregate to the (key, step) grid (map-side partials
    * collapse the corpus first), lag(k) over the per-key ordered window,
    * then `corr` per key — the q48 correlation discipline (round 4 +
    * negative-zero canonicalization; the window and corr both run over
    * the already-aggregated grid, steps-per-key-sized, not the corpus).
    * Pairs with fewer than 2 lagged points yield null corr — reported.
    */
  def autocorrelation(df: DataFrame, keyCol: String, stepExpr: Column,
      valueExpr: Column, lagK: Int): DataFrame = {
    val grid = df.select(col(keyCol), stepExpr.as("step"), valueExpr.as("v"))
      .groupBy(col(keyCol), col("step")).agg(sum(col("v")).as("s"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("step"))
    grid.withColumn("s_lag", lag(col("s"), lagK).over(w))
      .filter(col("s_lag").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_pairs"),
        (round(corr(col("s"), col("s_lag")), 4) + lit(0.0)).as("autocorr"))
  }

  // ---- q191: lag-1 autocorrelation of daily event value per type --------------
  private def q191(s: SparkSession, d: String): DataFrame =
    autocorrelation(Tables.events(s, d), "event_type",
      expr("cast(ts as long) div 86400"), col("value"), lagK = 1)
      .orderBy(col("event_type"))
  private val q191Sql =
    """WITH g AS (
         SELECT event_type, (epoch_us(ts) // 1000000) // 86400 AS step,
           sum(value) AS s
         FROM events GROUP BY 1, 2),
       l AS (
         SELECT event_type, s,
           lag(s, 1) OVER (PARTITION BY event_type ORDER BY step) AS s_lag
         FROM g)
       SELECT event_type, count(*)::BIGINT AS n_pairs,
         round(corr(s, s_lag), 4) + 0.0 AS autocorr
       FROM l WHERE s_lag IS NOT NULL
       GROUP BY event_type ORDER BY event_type"""

  /** Exponentially time-decayed per-key total with a one-day half-life,
    * in exact scaled-integer algebra: each value contributes
    * cents · 2^(maxAgeDays − age) — weight halves per day of age, ages
    * capped at `maxAgeDays` (older events all get scaled weight 1; at
    * 2^−20 of full weight they are decay-negligible anyway). The
    * recency-weighted score behind "trending now" rankings and
    * freshness-weighted quality rollups.
    *
    * Cross-engine exactness: values are floored to integer cents, the
    * reference date is the corpus max DATE, weights are BIGINT powers
    * of two (shift arithmetic), so `decayed_x` — the total scaled by
    * 2^maxAgeDays — is an exact BIGINT on both engines; no float sum
    * ever happens. `decayed_units` descales by an integer shift-divide
    * (exact for the nonnegative values this operates on; a negative
    * value would need `div`, which truncates, instead of the shift). Bound:
    * Σ cents·2^maxAgeDays must stay < 2^63 — with default cap 20 that
    * allows ~10¹² cent-value mass per key.
    *
    * Scale: one broadcast single-row max (the q88 discipline) + ONE
    * hash aggregation with map-side partials; no window, no sort.
    */
  def decayedSum(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, maxAgeDays: Int = 20): DataFrame = {
    require(maxAgeDays >= 1 && maxAgeDays <= 40, "cap must be in [1, 40]")
    val ref = df.agg(max(to_date(col(tsCol))).as("ref_date"))
    df.select(col(keyCol), to_date(col(tsCol)).as("dte"),
        floor(col(valueCol) * 100).cast("long").as("cents"))
      .crossJoin(broadcast(ref))
      .select(col(keyCol), col("cents"),
        least(datediff(col("ref_date"), col("dte")), lit(maxAgeDays))
          .as("age"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(expr(s"cents * shiftleft(1L, cast($maxAgeDays - age AS INT))"))
          .as("decayed_x"))
      .select(col(keyCol), col("n_events"), col("decayed_x"),
        expr(s"decayed_x div ${1L << maxAgeDays}L").as("decayed_units"))
  }

  // ---- q197: recency-weighted per-user activity score -------------------------
  // One-day half-life over the events month: the "active right now"
  // ranking signal, exact to the bit on both engines.
  private def q197(s: SparkSession, d: String): DataFrame =
    decayedSum(Tables.events(s, d), "user_id", "ts", "value")
      .orderBy(col("user_id"))
  private val q197Sql =
    """WITH ref AS (
         SELECT max((ts::TIMESTAMP)::DATE) AS ref_date FROM events),
       e AS (
         SELECT user_id, floor(value * 100)::BIGINT AS cents,
           least(date_diff('day', (ts::TIMESTAMP)::DATE, ref_date), 20)
             AS age
         FROM events, ref)
       SELECT user_id, count(*)::BIGINT AS n_events,
         sum(cents * (1::BIGINT << (20 - age)))::BIGINT AS decayed_x,
         (sum(cents * (1::BIGINT << (20 - age))) // 1048576)::BIGINT
           AS decayed_units
       FROM e GROUP BY user_id ORDER BY user_id"""

  /** Single change-point detection per key (binary segmentation, first
    * split): the boundary that maximizes the between-segment variance
    * gain n₁n₂(μ₁−μ₂)²/n of the daily series — "WHEN did this metric
    * move", completing [[cusumDrift]]'s "did it move". Iterating on the
    * two halves gives full binary segmentation; one split is the
    * alarm-triage shape.
    *
    * Determinism: daily sums are exact BIGINT cents; the prefix
    * difference d₁ = S₁·n₂ − S₂·n₁ is exact BIGINT and (for the
    * documented n·Σcents < 2⁵³ domain) exactly double-representable, so
    * gain = d₁²/(n₁·n₂·n) is three correctly-rounded IEEE ops —
    * identical on both engines — and the argmax (gain desc, earliest
    * day) picks the same row. Segment means are exact micro floors.
    *
    * Scale: one (key, day) pre-collapse with map-side partials, one
    * per-key cumulative window over DAYS (not rows), one argmax window
    * over the same per-key relation. Series length per key is bounded
    * by the calendar, not the corpus.
    */
  def changePoint(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"),
        floor(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("day"))
      .agg(sum(col("cents")).as("s"))
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("stot"))
    val pre = daily
      .select(col("k"), col("day"),
        row_number().over(Window.partitionBy(col("k")).orderBy(col("day")))
          .as("n1"),
        sum(col("s")).over(w).as("s1"))
      .join(tot, Seq("k"))
      .filter(col("n1") < col("n"))
      .select(col("k"), col("day"), col("n1"), col("s1"), col("n"),
        col("stot"),
        (col("s1") * (col("n") - col("n1"))
          - (col("stot") - col("s1")) * col("n1")).cast("double").as("d1"))
      .withColumn("gain",
        col("d1") * col("d1")
          / (col("n1") * (col("n") - col("n1")) * col("n")).cast("double"))
    pre.withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("gain").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("k").as(keyCol), col("n").as("n_days"),
        col("day").as("split_day"),
        (round(col("gain"), 4) + lit(0.0)).as("gain"),
        expr("s1 * 1000000L div n1").as("mean_before_micro"),
        expr("(stot - s1) * 1000000L div (n - n1)").as("mean_after_micro"))
  }

  /** Mann–Kendall trend TEST per group (Mann 1945; Kendall 1975): the
    * nonparametric "is there a monotone trend at all" significance
    * companion to [[theilSen]]'s "how steep is it" — S = Σ_{i<j}
    * sign(y_j − y_i) over the per-period series in period order, with
    * the tie-corrected variance 18·Var(S) = n(n−1)(2n+5) −
    * Σ_ties t(t−1)(2t+5) and the continuity-corrected normal score
    * z = (S ∓ 1)/√(Var). S and the 18-scaled variance are EXACT
    * BIGINTs; z is ONE double formula over them, mirrored
    * operation-for-operation in the oracle and quantized once via
    * floor(x·10⁶ + 0.5)/10⁶ (NULL when the variance vanishes — all
    * values tied; 0 when S = 0).
    *
    * Scale design: the corpus collapses to per-(group, period) sums
    * with map-side partials (the [[holtForecast]] calendar-domain
    * contract — n is months/days of a business horizon, so the O(n²)
    * pairwise fold inside ONE expression is bounded); ties collapse in
    * a second group-sized aggregation joined back broadcast. Groups
    * with < 2 periods emit nothing (no pairs).
    */
  def mannKendall(df: DataFrame, groupCol: String, periodCol: Column,
      valueCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"), periodCol.cast("long").as("p"),
        valueCol.cast("long").as("y"))
      .groupBy(col("g"), col("p")).agg(sum(col("y")).as("yp"))
    val ties = base.groupBy(col("g"), col("yp"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("g"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    val sExpr = """aggregate(sequence(1, size(s) - 1), 0L, (acc, i) ->
        acc + aggregate(sequence(i + 1, size(s)), 0L, (a2, j) ->
          a2 + (case
            when element_at(s, cast(j as int)).yp
               > element_at(s, cast(i as int)).yp then 1L
            when element_at(s, cast(j as int)).yp
               < element_at(s, cast(i as int)).yp then -1L
            else 0L end)))"""
    base.groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("p"), col("yp")))).as("s"))
      .filter(size(col("s")) >= 2)
      .join(broadcast(ties), Seq("g"))
      .select(col("g"), size(col("s")).cast("long").as("n_periods"),
        expr(sExpr).as("s_stat"), col("tie18"))
      .withColumn("var18",
        expr("n_periods * (n_periods - 1) * (2 * n_periods + 5) - tie18"))
      .withColumn("z", when(col("var18") <= 0, lit(null).cast("double"))
        .otherwise(when(col("s_stat") === 0, lit(0.0)).otherwise(
          expr("""floor((cast(s_stat - (case when s_stat > 0 then 1L
               else -1L end) as double) / sqrt(var18 / 18.0)) * 1e6 + 0.5)
               / 1e6 + 0.0"""))))
      .select(col("g"), col("n_periods"), col("s_stat"), col("var18"),
        col("z"))
  }

  // ---- q375: is monthly order volume trending, per priority? ------------------
  // The significance readout beside q341's forecast and q193's slope.
  private def q375(s: SparkSession, d: String): DataFrame =
    mannKendall(Tables.orders(s, d), "o_orderpriority",
        expr("year(cast(o_orderdate as date)) * 12" +
          " + month(cast(o_orderdate as date))"),
        lit(1L))
      .orderBy(col("g"))
  private val q375Sql =
    """WITH m AS (
         SELECT o_orderpriority AS g,
           year(o_orderdate::DATE) * 12 + month(o_orderdate::DATE) AS p,
           count(*)::BIGINT AS yp
         FROM orders GROUP BY 1, 2),
       tie AS (
         SELECT g, sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
         FROM (SELECT g, yp, count(*)::BIGINT AS t FROM m GROUP BY g, yp) x
         GROUP BY g),
       arr AS (
         SELECT g, count(*)::BIGINT AS n, list(yp ORDER BY p) AS ys
         FROM m GROUP BY g HAVING count(*) >= 2),
       st AS (
         SELECT a.g, a.n AS n_periods,
           list_sum(list_transform(range(1, a.n), i ->
             list_sum(list_transform(range(i + 1, a.n + 1), j ->
               CASE WHEN a.ys[j::INT] > a.ys[i::INT] THEN 1
                    WHEN a.ys[j::INT] < a.ys[i::INT] THEN -1
                    ELSE 0 END))))::BIGINT AS s_stat,
           (a.n * (a.n - 1) * (2 * a.n + 5) - t.tie18)::BIGINT AS var18
         FROM arr a JOIN tie t ON a.g = t.g)
       SELECT g, n_periods, s_stat, var18,
         CASE WHEN var18 <= 0 THEN NULL
              WHEN s_stat = 0 THEN 0.0
              ELSE floor(((s_stat - (CASE WHEN s_stat > 0 THEN 1
                     ELSE -1 END))::DOUBLE / sqrt(var18 / 18.0)) * 1e6
                   + 0.5) / 1e6 + 0.0 END AS z
       FROM st ORDER BY g"""

  /** Theil–Sen robust trend per key: the median of all pairwise slopes
    * of the daily value series — the outlier-proof companion to
    * [[linearTrend]]'s OLS (one 50× spike day drags an OLS slope
    * arbitrarily; it is one slope sample among C(days, 2) here). The
    * robust-statistics family closer beside [[dailyMadAlerts]]' level
    * test: MAD says a day is anomalous, this says what the trend is
    * despite it.
    *
    * Exact algebra: daily BIGINT cent totals; each pair's slope lands as
    * truncated integer micros (cents/day — identical on both
    * engines), and the median is the nearest-rank first-value-at-half
    * rule over the per-key (slope → count) collapse, pure integer
    * comparison. Keys with < 2 observed days emit nothing (no pairs).
    *
    * Scale: the corpus collapses to per-key DAILY totals first
    * (calendar-bounded — the q202 discipline), so the pair fan-out is
    * C(days, 2) ≤ ~66k per key per year, never corpus-sized; pairs
    * partial-aggregate to the slope collapse below their exchange.
    */
  def theilSen(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"),
        expr(s"unix_date(to_date($tsCol))").cast("long").as("d"),
        floor(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("d"))
      .agg(sum(col("cents")).as("s"))
    val slopes = daily.as("a")
      .join(daily.as("b"),
        col("a.k") === col("b.k") && col("a.d") < col("b.d"))
      .select(col("a.k").as("k"),
        expr("(b.s - a.s) * 1000000L div (b.d - a.d)").as("sl"))
    val byV = slopes.groupBy(col("k"), col("sl")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("k")).orderBy(col("sl"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV.select(col("k"), col("sl"), sum(col("c")).over(w).as("cum"),
        sum(col("c")).over(Window.partitionBy(col("k"))).as("n"))
      .filter(lit(2L) * col("cum") >= col("n"))
      .groupBy(col("k"), col("n"))
      .agg(min(col("sl")).as("slope_micro"))
      .select(col("k").as(keyCol), col("n").as("n_pairs"),
        col("slope_micro"))
  }

  // ---- q250: robust daily-revenue trend per event type ------------------------
  private def q250(s: SparkSession, d: String): DataFrame =
    theilSen(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"))
  private val q250Sql =
    """WITH daily AS (
         SELECT event_type AS k,
           (ts::TIMESTAMP)::DATE - DATE '1970-01-01' AS d,
           sum(floor(value * 100)::BIGINT)::BIGINT AS s
         FROM events GROUP BY 1, 2),
       slopes AS (
         SELECT a.k,
           (sign(b.s - a.s)::BIGINT
             * (abs(b.s - a.s) * 1000000 // (b.d - a.d)))::BIGINT AS sl
         FROM daily a JOIN daily b ON a.k = b.k AND a.d < b.d),
       byv AS (
         SELECT k, sl, count(*)::BIGINT AS c FROM slopes GROUP BY 1, 2),
       cum AS (
         SELECT k, sl,
           sum(c) OVER (PARTITION BY k ORDER BY sl
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS n
         FROM byv)
       SELECT k AS event_type, n::BIGINT AS n_pairs,
         min(sl)::BIGINT AS slope_micro
       FROM cum WHERE 2 * cum >= n
       GROUP BY k, n ORDER BY event_type"""

  /** Per-group WEIGHTED median: the smallest value at which the
    * cumulative weight reaches half the group's total — e.g. the
    * document length below which half the CHARACTER MASS sits (very
    * different from the count median when long docs dominate, which is
    * exactly when a curation decision needs the weighted one).
    *
    * Exact integer rule: first v with 2·cumw(v) ≥ totw — no division,
    * no interpolation, so both engines agree on the row, not just the
    * value. Weights must be nonnegative BIGINTs.
    *
    * Scale: one (group, value) collapse with map-side weight partials,
    * one per-group cumulative window over DISTINCT values (corpus-sized
    * per group when the value domain is continuous — pass
    * `quantized = false` for the [[DistributedPrefix]] two-pass sum with
    * totals computed by hash aggregation instead of a whole-group
    * window), one min-argmax. Nothing corpus-sized is sorted.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, quantized: Boolean = false): DataFrame = {
    val byV = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"),
        col(weightCol).cast("long").as("wt"))
      .groupBy(col("g"), col("v"))
      .agg(sum(col("wt")).as("w"))
    val cw = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        byV.select(col("g"), col("v"), sum(col("w")).over(cw).as("cumw"),
          sum(col("w")).over(Window.partitionBy(col("g"))).as("totw"))
      else
        DistributedPrefix
          .cumSums(byV, Seq("g"), Seq(col("v")), Seq("w"))
          .join(broadcast(byV.groupBy(col("g"))
            .agg(sum(col("w")).as("totw"))), Seq("g"))
          .select(col("g"), col("v"), col("cum_w").as("cumw"), col("totw"))
    cum
      .filter(lit(2L) * col("cumw") >= col("totw"))
      .groupBy(col("g"), col("totw"))
      .agg(min(col("v")).as("wmedian"))
      .select(col("g").as(groupCol), col("wmedian"),
        col("totw").as("weight_total"))
  }

  /** Seasonal-naive forecast backtest (MASE): per key, the mean absolute
    * error of "this day = same day last season" scaled by the
    * in-sample naive-1 error — the standard scale-free "is the seasonal
    * structure real?" score (< 1e6 micro ⇒ the weekly pattern beats
    * just repeating yesterday). The operator q185's seasonality profile
    * hands its output to: profile says there IS a weekly shape, this
    * says how much forecasting power it carries.
    *
    * Exact algebra: daily totals in BIGINT cents; both MAEs are BIGINT
    * |difference| sums over OBSERVED days (lag = previous observation —
    * a day with no rows contributes no error term; gap-fill first with
    * q84 for calendar-strict semantics), and the one division is the
    * final micro floor. Scale: one (key, day) collapse, one window
    * providing both lags in a single per-key sort, one hash agg.
    */
  def seasonalNaiveBacktest(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, season: Int = 7): DataFrame = {
    require(season >= 2, "season must be >= 2 (1 is the naive baseline)")
    val daily = df
      .select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"),
        floor(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("day"))
      .agg(sum(col("cents")).as("s"))
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
    daily
      .select(col("k"), col("s"), lag(col("s"), 1).over(w).as("l1"),
        lag(col("s"), season).over(w).as("ls"))
      .filter(col("l1").isNotNull && col("ls").isNotNull)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("s") - col("ls"))).as("ae_seasonal"),
        sum(abs(col("s") - col("l1"))).as("ae_naive"))
      .select(col("k").as(keyCol), col("n_eval"), col("ae_seasonal"),
        col("ae_naive"),
        when(col("ae_naive") === 0, lit(null).cast("long"))
          .otherwise(expr("ae_seasonal * 1000000L div ae_naive"))
          .as("mase_micro"))
  }

  // ---- q209: does the weekly pattern beat repeating yesterday? ----------------
  private def q209(s: SparkSession, d: String): DataFrame =
    seasonalNaiveBacktest(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"))
  private val q209Sql =
    """WITH daily AS (
         SELECT event_type AS k, (ts::TIMESTAMP)::DATE AS day,
           sum(floor(value * 100)::BIGINT)::BIGINT AS s
         FROM events GROUP BY 1, 2),
       l AS (
         SELECT k, s,
           lag(s, 1) OVER (PARTITION BY k ORDER BY day) AS l1,
           lag(s, 7) OVER (PARTITION BY k ORDER BY day) AS ls
         FROM daily)
       SELECT k AS event_type, count(*)::BIGINT AS n_eval,
         sum(abs(s - ls))::BIGINT AS ae_seasonal,
         sum(abs(s - l1))::BIGINT AS ae_naive,
         CASE WHEN sum(abs(s - l1)) = 0 THEN NULL
           ELSE (sum(abs(s - ls)) * 1000000 // sum(abs(s - l1)))::BIGINT
           END AS mase_micro
       FROM l WHERE l1 IS NOT NULL AND ls IS NOT NULL
       GROUP BY k ORDER BY event_type"""

  /** Click→conversion attribution over a raw event stream: for every
    * conversion, the first- and last-touch candidate events of the same
    * user inside a lookback window, plus the candidate count (the
    * linear-credit denominator) — the batch companion to
    * [[graft.streaming.StreamingOps.clickAttribution]]'s stream-stream
    * join, on identical windowing semantics.
    *
    * Determinism: first = min(struct(ts, id)), last = max(struct(ts,
    * id)) — timestamp ties break on the event id on both engines.
    * Conversions with no in-window candidate surface with a zero count
    * (left join), not silently dropped — unattributed conversions ARE
    * the metric a marketing pipeline watches.
    *
    * Scale: one user-keyed equi-join with the window predicate as a
    * residual filter (the user key does the partitioning; per-user
    * event lists bound the fan-out) and one argmin/argmax hash
    * aggregation with map-side partials. No window sort of the event
    * history.
    */
  def touchAttribution(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, isTouch: Column, isConversion: Column,
      lookbackSeconds: Long = 7L * 86400L): DataFrame = {
    require(lookbackSeconds > 0, s"lookbackSeconds must be positive: $lookbackSeconds")
    val touches = df.filter(isTouch)
      .select(col(userCol).as("u"), col(tsCol).as("c_ts"),
        col(idCol).as("c_id"))
    val convs = df.filter(isConversion)
      .select(col(userCol).as("u"), col(tsCol).as("p_ts"),
        col(idCol).as("p_id"))
    convs.join(touches,
        convs("u") === touches("u") && col("c_ts") <= col("p_ts") &&
          unix_micros(col("c_ts")) >
            unix_micros(col("p_ts")) - lit(lookbackSeconds * 1000000L),
        "left")
      .groupBy(convs("u").as("user_id"), col("p_id"))
      .agg(count(col("c_id")).as("n_touches"),
        min(when(col("c_id").isNotNull,
          struct(col("c_ts"), col("c_id")))).as("first_t"),
        max(when(col("c_id").isNotNull,
          struct(col("c_ts"), col("c_id")))).as("last_t"))
      .select(col("user_id"), col("p_id").as("conversion_id"),
        col("n_touches"), col("first_t.c_id").as("first_touch_id"),
        col("last_t.c_id").as("last_touch_id"))
  }

  // ---- q210: first/last-touch attribution of purchases to clicks --------------
  private def q210(s: SparkSession, d: String): DataFrame =
    touchAttribution(Tables.events(s, d), "user_id", "ts", "event_id",
        col("event_type") === "click", col("event_type") === "purchase")
      .orderBy(col("conversion_id"))
  private val q210Sql =
    """WITH t AS (
         SELECT user_id AS u, ts AS c_ts, event_id AS c_id
         FROM events WHERE event_type = 'click'),
       c AS (
         SELECT user_id AS u, ts AS p_ts, event_id AS p_id
         FROM events WHERE event_type = 'purchase'),
       j AS (
         SELECT c.u, c.p_id, t.c_ts, t.c_id
         FROM c LEFT JOIN t ON c.u = t.u AND t.c_ts <= c.p_ts
           AND t.c_ts > c.p_ts - INTERVAL 7 DAY)
       SELECT u AS user_id, p_id AS conversion_id,
         count(c_id)::BIGINT AS n_touches,
         min(CASE WHEN c_id IS NOT NULL THEN (c_ts, c_id) END)[2]::BIGINT
           AS first_touch_id,
         max(CASE WHEN c_id IS NOT NULL THEN (c_ts, c_id) END)[2]::BIGINT
           AS last_touch_id
       FROM j GROUP BY u, p_id ORDER BY conversion_id"""

  /** Cohort lifetime-value curve: customers grouped by first-activity
    * month, revenue accumulated per months-since-start offset — the
    * "does a January customer pay back like an October one" table
    * behind retention economics (q75's retention matrix counts WHO
    * returns; this sums WHAT they spend).
    *
    * Exact algebra: revenue in BIGINT cents, month offsets as integer
    * truncated-month differences (identical on both engines for
    * month-truncated dates), cumulative sums per cohort over offsets.
    * Scale: one (customer → first month) aggregation, one
    * (customer, month) revenue collapse, a broadcastable cohort join,
    * and a per-cohort window over ≤ calendar-months rows.
    */
  def cohortLtv(df: DataFrame, custCol: String, tsCol: String,
      amountCol: String): DataFrame = {
    val acts = df.select(col(custCol).as("cust"),
      date_trunc("month", col(tsCol)).cast("date").as("mth"),
      floor(col(amountCol) * 100).cast("long").as("cents"))
    val cohort = acts.groupBy(col("cust")).agg(min(col("mth")).as("cohort"))
    val sizes = cohort.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_customers"))
    val rev = acts.groupBy(col("cust"), col("mth"))
      .agg(sum(col("cents")).as("rev"))
      .join(cohort, Seq("cust"))
      .groupBy(col("cohort"),
        ((year(col("mth")) - year(col("cohort"))) * 12
          + month(col("mth")) - month(col("cohort")))
          .cast("long").as("month_offset"))
      .agg(sum(col("rev")).as("revenue_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("month_offset"), col("n_customers"),
        col("revenue_cents"),
        sum(col("revenue_cents")).over(w).as("ltv_cents"))
  }

  // ---- q212: monthly cohort LTV from the order book ---------------------------
  private def q212(s: SparkSession, d: String): DataFrame =
    cohortLtv(Tables.orders(s, d), "o_custkey", "o_orderdate",
        "o_totalprice")
      .orderBy(col("cohort"), col("month_offset"))
  private val q212Sql =
    """WITH acts AS (
         SELECT o_custkey AS cust,
           date_trunc('month', o_orderdate)::DATE AS mth,
           floor(o_totalprice * 100)::BIGINT AS cents
         FROM orders),
       cohort AS (
         SELECT cust, min(mth) AS cohort FROM acts GROUP BY cust),
       sizes AS (
         SELECT cohort, count(*)::BIGINT AS n_customers
         FROM cohort GROUP BY cohort),
       rev AS (
         SELECT c.cohort,
           (year(a.mth) - year(c.cohort)) * 12
             + (month(a.mth) - month(c.cohort)) AS month_offset,
           sum(cents)::BIGINT AS revenue_cents
         FROM (SELECT cust, mth, sum(cents) AS cents
               FROM acts GROUP BY 1, 2) a
           JOIN cohort c ON a.cust = c.cust
         GROUP BY 1, 2)
       SELECT r.cohort, month_offset, n_customers, revenue_cents,
         sum(revenue_cents) OVER (PARTITION BY r.cohort
           ORDER BY month_offset
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS ltv_cents
       FROM rev r JOIN sizes s ON r.cohort = s.cohort
       ORDER BY r.cohort, month_offset"""

  /** Per-key burstiness of an event stream: B = (σ−μ)/(σ+μ) over
    * inter-arrival gaps — −1 for a metronome, 0 for a Poisson process,
    * → 1 for heavy bursts. The one-number answer to "is this user/device
    * organic or scripted", and the load-model input capacity planning
    * wants per key.
    *
    * Gap seconds are exact BIGINTs (epoch-second differences via one
    * lag window); Σg and n·Σg²−(Σg)² are exact integers, and the finish
    * (one sqrt, two add/sub, one divide on those exact inputs) is the
    * identical correctly-rounded FP path on both engines, rounded via
    * floor(x·10⁶+0.5)/10⁶. Degenerate keys (fewer than 2 gaps, or all
    * gaps zero) report null.
    */
  def burstiness(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("t"))
    df.select(col(keyCol).as("k"),
        expr(s"unix_micros($tsCol) div 1000000L").as("t"))
      .select(col("k"), (col("t") - lag(col("t"), 1).over(w)).as("g"))
      .filter(col("g").isNotNull)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sgg"))
      .select(col("k").as(keyCol), col("n").as("n_gaps"),
        when(col("n") < 2
            || (col("n") * col("sgg") === col("sg") * col("sg"))
              && col("sg") === 0,
          lit(null).cast("double"))
          .otherwise {
            val sd = sqrt((col("n") * col("sgg") - col("sg") * col("sg"))
              .cast("double"))
            val mu = col("sg").cast("double")
            bin6((sd - mu) / (sd + mu))
          }.as("burstiness"))
  }

  // ---- q218: organic or scripted? burstiness per user -------------------------
  private def q218(s: SparkSession, d: String): DataFrame =
    burstiness(Tables.events(s, d), "user_id", "ts")
      .orderBy(col("user_id"))
  private val q218Sql =
    """WITH g AS (
         SELECT user_id AS k,
           epoch_us(ts) // 1000000
             - lag(epoch_us(ts) // 1000000, 1)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000)
             AS g
         FROM events),
       a AS (
         SELECT k, count(*)::BIGINT AS n, sum(g)::BIGINT AS sg,
           sum(g * g)::BIGINT AS sgg
         FROM g WHERE g IS NOT NULL GROUP BY k)
       SELECT k AS user_id, n AS n_gaps,
         CASE WHEN n < 2 OR (n * sgg = sg * sg AND sg = 0) THEN NULL
           ELSE floor((sqrt((n * sgg - sg * sg)::DOUBLE) - sg::DOUBLE)
             / (sqrt((n * sgg - sg * sg)::DOUBLE) + sg::DOUBLE) * 1e6
             + 0.5) / 1e6
           END AS burstiness
       FROM a ORDER BY user_id"""

  /** Nearest-rank percentile set of the attribution delay: for every
    * conversion with at least one in-window touch, the seconds from the
    * LAST touch to the conversion, summarized as exact nearest-rank
    * P50/P90/P99 — "how long does conversion take", the latency profile
    * attribution feeds back to campaign pacing.
    *
    * Exact integers: delays collapse to (value → count) with map-side
    * partials, one cumulative window over DISTINCT delays, and the p-th
    * percentile is min{v : 100·cum ≥ p·n} — pure integer comparison,
    * the q205 weighted-median rule at three ps. One row out.
    */
  def conversionLatency(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, isTouch: Column, isConversion: Column,
      lookbackSeconds: Long = 7L * 86400L,
      quantized: Boolean = true): DataFrame = {
    val att = touchAttribution(df, userCol, tsCol, idCol, isTouch,
      isConversion, lookbackSeconds)
    val convTs = df.filter(isConversion)
      .select(col(idCol).as("conversion_id"), col(tsCol).as("p_ts"))
    val touchTs = df.select(col(idCol).as("last_touch_id"),
      col(tsCol).as("l_ts"))
    val delays = att.filter(col("n_touches") > 0)
      .join(convTs, Seq("conversion_id"))
      .join(touchTs, Seq("last_touch_id"))
      .select(expr(
        "(unix_micros(p_ts) - unix_micros(l_ts)) div 1000000L").as("v"))
    val byV = delays.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBase =
      if (quantized) byV.select(col("v"), sum(col("c")).over(w).as("cum"))
      else DistributedPrefix.cumSums(byV, Nil, Seq(col("v")), Seq("c"))
        .select(col("v"), col("cum_c").as("cum"))
    val cum = cumBase
      .crossJoin(broadcast(byV.agg(sum(col("c")).as("n"))))
    cum.agg(max(col("n")).as("n_conversions"),
      min(when(col("cum") * 100 >= col("n") * 50, col("v"))).as("p50_s"),
      min(when(col("cum") * 100 >= col("n") * 90, col("v"))).as("p90_s"),
      min(when(col("cum") * 100 >= col("n") * 99, col("v"))).as("p99_s"))
  }

  // ---- q219: how long from last click to purchase? ----------------------------
  private def q219(s: SparkSession, d: String): DataFrame =
    conversionLatency(Tables.events(s, d), "user_id", "ts", "event_id",
      col("event_type") === "click", col("event_type") === "purchase")
  private val q219Sql =
    """WITH t AS (
         SELECT user_id AS u, ts AS c_ts, event_id AS c_id
         FROM events WHERE event_type = 'click'),
       c AS (
         SELECT user_id AS u, ts AS p_ts, event_id AS p_id
         FROM events WHERE event_type = 'purchase'),
       att AS (
         SELECT c.p_id, max((t.c_ts, t.c_id)) AS last_t
         FROM c JOIN t ON c.u = t.u AND t.c_ts <= c.p_ts
           AND t.c_ts > c.p_ts - INTERVAL 7 DAY
         GROUP BY c.p_id),
       delays AS (
         SELECT (epoch_us(c.p_ts) - epoch_us(a.last_t[1])) // 1000000 AS v
         FROM att a JOIN c ON a.p_id = c.p_id),
       byv AS (SELECT v, count(*)::BIGINT AS c FROM delays GROUP BY v),
       cum AS (
         SELECT v, sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           (SELECT sum(c) FROM byv) AS n
         FROM byv)
       SELECT max(n)::BIGINT AS n_conversions,
         min(CASE WHEN cum * 100 >= n * 50 THEN v END)::BIGINT AS p50_s,
         min(CASE WHEN cum * 100 >= n * 90 THEN v END)::BIGINT AS p90_s,
         min(CASE WHEN cum * 100 >= n * 99 THEN v END)::BIGINT AS p99_s
       FROM cum"""

  /** Year-over-year growth per key and calendar month: revenue this
    * month vs the SAME month last year — the seasonality-free growth
    * read (a December spike compares against last December, not
    * November). Cents exact; growth in signed micro via the
    * sign-outside floor convention; months with no year-ago comparison
    * (or a zero base) report null growth rather than dividing by zero.
    *
    * Scale: one (key, month) collapse with map-side partials; the
    * year-ago value arrives by a 12-step lag over each key's month
    * series ONLY where months are contiguous — an explicit self-join on
    * (key, month − 1 year) instead, so missing months cannot silently
    * shift the comparison (the lag-over-sparse-series bug).
    */
  def yoyGrowth(df: DataFrame, keyCol: String, tsCol: String,
      amountCol: String): DataFrame = {
    val monthly = df.select(col(keyCol).as("k"),
        date_trunc("month", col(tsCol)).cast("date").as("mth"),
        floor(col(amountCol) * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("mth"))
      .agg(sum(col("cents")).as("rev"))
    val prior = monthly.select(col("k"),
      add_months(col("mth"), 12).as("mth"), col("rev").as("rev_prior"))
    monthly.join(prior, Seq("k", "mth"), "left")
      .select(col("k").as(keyCol), col("mth"), col("rev"),
        col("rev_prior"),
        when(col("rev_prior").isNull || col("rev_prior") === 0,
          lit(null).cast("long"))
          .otherwise(expr("(rev - rev_prior) * 1000000L div rev_prior"))
          .as("yoy_micro"))
  }

  // ---- q223: seasonally-honest growth per order priority ----------------------
  private def q223(s: SparkSession, d: String): DataFrame =
    yoyGrowth(Tables.orders(s, d), "o_orderpriority", "o_orderdate",
        "o_totalprice")
      .orderBy(col("o_orderpriority"), col("mth"))
  private val q223Sql =
    """WITH monthly AS (
         SELECT o_orderpriority AS k,
           date_trunc('month', o_orderdate)::DATE AS mth,
           sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS rev
         FROM orders GROUP BY 1, 2)
       SELECT m.k AS o_orderpriority, m.mth, m.rev,
         p.rev AS rev_prior,
         CASE WHEN p.rev IS NULL OR p.rev = 0 THEN NULL
           ELSE sign(m.rev - p.rev)::BIGINT
             * (abs(m.rev - p.rev) * 1000000 // p.rev) END::BIGINT
           AS yoy_micro
       FROM monthly m LEFT JOIN monthly p
         ON m.k = p.k AND p.mth + INTERVAL 12 MONTH = m.mth
       ORDER BY o_orderpriority, m.mth"""

  /** Robust daily anomaly summary per key: median and MAD of the daily
    * totals (both exact nearest-rank over distinct values — the 50%-
    * breakdown estimators no spike can drag), and the count of days
    * outside median ± k·MAD — the alert feed an on-call dashboard
    * tails. Pure integer comparisons: a day alerts iff
    * |x − med| > k·MAD exactly; no float anywhere.
    *
    * Scale: one (key, day) collapse, then two distinct-value cumulative
    * passes (values, then absolute deviations) and one count — the q205
    * nearest-rank rule applied twice.
    */
  def dailyMadAlerts(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def nearestRankMedian(in: DataFrame, vCol: String): DataFrame = {
      val byV = in.groupBy(col("k"), col(vCol).as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("k")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV.select(col("k"), col("v"), sum(col("c")).over(w).as("cum"),
          sum(col("c")).over(Window.partitionBy(col("k"))).as("tot"))
        .filter(lit(2L) * col("cum") >= col("tot"))
        .groupBy(col("k")).agg(min(col("v")).as("med"))
    }
    val daily = df.select(col(keyCol).as("k"), to_date(col(tsCol)).as("day"),
        floor(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("day"))
      .agg(sum(col("cents")).as("x"))
    val med = nearestRankMedian(daily.select(col("k"), col("x")), "x")
    val dev = daily.join(broadcast(med), Seq("k"))
      .select(col("k"), col("day"), col("x"), col("med"),
        abs(col("x") - col("med")).as("adev"))
    val mad = nearestRankMedian(dev.select(col("k"), col("adev")), "adev")
      .withColumnRenamed("med", "mad")
    dev.join(broadcast(mad), Seq("k"))
      .groupBy(col("k"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_days"),
        count(when(col("adev") > lit(k.toLong) * col("mad"), 1))
          .as("n_alerts"))
      .select(col("k").as(keyCol), col("n_days"), col("med"), col("mad"),
        col("n_alerts"))
  }

  // ---- q225: which event types had out-of-band days? --------------------------
  private def q225(s: SparkSession, d: String): DataFrame =
    dailyMadAlerts(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"))
  private val q225Sql =
    """WITH daily AS (
         SELECT event_type AS k, (ts::TIMESTAMP)::DATE AS day,
           sum(floor(value * 100)::BIGINT)::BIGINT AS x
         FROM events GROUP BY 1, 2),
       mv AS (
         SELECT k, x AS v, count(*)::BIGINT AS c FROM daily GROUP BY 1, 2),
       mc AS (
         SELECT k, v,
           sum(c) OVER (PARTITION BY k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS tot
         FROM mv),
       med AS (
         SELECT k, min(v)::BIGINT AS med FROM mc
         WHERE 2 * cum >= tot GROUP BY k),
       dev AS (
         SELECT d.k, d.x, m.med, abs(d.x - m.med)::BIGINT AS adev
         FROM daily d JOIN med m ON d.k = m.k),
       av AS (
         SELECT k, adev AS v, count(*)::BIGINT AS c FROM dev GROUP BY 1, 2),
       ac AS (
         SELECT k, v,
           sum(c) OVER (PARTITION BY k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS tot
         FROM av),
       mad AS (
         SELECT k, min(v)::BIGINT AS mad FROM ac
         WHERE 2 * cum >= tot GROUP BY k)
       SELECT d.k AS event_type, count(*)::BIGINT AS n_days,
         d.med, a.mad,
         count(*) FILTER (WHERE d.adev > 3 * a.mad)::BIGINT AS n_alerts
       FROM dev d JOIN mad a ON d.k = a.k
       GROUP BY d.k, d.med, a.mad
       ORDER BY event_type"""

  /** Exact nearest-rank decile table per group: D1..D9 of the value
    * distribution in one row per group — the full distribution
    * fingerprint (q47's percentiles are interpolated and per-percentile;
    * this is the exact-integer nearest-rank family at all nine cuts,
    * engine-identical by construction: Dd = min{v : 10·cum ≥ d·n}).
    *
    * Scale: one (group, value) collapse, one per-group cumulative window
    * over DISTINCT values (corpus-sized per group when the value domain
    * is continuous — pass `quantized = false` for the
    * [[DistributedPrefix]] two-pass sum with broadcast group totals),
    * then nine conditional mins in a single hash aggregation — no sort
    * of raw rows, no per-decile pass.
    */
  def decileTable(df: DataFrame, groupCol: String,
      valueCol: Column, quantized: Boolean = false): DataFrame = {
    val byV = df.select(col(groupCol).as("k"), valueCol.cast("long").as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("k")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        byV.select(col("k"), col("v"),
          sum(col("c")).over(w).as("cum"),
          sum(col("c")).over(Window.partitionBy(col("k"))).as("n"))
      else
        DistributedPrefix.cumSums(byV, Seq("k"), Seq(col("v")), Seq("c"))
          .join(broadcast(byV.groupBy(col("k")).agg(sum(col("c")).as("n"))),
            Seq("k"))
          .select(col("k"), col("v"), col("cum_c").as("cum"), col("n"))
    val aggs = max(col("n")).as("n") +: (1 to 9).map(d =>
      min(when(col("cum") * 10 >= col("n") * d, col("v"))).as(s"d$d"))
    cum.groupBy(col("k"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("k", groupCol)
  }

  // ---- q229: the value distribution fingerprint per event type ----------------
  private def q229(s: SparkSession, d: String): DataFrame =
    decileTable(Tables.events(s, d), "event_type",
        floor(col("value") * 100), quantized = true)
      .orderBy(col("event_type"))
  private[operators] val q229Sql =
    """WITH byv AS (
         SELECT event_type AS k, floor(value * 100)::BIGINT AS v,
           count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       cum AS (
         SELECT k, v,
           sum(c) OVER (PARTITION BY k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS n
         FROM byv)
       SELECT k AS event_type, max(n)::BIGINT AS n,
         min(CASE WHEN cum * 10 >= n * 1 THEN v END)::BIGINT AS d1,
         min(CASE WHEN cum * 10 >= n * 2 THEN v END)::BIGINT AS d2,
         min(CASE WHEN cum * 10 >= n * 3 THEN v END)::BIGINT AS d3,
         min(CASE WHEN cum * 10 >= n * 4 THEN v END)::BIGINT AS d4,
         min(CASE WHEN cum * 10 >= n * 5 THEN v END)::BIGINT AS d5,
         min(CASE WHEN cum * 10 >= n * 6 THEN v END)::BIGINT AS d6,
         min(CASE WHEN cum * 10 >= n * 7 THEN v END)::BIGINT AS d7,
         min(CASE WHEN cum * 10 >= n * 8 THEN v END)::BIGINT AS d8,
         min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS d9
       FROM cum GROUP BY k ORDER BY event_type"""

  // ---- q231: order-to-ship latency deciles per priority -----------------------
  // Process-mining read on the order book: the full D1..D9 fingerprint
  // of ship delays (days), per priority — one [[decileTable]] call over
  // the header-detail join; urgent orders should show a left-shifted
  // curve, and the tail deciles are the SLA conversation.
  private def q231(s: SparkSession, d: String): DataFrame =
    decileTable(
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .as("delay")),
      "o_orderpriority", col("delay"), quantized = true)
      .orderBy(col("o_orderpriority"))
  private val q231Sql =
    """WITH base AS (
         SELECT o_orderpriority AS k,
           date_diff('day', (o_orderdate::TIMESTAMP)::DATE,
             (l_shipdate::TIMESTAMP)::DATE)::BIGINT AS v
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       byv AS (
         SELECT k, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
       cum AS (
         SELECT k, v,
           sum(c) OVER (PARTITION BY k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY k) AS n
         FROM byv)
       SELECT k AS o_orderpriority, max(n)::BIGINT AS n,
         min(CASE WHEN cum * 10 >= n * 1 THEN v END)::BIGINT AS d1,
         min(CASE WHEN cum * 10 >= n * 2 THEN v END)::BIGINT AS d2,
         min(CASE WHEN cum * 10 >= n * 3 THEN v END)::BIGINT AS d3,
         min(CASE WHEN cum * 10 >= n * 4 THEN v END)::BIGINT AS d4,
         min(CASE WHEN cum * 10 >= n * 5 THEN v END)::BIGINT AS d5,
         min(CASE WHEN cum * 10 >= n * 6 THEN v END)::BIGINT AS d6,
         min(CASE WHEN cum * 10 >= n * 7 THEN v END)::BIGINT AS d7,
         min(CASE WHEN cum * 10 >= n * 8 THEN v END)::BIGINT AS d8,
         min(CASE WHEN cum * 10 >= n * 9 THEN v END)::BIGINT AS d9
       FROM cum GROUP BY k ORDER BY o_orderpriority"""

  /** RFM segmentation: every customer scored 1–5 on Recency (days since
    * last activity — inverted, recent = 5), Frequency, and Monetary
    * value against GLOBAL nearest-rank quintile thresholds, then
    * collapsed to per-segment counts — the marketing-analytics workhorse
    * ("champions" = 555, "at risk" = high F/M but low R).
    *
    * Exact integers: metrics are day counts / row counts / cent sums;
    * thresholds are nearest-rank quintile cuts over the distinct-value
    * relations (the q229 rule); scores = 1 + Σ(v > tᵢ) strict
    * comparisons. Deterministic on both engines by construction.
    *
    * Scale: one customer aggregation, three distinct-value threshold
    * passes (each collapsed, tiny), one broadcast of 12 thresholds back,
    * one segment aggregation.
    */
  def rfmSegments(df: DataFrame, custCol: String, tsCol: String,
      amountCol: String): DataFrame = {
    val refc = df.agg(max(to_date(col(tsCol))).as("ref"))
    val metrics = df.select(col(custCol).as("cust"),
        to_date(col(tsCol)).as("dte"),
        floor(col(amountCol) * 100).cast("long").as("cents"))
      .crossJoin(broadcast(refc))
      .groupBy(col("cust"))
      .agg(min(datediff(col("ref"), col("dte"))).as("r"),
        count(lit(1)).as("f"), sum(col("cents")).as("m"))
    def thresholds(vCol: String): DataFrame = {
      val byV = metrics.groupBy(col(vCol).as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byV.select(col("v"), sum(col("c")).over(w).as("cum"))
        .crossJoin(broadcast(byV.agg(sum(col("c")).as("n"))))
      val cuts = (1 to 4).map(q =>
        min(when(col("cum") * 5 >= col("n") * q, col("v")))
          .as(s"${vCol}_t$q"))
      cum.agg(cuts.head, cuts.tail: _*)
    }
    def score(vCol: String): Column =
      (1 to 4).map(q =>
        when(col(vCol) > col(s"${vCol}_t$q"), 1).otherwise(0))
        .reduce(_ + _) + 1
    metrics
      .crossJoin(broadcast(thresholds("r")))
      .crossJoin(broadcast(thresholds("f")))
      .crossJoin(broadcast(thresholds("m")))
      .select(col("cust"), (lit(6) - score("r")).as("r_score"),
        score("f").as("f_score"), score("m").as("m_score"),
        col("r"), col("f"), col("m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("f")).as("orders_total"), sum(col("m")).as("cents_total"))
  }

  // ---- q232: the RFM segment census of the customer base ----------------------
  private def q232(s: SparkSession, d: String): DataFrame =
    rfmSegments(Tables.orders(s, d), "o_custkey", "o_orderdate",
        "o_totalprice")
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  private val q232Sql =
    """WITH refc AS (
         SELECT max((o_orderdate::TIMESTAMP)::DATE) AS ref FROM orders),
       metrics AS (
         SELECT o_custkey AS cust,
           min(date_diff('day', (o_orderdate::TIMESTAMP)::DATE, ref))
             ::BIGINT AS r,
           count(*)::BIGINT AS f,
           sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS m
         FROM orders, refc GROUP BY 1),
       rt AS (
         SELECT
           min(CASE WHEN cum * 5 >= n * 1 THEN v END) AS r_t1,
           min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS r_t2,
           min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS r_t3,
           min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS r_t4
         FROM (
           SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT count(*) FROM metrics) AS n
           FROM (SELECT r AS v, count(*)::BIGINT AS c FROM metrics
                 GROUP BY 1))),
       ft AS (
         SELECT
           min(CASE WHEN cum * 5 >= n * 1 THEN v END) AS f_t1,
           min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS f_t2,
           min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS f_t3,
           min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS f_t4
         FROM (
           SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT count(*) FROM metrics) AS n
           FROM (SELECT f AS v, count(*)::BIGINT AS c FROM metrics
                 GROUP BY 1))),
       mt AS (
         SELECT
           min(CASE WHEN cum * 5 >= n * 1 THEN v END) AS m_t1,
           min(CASE WHEN cum * 5 >= n * 2 THEN v END) AS m_t2,
           min(CASE WHEN cum * 5 >= n * 3 THEN v END) AS m_t3,
           min(CASE WHEN cum * 5 >= n * 4 THEN v END) AS m_t4
         FROM (
           SELECT v, sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             (SELECT count(*) FROM metrics) AS n
           FROM (SELECT m AS v, count(*)::BIGINT AS c FROM metrics
                 GROUP BY 1))),
       scored AS (
         SELECT cust, r, f, m,
           6 - (1 + (r > r_t1)::INT + (r > r_t2)::INT + (r > r_t3)::INT
             + (r > r_t4)::INT) AS r_score,
           1 + (f > f_t1)::INT + (f > f_t2)::INT + (f > f_t3)::INT
             + (f > f_t4)::INT AS f_score,
           1 + (m > m_t1)::INT + (m > m_t2)::INT + (m > m_t3)::INT
             + (m > m_t4)::INT AS m_score
         FROM metrics, rt, ft, mt)
       SELECT r_score::INT AS r_score, f_score::INT AS f_score,
         m_score::INT AS m_score, count(*)::BIGINT AS n_customers,
         sum(f)::BIGINT AS orders_total, sum(m)::BIGINT AS cents_total
       FROM scored GROUP BY 1, 2, 3
       ORDER BY r_score, f_score, m_score"""

  /** DAU / WAU / stickiness per day: distinct daily actives, distinct
    * actives over the trailing 7-day window, and DAU/WAU — the product
    * engagement triple. EXACT (not sketched — the q192 HLL variant is
    * the at-scale companion): the corpus first collapses to distinct
    * (user, day) — the only corpus-sized pass — and the 7-day window is
    * an EQUI-join: each (user, day) explodes into the 7 spine days it
    * covers (bounded ×7 fan-out on the collapsed relation) and distinct
    * users count per covered day. A range predicate here would plan as a
    * broadcast nested loop doing |days|·|user-days| comparisons — the
    * explode keeps it a hash shuffle on the day key, linear in
    * |user-days| for any calendar length.
    */
  def dauWau(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ud = df.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val spine = ud.select(col("day")).distinct()
    val wau = ud
      .select(col("u"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
      .join(spine, Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000L div wau").as("stickiness_micro"))
  }

  // ---- q233: engagement triple over the events month --------------------------
  private def q233(s: SparkSession, d: String): DataFrame =
    dauWau(Tables.events(s, d), "user_id", "ts")
      .orderBy(col("day"))
  private val q233Sql =
    """WITH ud AS (
         SELECT DISTINCT user_id AS u, (ts::TIMESTAMP)::DATE AS day
         FROM events),
       dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day),
       spine AS (SELECT DISTINCT day FROM ud),
       wau AS (
         SELECT day, count(*)::BIGINT AS wau FROM (
           SELECT DISTINCT s.day, e.u
           FROM spine s JOIN ud e
             ON e.day <= s.day AND e.day >= s.day - 6) t
         GROUP BY day)
       SELECT d.day, d.dau, w.wau,
         (d.dau * 1000000 // w.wau)::BIGINT AS stickiness_micro
       FROM dau d JOIN wau w ON d.day = w.day
       ORDER BY d.day"""

  /** Daily bounce rate from gaps-and-islands sessionization: sessions
    * start where the within-user gap exceeds `gapSeconds` (timestamp
    * ties broken on the event id — deterministic islands), a bounce is
    * a single-event session, and each session reports to its START day.
    * The engagement-quality companion to [[dauWau]]'s volume triple.
    *
    * Exact integers throughout; the start day is derived from epoch
    * arithmetic (`date_from_unix_date(start_t div 86400)`) — a fixed UTC
    * day convention independent of `spark.sql.session.timeZone`, so a
    * consumer with a non-UTC session gets the documented buckets. Scale:
    * one per-user window (lag) over epoch seconds, one session
    * aggregation keyed by (user, session start), one daily rollup — the
    * q65 session-window machinery's audit-table sibling.
    */
  def bounceRate(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapSeconds: Long = 1800L): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
    val marked = df.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) div 1000000L").as("t"),
        col(idCol).as("eid"))
      .withColumn("new_s",
        when(col("t") - lag(col("t"), 1).over(w) > gapSeconds
          || lag(col("t"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("u"), col("sid"))
      .agg(min(col("t")).as("start_t"), count(lit(1)).as("n_events"))
      .select(expr("date_from_unix_date(cast(start_t div 86400L as int))")
          .as("day"),
        col("n_events"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, 1)).as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        expr("n_bounces * 1000000L div n_sessions").as("bounce_micro"))
  }

  // ---- q234: daily bounce rate at a 30-minute session gap ---------------------
  private def q234(s: SparkSession, d: String): DataFrame =
    bounceRate(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy(col("day"))
  private val q234Sql =
    """WITH base AS (
         SELECT user_id AS u, epoch_us(ts) // 1000000 AS t,
           event_id AS eid
         FROM events),
       marked AS (
         SELECT u, t, eid,
           CASE WHEN t - lag(t, 1) OVER (PARTITION BY u ORDER BY t, eid)
               > 1800
             OR lag(t, 1) OVER (PARTITION BY u ORDER BY t, eid) IS NULL
             THEN 1 ELSE 0 END AS new_s
         FROM base),
       sess AS (
         SELECT u, t,
           sum(new_s) OVER (PARTITION BY u ORDER BY t, eid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM marked),
       per AS (
         SELECT u, sid, min(t) AS start_t, count(*)::BIGINT AS n_events
         FROM sess GROUP BY 1, 2)
       SELECT (DATE '1970-01-01' + ((start_t // 86400)::INT)) AS day,
         count(*)::BIGINT AS n_sessions,
         count(*) FILTER (WHERE n_events = 1)::BIGINT AS n_bounces,
         (count(*) FILTER (WHERE n_events = 1) * 1000000
           // count(*))::BIGINT AS bounce_micro
       FROM per GROUP BY 1 ORDER BY day"""

  /** Session-level conversion: of the sessions that SHOPPED (contain at
    * least one touch event), how many CONVERTED (contain a purchase) —
    * per day of session start. The funnel read at session granularity
    * ([[touchAttribution]] is the event-level credit assignment; this is
    * the rate a growth dashboard tracks). Sessionization shares
    * [[bounceRate]]'s deterministic gaps-and-islands (ts, id) ordering.
    */
  def sessionConversion(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, isTouch: Column, isConversion: Column,
      gapSeconds: Long = 1800L): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
    val marked = df.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) div 1000000L").as("t"),
        col(idCol).as("eid"), isTouch.as("is_t"), isConversion.as("is_c"))
      .withColumn("new_s",
        when(col("t") - lag(col("t"), 1).over(w) > gapSeconds
          || lag(col("t"), 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("u"), col("sid"))
      .agg(min(col("t")).as("start_t"),
        max(when(col("is_t"), 1L).otherwise(0L)).as("touched"),
        max(when(col("is_c"), 1L).otherwise(0L)).as("converted"))
      .filter(col("touched") === 1L)
      .select(expr("date_from_unix_date(cast(start_t div 86400L as int))")
          .as("day"),
        col("converted"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_shopping_sessions"),
        count(when(col("converted") === 1L, 1)).as("n_converted"))
      .select(col("day"), col("n_shopping_sessions"), col("n_converted"),
        expr("n_converted * 1000000L div n_shopping_sessions")
          .as("conversion_micro"))
  }

  // ---- q235: daily session conversion, clicks → purchases ---------------------
  private def q235(s: SparkSession, d: String): DataFrame =
    sessionConversion(Tables.events(s, d), "user_id", "ts", "event_id",
      col("event_type") === "click", col("event_type") === "purchase")
      .orderBy(col("day"))
  private val q235Sql =
    """WITH base AS (
         SELECT user_id AS u, epoch_us(ts) // 1000000 AS t, event_id AS eid,
           (event_type = 'click') AS is_t,
           (event_type = 'purchase') AS is_c
         FROM events),
       marked AS (
         SELECT u, t, eid, is_t, is_c,
           CASE WHEN t - lag(t, 1) OVER (PARTITION BY u ORDER BY t, eid)
               > 1800
             OR lag(t, 1) OVER (PARTITION BY u ORDER BY t, eid) IS NULL
             THEN 1 ELSE 0 END AS new_s
         FROM base),
       sess AS (
         SELECT u, t, is_t, is_c,
           sum(new_s) OVER (PARTITION BY u ORDER BY t, eid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM marked),
       per AS (
         SELECT u, sid, min(t) AS start_t,
           max(CASE WHEN is_t THEN 1 ELSE 0 END) AS touched,
           max(CASE WHEN is_c THEN 1 ELSE 0 END) AS converted
         FROM sess GROUP BY 1, 2)
       SELECT (DATE '1970-01-01' + ((start_t // 86400)::INT)) AS day,
         count(*)::BIGINT AS n_shopping_sessions,
         count(*) FILTER (WHERE converted = 1)::BIGINT AS n_converted,
         (count(*) FILTER (WHERE converted = 1) * 1000000
           // count(*))::BIGINT AS conversion_micro
       FROM per WHERE touched = 1 GROUP BY 1 ORDER BY day"""

  /** Daily new-vs-returning split: actives whose FIRST-ever day is
    * today vs those seen before — growth accounting's first table
    * (acquisition vs retention volume), the q75 retention matrix's
    * daily topline. One distinct (user, day) collapse, one first-day
    * aggregation joined back; exact integers.
    */
  def newVsReturning(df: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val ud = df.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .distinct()
    val first = ud.groupBy(col("u")).agg(min(col("day")).as("first_day"))
    ud.join(first, Seq("u"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"),
        count(when(col("day") === col("first_day"), 1)).as("n_new"))
      .select(col("day"), col("dau"), col("n_new"),
        (col("dau") - col("n_new")).as("n_returning"),
        expr("n_new * 1000000L div dau").as("new_share_micro"))
  }

  // ---- q242: acquisition vs retention volume, day by day ----------------------
  private def q242(s: SparkSession, d: String): DataFrame =
    newVsReturning(Tables.events(s, d), "user_id", "ts")
      .orderBy(col("day"))
  private val q242Sql =
    """WITH ud AS (
         SELECT DISTINCT user_id AS u, (ts::TIMESTAMP)::DATE AS day
         FROM events),
       first AS (SELECT u, min(day) AS first_day FROM ud GROUP BY u)
       SELECT day, count(*)::BIGINT AS dau,
         count(*) FILTER (WHERE day = first_day)::BIGINT AS n_new,
         (count(*) - count(*) FILTER (WHERE day = first_day))::BIGINT
           AS n_returning,
         (count(*) FILTER (WHERE day = first_day) * 1000000
           // count(*))::BIGINT AS new_share_micro
       FROM ud JOIN first ON ud.u = first.u
       GROUP BY day ORDER BY day"""

  // ---- q205: character-mass median document length per language ---------------
  private def q205(s: SparkSession, d: String): DataFrame =
    weightedMedian(Tables.documents(s, d), "lang", "n_chars", "n_chars",
        quantized = true)
      .orderBy(col("lang"))
  private val q205Sql =
    """WITH byv AS (
         SELECT lang AS g, n_chars::BIGINT AS v, sum(n_chars)::BIGINT AS w
         FROM documents GROUP BY 1, 2),
       c AS (
         SELECT g, v,
           sum(w) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
           sum(w) OVER (PARTITION BY g) AS totw
         FROM byv)
       SELECT g AS lang, min(v)::BIGINT AS wmedian,
         totw::BIGINT AS weight_total
       FROM c WHERE 2 * cumw >= totw
       GROUP BY g, totw ORDER BY lang"""

  /** Otsu auto-threshold per group: the value split maximizing
    * between-class variance over the VALUE distribution — the unsupervised
    * "where should the filter cutoff sit" answer (the q202 change-point
    * machinery, pivoted from time order to value order). A curation
    * pipeline uses it to turn a bimodal quality/length histogram into a
    * keep/drop boundary without hand-tuning.
    *
    * Same determinism contract as [[changePoint]]: per-distinct-value
    * counts and sums are exact BIGINT, d₁ = S₁·n₂ − S₂·n₁ is exact and
    * double-representable, the gain's three FP ops are identical on both
    * engines, and the argmax tie-breaks on the lowest threshold. Scale:
    * one (group, value) collapse, windows over DISTINCT values; for a
    * CONTINUOUS value domain pass `quantized = false` — the cumulative
    * stage routes through the [[DistributedPrefix]] two-pass sum and the
    * argmax becomes a partial-aggregated max(struct), so no single task
    * ever sorts a group's collapse.
    */
  def otsuThreshold(df: DataFrame, groupCol: String,
      valueCol: String, quantized: Boolean = true): DataFrame = {
    val byV = df.select(col(groupCol).as("k"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("k"), col("v"))
      .agg(count(lit(1)).as("c"), sum(col("v")).as("m"))
    val ord = Window.partitionBy(col("k")).orderBy(col("v"))
    val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.groupBy(col("k"))
      .agg(sum(col("c")).as("n"), sum(col("m")).as("stot"))
    val cum =
      if (quantized)
        byV.select(col("k"), col("v"), sum(col("c")).over(w).as("n1"),
          sum(col("m")).over(w).as("s1"))
      else
        DistributedPrefix
          .cumSums(byV, Seq("k"), Seq(col("v")), Seq("c", "m"))
          .select(col("k"), col("v"), col("cum_c").as("n1"),
            col("cum_m").as("s1"))
    val pre = cum
      .join(tot, Seq("k"))
      .filter(col("n1") < col("n"))
      .select(col("k"), col("v"), col("n1"), col("s1"), col("n"),
        col("stot"),
        (col("s1") * (col("n") - col("n1"))
          - (col("stot") - col("s1")) * col("n1")).cast("double").as("d1"))
      .withColumn("gain",
        col("d1") * col("d1")
          / (col("n1") * (col("n") - col("n1"))).cast("double"))
    val best =
      if (quantized)
        pre.withColumn("rn", row_number().over(
            Window.partitionBy(col("k")).orderBy(col("gain").desc, col("v"))))
          .filter(col("rn") === 1)
      else
        // Argmax as a partial-aggregated max(struct): (gain, -v) orders
        // identically to (gain DESC, v ASC), and v is unique per group,
        // so no per-group sort of the collapsed relation is needed.
        pre.groupBy(col("k"))
          .agg(max(struct(col("gain"), (-col("v")).as("negv"), col("v"),
            col("n1"), col("s1"), col("n"), col("stot"))).as("b"))
          .select(col("k"), col("b.v").as("v"), col("b.n1").as("n1"),
            col("b.s1").as("s1"), col("b.n").as("n"),
            col("b.stot").as("stot"))
    best
      .select(col("k").as(groupCol), col("v").as("threshold"),
        col("n1").as("n_below"), (col("n") - col("n1")).as("n_above"),
        expr("s1 * 1000000L div n1").as("mean_below_micro"),
        expr("(stot - s1) * 1000000L div (n - n1)").as("mean_above_micro"))
  }

  // ---- q215: auto-threshold on document length per language -------------------
  // Where does each language's length distribution naturally split?
  private def q215(s: SparkSession, d: String): DataFrame =
    otsuThreshold(Tables.documents(s, d), "lang", "n_chars")
      .orderBy(col("lang"))
  private val q215Sql =
    """WITH byv AS (
         SELECT lang AS k, n_chars::BIGINT AS v, count(*)::BIGINT AS c,
           sum(n_chars)::BIGINT AS m
         FROM documents GROUP BY 1, 2),
       tot AS (
         SELECT k, sum(c)::BIGINT AS n, sum(m)::BIGINT AS stot
         FROM byv GROUP BY k),
       pre AS (
         SELECT b.k, b.v,
           sum(c) OVER (PARTITION BY b.k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
           sum(m) OVER (PARTITION BY b.k ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
           t.n, t.stot
         FROM byv b JOIN tot t ON b.k = t.k),
       gains AS (
         SELECT *,
           ((s1 * (n - n1) - (stot - s1) * n1)::DOUBLE
             * (s1 * (n - n1) - (stot - s1) * n1)::DOUBLE)
             / ((n1 * (n - n1))::DOUBLE) AS gain
         FROM pre WHERE n1 < n),
       best AS (
         SELECT *, row_number() OVER (PARTITION BY k
           ORDER BY gain DESC, v) AS rn
         FROM gains)
       SELECT k AS lang, v AS threshold, n1::BIGINT AS n_below,
         (n - n1)::BIGINT AS n_above,
         (sign(s1)::BIGINT * (abs(s1) * 1000000 // n1))::BIGINT
           AS mean_below_micro,
         (sign(stot - s1)::BIGINT
           * (abs(stot - s1) * 1000000 // (n - n1)))::BIGINT
           AS mean_above_micro
       FROM best WHERE rn = 1 ORDER BY lang"""

  // ---- q202: change-point in the daily event-value series ---------------------
  // Per event type: the day the daily cent mass shifted the most —
  // binary segmentation's first split, argmax'd deterministically.
  private def q202(s: SparkSession, d: String): DataFrame =
    changePoint(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy(col("event_type"))
  private val q202Sql =
    """WITH daily AS (
         SELECT event_type AS k, (ts::TIMESTAMP)::DATE AS day,
           sum(floor(value * 100)::BIGINT)::BIGINT AS s
         FROM events GROUP BY 1, 2),
       tot AS (
         SELECT k, count(*)::BIGINT AS n, sum(s)::BIGINT AS stot
         FROM daily GROUP BY k),
       pre AS (
         SELECT d.k, d.day,
           row_number() OVER (PARTITION BY d.k ORDER BY d.day) AS n1,
           sum(d.s) OVER (PARTITION BY d.k ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
           t.n, t.stot
         FROM daily d JOIN tot t ON d.k = t.k),
       gains AS (
         SELECT k, day, n1, s1, n, stot,
           ((s1 * (n - n1) - (stot - s1) * n1)::DOUBLE
             * (s1 * (n - n1) - (stot - s1) * n1)::DOUBLE)
             / ((n1 * (n - n1) * n)::DOUBLE) AS gain
         FROM pre WHERE n1 < n),
       best AS (
         SELECT *, row_number() OVER (PARTITION BY k
           ORDER BY gain DESC, day) AS rn
         FROM gains)
       SELECT k AS event_type, n AS n_days, day AS split_day,
         round(gain, 4) + 0.0 AS gain,
         (sign(s1)::BIGINT * (abs(s1) * 1000000 // n1))::BIGINT
           AS mean_before_micro,
         (sign(stot - s1)::BIGINT
           * (abs(stot - s1) * 1000000 // (n - n1)))::BIGINT
           AS mean_after_micro
       FROM best WHERE rn = 1 ORDER BY event_type"""

  /** Mann–Kendall trend test on a per-key daily series: is the metric
    * monotonically drifting, without assuming linearity or normality?
    * S = Σ_{i<j} sgn(xⱼ − xᵢ) over time-ordered daily sums — the
    * hypothesis-test companion to [[theilSen]]'s robust slope (same
    * pair space; Theil–Sen says how steep, Mann–Kendall says whether
    * it's real).
    *
    * Exact integer algebra: daily sums are BIGINT cents, S is a BIGINT
    * sum of {−1,0,1}, and the tie-corrected variance NUMERATOR
    * var18 = N(N−1)(2N+5) − Σ_t t(t−1)(2t+5) (t = tie-group sizes) is
    * BIGINT — 18·Var(S). The continuity-corrected
    * z = (S − sgn(S))/√(var18/18) finishes through the repo's
    * correctly-rounded-IEEE path on exact integer inputs, rounded to 6;
    * degenerate variance (n < 2 or all days tied) ⇒ null.
    *
    * Scale: the pair space is the DAILY collapse squared — bounded by
    * the calendar (31 days ⇒ ≤465 pairs per key), never the corpus; the
    * corpus collapses once with map-side partials, and the self-join
    * shuffles calendar-sized relations hash-partitioned by key.
    */
  def mannKendall(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: Column): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"),
        dayId(col(tsCol).cast("timestamp"))
          .as("day"),
        floor(valueCol * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("day")).agg(sum(col("cents")).as("c"))
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.k") === col("b.k") && col("a.day") < col("b.day"))
      .groupBy(col("a.k").as("k"))
      .agg(sum(when(col("b.c") > col("a.c"), 1L)
        .when(col("b.c") < col("a.c"), -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy(col("k"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("k"))
      .agg(sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tie_term"))
    ties.join(pairs, "k")
      .select(col("k"), col("n_days"), col("s_stat"),
        (col("n_days") * (col("n_days") - 1L)
          * (lit(2L) * col("n_days") + 5L) - col("tie_term")).as("var18"))
      .withColumn("z",
        when(col("var18") > 0L,
          round((col("s_stat") - signum(col("s_stat"))) /
            sqrt(col("var18") / lit(18.0)), 6) + lit(0.0))
          .otherwise(lit(null).cast("double")))
  }

  // ---- q337: is any event type's daily volume drifting? -----------------------
  private def q337(s: SparkSession, d: String): DataFrame =
    mannKendall(Tables.events(s, d), "event_type", "ts", col("value"))
      .orderBy(col("k"))
  private val q337Sql =
    """WITH daily AS (
         SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
           sum(floor(value * 100)::BIGINT)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       pairs AS (
         SELECT a.k,
           sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
             ELSE 0 END)::BIGINT AS s_stat
         FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day
         GROUP BY 1),
       ties AS (
         SELECT k, sum(t)::BIGINT AS n_days,
           sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
         FROM (SELECT k, c, count(*)::BIGINT AS t FROM daily GROUP BY 1, 2)
         GROUP BY 1),
       j AS (
         SELECT ties.k, n_days, s_stat,
           (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)::BIGINT
             AS var18
         FROM ties JOIN pairs ON ties.k = pairs.k)
       SELECT k, n_days, s_stat, var18,
         CASE WHEN var18 > 0
           THEN round((s_stat - sign(s_stat)) / sqrt(var18 / 18.0), 6)
             + 0.0
           ELSE NULL END AS z
       FROM j ORDER BY k"""

  /** Durbin–Watson statistic on a per-key daily series: are the
    * mean-residuals serially correlated? DW ≈ 2 ⇒ independent noise,
    * → 0 ⇒ positive autocorrelation (momentum), → 4 ⇒ negative
    * (oscillation) — the residual-diagnostics companion to
    * [[autocorrelation]] (which reads the raw series; DW reads the
    * deviation-from-mean, the standard regression-residual form).
    *
    * Exact integer identity: with daily BIGINT cents c_t, mean
    * residuals e_t = c_t − S/n scale by n to integers E_t = n·c_t − S,
    * and DW = ΣΔE²/ΣE² = n·Σ(Δc)²/(n·Σc² − S²) — every term BIGINT,
    * the ×10⁶ product widened to decimal(38,0)/HUGEINT, one floored
    * division (numerator and denominator are nonnegative, so floor =
    * truncate on both engines). Constant series (zero variance) ⇒ null.
    *
    * Scale: one corpus collapse with map-side partials, a lag window
    * partitioned BY KEY over calendar days, one hash aggregation.
    */
  def durbinWatson(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: Column): DataFrame = {
    val daily = df
      .select(col(keyCol).as("k"),
        dayId(col(tsCol).cast("timestamp"))
          .as("day"),
        floor(valueCol * 100).cast("long").as("cents"))
      .groupBy(col("k"), col("day")).agg(sum(col("cents")).as("c"))
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
    daily.withColumn("prev", lag(col("c"), 1).over(w))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"),
        sum(when(col("prev").isNotNull,
          (col("c") - col("prev")) * (col("c") - col("prev")))
          .otherwise(0L)).as("sdd"))
      .withColumn("dw_micro",
        when(col("n_days") * col("ss") - col("s") * col("s") > 0L,
          expr("""cast(cast(sdd as decimal(38,0)) * n_days * 1000000L
              div (cast(n_days as decimal(38,0)) * ss
                - cast(s as decimal(38,0)) * s) as long)"""))
          .otherwise(lit(null).cast("long")))
  }

  // ---- q338: is daily event volume momentum or noise per type? ----------------
  private def q338(s: SparkSession, d: String): DataFrame =
    durbinWatson(Tables.events(s, d), "event_type", "ts", col("value"))
      .orderBy(col("k"))
  private val q338Sql =
    """WITH daily AS (
         SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
           sum(floor(value * 100)::BIGINT)::BIGINT AS c
         FROM events GROUP BY 1, 2),
       lagd AS (
         SELECT k, c,
           lag(c, 1) OVER (PARTITION BY k ORDER BY day) AS prev
         FROM daily),
       agg AS (
         SELECT k, count(*)::BIGINT AS n_days, sum(c)::BIGINT AS s,
           sum(c * c)::BIGINT AS ss,
           sum(CASE WHEN prev IS NOT NULL
             THEN (c - prev) * (c - prev) ELSE 0 END)::BIGINT AS sdd
         FROM lagd GROUP BY k)
       SELECT k, n_days, s, ss, sdd,
         CASE WHEN n_days * ss - s * s > 0
           THEN (sdd::HUGEINT * n_days * 1000000
             // (n_days::HUGEINT * ss - s::HUGEINT * s))::BIGINT
           ELSE NULL END::BIGINT AS dw_micro
       FROM agg ORDER BY k"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q337_mann_kendall", q337, Some(q337Sql)),
    QueryDef("q338_durbin_watson", q338, Some(q338Sql)),
    QueryDef("q340_nelson_aalen", q340, Some(q340Sql)),
    QueryDef("q341_holt_forecast", q341, Some(q341Sql)),
    QueryDef("q369_conformal_forecast", q369, Some(q369Sql)),
    QueryDef("q375_mann_kendall", q375, Some(q375Sql)),
    QueryDef("q376_seasonal_decompose", q376, Some(q376Sql)),
    QueryDef("q342_ewma_series", q342, Some(q342Sql)),
    QueryDef("q345_holt_winters", q345, Some(q345Sql)),
    QueryDef("q348_dtw_distance", q348, Some(q348Sql)),
    QueryDef("q349_croston", q349, Some(q349Sql)),
    QueryDef("q352_croston_sba", q352, Some(q352Sql)),
    QueryDef("q250_theil_sen", q250, Some(q250Sql)),
    QueryDef("q202_change_point", q202, Some(q202Sql)),
    QueryDef("q215_otsu_threshold", q215, Some(q215Sql)),
    QueryDef("q209_seasonal_backtest", q209, Some(q209Sql)),
    QueryDef("q218_burstiness", q218, Some(q218Sql)),
    QueryDef("q219_conversion_latency", q219, Some(q219Sql)),
    QueryDef("q212_cohort_ltv", q212, Some(q212Sql)),
    QueryDef("q223_yoy_growth", q223, Some(q223Sql)),
    QueryDef("q225_daily_mad_alerts", q225, Some(q225Sql)),
    QueryDef("q229_decile_table", q229, Some(q229Sql)),
    QueryDef("q231_ship_latency", q231, Some(q231Sql)),
    QueryDef("q233_dau_wau", q233, Some(q233Sql)),
    QueryDef("q235_session_conversion", q235, Some(q235Sql)),
    QueryDef("q242_new_returning", q242, Some(q242Sql)),
    QueryDef("q234_bounce_rate", q234, Some(q234Sql)),
    QueryDef("q232_rfm_segments", q232, Some(q232Sql)),
    QueryDef("q210_touch_attribution", q210, Some(q210Sql)),
    QueryDef("q205_weighted_median", q205, Some(q205Sql)),
    QueryDef("q197_decayed_score", q197, Some(q197Sql)),
    QueryDef("q46_posexplode", q46, Some(q46Sql)),
    QueryDef("q47_percentiles", q47, Some(q47Sql)),
    QueryDef("q57_approx_percentile", q57, Some(q57Sql)),
    QueryDef("q48_moment_stats", q48, Some(q48Sql)),
    QueryDef("q49_window_nav", q49, Some(q49Sql)),
    QueryDef("q50_range_frame", q50, Some(q50Sql)),
    QueryDef("q51_unpivot", q51, Some(q51Sql)),
    QueryDef("q52_multiset_ops", q52, Some(q52Sql)),
    QueryDef("q53_string_funcs", q53, Some(q53Sql)),
    QueryDef("q65_session_windows", q65, Some(q65Sql)),
    QueryDef("q66_funnel", q66, Some(q66Sql)),
    QueryDef("q75_retention", q75, Some(q75Sql)),
    QueryDef("q84_gap_fill", q84, Some(q84Sql)),
    QueryDef("q125_gap_interpolate", q125, Some(q125Sql)),
    QueryDef("q132_percentile_nosort", q132, Some(q132Sql)),
    QueryDef("q90_winsorize", q90, Some(q90Sql)),
    QueryDef("q97_time_weighted_avg", q97, Some(q97Sql)),
    QueryDef("q99_string_agg", q99, Some(q99Sql)),
    QueryDef("q100_hopping_windows", q100, Some(q100Sql)),
    QueryDef("q101_linear_trend", q101, Some(q101Sql)),
    QueryDef("q103_transition_matrix", q103, Some(q103Sql)),
    QueryDef("q266_markov_two_step", q266, Some(q266Sql)),
    QueryDef("q267_binary_ewma", q267, Some(q267Sql)),
    QueryDef("q273_frequent_triples", q273, Some(q273Sql)),
    QueryDef("q274_load_profile", q274, Some(q274Sql)),
    QueryDef("q278_qte", q278, Some(q278Sql)),
    QueryDef("q281_topk_others", q281, Some(q281Sql)),
    QueryDef("q283_iqr_outliers", q283, Some(q283Sql)),
    QueryDef("q284_rolling_corr", q284, Some(q284Sql)),
    QueryDef("q285_abc_xyz", q285, Some(q285Sql)),
    QueryDef("q292_ntile", q292, Some(q292Sql)),
    QueryDef("q296_anomaly_consensus", q296, Some(q296Sql)),
    QueryDef("q303_audience_overlap", q303, Some(q303Sql)),
    QueryDef("q306_price_volume", q306, Some(q306Sql)),
    QueryDef("q308_seasonal_index", q308, Some(q308Sql)),
    QueryDef("q312_lead_lag", q312, Some(q312Sql)),
    QueryDef("q317_kaplan_meier", q317, Some(q317Sql)),
    QueryDef("q323_diff_in_diff", q323, Some(q323Sql)),
    QueryDef("q325_logrank", q325, Some(q325Sql)),
    QueryDef("q383_cox_ph", q383, Some(q383Sql)),
    QueryDef("q390_yule_walker", q390, Some(q390Sql)),
    QueryDef("q400_cox_ph2", q400, Some(q400Sql)),
    QueryDef("q401_markov_perplexity", q401, Some(q401Sql)),
    QueryDef("q402_trimmed_mean", q402, Some(q402Sql)),
    QueryDef("q328_reorder_points", q328, Some(q328Sql)),
    QueryDef("q329_interp_quantiles", q329, Some(q329Sql)),
    QueryDef("q330_sql_calendar", q330, Some(q330Sql)),
    QueryDef("q324_cuped", q324, Some(q324Sql)),
    QueryDef("q313_asof_staleness", q313, Some(q313Sql)),
    QueryDef("q304_capture_recapture", q304, Some(q304Sql)),
    QueryDef("q305_day_overlap", q305, Some(q305Sql)),
    QueryDef("q104_rank_family", q104, Some(q104Sql)),
    QueryDef("q107_rolling_anomaly", q107, Some(q107Sql)),
    QueryDef("q116_concurrency_sweep", q116, Some(q116Sql)),
    QueryDef("q176_mad_anomaly", q176, Some(q176Sql)),
    QueryDef("q177_assoc_rules", q177, Some(q177Sql)),
    QueryDef("q178_topk_ties", q178, Some(q178Sql)),
    QueryDef("q179_abc_analysis", q179, Some(q179Sql)),
    QueryDef("q180_cusum_drift", q180, Some(q180Sql)),
    QueryDef("q184_event_sequences", q184, Some(q184Sql)),
    QueryDef("q185_seasonality", q185, Some(q185Sql)),
    QueryDef("q191_autocorrelation", q191, Some(q191Sql)))
}
