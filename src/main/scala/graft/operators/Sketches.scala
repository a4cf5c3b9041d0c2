package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketches with EXACT cross-engine algebra (SURVEY.md §2.6
  * north-star surface): count-min (heavy-hitter frequency bounds) and
  * HyperLogLog (distinct counts). Both are built from order-invariant
  * aggregations of deterministic integer hashes, which buys three
  * properties at once:
  *
  *  - mergeable: CMS cells ADD and HLL registers MAX — the partial states
  *    from any partitioning (or any pre-aggregated shard summaries)
  *    combine associatively, which is what makes a sketch usable as a
  *    map-side-partial aggregate at 100 TB (the corpus collapses to a
  *    depth×width / m-register table per partition before the exchange);
  *  - deterministic: the hash family is pairwise-independent polynomial
  *    hashing over the Mersenne prime 2^31−1 with fixed constants —
  *    pure BIGINT algebra, so any engine computes the identical sketch
  *    (no engine-local seeds, no float paths);
  *  - oracle-checkable: DuckDB reproduces every cell/register/estimate
  *    bit-for-bit, so the driver's hash gate covers the sketches like any
  *    exact operator.
  *
  * The one double appears in HLL's final estimate (α·m²·2^40/S): S is an
  * exact BIGINT (≤ 2^39, exactly representable), the constants are
  * literal, and both engines evaluate the identically-shaped expression —
  * one multiply chain and one correctly-rounded division — so even that
  * step is bit-stable.
  */
object Sketches {

  /** Mersenne prime 2^31 − 1: `(a·k + b) mod P` stays under 2^63 for any
    * a, k < P, so the polynomial hash never overflows a BIGINT. */
  private val P = 2147483647L

  /** Per-depth hash constants: an LCG step keeps them reproducible and
    * documented rather than magic. a_d is made odd-ish and nonzero by
    * construction (LCG of a positive seed mod a prime is never the full
    * pattern of zeros for d ≤ 7, asserted in SketchesSpec). */
  private def aExpr(d: String) = s"(1103515245L * ($d + 1) + 12345L) % ${P}L"
  private def bExpr(d: String) = s"(12345L * ($d + 1) + 67890L) % ${P}L"

  /** Non-negative canonical residue of the key. */
  private val ktExpr = s"((k % ${P}L) + ${P}L) % ${P}L"

  /** SQL twins of the above (DuckDB needs explicit ::BIGINT so the
    * multiply is not attempted in INT32). */
  private def aSql(d: String) = s"(1103515245::BIGINT * ($d + 1) + 12345) % 2147483647"
  private def bSql(d: String) = s"(12345::BIGINT * ($d + 1) + 67890) % 2147483647"
  private val ktSql = "((k % 2147483647) + 2147483647) % 2147483647"

  /** Count-min sketch cells of a key column: `(d, bucket, c)` for depth
    * rows × width buckets, c = Σ occurrences hashing there. The corpus
    * collapses map-side to ≤ depth·width partial rows per partition —
    * the ONLY thing the exchange carries. Cells are additive: summing
    * two datasets' cell tables IS the sketch of their union (spec'd).
    */
  def cmsCells(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, "need depth >= 1 and width >= 2")
    df.select(col(keyCol).cast("long").as("k"))
      .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("d"), expr(
        s"(((${aExpr("d")}) * ($ktExpr) + (${bExpr("d")})) % ${P}L) % $width")
        .as("bucket"))
      .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
  }

  /** Point estimates from a cell table: n̂(k) = min over depths of the
    * matching cell — ≥ the true count always, ≤ true + εN w.h.p. (the
    * classic CMS guarantee; both bounds are spec'd). The cell table is
    * depth·width rows — broadcast side of the probe join.
    */
  def cmsEstimate(cells: DataFrame, queries: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame =
    queries.select(col(keyCol).cast("long").as("k")).distinct()
      .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("k"), col("d"), expr(
        s"(((${aExpr("d")}) * ($ktExpr) + (${bExpr("d")})) % ${P}L) % $width")
        .as("bucket"))
      .join(broadcast(cells), Seq("d", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("c"), lit(0L))).as("n_cms"))
      .select(col("k").as(keyCol), col("n_cms"))

  /** Bloom-filter bit set of a key column: the distinct bit positions lit
    * by `numHashes` polynomial hashes of each distinct key over an
    * `mBits`-position filter — the engine's portable twin of the runtime
    * bloom join filter (RuntimeFilterSpec pins Spark's own): same
    * Mersenne-prime hash family as [[cmsCells]], so the bit set is
    * bit-identical on any engine/partitioning and UNION-mergeable
    * (bits(A ∪ B) = bits(A) ∪ bits(B) — distinct-of-union of the bit
    * relations, spec'd). The relation IS the filter: ≤ mBits rows cross
    * the wire regardless of corpus size, built with map-side distinct
    * partials.
    */
  def bloomBits(df: DataFrame, keyCol: String, numHashes: Int,
      mBits: Int): DataFrame = {
    require(numHashes >= 1 && mBits >= 2, "need numHashes >= 1, mBits >= 2")
    df.select(col(keyCol).cast("long").as("k")).distinct()
      .select(col("k"), explode(sequence(lit(0), lit(numHashes - 1))).as("d"))
      .select(expr(
        s"(((${aExpr("d")}) * ($ktExpr) + (${bExpr("d")})) % ${P}L) % $mBits")
        .as("bit"))
      .distinct()
  }

  /** One-row Bloom membership audit: probe every `probes` key against the
    * `members` Bloom filter and score the outcome against exact
    * membership — the acceptance report for sizing (m, k) before
    * shipping the filter into a semi-join. Guarantees surfaced as
    * columns: `n_missed` MUST be 0 (a Bloom filter has no false
    * negatives — spec-pinned), and `fpr_micro` is the measured false-
    * positive rate over the true non-members, the number the
    * (m, k)-sizing formula predicts.
    *
    * Scale: the filter is a ≤ mBits-row broadcast; probes hash map-side
    * and the hit count per key partial-aggregates below the exchange;
    * the exact-membership comparison is a broadcast left-semi shape on
    * distinct keys. All counts exact BIGINT; the one division is the
    * final micro floor.
    */
  def bloomAudit(members: DataFrame, probes: DataFrame, keyCol: String,
      numHashes: Int, mBits: Int): DataFrame = {
    val bits = bloomBits(members, keyCol, numHashes, mBits)
    val mem = members.select(col(keyCol).cast("long").as("k")).distinct()
    val pr = probes.select(col(keyCol).cast("long").as("k")).distinct()
    val flagged = pr
      .select(col("k"), explode(sequence(lit(0), lit(numHashes - 1))).as("d"))
      .select(col("k"), expr(
        s"(((${aExpr("d")}) * ($ktExpr) + (${bExpr("d")})) % ${P}L) % $mBits")
        .as("bit"))
      .join(broadcast(bits), Seq("bit"))
      .groupBy(col("k")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === numHashes)
      .select(col("k"), lit(1).as("f"))
    pr.join(flagged, Seq("k"), "left")
      .join(mem.withColumn("m", lit(1)), Seq("k"), "left")
      .agg(count(lit(1)).as("n_probes"),
        count(col("m")).as("n_members"),
        count(col("f")).as("n_flagged"),
        count(when(col("f").isNotNull && col("m").isNull, 1))
          .as("n_false_pos"),
        count(when(col("f").isNull && col("m").isNotNull, 1))
          .as("n_missed"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
      .select(col("n_bits_set"), col("n_probes"), col("n_members"),
        col("n_flagged"), col("n_false_pos"), col("n_missed"),
        when(col("n_probes") > col("n_members"),
          expr("n_false_pos * 1000000L div (n_probes - n_members)"))
          .otherwise(lit(0L)).as("fpr_micro"))
  }

  /** HyperLogLog registers over a key column: `(j, mj)` for m registers,
    * mj = max over observed keys of ρ(hash suffix) (0 for never-hit
    * registers — every register row is emitted, so the estimate sees
    * empties). The hash is 31-bit and log2(m) bits route the register, so
    * the suffix w is a (31−log2 m)-bit field and ρ = leading zeros within
    * THAT width + 1 = (32 − log2 m) − bitlength(w) — identical integer
    * arithmetic in both engines (`length(bin(w))`; the w = 0 corner lands
    * one below the conventional maximum, a 2^−(31−log2 m) probability
    * event with negligible bias, same on both sides). Registers are
    * max-mergeable.
    */
  /** Per-row (register, ρ) pairs before any aggregation — the shared
    * derivation under [[hllRegisters]] and the streaming register state
    * ([[graft.streaming.StreamingOps.hllStream]]), so batch and stream
    * provably hash identically.
    */
  private[graft] def hllObserved(df: DataFrame, keyCol: String, m: Int): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, "m must be a power of two >= 16")
    val log2m = java.lang.Integer.numberOfTrailingZeros(m)
    df.select(col(keyCol).cast("long").as("k"))
      .select(expr(s"((${aExpr("0")}) * ($ktExpr) + (${bExpr("0")})) % ${P}L")
        .as("h"))
      .select(expr(s"h % $m").as("j"),
        expr(s"${32 - log2m} - length(bin(h div $m))").as("rho"))
  }

  def hllRegisters(df: DataFrame, keyCol: String, m: Int): DataFrame = {
    val observed = hllObserved(df, keyCol, m)
      .groupBy(col("j")).agg(max(col("rho")).as("mj"))
    df.sparkSession.range(0, m).select(col("id").as("j"))
      .join(observed, Seq("j"), "left")
      .select(col("j"), coalesce(col("mj"), lit(0L)).as("mj"))
  }

  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  /** ln(m/V) for V = 1..m in integer micros, round-half-up — the
    * spec-pinned FIXED table both engines embed as literals. `ln` itself
    * is not cross-engine bit-stable (libm-dependent), but a table of m
    * precomputed integers is trivially so; this is what makes the
    * linear-counting branch oracle-checkable.
    */
  private def lnMicroTable(m: Int): IndexedSeq[Long] =
    (1 to m).map(v => math.round(math.log(m.toDouble / v) * 1e6))

  /** The small-range-corrected estimate from (raw, V) columns: when any
    * register is empty (V > 0) and the raw estimate sits in the biased
    * regime (raw ≤ 5m/2), linear counting E = m·ln(m/V) — via the integer
    * micro table — replaces it; otherwise the raw estimate stands.
    */
  private def hllCorrected(m: Int): org.apache.spark.sql.Column = {
    val arr = lnMicroTable(m).map(x => s"${x}L").mkString(",")
    when(col("V") > 0 && col("raw") * 2 <= lit(5L * m),
      expr(s"(${m}L * element_at(array($arr), cast(V as int))) div 1000000L"))
      .otherwise(col("raw")).as("hll_est")
  }

  /** The same correction as a SQL CASE over (raw, V) columns — textually
    * shared by every HLL oracle so the branch can never diverge. */
  private def hllCorrectedSql(m: Int): String = {
    val arr = lnMicroTable(m).mkString(",")
    s"""CASE WHEN V > 0 AND raw * 2 <= ${5L * m}
         THEN ($m::BIGINT * ([$arr])[V::INT]) // 1000000
         ELSE raw END"""
  }

  /** HLL estimate from a register table: raw E = α_m·m²·2^40 / S with
    * S = Σ_j 2^(40−mj) an exact BIGINT (shift arithmetic; mj ≤ 32 keeps
    * every term ≥ 2^8 and the sum ≤ m·2^40 « 2^63), plus the standard
    * small-range correction — linear counting m·ln(m/V) when V registers
    * are empty and raw ≤ 5m/2 — computed through the fixed integer-micro
    * ln table ([[lnMicroTable]]), so BOTH branches are cross-engine
    * bit-stable. Above the corrected regime the textbook ±1.04/√m error
    * applies, spec-bounded.
    */
  def hllEstimate(registers: DataFrame, m: Int): DataFrame =
    registers
      .agg(sum(expr("shiftleft(1L, cast(40 - mj as int))")).as("S"),
        count(when(col("mj") === 0, 1)).as("V"))
      .select(floor(lit(hllAlpha(m)) * lit(1099511627776.0)
        * lit(m.toLong * m) / col("S")).cast("long").as("raw"), col("V"))
      .select(hllCorrected(m))

  /** DDSketch-style log-binned quantile histogram of a POSITIVE integer
    * value column: bin = (e, sub) with e = bitlength(v) − 1 (the octave)
    * and sub = the top `subBits` mantissa bits — pure bit/integer
    * arithmetic (`length(bin(v))`, shifts, floor division), so the
    * sketch is bit-identical on any engine or partitioning, like
    * [[cmsCells]]. Bin counts ADD, so two datasets' bin tables sum into
    * the sketch of their union (spec'd) — the mergeable-quantile lever:
    * exact percentiles need a per-query shuffle of the value domain,
    * while this collapses any corpus to ≤ 63·2^subBits rows map-side,
    * and pre-aggregated shard summaries roll up by addition.
    *
    * `rep` is the bin's exact lower bound ((2^s + sub)·2^e / 2^s); a
    * quantile read returns the rep of the bin holding the nearest-rank
    * value, so the relative error is bounded by the in-bin width
    * 1/(2^s + sub) ≤ 2^−subBits. Rows with v < 1 are excluded (the
    * standard DDSketch positive-domain contract — count zeros
    * separately upstream).
    */
  def ddBins(df: DataFrame, valueCol: Column, subBits: Int): DataFrame = {
    require(subBits >= 1 && subBits <= 8, "subBits in [1, 8]")
    val s2 = 1L << subBits
    df.select(valueCol.cast("long").as("v"))
      .filter(col("v") >= 1L)
      .select(expr("length(bin(v)) - 1").as("e"), col("v"))
      .select(col("e"),
        expr(s"(v * ${s2}L) div shiftleft(1L, cast(e as int)) - ${s2}L")
          .as("sub"))
      .groupBy(col("e"), col("sub")).agg(count(lit(1)).as("c"))
      .select(col("e"), col("sub"),
        expr(s"((${s2}L + sub) * shiftleft(1L, cast(e as int))) div ${s2}L")
          .as("rep"),
        col("c"))
  }

  /** One-row quantile-accuracy audit of [[ddBins]]: for each requested
    * percentile, the sketch estimate (the rep of the first bin whose
    * cumulative count reaches the nearest rank) beside the exact
    * nearest-rank value, plus a boolean pinning the estimate inside the
    * sketch's relative-error bound (exact integer comparison
    * (exact − est)·2^s ≤ est + 2^s, the bin width plus floor slack).
    * The cumulative windows run over the ≤ 63·2^s bin relation and the
    * exact side's distinct-value collapse — the usual quantized-domain
    * discipline.
    */
  def ddQuantileAudit(df: DataFrame, valueCol: Column, subBits: Int,
      ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100))
    val s2 = 1L << subBits
    val vals = df.select(valueCol.cast("long").as("v")).filter(col("v") >= 1L)
    val wB = Window.orderBy(col("e"), col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBins = ddBins(vals, col("v"), subBits)
      .select(col("rep"), sum(col("c")).over(wB).as("cum"))
    val byV = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val wV = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumV = byV.select(col("v"), sum(col("c")).over(wV).as("cum"))
    val n = vals.agg(count(lit(1)).as("n"))
    val estAggs = ps.flatMap { p =>
      Seq(min(when(col("cum") * 100 >= col("n") * p, col("rep")))
        .as(s"p${p}_est"))
    }
    val exactAggs = ps.map { p =>
      min(when(col("cum") * 100 >= col("n") * p, col("v"))).as(s"p${p}_exact")
    }
    val est = cumBins.crossJoin(broadcast(n))
      .agg(estAggs.head, estAggs.tail: _*)
    val exact = cumV.crossJoin(broadcast(n))
      .agg(max(col("n")).as("n"), exactAggs: _*)
    exact.crossJoin(broadcast(est))
      .select(col("n") +: ps.flatMap { p =>
        Seq(col(s"p${p}_est"), col(s"p${p}_exact"),
          ((col(s"p${p}_exact") - col(s"p${p}_est")) * lit(s2) <=
            col(s"p${p}_est") + lit(s2)).as(s"p${p}_ok"))
      }: _*)
  }

  // ---- q248: mergeable log-binned quantile sketch vs exact percentiles ---------
  // Order-price cents through a subBits = 4 sketch (±1/16 relative
  // bound): the estimates sit beside the exact nearest-rank values with
  // the bound check IN the hashable row (the q36/q57 pattern), so the
  // driver gate proves both the bit-stable bin algebra and the accuracy
  // promise every round.
  private val DdSub = 4
  private def q248(s: SparkSession, d: String): DataFrame =
    ddQuantileAudit(Tables.orders(s, d),
      floor(col("o_totalprice") * 100), DdSub, Seq(50, 90, 99))
  /** Per-group sketch quantiles from [[ddBins]] bins: for each group and
    * requested percentile, the representative of the first bin whose
    * cumulative count reaches the nearest rank — per-group p50/p95/p99
    * with NO per-group sort of the data: the corpus collapses once to
    * ≤ 63·2^s bins per group, the cumulative window runs over that
    * bounded bin relation, and (because the bins are additive) the same
    * table can be rolled up from per-shard summaries that never met.
    * Estimates carry the sketch's relative-error bound (q248 audits it).
    *
    * Scale design: one (group, bin) collapse with map-side partials; the
    * window and the per-p argmins all run on the bounded bin relation.
    */
  def ddQuantilesBy(df: DataFrame, groupCol: Column, valueCol: Column,
      subBits: Int, ps: Seq[Int]): DataFrame = {
    require(subBits >= 1 && subBits <= 8, "subBits in [1, 8]")
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100))
    val s2 = 1L << subBits
    val bins = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("v") >= 1L)
      .select(col("g"), expr("length(bin(v)) - 1").as("e"), col("v"))
      .select(col("g"), col("e"),
        expr(s"(v * ${s2}L) div shiftleft(1L, cast(e as int)) - ${s2}L")
          .as("sub"))
      .groupBy(col("g"), col("e"), col("sub")).agg(count(lit(1)).as("c"))
      .withColumn("rep",
        expr(s"((${s2}L + sub) * shiftleft(1L, cast(e as int))) div ${s2}L"))
    val w = Window.partitionBy(col("g")).orderBy(col("e"), col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    val aggs = max(col("n")).as("n") +: ps.map(p =>
      min(when(col("cum") * 100 >= col("n") * p, col("rep"))).as(s"est$p"))
    val stackArgs = ps.flatMap(p => Seq(lit(p.toLong), col(s"est$p")))
    cum.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
      .select(col("g"), col("n"),
        stack((lit(ps.length) +: stackArgs): _*).as(Seq("p", "est")))
  }

  // ---- q294: per-event-type latency quantiles, sketch-side --------------------
  private def q294(s: SparkSession, d: String): DataFrame =
    ddQuantilesBy(graft.Tables.events(s, d), col("event_type"),
        floor(col("value") * 100), DdSub, Seq(50, 90, 99))
      .orderBy(col("g"), col("p"))
  private val q294Sql = {
    val s2 = 1L << DdSub
    s"""WITH vals AS (
         SELECT event_type AS g, floor(value * 100)::BIGINT AS v FROM events
         WHERE floor(value * 100) >= 1),
       bins AS (
         SELECT g, e, (v * $s2) // (1::BIGINT << e::INT) - $s2 AS sub,
           count(*)::BIGINT AS c
         FROM (SELECT g, length(bin(v)) - 1 AS e, v FROM vals) t
         GROUP BY 1, 2, 3),
       cumb AS (
         SELECT g, (($s2 + sub) * (1::BIGINT << e::INT)) // $s2 AS rep,
           sum(c) OVER (PARTITION BY g ORDER BY e, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY g) AS n
         FROM bins),
       wide AS (
         SELECT g, max(n)::BIGINT AS n,
           min(CASE WHEN cum * 100 >= n * 50 THEN rep END)::BIGINT AS est50,
           min(CASE WHEN cum * 100 >= n * 90 THEN rep END)::BIGINT AS est90,
           min(CASE WHEN cum * 100 >= n * 99 THEN rep END)::BIGINT AS est99
         FROM cumb GROUP BY g)
       SELECT g, n, p, est FROM (
         SELECT g, n, 50::BIGINT AS p, est50 AS est FROM wide
         UNION ALL SELECT g, n, 90, est90 FROM wide
         UNION ALL SELECT g, n, 99, est99 FROM wide)
       ORDER BY g, p"""
  }

  // ---- q297: weekly p50/p95 value trend — the percentile-over-time view -------
  // The same per-group sketch machinery with TIME as the group: weekly
  // quantile trends with no per-week sort, rolled up from mergeable
  // bins — the latency-dashboard shape at any scale.
  private def q297(s: SparkSession, d: String): DataFrame =
    ddQuantilesBy(graft.Tables.events(s, d),
        expr("unix_micros(ts) div 604800000000"),
        floor(col("value") * 100), DdSub, Seq(50, 95))
      .orderBy(col("g"), col("p"))
  private val q297Sql = {
    val s2 = 1L << DdSub
    s"""WITH vals AS (
         SELECT epoch_us(ts) // 604800000000 AS g,
           floor(value * 100)::BIGINT AS v FROM events
         WHERE floor(value * 100) >= 1),
       bins AS (
         SELECT g, e, (v * $s2) // (1::BIGINT << e::INT) - $s2 AS sub,
           count(*)::BIGINT AS c
         FROM (SELECT g, length(bin(v)) - 1 AS e, v FROM vals) t
         GROUP BY 1, 2, 3),
       cumb AS (
         SELECT g, (($s2 + sub) * (1::BIGINT << e::INT)) // $s2 AS rep,
           sum(c) OVER (PARTITION BY g ORDER BY e, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY g) AS n
         FROM bins),
       wide AS (
         SELECT g, max(n)::BIGINT AS n,
           min(CASE WHEN cum * 100 >= n * 50 THEN rep END)::BIGINT AS est50,
           min(CASE WHEN cum * 100 >= n * 95 THEN rep END)::BIGINT AS est95
         FROM cumb GROUP BY g)
       SELECT g, n, p, est FROM (
         SELECT g, n, 50::BIGINT AS p, est50 AS est FROM wide
         UNION ALL SELECT g, n, 95, est95 FROM wide)
       ORDER BY g, p"""
  }

  private val q248Sql = {
    val s2 = 1L << DdSub
    s"""WITH vals AS (
         SELECT floor(o_totalprice * 100)::BIGINT AS v FROM orders
         WHERE floor(o_totalprice * 100) >= 1),
       bins AS (
         SELECT e, (v * $s2) // (1::BIGINT << e::INT) - $s2 AS sub,
           count(*)::BIGINT AS c
         FROM (SELECT length(bin(v)) - 1 AS e, v FROM vals) t
         GROUP BY 1, 2),
       cumb AS (
         SELECT (($s2 + sub) * (1::BIGINT << e::INT)) // $s2 AS rep,
           sum(c) OVER (ORDER BY e, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM bins),
       byv AS (SELECT v, count(*)::BIGINT AS c FROM vals GROUP BY v),
       cumv AS (
         SELECT v, sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM byv),
       n AS (SELECT count(*)::BIGINT AS n FROM vals),
       est AS (
         SELECT min(CASE WHEN cum * 100 >= n * 50 THEN rep END)::BIGINT AS p50_est,
           min(CASE WHEN cum * 100 >= n * 90 THEN rep END)::BIGINT AS p90_est,
           min(CASE WHEN cum * 100 >= n * 99 THEN rep END)::BIGINT AS p99_est
         FROM cumb, n),
       ext AS (
         SELECT max(n)::BIGINT AS n,
           min(CASE WHEN cum * 100 >= n * 50 THEN v END)::BIGINT AS p50_exact,
           min(CASE WHEN cum * 100 >= n * 90 THEN v END)::BIGINT AS p90_exact,
           min(CASE WHEN cum * 100 >= n * 99 THEN v END)::BIGINT AS p99_exact
         FROM cumv, n)
       SELECT n, p50_est, p50_exact,
         ((p50_exact - p50_est) * $s2 <= p50_est + $s2) AS p50_ok,
         p90_est, p90_exact,
         ((p90_exact - p90_est) * $s2 <= p90_est + $s2) AS p90_ok,
         p99_est, p99_exact,
         ((p99_exact - p99_est) * $s2 <= p99_est + $s2) AS p99_ok
       FROM ext CROSS JOIN est"""
  }

  /** Sketch-level distribution drift: the maximum empirical-CDF gap
    * between two populations computed ENTIRELY from their [[ddBins]]
    * summaries — the KS statistic at bin resolution (exact over the bin
    * grid; the within-bin remainder is bounded by the larger side's bin
    * mass). This is the 100-TB drift gate: [[Profile.ksTest]] collapses
    * both populations to distinct values (corpus-sized for continuous
    * domains), while two mergeable ≤ 63·2^s-row bin tables — possibly
    * rolled up from per-shard summaries that never met — answer the
    * same question in O(bins).
    *
    * Exact algebra: the gap |cumA·nB − cumB·nA| is maximized on BIGINTs
    * over the shared bin grid (argmax ties to the lowest rep boundary);
    * one final micro floor. Emits the gap's bin boundary — WHERE the
    * distributions diverge most.
    */
  def ddDrift(binsA: DataFrame, binsB: DataFrame): DataFrame = {
    val merged = binsA.select(col("e"), col("sub"), col("rep"),
        col("c").as("ca"), lit(0L).as("cb"))
      .unionByName(binsB.select(col("e"), col("sub"), col("rep"),
        lit(0L).as("ca"), col("c").as("cb")))
      .groupBy(col("e"), col("sub"), col("rep"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
    val w = Window.orderBy(col("e"), col("sub"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = merged.select(col("rep"),
        sum(col("ca")).over(w).as("c1"), sum(col("cb")).over(w).as("c2"))
      .crossJoin(broadcast(merged.agg(sum(col("ca")).as("n_a"),
        sum(col("cb")).as("n_b"))))
    cum
      .select(col("n_a"), col("n_b"), col("rep"),
        abs(col("c1") * col("n_b") - col("c2") * col("n_a")).as("gap"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(struct(col("gap"), (-col("rep")).as("negrep"), col("rep")))
        .as("bst"))
      .select(col("n_a"), col("n_b"), col("bst.rep").as("drift_at_rep"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("long"))
          .otherwise(expr("bst.gap * 1000000L div (n_a * n_b)"))
          .as("ks_micro"))
  }

  // ---- q261: open-vs-fulfilled price drift from two mergeable sketches ---------
  // The q199 question (do O and F order prices distribute differently?)
  // answered WITHOUT touching distinct values: two bin tables in, one
  // row out. The oracle replays the bin algebra bit-for-bit.
  private def q261(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def side(status: String) = ddBins(
      o.filter(col("o_orderstatus") === status)
        .select(floor(col("o_totalprice") * 100).as("v")),
      col("v"), DdSub)
    ddDrift(side("O"), side("F"))
  }
  private val q261Sql = {
    val s2 = 1L << DdSub
    def sideCte(name: String, status: String) =
      s"""$name AS (
         SELECT e, (v * $s2) // (1::BIGINT << e::INT) - $s2 AS sub,
           count(*)::BIGINT AS c
         FROM (SELECT length(bin(v)) - 1 AS e, v FROM (
           SELECT floor(o_totalprice * 100)::BIGINT AS v FROM orders
           WHERE o_orderstatus = '$status'
             AND floor(o_totalprice * 100) >= 1))
         GROUP BY 1, 2)"""
    s"""WITH ${sideCte("ba", "O")},
       ${sideCte("bb", "F")},
       merged AS (
         SELECT e, sub,
           (($s2 + sub) * (1::BIGINT << e::INT)) // $s2 AS rep,
           sum(ca)::BIGINT AS ca, sum(cb)::BIGINT AS cb
         FROM (
           SELECT e, sub, c AS ca, 0 AS cb FROM ba
           UNION ALL SELECT e, sub, 0, c FROM bb)
         GROUP BY 1, 2),
       cum AS (
         SELECT rep,
           sum(ca) OVER (ORDER BY e, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
           sum(cb) OVER (ORDER BY e, sub
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
           (SELECT sum(ca) FROM merged) AS n_a,
           (SELECT sum(cb) FROM merged) AS n_b
         FROM merged),
       ranked AS (
         SELECT n_a, n_b, rep,
           abs(c1 * n_b - c2 * n_a) AS gap,
           row_number() OVER (ORDER BY abs(c1 * n_b - c2 * n_a) DESC,
             rep) AS rn
         FROM cum)
       SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
         rep::BIGINT AS drift_at_rep,
         CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
           ELSE (gap * 1000000 // (n_a * n_b)) END::BIGINT AS ks_micro
       FROM ranked WHERE rn = 1"""
  }

  // ---- q167: CMS frequency bounds for the heaviest event users -----------------
  // The exact per-user counts beside their CMS estimates (depth 4 ×
  // width 128): the driver gate proves the sketch arithmetic bit-equal in
  // both engines, and est >= exact on every row proves the one-sided
  // error bound on real data (SketchesSpec pins it adversarially).
  private val CmsDepth = 4
  private val CmsWidth = 128
  private def q167(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(10)
    val cells = cmsCells(ev, "user_id", CmsDepth, CmsWidth)
    exact.join(cmsEstimate(cells, exact, "user_id", CmsDepth, CmsWidth),
        Seq("user_id"))
      .select(col("user_id"), col("n_exact"), col("n_cms"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }
  private val q167Sql =
    s"""WITH exact AS (
         SELECT user_id, count(*)::BIGINT AS n_exact FROM events
         GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 10),
       hashed AS (
         SELECT k, d,
           ((((${aSql("d")}) * ($ktSql) + (${bSql("d")})) % 2147483647)
             % $CmsWidth) AS bucket
         FROM (SELECT user_id AS k FROM events) t,
           (SELECT unnest(range(0, $CmsDepth)) AS d)),
       cells AS (
         SELECT d, bucket, count(*)::BIGINT AS c FROM hashed GROUP BY 1, 2),
       probe AS (
         SELECT k, d,
           ((((${aSql("d")}) * ($ktSql) + (${bSql("d")})) % 2147483647)
             % $CmsWidth) AS bucket
         FROM (SELECT DISTINCT user_id AS k FROM exact) q,
           (SELECT unnest(range(0, $CmsDepth)) AS d)),
       est AS (
         SELECT k AS user_id, min(coalesce(c, 0))::BIGINT AS n_cms
         FROM probe LEFT JOIN cells USING (d, bucket) GROUP BY k)
       SELECT user_id, n_exact, n_cms
       FROM exact JOIN est USING (user_id)
       ORDER BY n_exact DESC, user_id"""

  // ---- q168: HLL distinct-count estimate vs exact ------------------------------
  // event_id over events (every row distinct — deep in the raw-estimate
  // regime for m = 64, where no small-range correction applies). The
  // relative error lands within the ±1.04/√m envelope; err_micro makes
  // the gap an exact integer the gate can hash.
  private val HllM = 64
  private def q168(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val exact = ev.agg(countDistinct(col("event_id")).as("n_exact"))
    val est = hllEstimate(hllRegisters(ev, "event_id", HllM), HllM)
    exact.crossJoin(est)
      .select(lit(HllM).cast("long").as("m"), col("n_exact"), col("hll_est"),
        expr("abs(hll_est - n_exact) * 1000000L div n_exact").as("err_micro"))
  }
  private val q168Sql =
    s"""WITH h AS (
         SELECT (((${aSql("0")}) * ($ktSql) + (${bSql("0")}))
           % 2147483647) AS h
         FROM (SELECT event_id AS k FROM events) t),
       observed AS (
         SELECT h % $HllM AS j,
           max(${32 - 6} - length(bin(h // $HllM))) AS rho
         FROM h GROUP BY 1),
       regs AS (
         SELECT r.j, coalesce(o.rho, 0) AS mj
         FROM (SELECT unnest(range(0, $HllM)) AS j) r
         LEFT JOIN observed o ON r.j = o.j),
       s AS (SELECT sum(1::BIGINT << (40 - mj)::INT)::BIGINT AS S,
               count(*) FILTER (WHERE mj = 0)::BIGINT AS V FROM regs),
       rawe AS (
         SELECT floor(0.709::DOUBLE * 1099511627776.0::DOUBLE
           * ${HllM.toLong * HllM} / S)::BIGINT AS raw, V FROM s),
       est AS (
         SELECT (${hllCorrectedSql(HllM)})::BIGINT AS hll_est FROM rawe),
       exact AS (
         SELECT count(DISTINCT event_id)::BIGINT AS n_exact FROM events)
       SELECT $HllM::BIGINT AS m, n_exact, hll_est,
         (abs(hll_est - n_exact) * 1000000 // n_exact)::BIGINT AS err_micro
       FROM exact CROSS JOIN est"""

  // ---- q247: HLL small-range correction on a tiny-cardinality key --------------
  // user_id % 23 has ~23 distinct values against m = 64 registers — deep
  // in the regime where the raw harmonic estimate is known-biased and the
  // linear-counting branch (m·ln(m/V) via the fixed integer ln table)
  // must fire. The gate proves the corrected branch bit-equal in both
  // engines; SketchesSpec pins that the correction lands far closer to
  // the truth than the raw estimate it replaces.
  private def q247(s: SparkSession, d: String): DataFrame = {
    val small = Tables.events(s, d).select((col("user_id") % 23).as("k"))
    val exact = small.agg(countDistinct(col("k")).as("n_exact"))
    val est = hllEstimate(hllRegisters(small, "k", HllM), HllM)
    exact.crossJoin(est)
      .select(lit(HllM).cast("long").as("m"), col("n_exact"), col("hll_est"),
        expr("abs(hll_est - n_exact) * 1000000L div n_exact").as("err_micro"))
  }
  private val q247Sql =
    s"""WITH h AS (
         SELECT (((${aSql("0")}) * ($ktSql) + (${bSql("0")}))
           % 2147483647) AS h
         FROM (SELECT user_id % 23 AS k FROM events) t),
       observed AS (
         SELECT h % $HllM AS j,
           max(${32 - 6} - length(bin(h // $HllM))) AS rho
         FROM h GROUP BY 1),
       regs AS (
         SELECT r.j, coalesce(o.rho, 0) AS mj
         FROM (SELECT unnest(range(0, $HllM)) AS j) r
         LEFT JOIN observed o ON r.j = o.j),
       s AS (SELECT sum(1::BIGINT << (40 - mj)::INT)::BIGINT AS S,
               count(*) FILTER (WHERE mj = 0)::BIGINT AS V FROM regs),
       rawe AS (
         SELECT floor(0.709::DOUBLE * 1099511627776.0::DOUBLE
           * ${HllM.toLong * HllM} / S)::BIGINT AS raw, V FROM s),
       est AS (
         SELECT (${hllCorrectedSql(HllM)})::BIGINT AS hll_est FROM rawe),
       exact AS (
         SELECT count(DISTINCT user_id % 23)::BIGINT AS n_exact FROM events)
       SELECT $HllM::BIGINT AS m, n_exact, hll_est,
         (abs(hll_est - n_exact) * 1000000 // n_exact)::BIGINT AS err_micro
       FROM exact CROSS JOIN est"""

  /** Join-size estimation from two CMS cell tables over the SAME hash
    * family: E_d = Σ_b a[d,b]·b[d,b] per depth, estimate = min over
    * depths — the inner-product identity (AMS/CMS): colliding keys only
    * ADD phantom pairs, so every per-depth product over-counts and the
    * min is a one-sided upper bound on the true equi-join cardinality
    * |A ⨝ B| = Σ_k cntA(k)·cntB(k), tightening with width.
    *
    * The 100-TB use: answer "how big would this join be?" from two
    * depth×width summaries — BEFORE committing the cluster to a shuffle
    * that might produce 10¹⁴ rows. Cells are the additive partials the
    * CMS already maintains, so the estimate composes with incremental
    * maintenance (union = cell sum) for free; the estimate itself joins
    * two depth·width-row relations — driver-trivial at any corpus size.
    *
    * Exactness: pure BIGINT products and sums (bound: Σ a·b per depth
    * ≤ |A|·|B| — keep the PRODUCT of relation sizes under 2⁶³, or
    * estimate on sampled cells).
    */
  def cmsJoinSize(aCells: DataFrame, bCells: DataFrame): DataFrame =
    aCells.select(col("d"), col("bucket"), col("c").as("ca"))
      .join(bCells.select(col("d"), col("bucket"), col("c").as("cb")),
        Seq("d", "bucket"))
      .groupBy(col("d")).agg(sum(col("ca") * col("cb")).as("e"))
      .agg(min(col("e")).as("join_est"))

  // ---- q190: join cardinality estimated from sketches vs the true count -------
  // |events.user_id ⨝ orders.o_custkey| — the fact-to-fact join a planner
  // would want sized in advance. Both sketches share the q167 hash
  // family; over_micro quantifies the collision tax at width 256.
  private val JoinW = 256
  private def q190(s: SparkSession, d: String): DataFrame = {
    val a = cmsCells(Tables.events(s, d), "user_id", CmsDepth, JoinW)
    val b = cmsCells(Tables.orders(s, d), "o_custkey", CmsDepth, JoinW)
    val exact = Tables.events(s, d).select(col("user_id").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("na"))
      .join(Tables.orders(s, d).select(col("o_custkey").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("nb")), Seq("k"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("n_exact"))
    exact.crossJoin(cmsJoinSize(a, b))
      .select(col("n_exact"), col("join_est"),
        expr("(join_est - n_exact) * 1000000L div n_exact").as("over_micro"))
  }
  private def q190Sql =
    s"""WITH ha AS (
         SELECT k, d,
           ((((${aSql("d")}) * ($ktSql) + (${bSql("d")})) % 2147483647)
             % $JoinW) AS bucket
         FROM (SELECT user_id AS k FROM events) t,
           (SELECT unnest(range(0, $CmsDepth)) AS d)),
       ca AS (SELECT d, bucket, count(*)::BIGINT AS ca FROM ha GROUP BY 1, 2),
       hb AS (
         SELECT k, d,
           ((((${aSql("d")}) * ($ktSql) + (${bSql("d")})) % 2147483647)
             % $JoinW) AS bucket
         FROM (SELECT o_custkey AS k FROM orders) t,
           (SELECT unnest(range(0, $CmsDepth)) AS d)),
       cb AS (SELECT d, bucket, count(*)::BIGINT AS cb FROM hb GROUP BY 1, 2),
       est AS (
         SELECT min(e)::BIGINT AS join_est FROM (
           SELECT a.d, sum(a.ca * b.cb) AS e
           FROM ca a JOIN cb b ON a.d = b.d AND a.bucket = b.bucket
           GROUP BY a.d)),
       ex AS (
         SELECT coalesce(sum(na * nb), 0)::BIGINT AS n_exact FROM (
           SELECT k, count(*)::BIGINT AS na FROM (SELECT user_id AS k FROM events) GROUP BY 1) a
           JOIN (
           SELECT k, count(*)::BIGINT AS nb FROM (SELECT o_custkey AS k FROM orders) GROUP BY 1) b
           USING (k))
       SELECT n_exact, join_est,
         ((join_est - n_exact) * 1000000 // n_exact)::BIGINT AS over_micro
       FROM ex CROSS JOIN est"""

  // ---- q198: Bloom membership audit of early customers ------------------------
  // The filter-sizing acceptance run: customers with a first-month order
  // become the member set; every customer is probed. n_missed must be 0
  // (no false negatives); fpr_micro is what (m, k) sizing predicts.
  private val BloomK = 3
  private val BloomM = 8192
  private def q198(s: SparkSession, d: String): DataFrame =
    bloomAudit(
      Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .select(col("o_custkey").as("cust")),
      Tables.customer(s, d).select(col("c_custkey").as("cust")),
      "cust", BloomK, BloomM)
  private def q198Sql =
    s"""WITH mem AS (
         SELECT DISTINCT o_custkey AS k FROM orders
         WHERE o_orderdate < TIMESTAMP '1995-02-01'),
       pr AS (SELECT DISTINCT c_custkey AS k FROM customer),
       ds AS (SELECT unnest(range(0, $BloomK)) AS d),
       bits AS (
         SELECT DISTINCT ((((${aSql("d")}) * ($ktSql) + (${bSql("d")}))
           % 2147483647) % $BloomM) AS bit
         FROM mem, ds),
       pbits AS (
         SELECT k, ((((${aSql("d")}) * ($ktSql) + (${bSql("d")}))
           % 2147483647) % $BloomM) AS bit
         FROM pr, ds),
       flagged AS (
         SELECT k FROM (
           SELECT p.k, count(b.bit)::BIGINT AS hits
           FROM pbits p LEFT JOIN bits b ON p.bit = b.bit
           GROUP BY p.k) t
         WHERE hits = $BloomK),
       audit AS (
         SELECT p.k, (f.k IS NOT NULL) AS fl, (m.k IS NOT NULL) AS mm
         FROM pr p LEFT JOIN flagged f ON p.k = f.k
           LEFT JOIN mem m ON p.k = m.k)
       SELECT (SELECT count(*) FROM bits)::BIGINT AS n_bits_set,
         count(*)::BIGINT AS n_probes,
         count(*) FILTER (WHERE mm)::BIGINT AS n_members,
         count(*) FILTER (WHERE fl)::BIGINT AS n_flagged,
         count(*) FILTER (WHERE fl AND NOT mm)::BIGINT AS n_false_pos,
         count(*) FILTER (WHERE mm AND NOT fl)::BIGINT AS n_missed,
         CASE WHEN count(*) > count(*) FILTER (WHERE mm)
           THEN (count(*) FILTER (WHERE fl AND NOT mm) * 1000000
             // (count(*) - count(*) FILTER (WHERE mm)))::BIGINT
           ELSE 0 END AS fpr_micro
       FROM audit"""

  /** Per-group HLL registers: `(group, j, mj)` with the full m-register
    * spine emitted for EVERY group (a group × register cross of two tiny
    * relations), so estimates and merges see empty registers. The point
    * of grouping sketches instead of exact-counting per group: the corpus
    * collapses map-side to |groups|·m rows — the same wire cost however
    * many distinct keys each group holds — and any rollup of groups is a
    * register-wise MAX, never a re-scan (demonstrated by q181's merged
    * row).
    */
  def hllRegistersBy(df: DataFrame, groupCol: String, keyCol: String,
      m: Int): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, "m must be a power of two >= 16")
    val log2m = java.lang.Integer.numberOfTrailingZeros(m)
    val observed = df
      .select(col(groupCol).as("g"), col(keyCol).cast("long").as("k"))
      .select(col("g"),
        expr(s"((${aExpr("0")}) * ($ktExpr) + (${bExpr("0")})) % ${P}L").as("h"))
      .select(col("g"), expr(s"h % $m").as("j"),
        expr(s"${32 - log2m} - length(bin(h div $m))").as("rho"))
      .groupBy(col("g"), col("j")).agg(max(col("rho")).as("mj"))
    df.select(col(groupCol).as("g")).distinct()
      .crossJoin(df.sparkSession.range(0, m).select(col("id").as("j")))
      .join(observed, Seq("g", "j"), "left")
      .select(col("g").as(groupCol), col("j"),
        coalesce(col("mj"), lit(0L)).as("mj"))
  }

  /** Per-group estimates from a grouped register table (the
    * [[hllEstimate]] arithmetic, one row per group — small-range
    * correction included; small groups are exactly where it matters). */
  def hllEstimateBy(registers: DataFrame, groupCol: String, m: Int): DataFrame =
    registers.groupBy(col(groupCol))
      .agg(sum(expr("shiftleft(1L, cast(40 - mj as int))")).as("S"),
        count(when(col("mj") === 0, 1)).as("V"))
      .select(col(groupCol),
        floor(lit(hllAlpha(m)) * lit(1099511627776.0) * lit(m.toLong * m)
          / col("S")).cast("long").as("raw"), col("V"))
      .select(col(groupCol), hllCorrected(m))

  // ---- q181: per-group HLL + register-merge rollup ----------------------------
  // Distinct users per event type, sketched per group, PLUS an `__all__`
  // row whose registers are the MAX over the groups' registers — the
  // merge law in-query: the rollup never touches the events again, and
  // must equal the sketch built directly over the union (both engines
  // compute it from the same grouped table). Exact distinct counts ride
  // along per row for the error-envelope read.
  private def q181(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val regs = hllRegistersBy(ev, "event_type", "user_id", HllM)
    val perGroup = hllEstimateBy(regs, "event_type", HllM)
      .join(ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact")), Seq("event_type"))
    val merged = hllEstimateBy(
        regs.groupBy(col("j")).agg(max(col("mj")).as("mj"))
          .select(lit("__all__").as("event_type"), col("j"), col("mj")),
        "event_type", HllM)
      .join(ev.agg(countDistinct(col("user_id")).as("n_exact"))
        .select(lit("__all__").as("event_type"), col("n_exact")), Seq("event_type"))
    perGroup.unionByName(merged)
      .select(col("event_type"), col("n_exact"), col("hll_est"))
      .orderBy(col("event_type"))
  }
  private val q181Sql =
    s"""WITH h AS (
         SELECT event_type AS g,
           (((${aSql("0")}) * ($ktSql) + (${bSql("0")}))
             % 2147483647) AS h
         FROM (SELECT event_type, user_id AS k FROM events) t),
       observed AS (
         SELECT g, h % $HllM AS j,
           max(${32 - 6} - length(bin(h // $HllM))) AS rho
         FROM h GROUP BY 1, 2),
       spine AS (
         SELECT g, j FROM (SELECT DISTINCT g FROM h),
           (SELECT unnest(range(0, $HllM)) AS j)),
       regs AS (
         SELECT s.g, s.j, coalesce(o.rho, 0) AS mj
         FROM spine s LEFT JOIN observed o ON s.g = o.g AND s.j = o.j),
       allregs AS (
         SELECT '__all__' AS g, j, max(mj) AS mj FROM regs GROUP BY j),
       est AS (
         SELECT g, (${hllCorrectedSql(HllM)})::BIGINT AS hll_est FROM (
           SELECT g, floor(0.709::DOUBLE * 1099511627776.0::DOUBLE
               * ${HllM.toLong * HllM}
               / sum(1::BIGINT << (40 - mj)::INT))::BIGINT AS raw,
             count(*) FILTER (WHERE mj = 0)::BIGINT AS V
           FROM (SELECT * FROM regs UNION ALL SELECT * FROM allregs)
           GROUP BY g)),
       exact AS (
         SELECT event_type AS g, count(DISTINCT user_id)::BIGINT AS n_exact
         FROM events GROUP BY 1
         UNION ALL
         SELECT '__all__', count(DISTINCT user_id)::BIGINT FROM events)
       SELECT e.g AS event_type, x.n_exact, e.hll_est
       FROM est e JOIN exact x ON e.g = x.g ORDER BY event_type"""

  /** One-pass multi-column distinct-cardinality profile: HLL registers
    * for EVERY named column from a single scan — the profiling shape
    * that survives 100 TB. Exact per-column distinct counts each cost a
    * corpus-wide distinct shuffle (or one Expand-multiplied pass); here
    * the corpus stacks to (column, value) rows map-side, values key
    * through the cross-engine [[graft.functions.PolyHash]] rolling hash
    * (any type, via its string form), and the only exchange carries
    * |columns|·m register rows. Estimates get the [[hllEstimate]]
    * small-range correction, so low-cardinality columns (statuses,
    * flags) read accurately next to id columns.
    *
    * The audit columns (`n_exact`, `err_micro`) re-derive the true
    * distinct counts for the acceptance read — at corpus scale a caller
    * drops them and keeps the register-only pass.
    */
  def hllColumnProfile(df: DataFrame, columns: Seq[String],
      m: Int): DataFrame = {
    require(columns.nonEmpty, "need at least one column")
    val stackExpr = s"stack(${columns.size}, " +
      columns.map(c => s"'$c', cast(`$c` as string)").mkString(", ") +
      ") as (col_name, sval)"
    val stacked = df.selectExpr(stackExpr).filter(col("sval").isNotNull)
    val keyed = stacked.select(col("col_name"),
      graft.functions.TextFunctions.polyHash(col("sval")).as("k"))
    val est = hllEstimateBy(
      hllRegistersBy(keyed, "col_name", "k", m), "col_name", m)
    val exact = stacked.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_nonnull"),
        countDistinct(col("sval")).as("n_exact"))
    exact.join(est, Seq("col_name"))
      .select(col("col_name"), col("n_nonnull"), col("n_exact"),
        col("hll_est"),
        expr("abs(hll_est - n_exact) * 1000000L div n_exact").as("err_micro"))
  }

  // ---- q249: whole-table cardinality profile in one register pass --------------
  // Four orders columns spanning the cardinality spectrum (5-ish statuses
  // and priorities, ~10k customers, all-distinct order keys): the small-range
  // correction and the raw regime are BOTH exercised in one report, and
  // the oracle rebuilds every register from the same polyhash/HLL
  // algebra.
  private val ProfileCols =
    Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderkey")
  private def q249(s: SparkSession, d: String): DataFrame =
    hllColumnProfile(Tables.orders(s, d), ProfileCols, HllM)
      .orderBy(col("col_name"))
  private val q249Sql = {
    val stacked = ProfileCols.map(c =>
      s"SELECT '$c' AS col_name, $c::VARCHAR AS sval FROM orders")
      .mkString("\n         UNION ALL ")
    s"""WITH stacked AS (
         $stacked),
       nn AS (SELECT col_name, sval FROM stacked WHERE sval IS NOT NULL),
       keyed AS (
         SELECT col_name, list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(sval, ''), c -> ord(c)::BIGINT)),
           (acc, c) -> (acc * 131 + c) % 2147483647) AS k
         FROM nn),
       h AS (
         SELECT col_name AS g,
           (((${aSql("0")}) * ($ktSql) + (${bSql("0")}))
             % 2147483647) AS h
         FROM keyed),
       observed AS (
         SELECT g, h % $HllM AS j,
           max(${32 - 6} - length(bin(h // $HllM))) AS rho
         FROM h GROUP BY 1, 2),
       spine AS (
         SELECT g, j FROM (SELECT DISTINCT g FROM h),
           (SELECT unnest(range(0, $HllM)) AS j)),
       regs AS (
         SELECT s.g, s.j, coalesce(o.rho, 0) AS mj
         FROM spine s LEFT JOIN observed o ON s.g = o.g AND s.j = o.j),
       est AS (
         SELECT g, (${hllCorrectedSql(HllM)})::BIGINT AS hll_est FROM (
           SELECT g, floor(0.709::DOUBLE * 1099511627776.0::DOUBLE
               * ${HllM.toLong * HllM}
               / sum(1::BIGINT << (40 - mj)::INT))::BIGINT AS raw,
             count(*) FILTER (WHERE mj = 0)::BIGINT AS V
           FROM regs GROUP BY g)),
       exact AS (
         SELECT col_name, count(*)::BIGINT AS n_nonnull,
           count(DISTINCT sval)::BIGINT AS n_exact
         FROM nn GROUP BY 1)
       SELECT x.col_name, x.n_nonnull, x.n_exact, e.hll_est,
         (abs(e.hll_est - x.n_exact) * 1000000 // x.n_exact)::BIGINT
           AS err_micro
       FROM exact x JOIN est e ON x.col_name = e.g
       ORDER BY col_name"""
  }

  /** Sliding-window distinct counts: for every day, |distinct keys over
    * the trailing `windowDays`| — exact AND sketched side by side. The
    * exact form expands (day, key) membership across the window spine
    * (cost × window length — fine for audits, brutal at corpus scale);
    * the sketch form max-merges the PER-DAY HLL registers across the
    * window (cost × m registers per day, independent of cardinality) —
    * the standard reason sliding distinct is an HLL workload: distinct
    * counts don't decompose over window panes, but registers do.
    *
    * Both paths share the per-day register/membership tables, the window
    * association is a compact range join against the day spine, and all
    * arithmetic is the deterministic q168 algebra, so the error column
    * is an exact integer the oracle reproduces.
    */
  def slidingDistinct(df: DataFrame, tsCol: String, keyCol: String,
      windowDays: Int, m: Int): DataFrame = {
    require(windowDays >= 1, "windowDays >= 1")
    val memb = df
      .select(expr(s"cast($tsCol as long) div 86400").as("day"),
        col(keyCol).cast("long").as("k"))
      .distinct()
    val spine = memb.select(col("day")).distinct()
    val exact = broadcast(spine.select(col("day").as("w_day")))
      .join(memb,
        col("day") <= col("w_day") &&
          col("day") > col("w_day") - windowDays)
      .groupBy(col("w_day")).agg(countDistinct(col("k")).as("n_exact"))
    val regs = hllRegistersBy(memb, "day", "k", m)
    val winRegs = broadcast(spine.select(col("day").as("w_day")))
      .join(regs,
        col("day") <= col("w_day") &&
          col("day") > col("w_day") - windowDays)
      .groupBy(col("w_day"), col("j")).agg(max(col("mj")).as("mj"))
    exact
      .join(hllEstimateBy(winRegs, "w_day", m), Seq("w_day"))
      .select(col("w_day").as("day"), col("n_exact"), col("hll_est"),
        expr("abs(hll_est - n_exact) * 1000000L div n_exact").as("err_micro"))
  }

  // ---- q192: trailing-7-day distinct users, exact vs register-merged ----------
  private val SlideDays = 7
  private def q192(s: SparkSession, d: String): DataFrame =
    slidingDistinct(Tables.events(s, d), "ts", "user_id", SlideDays, HllM)
      .orderBy(col("day"))
  private def q192Sql =
    s"""WITH memb AS (
         SELECT DISTINCT (epoch_us(ts) // 1000000) // 86400 AS day,
           user_id AS k
         FROM events),
       spine AS (SELECT DISTINCT day AS w_day FROM memb),
       exact AS (
         SELECT w_day, count(DISTINCT k)::BIGINT AS n_exact
         FROM spine JOIN memb
           ON day <= w_day AND day > w_day - $SlideDays
         GROUP BY 1),
       h AS (
         SELECT day, (((${aSql("0")}) * ($ktSql) + (${bSql("0")}))
           % 2147483647) AS h
         FROM memb),
       observed AS (
         SELECT day, h % $HllM AS j,
           max(${32 - 6} - length(bin(h // $HllM))) AS rho
         FROM h GROUP BY 1, 2),
       dayregs AS (
         SELECT s.day, s.j, coalesce(o.rho, 0) AS mj
         FROM (SELECT day, j FROM (SELECT DISTINCT day FROM memb),
                 (SELECT unnest(range(0, $HllM)) AS j)) s
         LEFT JOIN observed o ON s.day = o.day AND s.j = o.j),
       winregs AS (
         SELECT w_day, j, max(mj) AS mj
         FROM spine JOIN dayregs
           ON day <= w_day AND day > w_day - $SlideDays
         GROUP BY 1, 2),
       est AS (
         SELECT w_day, (${hllCorrectedSql(HllM)})::BIGINT AS hll_est FROM (
           SELECT w_day, floor(0.709::DOUBLE * 1099511627776.0::DOUBLE
               * ${HllM.toLong * HllM}
               / sum(1::BIGINT << (40 - mj)::INT))::BIGINT AS raw,
             count(*) FILTER (WHERE mj = 0)::BIGINT AS V
           FROM winregs GROUP BY 1))
       SELECT w_day AS day, n_exact, hll_est,
         (abs(hll_est - n_exact) * 1000000 // n_exact)::BIGINT AS err_micro
       FROM exact JOIN est USING (w_day) ORDER BY day"""

  /** MinHash signatures of keyed MEMBER SETS (audience segments, cohort
    * user lists): k per-segment minima under the portable polynomial
    * hash family — the constant-size, MERGEABLE stand-in for the sets
    * themselves (min of mins = signature of the union, the HLL register
    * law in min form). Pairwise segment Jaccard is then estimated as
    * matching-coordinate share WITHOUT touching the member lists — the
    * sketch the q303 exact self-join hands off to when segments hold
    * billions of members.
    */
  def minhashSegments(df: DataFrame, segCol: Column, memberCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, "need at least one hash")
    df.select(segCol.as("seg"), memberCol.cast("long").as("k")).distinct()
      .select(col("seg"), col("k"),
        explode(sequence(lit(0), lit(k - 1))).as("d"))
      .select(col("seg"), col("d"), expr(
        s"((${aExpr("d")}) * ($ktExpr) + (${bExpr("d")})) % ${P}L")
        .as("h"))
      .groupBy(col("seg"), col("d")).agg(min(col("h")).as("mh"))
  }

  /** The acceptance report for [[minhashSegments]]: estimated vs EXACT
    * pairwise Jaccard per segment pair, with the absolute error — run at
    * a testable scale before trusting the sketch at the real one (the
    * q136/q142 acceptance discipline applied to audience sketches).
    *
    * Scale design: the estimate side joins k-row signatures (|segs|·k
    * rows total); only the exact side touches member lists, and it is
    * the same capped self-join q303 already runs. Exact micro integers
    * throughout.
    */
  def audienceSketchReport(df: DataFrame, segCol: Column,
      memberCol: Column, k: Int): DataFrame = {
    val sig = minhashSegments(df, segCol, memberCol, k)
    val est = sig.as("a")
      .join(sig.as("b"),
        col("a.d") === col("b.d") && col("a.seg") < col("b.seg"))
      .groupBy(col("a.seg").as("seg_a"), col("b.seg").as("seg_b"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L))
        .as("n_matches"))
      .select(col("seg_a"), col("seg_b"), col("n_matches"),
        expr(s"n_matches * 1000000L div ${k}L").as("est_micro"))
    val exact = Analytics.audienceOverlap(df, segCol, memberCol)
      .select(col("seg_a"), col("seg_b"),
        col("jaccard_micro").as("exact_micro"))
    est.join(exact, Seq("seg_a", "seg_b"))
      .withColumn("err_micro",
        abs(col("est_micro") - col("exact_micro")))
  }

  // ---- q322: do the audience sketches earn their keep? ------------------------
  // Members are USER-DAYS (user_id·100 + day), not bare users — the
  // fixture's users all touch every event type over the month, making
  // bare-user audiences identical (Jaccard ≡ 1.0, a degenerate oracle);
  // daily-active audiences overlap at ~0.21 at every scale factor, so
  // the estimate has something real to approximate.
  private def q322(s: SparkSession, d: String): DataFrame =
    audienceSketchReport(Tables.events(s, d), col("event_type"),
      col("user_id") * 100 + Analytics.dayId(col("ts")), k = 64)
      .orderBy(col("seg_a"), col("seg_b"))
  private val q322Sql =
    s"""WITH su AS (
         SELECT DISTINCT event_type AS seg,
           user_id * 100 + epoch_us(ts) // 86400000000 AS k FROM events),
       sig AS (
         SELECT seg, d,
           min(((${aSql("d")}) * ($ktSql) + (${bSql("d")}))
             % 2147483647) AS mh
         FROM su CROSS JOIN (SELECT unnest(range(0, 64)) AS d) r
         GROUP BY seg, d),
       est AS (
         SELECT a.seg AS seg_a, b.seg AS seg_b,
           sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)::BIGINT
             AS n_matches
         FROM sig a JOIN sig b ON a.d = b.d AND a.seg < b.seg
         GROUP BY 1, 2),
       inter AS (
         SELECT a.seg AS seg_a, b.seg AS seg_b, count(*)::BIGINT AS n_both
         FROM su a JOIN su b ON a.k = b.k AND a.seg < b.seg
         GROUP BY 1, 2),
       sizes AS (SELECT seg, count(*)::BIGINT AS n FROM su GROUP BY 1),
       ex AS (
         SELECT i.seg_a, i.seg_b,
           ((i.n_both * 1000000) // (sa.n + sb.n - i.n_both))::BIGINT
             AS exact_micro
         FROM inter i JOIN sizes sa ON i.seg_a = sa.seg
           JOIN sizes sb ON i.seg_b = sb.seg)
       SELECT e.seg_a, e.seg_b, e.n_matches,
         (e.n_matches * 1000000 // 64)::BIGINT AS est_micro,
         ex.exact_micro,
         abs(e.n_matches * 1000000 // 64 - ex.exact_micro)::BIGINT
           AS err_micro
       FROM est e JOIN ex ON e.seg_a = ex.seg_a AND e.seg_b = ex.seg_b
       ORDER BY e.seg_a, e.seg_b"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q322_audience_sketch", q322, Some(q322Sql)),
    QueryDef("q167_cms_heavy", q167, Some(q167Sql)),
    QueryDef("q168_hll_distinct", q168, Some(q168Sql)),
    QueryDef("q181_hll_by_group", q181, Some(q181Sql)),
    QueryDef("q190_cms_join_size", q190, Some(q190Sql)),
    QueryDef("q198_bloom_audit", q198, Some(q198Sql)),
    QueryDef("q192_sliding_distinct", q192, Some(q192Sql)),
    QueryDef("q247_hll_small_range", q247, Some(q247Sql)),
    QueryDef("q248_dd_quantiles", q248, Some(q248Sql)),
    QueryDef("q294_dd_quantiles_by", q294, Some(q294Sql)),
    QueryDef("q297_weekly_quantiles", q297, Some(q297Sql)),
    QueryDef("q249_column_cardinality", q249, Some(q249Sql)),
    QueryDef("q261_dd_drift", q261, Some(q261Sql)))
}
