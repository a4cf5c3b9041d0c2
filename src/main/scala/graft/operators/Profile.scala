package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import FixedPoint.bin6

/** Dataset hygiene operators every large-scale pipeline runs before (and
  * after) a training build: one-pass column profiling and latest-record-
  * per-key compaction.
  *
  * Scale design notes:
  *  - profile: ONE aggregation pass computes every column's metrics
  *    simultaneously (map-side partials; the long-form reshape is a
  *    single-row `stack`, not a per-column scan). Exact distinct counts
  *    are the oracle-friendly choice here; swap `countDistinct` for
  *    `approx_count_distinct` at 100 TB (the q36 pattern shows how to
  *    keep such a row oracle-verifiable).
  *  - latestPerKey: `max(struct(order, tie, payload…))` hash aggregation —
  *    map-side partials collapse each partition to one row per key before
  *    the exchange, unlike the window row_number compaction which shuffles
  *    and sorts every version of every key. The (order, tie) prefix must
  *    be unique per key so payload fields never decide the ordering.
  */
object Profile {

  /** Long-form per-column profile: nulls, exact distincts, min/max (as
    * strings, so heterogeneous columns share one schema). Input names are
    * backtick-quoted and intermediates aliased positionally, so columns
    * named like `order date`, `a.b`, or SQL keywords — the messy inputs a
    * profiler exists for — work unchanged.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    def quoted(name: String) = col("`" + name.replace("`", "``") + "`")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val in = quoted(c)
      Seq(
        sum(when(in.isNull, 1L).otherwise(0L)).as(s"c${i}__nulls"),
        countDistinct(in).as(s"c${i}__distinct"),
        min(in).cast("string").as(s"c${i}__min"),
        max(in).cast("string").as(s"c${i}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), col(s"c${i}__nulls"), col(s"c${i}__distinct"),
        col(s"c${i}__min"), col(s"c${i}__max"))
    }
    one.select(stack((lit(cols.length) +: stackArgs): _*)
      .as(Seq("col_name", "n_nulls", "n_distinct", "min_val", "max_val")))
  }

  /** Latest record per key: the row with the max `(orderCols…)` tuple,
    * carrying `payloadCols` along. `orderCols` must be unique per key
    * (e.g. timestamp + sequence id) — the standard log-compaction /
    * SCD-current-view step.
    */
  def latestPerKey(df: DataFrame, keyCol: String, orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "latestPerKey needs ordering columns")
    val carried = orderCols ++ payloadCols
    df.groupBy(col(keyCol))
      .agg(max(struct(carried.map(col): _*)).as("last"))
      .select(col(keyCol) +:
        carried.map(c => col(s"last.$c").as(s"last_$c")): _*)
  }

  /** Apply a CDC changelog to produce the current snapshot: the latest
    * record per key wins, and a key whose latest operation is `deleteOp`
    * disappears from the view (the standard Debezium/Hudi/Delta "merge the
    * change stream" step, expressed engine-side).
    *
    * Scale design: same partial-aggregated `max(struct(...))` shape as
    * [[latestPerKey]] — each map partition collapses to one candidate row
    * per key before the exchange, so the shuffle carries |keys| rows, not
    * the change history. A window row_number formulation would shuffle and
    * sort every version of every key. The delete filter runs after the
    * aggregation (on |keys| rows), never on the log.
    */
  def cdcApply(df: DataFrame, keyCol: String, orderCols: Seq[String],
      opCol: String, deleteOp: String, payloadCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "cdcApply needs ordering columns")
    val carried = orderCols ++ (opCol +: payloadCols)
    df.groupBy(col(keyCol))
      .agg(max(struct(carried.map(col): _*)).as("last"))
      .where(col(s"last.$opCol") =!= deleteOp)
      .select(col(keyCol) +:
        (orderCols ++ payloadCols).map(c => col(s"last.$c").as(s"last_$c")): _*)
  }

  /** Point-in-time snapshot (time travel) from the same changelog: the
    * table exactly as it stood at `asOf` — [[cdcApply]] over only the
    * changes at-or-before the instant. Reproducibility workhorse: "train
    * on the corpus as of the data-freeze date" without storing a copy
    * per freeze.
    *
    * Scale: the time predicate pushes into the scan (time-partitioned
    * changelogs prune whole partitions), then the same partial-
    * aggregated fold as [[cdcApply]].
    */
  def snapshotAsOf(df: DataFrame, keyCol: String, tsCol: String,
      orderCols: Seq[String], opCol: String, deleteOp: String,
      payloadCols: Seq[String], asOf: Column): DataFrame =
    cdcApply(df.filter(col(tsCol) <= asOf), keyCol, orderCols, opCol,
      deleteOp, payloadCols)

  /** Build the SCD Type-2 (slowly-changing-dimension) validity history
    * from a changelog: one row per version with `valid_from` (its own
    * ordering instant), `valid_to` (the NEXT version's instant — validity
    * is the half-open [from, to)), a per-key `version_num`, and
    * `is_current` marking the open tail. [[latestPerKey]] collapses the
    * log to the current view; this keeps every version addressable — the
    * table a point-in-time enrichment probes (join fact.ts into
    * [valid_from, valid_to), or equivalently [[AsOfJoin]] against the
    * version instants).
    *
    * Scale design: ONE exchange on the key, then lead/row_number over each
    * key's own version history — the minimal work for interval
    * construction, since every version must observe its successor. The
    * sort is per key over that key's version count (typically tens), never
    * a global order, and the window state is one row (lead(1)).
    */
  def scdType2(df: DataFrame, keyCol: String, orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "scdType2 needs ordering columns")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    df.select((keyCol +: (orderCols ++ payloadCols)).map(col): _*)
      .withColumn("version_num", row_number().over(w))
      .withColumn("valid_to", lead(col(orderCols.head), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumnRenamed(orderCols.head, "valid_from")
  }

  /** Diff two snapshots of a keyed table: rows only in `newDf` are inserts
    * (`I`), rows only in `oldDf` deletes (`D`), rows in both with any
    * payload difference updates (`U`); unchanged rows are dropped. Output
    * flattens both sides as `old_<c>` / `new_<c>` scalars (no structs —
    * downstream tools and the oracle harness hash scalar columns).
    *
    * Scale design: one full-outer shuffle join on the key — each side is
    * exchanged once, and the payload comparison is a null-safe struct
    * equality evaluated post-join (codegen'd, no second pass). At 100 TB
    * write both snapshots bucketed by the key ([[Bucketing]]) and the join
    * plans with zero exchanges; AQE's skew-join split handles hot keys.
    * The change classification never re-partitions the join output.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "snapshotDiff needs payload columns")
    def side(df: DataFrame, tag: String) =
      df.select(col(keyCol), struct(payloadCols.map(col): _*).as(tag))
    val joined = side(oldDf, "o").join(side(newDf, "n"), Seq(keyCol), "full_outer")
    joined
      .withColumn("change",
        when(col("o").isNull, "I")
          .when(col("n").isNull, "D")
          .when(!(col("o") <=> col("n")), "U"))
      .where(col("change").isNotNull)
      .select(col(keyCol) +: col("change") +:
        payloadCols.flatMap(c => Seq(
          col(s"o.$c").as(s"old_$c"), col(s"n.$c").as(s"new_$c"))): _*)
  }

  /** Equi-width histogram of a numeric column: `nBins` buckets spanning
    * [min, max], the top edge closed (the max lands in the last bin).
    * Empty bins are emitted with n = 0 — a histogram with silent holes
    * misreads as a distribution shape.
    *
    * Scale design: pass one is a two-value min/max aggregation (map-side
    * partials → single row, broadcast); pass two bins every row map-side
    * with pure arithmetic (`floor((v−lo)·n/(hi−lo))`) and aggregates
    * |bins| rows. The corpus is scanned twice but never shuffled — the
    * exchanges carry one row and |bins| rows respectively. The empty-bin
    * densification runs on the |bins|-sized result via sequence+explode.
    * The binning expression is kept textually identical in the oracle so
    * IEEE double arithmetic agrees bit-for-bit.
    */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins > 0, "histogram needs at least one bin")
    val v = col(valueCol).cast("double")
    val stats = df.agg(min(v).as("lo"), max(v).as("hi"))
    val binned = df.select(v.as("v")).filter(col("v").isNotNull)
      .crossJoin(broadcast(stats))
      .select(when(col("hi") === col("lo"), lit(0))
        .otherwise(least(lit(nBins - 1),
          floor((col("v") - col("lo")) * nBins / (col("hi") - col("lo")))
            .cast("int"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val allBins = stats.select(
        explode(sequence(lit(0), lit(nBins - 1))).as("bin"),
        col("lo"), col("hi"))
      .select(col("bin"),
        (round(col("lo") + col("bin") * (col("hi") - col("lo")) / nBins, 6)
          + lit(0.0)).as("bin_lo"),
        (round(col("lo") + (col("bin") + 1) * (col("hi") - col("lo")) / nBins, 6)
          + lit(0.0)).as("bin_hi"))
    allBins.join(binned, Seq("bin"), "left")
      .select(col("bin"), col("bin_lo"), col("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Distribution drift between two populations of `valueCol` — the data
    * monitoring primitive behind "did this source/snapshot shift?": both
    * sides are binned on ONE shared equi-width grid (edges from the union
    * min/max, [[histogram]]'s arithmetic), and each bin reports both
    * counts, both shares, and the absolute share difference `dp`.
    * Σdp/2 is total variation distance; dp is kept per bin (rather than
    * pre-summed) so the report shows WHERE the mass moved. TVD over PSI/KL
    * deliberately: those need `ln`, which is not cross-engine bit-stable —
    * dp is plain rational arithmetic, exact in any engine.
    *
    * Scale: each side collapses to ≤ nBins counts with map-side partials
    * (the corpus is never shuffled — the only exchange carries bin ids);
    * share windows run over the |bins|-sized result. An empty side yields
    * null shares (nothing to compare against — documented, spec'd).
    */
  def distributionDrift(a: DataFrame, b: DataFrame, valueCol: String,
      nBins: Int): DataFrame = {
    require(nBins > 0, "drift needs at least one bin")
    def vals(df: DataFrame) =
      df.select(col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
    val (va, vb) = (vals(a), vals(b))
    val stats = va.union(vb).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    def binned(src: DataFrame, n: String) = src.crossJoin(broadcast(stats))
      .select(when(col("hi") === col("lo"), lit(0))
        .otherwise(least(lit(nBins - 1),
          floor((col("v") - col("lo")) * nBins / (col("hi") - col("lo")))
            .cast("int"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(n))
    val allBins = stats.select(
        explode(sequence(lit(0), lit(nBins - 1))).as("bin"),
        col("lo"), col("hi"))
      .select(col("bin"),
        (round(col("lo") + col("bin") * (col("hi") - col("lo")) / nBins, 6)
          + lit(0.0)).as("bin_lo"),
        (round(col("lo") + (col("bin") + 1) * (col("hi") - col("lo")) / nBins, 6)
          + lit(0.0)).as("bin_hi"))
    allBins
      .join(binned(va, "n_a"), Seq("bin"), "left")
      .join(binned(vb, "n_b"), Seq("bin"), "left")
      .select(col("bin"), col("bin_lo"), col("bin_hi"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .select(col("bin"), col("bin_lo"), col("bin_hi"), col("n_a"), col("n_b"),
        round(col("n_a") / shareTotal("n_a"), 6).as("p_a"),
        round(col("n_b") / shareTotal("n_b"), 6).as("p_b"),
        round(abs(col("n_a") / shareTotal("n_a")
          - col("n_b") / shareTotal("n_b")), 6).as("dp"))
  }

  /** Population total for the share denominators, nulled when the side is
    * empty so an absent population reads as null shares instead of an
    * ANSI division-by-zero (Spark 4 ANSI mode makes n/0 an error).
    */
  private def shareTotal(n: String): Column = {
    val total = sum(col(n)).over()
    when(total === 0, lit(null)).otherwise(total)
  }

  /** k-anonymity audit over a quasi-identifier combination: every QI
    * combination observed in fewer than `k` rows, with its size and
    * re-identification risk (1/size — the probability a linker who knows
    * the QI values picks the right individual). The privacy companion to
    * PII scrubbing: scrubbing removes direct identifiers; this finds the
    * INDIRECT ones (rare attribute combinations) that still single people
    * out. An empty result certifies the dataset k-anonymous on those
    * columns.
    *
    * Scale: one partial-aggregated pass over the QI columns; the output is
    * violation-sized (rare combos only), never the corpus.
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty, "audit needs quasi-identifier columns")
    require(k >= 2, "k < 2 makes every row anonymous")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
      .withColumn("reident_risk", round(lit(1.0) / col("group_size"), 6))
  }

  // ===========================================================================
  // Oracle-bound query exercises
  // ===========================================================================

  private def q58(s: SparkSession, d: String): DataFrame =
    profile(Tables.documents(s, d), Seq("doc_id", "lang"))
      .orderBy(col("col_name"))
  private val q58Sql =
    """SELECT 'doc_id' AS col_name,
         sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
         count(DISTINCT doc_id)::BIGINT AS n_distinct,
         min(doc_id)::VARCHAR AS min_val, max(doc_id)::VARCHAR AS max_val
       FROM documents
       UNION ALL
       SELECT 'lang',
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
         count(DISTINCT lang)::BIGINT,
         min(lang)::VARCHAR, max(lang)::VARCHAR
       FROM documents
       ORDER BY col_name"""

  private def q59(s: SparkSession, d: String): DataFrame =
    latestPerKey(Tables.events(s, d), "user_id",
        orderCols = Seq("ts", "event_id"),
        payloadCols = Seq("event_type", "value"))
      .select(col("user_id"), unix_micros(col("last_ts")).as("last_ts_us"),
        col("last_event_id"), col("last_event_type"), col("last_value"))
      .orderBy(col("user_id"))
  private val q59Sql =
    """WITH r AS (
         SELECT user_id, ts, event_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM events)
       SELECT user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS last_ts_us,
         event_id AS last_event_id, event_type AS last_event_type,
         value AS last_value
       FROM r WHERE rn = 1 ORDER BY user_id"""

  // ---- q72: CDC changelog apply ---------------------------------------------
  // The events stream read as a change log: a purchase is the user's
  // terminal event (op=D), everything else upserts (op=U). The snapshot
  // keeps only users whose LATEST event is not a delete.
  private def q72(s: SparkSession, d: String): DataFrame = {
    val log = Tables.events(s, d).select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
      col("value"))
    cdcApply(log, "user_id", orderCols = Seq("ts", "event_id"),
        opCol = "op", deleteOp = "D", payloadCols = Seq("value"))
      .select(col("user_id"), unix_micros(col("last_ts")).as("last_ts_us"),
        col("last_event_id"), col("last_value"))
      .orderBy(col("user_id"))
  }
  private val q72Sql =
    """WITH log AS (
         SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
           value
         FROM events),
       r AS (
         SELECT user_id, ts, event_id, op, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM log)
       SELECT user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS last_ts_us,
         event_id AS last_event_id, value AS last_value
       FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""

  // ---- q74: snapshot diff ---------------------------------------------------
  // Two deterministic snapshots of orders: the old one misses keys %97==0,
  // the new one misses %89==0 (deletes) and bumps the price on %11==0
  // (updates; +1.0 is exact in IEEE double, so both engines agree bit-for-
  // bit). Everything else is unchanged and must NOT appear in the diff.
  private def q74(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val oldSnap = base.where(col("o_orderkey") % 97 =!= 0)
    val newSnap = base.where(col("o_orderkey") % 89 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    snapshotDiff(oldSnap, newSnap, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }
  private val q74Sql =
    """WITH base AS (
         SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
       old AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0),
       new AS (
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
         FROM base WHERE o_orderkey % 89 <> 0),
       j AS (
         SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'U' END AS change,
           o.o_totalprice AS old_o_totalprice,
           n.o_totalprice AS new_o_totalprice,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_orderstatus AS new_o_orderstatus
         FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
       SELECT * FROM j WHERE change IS NOT NULL ORDER BY o_orderkey"""

  /** Key-skew profiler: the `topK` hottest keys of a prospective
    * join/groupBy key, each with its share of the table, plus the global
    * skew factor (hottest key ÷ mean key size). THE pre-flight diagnostic
    * before any big join at 100 TB — a skew factor in the hundreds says
    * "salt this key or let AQE split it" before the job burns a day.
    *
    * Scale design: the per-key count is one partial-aggregated pass
    * (|keys| rows out); top-k is TakeOrdered on that collapsed relation
    * (no full sort); the totals row broadcasts. The table is scanned
    * once and its rows are never reshuffled.
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"), max(col("n")).as("max_n"))
    counts.orderBy(col("n").desc, col(keyCol)).limit(topK)
      .crossJoin(broadcast(totals))
      .select(col(keyCol), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        col("n_keys"),
        round(col("max_n").cast("double") * col("n_keys") / col("total"), 4)
          .as("skew_factor"))
  }

  /** One-row corpus DATASHEET: the executive summary a dataset card
    * leads with — volumes (docs, chars, whitespace tokens), diversity
    * (languages, sources), and duplication (exact content groups, exact
    * dup count and rate, verified near-dup pairs) — composed entirely
    * from operators that are each independently oracle-verified, so the
    * summary can't drift from the detailed reports (the q120 rule,
    * corpus-card-wide). Scale: one corpus aggregation pass + the md5
    * group collapse + a count over the (output-sized) pair list.
    */
  def corpusDatasheet(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String,
      nearDupPairs: DataFrame): DataFrame = {
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"),
      col(langCol).as("lang"), col(sourceCol).as("src"))
    val main = base.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("src")).as("n_sources"),
      sum(length(col("text"))).as("chars_total"),
      sum(size(split(col("text"), " "))).as("tokens_total"))
    val dup = Dedup.exactDedup(base, "id", "text")
      .agg(count(lit(1)).as("n_content_groups"),
        sum(col("n_copies") - 1).as("n_exact_dups"))
    val near = nearDupPairs.agg(count(lit(1)).as("n_near_dup_pairs"))
    main.crossJoin(broadcast(dup)).crossJoin(broadcast(near))
      .withColumn("mean_chars_micro",
        expr("chars_total * 1000000L div n_docs"))
      .withColumn("exact_dup_micro",
        expr("n_exact_dups * 1000000L div n_docs"))
  }

  // ---- q260: the dataset card's headline row ----------------------------------
  private def q260(s: SparkSession, d: String): DataFrame =
    corpusDatasheet(Tables.documents(s, d), "doc_id", "text", "lang",
      "source", Dedup.lshPairsOf(s, d))
  private def q260Sql =
    s"""WITH main AS (
         SELECT count(*)::BIGINT AS n_docs,
           count(DISTINCT lang)::BIGINT AS n_langs,
           count(DISTINCT source)::BIGINT AS n_sources,
           sum(strlen(text))::BIGINT AS chars_total,
           sum(len(string_split(text, ' ')))::BIGINT AS tokens_total
         FROM documents),
       dup AS (
         SELECT count(*)::BIGINT AS n_content_groups,
           sum(n_copies - 1)::BIGINT AS n_exact_dups
         FROM (SELECT count(*) AS n_copies FROM documents
               GROUP BY md5(text))),
       ${Dedup.jaccardCtes()},
       near AS (
         SELECT count(*)::BIGINT AS n_near_dup_pairs FROM (
           SELECT d1 FROM pair
           JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
           WHERE inter / (s1.n + s2.n - inter) >= ${Dedup.JaccardThreshold}))
       SELECT m.*, d.n_content_groups, d.n_exact_dups, n.n_near_dup_pairs,
         (m.chars_total * 1000000 // m.n_docs)::BIGINT AS mean_chars_micro,
         (d.n_exact_dups * 1000000 // m.n_docs)::BIGINT AS exact_dup_micro
       FROM main m CROSS JOIN dup d CROSS JOIN near n"""

  /** Salt plan from a key profile: for every key whose row count exceeds
    * `targetPerTask`, the salt factor ceil(n / target) that splits it
    * into target-sized sub-keys — the ACTIONABLE output of [[keySkew]]'s
    * diagnosis, fed directly to a salted join ([[SkewJoin.saltedInner]])
    * or a salted aggregation. Keys under the target need no salt and are
    * omitted; the plan is |hot keys|-sized, broadcastable next to the
    * join it tunes. Exact integer ceil via (n + t − 1) div t.
    */
  def saltPlan(df: DataFrame, keyCol: String,
      targetPerTask: Long): DataFrame = {
    require(targetPerTask >= 1, "targetPerTask must be positive")
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > targetPerTask)
      .select(col(keyCol), col("n_rows"),
        expr(s"(n_rows + ${targetPerTask}L - 1L) div ${targetPerTask}L")
          .as("salt_factor"))
  }

  // ---- q259: how to split the hot event types before a keyed shuffle ----------
  // target 100 keeps the plan non-empty at every fixture scale factor
  // (per-type counts run ~200/2000/20000 at sf0.001/0.01/0.1).
  private def q259(s: SparkSession, d: String): DataFrame =
    saltPlan(Tables.events(s, d), "event_type", targetPerTask = 100L)
      .orderBy(col("event_type"))
  private[operators] val q259Sql =
    """SELECT event_type, count(*)::BIGINT AS n_rows,
       ((count(*) + 99) // 100)::BIGINT AS salt_factor
       FROM events GROUP BY event_type
       HAVING count(*) > 100 ORDER BY event_type"""

  /** Data-quality expectations — the pre-publish gate every pipeline
    * table needs (the Great-Expectations/dbt-test shape, engine-side).
    * Three rule kinds, one uniform report row each
    * (rule, n_checked, n_violations, pass):
    *
    *  - row rules: a violation predicate checked per row — ONE aggregation
    *    pass evaluates ALL row rules simultaneously (no per-rule scan);
    *  - uniqueness: violations = rows − distinct keys (a single
    *    partial-aggregated distinct count);
    *  - referential integrity: violations = child rows whose key has no
    *    parent — a left-anti join, broadcast when the parent is small.
    *
    * Report rows are |rules|-sized; the table is never reshuffled.
    */
  def expectRowRules(df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    val aggs = rules.zipWithIndex.flatMap { case ((_, viol), i) =>
      Seq(count(lit(1)).as(s"r${i}__n"),
        count(when(viol, 1)).as(s"r${i}__v"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.zipWithIndex.flatMap { case ((name, _), i) =>
      Seq(lit(name), col(s"r${i}__n"), col(s"r${i}__v"))
    }
    one.select(stack((lit(rules.length) +: stackArgs): _*)
        .as(Seq("rule", "n_checked", "n_violations")))
      .withColumn("pass", col("n_violations") === 0)
  }

  /** Uniqueness expectation: violations = rows beyond the first per key. */
  def expectUnique(df: DataFrame, name: String, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(cols.map(col).head, cols.map(col).tail: _*))
          .as("n_violations"))
      .select(lit(name).as("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("pass"))

  /** Referential-integrity expectation: child keys must exist in parent. */
  def expectFk(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String, name: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
        "left_anti")
    child.agg(count(lit(1)).as("n_checked"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_violations")))
      .select(lit(name).as("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("pass"))
  }

  // ---- q102: data-quality expectation report -----------------------------------
  // Orders must have positive prices and valid status codes (row rules),
  // unique keys, and customers that exist. The fixture satisfies all
  // four, so the report pins the zero-violation shape; the spec covers
  // violating inputs.
  private def q102(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    expectRowRules(o, Seq(
        "positive_price" -> !(col("o_totalprice") > 0),
        "valid_status" -> !col("o_orderstatus").isin("F", "O", "P")))
      .unionByName(expectUnique(o, "unique_orderkey", Seq("o_orderkey")))
      .unionByName(expectFk(o, "o_custkey", Tables.customer(s, d),
        "c_custkey", "fk_custkey"))
      .orderBy(col("rule"))
  }
  private val q102Sql =
    """SELECT 'positive_price' AS rule, count(*) AS n_checked,
         count(*) FILTER (WHERE NOT (o_totalprice > 0)) AS n_violations,
         count(*) FILTER (WHERE NOT (o_totalprice > 0)) = 0 AS pass
       FROM orders
       UNION ALL
       SELECT 'valid_status', count(*),
         count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')),
         count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')) = 0
       FROM orders
       UNION ALL
       SELECT 'unique_orderkey', count(*),
         count(*) - count(DISTINCT o_orderkey),
         count(*) - count(DISTINCT o_orderkey) = 0
       FROM orders
       UNION ALL
       SELECT 'fk_custkey', (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
         (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0
       ORDER BY rule"""

  /** Prioritized two-source merge: one row per key from the union of both
    * feeds, each payload field taken from the PRIMARY source when it has
    * the row, else from the secondary — the standard "golden record"
    * reconciliation when two systems disagree about the same entities.
    * `origin` records which source(s) supplied the key, so downstream
    * audits can quantify feed coverage.
    *
    * Scale: one full-outer shuffle join on the key (each side exchanged
    * once); field selection is a codegen'd projection. Bucket both feeds
    * by the key to plan it with zero exchanges ([[Bucketing]]).
    */
  def mergePrioritized(primary: DataFrame, secondary: DataFrame,
      keyCol: String, payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "mergePrioritized needs payload columns")
    def side(df: DataFrame, tag: String) =
      df.select(col(keyCol), struct(payloadCols.map(col): _*).as(tag))
    side(primary, "p").join(side(secondary, "s"), Seq(keyCol), "full_outer")
      .select(col(keyCol) +:
        payloadCols.map(c =>
          when(col("p").isNotNull, col(s"p.$c")).otherwise(col(s"s.$c")).as(c)) :+
        when(col("p").isNotNull && col("s").isNotNull, "both")
          .when(col("p").isNotNull, "primary").otherwise("secondary")
          .as("origin"): _*)
  }

  /** Leading-digit (Benford) profile of a positive numeric column: the
    * observed share of each first significant digit next to Benford's
    * expected log10(1 + 1/d) — the classic fabricated-data / unit-mixing
    * forensic check run over financial-ish columns. The digit is taken
    * from the value's STRING form (both engines format plain decimals for
    * these magnitudes identically), not via log10 — libm log is not
    * bit-stable cross-engine, so the expected shares are emitted as
    * PRE-COMPUTED literals, the one place a constant table beats a
    * formula. Map-side digit extraction, 9-row aggregate.
    */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val benford = Seq(
      1 -> 0.30103, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.09691,
      5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
      9 -> 0.045757)
    val expected = benford.tail.foldLeft(
      when(col("digit") === 1, benford.head._2)) { case (acc, (d, p)) =>
        acc.when(col("digit") === d, p)
      }
    df.filter(col(valueCol) > 0)
      .select(substring(col(valueCol).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        df.filter(col(valueCol) > 0).agg(count(lit(1)).as("total"))))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("share"),
        expected.as("benford_share"))
  }

  // ---- q117: Benford leading-digit forensic profile ------------------------------
  private def q117(s: SparkSession, d: String): DataFrame =
    benfordProfile(Tables.orders(s, d), "o_totalprice")
      .orderBy(col("digit"))
  private val q117Sql =
    """WITH v AS (
         SELECT substr(o_totalprice::VARCHAR, 1, 1)::INT AS digit
         FROM orders WHERE o_totalprice > 0),
       t AS (SELECT count(*) AS total FROM v)
       SELECT digit, count(*) AS n,
         round(count(*)::DOUBLE / total, 6) AS share,
         CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091
           WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181
           WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
           WHEN 9 THEN 0.045757 END AS benford_share
       FROM v CROSS JOIN t
       GROUP BY digit, total ORDER BY digit"""

  // ---- q115: prioritized feed reconciliation ------------------------------------
  // Two deterministic partial views of orders: the primary misses %7==0
  // keys and carries a corrected price; the secondary misses %5==0 keys
  // and has the raw price. The golden record prefers the primary row.
  private def q115(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val primary = base.where(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 0.5)
    val secondary = base.where(col("o_orderkey") % 5 =!= 0)
    mergePrioritized(primary, secondary, "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }
  private val q115Sql =
    """WITH base AS (
         SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
       p AS (SELECT o_orderkey, o_totalprice + 0.5 AS o_totalprice,
               o_orderstatus FROM base WHERE o_orderkey % 7 <> 0),
       s AS (SELECT * FROM base WHERE o_orderkey % 5 <> 0)
       SELECT coalesce(p.o_orderkey, s.o_orderkey) AS o_orderkey,
         CASE WHEN p.o_orderkey IS NOT NULL THEN p.o_totalprice
              ELSE s.o_totalprice END AS o_totalprice,
         CASE WHEN p.o_orderkey IS NOT NULL THEN p.o_orderstatus
              ELSE s.o_orderstatus END AS o_orderstatus,
         CASE WHEN p.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
              THEN 'both'
              WHEN p.o_orderkey IS NOT NULL THEN 'primary'
              ELSE 'secondary' END AS origin
       FROM p FULL OUTER JOIN s ON p.o_orderkey = s.o_orderkey
       ORDER BY o_orderkey"""

  // ---- q109: point-in-time snapshot (time travel) -------------------------------
  // The events changelog replayed to its state at 2024-01-15 00:00 UTC:
  // users whose latest event AT THAT INSTANT was not a purchase, with
  // that event's fields — q72's semantics shifted back in time.
  private def q109(s: SparkSession, d: String): DataFrame = {
    val log = Tables.events(s, d).select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "purchase", "D").otherwise("U").as("op"),
      col("value"))
    snapshotAsOf(log, "user_id", "ts", orderCols = Seq("ts", "event_id"),
        opCol = "op", deleteOp = "D", payloadCols = Seq("value"),
        asOf = lit("2024-01-15 00:00:00").cast("timestamp"))
      .select(col("user_id"), unix_micros(col("last_ts")).as("last_ts_us"),
        col("last_event_id"), col("last_value"))
      .orderBy(col("user_id"))
  }
  private val q109Sql =
    """WITH log AS (
         SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
           value
         FROM events
         WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
       r AS (
         SELECT user_id, ts, event_id, op, value,
           row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
         FROM log)
       SELECT user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS last_ts_us,
         event_id AS last_event_id, value AS last_value
       FROM r WHERE rn = 1 AND op <> 'D' ORDER BY user_id"""

  // ---- q95: key-skew profile --------------------------------------------------
  private def q95(s: SparkSession, d: String): DataFrame =
    keySkew(Tables.events(s, d), "user_id", topK = 10)
      .orderBy(col("n").desc, col("user_id"))
  private val q95Sql =
    """WITH c AS (
         SELECT user_id, count(*) AS n FROM events GROUP BY 1),
       t AS (
         SELECT sum(n)::BIGINT AS total, count(*) AS n_keys,
           max(n) AS max_n
         FROM c)
       SELECT user_id, n, round(n::DOUBLE / total, 6) AS share, n_keys,
         round(max_n::DOUBLE * n_keys / total, 4) AS skew_factor
       FROM c, t ORDER BY n DESC, user_id LIMIT 10"""

  // ---- q88: equi-width histogram --------------------------------------------
  private def q88(s: SparkSession, d: String): DataFrame =
    histogram(Tables.lineitem(s, d), "l_extendedprice", nBins = 20)
      .orderBy(col("bin"))
  private val q88Sql =
    """WITH stats AS (
         SELECT min(l_extendedprice::DOUBLE) AS lo,
           max(l_extendedprice::DOUBLE) AS hi
         FROM lineitem),
       binned AS (
         SELECT CASE WHEN hi = lo THEN 0
           ELSE least(19,
             floor((l_extendedprice::DOUBLE - lo) * 20 / (hi - lo))::INT) END
             AS bin,
           count(*) AS n
         FROM lineitem, stats GROUP BY 1),
       bins AS (SELECT unnest(range(0, 20)) AS bin, lo, hi FROM stats)
       SELECT b.bin::INT AS bin,
         round(lo + b.bin * (hi - lo) / 20, 6) + 0.0 AS bin_lo,
         round(lo + (b.bin + 1) * (hi - lo) / 20, 6) + 0.0 AS bin_hi,
         coalesce(n, 0)::BIGINT AS n
       FROM bins b LEFT JOIN binned ON b.bin = binned.bin
       ORDER BY bin"""

  // ---- q126: distribution drift between two event populations ------------------
  // The same shared-grid binning as q88, applied to both halves of the
  // user base; dp localizes any share shift per bin.
  private def q126(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    distributionDrift(e.filter(col("user_id") < 75),
        e.filter(col("user_id") >= 75), "value", nBins = 10)
      .orderBy(col("bin"))
  }
  private val q126Sql =
    """WITH va AS (
         SELECT value::DOUBLE AS v FROM events
         WHERE user_id < 75 AND value IS NOT NULL),
       vb AS (
         SELECT value::DOUBLE AS v FROM events
         WHERE user_id >= 75 AND value IS NOT NULL),
       stats AS (
         SELECT min(v) AS lo, max(v) AS hi
         FROM (SELECT v FROM va UNION ALL SELECT v FROM vb)),
       ba AS (
         SELECT CASE WHEN hi = lo THEN 0
           ELSE least(9, floor((v - lo) * 10 / (hi - lo))::INT) END AS bin,
           count(*) AS n_a
         FROM va, stats GROUP BY 1),
       bb AS (
         SELECT CASE WHEN hi = lo THEN 0
           ELSE least(9, floor((v - lo) * 10 / (hi - lo))::INT) END AS bin,
           count(*) AS n_b
         FROM vb, stats GROUP BY 1),
       bins AS (SELECT unnest(range(0, 10)) AS bin, lo, hi FROM stats),
       j AS (
         SELECT b.bin::INT AS bin,
           round(lo + b.bin * (hi - lo) / 10, 6) + 0.0 AS bin_lo,
           round(lo + (b.bin + 1) * (hi - lo) / 10, 6) + 0.0 AS bin_hi,
           coalesce(n_a, 0)::BIGINT AS n_a,
           coalesce(n_b, 0)::BIGINT AS n_b
         FROM bins b
         LEFT JOIN ba ON b.bin = ba.bin
         LEFT JOIN bb ON b.bin = bb.bin)
       SELECT bin, bin_lo, bin_hi, n_a, n_b,
         round(n_a / sum(n_a) OVER (), 6) AS p_a,
         round(n_b / sum(n_b) OVER (), 6) AS p_b,
         round(abs(n_a / sum(n_a) OVER () - n_b / sum(n_b) OVER ()), 6) AS dp
       FROM j ORDER BY bin"""

  // ---- q129: k-anonymity audit --------------------------------------------------
  // Market segment × nation as the quasi-identifier pair: combinations
  // identifying fewer than 10 customers are re-identification hazards.
  private def q129(s: SparkSession, d: String): DataFrame =
    kAnonymityAudit(Tables.customer(s, d),
        Seq("c_mktsegment", "c_nationkey"), k = 10)
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  private val q129Sql =
    """SELECT c_mktsegment, c_nationkey, count(*)::BIGINT AS group_size,
         round(1.0 / count(*), 6) AS reident_risk
       FROM customer
       GROUP BY 1, 2 HAVING count(*) < 10
       ORDER BY c_mktsegment, c_nationkey"""

  // ---- q137: SCD Type-2 validity history ------------------------------------
  // The events stream read as a per-user changelog: every event is a new
  // version of the user's state, carrying its validity interval.
  private def q137(s: SparkSession, d: String): DataFrame =
    scdType2(Tables.events(s, d), "user_id",
        orderCols = Seq("ts", "event_id"),
        payloadCols = Seq("event_type", "value"))
      .select(col("user_id"), col("version_num"),
        unix_micros(col("valid_from")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("is_current"), col("event_type"), col("value"))
      .orderBy(col("user_id"), col("version_num"))
  private val q137Sql =
    """WITH v AS (
         SELECT user_id, ts, event_type, value,
           row_number() OVER w AS version_num,
           lead(ts) OVER w AS valid_to
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, version_num::INT AS version_num,
         epoch_us(ts::TIMESTAMP)::BIGINT AS valid_from_us,
         epoch_us(valid_to::TIMESTAMP)::BIGINT AS valid_to_us,
         valid_to IS NULL AS is_current, event_type, value
       FROM v ORDER BY user_id, version_num"""

  /** Cohen's kappa between two raters labeling the same items — the
    * chance-corrected inter-annotator agreement behind every
    * "LLM-as-judge" / human-label QA report, and the principled upgrade
    * of q96's raw agreement rate: po alone rewards raters who both spam
    * the majority class; kappa subtracts the agreement their marginals
    * would produce by chance.
    *
    * Cross-engine determinism: with N items, `agree` exact matches, and
    * S = Σ_label cA(label)·cB(label) (the chance-agreement numerator),
    *   kappa = (po − pe)/(1 − pe) = (agree·N − S) / (N² − S)
    * — exact BIGINT numerator and denominator, ONE double division, then
    * the binary-deterministic floor(x·1e6+0.5)/1e6. po and pe are single
    * divisions of the same integers. pe = 1 (both raters constant and
    * identical) leaves kappa undefined → null, ANSI-safe on both engines.
    *
    * Scale design: one equi-join of the two (item, label) relations on
    * item id; the three aggregates over it (totals + both marginals)
    * share the join's input exchanges via ReuseExchange, and each is
    * label-cardinality-sized or a single row, so nothing item-sized is
    * ever re-shuffled. Items lacking a label from EITHER rater drop out
    * of the inner join (labeled-by-both semantics).
    */
  def interRaterKappa(a: DataFrame, b: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val la = a.select(col(itemCol).as("item"), col(labelCol).as("la"))
    val lb = b.select(col(itemCol).as("item"), col(labelCol).as("lb"))
    val joined = la.join(lb, "item")
    val tot = joined.agg(count(lit(1)).as("n"),
      count(when(col("la") === col("lb"), 1)).as("agree"))
    val ca = joined.groupBy(col("la").as("lab")).agg(count(lit(1)).as("ca"))
    val cb = joined.groupBy(col("lb").as("lab")).agg(count(lit(1)).as("cb"))
    val chance = ca.join(cb, "lab")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("s"))
    tot.crossJoin(broadcast(chance))
      .select(col("n").as("n_items"), col("agree").as("n_agree"),
        bin6(col("agree").cast("double") / col("n")).as("po"),
        bin6(col("s").cast("double") / (col("n") * col("n"))).as("pe"),
        when(col("n") * col("n") === col("s"), lit(null).cast("double"))
          .otherwise(bin6((col("agree") * col("n") - col("s")).cast("double")
            / (col("n") * col("n") - col("s")))).as("kappa"))
  }

  // ---- q152: inter-rater agreement (Cohen's kappa) ----------------------------
  // Two synthetic raters per user: the majority event type over even vs
  // odd event ids — independent halves of the same behavior stream. The
  // oracle replays both majority votes and the integer kappa algebra.
  private def q152(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val ra = PipelineOps.resolveLabels(
      ev.filter(col("event_id") % 2 === 0), "user_id", "event_type")
    val rb = PipelineOps.resolveLabels(
      ev.filter(col("event_id") % 2 === 1), "user_id", "event_type")
    interRaterKappa(ra, rb, "user_id", "label")
  }
  private val q152Sql =
    """WITH ca0 AS (
         SELECT user_id, event_type, count(*) AS c FROM events
         WHERE event_id % 2 = 0 GROUP BY 1, 2),
       ra AS (
         SELECT user_id, event_type AS la FROM (
           SELECT user_id, event_type, row_number() OVER (
             PARTITION BY user_id ORDER BY c DESC, event_type) AS rn
           FROM ca0) t WHERE rn = 1),
       cb0 AS (
         SELECT user_id, event_type, count(*) AS c FROM events
         WHERE event_id % 2 = 1 GROUP BY 1, 2),
       rb AS (
         SELECT user_id, event_type AS lb FROM (
           SELECT user_id, event_type, row_number() OVER (
             PARTITION BY user_id ORDER BY c DESC, event_type) AS rn
           FROM cb0) t WHERE rn = 1),
       j AS (SELECT ra.user_id, la, lb FROM ra JOIN rb USING (user_id)),
       tot AS (
         SELECT count(*)::BIGINT AS n,
           count(*) FILTER (WHERE la = lb)::BIGINT AS agree
         FROM j),
       ma AS (SELECT la AS lab, count(*)::BIGINT AS ca FROM j GROUP BY 1),
       mb AS (SELECT lb AS lab, count(*)::BIGINT AS cb FROM j GROUP BY 1),
       ch AS (
         SELECT coalesce(sum(ca * cb), 0)::BIGINT AS s
         FROM ma JOIN mb USING (lab))
       SELECT n AS n_items, agree AS n_agree,
         floor(agree::DOUBLE / n * 1e6 + 0.5) / 1e6 AS po,
         floor(s::DOUBLE / (n * n) * 1e6 + 0.5) / 1e6 AS pe,
         CASE WHEN n * n = s THEN NULL
           ELSE floor((agree * n - s)::DOUBLE / (n * n - s) * 1e6 + 0.5)
             / 1e6 END AS kappa
       FROM tot CROSS JOIN ch"""

  /** ROC-AUC of a score against a boolean label via the Mann-Whitney
    * rank-sum — the standard acceptance metric for a quality classifier
    * or reranker before its threshold gates a training corpus. Handles
    * tied scores exactly (each tie group contributes half-credit), which
    * matters because real quality scores are quantized.
    *
    * Cross-engine determinism: group by distinct score, then over the
    * score-ordered group relation
    *   2U = Σ_s p(s)·(2·neg_lt(s) + g(s))
    * (p/g = positive/negative count at score s, neg_lt = negatives
    * strictly below s) — exact BIGINT algebra; AUC = 2U / (2·n⁺·n⁻) is
    * ONE correctly-rounded double division, then binary-deterministic
    * floor(x·1e6+0.5)/1e6. Degenerate inputs (no positives or no
    * negatives) yield null, same on both engines.
    *
    * Scale design: the corpus-sized relation collapses map-side into
    * (score → counts) partials before its only exchange. The DEFAULT
    * `quantized = false` assumes a CONTINUOUS score domain — the safe
    * assumption for raw model scores — and routes the running sum
    * through the [[DistributedPrefix]] two-pass machinery, so no
    * single-task window ever appears no matter how many distinct scores
    * exist (cost: plan construction runs the seed pass eagerly). Pass
    * `quantized = true` when scores are int8/fixed-point quantized
    * (q43's own output shape): the bounded distinct-score relation then
    * rides one cheap lazily-planned cumulative window instead. Nothing
    * row-sized crosses the wire twice either way.
    */
  def rocAuc(scored: DataFrame, label: Column, score: Column,
      quantized: Boolean = false): DataFrame = {
    val byScore = scored.groupBy(score.as("s")).agg(
      count(when(label, 1)).as("p"),
      count(when(!label, 1)).as("g"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked =
      if (quantized)
        byScore.withColumn("neg_lt",
          coalesce(sum(col("g")).over(w), lit(0L)))
      else
        DistributedPrefix.cumSums(byScore, Nil, Seq(col("s")), Seq("g"))
          .withColumn("neg_lt", col("cum_g") - col("g"))
    ranked
      .agg(sum(col("p")).as("n_pos"), sum(col("g")).as("n_neg"),
        sum(col("p") * (lit(2L) * col("neg_lt") + col("g"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(bin6(col("u2").cast("double")
            / (lit(2L) * col("n_pos") * col("n_neg")))).as("auc"))
  }

  // ---- q154: classifier ROC-AUC (rank-sum with ties) --------------------------
  // Does document length separate English from the rest? n_chars is the
  // score (heavily tied — the tie-handling path is exercised for real),
  // lang='en' the label. The oracle replays the identical integer algebra.
  private def q154(s: SparkSession, d: String): DataFrame =
    rocAuc(Tables.documents(s, d), col("lang") === "en", col("n_chars"),
      quantized = true)
  private val q154Sql =
    """WITH byscore AS (
         SELECT n_chars AS s,
           count(*) FILTER (WHERE lang = 'en')::BIGINT AS p,
           count(*) FILTER (WHERE lang <> 'en')::BIGINT AS g
         FROM documents GROUP BY 1),
       r AS (
         SELECT p, g, coalesce(sum(g) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS neg_lt
         FROM byscore),
       t AS (
         SELECT sum(p)::BIGINT AS n_pos, sum(g)::BIGINT AS n_neg,
           sum(p * (2 * neg_lt + g))::BIGINT AS u2
         FROM r)
       SELECT n_pos, n_neg, u2,
         CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
           ELSE floor(u2::DOUBLE / (2 * n_pos * n_neg) * 1e6 + 0.5) / 1e6
           END AS auc
       FROM t"""

  /** Gini coefficient of a per-group weight relation — the concentration
    * summary behind "is the corpus dominated by a few sources?" and
    * "is one user generating most of the events?" checks that decide
    * per-source caps and repartitioning keys.
    *
    * Cross-engine determinism: with weights x sorted ascending and
    * ranked i = 1..n,  G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) — exact
    * BIGINT numerator and denominator, ONE double division, bin6.
    * Rank assignment among equal weights is arbitrary but Σ i·xᵢ is
    * invariant under permuting ties, so the output is deterministic.
    * Zero total (or an empty input) yields null on both engines.
    *
    * Scale design: callers pass an already-aggregated (group, weight)
    * relation, so the ranked window runs over group cardinality (users,
    * sources — thousands), not rows; the corpus-sized pass is the
    * caller's groupBy with map-side partials.
    */
  def gini(grouped: DataFrame, valueCol: String): DataFrame = {
    val ranked = grouped
      .select(col(valueCol).cast("long").as("x"))
      .withColumn("i", row_number().over(Window.orderBy(col("x"))))
    ranked
      .agg(count(lit(1)).as("n_groups"), sum(col("x")).as("total"),
        sum(col("i").cast("long") * col("x")).as("s1"))
      .select(col("n_groups"), col("total"),
        when(col("total").isNull || col("total") === 0,
          lit(null).cast("double"))
          .otherwise(bin6(
            (lit(2L) * col("s1") - (col("n_groups") + 1) * col("total"))
              .cast("double") / (col("n_groups") * col("total"))))
          .as("gini"))
  }

  /** Precision/recall/F1 operating table: the confusion matrix and the
    * three derived rates at EVERY occurring score threshold ("predict
    * positive when score ≥ t") — what you read to pick the quality-
    * classifier cutoff that [[rocAuc]] summarizes. One row per distinct
    * score, ordered by threshold.
    *
    * Cross-engine determinism: tp/fp are inclusive running sums over the
    * score-descending distinct-score relation — exact BIGINTs, as are the
    * fn/tn complements. precision = tp/(tp+fp) (denominator ≥ 1 at every
    * occurring threshold), recall = tp/P (null when P = 0), and
    * F1 = 2·tp/((tp+fp)+P) are each ONE double division + the
    * binary-deterministic floor(x·1e6+0.5)/1e6; F1's denominator is
    * always positive and tp = 0 yields exactly 0.0.
    *
    * Scale design: same shape as [[rocAuc]] — the corpus collapses
    * map-side to (score → counts) partials before its only exchange;
    * windows and totals run over the distinct-score relation (bounded
    * for quantized model scores; `quantized = false` swaps the window
    * for the [[DistributedPrefix]] two-pass sum when the score domain is
    * continuous), with the totals row broadcast and the byScore subtree
    * shared via ReuseExchange.
    */
  def prCurve(scored: DataFrame, label: Column, score: Column,
      quantized: Boolean = false): DataFrame = {
    val byScore = scored.groupBy(score.as("s")).agg(
      count(when(label, 1)).as("p"),
      count(when(!label, 1)).as("g"))
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum =
      if (quantized)
        byScore.select(col("s"),
          sum(col("p")).over(w).as("tp"), sum(col("g")).over(w).as("fp"))
      else
        DistributedPrefix
          .cumSums(byScore, Nil, Seq(col("s").desc), Seq("p", "g"))
          .select(col("s"), col("cum_p").as("tp"), col("cum_g").as("fp"))
    val tot = byScore.agg(sum(col("p")).as("pos"), sum(col("g")).as("neg"))
    cum.crossJoin(broadcast(tot))
      .select(col("s").as("threshold"), col("tp"), col("fp"),
        (col("pos") - col("tp")).as("fn"), (col("neg") - col("fp")).as("tn"),
        bin6(col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"),
        when(col("pos") === 0, lit(null).cast("double"))
          .otherwise(bin6(col("tp").cast("double") / col("pos"))).as("rec"),
        bin6((lit(2L) * col("tp")).cast("double")
          / (col("tp") + col("fp") + col("pos"))).as("f1"))
      .orderBy(col("threshold"))
  }

  // ---- q157: precision/recall operating table ---------------------------------
  // Same label/score pair as q154 (lang='en' vs n_chars), so the eval
  // suite reads as one coherent report: AUC summary + operating curve.
  private def q157(s: SparkSession, d: String): DataFrame =
    prCurve(Tables.documents(s, d), col("lang") === "en", col("n_chars"),
      quantized = true)
  private val q157Sql =
    """WITH byscore AS (
         SELECT n_chars AS s,
           count(*) FILTER (WHERE lang = 'en')::BIGINT AS p,
           count(*) FILTER (WHERE lang <> 'en')::BIGINT AS g
         FROM documents GROUP BY 1),
       cum AS (
         SELECT s,
           sum(p) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)::BIGINT AS tp,
           sum(g) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)::BIGINT AS fp
         FROM byscore),
       tot AS (
         SELECT sum(p)::BIGINT AS pos, sum(g)::BIGINT AS neg FROM byscore)
       SELECT s AS threshold, tp, fp, (pos - tp) AS fn, (neg - fp) AS tn,
         floor(tp::DOUBLE / (tp + fp) * 1e6 + 0.5) / 1e6 AS prec,
         CASE WHEN pos = 0 THEN NULL
           ELSE floor(tp::DOUBLE / pos * 1e6 + 0.5) / 1e6 END AS rec,
         floor((2 * tp)::DOUBLE / (tp + fp + pos) * 1e6 + 0.5) / 1e6 AS f1
       FROM cum CROSS JOIN tot ORDER BY threshold"""

  /** Adjusted Rand Index between two categorical partitions of the same
    * rows — the chance-corrected agreement of two clusterings, and the
    * standard acceptance metric for "does my cheap clustering reproduce
    * the reference labels?" (IVF buckets vs labels, language vs topic).
    * [[interRaterKappa]] is its per-item cousin; ARI compares PAIR
    * co-membership, so it is label-permutation-invariant.
    *
    * Cross-engine determinism: with contingency counts n_ij, doubled pair
    * counts I2 = Σ n_ij(n_ij−1), A2/B2 the same over row/column marginals,
    * and n2 = n(n−1):
    *   ARI = 2·(I2·n2 − A2·B2) / (n2·(A2+B2) − 2·A2·B2)
    * — exact BIGINT numerator and denominator (safe through ~10⁶ rows;
    * beyond, promote the factor chain to doubles in fixed order), ONE
    * double division + bin6. Degenerate partitions (both trivial:
    * everything one cluster, or all singletons) make the denominator 0
    * → null on both engines.
    *
    * Scale design: ONE corpus-sized aggregation to the |A|·|B| contingency
    * relation (map-side partials); marginals and totals re-aggregate that
    * small relation and join back as broadcast single rows.
    */
  def adjustedRand(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("nij"))
    val tot = cells.agg(sum(col("nij")).as("n"),
      sum(col("nij") * (col("nij") - 1)).as("i2"))
    val ra = cells.groupBy(col("a")).agg(sum(col("nij")).as("ai"))
      .agg(sum(col("ai") * (col("ai") - 1)).as("a2"))
    val rb = cells.groupBy(col("b")).agg(sum(col("nij")).as("bj"))
      .agg(sum(col("bj") * (col("bj") - 1)).as("b2"))
    val n2 = col("n") * (col("n") - 1)
    val den = n2 * (col("a2") + col("b2")) - lit(2L) * col("a2") * col("b2")
    tot.crossJoin(broadcast(ra)).crossJoin(broadcast(rb))
      .select(col("n"), col("i2"), col("a2"), col("b2"),
        when(den === 0, lit(null).cast("double"))
          .otherwise(bin6(
            (lit(2L) * (col("i2") * n2 - col("a2") * col("b2"))).cast("double")
              / den)).as("ari"))
  }

  // ---- q158: adjusted Rand index (lang vs source partitions) ------------------
  // How much does the language partition of the corpus agree with the
  // source partition, beyond chance? The oracle replays the doubled
  // pair-count algebra on the same contingency table.
  private def q158(s: SparkSession, d: String): DataFrame =
    adjustedRand(Tables.documents(s, d), "lang", "source")
  private val q158Sql =
    """WITH cells AS (
         SELECT lang AS a, source AS b, count(*)::BIGINT AS nij
         FROM documents GROUP BY 1, 2),
       t AS (
         SELECT sum(nij)::BIGINT AS n,
           sum(nij * (nij - 1))::BIGINT AS i2
         FROM cells),
       ra AS (
         SELECT sum(ai * (ai - 1))::BIGINT AS a2 FROM (
           SELECT sum(nij)::BIGINT AS ai FROM cells GROUP BY a) x),
       rb AS (
         SELECT sum(bj * (bj - 1))::BIGINT AS b2 FROM (
           SELECT sum(nij)::BIGINT AS bj FROM cells GROUP BY b) x)
       SELECT n, i2, a2, b2,
         CASE WHEN n * (n - 1) * (a2 + b2) - 2 * a2 * b2 = 0 THEN NULL
           ELSE floor((2 * (i2 * n * (n - 1) - a2 * b2))::DOUBLE
             / (n * (n - 1) * (a2 + b2) - 2 * a2 * b2) * 1e6 + 0.5) / 1e6
           END AS ari
       FROM t CROSS JOIN ra CROSS JOIN rb"""

  // ---- q156: activity concentration (Gini) ------------------------------------
  // How concentrated is event volume across users? The per-user count
  // relation feeds the exact rank-sum Gini.
  private def q156(s: SparkSession, d: String): DataFrame =
    gini(Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events")), "n_events")
  private val q156Sql =
    """WITH c AS (
         SELECT user_id, count(*)::BIGINT AS x FROM events GROUP BY 1),
       r AS (SELECT x, row_number() OVER (ORDER BY x) AS i FROM c),
       t AS (
         SELECT count(*)::BIGINT AS n_groups, sum(x)::BIGINT AS total,
           sum(i * x)::BIGINT AS s1
         FROM r)
       SELECT n_groups, total,
         CASE WHEN total IS NULL OR total = 0 THEN NULL
           ELSE floor((2 * s1 - (n_groups + 1) * total)::DOUBLE
             / (n_groups * total) * 1e6 + 0.5) / 1e6 END AS gini
       FROM t"""

  /** Deterministic Poisson-bootstrap confidence interval for a corpus
    * mean — the error bar on "did this filter change mean document
    * quality?" that a point estimate alone can't give. Each of B replicas
    * reweights every row by a Poisson(1) draw (the large-n limit of
    * sampling n rows with replacement), the replica means are ranked, and
    * the nearest-rank 5th/95th percentiles bound the CI.
    *
    * Cross-engine determinism: the draw is the md5 family every sampler
    * here uses — the first 4 hex chars of md5(key "-" replica) compared
    * against the Poisson(1) CDF quantized to 1/65536 (hex-string
    * thresholds, so neither engine needs hex→int conversion) — and the
    * replica mean is exact BIGINT algebra: (1e6·Σwx) div Σw. Ranking ties
    * break on replica id.
    *
    * Scale design: rows explode ×B map-side but collapse to B partial
    * rows per partition in the same stage (hash agg on the replica id) —
    * the exchange carries B·partitions rows, NOT corpus×B; the ranked
    * window runs over the B-row replica relation. This is the
    * bag-of-little-bootstraps shape: resampling a 100-TB corpus costs one
    * scan.
    */
  def bootstrapCi(df: DataFrame, keyCol: Column, valueCol: Column,
      replicas: Int = 64): DataFrame = {
    require(replicas >= 20, "nearest-rank 5%/95% needs at least 20 replicas")
    val loRank = (replicas * 5 + 99) / 100 // nearest-rank ceil(.05 B)
    val hiRank = (replicas * 95 + 99) / 100 // ceil(.95 B)
    val drawn = df
      .select(keyCol.cast("string").as("k"), valueCol.cast("long").as("x"))
      .select(col("k"), col("x"),
        explode(sequence(lit(0), lit(replicas - 1))).as("b"))
      .withColumn("u", substring(
        md5(concat(col("k"), lit("-"), col("b").cast("string"))
          .cast("binary")), 1, 4))
      .withColumn("w", poissonWeight(col("u")))
    val per = drawn.groupBy(col("b"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"))
      .select(col("b"), when(col("sw") === 0, lit(null).cast("long"))
        .otherwise(expr("(1000000 * swx) div sw")).as("mean_micro"))
    // asc_nulls_last EXPLICITLY: a zero-weight replica (possible at tiny
    // n — P ≈ 0.368^n per replica) yields a NULL mean; Spark's default
    // asc is NULLS FIRST while DuckDB's is NULLS LAST, which would shift
    // every rank and silently move the CI bounds between engines.
    per
      .withColumn("rn",
        row_number().over(
          Window.orderBy(col("mean_micro").asc_nulls_last, col("b"))))
      .agg(count(lit(1)).as("n_replicas"),
        expr("sum(mean_micro) div count(1)").as("est_micro"),
        max(when(col("rn") === loRank, col("mean_micro"))).as("lo_micro"),
        max(when(col("rn") === hiRank, col("mean_micro"))).as("hi_micro"))
  }

  /** Poisson(1) weight from a 4-hex-char uniform draw: CDF thresholds
    * floor(F(k)·65536) rendered as hex strings — lexicographic order on
    * fixed-width lowercase hex IS numeric order, identically in any
    * engine. */
  private def poissonWeight(hex4: Column): Column =
    when(hex4 < "5e2d", 0L).when(hex4 < "bc5a", 1L).when(hex4 < "eb71", 2L)
      .when(hex4 < "fb23", 3L).when(hex4 < "ff10", 4L).when(hex4 < "ffd9", 5L)
      .when(hex4 < "fffa", 6L).otherwise(7L)

  // ---- q160: bootstrap CI on mean document length -----------------------------
  private def q160(s: SparkSession, d: String): DataFrame =
    bootstrapCi(Tables.documents(s, d), col("doc_id"), col("n_chars"))
  private val q160Sql =
    """WITH reps AS (SELECT unnest(range(0, 64)) AS b),
       drawn AS (
         SELECT r.b, d.n_chars::BIGINT AS x,
           substr(md5(d.doc_id::VARCHAR || '-' || r.b::VARCHAR), 1, 4) AS u
         FROM documents d CROSS JOIN reps r),
       w AS (
         SELECT b, x,
           (CASE WHEN u < '5e2d' THEN 0 WHEN u < 'bc5a' THEN 1
                 WHEN u < 'eb71' THEN 2 WHEN u < 'fb23' THEN 3
                 WHEN u < 'ff10' THEN 4 WHEN u < 'ffd9' THEN 5
                 WHEN u < 'fffa' THEN 6 ELSE 7 END)::BIGINT AS w
         FROM drawn),
       per AS (
         SELECT b,
           CASE WHEN sum(w)::BIGINT = 0 THEN NULL
             ELSE (1000000 * sum(w * x)::BIGINT) // sum(w)::BIGINT
             END AS mean_micro
         FROM w GROUP BY b),
       ranked AS (
         SELECT b, mean_micro,
           row_number() OVER (ORDER BY mean_micro NULLS LAST, b) AS rn
         FROM per)
       SELECT count(*)::BIGINT AS n_replicas,
         (sum(mean_micro)::BIGINT // count(*))::BIGINT AS est_micro,
         max(CASE WHEN rn = 4 THEN mean_micro END)::BIGINT AS lo_micro,
         max(CASE WHEN rn = 61 THEN mean_micro END)::BIGINT AS hi_micro
       FROM ranked"""

  /** Simplified (centroid-based) silhouette per cluster — the clustering
    * quality companion to [[adjustedRand]] when there are no reference
    * labels: a = distance to the assigned centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [0,1] (cosine distance;
    * a ≤ b by construction of the assignment). Mean s near 0 means the
    * clusters don't separate — re-seed before using them for IVF routing
    * or semantic dedup.
    *
    * Scale design: the K centroids broadcast; the per-point top-2 scores
    * route through [[Similarity.rankTopK]]'s window group limit (2 rows
    * per point per map partition reach the exchange, not the N·K scored
    * relation). The
    * silhouette algebra then runs on micro-quantized BIGINTs — per-point
    * s_micro = (c1−c2)·1e6 div (1e6−c2) — so cluster means are exact
    * integer sums, deterministic under any partitioning.
    */
  def silhouette(vectors: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, centIdCol: String, centVecCol: String): DataFrame = {
    import graft.functions.TextFunctions.cosine
    val scored = vectors.crossJoin(broadcast(centroids))
      .select(col(idCol).as("query_id"), col(centIdCol).as("neighbor_id"),
        cosine(col(vecCol), col(centVecCol)).as("c"))
    val per = Similarity.rankTopK(scored, 2)
      .groupBy(col("query_id"))
      .agg(max(when(col("rank") === 1,
          struct(col("neighbor_id"), col("cos_sim")))).as("b1"),
        max(when(col("rank") === 2, col("cos_sim"))).as("cs2"))
      .select(col("b1.neighbor_id").as("cluster_id"),
        floor(col("b1.cos_sim") * 1e6 + 0.5).as("c1m"),
        floor(coalesce(col("cs2"), col("b1.cos_sim")) * 1e6 + 0.5).as("c2m"))
      .withColumn("s_micro",
        when(col("c2m") >= 1000000L, lit(0L))
          .otherwise(floor((col("c1m") - col("c2m")).cast("double")
            / (lit(1000000L) - col("c2m")) * 1e6 + 0.5)))
    per.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        expr("sum(s_micro) div count(1)").as("mean_s_micro"))
      .orderBy(col("cluster_id"))
  }

  // ---- q161: silhouette of the q44 seed clustering ----------------------------
  // Same seeds as q44 (vec_id < 8): how well do those eight anchors
  // actually partition the embedding space they were drafted to route?
  private def q161(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    silhouette(emb, cents, "vec_id", "embedding", "centroid_id", "cent")
  }
  private val q161Sql =
    """WITH cents AS (
         SELECT vec_id AS centroid_id, embedding AS cent FROM embeddings
         WHERE vec_id < 8),
       scored AS (
         SELECT e.vec_id, c.centroid_id,
           list_sum(list_transform(range(1, len(e.embedding) + 1),
             k -> e.embedding[k]::DOUBLE * c.cent[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(c.cent, x -> x::DOUBLE * x::DOUBLE))))
             AS cs
         FROM embeddings e CROSS JOIN cents c),
       top AS (
         SELECT vec_id, centroid_id, round(cs, 6) AS cs6,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY cs DESC, centroid_id) AS rn
         FROM scored),
       per AS (
         SELECT vec_id,
           max(CASE WHEN rn = 1 THEN centroid_id END) AS cluster_id,
           floor(max(CASE WHEN rn = 1 THEN cs6 END) * 1e6 + 0.5)::BIGINT AS c1m,
           floor(coalesce(max(CASE WHEN rn = 2 THEN cs6 END),
                          max(CASE WHEN rn = 1 THEN cs6 END)) * 1e6 + 0.5)::BIGINT
             AS c2m
         FROM top WHERE rn <= 2 GROUP BY vec_id),
       sil AS (
         SELECT cluster_id,
           (CASE WHEN c2m >= 1000000 THEN 0
              ELSE floor((c1m - c2m)::DOUBLE / (1000000 - c2m) * 1e6 + 0.5)
              END)::BIGINT AS s_micro
         FROM per)
       SELECT cluster_id, count(*)::BIGINT AS n_members,
         (sum(s_micro)::BIGINT // count(*))::BIGINT AS mean_s_micro
       FROM sil GROUP BY cluster_id ORDER BY cluster_id"""

  /** Calibration (reliability) table for a score used as a probability:
    * rows bucket into `bins` equal score bands, and each band reports
    * mean normalized score (confidence) beside the observed positive rate
    * (accuracy) plus their gap — the per-band decomposition of expected
    * calibration error. An over-confident quality classifier passes
    * [[rocAuc]] (ranking is calibration-free) and still mis-sizes every
    * threshold-gated corpus cut; this is the table that catches it.
    *
    * Integer end to end: bin = (bins·score) div max_score (clamped to
    * [0, bins−1]), confidence = (1e6·Σscore) div (n·max), accuracy =
    * (1e6·positives) div n — no floating point anywhere, so no
    * summation-order or rounding divergence between engines. The one
    * BIGINT headroom bound: 1e6·Σscore per bin must fit in 63 bits, i.e.
    * a bin's score sum below ~9.2e12 — beyond that (extreme corpus ×
    * score scale) pre-scale the score column down; the math stays exact.
    * One partial-aggregated pass over the corpus plus a broadcast
    * single-row max.
    *
    * Domain guards: negative scores are dropped (a negative
    * "probability" has no calibration meaning), and a non-positive max
    * (empty or all-zero input) collapses to single bin 0 with null
    * confidence instead of an ANSI division-by-zero error.
    */
  def calibrationBins(df: DataFrame, label: Column, score: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least two calibration bins")
    val scored = df.select(label.as("y"), score.cast("long").as("sc"))
      .filter(col("sc") >= 0)
    val mx = scored.agg(max(col("sc")).as("mx"))
    scored
      .crossJoin(broadcast(mx))
      .select(when(col("mx") <= 0, lit(0L))
        .otherwise(greatest(lit(0L),
          least(expr(s"($bins * sc) div mx"), lit(bins - 1L)))).as("bin"),
        col("y"), col("sc"), col("mx"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        expr("CASE WHEN max(mx) <= 0 THEN NULL" +
          " ELSE (1000000 * sum(sc)) div (count(1) * max(mx)) END")
          .as("conf_micro"))
      .withColumn("acc_micro", expr("(1000000 * n_pos) div n"))
      .withColumn("gap_micro", abs(col("conf_micro") - col("acc_micro")))
      .orderBy(col("bin"))
  }

  // ---- q162: calibration of length-as-English-probability ---------------------
  // The q154/q157 classifier read as a probability: length separates
  // 'en' by ranking, but is it calibrated? (It is not — which is the
  // point of the table.)
  private def q162(s: SparkSession, d: String): DataFrame =
    calibrationBins(Tables.documents(s, d), col("lang") === "en",
      col("n_chars"))
  private val q162Sql =
    """WITH t AS (
         SELECT lang = 'en' AS y, n_chars::BIGINT AS sc FROM documents
         WHERE n_chars >= 0),
       m AS (SELECT max(sc)::BIGINT AS mx FROM t),
       b AS (SELECT CASE WHEN mx <= 0 THEN 0
               ELSE greatest(0, least((10 * sc) // mx, 9)) END AS bin,
               y, sc, mx
             FROM t CROSS JOIN m),
       g AS (
         SELECT bin, count(*)::BIGINT AS n,
           sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
           (CASE WHEN max(mx) <= 0 THEN NULL
              ELSE (1000000 * sum(sc)::BIGINT) // (count(*) * max(mx))
              END)::BIGINT AS conf_micro
         FROM b GROUP BY bin)
       SELECT bin, n, n_pos, conf_micro,
         ((1000000 * n_pos) // n)::BIGINT AS acc_micro,
         abs(conf_micro - ((1000000 * n_pos) // n))::BIGINT AS gap_micro
       FROM g ORDER BY bin"""

  /** Split conformal prediction intervals per group, with a held-out
    * coverage audit — the distribution-free "how wide must the error bar
    * be" primitive (Vovk et al.; Lei et al. 2018). Rows hash-split
    * train/cal/test on the SAME md5 draw as [[PipelineOps.splitAssign]]
    * (stable under corpus growth, reproducible cross-engine). The model
    * is deliberately the simplest honest one — the per-group train mean
    * (truncating integer division) — because conformal's guarantee is
    * model-agnostic: the radius is the k-th smallest calibration
    * |y − ŷ| with k = ⌈(n_cal + 1)·(1 − α)⌉, and test coverage then
    * lands ≥ 1 − α in expectation REGARDLESS of how bad the mean model
    * is. Swap any scorer in upstream; the calibration algebra is
    * unchanged. When k > n_cal the conformal interval is infinite —
    * radius is NULL and every test row counts covered (the textbook
    * degenerate case, not an error).
    *
    * Exactness: values arrive as integers (cents, micros); the mean is
    * truncating division, residuals/radius are BIGINTs, k is an
    * exact integer ceiling, coverage is ppm integer division — no float
    * touches the pipeline, so both engines agree bitwise.
    *
    * Scale design: one map-side split + two group-sized aggregations;
    * the per-group model broadcasts back (|groups| rows); the only sort
    * is the per-group calibration order statistic (a window over cal
    * rows — group-sized, and only the k-th VALUE is consumed, so tie
    * order cannot leak nondeterminism). Groups missing a train, cal, or
    * test row drop out (no model, no radius, or nothing to audit).
    */
  def conformalIntervals(df: DataFrame, groupCol: Column, keyCol: Column,
      valueCol: Column, alphaMicro: Long = 100000L,
      trainW: Int = 128, calW: Int = 64, testW: Int = 64): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L, "alpha is micro")
    require(trainW + calW + testW == 256 &&
      trainW > 0 && calW > 0 && testW > 0, "split weights are /256")
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("y"),
      PipelineOps.splitAssign(keyCol,
        Seq("train" -> trainW, "cal" -> calW, "test" -> testW)).as("split"))
    val model = base.filter(col("split") === "train").groupBy(col("g"))
      .agg(count(lit(1)).as("n_train"), sum(col("y")).as("ty"))
      .select(col("g"), col("n_train"),
        expr("cast(ty as decimal(38,0)) div n_train").as("yhat"))
    val resid = base.filter(col("split") =!= "train")
      .join(broadcast(model), Seq("g"))
      .select(col("g"), col("split"), abs(col("y") - col("yhat")).as("r"))
    val calK = resid.filter(col("split") === "cal").groupBy(col("g"))
      .agg(count(lit(1)).as("n_cal"))
      .select(col("g"), col("n_cal"),
        expr(s"((n_cal + 1) * ${1000000L - alphaMicro} + 999999)" +
          " div 1000000").as("k"))
    val radius = resid.filter(col("split") === "cal")
      .join(broadcast(calK), Seq("g"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("g")).orderBy(col("r"))))
      .filter(col("rn") === col("k"))
      .select(col("g"), col("r").as("radius"))
    val cov = resid.filter(col("split") === "test")
      .join(broadcast(radius), Seq("g"), "left")
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("radius").isNull || col("r") <= col("radius"), 1L)
          .otherwise(0L)).as("n_covered"))
    model.join(calK, Seq("g")).join(radius, Seq("g"), "left")
      .join(cov, Seq("g"))
      .select(col("g"), col("n_train"), col("yhat"), col("n_cal"), col("k"),
        col("radius"), col("n_test"), col("n_covered"),
        expr("(1000000 * n_covered) div n_test").as("coverage_ppm"))
  }

  // ---- q364: conformal error bars on order totals per priority ----------------
  // 90% nominal; the per-priority mean is a weak model BY DESIGN — the
  // table shows conformal coverage holding anyway.
  private def q364(s: SparkSession, d: String): DataFrame =
    conformalIntervals(Tables.orders(s, d), col("o_orderpriority"),
        col("o_orderkey"), floor(col("o_totalprice") * 100),
        alphaMicro = 100000L)
      .orderBy(col("g"))
  private val q364Sql =
    """WITH base AS (
         SELECT o_orderpriority AS g,
           floor(o_totalprice * 100)::BIGINT AS y,
           CASE WHEN substr(md5(o_orderkey::VARCHAR), 1, 2) < '80'
                  THEN 'train'
                WHEN substr(md5(o_orderkey::VARCHAR), 1, 2) < 'c0'
                  THEN 'cal'
                ELSE 'test' END AS split
         FROM orders),
       model AS (
         SELECT g, count(*)::BIGINT AS n_train,
           (CASE WHEN sum(y) < 0 THEN -1 ELSE 1 END
             * (abs(sum(y))::HUGEINT // count(*)))::BIGINT AS yhat
         FROM base WHERE split = 'train' GROUP BY g),
       resid AS (
         SELECT b.g, b.split, abs(b.y - m.yhat)::BIGINT AS r
         FROM base b JOIN model m ON b.g = m.g WHERE b.split != 'train'),
       calk AS (
         SELECT g, count(*)::BIGINT AS n_cal,
           (((count(*) + 1) * 900000 + 999999) // 1000000)::BIGINT AS k
         FROM resid WHERE split = 'cal' GROUP BY g),
       rad AS (
         SELECT g, radius FROM (
           SELECT r.g, r.r AS radius, c.k,
             row_number() OVER (PARTITION BY r.g ORDER BY r.r) AS rn
           FROM resid r JOIN calk c ON r.g = c.g WHERE r.split = 'cal')
         WHERE rn = k),
       cov AS (
         SELECT r.g, count(*)::BIGINT AS n_test,
           sum(CASE WHEN rad.radius IS NULL OR r.r <= rad.radius
             THEN 1 ELSE 0 END)::BIGINT AS n_covered
         FROM resid r LEFT JOIN rad ON r.g = rad.g
         WHERE r.split = 'test' GROUP BY r.g)
       SELECT m.g, m.n_train, m.yhat, c.n_cal, c.k, rad.radius,
         cov.n_test, cov.n_covered,
         ((1000000 * cov.n_covered) // cov.n_test)::BIGINT AS coverage_ppm
       FROM model m
       JOIN calk c ON m.g = c.g
       LEFT JOIN rad ON m.g = rad.g
       JOIN cov ON m.g = cov.g
       ORDER BY m.g"""

  /** Conformal outlier screening with FDR control (Bates et al. 2023,
    * "Testing for outliers with conformal p-values"): score every TEST
    * row against a REFERENCE cohort and select the anomalies while
    * controlling the expected false-discovery rate at α — the
    * production question behind "which of today's rows don't look like
    * the reference", answered with a guarantee instead of a threshold
    * guess. Pipeline: reference rows hash-split train/cal (trainW +
    * calW = 256, the [[PipelineOps.splitAssign]] draw); the model is
    * the per-group train mean (deliberately simple — the guarantee is
    * model-agnostic, swap any scorer upstream); each test row's
    * conformal p is (1 + #{cal residuals ≥ r}) / (n_cal + 1) — exact
    * integer micro, super-uniform under exchangeability; then
    * Benjamini–Hochberg per group: k* = max{k : p₍ₖ₎·m ≤ k·α}
    * (compared in exact BIGINT cross-products, never a division),
    * select rank ≤ k*. Under exchangeability selections are RARE by
    * construction (that is FDR control working); they fire when the
    * test cohort genuinely drifts.
    *
    * Exactness: residuals and counts are BIGINTs; the p is one positive
    * floor division; BH is integer rank algebra with ties broken by id
    * (a tie order cannot change the selected SET — any tied row at or
    * below a passing rank is swept in by rank ≤ k*).
    *
    * Scale design: one map-side split + one group-sized model agg; the
    * p-count is ONE per-group window over cal ∪ test sorted by residual
    * (cal rows sort before tied test rows so ties count as ≥); BH is
    * two more group-sized windows. No joins beyond the broadcast model
    * and cal-count; groups missing train or test rows drop out.
    */
  def conformalFdrOutliers(df: DataFrame, groupCol: Column, keyCol: Column,
      valueCol: Column, isReference: Column, alphaMicro: Long = 100000L,
      trainW: Int = 192, calW: Int = 64): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L, "alpha is micro")
    require(trainW > 0 && calW > 0 && trainW + calW == 256,
      "reference split weights are /256")
    val base = df.select(groupCol.as("g"), keyCol.as("id"),
      valueCol.cast("long").as("y"), isReference.cast("boolean").as("ref"))
    val labeled = base.withColumn("split",
      when(!col("ref"), lit("test")).otherwise(
        PipelineOps.splitAssign(col("id"),
          Seq("train" -> trainW, "cal" -> calW))))
    val model = labeled.filter(col("split") === "train").groupBy(col("g"))
      .agg(count(lit(1)).as("n_train"), sum(col("y")).as("ty"))
      .select(col("g"),
        expr("cast(ty as decimal(38,0)) div n_train").as("yhat"))
    val resid = labeled.filter(col("split") =!= "train")
      .join(broadcast(model), Seq("g"))
      .select(col("g"), col("id"), col("split"),
        abs(col("y") - col("yhat")).as("r"))
    val nCal = resid.filter(col("split") === "cal").groupBy(col("g"))
      .agg(count(lit(1)).as("n_cal"))
    val wGe = Window.partitionBy(col("g"))
      .orderBy(col("r").desc, col("is_cal").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRank = Window.partitionBy(col("g")).orderBy(col("p_micro"), col("id"))
    val wAll = Window.partitionBy(col("g"))
    resid
      .withColumn("is_cal", when(col("split") === "cal", 1L).otherwise(0L))
      .withColumn("cnt_ge", sum(col("is_cal")).over(wGe))
      .filter(col("split") === "test")
      .join(broadcast(nCal), Seq("g"), "left")
      .withColumn("n_cal", coalesce(col("n_cal"), lit(0L)))
      .withColumn("p_micro",
        expr("(1 + cnt_ge) * 1000000L div (n_cal + 1)"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("m_tests", count(lit(1)).over(wAll))
      .withColumn("k_star", max(when(
        col("p_micro") * col("m_tests") <= col("rank") * lit(alphaMicro),
        col("rank"))).over(wAll))
      .withColumn("selected",
        col("k_star").isNotNull && col("rank") <= col("k_star"))
      .select(col("g"), col("id"), col("r"), col("n_cal"), col("p_micro"),
        col("rank"), col("m_tests"), col("selected"))
  }

  // ---- q373: which OPEN orders don't look like the FINISHED ones? --------------
  // Reference cohort = finished orders ('F', hash-split train/cal); test
  // cohort = everything still in flight ('O'/'P'); 10% FDR per priority.
  // Under TPC-H's status-independent totals the screen stays (near)
  // quiet — that IS the guarantee working; the spec plants real drift.
  private def q373(s: SparkSession, d: String): DataFrame =
    conformalFdrOutliers(Tables.orders(s, d), col("o_orderpriority"),
        col("o_orderkey"), floor(col("o_totalprice") * 100),
        col("o_orderstatus") === "F", alphaMicro = 100000L)
      .orderBy(col("g"), col("rank"))
  private val q373Sql =
    """WITH base AS (
         SELECT o_orderpriority AS g, o_orderkey AS id,
           floor(o_totalprice * 100)::BIGINT AS y,
           CASE WHEN o_orderstatus != 'F' THEN 'test'
                WHEN substr(md5(o_orderkey::VARCHAR), 1, 2) < 'c0'
                  THEN 'train'
                ELSE 'cal' END AS split
         FROM orders),
       model AS (
         SELECT g,
           (CASE WHEN sum(y) < 0 THEN -1 ELSE 1 END
             * (abs(sum(y))::HUGEINT // count(*)))::BIGINT AS yhat
         FROM base WHERE split = 'train' GROUP BY g),
       resid AS (
         SELECT b.g, b.id, b.split, abs(b.y - m.yhat)::BIGINT AS r
         FROM base b JOIN model m ON b.g = m.g WHERE b.split != 'train'),
       ncal AS (
         SELECT g, count(*)::BIGINT AS n_cal
         FROM resid WHERE split = 'cal' GROUP BY g),
       cnt AS (
         SELECT g, id, split, r,
           sum(CASE WHEN split = 'cal' THEN 1 ELSE 0 END) OVER (
             PARTITION BY g
             ORDER BY r DESC, (CASE WHEN split = 'cal' THEN 1 ELSE 0 END) DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_ge
         FROM resid),
       scored AS (
         SELECT c.g, c.id, c.r, coalesce(n.n_cal, 0) AS n_cal,
           ((1 + c.cnt_ge) * 1000000 // (coalesce(n.n_cal, 0) + 1))::BIGINT
             AS p_micro
         FROM cnt c LEFT JOIN ncal n ON c.g = n.g
         WHERE c.split = 'test'),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY g ORDER BY p_micro, id)
             ::BIGINT AS rank,
           count(*) OVER (PARTITION BY g)::BIGINT AS m_tests
         FROM scored),
       kstar AS (
         SELECT *, max(CASE WHEN p_micro * m_tests <= rank * 100000
             THEN rank END) OVER (PARTITION BY g) AS k_star
         FROM ranked)
       SELECT g, id, r, n_cal, p_micro, rank, m_tests,
         (k_star IS NOT NULL AND rank <= k_star) AS selected
       FROM kstar ORDER BY g, rank"""

  /** Simpson concentration (Herfindahl index) per group: Σ nᵢ² / n² over
    * a categorical distribution within the group, in integer micro-units
    * — the log-free diversity twin of [[gini]] (which needs a rank sort):
    * 1e6/|categories| = perfectly even, 1e6 = single-category. The
    * inverse (the "effective number of categories", also integer micro)
    * rides along. The pipeline read: per-user event-mix concentration,
    * per-source language concentration — is this slice dominated by one
    * mode?
    *
    * Exactness: counts are BIGINTs, Σ nᵢ² ≤ n² ≤ (corpus)² needs
    * n < ~3·10⁹ per group for the ·10⁶ product to stay in BIGINT —
    * per-key distributions, not corpus-wide ones (document the bound,
    * as with the q177 lift). Two stacked aggregations, both with
    * map-side partials; no window, no sort.
    */
  def simpsonConcentration(df: DataFrame, groupCol: String,
      catCol: String): DataFrame =
    df.groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_cats"), sum(col("c")).as("n"),
        sum(col("c") * col("c")).as("s2"))
      .select(col(groupCol), col("n_cats"), col("n"),
        expr("s2 * 1000000L div (n * n)").as("simpson_micro"),
        expr("(n * n) * 1000000L div s2").as("effective_micro"))

  /** Fleiss' kappa: chance-corrected agreement among a FIXED number r of
    * raters per item over k categories — the multi-rater generalization
    * of [[Profile]]'s Cohen's kappa (q152, two raters). The labeling-QA
    * read: are the r annotators of a batch actually agreeing beyond what
    * their marginal label rates predict?
    *
    * Exact rational algebra: with S = Σᵢ Σⱼ nᵢⱼ² and C = Σⱼ cⱼ² (both
    * BIGINT sums of integer counts),
    *   P̄  = (S − n·r) / (n·r·(r−1)),  P̄ₑ = C / (n²r²),
    *   κ  = (n·r·(S − n·r) − (r−1)·C) / ((r−1)·(n²r² − C))
    * after clearing denominators — so the only division is the final
    * micro-unit truncation. κ can be negative (worse than chance);
    * `num·10⁶ div den` truncates toward zero, as the oracle's `//` does.
    * Denominator bound: n²r²(r−1) < 2⁶³ caps items at ~10⁸ for r = 3 —
    * per-batch agreement runs, not corpus-wide (the q177 discipline).
    *
    * Scale: two stacked aggregations over (item, cat) counts — map-side
    * partials everywhere, no window, no sort; the input relation is one
    * row per (item, rater) label.
    */
  def fleissKappa(df: DataFrame, itemCol: String, catCol: String,
      raters: Int): DataFrame = {
    require(raters >= 2, "fleissKappa needs at least two raters")
    val r = raters.toLong
    val nij = df.groupBy(col(itemCol), col(catCol))
      .agg(count(lit(1)).as("c"))
    val s = nij.groupBy(col(itemCol)).agg(sum(col("c") * col("c")).as("si"))
      .agg(count(lit(1)).as("n"), sum(col("si")).as("S"))
    val cc = nij.groupBy(col(catCol)).agg(sum(col("c")).as("cj"))
      .agg(sum(col("cj") * col("cj")).as("C"))
    s.crossJoin(broadcast(cc))
      .select(col("n"), col("S"), col("C"),
        expr(s"(S - n * ${r}L) * 1000000L div (n * ${r}L * ${r - 1}L)")
          .as("p_bar_micro"),
        expr(s"C * 1000000L div (n * n * ${r * r}L)").as("p_e_micro"),
        expr(s"n * ${r}L * (S - n * ${r}L) - ${r - 1}L * C").as("num"),
        expr(s"${r - 1}L * (n * n * ${r * r}L - C)").as("den"))
      .select(col("n").as("n_items"), col("p_bar_micro"), col("p_e_micro"),
        expr("num * 1000000L div den").as("kappa_micro"))
  }

  // ---- q188: Fleiss' kappa over three simulated raters ------------------------
  // The fixture has no annotations, so three raters are SIMULATED with
  // the same integer expression on both engines (the q54 PII-injection
  // discipline): base label doc_id % 4; rater j flips to the next label
  // when (doc_id + j) % 5 = 0 — at most one dissenter per item, so the
  // oracle exercises genuine partial agreement, not a degenerate 1.0.
  private def q188(s: SparkSession, d: String): DataFrame =
    fleissKappa(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("j"))
        .select(col("doc_id"),
          expr("""CASE WHEN (doc_id + j) % 5 = 0
                  THEN (doc_id % 4 + 1) % 4 ELSE doc_id % 4 END""")
            .as("label")),
      "doc_id", "label", raters = 3)
  private val q188Sql =
    """WITH labels AS (
         SELECT doc_id,
           CASE WHEN (doc_id + j) % 5 = 0
                THEN (doc_id % 4 + 1) % 4 ELSE doc_id % 4 END AS label
         FROM documents, (SELECT unnest(range(0, 3)) AS j)),
       nij AS (
         SELECT doc_id, label, count(*)::BIGINT AS c
         FROM labels GROUP BY 1, 2),
       s AS (
         SELECT count(*)::BIGINT AS n, sum(si)::BIGINT AS S FROM (
           SELECT doc_id, sum(c * c) AS si FROM nij GROUP BY 1)),
       cc AS (
         SELECT sum(cj * cj)::BIGINT AS C FROM (
           SELECT label, sum(c) AS cj FROM nij GROUP BY 1))
       SELECT n AS n_items,
         ((S - n * 3) * 1000000 // (n * 3 * 2))::BIGINT AS p_bar_micro,
         (C * 1000000 // (n * n * 9))::BIGINT AS p_e_micro,
         (sign(n * 3 * (S - n * 3) - 2 * C)
           * (abs(n * 3 * (S - n * 3) - 2 * C) * 1000000
              // (2 * (n * n * 9 - C))))::BIGINT AS kappa_micro
       FROM s CROSS JOIN cc"""

  /** Wilson score interval for a per-group proportion: the
    * small-sample-safe confidence interval on "what fraction of this
    * source passes the filter" — unlike the normal (Wald) interval it
    * never leaves [0, 1] and stays honest at extreme rates, which is
    * exactly where curation keep-rates live.
    *
    * Cross-engine determinism: the interval is a fixed arithmetic tree
    * over (s, n, z²) — divisions, one sqrt, all IEEE correctly-rounded
    * single ops evaluated in the SAME shape on both engines (the q22
    * float-chain discipline), then round-6 with −0.0 canonicalization
    * (the lower bound can be a tiny negative float before rounding).
    * z² enters as one literal so no engine computes a power.
    *
    * Scale: one partial-aggregated groupBy; the interval math is
    * per-group scalar work on the collapsed relation.
    */
  def wilsonCi(df: DataFrame, groupCol: String, success: Column,
      z2Literal: Double = 3.8416 /* z = 1.96 */): DataFrame = {
    val z2 = lit(z2Literal)
    val n = col("n").cast("double")
    val p = col("s").cast("double") / n
    val denom = lit(1d) + z2 / n
    val center = (p + z2 / (lit(2d) * n)) / denom
    val half = sqrt(z2) * sqrt(p * (lit(1d) - p) / n +
      z2 / (lit(4d) * n * n)) / denom
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("s"))
      .select(col(groupCol), col("n"), col("s"),
        (round(p, 6) + lit(0.0)).as("p_hat"),
        (round(center - half, 6) + lit(0.0)).as("ci_lo"),
        (round(center + half, 6) + lit(0.0)).as("ci_hi"))
  }

  // ---- q193: keep-rate confidence intervals per language ----------------------
  // "n_chars > 600" plays the curation filter; the per-language pass
  // rates get Wilson 95% bounds a mixture decision can actually trust
  // at small n.
  private def q193(s: SparkSession, d: String): DataFrame =
    wilsonCi(Tables.documents(s, d), "lang", col("n_chars") > 600)
      .orderBy(col("lang"))
  private val q193Sql =
    """SELECT lang, n, s,
         round(p, 6) + 0.0 AS p_hat,
         round((p + 3.8416 / (2 * nd)) / (1 + 3.8416 / nd)
           - sqrt(3.8416) * sqrt(p * (1 - p) / nd
               + 3.8416 / (4 * nd * nd)) / (1 + 3.8416 / nd), 6) + 0.0
           AS ci_lo,
         round((p + 3.8416 / (2 * nd)) / (1 + 3.8416 / nd)
           + sqrt(3.8416) * sqrt(p * (1 - p) / nd
               + 3.8416 / (4 * nd * nd)) / (1 + 3.8416 / nd), 6) + 0.0
           AS ci_hi
       FROM (
         SELECT lang, count(*)::BIGINT AS n,
           sum(CASE WHEN n_chars > 600 THEN 1 ELSE 0 END)::BIGINT AS s,
           count(*)::DOUBLE AS nd,
           sum(CASE WHEN n_chars > 600 THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE AS p
         FROM documents GROUP BY lang) t
       ORDER BY lang"""

  /** Mann–Whitney U (Wilcoxon rank-sum): does `valueCol` stochastically
    * dominate between the two classes selected by `isClassA`, per group?
    * The nonparametric A/B read on skewed metrics where a t-test's
    * normality assumption is garbage — THE comparison a curation pipeline
    * runs on quality scores between two sources.
    *
    * Exact integer rank algebra (the q153 discipline): ties get midranks,
    * kept integral by carrying DOUBLED ranks — rank2 = 2·rank_min +
    * (ties − 1), where rank_min is SQL `rank()` and ties the count of
    * equal values in the group. Then 2·U₁ = Σ_A rank2 − n₁(n₁+1) and the
    * common-language effect size (= P(a > b) + ½P(a = b), the ROC AUC of
    * the class label) is U₁/(n₁n₂), floored to micro-units — every
    * quantity BIGINT until that one division, so both engines agree
    * bitwise. Bound: rank sums ≤ 2n² keep 10⁶-scaling inside BIGINT for
    * groups up to ~3·10⁶ rows; per-group ranking runs, not corpus-wide.
    *
    * Scale: one window (rank + tie count share a single partition-sort of
    * (group, value)) and one hash aggregation — no pair join, unlike the
    * O(n²) concordance counter; group cardinality partitions the work.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
      isClassA: Column, isClassB: Column): DataFrame = {
    val base = df.filter(isClassA || isClassB)
      .select(col(groupCol).as("g"), col(valueCol).as("v"),
        isClassA.as("is_a"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val tiew = Window.partitionBy(col("g"), col("v"))
    val ranked = base.select(col("g"), col("is_a"),
      (lit(2L) * rank().over(w) + count(lit(1)).over(tiew) - 1L)
        .as("rank2"))
    ranked.groupBy(col("g"))
      .agg(count(when(col("is_a"), 1)).as("n_a"),
        count(when(!col("is_a"), 1)).as("n_b"),
        sum(when(col("is_a"), col("rank2"))).as("r_a2"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("g").as(groupCol), col("n_a"), col("n_b"),
        (col("r_a2") - col("n_a") * (col("n_a") + 1L)).as("u2"),
        expr("(r_a2 - n_a * (n_a + 1L)) * 1000000L div (2L * n_a * n_b)")
          .as("auc_micro"))
  }

  // ---- q194: rank-sum test of order value across order status -----------------
  // Per priority class: do still-open orders ('O') carry systematically
  // larger totals than fulfilled ones ('F')? auc_micro near 500000 ⇒ no
  // shift.
  private def q194(s: SparkSession, d: String): DataFrame =
    mannWhitneyU(Tables.orders(s, d), "o_orderpriority", "o_totalprice",
      col("o_orderstatus") === "O", col("o_orderstatus") === "F")
      .orderBy(col("o_orderpriority"))
  private val q194Sql =
    """WITH base AS (
         SELECT o_orderpriority AS g, o_totalprice AS v,
           (o_orderstatus = 'O') AS is_a
         FROM orders WHERE o_orderstatus IN ('O', 'F')),
       ranked AS (
         SELECT g, is_a,
           2 * rank() OVER (PARTITION BY g ORDER BY v)
             + count(*) OVER (PARTITION BY g, v) - 1 AS rank2
         FROM base),
       agg AS (
         SELECT g, count(*) FILTER (WHERE is_a)::BIGINT AS n_a,
           count(*) FILTER (WHERE NOT is_a)::BIGINT AS n_b,
           sum(rank2) FILTER (WHERE is_a)::BIGINT AS r_a2
         FROM ranked GROUP BY g)
       SELECT g AS o_orderpriority, n_a, n_b,
         (r_a2 - n_a * (n_a + 1))::BIGINT AS u2,
         ((r_a2 - n_a * (n_a + 1)) * 1000000 // (2 * n_a * n_b))::BIGINT
           AS auc_micro
       FROM agg WHERE n_a > 0 AND n_b > 0
       ORDER BY o_orderpriority"""

  /** All-pairs correlation matrix over integer-quantized columns in ONE
    * aggregation pass: every Σxᵢ, Σxᵢ², Σxᵢxⱼ lands in the same
    * map-side-partial hash aggregate, so profiling k columns costs one
    * corpus scan instead of C(k,2) — the "which metrics move together"
    * table a dataset profile leads with.
    *
    * Inputs are caller-quantized to BIGINT units (cents, dollars —
    * correlation is scale-invariant, so the unit choice only needs to
    * keep Σx² inside 2⁵³ for exact double conversion; with that bound
    * every moment is an exact integer and the Pearson finish is the
    * identical correctly-rounded double path on both engines, rounded
    * to 6). Zero-variance columns yield null, not NaN.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val named = cols.map { case (nm, c) => nm -> c.cast("long") }
    val aggs = Seq(count(lit(1)).as("n")) ++
      named.map { case (nm, c) => sum(c).as(s"s_$nm") } ++
      named.map { case (nm, c) => sum(c * c).as(s"ss_$nm") } ++
      (for {
        i <- named.indices; j <- named.indices if i < j
      } yield sum(named(i)._2 * named(j)._2)
        .as(s"sp_${named(i)._1}__${named(j)._1}"))
    val agg = df.agg(aggs.head, aggs.tail: _*)
    val pairs = for {
      i <- named.indices; j <- named.indices if i < j
    } yield {
      val (a, b) = (named(i)._1, named(j)._1)
      // The n·Σx² products overflow BIGINT long before the sums do, so
      // the finish runs on exact-integer INPUTS cast to double — the
      // identical correctly-rounded FP path on both engines.
      def d(c: String) = col(c).cast("double")
      val va = d("n") * d(s"ss_$a") - d(s"s_$a") * d(s"s_$a")
      val vb = d("n") * d(s"ss_$b") - d(s"s_$b") * d(s"s_$b")
      val num = d("n") * d(s"sp_${a}__$b") - d(s"s_$a") * d(s"s_$b")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(va === 0d || vb === 0d, lit(null).cast("double"))
          .otherwise(round(num / (sqrt(va) * sqrt(vb)), 6) + lit(0.0))
          .as("corr"))
    }
    agg.select(explode(array(pairs: _*)).as("p")).select(col("p.*"))
  }

  /** Per-group Pearson correlation of two pre-quantized measures — the
    * keyed companion to [[corrMatrix]] ("does the discount–quantity
    * relationship differ by ship mode / brand / region?"). Same
    * determinism contract: the five moments accumulate as exact BIGINT
    * (callers quantize each measure so its per-group sums stay ≤ 2⁵³),
    * and the finish runs the identical correctly-rounded double path on
    * both engines, round6 + `+ 0.0` (r is negative-capable). Degenerate
    * groups (zero variance on either side) emit null, never NaN.
    *
    * Scale design: ONE partial-aggregated groupBy — each partition
    * collapses to |groups| moment rows map-side; no second pass, no
    * window, no join.
    */
  def groupedCorr(df: DataFrame, groupCol: Column,
      x: (String, Column), y: (String, Column)): DataFrame = {
    val (xc, yc) = (x._2.cast("long"), y._2.cast("long"))
    def d(c: String) = col(c).cast("double")
    val va = d("n") * d("ssx") - d("sx") * d("sx")
    val vb = d("n") * d("ssy") - d("sy") * d("sy")
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    df.groupBy(groupCol.as("g"))
      .agg(count(lit(1)).as("n"), sum(xc).as("sx"), sum(yc).as("sy"),
        sum(xc * xc).as("ssx"), sum(yc * yc).as("ssy"),
        sum(xc * yc).as("sxy"))
      .select(col("g"), col("n"),
        when(va === 0d || vb === 0d, lit(null).cast("double"))
          .otherwise(round(num / (sqrt(va) * sqrt(vb)), 6) + lit(0.0))
          .as(s"corr_${x._1}_${y._1}"))
  }

  // ---- q268: discount-quantity correlation per return flag --------------------
  // Same hundredths quantization as q214; three groups, one exchange of
  // three moment rows.
  private def q268(s: SparkSession, d: String): DataFrame =
    groupedCorr(Tables.lineitem(s, d), col("l_returnflag"),
        "disc" -> floor(col("l_discount") * 100),
        "qty" -> floor(col("l_quantity") * 100))
      .orderBy(col("g"))
  private[operators] val q268Sql =
    """WITH m AS (
         SELECT l_returnflag AS g, count(*)::BIGINT AS n,
           sum(floor(l_discount * 100)::BIGINT)::BIGINT AS sx,
           sum(floor(l_quantity * 100)::BIGINT)::BIGINT AS sy,
           sum(floor(l_discount * 100)::BIGINT
             * floor(l_discount * 100)::BIGINT)::BIGINT AS ssx,
           sum(floor(l_quantity * 100)::BIGINT
             * floor(l_quantity * 100)::BIGINT)::BIGINT AS ssy,
           sum(floor(l_discount * 100)::BIGINT
             * floor(l_quantity * 100)::BIGINT)::BIGINT AS sxy
         FROM lineitem GROUP BY 1)
       SELECT g, n,
         CASE WHEN (n::DOUBLE * ssx - sx::DOUBLE * sx) = 0
             OR (n::DOUBLE * ssy - sy::DOUBLE * sy) = 0 THEN NULL
           ELSE round((n::DOUBLE * sxy - sx::DOUBLE * sy)
             / (sqrt(n::DOUBLE * ssx - sx::DOUBLE * sx)
                * sqrt(n::DOUBLE * ssy - sy::DOUBLE * sy)), 6) + 0.0
           END AS corr_disc_qty
       FROM m ORDER BY g"""

  /** Gaps in an integer key sequence: each maximal missing run as
    * (gap_start, gap_end, n_missing) — the "did the loader drop a batch"
    * integrity check on any monotonically assigned id. Duplicates are
    * collapsed first so repeated ids can't fake continuity.
    *
    * Scale design: NO global-order window (a bare `lead` over the
    * corpus's distinct ids funnels everything through one task). The
    * distinct ids range-partition by id; each partition finds its
    * internal gaps with a per-(partition)-keyed lead, and the ≤
    * |partitions| boundary pairs (this partition's max, the next
    * non-empty partition's min) are driver metadata — the
    * DistributedPrefix seeding discipline applied to gap detection.
    */
  def sequenceGaps(df: DataFrame, idCol: Column,
      partitions: Int = 32): DataFrame = {
    val s = df.sparkSession
    val keyed = df.select(idCol.cast("long").as("id")).distinct()
      .repartitionByRange(partitions, col("id"))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(false) // stats-ok: one-shot partition-id snapshot
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_pid")).orderBy(col("id"))
    val inner = keyed
      .withColumn("nxt", lead(col("id"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") > col("id") + 1)
      .select((col("id") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"),
        (col("nxt") - col("id") - 1).as("n_missing"))
    // Partition boundary handoff: per-partition (min, max) is metadata.
    val bounds = keyed.groupBy(col("_pid"))
      .agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
      .orderBy(col("_pid"))
      .collect()
    val boundaryGaps = bounds.sliding(2).collect {
      case Array(a, b)
        if b.getAs[Long]("lo") > a.getAs[Long]("hi") + 1 =>
        (a.getAs[Long]("hi") + 1, b.getAs[Long]("lo") - 1,
          b.getAs[Long]("lo") - a.getAs[Long]("hi") - 1)
    }.toSeq
    import s.implicits._
    inner.unionAll(
      boundaryGaps.toDF("gap_start", "gap_end", "n_missing"))
  }

  // ---- q295: which keys are missing from the fulfilled-order extract? ---------
  // The F-status subset is a filtered feed, so its key sequence has
  // genuine gaps at every fixture scale (the full keyspace is dense) -
  // exactly the shape of a partial export whose completeness is audited.
  private def q295(s: SparkSession, d: String): DataFrame =
    sequenceGaps(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("o_orderkey"))
      .orderBy(col("gap_start"))
      .limit(200)
  private val q295Sql =
    """WITH ids AS (SELECT DISTINCT o_orderkey::BIGINT AS id FROM orders
         WHERE o_orderstatus = 'F'),
       x AS (
         SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids)
       SELECT (id + 1)::BIGINT AS gap_start, (nxt - 1)::BIGINT AS gap_end,
         (nxt - id - 1)::BIGINT AS n_missing
       FROM x WHERE nxt IS NOT NULL AND nxt > id + 1
       ORDER BY gap_start LIMIT 200"""

  /** Cramér's V association between two categorical columns — the
    * one-number summary the q241 per-cell residual table rolls up to
    * ("are status and priority related at all?", 0 = independent,
    * 1 = fully determined). Uses the zero-cell-free identity
    * χ² = n·(Σ_cells obs²/(rowtot·coltot) − 1), so only OBSERVED cells
    * are touched (an r×c dense materialization at 100 TB would
    * manufacture cells the data never produced). The inner sum
    * accumulates as per-cell floored micro-terms (the documented
    * floor-inside-the-sum convention — identical BIGINT terms on both
    * engines, no float summation order anywhere); flooring can leave
    * χ²_micro a hair under 0 on independent data, so it clamps at 0.
    * V = √(χ² / (n·min(r−1, c−1))) finishes on the one identical double
    * path, round6.
    *
    * Scale design: one partial-aggregated groupBy to the |r·c|-observed
    * cell relation; totals derive from it (metadata-sized) and broadcast
    * back; the corpus shuffles once.
    */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("obs"))
    val rt = cells.groupBy(col("a")).agg(sum(col("obs")).as("rt"))
    val ct = cells.groupBy(col("b")).agg(sum(col("obs")).as("ct"))
    cells.join(broadcast(rt), "a").join(broadcast(ct), "b")
      .agg(sum(col("obs")).as("n"),
        countDistinct(col("a")).as("r_cats"),
        countDistinct(col("b")).as("c_cats"),
        sum(expr("(obs * obs * 1000000L) div (rt * ct)")).as("s_micro"))
      .select(col("n"), col("r_cats"), col("c_cats"),
        greatest(lit(0L), expr("n * s_micro - n * 1000000L"))
          .as("chi2_micro"))
      .select(col("n"), col("r_cats"), col("c_cats"), col("chi2_micro"),
        when(col("r_cats") < 2 || col("c_cats") < 2,
            lit(null).cast("double"))
          .otherwise(round(
            sqrt(col("chi2_micro").cast("double") / lit(1e6)
              / (col("n") * least(col("r_cats"), col("c_cats")) - col("n"))
                .cast("double")), 6))
          .as("cramers_v"))
  }

  // ---- q272: is order priority independent of order status? -------------------
  private def q272(s: SparkSession, d: String): DataFrame =
    cramersV(Tables.orders(s, d), col("o_orderstatus"), col("o_orderpriority"))
  private val q272Sql =
    """WITH cells AS (
         SELECT o_orderstatus AS a, o_orderpriority AS b,
           count(*)::BIGINT AS obs
         FROM orders GROUP BY 1, 2),
       rt AS (SELECT a, sum(obs)::BIGINT AS rt FROM cells GROUP BY 1),
       ct AS (SELECT b, sum(obs)::BIGINT AS ct FROM cells GROUP BY 1),
       agg AS (
         SELECT sum(obs)::BIGINT AS n,
           count(DISTINCT cells.a)::BIGINT AS r_cats,
           count(DISTINCT cells.b)::BIGINT AS c_cats,
           sum((obs * obs * 1000000) // (rt.rt * ct.ct))::BIGINT AS s_micro
         FROM cells JOIN rt ON cells.a = rt.a JOIN ct ON cells.b = ct.b),
       chi AS (
         SELECT n, r_cats, c_cats,
           greatest(0, n * s_micro - n * 1000000)::BIGINT AS chi2_micro
         FROM agg)
       SELECT n, r_cats, c_cats, chi2_micro,
         CASE WHEN r_cats < 2 OR c_cats < 2 THEN NULL
           ELSE round(sqrt(chi2_micro::DOUBLE / 1e6
             / (n * least(r_cats, c_cats) - n)::DOUBLE), 6) END AS cramers_v
       FROM chi"""

  /** Join-fanout histogram: the full DISTRIBUTION of per-key group
    * sizes (size → n_keys, key share, row share) — the companion to
    * [[keySkew]]'s hot-key list: skew tells you WHO is hot, the fanout
    * histogram tells you whether the whole relation is join-safe
    * ("99.8% of orders have ≤ 7 lines; the p99 fanout is 7, not the
    * max"). Pure integer shares.
    *
    * Scale design: two metadata-sized collapses (rows → per-key sizes →
    * histogram) with map-side partials; totals broadcast back.
    */
  def fanoutHistogram(df: DataFrame, keyCol: Column): DataFrame = {
    val sizes = df.select(keyCol.as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy(col("sz").as("size"))
      .agg(count(lit(1)).as("n_keys"))
    hist.crossJoin(broadcast(hist.agg(sum(col("n_keys")).as("tk"),
        sum(col("n_keys") * col("size")).as("tr"))))
      .select(col("size"), col("n_keys"),
        expr("(n_keys * 1000000L) div tk").as("key_share_micro"),
        expr("(n_keys * size * 1000000L) div tr").as("row_share_micro"))
  }

  // ---- q309: how many lines does an order fan out to? -------------------------
  private def q309(s: SparkSession, d: String): DataFrame =
    fanoutHistogram(Tables.lineitem(s, d), col("l_orderkey"))
      .orderBy(col("size"))
  private val q309Sql =
    """WITH sizes AS (
         SELECT l_orderkey AS k, count(*)::BIGINT AS sz
         FROM lineitem GROUP BY 1),
       hist AS (
         SELECT sz AS size, count(*)::BIGINT AS n_keys
         FROM sizes GROUP BY 1),
       t AS (
         SELECT sum(n_keys)::BIGINT AS tk,
           sum(n_keys * size)::BIGINT AS tr
         FROM hist)
       SELECT size, n_keys,
         ((n_keys * 1000000) // tk)::BIGINT AS key_share_micro,
         ((n_keys * size * 1000000) // tr)::BIGINT AS row_share_micro
       FROM hist, t ORDER BY size"""

  /** One-way ANOVA in exact integer algebra: MEAN squares (between /
    * within, cents²) over cent-quantized values and the F statistic as
    * a micro ratio — "does the group mean differ at all" for k groups
    * at once, the parametric complement to the pairwise
    * [[mannWhitney]]. No floats anywhere: SS come from
    * N·Σ(s_g² div n_g) − S² widened through decimal(38,0), with the one
    * inner truncating division applied identically on both engines
    * (s_g² ≥ 0, so floor = trunc and DuckDB's `//` agrees with Spark's
    * `div`). The EMITTED columns are the variance-scale ms_between /
    * ms_within, not the raw SS: a sum of squared price-scale cents is
    * n·variance ≈ 9e19 already at sf0.1 — a BIGINT SS column would be
    * an overflow at 100 TB by construction (found by the r9 closing
    * gate's full-surface bench), while mean squares stay BIGINT-ranged
    * at any corpus size that fits an exchange.
    *
    * Scale design: one grouped collapse to k rows with map-side
    * partials, then k-row arithmetic — the corpus is touched once.
    */
  def anovaTable(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame =
    anovaOfCents(df.select(groupCol.as("g"),
      floor(valueCol * 100).cast("long").as("c")))

  /** The ANOVA integer algebra over a pre-built (g, c) cents relation —
    * shared by [[anovaTable]] (raw values) and [[brownForsythe]]
    * (median absolute deviations).
    */
  private def anovaOfCents(base: DataFrame): DataFrame = {
    val cells = base
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"), sum(col("c")).as("s_g"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("q_g"))
    cells.agg(
        count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
        // div yields LONG and each group's s_g²/n_g is already ~5e18 at
        // sf0.1 price scale — the SUM must accumulate in decimal (the
        // oracle sums HUGEINT), or the k-group total wraps.
        sum(expr("cast(cast(s_g as decimal(38,0)) * s_g div n_g" +
          " as decimal(38,0))")).as("t"))
      .select(col("k"), col("n"),
        // The inner truncation in t can push N·t − S² a hair negative
        // when the true SSB ≈ 0; Spark's div truncates toward zero while
        // DuckDB's // floors, so the clamp at 0 (SSB is ≥ 0 by
        // definition) is what keeps the engines bit-identical. The SS
        // stay DECIMAL(38,0): raw sums of squared cents grow with the
        // CORPUS (n·var ≈ 9e19 already at sf0.1 price scale — a BIGINT
        // SS column is an overflow at 100 TB by construction); only the
        // variance-SCALE mean squares below are emitted as BIGINTs.
        expr("""greatest(cast(0 as decimal(38,0)),
             cast((cast(n as decimal(38,0)) * t
             - cast(s as decimal(38,0)) * s) div n as decimal(38,0)))""")
          .as("ssb"),
        expr("""cast((cast(n as decimal(38,0)) * q
             - cast(s as decimal(38,0)) * s) div n as decimal(38,0))""")
          .as("sst"))
      .select(col("k"), col("n"),
        when(col("k") > 1, expr("cast(ssb div (k - 1) as long)"))
          .otherwise(lit(null).cast("long")).as("ms_between"),
        when(col("n") > col("k"),
          expr("cast((sst - ssb) div (n - k) as long)"))
          .otherwise(lit(null).cast("long")).as("ms_within"))
      .withColumn("f_micro",
        when(col("ms_between").isNotNull && col("ms_within").isNotNull,
          expr("""cast(cast(ms_between as decimal(38,0))
               * 1000000 div greatest(ms_within, 1L) as long)"""))
          .otherwise(lit(null).cast("long")))
  }

  // ---- q356: is purchase value genuinely higher than view value? --------------
  // Welch's t between the two event-type arms — the pairwise readout
  // q315's pooled F can't give (which pair differs, with what sign).
  private def q356(s: SparkSession, d: String): DataFrame =
    welchT(Tables.events(s, d), col("event_type"), col("value"),
      "purchase", "view")
  private[operators] val q356Sql =
    """WITH base AS (
         SELECT event_type AS g, floor(value * 100)::BIGINT AS c
         FROM events WHERE event_type IN ('purchase', 'view')),
       agg AS (
         SELECT count(*) FILTER (WHERE g = 'purchase')::BIGINT AS n_a,
           sum(c) FILTER (WHERE g = 'purchase')::BIGINT AS s_a,
           sum(c::HUGEINT * c) FILTER (WHERE g = 'purchase')::HUGEINT AS q_a,
           count(*) FILTER (WHERE g = 'view')::BIGINT AS n_b,
           sum(c) FILTER (WHERE g = 'view')::BIGINT AS s_b,
           sum(c::HUGEINT * c) FILTER (WHERE g = 'view')::HUGEINT AS q_b
         FROM base),
       v AS (
         SELECT *,
           (q_a::DOUBLE * n_a::DOUBLE - s_a::DOUBLE * s_a::DOUBLE)
             / (n_a::DOUBLE * (n_a::DOUBLE - 1)) AS va,
           (q_b::DOUBLE * n_b::DOUBLE - s_b::DOUBLE * s_b::DOUBLE)
             / (n_b::DOUBLE * (n_b::DOUBLE - 1)) AS vb
         FROM agg),
       se AS (
         SELECT *, va / n_a::DOUBLE AS sea, vb / n_b::DOUBLE AS seb,
           va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2
         FROM v)
       SELECT n_a, n_b,
         (CASE WHEN s_a < 0 THEN -1 ELSE 1 END
           * ((abs(s_a)::HUGEINT * 10000) // n_a))::BIGINT AS mean_a_micro,
         (CASE WHEN s_b < 0 THEN -1 ELSE 1 END
           * ((abs(s_b)::HUGEINT * 10000) // n_b))::BIGINT AS mean_b_micro,
         CASE WHEN n_a < 2 OR n_b < 2 OR se2 <= 0 THEN NULL
           ELSE floor(((s_a::DOUBLE / n_a::DOUBLE - s_b::DOUBLE / n_b::DOUBLE)
             / sqrt(se2)) * 1e6 + 0.5) / 1e6 + 0.0 END AS t,
         CASE WHEN n_a < 2 OR n_b < 2 OR se2 <= 0 THEN NULL
           ELSE floor(((se2 * se2) / (sea * sea / (n_a::DOUBLE - 1)
             + seb * seb / (n_b::DOUBLE - 1))) * 1e6 + 0.5) / 1e6 + 0.0
           END AS df_welch
       FROM se"""

  /** Brown–Forsythe homogeneity-of-variance test (Brown & Forsythe
    * 1974): the [[anovaTable]] F statistic computed over each value's
    * ABSOLUTE DEVIATION FROM ITS GROUP MEDIAN — the robust form of
    * Levene's test, and the check that should precede any pooled-
    * variance comparison ([[anovaTable]], pooled t): a large F here
    * says the groups' spreads differ, so pooled inference is suspect.
    * The median is the deterministic LOWER median (nearest-rank at
    * ⌈n/2⌉, the [[graft.operators.Analytics.theilSen]] convention) —
    * an order statistic, exact in cents; deviations are exact BIGINTs;
    * the F algebra is [[anovaTable]]'s shared integer path.
    *
    * Scale design: one per-group window for the median rank (group-
    * sized sort), one broadcast of the |groups|-row medians back, then
    * the two-level ANOVA aggregation with map-side partials.
    */
  def brownForsythe(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame = {
    val base = df.select(groupCol.as("g"),
      floor(valueCol * 100).cast("long").as("c"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("c"))
    val wAll = Window.partitionBy(col("g"))
    val med = base
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("g"), col("c").as("med"))
    anovaOfCents(base.join(broadcast(med), Seq("g"))
      .select(col("g"), abs(col("c") - col("med")).as("c")))
  }

  // ---- q374: do order-total SPREADS differ across priorities? ------------------
  // The variance-homogeneity gate in front of q315's pooled F.
  private def q374(s: SparkSession, d: String): DataFrame =
    brownForsythe(Tables.orders(s, d), col("o_orderpriority"),
      col("o_totalprice"))
  private val q374Sql =
    """WITH base AS (
         SELECT o_orderpriority AS g,
           floor(o_totalprice * 100)::BIGINT AS c
         FROM orders),
       med AS (
         SELECT g, c AS med FROM (
           SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c) AS rn,
             count(*) OVER (PARTITION BY g) AS n
           FROM base) t
         WHERE rn = (n + 1) // 2),
       dev AS (
         SELECT b.g, abs(b.c - m.med)::BIGINT AS c
         FROM base b JOIN med m ON b.g = m.g),
       cells AS (
         SELECT g, count(*)::BIGINT AS n_g, sum(c)::BIGINT AS s_g,
           sum(c::HUGEINT * c) AS q_g
         FROM dev GROUP BY g),
       tot AS (
         SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
           sum(s_g)::BIGINT AS s, sum(q_g)::HUGEINT AS q,
           sum((s_g::HUGEINT * s_g) // n_g)::HUGEINT AS t
         FROM cells),
       ss AS (
         SELECT k, n,
           greatest(0, (n::HUGEINT * t - s::HUGEINT * s) // n)::HUGEINT
             AS ssb,
           ((n::HUGEINT * q - s::HUGEINT * s) // n)::HUGEINT AS sst
         FROM tot),
       ms AS (
         SELECT k, n,
           CASE WHEN k > 1 THEN (ssb // (k - 1))::BIGINT END AS ms_between,
           CASE WHEN n > k THEN ((sst - ssb) // (n - k))::BIGINT
             END AS ms_within
         FROM ss)
       SELECT k, n, ms_between, ms_within,
         CASE WHEN ms_between IS NOT NULL AND ms_within IS NOT NULL
           THEN (ms_between::HUGEINT * 1000000
             // greatest(ms_within, 1))::BIGINT
           ELSE NULL END AS f_micro
       FROM ms"""

  // ---- q315: does mean event value differ across event types? -----------------
  private def q315(s: SparkSession, d: String): DataFrame =
    anovaTable(Tables.events(s, d), col("event_type"), col("value"))
  private[operators] val q315Sql =
    """WITH cells AS (
         SELECT event_type AS g, count(*)::BIGINT AS n_g,
           sum(floor(value * 100)::BIGINT)::BIGINT AS s_g,
           sum(floor(value * 100)::HUGEINT
             * floor(value * 100)::HUGEINT) AS q_g
         FROM events GROUP BY 1),
       tot AS (
         SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
           sum(s_g)::BIGINT AS s, sum(q_g)::HUGEINT AS q,
           sum((s_g::HUGEINT * s_g) // n_g)::HUGEINT AS t
         FROM cells),
       ss AS (
         SELECT k, n,
           greatest(0, (n::HUGEINT * t - s::HUGEINT * s) // n)::HUGEINT
             AS ssb,
           ((n::HUGEINT * q - s::HUGEINT * s) // n)::HUGEINT AS sst
         FROM tot),
       ms AS (
         SELECT k, n,
           CASE WHEN k > 1 THEN (ssb // (k - 1))::BIGINT END AS ms_between,
           CASE WHEN n > k THEN ((sst - ssb) // (n - k))::BIGINT
             END AS ms_within
         FROM ss)
       SELECT k, n, ms_between, ms_within,
         CASE WHEN ms_between IS NOT NULL AND ms_within IS NOT NULL
           THEN (ms_between::HUGEINT * 1000000
             // greatest(ms_within, 1))::BIGINT
           ELSE NULL END AS f_micro
       FROM ms"""

  /** Welch's two-sample t (unequal variances — Welch 1947): the
    * practitioners' default two-group mean comparison, filling the slot
    * between [[anovaTable]] (k groups, pooled) and [[mannWhitneyU]]
    * (nonparametric). Counts/sums/sums-of-squares are EXACT (cents,
    * decimal(38,0)); t and the Welch–Satterthwaite df are ONE double
    * formula over those integers, mirrored operation-for-operation in
    * the oracle and quantized once via floor(x·10⁶ + 0.5)/10⁶ — the
    * repo's deterministic rounding idiom. Means are exact micro
    * (truncated). Null t/df when either arm has < 2 rows or both
    * variances vanish.
    *
    * Scale design: one filtered pass, one global aggregate with
    * map-side partials — six numbers cross the wire.
    */
  def welchT(df: DataFrame, groupCol: Column, valueCol: Column,
      groupA: String, groupB: String): DataFrame = {
    val base = df.select(groupCol.as("g"),
        floor(valueCol * 100).cast("long").as("c"))
      .filter(col("g").isin(groupA, groupB))
    def dd(n: String) = col(n).cast("double")
    val va = (dd("q_a") * dd("n_a") - dd("s_a") * dd("s_a")) /
      (dd("n_a") * (dd("n_a") - lit(1d)))
    val vb = (dd("q_b") * dd("n_b") - dd("s_b") * dd("s_b")) /
      (dd("n_b") * (dd("n_b") - lit(1d)))
    val sea = va / dd("n_a")
    val seb = vb / dd("n_b")
    val se2 = sea + seb
    val t = (dd("s_a") / dd("n_a") - dd("s_b") / dd("n_b")) / sqrt(se2)
    val nu = (se2 * se2) /
      (sea * sea / (dd("n_a") - lit(1d)) + seb * seb / (dd("n_b") - lit(1d)))
    val degenerate = col("n_a") < 2 || col("n_b") < 2 || se2 <= lit(0d)
    def meanMicro(s: String, n: String) =
      expr(s"cast($s as decimal(38,0)) * 10000 div $n")
    base.agg(
        count(when(col("g") === groupA, 1)).as("n_a"),
        sum(when(col("g") === groupA, col("c"))).as("s_a"),
        sum(when(col("g") === groupA,
          expr("cast(c as decimal(38,0)) * c"))).as("q_a"),
        count(when(col("g") === groupB, 1)).as("n_b"),
        sum(when(col("g") === groupB, col("c"))).as("s_b"),
        sum(when(col("g") === groupB,
          expr("cast(c as decimal(38,0)) * c"))).as("q_b"))
      .select(col("n_a"), col("n_b"),
        meanMicro("s_a", "n_a").as("mean_a_micro"),
        meanMicro("s_b", "n_b").as("mean_b_micro"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(bin6(t) + lit(0.0)).as("t"),
        when(degenerate, lit(null).cast("double"))
          .otherwise(bin6(nu) + lit(0.0)).as("df_welch"))
  }

  /** Chi-square goodness-of-fit against a UNIFORM distribution over the
    * observed categories, per group: χ² = Σ(O_i − n/k)²/(n/k), which
    * algebraically collapses to (k·ΣO² − n²)/n — evaluated exactly in
    * decimal(38,0) with ONE final micro truncation, so the statistic is
    * bit-identical cross-engine ("is load spread evenly across
    * weekdays/shards/sources, per cohort" — the load-balance and
    * seasonality-null audit the pairwise tests don't cover). k counts
    * OBSERVED categories only (an unobserved category is a structural
    * zero the uniform null can't see; document the domain if it
    * matters), df = k − 1 alongside.
    *
    * Scale design: one (group, category) collapse with map-side
    * partials, then one per-group aggregation over the bounded
    * category domain — the corpus is touched once.
    */
  def chiSquareUniform(df: DataFrame, groupCol: Column,
      categoryCol: Column): DataFrame = {
    val byCat = df
      .select(groupCol.as("g"), categoryCol.as("cat"))
      .filter(col("cat").isNotNull)
      .groupBy(col("g"), col("cat")).agg(count(lit(1)).as("o"))
    byCat.groupBy(col("g"))
      .agg(sum(col("o")).as("n"), count(lit(1)).as("k_cats"),
        sum(expr("cast(o as decimal(38,0)) * o")).as("so2"))
      .select(col("g"), col("n"), col("k_cats"),
        (col("k_cats") - 1L).as("df"),
        // k·ΣO² ≥ n² by Cauchy–Schwarz, so the numerator is ≥ 0 and
        // floor = trunc: Spark's div and DuckDB's // agree.
        expr("""cast((cast(k_cats as decimal(38,0)) * so2
             - cast(n as decimal(38,0)) * n) * 1000000 div n as long)""")
          .as("chi2_micro"))
  }

  // ---- q343: is order flow uniform across weekdays, per priority? -------------
  // Day-of-week from epoch-day arithmetic ((day_id + 3) % 7, 0 = Monday)
  // — no session-timezone or engine dow-origin dependence (the
  // graft_calendar discipline).
  private def q343(s: SparkSession, d: String): DataFrame =
    chiSquareUniform(Tables.orders(s, d), col("o_orderpriority"),
        expr("(datediff(to_date(o_orderdate), date'1970-01-01') + 3) % 7"))
      .orderBy(col("g"))
  private val q343Sql =
    """WITH bycat AS (
         SELECT o_orderpriority AS g,
           (date_diff('day', DATE '1970-01-01', o_orderdate::DATE) + 3) % 7
             AS cat,
           count(*)::BIGINT AS o
         FROM orders GROUP BY 1, 2),
       agg AS (
         SELECT g, sum(o)::BIGINT AS n, count(*)::BIGINT AS k_cats,
           sum(o::HUGEINT * o) AS so2
         FROM bycat GROUP BY g)
       SELECT g, n, k_cats, (k_cats - 1)::BIGINT AS df,
         ((k_cats::HUGEINT * so2 - n::HUGEINT * n) * 1000000 // n)::BIGINT
           AS chi2_micro
       FROM agg ORDER BY g"""

  /** Increasing isotonic regression (pool-adjacent-violators) of a
    * value against an integer predictor, per group — the monotone
    * calibration step (Zadrozny & Elkan 2002: map a score to a
    * probability under the sole assumption that more score means more
    * probability; also dose-response and latency-vs-load curves). Exact
    * end to end: pooled block means stay rational (BigInt
    * cross-multiplied comparisons inside the native [[
    * graft.functions.IsotonicPav]] kernel), floored to micro ONCE at
    * emission, truncating toward zero as both engines do; the DuckDB
    * oracle replays the identical stack machine as a recursive CTE, so
    * fitted curves are bit-identical cross-engine. One fitted row per
    * (group, distinct x), non-decreasing in x by construction.
    *
    * Scale design: one (group, x) collapse with map-side partials; the
    * inherently-sequential PAV stack runs ONCE per group over the
    * bounded distinct-x array inside whole-stage codegen (an O(n)
    * static-call kernel, the MinHash-kernel discipline) — never over
    * corpus rows.
    */
  def isotonicFit(df: DataFrame, groupCol: Column, xCol: Column,
      yMicroCol: Column): DataFrame = {
    val byX = df
      .select(groupCol.as("g"), xCol.cast("long").as("x"),
        yMicroCol.cast("long").as("y"))
      .groupBy(col("g"), col("x"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    byX.groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("x"), col("n"), col("s"))))
        .as("a"))
      .select(col("g"), explode(expr("graft_pav(a)")).as("r"))
      .select(col("g"), col("r.x").as("x"),
        col("r.fitted_micro").as("fitted_micro"))
  }

  // ---- q347: monotone calibration of P(high-value event | hour) ---------------
  // Per event type: the isotonic fit of the high-value indicator (value
  // >= 2.0, in micro) against hour-of-day — "does later in the day mean
  // higher-value traffic, and by how much" as a proper non-decreasing
  // probability curve, not 24 noisy bin rates (q162's binned calibration
  // is the unsmoothed readout; this is the one a scorer would deploy).
  private def q347(s: SparkSession, d: String): DataFrame =
    isotonicFit(Tables.events(s, d), col("event_type"),
        Analytics.hourOfDay(col("ts")),
        expr("case when value >= 2.0D then 1000000L else 0L end"))
      .orderBy(col("g"), col("x"))
  private val q347Sql =
    """WITH RECURSIVE byx AS (
         SELECT event_type AS g,
           ((epoch_us(ts) // 3600000000) % 24)::BIGINT AS x,
           count(*)::BIGINT AS n,
           sum(CASE WHEN value >= 2.0 THEN 1000000 ELSE 0 END)::BIGINT AS s
         FROM events GROUP BY 1, 2),
       arr AS (
         SELECT g, count(*)::BIGINT AS nx,
           list(x ORDER BY x) AS xs, list(n ORDER BY x) AS ns,
           list(s ORDER BY x) AS ss
         FROM byx GROUP BY g),
       pav AS (
         SELECT g, nx, xs, ns, ss, 1::BIGINT AS step,
           [{'st': 1::BIGINT, 'num': ss[1]::BIGINT,
             'den': ns[1]::BIGINT}] AS stk
         FROM arr
         UNION ALL
         SELECT g, nx, xs, ns, ss,
           CASE WHEN len(stk) >= 2
               AND stk[len(stk) - 1].num::HUGEINT * stk[len(stk)].den
                 >= stk[len(stk)].num::HUGEINT * stk[len(stk) - 1].den
             THEN step ELSE step + 1 END,
           CASE WHEN len(stk) >= 2
               AND stk[len(stk) - 1].num::HUGEINT * stk[len(stk)].den
                 >= stk[len(stk)].num::HUGEINT * stk[len(stk) - 1].den
             THEN stk[1:len(stk) - 2]
               || [{'st': stk[len(stk) - 1].st,
                    'num': (stk[len(stk) - 1].num
                      + stk[len(stk)].num)::BIGINT,
                    'den': (stk[len(stk) - 1].den
                      + stk[len(stk)].den)::BIGINT}]
             ELSE stk || [{'st': (step + 1)::BIGINT,
                           'num': ss[step + 1]::BIGINT,
                           'den': ns[step + 1]::BIGINT}]
           END
         FROM pav
         WHERE (len(stk) >= 2
             AND stk[len(stk) - 1].num::HUGEINT * stk[len(stk)].den
               >= stk[len(stk)].num::HUGEINT * stk[len(stk) - 1].den)
           OR step < nx),
       fin AS (
         SELECT g, nx, xs, stk FROM pav
         WHERE step = nx AND NOT (len(stk) >= 2
           AND stk[len(stk) - 1].num::HUGEINT * stk[len(stk)].den
             >= stk[len(stk)].num::HUGEINT * stk[len(stk) - 1].den)),
       pos AS (
         SELECT g, xs, stk, unnest(range(1, nx + 1))::BIGINT AS i
         FROM fin),
       blk AS (
         SELECT g, xs[i]::BIGINT AS x,
           (SELECT u.b FROM (SELECT unnest(stk) AS b) u
            WHERE u.b.st <= i ORDER BY u.b.st DESC LIMIT 1) AS b
         FROM pos)
       SELECT g, x,
         (CASE WHEN b.num < 0 THEN -1 ELSE 1 END
           * ((abs(b.num)::HUGEINT * 1000000) // b.den))::BIGINT
           AS fitted_micro
       FROM blk ORDER BY g, x"""

  /** Functional-dependency DISCOVERY over a column set: for every
    * ordered pair (det → dep), the exact distinct counts, how many
    * extra (det, dep) combinations exist beyond |distinct det| (0 =
    * the FD holds), and the violation rate — where [[inclusionCheck]] /
    * the q224 check audit a DECLARED dependency, this sweeps all pairs
    * and ranks candidates ("clerk determines status? priority?") for a
    * schema nobody documented.
    *
    * Scale design: ONE aggregation pass computes every distinct count
    * simultaneously (the count-distinct expand is |cols|+|pairs| wide
    * over the scan — no per-pair rescans); the pair table itself is
    * |cols|² rows.
    */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val singles = cols.map(c => countDistinct(col(c)).as(s"nd__$c"))
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    val pairAggs = pairs.map { case (a, b) =>
      countDistinct(struct(col(a), col(b))).as(s"nd__${a}__$b")
    }
    val one = df.agg((singles ++ pairAggs).head,
      (singles ++ pairAggs).tail: _*)
    val stackArgs = pairs.flatMap { case (a, b) =>
      Seq(lit(a), lit(b), col(s"nd__$a"), col(s"nd__${a}__$b"))
    }
    one.select(stack((lit(pairs.length) +: stackArgs): _*)
        .as(Seq("det", "dep", "nd_det", "nd_pair")))
      .select(col("det"), col("dep"), col("nd_det"), col("nd_pair"),
        (col("nd_pair") - col("nd_det")).as("extra"),
        (col("nd_pair") === col("nd_det")).as("holds"),
        expr("((nd_pair - nd_det) * 1000000L) div nd_det")
          .as("violation_micro"))
  }

  // ---- q298: which undocumented dependencies does the order feed hold? --------
  private def q298(s: SparkSession, d: String): DataFrame =
    fdDiscovery(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy(col("det"), col("dep"))
  private val q298Sql = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val selects = for { a <- cols; b <- cols if a != b } yield
      s"""SELECT '$a' AS det, '$b' AS dep,
        count(DISTINCT $a)::BIGINT AS nd_det,
        count(DISTINCT ($a, $b))::BIGINT AS nd_pair
      FROM orders"""
    s"""WITH u AS (${selects.mkString("\nUNION ALL\n")})
       SELECT det, dep, nd_det, nd_pair,
         (nd_pair - nd_det)::BIGINT AS extra,
         (nd_pair = nd_det) AS holds,
         (((nd_pair - nd_det) * 1000000) // nd_det)::BIGINT
           AS violation_micro
       FROM u ORDER BY det, dep"""
  }

  /** Goodman–Kruskal λ: proportional reduction in prediction error of
    * `dep` when `det` is known — the DIRECTIONAL categorical
    * association Cramér's V symmetrizes away, and (unlike the
    * entropy-based uncertainty coefficient) computable in pure integer
    * algebra: λ = (Σ_a max_b n(a,b) − max_b n(·,b)) / (n − max_b
    * n(·,b)). Emits BOTH directions; a degenerate margin (one dep
    * value dominates everything: den = 0) reports null.
    *
    * Scale design: one corpus collapse to the contingency cells;
    * everything else is metadata-sized aggregation of that collapse.
    */
  def gkLambda(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nc"))
      .localCheckpoint(false) // stats-ok: one-shot contingency cells
    def oneDir(det: String, dep: String, label: String): DataFrame = {
      val sumMax = cells.groupBy(col(det))
        .agg(max(col("nc")).as("mx"))
        .agg(sum(col("mx")).as("sum_max_given_det"))
      val marginal = cells.groupBy(col(dep))
        .agg(sum(col("nc")).as("m"))
        .agg(max(col("m")).as("max_marginal"), sum(col("m")).as("n"))
      sumMax.crossJoin(marginal)
        .select(lit(label).as("direction"), col("n"),
          col("sum_max_given_det"), col("max_marginal"),
          when(col("n") > col("max_marginal"),
            expr("""((sum_max_given_det - max_marginal) * 1000000L)
              div (n - max_marginal)"""))
            .otherwise(lit(null).cast("long")).as("lambda_micro"))
    }
    oneDir("a", "b", "a_to_b").unionAll(oneDir("b", "a", "b_to_a"))
  }

  // ---- q299: does status predict priority, or the reverse? --------------------
  private def q299(s: SparkSession, d: String): DataFrame =
    gkLambda(Tables.orders(s, d), col("o_orderstatus"),
        col("o_orderpriority"))
      .orderBy(col("direction"))
  private val q299Sql =
    """WITH cells AS (
         SELECT o_orderstatus AS a, o_orderpriority AS b,
           count(*)::BIGINT AS nc
         FROM orders GROUP BY 1, 2),
       ab AS (
         SELECT 'a_to_b' AS direction,
           (SELECT sum(n)::BIGINT FROM (SELECT sum(nc) AS n FROM cells
              GROUP BY b) t) AS n,
           (SELECT sum(mx)::BIGINT FROM (SELECT max(nc) AS mx FROM cells
              GROUP BY a) t) AS sum_max_given_det,
           (SELECT max(m)::BIGINT FROM (SELECT sum(nc) AS m FROM cells
              GROUP BY b) t) AS max_marginal),
       ba AS (
         SELECT 'b_to_a' AS direction,
           (SELECT sum(n)::BIGINT FROM (SELECT sum(nc) AS n FROM cells
              GROUP BY a) t) AS n,
           (SELECT sum(mx)::BIGINT FROM (SELECT max(nc) AS mx FROM cells
              GROUP BY b) t) AS sum_max_given_det,
           (SELECT max(m)::BIGINT FROM (SELECT sum(nc) AS m FROM cells
              GROUP BY a) t) AS max_marginal),
       u AS (SELECT * FROM ab UNION ALL SELECT * FROM ba)
       SELECT direction, n, sum_max_given_det, max_marginal,
         CASE WHEN n > max_marginal
           THEN ((sum_max_given_det - max_marginal) * 1000000)
             // (n - max_marginal)
           ELSE NULL END::BIGINT AS lambda_micro
       FROM u ORDER BY direction"""

  /** Column-profile drift between two row populations of the SAME
    * relation (yesterday's load vs today's, region A vs B): per column,
    * row count, null count, and exact distinct count on each side plus
    * the distinct-count delta — the "did a feed silently change shape"
    * gate that schema checks miss (same schema, different content).
    *
    * Scale design: ONE aggregation pass evaluates both sides of every
    * column simultaneously (conditional aggregates — the expectRowRules
    * shape); the exchange is the |cols|·distinct-values expand of the
    * count-distincts, never the full relation twice.
    */
  def profileDiff(df: DataFrame, sideA: Column,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(when(sideA, lit(1))).as(s"c${i}__na"),
        count(when(sideA && col(c).isNull, 1)).as(s"c${i}__nulla"),
        countDistinct(when(sideA, col(c))).as(s"c${i}__da"),
        count(when(!sideA, lit(1))).as(s"c${i}__nb"),
        count(when(!sideA && col(c).isNull, 1)).as(s"c${i}__nullb"),
        countDistinct(when(!sideA, col(c))).as(s"c${i}__db"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), col(s"c${i}__na"), col(s"c${i}__nulla"), col(s"c${i}__da"),
        col(s"c${i}__nb"), col(s"c${i}__nullb"), col(s"c${i}__db"))
    }
    one.select(stack((lit(cols.length) +: stackArgs): _*)
        .as(Seq("column", "n_a", "n_null_a", "n_distinct_a",
          "n_b", "n_null_b", "n_distinct_b")))
      .withColumn("distinct_delta",
        col("n_distinct_b") - col("n_distinct_a"))
  }

  // ---- q269: did the order feed change shape across the date midpoint? --------
  private def q269(s: SparkSession, d: String): DataFrame =
    profileDiff(Tables.orders(s, d), col("o_orderdate") < lit("1995-06-17"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice"))
      .orderBy(col("column"))
  private val q269Sql =
    """WITH s AS (
         SELECT *, (o_orderdate < DATE '1995-06-17') AS in_a FROM orders),
       u AS (
         SELECT 'o_orderstatus' AS "column",
           count(CASE WHEN in_a THEN 1 END)::BIGINT AS n_a,
           count(CASE WHEN in_a AND o_orderstatus IS NULL THEN 1 END)::BIGINT AS n_null_a,
           count(DISTINCT CASE WHEN in_a THEN o_orderstatus END)::BIGINT AS n_distinct_a,
           count(CASE WHEN NOT in_a THEN 1 END)::BIGINT AS n_b,
           count(CASE WHEN NOT in_a AND o_orderstatus IS NULL THEN 1 END)::BIGINT AS n_null_b,
           count(DISTINCT CASE WHEN NOT in_a THEN o_orderstatus END)::BIGINT AS n_distinct_b
         FROM s
         UNION ALL
         SELECT 'o_orderpriority',
           count(CASE WHEN in_a THEN 1 END)::BIGINT,
           count(CASE WHEN in_a AND o_orderpriority IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT CASE WHEN in_a THEN o_orderpriority END)::BIGINT,
           count(CASE WHEN NOT in_a THEN 1 END)::BIGINT,
           count(CASE WHEN NOT in_a AND o_orderpriority IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT CASE WHEN NOT in_a THEN o_orderpriority END)::BIGINT
         FROM s
         UNION ALL
         SELECT 'o_custkey',
           count(CASE WHEN in_a THEN 1 END)::BIGINT,
           count(CASE WHEN in_a AND o_custkey IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT CASE WHEN in_a THEN o_custkey END)::BIGINT,
           count(CASE WHEN NOT in_a THEN 1 END)::BIGINT,
           count(CASE WHEN NOT in_a AND o_custkey IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT CASE WHEN NOT in_a THEN o_custkey END)::BIGINT
         FROM s
         UNION ALL
         SELECT 'o_totalprice',
           count(CASE WHEN in_a THEN 1 END)::BIGINT,
           count(CASE WHEN in_a AND o_totalprice IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT CASE WHEN in_a THEN o_totalprice END)::BIGINT,
           count(CASE WHEN NOT in_a THEN 1 END)::BIGINT,
           count(CASE WHEN NOT in_a AND o_totalprice IS NULL THEN 1 END)::BIGINT,
           count(DISTINCT CASE WHEN NOT in_a THEN o_totalprice END)::BIGINT
         FROM s)
       SELECT "column", n_a, n_null_a, n_distinct_a, n_b, n_null_b,
         n_distinct_b, (n_distinct_b - n_distinct_a)::BIGINT AS distinct_delta
       FROM u ORDER BY "column""""

  // ---- q214: one-pass correlation matrix of the lineitem measures -------------
  // Quantity in hundredths, price in whole dollars, discount/tax in
  // hundredths — units chosen so every moment stays exactly
  // double-representable at sf0.1.
  private def q214(s: SparkSession, d: String): DataFrame =
    corrMatrix(Tables.lineitem(s, d), Seq(
        "qty" -> floor(col("l_quantity") * 100),
        "price" -> floor(col("l_extendedprice")),
        "disc" -> floor(col("l_discount") * 100),
        "tax" -> floor(col("l_tax") * 100)))
      .orderBy(col("col_a"), col("col_b"))
  private val q214Sql =
    """WITH a AS (
         SELECT count(*)::BIGINT AS n,
           sum(q)::BIGINT AS s_qty, sum(p)::BIGINT AS s_price,
           sum(dc)::BIGINT AS s_disc, sum(tx)::BIGINT AS s_tax,
           sum(q*q)::BIGINT AS ss_qty, sum(p*p)::BIGINT AS ss_price,
           sum(dc*dc)::BIGINT AS ss_disc, sum(tx*tx)::BIGINT AS ss_tax,
           sum(q*p)::BIGINT AS sp_qty_price, sum(q*dc)::BIGINT AS sp_qty_disc,
           sum(q*tx)::BIGINT AS sp_qty_tax, sum(p*dc)::BIGINT AS sp_price_disc,
           sum(p*tx)::BIGINT AS sp_price_tax, sum(dc*tx)::BIGINT AS sp_disc_tax
         FROM (
           SELECT floor(l_quantity * 100)::BIGINT AS q,
             floor(l_extendedprice)::BIGINT AS p,
             floor(l_discount * 100)::BIGINT AS dc,
             floor(l_tax * 100)::BIGINT AS tx
           FROM lineitem) t),
       pairs AS (
         SELECT 'qty' AS col_a, 'price' AS col_b, s_qty AS sa, s_price AS sb,
           ss_qty AS ssa, ss_price AS ssb, sp_qty_price AS sp, n FROM a
         UNION ALL SELECT 'qty', 'disc', s_qty, s_disc, ss_qty, ss_disc,
           sp_qty_disc, n FROM a
         UNION ALL SELECT 'qty', 'tax', s_qty, s_tax, ss_qty, ss_tax,
           sp_qty_tax, n FROM a
         UNION ALL SELECT 'price', 'disc', s_price, s_disc, ss_price,
           ss_disc, sp_price_disc, n FROM a
         UNION ALL SELECT 'price', 'tax', s_price, s_tax, ss_price, ss_tax,
           sp_price_tax, n FROM a
         UNION ALL SELECT 'disc', 'tax', s_disc, s_tax, ss_disc, ss_tax,
           sp_disc_tax, n FROM a)
       SELECT col_a, col_b,
         CASE WHEN n::DOUBLE * ssa::DOUBLE - sa::DOUBLE * sa::DOUBLE = 0
             OR n::DOUBLE * ssb::DOUBLE - sb::DOUBLE * sb::DOUBLE = 0
           THEN NULL
           ELSE round(
             (n::DOUBLE * sp::DOUBLE - sa::DOUBLE * sb::DOUBLE)
             / (sqrt(n::DOUBLE * ssa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
               * sqrt(n::DOUBLE * ssb::DOUBLE - sb::DOUBLE * sb::DOUBLE)),
             6) + 0.0
           END AS corr
       FROM pairs ORDER BY col_a, col_b"""

  /** Binary-label decision stump: the single feature threshold minimizing
    * weighted Gini impurity — the supervised sibling of
    * [[Analytics.otsuThreshold]] (that one splits on the value
    * distribution alone; this one splits to separate LABELS). The
    * one-feature answer to "what cutoff best predicts conversion /
    * spam / keep" — and the base learner a tree induction would call
    * per feature.
    *
    * Minimizing Σ nᵢ·gini(i) equals maximizing (p₁²+q₁²)/n₁ + (p₂²+q₂²)/n₂
    * with p/q the within-side label counts — every count an exact BIGINT
    * from per-distinct-value cumulative sums; the two-fraction score is
    * evaluated in double on the identical FP path both engines (each
    * term exactly representable), and the argmax tie-breaks on the
    * lowest threshold. Scale: one (value → pos/neg counts) collapse with
    * map-side partials, cumulative windows over DISTINCT values, one
    * argmax. Single-distinct-value inputs yield no row (no valid split).
    */
  def giniStump(df: DataFrame, valueCol: String,
      isPositive: Column): DataFrame = {
    val byV = df.select(col(valueCol).cast("long").as("v"),
        isPositive.cast("boolean").as("y"))
      .groupBy(col("v"))
      .agg(count(when(col("y"), 1)).as("p"),
        count(when(!col("y"), 1)).as("q"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byV.agg(sum(col("p")).as("tp"), sum(col("q")).as("tq"))
    val pre = byV
      .select(col("v"), sum(col("p")).over(w).as("p1"),
        sum(col("q")).over(w).as("q1"))
      .crossJoin(broadcast(tot))
      .withColumn("n1", col("p1") + col("q1"))
      .withColumn("n2", col("tp") + col("tq") - col("p1") - col("q1"))
      .filter(col("n2") > 0)
      .withColumn("p2", col("tp") - col("p1"))
      .withColumn("q2", col("tq") - col("q1"))
      .withColumn("score",
        (col("p1") * col("p1") + col("q1") * col("q1")).cast("double")
          / col("n1").cast("double")
          + (col("p2") * col("p2") + col("q2") * col("q2")).cast("double")
          / col("n2").cast("double"))
    pre.withColumn("rn",
        row_number().over(Window.orderBy(col("score").desc, col("v"))))
      .filter(col("rn") === 1)
      .select(col("v").as("threshold"), col("n1").as("n_left"),
        col("n2").as("n_right"), col("p1").as("pos_left"),
        col("p2").as("pos_right"),
        // Post-split weighted impurity Σnᵢ·gini(i)/n = (n − score)/n,
        // micro-floored on the identical double path both engines.
        floor(((col("n1") + col("n2")).cast("double") - col("score"))
            / (col("n1") + col("n2")).cast("double") * lit(1e6)
            + lit(0.5)).cast("long")
          .as("gini_micro"))
  }

  /** Share-shift report between two periods: each dimension value's
    * share of the total in period A vs period B plus the signed delta —
    * the "mix shift" table every BI review opens with (which segment
    * grew at whose expense). Shares are exact micro floors of BIGINT
    * cent totals; the delta subtracts two already-floored micros, so it
    * is exact integer arithmetic with sign — no float anywhere.
    *
    * Scale: one (dimension, period) aggregation with map-side partials,
    * two broadcast single-row totals; dimensions absent from a period
    * report zero share, not a dropped row.
    */
  def shareShift(df: DataFrame, dimCol: String, amountCol: String,
      inPeriodA: Column, inPeriodB: Column): DataFrame = {
    val base = df.filter(inPeriodA || inPeriodB)
      .select(col(dimCol).as("dim"),
        floor(col(amountCol) * 100).cast("long").as("cents"),
        inPeriodA.as("in_a"))
      .groupBy(col("dim"))
      .agg(sum(when(col("in_a"), col("cents")).otherwise(0L)).as("rev_a"),
        sum(when(!col("in_a"), col("cents")).otherwise(0L)).as("rev_b"))
    val tot = base.agg(sum(col("rev_a")).as("ta"), sum(col("rev_b")).as("tb"))
    base.crossJoin(broadcast(tot))
      .select(col("dim").as(dimCol), col("rev_a"), col("rev_b"),
        expr("rev_a * 1000000L div ta").as("share_a_micro"),
        expr("rev_b * 1000000L div tb").as("share_b_micro"),
        expr("rev_b * 1000000L div tb - rev_a * 1000000L div ta")
          .as("delta_micro"))
  }

  /** Functional-dependency audit: does `lhsCol` determine `rhsCol`?
    * Reports the violating keys (more than one rhs value per lhs), the
    * worst fan-out, and the violation share — the profiling question
    * behind normalization, dedup-key choice, and "can I safely join on
    * this" (a violated FD on a join key silently multiplies rows).
    *
    * Exact integers; one (lhs, rhs) distinct collapse with map-side
    * partials, one lhs aggregation, one single-row summary. Nulls in
    * rhs count as a value (an lhs mapping to {x, null} IS ambiguous).
    */
  /** Approximate-FD g₃ error audit (Kivinen–Mannila): for each
    * candidate X→A, the MINIMUM number of rows to delete for the
    * dependency to hold exactly — n − Σ_x max_a count(x,a) — reported
    * beside its ppm share. [[fdCheck]] counts violating KEYS (is it
    * clean?); this prices the violation in ROWS (how dirty?), the
    * metric that decides between "fix the pipeline" and "quarantine
    * 0.3% of rows" in a profiling pass.
    *
    * Scale: per candidate one (x, a) collapse with map-side partials,
    * one per-key max, one total — each is a two-level aggregation of
    * the pair's distinct domain; candidates are a bounded audit list.
    */
  def fdG3Audit(df: DataFrame,
      candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "fdG3Audit needs candidate pairs")
    val per = candidates.map { case (x, a) =>
      val cells = df.select(col(x).cast("string").as("l"),
          col(a).cast("string").as("r"))
        .groupBy("l", "r").agg(count(lit(1)).as("c"))
      cells.groupBy("l").agg(sum("c").as("n_l"), max("c").as("keep"))
        .agg(sum("n_l").as("n_rows"),
          (sum("n_l") - sum("keep")).as("n_delete"))
        .select(lit(x).as("lhs"), lit(a).as("rhs"), col("n_rows"),
          col("n_delete"),
          expr("n_delete * 1000000L div n_rows").as("g3_ppm"),
          (col("n_delete") === 0L).as("holds_exactly"))
    }
    per.reduce(_ unionAll _).orderBy(col("g3_ppm"), col("lhs"), col("rhs"))
  }

  def fdCheck(df: DataFrame, lhsCol: String, rhsCol: String): DataFrame = {
    val perKey = df
      .select(col(lhsCol).as("l"), col(rhsCol).as("r"))
      .distinct()
      .groupBy(col("l")).agg(count(lit(1)).as("n_rhs"))
    perKey.agg(count(lit(1)).as("n_keys"),
        count(when(col("n_rhs") > 1, 1)).as("n_violating"),
        max(col("n_rhs")).as("max_fanout"))
      .select(lit(lhsCol).as("lhs"), lit(rhsCol).as("rhs"),
        col("n_keys"), col("n_violating"), col("max_fanout"),
        expr("n_violating * 1000000L div n_keys").as("violation_micro"))
  }

  /** Inclusion-dependency check (FK-candidate discovery / referential
    * audit): is every non-null value of `child.childCol` present in
    * `parent.parentCol` — the sibling of [[fdCheck]] (A determines B)
    * and [[expectFk]] (assert and fail); this one MEASURES: distinct
    * child values, how many lack a parent, the worst orphan's row
    * count, and the coverage share — the signal a schema-discovery pass
    * ranks join candidates by.
    *
    * Scale: both sides collapse to distinct keys with map-side partials
    * before one anti-joinable left join; all counts exact BIGINT, one
    * micro floor.
    */
  def inclusionCheck(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String, label: String): DataFrame = {
    val c = child.filter(col(childCol).isNotNull)
      .groupBy(col(childCol).as("k")).agg(count(lit(1)).as("rows"))
    val p = parent.select(col(parentCol).as("k")).distinct()
      .withColumn("hit", lit(1))
    c.join(p, Seq("k"), "left")
      .agg(count(lit(1)).as("n_child_distinct"),
        sum(col("rows")).as("n_child_rows"),
        count(when(col("hit").isNull, 1)).as("n_orphan_distinct"),
        coalesce(sum(when(col("hit").isNull, col("rows"))), lit(0L))
          .as("n_orphan_rows"),
        coalesce(max(when(col("hit").isNull, col("rows"))), lit(0L))
          .as("worst_orphan_rows"))
      .select(lit(label).as("candidate"), col("n_child_distinct"),
        col("n_child_rows"), col("n_orphan_distinct"),
        col("n_orphan_rows"), col("worst_orphan_rows"),
        (col("n_orphan_distinct") === 0).as("included"),
        expr("""(n_child_distinct - n_orphan_distinct) * 1000000L
          div n_child_distinct""").as("coverage_micro"))
  }

  // ---- q251: FK-candidate audit over the order book ---------------------------
  // Two true foreign keys (every lineitem has its order, every order its
  // customer) and one deliberately failing direction (customers without
  // orders are orphans of o_custkey) — the report must measure, not
  // assert.
  private def q251(s: SparkSession, d: String): DataFrame =
    inclusionCheck(Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", "lineitem.l_orderkey->orders")
      .unionByName(inclusionCheck(Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", "orders.o_custkey->customer"))
      .unionByName(inclusionCheck(Tables.customer(s, d), "c_custkey",
        Tables.orders(s, d), "o_custkey", "customer.c_custkey->orders"))
      .orderBy(col("candidate"))
  private val q251Sql = {
    def one(label: String, childTable: String, childCol: String,
        parentTable: String, parentCol: String) =
      s"""SELECT '$label' AS candidate,
           count(*)::BIGINT AS n_child_distinct,
           sum(rows)::BIGINT AS n_child_rows,
           count(*) FILTER (WHERE hit IS NULL)::BIGINT AS n_orphan_distinct,
           coalesce(sum(rows) FILTER (WHERE hit IS NULL), 0)::BIGINT
             AS n_orphan_rows,
           coalesce(max(rows) FILTER (WHERE hit IS NULL), 0)::BIGINT
             AS worst_orphan_rows,
           (count(*) FILTER (WHERE hit IS NULL) = 0) AS included,
           ((count(*) - count(*) FILTER (WHERE hit IS NULL)) * 1000000
             // count(*))::BIGINT AS coverage_micro
         FROM (
           SELECT c.k, c.rows, p.hit FROM (
             SELECT $childCol AS k, count(*)::BIGINT AS rows
             FROM $childTable WHERE $childCol IS NOT NULL GROUP BY 1) c
           LEFT JOIN (
             SELECT DISTINCT $parentCol AS k, 1 AS hit
             FROM $parentTable) p ON c.k = p.k)"""
    s"""SELECT * FROM (
         ${one("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
           "orders", "o_orderkey")}
         UNION ALL
         ${one("orders.o_custkey->customer", "orders", "o_custkey",
           "customer", "c_custkey")}
         UNION ALL
         ${one("customer.c_custkey->orders", "customer", "c_custkey",
           "orders", "o_custkey")})
       ORDER BY candidate"""
  }

  /** Multi-feature drift table in TWO passes: per feature, the total-
    * variation distance between two periods' equi-width histograms —
    * q126's single-column drift generalized with the q214 trick (all
    * features' min/max land in one aggregation; all features' bin
    * counts in a second), so profiling k features costs two scans, not
    * 2k. THE ml-ops "which input feature moved" screen.
    *
    * Exact rational: global integer [min,max] per feature, bin =
    * min(B−1, (x−mn)·B div (mx−mn+1)) identical on both engines, and
    * TV = Σ|cA·nB − cB·nA| / (2·nA·nB) floored to micro — BIGINT until
    * the one division (bound: cA·nB < 2⁶³ caps periods at ~3·10⁹ rows).
    * Features with a degenerate range land in bin 0 and drift 0.
    */
  def featureDrift(df: DataFrame, cols: Seq[(String, Column)],
      inPeriodA: Column, bins: Int = 16): DataFrame = {
    require(cols.nonEmpty && bins >= 2, "need features and >= 2 bins")
    val named = cols.map { case (nm, c) => nm -> c.cast("long") }
    val base = df.select((named.map { case (nm, c) => c.as(s"x_$nm") } :+
      inPeriodA.as("in_a")): _*)
    val mmAggs = named.flatMap { case (nm, _) =>
      Seq(min(col(s"x_$nm")).as(s"mn_$nm"), max(col(s"x_$nm")).as(s"mx_$nm")) }
    val mm = broadcast(base.agg(mmAggs.head, mmAggs.tail: _*))
    val withBins = base.crossJoin(mm)
    val binAggs = named.flatMap { case (nm, _) =>
      val b = expr(s"least(${bins - 1}L, (x_$nm - mn_$nm) * ${bins}L" +
        s" div (mx_$nm - mn_$nm + 1L))")
      (0 until bins).flatMap { bi =>
        Seq(count(when(col("in_a") && b === bi, 1)).as(s"a_${nm}_$bi"),
          count(when(!col("in_a") && b === bi, 1)).as(s"b_${nm}_$bi"))
      }
    }
    val agg = withBins.agg(binAggs.head, binAggs.tail: _*)
    val feats = named.map { case (nm, _) =>
      val na = (0 until bins).map(bi => col(s"a_${nm}_$bi")).reduce(_ + _)
      val nb = (0 until bins).map(bi => col(s"b_${nm}_$bi")).reduce(_ + _)
      val num = (0 until bins).map(bi =>
        abs(col(s"a_${nm}_$bi") * nb - col(s"b_${nm}_$bi") * na))
        .reduce(_ + _)
      struct(lit(nm).as("feature"), na.as("n_a"), nb.as("n_b"),
        num.as("num"))
    }
    agg.select(explode(array(feats: _*)).as("f")).select(col("f.*"))
      .select(col("feature"), col("n_a"), col("n_b"),
        when(col("n_a") === 0 || col("n_b") === 0,
          lit(null).cast("long"))
          .otherwise(expr("num * 1000000L div (2L * n_a * n_b)"))
          .as("tv_micro"))
  }

  // ---- q227: which lineitem measures drifted across the shipdate split? -------
  private def q227(s: SparkSession, d: String): DataFrame =
    featureDrift(Tables.lineitem(s, d), Seq(
        "qty" -> floor(col("l_quantity") * 100),
        "price" -> floor(col("l_extendedprice")),
        "disc" -> floor(col("l_discount") * 100)),
      col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .orderBy(col("feature"))
  private val q227Sql =
    """WITH base AS (
         SELECT floor(l_quantity * 100)::BIGINT AS qty,
           floor(l_extendedprice)::BIGINT AS price,
           floor(l_discount * 100)::BIGINT AS disc,
           (l_shipdate < TIMESTAMP '1998-01-01') AS in_a
         FROM lineitem),
       mm AS (
         SELECT min(qty)::BIGINT AS mn_q, max(qty)::BIGINT AS mx_q,
           min(price)::BIGINT AS mn_p, max(price)::BIGINT AS mx_p,
           min(disc)::BIGINT AS mn_d, max(disc)::BIGINT AS mx_d
         FROM base),
       binned AS (
         SELECT in_a,
           least(15, (qty - mn_q) * 16 // (mx_q - mn_q + 1)) AS bq,
           least(15, (price - mn_p) * 16 // (mx_p - mn_p + 1)) AS bp,
           least(15, (disc - mn_d) * 16 // (mx_d - mn_d + 1)) AS bd
         FROM base, mm),
       f AS (
         SELECT 'qty' AS feature, bq AS bin, in_a FROM binned
         UNION ALL SELECT 'price', bp, in_a FROM binned
         UNION ALL SELECT 'disc', bd, in_a FROM binned),
       cnts AS (
         SELECT feature, bin,
           count(*) FILTER (WHERE in_a)::BIGINT AS ca,
           count(*) FILTER (WHERE NOT in_a)::BIGINT AS cb
         FROM f GROUP BY 1, 2),
       tot AS (
         SELECT feature, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
         FROM cnts GROUP BY 1)
       SELECT c.feature, t.na AS n_a, t.nb AS n_b,
         CASE WHEN t.na = 0 OR t.nb = 0 THEN NULL
           ELSE sum(abs(c.ca * t.nb - c.cb * t.na)) * 1000000
             // (2 * t.na * t.nb) END::BIGINT AS tv_micro
       FROM cnts c JOIN tot t ON c.feature = t.feature
       GROUP BY c.feature, t.na, t.nb
       ORDER BY c.feature"""

  /** Header-vs-detail reconciliation: every header row scored against
    * the sum of its detail rows — orphan headers (no details), matched
    * within tolerance, and mismatched with the total absolute drift.
    * The month-end close / invoice-audit primitive, and a data-quality
    * gate between any fact table and its rollup.
    *
    * Exactness: both sides quantize to integer cents PER ROW (one
    * identical-path double multiply chain, then floor) before any
    * summation, so the detail total is an exact BIGINT under any
    * partitioning and the comparison is pure integer. Scale: one detail
    * aggregation keyed by the header id + one left join; the summary is
    * a single aggregated row.
    */
  def reconcile(headers: DataFrame, details: DataFrame, keyCol: String,
      headerAmount: Column, detailAmount: Column,
      toleranceCents: Long = 2L): DataFrame = {
    val h = headers.select(col(keyCol).as("k"),
      floor(headerAmount * 100).cast("long").as("hc"))
    val dt = details.select(col(keyCol).as("k"),
        floor(detailAmount * 100).cast("long").as("dc"))
      .groupBy(col("k")).agg(sum(col("dc")).as("dsum"))
    h.join(dt, Seq("k"), "left")
      .select(col("k"), col("hc"), col("dsum"),
        when(col("dsum").isNull, lit(null).cast("long"))
          .otherwise(abs(col("hc") - col("dsum"))).as("delta"))
      .agg(count(lit(1)).as("n_headers"),
        count(when(col("dsum").isNull, 1)).as("n_orphans"),
        count(when(col("delta") <= toleranceCents, 1)).as("n_matched"),
        count(when(col("delta") > toleranceCents, 1)).as("n_mismatched"),
        coalesce(sum(col("delta")), lit(0L)).as("abs_drift_cents"))
  }

  // ---- q228: does the order book reconcile against its line items? ------------
  // The fixture's totals are synthetic, so the report correctly shows
  // 257 orphan orders at sf0.01 and ~100% mismatch — the audit's job is
  // to SAY so, loudly, before anyone trusts a rollup of this book.
  private def q228(s: SparkSession, d: String): DataFrame =
    reconcile(Tables.orders(s, d), Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
      "o_orderkey", col("o_totalprice"),
      col("l_extendedprice") * (lit(1d) - col("l_discount"))
        * (lit(1d) + col("l_tax")))
  private val q228Sql =
    """WITH dt AS (
         SELECT l_orderkey AS k,
           sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
             * 100)::BIGINT)::BIGINT AS dsum
         FROM lineitem GROUP BY 1),
       j AS (
         SELECT o.o_orderkey,
           floor(o.o_totalprice * 100)::BIGINT AS hc, dt.dsum,
           CASE WHEN dt.dsum IS NULL THEN NULL
             ELSE abs(floor(o.o_totalprice * 100)::BIGINT - dt.dsum) END
             AS delta
         FROM orders o LEFT JOIN dt ON o.o_orderkey = dt.k)
       SELECT count(*)::BIGINT AS n_headers,
         count(*) FILTER (WHERE dsum IS NULL)::BIGINT AS n_orphans,
         count(*) FILTER (WHERE delta <= 2)::BIGINT AS n_matched,
         count(*) FILTER (WHERE delta > 2)::BIGINT AS n_mismatched,
         coalesce(sum(delta), 0)::BIGINT AS abs_drift_cents
       FROM j"""

  /** Cumulative-gains / lift table of a score against a binary outcome:
    * at each decile of the score-DESCENDING ranking, how much of the
    * total positive mass the prefix captures and its lift over random —
    * the model-eval chart sales/risk teams actually read (q154's AUC in
    * operational clothing: "call the top 20%, get X% of converters").
    *
    * Exact integers: prefixes cut at min{cum_rows : 10·cum_rows ≥ d·n}
    * over the distinct-score cumulative relation (score ties never
    * split), capture = pos_cum/tot_pos and lift =
    * (pos_cum·n)/(rows_cum·tot_pos), both micro-floored from BIGINTs.
    * Scale: one (score → rows, positives) collapse, one cumulative
    * window over distinct scores (`quantized = false` routes it through
    * the [[DistributedPrefix]] two-pass sum for continuous score
    * domains), a 10-row spine join.
    */
  def gainsTable(df: DataFrame, scoreCol: Column,
      isPositive: Column, quantized: Boolean = false): DataFrame = {
    val byV = df.select(scoreCol.cast("long").as("v"),
        isPositive.cast("boolean").as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("c"), count(when(col("y"), 1)).as("p"))
    val w = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBase =
      if (quantized)
        byV.select(col("v"), sum(col("c")).over(w).as("rows_cum"),
          sum(col("p")).over(w).as("pos_cum"))
      else
        DistributedPrefix
          .cumSums(byV, Nil, Seq(col("v").desc), Seq("c", "p"))
          .select(col("v"), col("cum_c").as("rows_cum"),
            col("cum_p").as("pos_cum"))
    val cum = cumBase
      .crossJoin(broadcast(byV.agg(sum(col("c")).as("n"),
        sum(col("p")).as("tot_pos"))))
    val spine = df.sparkSession.range(1, 11)
      .select(col("id").cast("int").as("decile"))
    broadcast(spine).join(cum, col("rows_cum") * 10 >= col("n") * col("decile"))
      .groupBy(col("decile"))
      .agg(min(struct(col("rows_cum"), col("v"), col("pos_cum"),
        col("n"), col("tot_pos"))).as("b"))
      .select(col("decile"), col("b.v").as("score_threshold"),
        col("b.rows_cum").as("rows_cum"), col("b.pos_cum").as("pos_cum"),
        expr("b.pos_cum * 1000000L div b.tot_pos").as("capture_micro"),
        expr("b.pos_cum * b.n * 1000000L div (b.rows_cum * b.tot_pos)")
          .as("lift_micro"))
  }

  // ---- q230: call the top decile, catch what share of purchases? --------------
  private def q230(s: SparkSession, d: String): DataFrame =
    gainsTable(Tables.events(s, d), floor(col("value") * 100),
        col("event_type") === "purchase", quantized = true)
      .orderBy(col("decile"))
  private val q230Sql =
    """WITH byv AS (
         SELECT floor(value * 100)::BIGINT AS v, count(*)::BIGINT AS c,
           count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS p
         FROM events GROUP BY 1),
       cum AS (
         SELECT v,
           sum(c) OVER (ORDER BY v DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rows_cum,
           sum(p) OVER (ORDER BY v DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos_cum,
           (SELECT sum(c) FROM byv) AS n,
           (SELECT sum(p) FROM byv) AS tot_pos
         FROM byv),
       spine AS (SELECT unnest(range(1, 11)) AS decile),
       hit AS (
         SELECT s.decile, min((rows_cum, v, pos_cum, n, tot_pos)) AS b
         FROM spine s JOIN cum ON rows_cum * 10 >= n * s.decile
         GROUP BY s.decile)
       SELECT decile::INT AS decile, b[2]::BIGINT AS score_threshold,
         b[1]::BIGINT AS rows_cum, b[3]::BIGINT AS pos_cum,
         (b[3] * 1000000 // b[5])::BIGINT AS capture_micro,
         (b[3] * b[4] * 1000000 // (b[1] * b[5]))::BIGINT AS lift_micro
       FROM hit ORDER BY decile"""

  /** Dead-inventory audit: dimension members never referenced by the
    * fact table — unsold parts, unused suppliers — with exact share
    * micro. The catalog-hygiene read before a mixture/assortment
    * decision, and the left-anti-join pattern every warehouse runs.
    * Scale: two distinct fact key sets (map-side collapsed) anti-joined
    * against the dimension keys; one summary row per dimension.
    */
  def deadStock(dim: DataFrame, dimKey: String, fact: DataFrame,
      factKey: String, label: String): DataFrame = {
    val used = fact.select(col(factKey).as("k")).distinct()
    dim.select(col(dimKey).as("k"))
      .join(used.withColumn("u", lit(1)), Seq("k"), "left")
      .agg(count(lit(1)).as("n_members"),
        count(when(col("u").isNull, 1)).as("n_dead"))
      .select(lit(label).as("dimension"), col("n_members"), col("n_dead"),
        expr("n_dead * 1000000L div n_members").as("dead_micro"))
  }

  // ---- q236: unsold parts and unused suppliers --------------------------------
  private def q236(s: SparkSession, d: String): DataFrame =
    deadStock(Tables.part(s, d), "p_partkey", Tables.lineitem(s, d),
        "l_partkey", "parts")
      .unionByName(deadStock(Tables.supplier(s, d), "s_suppkey",
        Tables.lineitem(s, d), "l_suppkey", "suppliers"))
      .orderBy(col("dimension"))
  private val q236Sql =
    """WITH up AS (SELECT DISTINCT l_partkey AS k FROM lineitem),
       us AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
       p AS (
         SELECT 'parts' AS dimension, count(*)::BIGINT AS n_members,
           count(*) FILTER (WHERE up.k IS NULL)::BIGINT AS n_dead
         FROM part LEFT JOIN up ON p_partkey = up.k),
       s AS (
         SELECT 'suppliers' AS dimension, count(*)::BIGINT AS n_members,
           count(*) FILTER (WHERE us.k IS NULL)::BIGINT AS n_dead
         FROM supplier LEFT JOIN us ON s_suppkey = us.k)
       SELECT dimension, n_members, n_dead,
         (n_dead * 1000000 // n_members)::BIGINT AS dead_micro
       FROM (SELECT * FROM p UNION ALL SELECT * FROM s) t
       ORDER BY dimension"""

  /** Q–Q table between two classes: the nearest-rank deciles of each
    * side, paired, with the per-decile ratio — HOW two distributions
    * differ (uniform ratio ⇒ scale shift; drifting ratio ⇒ shape
    * change), where q199's KS says only THAT they differ. Exact integer
    * decile cuts (the q229 rule per class); the ratio is one micro
    * floor.
    */
  def qqTable(df: DataFrame, valueCol: Column, isClassA: Column,
      isClassB: Column, quantized: Boolean = false): DataFrame = {
    val base = df.filter(isClassA || isClassB)
      .select(valueCol.cast("long").as("v"), isClassA.as("is_a"))
    val byV = base.groupBy(col("v"), col("is_a"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("is_a")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        byV.select(col("v"), col("is_a"),
          sum(col("c")).over(w).as("cum"),
          sum(col("c")).over(Window.partitionBy(col("is_a"))).as("n"))
      else
        // Continuous value domain: the two classes' collapses are
        // corpus-sized — route through the two-pass prefix sum with
        // hash-aggregated class totals.
        DistributedPrefix.cumSums(byV, Seq("is_a"), Seq(col("v")), Seq("c"))
          .join(broadcast(byV.groupBy(col("is_a"))
            .agg(sum(col("c")).as("n"))), Seq("is_a"))
          .select(col("v"), col("is_a"), col("cum_c").as("cum"), col("n"))
    val spine = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("decile"))
    broadcast(spine)
      .join(cum, col("cum") * 10 >= col("n") * col("decile"))
      .groupBy(col("decile"))
      .agg(min(when(col("is_a"), col("v"))).as("v_a"),
        min(when(!col("is_a"), col("v"))).as("v_b"))
      .select(col("decile"), col("v_a"), col("v_b"),
        when(col("v_b") === 0, lit(null).cast("long"))
          .otherwise(
            expr("v_a * 1000000L div v_b"))
          .as("ratio_micro"))
  }

  // ---- q237: open-vs-fulfilled price distributions, decile by decile ----------
  private def q237(s: SparkSession, d: String): DataFrame =
    qqTable(Tables.orders(s, d), floor(col("o_totalprice") * 100),
        col("o_orderstatus") === "O", col("o_orderstatus") === "F",
        quantized = true)
      .orderBy(col("decile"))
  private val q237Sql =
    """WITH base AS (
         SELECT floor(o_totalprice * 100)::BIGINT AS v,
           (o_orderstatus = 'O') AS is_a
         FROM orders WHERE o_orderstatus IN ('O', 'F')),
       byv AS (
         SELECT v, is_a, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
       cm AS (
         SELECT v, is_a,
           sum(c) OVER (PARTITION BY is_a ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY is_a) AS n
         FROM byv),
       spine AS (SELECT unnest(range(1, 10)) AS decile)
       SELECT decile::INT AS decile,
         min(CASE WHEN is_a THEN v END)::BIGINT AS v_a,
         min(CASE WHEN NOT is_a THEN v END)::BIGINT AS v_b,
         CASE WHEN min(CASE WHEN NOT is_a THEN v END) = 0 THEN NULL
           ELSE sign(min(CASE WHEN is_a THEN v END))::BIGINT
             * sign(min(CASE WHEN NOT is_a THEN v END))::BIGINT
             * (abs(min(CASE WHEN is_a THEN v END)) * 1000000
               // abs(min(CASE WHEN NOT is_a THEN v END))) END::BIGINT
           AS ratio_micro
       FROM spine s JOIN cm ON cm.cum * 10 >= cm.n * s.decile
       GROUP BY decile ORDER BY decile"""

  /** Pooled two-proportion z statistic: is conversion in A different
    * from B beyond sampling noise — the A/B readout at the top of every
    * experiment review (q193's Wilson interval bounds ONE rate; this
    * compares two). Counts exact BIGINT; the z finish is the identical
    * correctly-rounded double path both engines (one pooled rate, one
    * sqrt, one division), rounded to 4. Null when a pooled-variance
    * term degenerates (p̂ ∈ {0, 1} or an empty arm).
    */
  def twoProportionZ(df: DataFrame, isArmA: Column, isArmB: Column,
      isSuccess: Column): DataFrame = {
    val base = df.filter(isArmA || isArmB)
      .select(isArmA.as("in_a"), isSuccess.cast("boolean").as("y"))
    base.agg(
        count(when(col("in_a"), 1)).as("n_a"),
        count(when(col("in_a") && col("y"), 1)).as("s_a"),
        count(when(!col("in_a"), 1)).as("n_b"),
        count(when(!col("in_a") && col("y"), 1)).as("s_b"))
      .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        when(col("n_a") === 0 || col("n_b") === 0
            || col("s_a") + col("s_b") === 0
            || col("s_a") + col("s_b") === col("n_a") + col("n_b"),
          lit(null).cast("double"))
          .otherwise {
            val pa = col("s_a").cast("double") / col("n_a").cast("double")
            val pb = col("s_b").cast("double") / col("n_b").cast("double")
            val p = (col("s_a") + col("s_b")).cast("double") /
              (col("n_a") + col("n_b")).cast("double")
            round((pa - pb) /
              sqrt(p * (lit(1d) - p) *
                (lit(1d) / col("n_a").cast("double")
                  + lit(1d) / col("n_b").cast("double"))), 4) + lit(0.0)
          }.as("z"))
  }

  // ---- q238: did purchase share move between the two half-months? -------------
  private def q238(s: SparkSession, d: String): DataFrame =
    twoProportionZ(Tables.events(s, d),
      dayofmonth(col("ts")) <= 15, dayofmonth(col("ts")) > 15,
      col("event_type") === "purchase")
  private val q238Sql =
    """WITH base AS (
         SELECT (day(ts::TIMESTAMP) <= 15) AS in_a,
           (event_type = 'purchase') AS y
         FROM events),
       agg AS (
         SELECT count(*) FILTER (WHERE in_a)::BIGINT AS n_a,
           count(*) FILTER (WHERE in_a AND y)::BIGINT AS s_a,
           count(*) FILTER (WHERE NOT in_a)::BIGINT AS n_b,
           count(*) FILTER (WHERE NOT in_a AND y)::BIGINT AS s_b
         FROM base)
       SELECT n_a, s_a, n_b, s_b,
         CASE WHEN n_a = 0 OR n_b = 0 OR s_a + s_b = 0
             OR s_a + s_b = n_a + n_b THEN NULL
           ELSE round(
             (s_a::DOUBLE / n_a::DOUBLE - s_b::DOUBLE / n_b::DOUBLE)
             / sqrt((s_a + s_b)::DOUBLE / (n_a + n_b)::DOUBLE
               * (1 - (s_a + s_b)::DOUBLE / (n_a + n_b)::DOUBLE)
               * (1 / n_a::DOUBLE + 1 / n_b::DOUBLE)), 4) + 0.0
           END AS z
       FROM agg"""

  /** 2-D skyline (Pareto frontier): the rows no other row dominates,
    * with x to MINIMIZE and y to MAXIMIZE — "cheapest for its size",
    * the multi-criteria shortlist query of the database literature. A
    * point survives iff its y exceeds every strictly-cheaper point's y;
    * equal-x points collapse to their best y first. The staircase falls
    * out of ONE running max over the (x → max y) collapse — never the
    * O(n²) dominance self-join — and the window runs on the
    * distinct-x-sized relation (the q204 collapsed-domain discipline),
    * not corpus rows; for a CONTINUOUS x domain (prices in raw doubles)
    * pass `quantized = false` to route the running max through the
    * [[DistributedPrefix]] two-pass prefix machinery. Exact integer
    * comparisons; emits each frontier point with how many raw rows sit
    * exactly on it.
    */
  def skyline(df: DataFrame, xCol: Column, yCol: Column,
      quantized: Boolean = false): DataFrame = {
    val pts = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
    val bestY = pts.groupBy(col("x")).agg(max(col("y")).as("y"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev =
      if (quantized) bestY.withColumn("prev_best", max(col("y")).over(w))
      else DistributedPrefix
        .cumSums(bestY, Nil, Seq(col("x")), Nil, maxCols = Seq("y"))
        .withColumnRenamed("prevmax_y", "prev_best")
    val frontier = withPrev
      .filter(col("prev_best").isNull || col("y") > col("prev_best"))
      .select(col("x"), col("y"))
    frontier.join(pts, Seq("x", "y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_rows"))
  }

  // ---- q240: cheapest part for its size — the procurement shortlist -----------
  private def q240(s: SparkSession, d: String): DataFrame =
    skyline(Tables.part(s, d), floor(col("p_retailprice") * 100),
        col("p_size"), quantized = true)
      .orderBy(col("x"))
  private val q240Sql =
    """WITH pts AS (
         SELECT floor(p_retailprice * 100)::BIGINT AS x,
           p_size::BIGINT AS y
         FROM part),
       besty AS (SELECT x, max(y)::BIGINT AS y FROM pts GROUP BY x),
       fr AS (
         SELECT x, y FROM (
           SELECT x, y, max(y) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_best
           FROM besty) t
         WHERE prev_best IS NULL OR y > prev_best)
       SELECT fr.x, fr.y, count(*)::BIGINT AS n_rows
       FROM fr JOIN pts ON fr.x = pts.x AND fr.y = pts.y
       GROUP BY fr.x, fr.y ORDER BY fr.x"""

  /** Standardized Pearson residuals of a two-way contingency table:
    * (observed − expected)/√expected per cell — WHICH cells drive the
    * q155-style chi-square, with sign (over- vs under-represented).
    * Counts and the expected-value numerators are exact BIGINTs; the
    * residual is the identical three-op double path on both engines
    * (one division for e, one sqrt, one division), rounded to 4. Cells
    * with zero expected mass cannot occur (margins are positive by
    * construction of the cross).
    *
    * Scale: one (a, b) count aggregation, two margin aggregations
    * broadcast back, all map-side partials.
    */
  def contingencyResiduals(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val rb = cells.groupBy(col("b")).agg(sum(col("o")).as("rb"))
    val n = cells.agg(sum(col("o")).as("n"))
    cells.join(broadcast(ra), Seq("a")).join(broadcast(rb), Seq("b"))
      .crossJoin(broadcast(n))
      .select(col("a").as(aCol), col("b").as(bCol), col("o"),
        col("ra"), col("rb"),
        round((col("o").cast("double")
            - (col("ra") * col("rb")).cast("double") / col("n").cast("double"))
          / sqrt((col("ra") * col("rb")).cast("double")
            / col("n").cast("double")), 4)
          .+(lit(0.0)).as("residual"))
  }

  // ---- q241: which (event type × weekday) cells are over-represented? ---------
  private def q241(s: SparkSession, d: String): DataFrame =
    contingencyResiduals(
      Tables.events(s, d).select(col("event_type"),
        expr("(unix_micros(ts) div 1000000L div 86400L) % 7")
          .as("dow")),
      "event_type", "dow")
      .orderBy(col("event_type"), col("dow"))
  private val q241Sql =
    """WITH base AS (
         SELECT event_type AS a,
           (epoch_us(ts) // 1000000 // 86400) % 7 AS b
         FROM events),
       cells AS (
         SELECT a, b, count(*)::BIGINT AS o FROM base GROUP BY 1, 2),
       ra AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY a),
       rb AS (SELECT b, sum(o)::BIGINT AS rb FROM cells GROUP BY b),
       n AS (SELECT sum(o)::BIGINT AS n FROM cells)
       SELECT c.a AS event_type, c.b AS dow, o, ra, rb,
         round((o::DOUBLE - (ra * rb)::DOUBLE / n::DOUBLE)
           / sqrt((ra * rb)::DOUBLE / n::DOUBLE), 4) + 0.0 AS residual
       FROM cells c JOIN ra ON c.a = ra.a JOIN rb ON c.b = rb.b
       CROSS JOIN n
       ORDER BY event_type, dow"""

  // ---- q224: does a part determine its supplier? (it must not) -----------------
  private def q224(s: SparkSession, d: String): DataFrame =
    fdCheck(Tables.lineitem(s, d), "l_partkey", "l_suppkey")
  private val q224Sql =
    """WITH pk AS (
         SELECT l AS lk, count(*)::BIGINT AS n_rhs FROM (
           SELECT DISTINCT l_partkey AS l, l_suppkey AS r FROM lineitem) t
         GROUP BY l)
       SELECT 'l_partkey' AS lhs, 'l_suppkey' AS rhs,
         count(*)::BIGINT AS n_keys,
         count(*) FILTER (WHERE n_rhs > 1)::BIGINT AS n_violating,
         max(n_rhs)::BIGINT AS max_fanout,
         (count(*) FILTER (WHERE n_rhs > 1) * 1000000
           // count(*))::BIGINT AS violation_micro
       FROM pk"""

  // ---- q416: how many rows does each candidate FD cost? ------------------------
  // g3 prices the q224/q298 discovery output in rows: the PK candidate
  // is exactly 0, the rest rank by deletion cost.
  private def q416(s: SparkSession, d: String): DataFrame =
    fdG3Audit(Tables.orders(s, d), Seq(
      "o_orderkey" -> "o_orderstatus",
      "o_custkey" -> "o_orderstatus",
      "o_orderdate" -> "o_orderpriority",
      "o_custkey" -> "o_orderpriority"))
  private val q416Sql = {
    def one(x: String, a: String) =
      s"""SELECT '$x' AS lhs, '$a' AS rhs, sum(n_l)::BIGINT AS n_rows,
        (sum(n_l) - sum(keep))::BIGINT AS n_delete,
        ((sum(n_l) - sum(keep)) * 1000000 // sum(n_l))::BIGINT AS g3_ppm,
        (sum(n_l) - sum(keep)) = 0 AS holds_exactly
      FROM (
        SELECT l, sum(c) AS n_l, max(c) AS keep FROM (
          SELECT $x::VARCHAR AS l, $a::VARCHAR AS r, count(*)::BIGINT AS c
          FROM orders GROUP BY 1, 2) cells
        GROUP BY l) pk"""
    Seq("o_orderkey" -> "o_orderstatus", "o_custkey" -> "o_orderstatus",
      "o_orderdate" -> "o_orderpriority",
      "o_custkey" -> "o_orderpriority")
      .map { case (x, a) => one(x, a) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY g3_ppm, lhs, rhs")
  }

  // ---- q222: which priorities gained order-value share, 1995 → 1996? ----------
  private def q222(s: SparkSession, d: String): DataFrame =
    shareShift(Tables.orders(s, d), "o_orderpriority", "o_totalprice",
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"),
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .orderBy(col("o_orderpriority"))
  private val q222Sql =
    """WITH base AS (
         SELECT o_orderpriority AS dim,
           sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
             THEN floor(o_totalprice * 100)::BIGINT ELSE 0 END)::BIGINT
             AS rev_a,
           sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
             THEN floor(o_totalprice * 100)::BIGINT ELSE 0 END)::BIGINT
             AS rev_b
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1),
       tot AS (
         SELECT sum(rev_a)::BIGINT AS ta, sum(rev_b)::BIGINT AS tb
         FROM base)
       SELECT dim AS o_orderpriority, rev_a, rev_b,
         (rev_a * 1000000 // ta)::BIGINT AS share_a_micro,
         (rev_b * 1000000 // tb)::BIGINT AS share_b_micro,
         (rev_b * 1000000 // tb - rev_a * 1000000 // ta)::BIGINT
           AS delta_micro
       FROM base, tot ORDER BY o_orderpriority"""

  // ---- q216: the event-value cutoff that best separates purchases -------------
  private def q216(s: SparkSession, d: String): DataFrame =
    giniStump(Tables.events(s, d).select(
        floor(col("value") * 100).as("cents"), col("event_type")),
      "cents", col("event_type") === "purchase")
  private val q216Sql =
    """WITH byv AS (
         SELECT floor(value * 100)::BIGINT AS v,
           count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS p,
           count(*) FILTER (WHERE event_type != 'purchase')::BIGINT AS q
         FROM events GROUP BY 1),
       tot AS (SELECT sum(p)::BIGINT AS tp, sum(q)::BIGINT AS tq FROM byv),
       pre AS (
         SELECT v,
           sum(p) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p1,
           sum(q) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q1,
           tp, tq
         FROM byv, tot),
       sc AS (
         SELECT v, p1, q1, (p1 + q1)::BIGINT AS n1,
           (tp + tq - p1 - q1)::BIGINT AS n2,
           (tp - p1)::BIGINT AS p2, (tq - q1)::BIGINT AS q2,
           (p1 * p1 + q1 * q1)::DOUBLE / (p1 + q1)::DOUBLE
             + ((tp - p1) * (tp - p1) + (tq - q1) * (tq - q1))::DOUBLE
               / (tp + tq - p1 - q1)::DOUBLE AS score
         FROM pre WHERE tp + tq - p1 - q1 > 0),
       best AS (
         SELECT *, row_number() OVER (ORDER BY score DESC, v) AS rn
         FROM sc)
       SELECT v AS threshold, n1::BIGINT AS n_left, n2::BIGINT AS n_right,
         p1::BIGINT AS pos_left, p2::BIGINT AS pos_right,
         floor(((n1 + n2)::DOUBLE - score) / (n1 + n2)::DOUBLE * 1e6
           + 0.5)::BIGINT AS gini_micro
       FROM best WHERE rn = 1"""

  /** Two-sample Kolmogorov–Smirnov statistic per group: the maximum gap
    * between the two classes' empirical CDFs — the distribution-SHAPE
    * companion to [[mannWhitneyU]]'s location test (U can be ~0.5 while
    * the variances differ wildly; KS catches that). The drift gate a
    * pipeline runs between yesterday's and today's quality scores.
    *
    * Exact rational algebra: at each distinct value, the CDF gap is
    * |c₁/n₁ − c₂/n₂| = |c₁·n₂ − c₂·n₁| / (n₁·n₂) — numerator and
    * denominator exact BIGINT, so the max is found on integers and the
    * single division is the final micro floor. (Evaluating gaps only AT
    * distinct observed values is exact: the CDF difference is constant
    * between observations.) Bound: c·n ≤ n² keeps 10⁶-scaling inside
    * BIGINT to ~10⁶ rows per group.
    *
    * Scale: one (group, value) pre-collapse with map-side partials, one
    * cumulative window over the collapsed relation (distinct values, not
    * rows — when values are CONTINUOUS that collapse is corpus-sized per
    * group: pass `quantized = false` for the [[DistributedPrefix]]
    * two-pass sum), one hash agg for the max. The totals join is
    * |groups|-sized.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      isClassA: Column, isClassB: Column,
      quantized: Boolean = false): DataFrame = {
    val base = df.filter(isClassA || isClassB)
      .select(col(groupCol).as("g"), col(valueCol).as("v"),
        isClassA.as("is_a"))
    val pv = base.groupBy(col("g"), col("v"))
      .agg(count(when(col("is_a"), 1)).as("ca"),
        count(when(!col("is_a"), 1)).as("cb"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum =
      if (quantized)
        pv.select(col("g"), sum(col("ca")).over(w).as("c1"),
          sum(col("cb")).over(w).as("c2"))
      else
        DistributedPrefix
          .cumSums(pv, Seq("g"), Seq(col("v")), Seq("ca", "cb"))
          .select(col("g"), col("cum_ca").as("c1"), col("cum_cb").as("c2"))
    val tot = pv.groupBy(col("g"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
    cum.join(tot, Seq("g"))
      .groupBy(col("g"), col("n_a"), col("n_b"))
      .agg(max(abs(col("c1") * col("n_b") - col("c2") * col("n_a")))
        .as("ks_num"))
      .select(col("g").as(groupCol), col("n_a"), col("n_b"), col("ks_num"),
        expr("ks_num * 1000000L div (n_a * n_b)").as("ks_micro"))
  }

  // ---- q199: KS distribution drift between order-status populations -----------
  // The q194 pairing, shape edition: per priority, does the totalprice
  // DISTRIBUTION differ between open and fulfilled orders?
  private def q199(s: SparkSession, d: String): DataFrame =
    ksTest(Tables.orders(s, d), "o_orderpriority", "o_totalprice",
      col("o_orderstatus") === "O", col("o_orderstatus") === "F",
      quantized = true)
      .orderBy(col("o_orderpriority"))
  private val q199Sql =
    """WITH base AS (
         SELECT o_orderpriority AS g, o_totalprice AS v,
           (o_orderstatus = 'O') AS is_a
         FROM orders WHERE o_orderstatus IN ('O', 'F')),
       pv AS (
         SELECT g, v, count(*) FILTER (WHERE is_a)::BIGINT AS ca,
           count(*) FILTER (WHERE NOT is_a)::BIGINT AS cb
         FROM base GROUP BY g, v),
       cum AS (
         SELECT g,
           sum(ca) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
           sum(cb) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
         FROM pv),
       tot AS (
         SELECT g, sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
         FROM pv GROUP BY g HAVING sum(ca) > 0 AND sum(cb) > 0)
       SELECT c.g AS o_orderpriority, t.n_a, t.n_b,
         max(abs(c.c1 * t.n_b - c.c2 * t.n_a))::BIGINT AS ks_num,
         (max(abs(c.c1 * t.n_b - c.c2 * t.n_a)) * 1000000
           // (t.n_a * t.n_b))::BIGINT AS ks_micro
       FROM cum c JOIN tot t ON c.g = t.g
       GROUP BY c.g, t.n_a, t.n_b
       ORDER BY o_orderpriority"""

  /** Spearman rank correlation per group: Pearson correlation of the two
    * variables' midranks — the monotone-association measure that ignores
    * each variable's scale entirely (q48's moment correlation is its
    * parametric sibling; q153's Kendall tau its O(n²) cousin — this one
    * is the O(n log n) form that survives corpus-scale groups).
    *
    * Ties: midranks via the same doubled-rank trick as [[mannWhitneyU]];
    * Pearson on integer rank2s clears every denominator —
    *   ρ = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))
    * with all five sums exact BIGINT (bound: 4n⁴ < 2⁵³ keeps the
    * numerator exactly double-representable for groups to ~6·10³ rows —
    * per-group runs). The final value follows the q153 tau convention:
    * one double division (sqrt/multiply/divide are correctly-rounded
    * single IEEE ops — identical on any libm, unlike ln/pow) then the
    * binary-deterministic floor(x·10⁶ + 0.5)/10⁶. NOT floor-of-integer-
    * sqrt-product: floor(√A·√A) lands on A−1 whenever the rounded
    * product dips below A, which would report ρ > 1 for perfectly
    * monotone groups.
    *
    * Scale: two single-partition-column windows + one hash aggregation;
    * no pair join, map-side partials on every sum.
    */
  def spearmanRho(df: DataFrame, groupCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("g"), xCol.as("x"), yCol.as("y"))
    val wx = Window.partitionBy(col("g")).orderBy(col("x"))
    val tx = Window.partitionBy(col("g"), col("x"))
    val wy = Window.partitionBy(col("g")).orderBy(col("y"))
    val ty = Window.partitionBy(col("g"), col("y"))
    val ranked = base.select(col("g"),
      (lit(2L) * rank().over(wx) + count(lit(1)).over(tx) - 1L).as("rx"),
      (lit(2L) * rank().over(wy) + count(lit(1)).over(ty) - 1L).as("ry"))
    ranked.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
        sum(col("ry")).as("sy"), sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .select(col("g").as(groupCol), col("n"),
        when(col("n") < 2
            || col("n") * col("sxx") === col("sx") * col("sx")
            || col("n") * col("syy") === col("sy") * col("sy"),
          lit(null).cast("double"))
          .otherwise(bin6(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")))))
          .as("rho"))
  }

  // ---- q195: monotone association between part price and size -----------------
  // Per brand: does retail price move monotonically with size? p_size is
  // a small-integer domain, so the tied-midrank path is exercised on
  // every group.
  private def q195(s: SparkSession, d: String): DataFrame =
    spearmanRho(Tables.part(s, d), "p_brand", col("p_retailprice"),
        col("p_size"))
      .orderBy(col("p_brand"))
  private val q195Sql =
    """WITH base AS (
         SELECT p_brand AS g, p_retailprice AS x, p_size AS y
         FROM part),
       ranked AS (
         SELECT g,
           2 * rank() OVER (PARTITION BY g ORDER BY x)
             + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
           2 * rank() OVER (PARTITION BY g ORDER BY y)
             + count(*) OVER (PARTITION BY g, y) - 1 AS ry
         FROM base),
       agg AS (
         SELECT g, count(*)::BIGINT AS n, sum(rx)::BIGINT AS sx,
           sum(ry)::BIGINT AS sy, sum(rx * rx)::BIGINT AS sxx,
           sum(ry * ry)::BIGINT AS syy, sum(rx * ry)::BIGINT AS sxy
         FROM ranked GROUP BY g)
       SELECT g AS p_brand, n,
         CASE WHEN n < 2 OR n * sxx = sx * sx OR n * syy = sy * sy
           THEN NULL
           ELSE floor((n * sxy - sx * sy)::DOUBLE
             / (sqrt((n * sxx - sx * sx)::DOUBLE)
               * sqrt((n * syy - sy * sy)::DOUBLE)) * 1e6 + 0.5) / 1e6
           END AS rho
       FROM agg ORDER BY p_brand"""

  // ---- q187: per-user event-mix concentration ---------------------------------
  private def q187(s: SparkSession, d: String): DataFrame =
    simpsonConcentration(Tables.events(s, d), "user_id", "event_type")
      .orderBy(col("user_id"))
  private val q187Sql =
    """WITH c AS (
         SELECT user_id, event_type, count(*)::BIGINT AS c
         FROM events GROUP BY 1, 2)
       SELECT user_id, count(*)::BIGINT AS n_cats, sum(c)::BIGINT AS n,
         (sum(c * c) * 1000000 // (sum(c) * sum(c)))::BIGINT
           AS simpson_micro,
         ((sum(c) * sum(c)) * 1000000 // sum(c * c))::BIGINT
           AS effective_micro
       FROM c GROUP BY user_id ORDER BY user_id"""

  /** Kruskal–Wallis H: does `valueCol`'s distribution differ across the
    * k classes of `groupCol`? The k-group extension of [[mannWhitneyU]]
    * — the one-way ANOVA alternative when normality is garbage, i.e.
    * THE omnibus test a curation pipeline runs on a skewed metric
    * across more than two sources before drilling into pairs.
    *
    * Exact integer rank algebra (the q194 doubled-midrank discipline,
    * derived from the distinct-value collapse instead of a per-row
    * window): for a value v with cnt_v occurrences and cum_v inclusive
    * running count, every occurrence carries doubled midrank
    * rank2(v) = 2·cum_v − cnt_v + 1, so per-class doubled rank sums
    * R2_g = Σ_v cnt_vg·rank2(v) are exact BIGINT. With doubled ranks
    * H = 3/(N(N+1)) · Σ_g (R2_g − n_g(N+1))²/n_g; the emitted
    * `h_micro` is the two-floor form (the q177 lift discipline): each
    * class term (R2_g − n_g(N+1))² div n_g floors at unit scale in
    * decimal(38,0)/HUGEINT widened algebra (the squared deviations
    * overflow BIGINT at corpus scale, the quotient q_g ≤ 4N³ does
    * not), then 3·10⁶·Σq_g floors once more by N(N+1) — deterministic
    * bitwise on both engines, within ~3·10⁶·k/N² micro-units of the
    * real H.
    * `h_adj_micro` applies the tie correction C = 1 − Σ(t³−t)/(N³−N)
    * as one more exact floored division (null when every value ties —
    * C = 0 — or n < 2).
    *
    * Scale: the rank derivation never windows the corpus — ranks come
    * from the (value) collapse's running count, which under
    * `quantized = true` (bounded domains: cents, int8 scores) is a
    * plain cumulative window and under `quantized = false` routes
    * through [[DistributedPrefix.cumSums]] (continuous domains:
    * corpus-sized collapse, no SinglePartition exchange). Everything
    * after is hash aggregation with map-side partials; the class
    * relation (k rows) finishes against one broadcast totals row.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: Column,
      quantized: Boolean = false): DataFrame = {
    val base = df.select(col(groupCol).as("g"), valueCol.as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val byVG = base.groupBy(col("v"), col("g"))
      .agg(count(lit(1)).as("c_vg"))
    val byV = byVG.groupBy(col("v")).agg(sum(col("c_vg")).as("c_v"))
    val cum =
      if (quantized) {
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byV.withColumn("cum_c_v", sum(col("c_v")).over(w))
      } else {
        DistributedPrefix.cumSums(byV, Nil, Seq(col("v")), Seq("c_v"))
      }
    val ranked = byVG.join(
      cum.select(col("v"), col("c_v"), col("cum_c_v")), "v")
    val perG = ranked.groupBy(col("g"))
      .agg(sum(col("c_vg")).as("n_g"),
        sum(col("c_vg") * (lit(2L) * col("cum_c_v") - col("c_v") + 1L))
          .as("r2_g"))
    val ties = byV.agg(
      sum(col("c_v") * col("c_v") * col("c_v") - col("c_v")).as("tie_num"))
    val tot = perG.agg(sum(col("n_g")).as("n"),
      count(lit(1)).as("k_groups"))
    perG.crossJoin(broadcast(tot))
      .select(col("n"), col("k_groups"),
        expr("""cast(cast(r2_g - n_g * (n + 1L) as decimal(38,0))
            * (r2_g - n_g * (n + 1L)) div n_g as long)""").as("q_g"))
      .groupBy(col("n"), col("k_groups"))
      .agg(sum(col("q_g")).as("q_sum"))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("k_groups"), col("tie_num"),
        when(col("n") >= 2L,
          expr("""cast(cast(q_sum as decimal(38,0)) * 3000000L
              div (cast(n as decimal(38,0)) * (n + 1L)) as long)"""))
          .otherwise(lit(null).cast("long")).as("h_micro"))
      .withColumn("h_adj_micro",
        when(col("n") >= 2L &&
            (col("n") * col("n") * col("n") - col("n") - col("tie_num")) > 0L,
          expr("""cast(cast(h_micro as decimal(38,0)) * (n * n * n - n)
              div (n * n * n - n - tie_num) as long)"""))
          .otherwise(lit(null).cast("long")))
  }

  // ---- q334: omnibus rank test of order value across priorities ---------------
  // Continuous totalprice ⇒ the collapse is order-table-sized, so the
  // query exercises the unquantized DistributedPrefix path.
  private def q334(s: SparkSession, d: String): DataFrame =
    kruskalWallis(Tables.orders(s, d), "o_orderpriority",
      col("o_totalprice"), quantized = false)
  private val q334Sql =
    """WITH base AS (
         SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
         WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
       ranked AS (
         SELECT g,
           2 * rank() OVER (ORDER BY v)
             + count(*) OVER (PARTITION BY v) - 1 AS rank2
         FROM base),
       perg AS (
         SELECT g, count(*)::BIGINT AS n_g, sum(rank2)::BIGINT AS r2_g
         FROM ranked GROUP BY g),
       tot AS (
         SELECT sum(n_g)::BIGINT AS n, count(*)::BIGINT AS k_groups
         FROM perg),
       ties AS (
         SELECT sum(c * c * c - c)::BIGINT AS tie_num
         FROM (SELECT count(*)::BIGINT AS c FROM base GROUP BY v)),
       terms AS (
         SELECT n, k_groups,
           ((r2_g - n_g * (n + 1))::HUGEINT * (r2_g - n_g * (n + 1))
             // n_g::HUGEINT)::BIGINT AS q_g
         FROM perg, tot),
       h AS (
         SELECT n, k_groups,
           (sum(q_g)::HUGEINT * 3000000
             // (n::HUGEINT * (n + 1)))::BIGINT AS h_micro
         FROM terms GROUP BY n, k_groups)
       SELECT n, k_groups, tie_num,
         CASE WHEN n >= 2 THEN h_micro ELSE NULL END::BIGINT AS h_micro,
         CASE WHEN n >= 2 AND (n * n * n - n - tie_num) > 0
           THEN (h_micro::HUGEINT * (n * n * n - n)
             // (n * n * n - n - tie_num))::BIGINT
           ELSE NULL END::BIGINT AS h_adj_micro
       FROM h, ties"""

  /** McNemar's test on PAIRED binary judgments: do two detectors (two
    * model versions, two quality filters, two labelers) disagree
    * systematically on the SAME rows? Counts the discordant cells —
    * b = A-only, c = B-only — per group; under H0 (no systematic
    * difference) b and c split evenly, and the continuity-corrected
    * statistic (|b−c|−1)²/(b+c) is χ²(1). THE before/after read when a
    * filter changes and you need "did it get stricter or just
    * different".
    *
    * Pure BIGINT algebra: counts, one squared difference, one floored
    * micro division ((|b−c|−1)₊ clamps at zero so b = c never goes
    * negative; numerator ≤ n²·10⁶ stays in BIGINT to ~3·10⁶-row
    * groups). No discordant pairs (b + c = 0) ⇒ null, not a 0/0.
    *
    * Scale: one hash aggregation with map-side partials — the paired
    * structure means NO join; both judgments evaluate on the same row.
    */
  def mcnemar(df: DataFrame, groupCol: String, testA: Column,
      testB: Column): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(testA && !testB, 1L).otherwise(0L)).as("b"),
        sum(when(!testA && testB, 1L).otherwise(0L)).as("c"))
      .withColumn("chi2_micro",
        when(col("b") + col("c") > 0L,
          expr("""greatest(abs(b - c) - 1L, 0L)
              * greatest(abs(b - c) - 1L, 0L) * 1000000L div (b + c)"""))
          .otherwise(lit(null).cast("long")))

  // ---- q335: did the two length gates change verdicts systematically? ---------
  // Char gate (n_chars > 600) vs token gate (> 110 whitespace tokens) on
  // the same documents, per language: b ⇒ char-gate-only passes,
  // c ⇒ token-gate-only.
  private def q335(s: SparkSession, d: String): DataFrame =
    mcnemar(Tables.documents(s, d), "lang",
      col("n_chars") > 600L,
      size(split(col("text"), " ")) > 110)
      .orderBy(col("lang"))
  private val q335Sql =
    """WITH t AS (
         SELECT lang, (n_chars > 600) AS a,
           (len(string_split(text, ' ')) > 110) AS b2
         FROM documents),
       agg AS (
         SELECT lang, count(*)::BIGINT AS n,
           sum(CASE WHEN a AND NOT b2 THEN 1 ELSE 0 END)::BIGINT AS b,
           sum(CASE WHEN NOT a AND b2 THEN 1 ELSE 0 END)::BIGINT AS c
         FROM t GROUP BY lang)
       SELECT lang, n, b, c,
         CASE WHEN b + c > 0
           THEN greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0)
             * 1000000 // (b + c)
           ELSE NULL END::BIGINT AS chi2_micro
       FROM agg ORDER BY lang"""

  /** Cochran–Armitage trend test: is a binary outcome's rate MONOTONE in
    * an ordered factor (dose, priority tier, quality decile)? Beats
    * k-group χ² when the alternative is ordered — one degree of freedom
    * pointed exactly at "does the rate climb with the tier".
    *
    * With per-tier (wᵢ, nᵢ, sᵢ) and totals (N, S): the N-scaled trend
    * numerator T' = N·Σwᵢsᵢ − S·Σwᵢnᵢ and the variance kernel
    * V = S(N−S)·(N·Σwᵢ²nᵢ − (Σwᵢnᵢ)²) are exact integers (V widens to
    * decimal(38,0)/HUGEINT — S(N−S) alone is ~N²/4); z = T'·√N/√V via
    * the repo's correctly-rounded-IEEE finish on exact integer inputs,
    * rounded to 6 (z² is the χ²(1) statistic; sign = trend direction).
    * Degenerate variance (all-success, all-failure, or one tier) ⇒
    * null.
    *
    * Scale: one hash aggregation to the tier relation (k rows), one
    * single-row finish — no window, no join beyond the broadcast total.
    */
  def cochranArmitage(df: DataFrame, weightExpr: Column,
      success: Column): DataFrame =
    df.select(weightExpr.cast("long").as("w"),
        when(success, 1L).otherwise(0L).as("y"))
      .filter(col("w").isNotNull)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_i"), sum(col("y")).as("s_i"))
      .agg(sum(col("n_i")).as("n"), sum(col("s_i")).as("s"),
        sum(col("w") * col("s_i")).as("sws"),
        sum(col("w") * col("n_i")).as("swn"),
        sum(col("w") * col("w") * col("n_i")).as("sw2n"),
        count(lit(1)).as("k_tiers"))
      .select(col("n"), col("s"), col("k_tiers"),
        (col("n") * col("sws") - col("s") * col("swn")).as("t_num"),
        expr("""cast(cast(s as decimal(38,0)) * (n - s)
            * (cast(n as decimal(38,0)) * sw2n - cast(swn as decimal(38,0)) * swn)
            as decimal(38,0))""").as("v_num"))
      .withColumn("z",
        when(col("v_num") > 0L,
          round(col("t_num") * sqrt(col("n").cast("double")) /
            sqrt(col("v_num").cast("double")), 6) + lit(0.0))
          .otherwise(lit(null).cast("double")))
      .drop("v_num")

  // ---- q336: does fulfillment rate trend across priority tiers? ---------------
  // Tier weight = the priority's leading digit (1-URGENT … 5-LOW);
  // outcome = order fulfilled ('F'). z < 0 ⇒ lower tiers fulfill less.
  private def q336(s: SparkSession, d: String): DataFrame =
    cochranArmitage(Tables.orders(s, d),
      substring(col("o_orderpriority"), 1, 1).cast("long"),
      col("o_orderstatus") === "F")
  private val q336Sql =
    """WITH tiers AS (
         SELECT substr(o_orderpriority, 1, 1)::BIGINT AS w,
           count(*)::BIGINT AS n_i,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
             AS s_i
         FROM orders WHERE substr(o_orderpriority, 1, 1) IS NOT NULL
         GROUP BY 1),
       agg AS (
         SELECT sum(n_i)::BIGINT AS n, sum(s_i)::BIGINT AS s,
           sum(w * s_i)::BIGINT AS sws, sum(w * n_i)::BIGINT AS swn,
           sum(w * w * n_i)::BIGINT AS sw2n, count(*)::BIGINT AS k_tiers
         FROM tiers)
       SELECT n, s, k_tiers,
         (n * sws - s * swn)::BIGINT AS t_num,
         CASE WHEN s::HUGEINT * (n - s)
             * (n::HUGEINT * sw2n - swn::HUGEINT * swn) > 0
           THEN round((n * sws - s * swn) * sqrt(n::DOUBLE)
             / sqrt((s::HUGEINT * (n - s)
               * (n::HUGEINT * sw2n - swn::HUGEINT * swn))::DOUBLE), 6)
             + 0.0
           ELSE NULL END AS z
       FROM agg"""

  /** Deterministic random-allocation permutation test for a mean
    * difference — the assumption-free companion to Welch t (q356) and
    * Mann–Whitney (q194): R replicate group assignments are drawn from
    * the shared md5 split family — ONE digest per row, replicate r
    * reading bit r−1 of the 128 (an exact independent 1/2 each; hashing
    * per row×replicate measured 2× the whole query) — the mean-difference
    * statistic is compared as an EXACT CROSS-MULTIPLIED RATIONAL
    * (|S₁N − N₁S|·den_obs vs |obs|·den_r — no division, no floats), and
    * the p-value is the usual (1 + #extreme)/(R+1) in ppm. rand() would
    * poison reruns and differ per engine; the hash draw is reproducible
    * everywhere, at the price of binomial (not fixed-size) allocations —
    * the random-allocation variant of the permutation test, documented.
    *
    * Scale: the R-fold explode collapses to (replicate, flag) partial
    * aggregates map-side — 2R running sums per task, one tiny shuffle;
    * nothing row-sized survives the explode stage.
    */
  /** Per-partition fold of all R replicate (Σy, n) pairs for
    * [[permutationMeanTest]]: replicate i keeps a row iff bit i of the
    * row's md5 digest is set (hex char i/4, bit i%4 — the little-endian
    * per-nibble read the oracle mirrors with strpos/shift).
    */
  private class PermBitSums(r: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, String),
        (Array[Long], Array[Long]), Array[(Long, Long, Long)]] {
    override def zero: (Array[Long], Array[Long]) =
      (new Array[Long](r), new Array[Long](r))
    override def reduce(b: (Array[Long], Array[Long]),
        a: (Long, String)): (Array[Long], Array[Long]) = {
      val h = a._2
      var i = 0
      while (i < r) {
        val c = h.charAt(i >> 2)
        val v = if (c <= '9') c - '0' else c - 'a' + 10
        if (((v >> (i & 3)) & 1) == 1) { b._1(i) += a._1; b._2(i) += 1 }
        i += 1
      }
      b
    }
    override def merge(b1: (Array[Long], Array[Long]),
        b2: (Array[Long], Array[Long])): (Array[Long], Array[Long]) = {
      var i = 0
      while (i < r) { b1._1(i) += b2._1(i); b1._2(i) += b2._2(i); i += 1 }
      b1
    }
    override def finish(b: (Array[Long], Array[Long])): Array[(Long, Long, Long)] =
      Array.tabulate(r)(i => ((i + 1).toLong, b._1(i), b._2(i)))
    override def bufferEncoder: Encoder[(Array[Long], Array[Long])] =
      ExpressionEncoder()
    override def outputEncoder: Encoder[Array[(Long, Long, Long)]] =
      ExpressionEncoder()
  }

  def permutationMeanTest(df: DataFrame, keyCol: Column, valueCol: Column,
      groupCol: Column, replicates: Int): DataFrame = {
    require(replicates >= 1 && replicates <= 128,
      "permutationMeanTest draws replicate bits from ONE md5 per row" +
        " (128 available)")
    val base = df.select(keyCol.cast("string").as("id"),
      valueCol.cast("long").as("y"), groupCol.cast("boolean").as("g"))
    val tot = base.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("y")).cast("decimal(38,0)").as("s"))
    val obs = base.agg(
      sum(when(col("g"), col("y")).otherwise(0L)).cast("decimal(38,0)")
        .as("s1"),
      sum(when(col("g"), 1L).otherwise(0L)).cast("decimal(38,0)").as("n1"))
    val onum = obs.crossJoin(tot).select(
      abs(col("s1") * col("n") - col("n1") * col("s")).as("num"),
      (col("n1") * (col("n") - col("n1"))).as("den"))
    // ONE md5 per ROW; replicate r reads BIT r−1 of the 128-bit digest
    // (hex char (r−1) div 4, bit (r−1) mod 4 — independent fair coins).
    // The R-fold explode (60M interpreted rows at sf0.1) measured ~24 s;
    // this typed aggregator folds all R running (Σy, n) pairs per
    // PARTITION in one compiled loop — rows×R simple ops, 32 partial
    // arrays shuffled, nothing row-sized survives the map side.
    val s = df.sparkSession
    import s.implicits._
    val rep = base
      .select(col("y"), md5(col("id").cast("binary")).as("h"))
      .as[(Long, String)]
      .select(new PermBitSums(replicates).toColumn.name("a"))
      .select(explode(col("a")).as("t"))
      .select(col("t._1").as("r"), col("t._2").cast("decimal(38,0)").as("s1"),
        col("t._3").cast("decimal(38,0)").as("n1"))
    val extreme = rep.crossJoin(broadcast(tot)).crossJoin(broadcast(onum))
      .filter(col("n1") > 0 && col("n1") < col("n"))
      .filter(abs(col("s1") * col("n") - col("n1") * col("s")) * col("den")
        >= col("num") * (col("n1") * (col("n") - col("n1"))))
      .agg(count(lit(1)).as("n_extreme"))
    extreme.crossJoin(broadcast(tot))
      .select(col("n").cast("long").as("n_rows"), col("n_extreme"),
        expr(s"(1 + n_extreme) * 1000000 div ${replicates + 1}")
          .as("p_ppm"))
  }

  // ---- q392: is quantity distributed alike across return flags? --------------
  private def q392(s: SparkSession, d: String): DataFrame =
    permutationMeanTest(Tables.lineitem(s, d),
      expr("l_orderkey * 10 + l_linenumber"), col("l_quantity"),
      col("l_returnflag") === "R", replicates = 100)
  private[operators] val q392Sql =
    """WITH base AS (
        SELECT (l_orderkey*10 + l_linenumber)::VARCHAR AS id,
          l_quantity::BIGINT AS y, (l_returnflag = 'R') AS g
        FROM lineitem),
      tot AS (SELECT count(*)::HUGEINT AS n, sum(y)::HUGEINT AS s FROM base),
      obs AS (
        SELECT sum(CASE WHEN g THEN y ELSE 0 END)::HUGEINT AS s1,
          sum(CASE WHEN g THEN 1 ELSE 0 END)::HUGEINT AS n1
        FROM base),
      onum AS (
        SELECT abs(o.s1 * t.n - o.n1 * t.s)::HUGEINT AS num,
          (o.n1 * (t.n - o.n1))::HUGEINT AS den
        FROM obs o, tot t),
      hashed AS (SELECT y, md5(id) AS h FROM base),
      rep AS (
        SELECT r,
          sum(CASE WHEN keep THEN y ELSE 0 END)::HUGEINT AS s1,
          sum(CASE WHEN keep THEN 1 ELSE 0 END)::HUGEINT AS n1
        FROM (
          SELECT y, r,
            ((strpos('0123456789abcdef',
              substr(h, ((r - 1) // 4)::INT + 1, 1)) - 1)
              >> ((r - 1) % 4)) & 1 = 1 AS keep
          FROM hashed, range(1, 101) rr(r))
        GROUP BY r),
      cmp AS (
        SELECT count(*)::BIGINT AS n_extreme
        FROM rep p, tot t, onum o
        WHERE p.n1 > 0 AND p.n1 < t.n
          AND abs(p.s1 * t.n - p.n1 * t.s) * o.den
            >= o.num * (p.n1 * (t.n - p.n1)))
      SELECT (SELECT n FROM tot)::BIGINT AS n_rows, n_extreme,
        ((1 + n_extreme) * 1000000 // 101)::BIGINT AS p_ppm
      FROM cmp"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q392_permutation_test", q392, Some(q392Sql)),
    QueryDef("q334_kruskal_wallis", q334, Some(q334Sql)),
    QueryDef("q335_mcnemar", q335, Some(q335Sql)),
    QueryDef("q336_cochran_armitage", q336, Some(q336Sql)),
    QueryDef("q343_chi2_uniform", q343, Some(q343Sql)),
    QueryDef("q347_isotonic_fit", q347, Some(q347Sql)),
    QueryDef("q251_inclusion_audit", q251, Some(q251Sql)),
    QueryDef("q259_salt_plan", q259, Some(q259Sql)),
    QueryDef("q268_grouped_corr", q268, Some(q268Sql)),
    QueryDef("q269_profile_diff", q269, Some(q269Sql)),
    QueryDef("q272_cramers_v", q272, Some(q272Sql)),
    QueryDef("q295_sequence_gaps", q295, Some(q295Sql)),
    QueryDef("q298_fd_discovery", q298, Some(q298Sql)),
    QueryDef("q309_fanout_histogram", q309, Some(q309Sql)),
    QueryDef("q315_anova", q315, Some(q315Sql)),
    QueryDef("q356_welch_t", q356, Some(q356Sql)),
    QueryDef("q299_gk_lambda", q299, Some(q299Sql)),
    QueryDef("q260_corpus_datasheet", q260, Some(q260Sql)),
    QueryDef("q194_mann_whitney", q194, Some(q194Sql)),
    QueryDef("q195_spearman", q195, Some(q195Sql)),
    QueryDef("q199_ks_test", q199, Some(q199Sql)),
    QueryDef("q364_conformal_intervals", q364, Some(q364Sql)),
    QueryDef("q373_conformal_fdr", q373, Some(q373Sql)),
    QueryDef("q374_brown_forsythe", q374, Some(q374Sql)),
    QueryDef("q214_corr_matrix", q214, Some(q214Sql)),
    QueryDef("q216_gini_stump", q216, Some(q216Sql)),
    QueryDef("q222_share_shift", q222, Some(q222Sql)),
    QueryDef("q224_fd_check", q224, Some(q224Sql)),
    QueryDef("q416_fd_g3", q416, Some(q416Sql)),
    QueryDef("q227_feature_drift", q227, Some(q227Sql)),
    QueryDef("q228_reconcile", q228, Some(q228Sql)),
    QueryDef("q230_gains_table", q230, Some(q230Sql)),
    QueryDef("q236_dead_stock", q236, Some(q236Sql)),
    QueryDef("q237_qq_table", q237, Some(q237Sql)),
    QueryDef("q240_skyline", q240, Some(q240Sql)),
    QueryDef("q241_contingency_residuals", q241, Some(q241Sql)),
    QueryDef("q238_two_proportion_z", q238, Some(q238Sql)),
    QueryDef("q187_simpson", q187, Some(q187Sql)),
    QueryDef("q188_fleiss_kappa", q188, Some(q188Sql)),
    QueryDef("q193_wilson_ci", q193, Some(q193Sql)),
    QueryDef("q152_cohen_kappa", q152, Some(q152Sql)),
    QueryDef("q160_bootstrap_ci", q160, Some(q160Sql)),
    QueryDef("q161_silhouette", q161, Some(q161Sql)),
    QueryDef("q162_calibration", q162, Some(q162Sql)),
    QueryDef("q154_roc_auc", q154, Some(q154Sql)),
    QueryDef("q156_gini_concentration", q156, Some(q156Sql)),
    QueryDef("q157_pr_curve", q157, Some(q157Sql)),
    QueryDef("q158_adjusted_rand", q158, Some(q158Sql)),
    QueryDef("q58_column_profile", q58, Some(q58Sql)),
    QueryDef("q59_latest_per_key", q59, Some(q59Sql)),
    QueryDef("q72_cdc_apply", q72, Some(q72Sql)),
    QueryDef("q74_snapshot_diff", q74, Some(q74Sql)),
    QueryDef("q88_histogram", q88, Some(q88Sql)),
    QueryDef("q95_key_skew", q95, Some(q95Sql)),
    QueryDef("q102_quality_gate", q102, Some(q102Sql)),
    QueryDef("q109_snapshot_asof", q109, Some(q109Sql)),
    QueryDef("q115_merge_prioritized", q115, Some(q115Sql)),
    QueryDef("q117_benford_profile", q117, Some(q117Sql)),
    QueryDef("q126_distribution_drift", q126, Some(q126Sql)),
    QueryDef("q129_k_anonymity", q129, Some(q129Sql)),
    QueryDef("q137_scd_type2", q137, Some(q137Sql)))
}
