package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim.release
import graft.functions.TextFunctions._

/** Training-data pipeline operators beyond dedup/similarity (SURVEY.md
  * §2.6 extensions): benchmark-contamination detection, deterministic
  * stratified sampling, corpus n-gram statistics, embedding quantization,
  * k-means cluster assignment, and intra-document repetition scoring.
  * Each is a parameterized library function plus an oracle-bound QueryDef.
  *
  * Scale design notes:
  *  - contamination: equi-join on the n-gram, same shape as the dedup
  *    gram join — shuffles (id, gram) pairs, never documents. The
  *    `hashGrams` option shrinks the shuffled key to 8-byte xxhash64
  *    values and `broadcastEval` removes the corpus-side exchange
  *    entirely (the oracle-bound q40 keeps the string form so DuckDB
  *    sees identical values; the spec asserts all variants agree).
  *  - stratified sample: pure map-side — a deterministic hash predicate
  *    per row, no shuffle at all (the ONLY way to sample reproducibly
  *    across engines, retries, and reruns; rand()-based sampling is none
  *    of those).
  *  - top-k n-grams: map-side partial aggregation does the heavy lifting
  *    (frequent grams collapse before the shuffle); the final top-k is a
  *    single small sort.
  *  - quantization: embarrassingly parallel map work.
  *  - k-means assign: broadcast the centroids (k rows), one pass over the
  *    vectors, per-partition partial aggregation of cluster stats.
  *  - repetition: per-row native kernel (RepetitionRatioExpr) — zero
  *    shuffle; the exploded (doc_id, gram) groupBy pipeline is kept as
  *    spec'd reference semantics only.
  */
object PipelineOps {

  // ===========================================================================
  // Library API
  // ===========================================================================

  /** Per-key quota cap — "at most `cap` documents per domain/source, keep
    * the best" — the anti-domination rule every web-scale corpus applies
    * so one crawl-happy domain cannot own the training mixture. Emits the
    * per-key audit (docs seen / kept / dropped, score mass kept vs total)
    * rather than the kept rows; compose with a semi-join on the kept ids
    * to materialize the capped corpus.
    *
    * Scale: ranking is `row_number() <= cap` over (score desc, id asc),
    * the oracle's ORDER BY, so kept sets are identical, not just
    * same-sized. Its Partial `WindowGroupLimit` reduces each map
    * partition to ≤ cap rows per key BEFORE the exchange, so the shuffle
    * carries ~cap·|keys| rows however hot a domain is; totals
    * partial-aggregate in the same pass shape.
    */
  def sourceQuota(df: DataFrame, keyCol: String, scoreCol: String,
      idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val rows = df.select(col(keyCol).cast("string").as("g"),
        col(scoreCol).cast("long").as("score"),
        col(idCol).cast("long").as("id"))
    val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("id"))
    val keptAgg = rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_kept"), sum(col("score")).as("score_kept"))
    val totals = rows.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("score")).as("score_total"))
    totals.join(keptAgg, Seq("g"))
      .select(col("g").as(keyCol), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("score_kept"), col("score_total"))
  }

  /** Pairwise vocabulary overlap between corpus slices (sources, crawls,
    * snapshots): distinct-term Jaccard for every source pair — the
    * corpus-level mixing diagnostic ("are these two crawls the same
    * material?") beside q122's per-document containment. Also emits the
    * smaller-side containment, the asymmetric "is A basically inside B"
    * read.
    *
    * Scale: the corpus collapses to DISTINCT (source, term) map-side —
    * vocab-sized, not corpus-sized — and with `hashTerms` the term is an
    * 8-byte hash at the source, so no string ever shuffles (the q150
    * upgrade: terms are identity-only here and never reach the output;
    * a 64-bit collision merges two terms' membership, ~vocab²/2⁶⁴ —
    * negligible; the oracle runs the string form and must agree on
    * every count). Per-term pair fan-out is bounded by the SOURCE count
    * (squared), not the corpus; the pair relation partial-aggregates
    * below its exchange.
    */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      hashTerms: Boolean = true): DataFrame = {
    val termKey: Column => Column =
      if (hashTerms) t => xxhash64(t) else t => t
    val t = df.select(col(srcCol).cast("string").as("src"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("src"), termKey(col("tok")).as("term"))
      .distinct()
    val sizes = t.groupBy(col("src")).agg(count(lit(1)).as("nv"))
    val inter = t.select(col("src").as("src_a"), col("term"))
      .join(t.select(col("src").as("src_b"), col("term")), Seq("term"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("nv").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("nv").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("inter"),
        expr("inter * 1000000L div (n_a + n_b - inter)").as("jaccard_micro"),
        expr("inter * 1000000L div least(n_a, n_b)").as("containment_micro"))
  }

  /** Truncation-cap planning: the largest per-document length cap L such
    * that Σ min(lenᵢ, L) fits `budgetNum/budgetDen` of the total mass —
    * the sequencing question every token-budgeted training build answers
    * before writing shards ("truncate everything to WHAT so the epoch
    * fits?"). Emits the cap and the exact resulting mass/truncation
    * counts.
    *
    * Math: f(L) = Σ_{len ≤ L} len + |{len > L}|·L is monotone and
    * piecewise-linear with breakpoints at distinct lengths, so the
    * optimum is found from per-distinct-length prefix sums: take the
    * largest breakpoint l with f(l) ≤ B, then advance cap by the exact
    * integer slack (B − f(l)) div n_gt, clamped below the next
    * breakpoint. All arithmetic BIGINT — both engines land on the same
    * cap by construction.
    *
    * Scale: one (length → count/mass) collapse with map-side partials
    * (distinct-length-sized, not corpus-sized), one cumulative window
    * over distinct lengths, one argmax. The default cumulative window is
    * single-partition, but over the COLLAPSED relation whose row count
    * is bounded by the maximum document length (≤ ~10⁵ distinct values
    * at any corpus size) — not the q132-class corpus-sized sort this
    * shape would be without the collapse; for an unbounded length domain
    * (token budgets over raw byte offsets) pass `quantized = false` and
    * the cumulative stage routes through the [[DistributedPrefix]]
    * two-pass sum with the argmax as a partial-aggregated max(struct).
    * The corpus is scanned once; no driver-side search loop. Emits no
    * row when even capping at the smallest distinct length overshoots
    * the budget.
    */
  def lengthCapPlan(df: DataFrame, lenCol: String, budgetNum: Long,
      budgetDen: Long, quantized: Boolean = true): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget must be positive")
    val byLen = df.select(col(lenCol).cast("long").as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("c"), sum(col("len")).as("mass"))
    val w = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byLen.agg(sum(col("c")).as("n_docs"),
      sum(col("mass")).as("chars_total"))
    val cums =
      if (quantized)
        byLen.select(col("len"), sum(col("c")).over(w).as("n_le"),
          sum(col("mass")).over(w).as("m_le"),
          lead(col("len"), 1).over(Window.orderBy(col("len"))).as("len_next"))
      else
        // Two-pass distributed prefix sums; len_next is omitted — the
        // clamp it feeds is provably redundant (see below), so the
        // unquantized path never needs a lead() over the global order.
        DistributedPrefix
          .cumSums(byLen, Nil, Seq(col("len")), Seq("c", "mass"))
          .select(col("len"), col("cum_c").as("n_le"),
            col("cum_mass").as("m_le"),
            lit(null).cast("long").as("len_next"))
    val steps = cums
      .crossJoin(broadcast(tot))
      // B is the budgeted mass; f = m_le + (n_docs - n_le) * len.
      .withColumn("b", expr(s"chars_total * ${budgetNum}L div ${budgetDen}L"))
      .withColumn("f", col("m_le") + (col("n_docs") - col("n_le")) * col("len"))
      .filter(col("f") <= col("b"))
    val picked =
      if (quantized)
        steps.withColumn("rn",
            row_number().over(Window.orderBy(col("len").desc)))
          .filter(col("rn") === 1)
      else
        // Global argmax on the unique len key as ONE partial-aggregated
        // max(struct) — no single-task sort of the steps relation.
        steps.groupBy()
          .agg(max(struct(col("len"), col("n_le"), col("m_le"),
            col("len_next"), col("n_docs"), col("chars_total"),
            col("b"), col("f"))).as("bb"))
          .filter(col("bb").isNotNull)
          .select(col("bb.len").as("len"), col("bb.n_le").as("n_le"),
            col("bb.m_le").as("m_le"), col("bb.len_next").as("len_next"),
            col("bb.n_docs").as("n_docs"),
            col("bb.chars_total").as("chars_total"),
            col("bb.b").as("b"), col("bb.f").as("f"))
    val best = picked
      // Advance into the linear stretch above the breakpoint: slack
      // per still-uncapped doc, clamped below the next distinct length
      // (at the top breakpoint nothing is truncated; cap = max length).
      // The clamp never binds: len is the LARGEST breakpoint with
      // f(len) <= B and f is linear with slope n_gt on [len, len_next],
      // so f(len_next) > B forces slack < len_next - len; it is kept on
      // the quantized path as written and omitted (len_next null ->
      // coalesce passes len + slack through) on the unquantized one.
      .withColumn("cap",
        when(col("n_docs") === col("n_le"), col("len"))
          .otherwise(coalesce(
            least(
              col("len") + expr("(b - f) div (n_docs - n_le)"),
              col("len_next") - 1),
            col("len") + expr("(b - f) div (n_docs - n_le)"))))
    best.select(col("cap"), col("n_docs"), col("chars_total"), col("b"),
      (col("n_docs") - col("n_le")).as("n_truncated"),
      (col("m_le") + (col("n_docs") - col("n_le")) * col("cap"))
        .as("chars_after"))
  }

  /** Largest-remainder (Hamilton) apportionment of an integer budget
    * across strata proportionally to their weights: quota = B·wₕ/W,
    * everyone gets its floor, and the Σfloor-to-B shortfall goes one
    * unit each to the largest fractional remainders (ties → lowest
    * stratum id). THE exact-integer answer to "split this sample/token
    * budget across languages ∝ mass" — q62's mixture weights say how
    * much to take per DOC; this says how many UNITS each stratum owns,
    * summing to the budget exactly (spec-pinned), with no float
    * rounding anywhere: base = B·w div W, remainder = (B·w) mod W.
    *
    * Scale: one weight collapse with map-side partials, one broadcast
    * total, one rank window over the STRATA relation (|strata| rows —
    * languages/sources, never the corpus; when strata ARE corpus-scale,
    * e.g. per-domain budgets, pass `quantized = false` to rank through
    * the [[DistributedPrefix]] two-pass running count). Bound:
    * B·w < 2⁶³.
    */
  def apportion(df: DataFrame, keyCol: String, weightCol: String,
      budget: Long, quantized: Boolean = true): DataFrame = {
    require(budget >= 0, "budget must be nonnegative")
    val w = df.select(col(keyCol).as("g"), col(weightCol).cast("long").as("wt"))
      .groupBy(col("g")).agg(sum(col("wt")).as("w"))
      .filter(col("w") > 0)
    val tot = w.agg(sum(col("w")).as("tw"))
    val base = w.crossJoin(broadcast(tot))
      .select(col("g"), col("w"),
        expr(s"w * ${budget}L div tw").as("base"),
        expr(s"(w * ${budget}L) % tw").as("rem"))
    val leftTot = base.agg((lit(budget) - sum(col("base"))).as("leftover"))
    val ranked =
      if (quantized)
        base.crossJoin(broadcast(leftTot))
          .withColumn("rk",
            row_number().over(Window.orderBy(col("rem").desc, col("g"))))
      else
        // Rank = inclusive running count over (rem DESC, g) via the
        // two-pass prefix sum — no single-task sort when |strata| is
        // itself corpus-scale (per-domain apportionment).
        DistributedPrefix
          .cumSums(base.withColumn("one", lit(1L)), Nil,
            Seq(col("rem").desc, col("g")), Seq("one"))
          .withColumn("rk", col("cum_one"))
          .crossJoin(broadcast(leftTot))
    ranked
      .select(col("g").as(keyCol), col("w").as("weight"),
        (col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).as("alloc"))
  }

  /** Neyman (optimal) allocation of a sample budget across strata:
    * n_h ∝ N_h·σ_h — the variance-minimizing split for a stratified
    * estimate, vs [[apportion]]'s proportional-to-mass rule (a noisy
    * stratum deserves MORE samples per row; a constant one needs almost
    * none). The identity N_h·σ_h = √(N_h·Σx² − (Σx)²) makes the weight
    * one exact BIGINT expression under a single correctly-rounded sqrt
    * floor, and the integer weights feed [[apportion]]'s
    * largest-remainder machinery, so Σ alloc = budget exactly and the
    * whole path is engine-deterministic.
    *
    * Scale: one partial-aggregated stats pass (|strata| rows out), then
    * apportion's |strata|-sized rank. Bound: N_h·Σx² < 2⁶³ (quantize
    * coarser for huge heavy-tailed strata). Zero-variance strata get
    * weight 0 and drop from the allocation (they need ONE sample for a
    * mean — the caller's floor to apply, documented rather than
    * invented here).
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: Column,
      budget: Long): DataFrame = {
    val stats = df
      .select(col(stratumCol).as("g"), valueCol.cast("long").as("x"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("g"), col("n_rows"),
        floor(sqrt(greatest(col("n_rows") * col("sxx") - col("sx") * col("sx"),
          lit(0L)).cast("double"))).cast("long").as("w"))
    stats.join(
        apportion(stats, "g", "w", budget).select(col("g"), col("alloc")),
        Seq("g"), "left")
      .select(col("g").as(stratumCol), col("n_rows"), col("w").as("weight"),
        coalesce(col("alloc"), lit(0L)).as("alloc"))
  }

  /** Effective sample size under importance weights — Kish's
    * ESS = (Σw)²/Σw² per group: how many UNWEIGHTED samples the weighted
    * group is actually worth ("we kept 1M docs of this source at weight
    * 0.01 — that's 10k effective docs"). The honesty check on every
    * weighted-mixture recipe ([[mixtureWeights]], [[temperatureShares]]):
    * a tiny ESS ratio means the reweighting concentrated the mass on a
    * few rows and the group's diversity is illusory. Exact BIGINT
    * algebra: ess_milli = (Σw)²·1000 div Σw², ratio_micro =
    * ess_milli·1000 div n (callers keep per-group Σw ≲ 3·10⁶ so the
    * squared sum stays inside BIGINT — weights are quantized counts,
    * not floats). Zero-weight groups report null.
    *
    * Scale design: one partial-aggregated groupBy; three moments per
    * group cross the wire.
    */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
      weight: Column): DataFrame = {
    val w = weight.cast("long")
    df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"), sum(w).as("sw"), sum(w * w).as("sw2"))
      .select(col("g"), col("n"), col("sw"), col("sw2"),
        when(col("sw2") > 0, expr("(sw * sw * 1000L) div sw2"))
          .otherwise(lit(null).cast("long")).as("ess_milli"))
      .withColumn("ess_ratio_micro",
        when(col("ess_milli").isNotNull && col("n") > 0,
          expr("(ess_milli * 1000L) div n")).otherwise(lit(null).cast("long")))
  }

  // ---- q276: how many effective docs does each source contribute? -------------
  // Char mass as the weight: a source whose mass sits in a few huge docs
  // has a small ESS ratio even at a high doc count.
  private def q276(s: SparkSession, d: String): DataFrame =
    effectiveSampleSize(Tables.documents(s, d), "source", col("n_chars"))
      .orderBy(col("g"))
  private val q276Sql =
    """SELECT source AS g, count(*)::BIGINT AS n,
       sum(n_chars)::BIGINT AS sw, sum(n_chars * n_chars)::BIGINT AS sw2,
       CASE WHEN sum(n_chars * n_chars) > 0
         THEN (sum(n_chars) * sum(n_chars) * 1000) // sum(n_chars * n_chars)
         ELSE NULL END::BIGINT AS ess_milli,
       CASE WHEN sum(n_chars * n_chars) > 0 AND count(*) > 0
         THEN (((sum(n_chars) * sum(n_chars) * 1000)
           // sum(n_chars * n_chars)) * 1000) // count(*)
         ELSE NULL END::BIGINT AS ess_ratio_micro
       FROM documents GROUP BY source ORDER BY g"""

  // ---- q253: variance-optimal sampling budget across event types --------------
  // The noisy purchase amounts draw far more of the 1000-sample budget
  // per row than the near-constant view values — the Neyman read the
  // proportional rule (q206) cannot give. Σ alloc = 1000 pinned by the
  // apportion machinery underneath.
  private def q253(s: SparkSession, d: String): DataFrame =
    neymanAllocation(Tables.events(s, d), "event_type",
        floor(col("value") * 100), budget = 1000L)
      .orderBy(col("event_type"))
  private val q253Sql =
    """WITH stats AS (
         SELECT event_type AS g, count(*)::BIGINT AS n_rows,
           floor(sqrt(greatest(
             count(*) * sum(x * x) - sum(x) * sum(x), 0)::DOUBLE))::BIGINT
             AS w
         FROM (SELECT event_type, floor(value * 100)::BIGINT AS x
               FROM events) t
         GROUP BY 1),
       pos AS (SELECT g, w FROM stats WHERE w > 0),
       tot AS (SELECT sum(w)::BIGINT AS tw FROM pos),
       base AS (
         SELECT g, w, (w * 1000 // tw)::BIGINT AS base,
           ((w * 1000) % tw)::BIGINT AS rem
         FROM pos, tot),
       lt AS (SELECT (1000 - sum(base))::BIGINT AS leftover FROM base),
       rk AS (
         SELECT *, row_number() OVER (ORDER BY rem DESC, g) AS rk
         FROM base, lt),
       alloc AS (
         SELECT g,
           (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
             AS alloc
         FROM rk)
       SELECT s.g AS event_type, s.n_rows, s.w AS weight,
         coalesce(a.alloc, 0)::BIGINT AS alloc
       FROM stats s LEFT JOIN alloc a ON s.g = a.g
       ORDER BY event_type"""

  // ---- q206: split a 997-unit sample budget across languages ∝ char mass ------
  // An odd budget forces the remainder path; Σ alloc = 997 exactly.
  private def q206(s: SparkSession, d: String): DataFrame =
    apportion(Tables.documents(s, d), "lang", "n_chars", budget = 997L)
      .orderBy(col("lang"))
  private val q206Sql =
    """WITH w AS (
         SELECT lang AS g, sum(n_chars)::BIGINT AS w
         FROM documents GROUP BY 1 HAVING sum(n_chars) > 0),
       tot AS (SELECT sum(w)::BIGINT AS tw FROM w),
       base AS (
         SELECT g, w, (w * 997 // tw)::BIGINT AS base,
           ((w * 997) % tw)::BIGINT AS rem
         FROM w, tot),
       lt AS (SELECT (997 - sum(base))::BIGINT AS leftover FROM base),
       rk AS (
         SELECT *, row_number() OVER (ORDER BY rem DESC, g) AS rk
         FROM base, lt)
       SELECT g AS lang, w AS weight,
         (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
           AS alloc
       FROM rk ORDER BY lang"""

  // ---- q204: fit the corpus into 60% of its character mass --------------------
  private def q204(s: SparkSession, d: String): DataFrame =
    lengthCapPlan(Tables.documents(s, d), "n_chars", 3L, 5L)
  private val q204Sql =
    """WITH byl AS (
         SELECT n_chars::BIGINT AS len, count(*)::BIGINT AS c,
           sum(n_chars)::BIGINT AS mass
         FROM documents GROUP BY 1),
       tot AS (
         SELECT sum(c)::BIGINT AS n_docs, sum(mass)::BIGINT AS chars_total
         FROM byl),
       steps AS (
         SELECT len,
           sum(c) OVER (ORDER BY len
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le,
           sum(mass) OVER (ORDER BY len
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_le,
           lead(len) OVER (ORDER BY len) AS len_next,
           t.n_docs, t.chars_total,
           chars_total * 3 // 5 AS b
         FROM byl, tot t),
       ok AS (
         SELECT *, m_le + (n_docs - n_le) * len AS f FROM steps
         WHERE m_le + (n_docs - n_le) * len <= b),
       best AS (
         SELECT *, row_number() OVER (ORDER BY len DESC) AS rn FROM ok)
       SELECT CASE WHEN n_docs = n_le THEN len
           ELSE least(len + (b - f) // (n_docs - n_le),
             coalesce(len_next - 1, len)) END::BIGINT AS cap,
         n_docs, chars_total, b::BIGINT AS b,
         (n_docs - n_le)::BIGINT AS n_truncated,
         (m_le + (n_docs - n_le) * (CASE WHEN n_docs = n_le THEN len
           ELSE least(len + (b - f) // (n_docs - n_le),
             coalesce(len_next - 1, len)) END))::BIGINT AS chars_after
       FROM best WHERE rn = 1"""

  // ---- q203: which sources speak the same language? ---------------------------
  // Vocabulary Jaccard across all source pairs of the documents corpus.
  private def q203(s: SparkSession, d: String): DataFrame =
    sourceOverlap(Tables.documents(s, d), "source", "text")
      .orderBy(col("src_a"), col("src_b"))
  private val q203Sql =
    """WITH t AS (
         SELECT DISTINCT source AS src, unnest(string_split(text, ' ')) AS term
         FROM documents),
       sizes AS (SELECT src, count(*)::BIGINT AS nv FROM t GROUP BY src),
       inter AS (
         SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS inter
         FROM t a JOIN t b ON a.term = b.term AND a.src < b.src
         GROUP BY 1, 2)
       SELECT src_a, src_b, sa.nv AS n_a, sb.nv AS n_b, inter,
         (inter * 1000000 // (sa.nv + sb.nv - inter))::BIGINT
           AS jaccard_micro,
         (inter * 1000000 // least(sa.nv, sb.nv))::BIGINT
           AS containment_micro
       FROM inter i JOIN sizes sa ON i.src_a = sa.src
         JOIN sizes sb ON i.src_b = sb.src
       ORDER BY src_a, src_b"""

  // ---- q201: per-source document quota ----------------------------------------
  // Cap every source at its 10 longest documents; the audit shows how
  // much raw character mass the cap sheds per source.
  private def q201(s: SparkSession, d: String): DataFrame =
    sourceQuota(Tables.documents(s, d), "source", "n_chars", "doc_id",
        cap = 10)
      .orderBy(col("source"))
  private val q201Sql =
    """WITH ranked AS (
         SELECT source, n_chars, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY n_chars DESC, doc_id) AS rn
         FROM documents)
       SELECT source, count(*)::BIGINT AS n_docs,
         count(*) FILTER (WHERE rn <= 10)::BIGINT AS n_kept,
         count(*) FILTER (WHERE rn > 10)::BIGINT AS n_dropped,
         sum(n_chars) FILTER (WHERE rn <= 10)::BIGINT AS score_kept,
         sum(n_chars)::BIGINT AS score_total
       FROM ranked GROUP BY source ORDER BY source"""

  /** Exact n-gram contamination check: for every (trainId, evalId) pair
    * sharing at least one distinct word n-gram, the number of shared
    * n-grams. `evalPred` splits the corpus (rows matching it are the
    * held-out set).
    *
    * Scale options (output-identical, asserted by PipelineOpsSpec):
    *  - `hashGrams`: join on xxhash64 of the gram instead of the string —
    *    the shuffle carries 8-byte keys, not n-word text windows. (A
    *    64-bit collision adds a phantom shared gram; at eval-set gram
    *    cardinalities that is ~1e-9 per pair — negligible vs the 100x
    *    narrower exchange.)
    *  - `broadcastEval`: the held-out set is usually tiny next to the
    *    training corpus; broadcasting its gram rows removes the corpus-side
    *    shuffle entirely — the train side never exchanges at all.
    */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      evalPred: Column, n: Int, hashGrams: Boolean = false,
      broadcastEval: Boolean = false): DataFrame = {
    def grams(part: DataFrame, alias: String) = {
      val g = part
        .select(col(idCol).as(alias), tokens(col(textCol)).as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col(alias), explode(distinctNgrams(col("toks"), n)).as("g"))
      if (hashGrams) g.select(col(alias), xxhash64(col("g")).as("g")) else g
    }
    val train = grams(df.filter(!evalPred), "train_id")
    val eval_ = grams(df.filter(evalPred), "eval_id")
    train.join(if (broadcastEval) broadcast(eval_) else eval_, "g")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The APPLY step for [[contamination]]: the training split with every
    * document sharing at least `minShared` n-grams with ANY eval document
    * removed — what a pipeline actually ships after the detection report
    * is reviewed. Detection and removal share one implementation, so the
    * dropped set can never drift from the reported set.
    *
    * Scale: the contaminated id set is violation-sized; removal is a
    * left-anti equi-join on the 8-byte id (one corpus shuffle of ids,
    * never text — the q67 pattern). The same hashGrams/broadcastEval
    * levers apply to the detection pass.
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
      evalPred: Column, n: Int, minShared: Long = 1,
      hashGrams: Boolean = false, broadcastEval: Boolean = false): DataFrame = {
    val bad = contamination(df, idCol, textCol, evalPred, n,
        hashGrams, broadcastEval)
      .groupBy(col("train_id"))
      .agg(sum(col("n_shared")).as("__tot"))
      .filter(col("__tot") >= minShared)
      .select(col("train_id"))
    df.filter(!evalPred)
      .join(bad, col(idCol) === col("train_id"), "left_anti")
  }

  /** Deterministic hash-based sample predicate: keeps ~`pct`/256 of rows
    * keyed on md5 of the key column's string form (reproducible across
    * engines and reruns — the first two hex chars are compared to the
    * two-digit hex threshold).
    */
  def hashSamplePredicate(key: Column, pct256: Int): Column = {
    require(pct256 >= 0 && pct256 <= 256, "pct256 in [0, 256]")
    hashSamplePredicate(key, lit(f"$pct256%02x"))
  }

  /** Column-threshold form of [[hashSamplePredicate]] — ONE definition of
    * the sampling hash so fixed-rate and per-group (mixture) sampling can
    * never diverge. `thresholdHex` is a 2-char lowercase hex string.
    */
  def hashSamplePredicate(key: Column, thresholdHex: Column): Column =
    substring(md5(key.cast("string").cast("binary")), 1, 2) < thresholdHex

  /** Per-ROW weighted deterministic Bernoulli keep: the per-example
    * extension of [[hashSamplePredicate]]'s fixed rate — each row brings
    * its own keep probability (a quality score, a mixture weight, a decay
    * by age) as `threshold65536`, an integer 0..65536 expression, and is
    * kept when its 16-bit md5 draw falls below it. Build thresholds with
    * INTEGER arithmetic (e.g. `least(65536, n_chars * 164)`): a float
    * product can land on a bucket boundary differently per libm, an
    * integer one cannot. Same md5 draw family as the rate sampler and
    * [[splitAssign]] (finer: 65536 buckets vs 256), so per-example
    * sampling composes with split assignment without correlation.
    * Reproducible across engines, retries, and reruns — rand() here would
    * poison every cached downstream dataset. Pure map-side expression:
    * zero shuffle, fuses into the scan.
    */
  def weightedSamplePredicate(key: Column, threshold65536: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") < threshold65536.cast("long")

  /** Deterministic, disjoint, exhaustive split assignment (train/val/
    * test) keyed on the SAME md5 draw as [[hashSamplePredicate]]: each
    * row's 0-255 draw falls into one cumulative bucket. Properties that
    * matter for ML splits and that rand() splits lack: stable across
    * engines/retries/reruns AND stable under corpus growth — a document
    * keeps its split forever, so later data refreshes can never leak
    * yesterday's test set into tomorrow's training set.
    *
    * `weights256` are /256 shares summing to exactly 256. Pure map-side
    * expression — zero shuffle, fuses into the scan.
    */
  def splitAssign(key: Column, weights256: Seq[(String, Int)]): Column = {
    require(weights256.nonEmpty && weights256.map(_._2).sum == 256 &&
      weights256.forall(_._2 > 0), "weights must be positive and sum to 256")
    val draw = substring(md5(key.cast("string").cast("binary")), 1, 2)
    val cuts = weights256.scanLeft(0)(_ + _._2).tail
    weights256.init.zip(cuts.init).reverse
      .foldLeft(lit(weights256.last._1)) { case (acc, ((name, _), cut)) =>
        when(draw < lit(f"$cut%02x"), name).otherwise(acc)
      }
  }

  // ---- q110: train/val/test split assignment ----------------------------------
  // ~80/10/10 split (205/25/26 of 256); per-(lang, split) counts.
  private def q110(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        splitAssign(col("doc_id"),
          Seq("train" -> 205, "val" -> 25, "test" -> 26)).as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("split"))
  private val q110Sql =
    """SELECT lang,
         CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd' THEN 'train'
              WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         count(*) AS n
       FROM documents GROUP BY 1, 2 ORDER BY lang, split"""

  // ---- q141: per-row weighted sampling ----------------------------------------
  // Length-weighted keep (longer documents survive with higher
  // probability, capped at 1): integer threshold n_chars·164 of 65536.
  private def q141(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        weightedSamplePredicate(col("doc_id"),
          least(lit(65536), col("n_chars") * 164)).as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  private val q141Sql =
    """SELECT lang, count(*)::BIGINT AS n_total,
         sum(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER
               < least(65536, n_chars * 164) THEN 1 ELSE 0 END)::BIGINT
           AS n_kept
       FROM documents GROUP BY lang ORDER BY lang"""

  /** Per-stratum totals and deterministically-sampled counts. */
  def stratifiedSampleStats(df: DataFrame, stratumCol: String, keyCol: String,
      pct256: Int): DataFrame =
    df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_total"),
        count(when(hashSamplePredicate(col(keyCol), pct256), 1)).as("n_sampled"))
      .withColumn("rate",
        round(col("n_sampled").cast("double") / col("n_total"), 4))

  /** Corpus-wide top-k word n-grams by multiset frequency (count desc,
    * gram asc tiebreak).
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(ngrams(col("toks"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)

  /** L2 norm plus symmetric int8 quantization of an embedding column:
    * q_i = floor(x_i / max|x| * 127). All arithmetic in double after exact
    * float widening; floor (not round) so both engines truncate identically.
    * Norm and quantized vector come from the native one-pass kernels
    * ([[graft.functions.L2SquaredNorm]]/[[graft.functions.QuantizeInt8]]) —
    * codegen'd map work, replacing the interpreted `transform`/`aggregate`
    * HOF lambdas that burned ~10x the CPU per row.
    */
  def quantizeEmbeddings(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      round(sqrt(l2sq(col(vecCol))), 6).as("l2_norm"),
      quantize8(col(vecCol)).as("q8"))

  /** Nearest-centroid assignment (one k-means step): centroids broadcast,
    * cosine scored in the native kernel, argmax as `max(struct(cs,
    * -centroid_id))` — a hash aggregation whose map-side partial collapses
    * each partition's N·K scored rows to N before any exchange (the
    * window-row_number argmax the oracle uses would sort and shuffle the
    * full scored relation). Tie-break identical: max score, then lowest
    * centroid id. Then per-cluster stats.
    */
  def kmeansAssign(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, centIdCol: String, centVecCol: String): DataFrame = {
    vectors.crossJoin(broadcast(centroids))
      .select(col(idCol),
        struct(cosine(col(vecCol), col(centVecCol)).as("cs"),
          (-col(centIdCol)).as("neg_cent")).as("cand"))
      .groupBy(col(idCol))
      .agg(max(col("cand")).as("best"))
      .select((-col("best.neg_cent")).as(centIdCol), col("best.cs").as("cs"))
      .groupBy(col(centIdCol))
      .agg(count(lit(1)).as("n_members"),
        (round(avg(col("cs")), 6) + lit(0.0)).as("avg_cos"))
  }

  /** Centroid (re)computation — the k-means UPDATE step complementing
    * [[kmeansAssign]]: the element-wise mean vector per cluster, emitted
    * LONG-FORM as (cluster, pos, mean) rows. Long form is deliberate:
    * it is the join-ready shape for the next assign pass, and scalar
    * rows stay oracle-hashable (array columns crash the compare harness,
    * and a CSV of doubles would hit engine float-formatting divergence).
    *
    * Scale design: posexplode shuffles (cluster, pos, x) triples that
    * collapse map-side to |clusters|·dim partials — the standard
    * distributed vector mean. A native sum-vectors kernel (one array add
    * per row, MinHashSignature pattern) would shrink the exchange to
    * |partitions|·|clusters| rows; this portable form documents that
    * upgrade path for trillion-row corpora.
    */
  def centroidUpdate(df: DataFrame, clusterCol: String,
      vecCol: String): DataFrame =
    df.select(col(clusterCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(clusterCol), col("pos"))
      .agg((round(avg(col("x").cast("double")), 6) + lit(0.0)).as("mean_x"),
        count(lit(1)).as("n_members"))

  // ---- q106: k-means centroid update step -------------------------------------
  // Labels act as the cluster assignment; the mean vector per label is
  // the updated centroid table (long form, pos-indexed).
  private def q106(s: SparkSession, d: String): DataFrame =
    centroidUpdate(Tables.embeddings(s, d), "label", "embedding")
      .orderBy(col("label"), col("pos"))
  private val q106Sql =
    """WITH p AS (
         SELECT label, i - 1 AS pos, embedding[i]::DOUBLE AS x
         FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i))
       SELECT label, pos::INT AS pos, round(avg(x), 6) + 0.0 AS mean_x,
         count(*) AS n_members
       FROM p GROUP BY 1, 2 ORDER BY label, pos"""

  /** Intra-document repetition ratio: occurrences of the most frequent
    * word n-gram over total n-gram occurrences (1/n_grams = no repetition,
    * 1.0 = the same window repeated throughout) — a boilerplate detector.
    *
    * Computed per row by the native [[graft.functions.RepetitionRatioExpr]]
    * kernel: ZERO shuffle (the relational form, kept as reference
    * semantics in TextKernelsSpec, explodes every window and shuffles
    * (doc_id, gram) twice — a corpus-of-windows exchange for a
    * per-document measure).
    */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        round(graft.functions.TextFunctions.repetitionRatio(col("toks"), n), 6)
          .as("rep_ratio"))

  /** PII patterns — a conservative regex subset that parses and matches
    * identically under Java regex (Spark codegen) and RE2 (DuckDB oracle):
    * character classes, greedy quantifiers, no backreferences/lookaround.
    */
  val UrlPattern = "https?://[^ ]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9][0-9\\- ]{5,}[0-9]"

  /** PII scrubbing for training corpora: URL → `<URL>`, email → `<EMAIL>`,
    * phone → `<PHONE>` (applied in that order — emails inside URLs are
    * already gone), plus per-document match counts for audit/filtering.
    * Each count is taken on the text AS THE MATCHING STAGE SEES IT (emails
    * counted after URL scrubbing, phones after both), so the counts equal
    * the replacements actually made — an email inside a URL is neither
    * redacted nor counted. Pure map-side: regex matching is compiled per
    * task, zero shuffle.
    */
  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val afterUrl = regexp_replace(t, UrlPattern, "<URL>")
    val afterEmail = regexp_replace(afterUrl, EmailPattern, "<EMAIL>")
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(UrlPattern), lit(0))).cast("long").as("n_urls"),
      size(regexp_extract_all(afterUrl, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
      regexp_replace(afterEmail, PhonePattern, "<PHONE>").as("scrubbed"))
  }

  /** Concat-then-chunk sequence packing (the standard LLM pretraining
    * batching step): documents are laid out in `idCol` order within each
    * shard and cut into fixed `budget`-token bins; a document's bin is
    * floor(tokens-before-it / budget). Emits per-bin membership stats.
    *
    * Scale design: packing is PER SHARD (`shardCol`) — the window runs
    * over balanced shard partitions, so no global sort and no single-task
    * bottleneck. Training shards are independent by construction, so a
    * global document order is neither needed nor wanted at 100 TB.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      shardCol: String, budget: Int): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(shardCol), col(idCol),
        size(tokens(col(textCol))).as("n_tok"))
      .withColumn("cum_before", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", floor(col("cum_before") / budget))
      .groupBy(col(shardCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens_total"))
  }

  // ===========================================================================
  // Oracle-bound query exercises
  // ===========================================================================

  private def q40(s: SparkSession, d: String): DataFrame =
    contamination(Tables.documents(s, d), "doc_id", "text",
      col("doc_id") % 10 === 7, n = 5)
      .orderBy(col("train_id"), col("eval_id"))
  private val q40Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         WHERE len(string_split(text, ' ')) >= 5),
       grams AS (
         SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 3),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
               || ' ' || tokens[i+3] || ' ' || tokens[i+4])) AS g
           FROM toks))
       SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         count(*) AS n_shared
       FROM grams t JOIN grams e ON t.g = e.g
       WHERE t.doc_id % 10 <> 7 AND e.doc_id % 10 = 7
       GROUP BY 1, 2 ORDER BY train_id, eval_id"""

  // ---- q131: decontaminated training corpus (the q40 APPLY step) ---------------
  // Same detection parameters as q40; output = the training split minus
  // every doc q40 reports, carrying (doc_id, lang, source) payload.
  private def q131(s: SparkSession, d: String): DataFrame =
    decontaminate(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("source"),
          col("text")),
        "doc_id", "text", col("doc_id") % 10 === 7, n = 5)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  private val q131Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         WHERE len(string_split(text, ' ')) >= 5),
       grams AS (
         SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 3),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
               || ' ' || tokens[i+3] || ' ' || tokens[i+4])) AS g
           FROM toks)),
       bad AS (
         SELECT DISTINCT t.doc_id FROM grams t JOIN grams e ON t.g = e.g
         WHERE t.doc_id % 10 <> 7 AND e.doc_id % 10 = 7)
       SELECT doc_id, lang, source FROM documents
       WHERE doc_id % 10 <> 7 AND doc_id NOT IN (SELECT doc_id FROM bad)
       ORDER BY doc_id"""

  private def q41(s: SparkSession, d: String): DataFrame =
    stratifiedSampleStats(Tables.documents(s, d), "lang", "doc_id", pct256 = 51)
      .orderBy(col("lang"))
  private val q41Sql =
    """SELECT lang, count(*) AS n_total,
         count(*) FILTER (WHERE substr(md5(doc_id::VARCHAR), 1, 2) < '33')
           AS n_sampled,
         round(count(*) FILTER (WHERE substr(md5(doc_id::VARCHAR), 1, 2) < '33')
           / count(*), 4) AS rate
       FROM documents GROUP BY lang ORDER BY lang"""

  private def q42(s: SparkSession, d: String): DataFrame =
    topNgrams(Tables.documents(s, d), "text", n = 2, k = 20)
  private[operators] val q42Sql =
    """WITH toks AS (
         SELECT string_split(text, ' ') AS tokens FROM documents
         WHERE len(string_split(text, ' ')) >= 2),
       grams AS (
         SELECT unnest(list_transform(range(1, len(tokens)),
           i -> tokens[i] || ' ' || tokens[i+1])) AS gram
         FROM toks)
       SELECT gram, count(*) AS n_occurrences FROM grams
       GROUP BY gram ORDER BY n_occurrences DESC, gram LIMIT 20"""

  // q8 is emitted as a CSV string, not the array: every output column must
  // be scalar/hashable for the driver's pandas-based oracle compare (an
  // array<long> column crashes its sort with "unhashable numpy.ndarray").
  // The library function keeps the real array return.
  private def q43(s: SparkSession, d: String): DataFrame =
    quantizeEmbeddings(Tables.embeddings(s, d), "vec_id", "embedding")
      .select(col("vec_id"), col("l2_norm"),
        concat_ws(",", col("q8")).as("q8_csv"))
      .orderBy(col("vec_id"))
  private val q43Sql =
    """SELECT vec_id,
         round(sqrt(list_sum(list_transform(embedding,
           x -> x::DOUBLE * x::DOUBLE))), 6) AS l2_norm,
         array_to_string(list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT), ',') AS q8_csv
       FROM embeddings ORDER BY vec_id"""

  private def q44(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cent"))
    kmeansAssign(emb, cents, "vec_id", "embedding", "centroid_id", "cent")
      .orderBy(col("centroid_id"))
  }
  private val q44Sql =
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
       best AS (
         SELECT vec_id, centroid_id, cs,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY cs DESC, centroid_id) AS rn
         FROM scored)
       SELECT centroid_id, count(*) AS n_members,
         round(avg(cs), 6) + 0.0 AS avg_cos
       FROM best WHERE rn = 1 GROUP BY centroid_id ORDER BY centroid_id"""

  /** Two-way margin raking (iterative proportional fitting, Deming &
    * Stephan 1940): per-cell weights over a (row, col) contingency
    * collapse such that the weighted row margins match `rowTargets` and
    * the weighted column margins match `colTargets` (micro shares of the
    * total), after `rounds` alternating row/column scaling passes — the
    * survey-weighting / mixture-balancing step ("rake source × language
    * to the target mix") done in EXACT integer micro arithmetic: every
    * scaling is w·t·M div (10⁶·m) with decimal(38,0) intermediates, so
    * the result is bit-identical on any engine and any partitioning
    * (IPF's multiplicative updates are order-free; truncation points are
    * fixed by the round structure, not the data order).
    *
    * Target relations are (category, target_micro) pairs and must cover
    * every observed category (inner-join semantics otherwise drop
    * cells). Zero-mass guards: margins clamp at 1 before dividing.
    *
    * Scale design: the corpus collapses ONCE to the |rows|·|cols|
    * contingency table (map-side partials); every subsequent round is
    * arithmetic + joins on that metadata-sized relation with broadcast
    * single-row totals — iteration depth never touches corpus data.
    */
  def rakeWeights(df: DataFrame, rowCol: Column, colCol: Column,
      rowTargets: DataFrame, colTargets: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one raking round")
    val rt = broadcast(rowTargets.toDF("r", "t_r"))
    val ct = broadcast(colTargets.toDF("c", "t_c"))
    // The contingency collapse is consumed twice per scaling pass and
    // re-derived every round — checkpoint it once (it is metadata-sized)
    // so the iterated plan stays linear instead of doubling per pass
    // (the kCore lineage discipline).
    val cells0 = df.select(rowCol.as("r"), colCol.as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("n"))
      .withColumn("w", lit(1000000L))
      .localCheckpoint() // stats-ok: one-shot contingency collapse (rounds use ckptNoStats)
    // One Fixpoint round per scaling pass: odd rounds scale the row
    // margins, even rounds the column margins.
    val (prev, cells) = Fixpoint.rounds(cells0, 2 * rounds) { (round, cells) =>
      val (keyName, targets, targetName) =
        if (round.index % 2 == 1) ("r", rt, "t_r") else ("c", ct, "t_c")
      val m = cells.groupBy(col(keyName))
        .agg(sum(expr("n * w")).as("m_k"))
      val tot = m.agg(sum(col("m_k")).as("mm"))
      cells.join(m, keyName).join(targets, keyName)
        .crossJoin(broadcast(tot))
        .select(col("r"), col("c"), col("n"),
          expr(s"""cast(cast(w as decimal(38,0)) * $targetName * mm
               div (cast(1000000 as decimal(38,0)) * greatest(m_k, 1L))
               as long)""").as("w"))
    }
    Seq(prev, cells0).foreach(release)
    cells.select(col("r"), col("c"), col("n"), col("w").as("w_micro"))
  }

  /** [[rakeWeights]] with UNIFORM targets derived from the observed
    * categories (1e6 div k each) — "flatten both margins", the common
    * debiasing default.
    */
  def rakeToUniform(df: DataFrame, rowCol: Column, colCol: Column,
      rounds: Int): DataFrame = {
    def uniform(c: Column): DataFrame = {
      val d = df.select(c.as("k")).distinct()
      d.crossJoin(broadcast(d.agg(count(lit(1)).as("nk"))))
        .select(col("k"), expr("1000000L div nk").as("t"))
    }
    rakeWeights(df, rowCol, colCol, uniform(rowCol), uniform(colCol),
      rounds)
  }

  private val RakeRounds = 3

  // ---- q316: rake source × language to uniform margins ------------------------
  // The fixture's languages are en-heavy (en ≈ 2-3x any other), sources
  // uniform — raking flattens the language margin while the source
  // margin stays put; three rounds land the 20 × 5 table well inside
  // micro precision. Oracle = the identical update UNROLLED (the q165
  // generated-oracle pattern), all arithmetic HUGEINT.
  private def q316(s: SparkSession, d: String): DataFrame =
    rakeToUniform(Tables.documents(s, d), col("source"), col("lang"),
      RakeRounds).orderBy(col("r"), col("c"))
  private val q316Sql: String = {
    val steps = (1 to RakeRounds).map { i =>
      val prev = s"c${2 * i - 2}"; val mid = s"c${2 * i - 1}"
      s"""m${2 * i - 1} AS (
         SELECT r, sum(n * w)::HUGEINT AS m_k FROM $prev GROUP BY r),
       t${2 * i - 1} AS (
         SELECT sum(m_k)::HUGEINT AS mm FROM m${2 * i - 1}),
       $mid AS (
         SELECT p.r, p.c, p.n,
           (p.w::HUGEINT * rt.t * mm)
             // (1000000::HUGEINT * greatest(m_k, 1)) AS w
         FROM $prev p JOIN m${2 * i - 1} USING (r)
         JOIN rt ON rt.k = p.r CROSS JOIN t${2 * i - 1}),
       m${2 * i} AS (
         SELECT c, sum(n * w)::HUGEINT AS m_k FROM $mid GROUP BY c),
       t${2 * i} AS (
         SELECT sum(m_k)::HUGEINT AS mm FROM m${2 * i}),
       c${2 * i} AS (
         SELECT p.r, p.c, p.n,
           (p.w::HUGEINT * ct.t * mm)
             // (1000000::HUGEINT * greatest(m_k, 1)) AS w
         FROM $mid p JOIN m${2 * i} USING (c)
         JOIN ct ON ct.k = p.c CROSS JOIN t${2 * i})"""
    }.mkString(",\n       ")
    s"""WITH rt AS (
         SELECT source AS k,
           1000000 // (SELECT count(DISTINCT source) FROM documents) AS t
         FROM documents GROUP BY source),
       ct AS (
         SELECT lang AS k,
           1000000 // (SELECT count(DISTINCT lang) FROM documents) AS t
         FROM documents GROUP BY lang),
       c0 AS (
         SELECT source AS r, lang AS c, count(*)::BIGINT AS n,
           1000000::HUGEINT AS w
         FROM documents GROUP BY 1, 2),
       $steps
       SELECT r, c, n, w::BIGINT AS w_micro FROM c${2 * RakeRounds}
       ORDER BY r, c"""
  }

  /** Per-group sampling weights that rebalance a corpus toward a uniform
    * token budget across groups (the "domain mixing" step of a training
    * pipeline): each group's target is `total_tokens / n_groups`, its
    * weight `min(1, target / group_tokens)` — over-represented sources are
    * downsampled, under-represented ones kept whole (weights never
    * upsample; pair with a repeat-epoch factor for that).
    *
    * `sizeExpr` is the per-row cost measure (token count, byte count, …).
    *
    * Scale: one partial-aggregated groupBy over the corpus (map-side
    * combine collapses each partition to |groups| rows), then a broadcast
    * of the single-row grand total onto the tiny per-group relation —
    * the corpus itself is scanned once and never reshuffled.
    */
  def mixtureWeights(df: DataFrame, groupCol: String,
      sizeExpr: Column): DataFrame = {
    val perGroup = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(sizeExpr).as("tokens"))
    val totals = perGroup.agg(
      sum(col("tokens")).cast("double").as("total_tokens"),
      count(lit(1)).cast("double").as("n_groups"))
    val target = col("total_tokens") / col("n_groups")
    perGroup.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_docs"), col("tokens"),
        round(least(lit(1d), target / col("tokens").cast("double")), 6)
          .as("weight"),
        round(least(lit(1d), target / col("tokens").cast("double")) *
          col("tokens").cast("double"), 4).as("sampled_tokens"))
  }

  /** Temperature-scaled sampling shares across groups — the multilingual
    * mixing rule p_l ∝ n_l^α at α = 1/2 (the classic low-resource boost:
    * a language with 1% of the tokens gets √-scaled toward ~10% of the
    * relative weight). Complements [[mixtureWeights]]'s uniform-target
    * rule: that flattens the mixture completely; temperature scaling
    * interpolates between natural (α = 1) and uniform (α = 0).
    *
    * α is FIXED at 1/2 by design, not a parameter: n^α for general α
    * needs `pow` (libm-specific, not correctly rounded — cross-engine
    * divergent), while √n is a single IEEE correctly-rounded op, and
    * `floor(√n)` of a BIGINT is the same integer on every engine. All
    * shares are integer micro-units of those floored weights, so the
    * output is bit-identical under any partitioning or engine. (For
    * other α, compose: α = 1/4 is two isqrt passes.)
    *
    * Scale: identical shape to [[mixtureWeights]] — one partial-agg
    * groupBy collapses the corpus to |groups| rows, a single-row grand
    * total broadcasts back; the corpus never reshuffles.
    */
  def temperatureShares(df: DataFrame, groupCol: String,
      sizeExpr: Column): DataFrame = {
    val perGroup = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(sizeExpr).as("tokens"))
      .select(col(groupCol), col("n_docs"), col("tokens"),
        floor(sqrt(col("tokens").cast("double"))).cast("long").as("w_sqrt"))
    val totals = perGroup.agg(sum(col("tokens")).as("tot_tokens"),
      sum(col("w_sqrt")).as("tot_w"))
    perGroup.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_docs"), col("tokens"), col("w_sqrt"),
        expr("tokens * 1000000L div tot_tokens").as("natural_micro"),
        expr("w_sqrt * 1000000L div tot_w").as("share_micro"))
  }

  /** Embedding-space (semantic) contamination audit: for every EVAL item,
    * its nearest TRAIN neighbor by cosine and a `contaminated` flag at
    * threshold τ — the paraphrase-robust companion to the lexical n-gram
    * contamination detector (q40): shared wording is caught by hashed
    * grams, shared MEANING only by the embedding space. Reports all eval
    * rows (not just hits), so the audit doubles as a margin report — how
    * close did every eval item come?
    *
    * Determinism: cosine is the codegen'd kernel (bitwise equal to the
    * oracle's fold), the nearest neighbor is an argmax via
    * `max(struct(c, -train_id))` — a hash aggregation with MAP-SIDE
    * partials (each partition's |eval|·N scored rows collapse to |eval|
    * before the exchange; the window-row_number form the oracle uses
    * would shuffle them all), tie-broken on lowest train id like the
    * oracle's ORDER BY.
    *
    * Scale: eval sets are small by construction — broadcast eval, one
    * pass over train, no train shuffle. For huge eval sets, IVF-bucket
    * both sides first (the q56 path).
    */
  def semanticContamination(evalSet: DataFrame, train: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    import graft.functions.TextFunctions.cosine
    val e = evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("ev"))
    val t = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"))
    broadcast(e).join(t)
      .select(col("eval_id"),
        struct(cosine(col("ev"), col("tv")).as("c"),
          (-col("train_id")).as("neg_id")).as("cand"))
      .groupBy(col("eval_id"))
      .agg(max(col("cand")).as("best"))
      .select(col("eval_id"), (-col("best.neg_id")).as("nearest_train_id"),
        (round(col("best.c"), 6) + lit(0.0)).as("cos_sim"),
        (col("best.c") >= tau).as("contaminated"))
  }

  // ---- q189: semantic decontamination audit -----------------------------------
  // vec_id < 25 plays the benchmark/eval set, the rest the training
  // corpus; τ = 0.45 flags the near-paraphrase the fixture contains.
  private def q189(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    semanticContamination(emb.filter(col("vec_id") < 25),
        emb.filter(col("vec_id") >= 25), "vec_id", "embedding", tau = 0.45)
      .orderBy(col("eval_id"))
  }
  private val q189Sql =
    """WITH sims AS (
         SELECT a.vec_id AS eval_id, b.vec_id AS train_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM embeddings a JOIN embeddings b ON b.vec_id >= 25
         WHERE a.vec_id < 25),
       best AS (
         SELECT eval_id, train_id, c, row_number() OVER (
           PARTITION BY eval_id ORDER BY c DESC, train_id) AS rn
         FROM sims)
       SELECT eval_id, train_id AS nearest_train_id,
         round(c, 6) + 0.0 AS cos_sim, (c >= 0.45) AS contaminated
       FROM best WHERE rn = 1 ORDER BY eval_id"""

  /** Within-group quantile (rank) normalization of a score column: each
    * row's score becomes its empirical percentile WITHIN its group, in
    * integer micro-units — (rank − 1)·10^6 div (n − 1), ties sharing the
    * min rank. The curation use: quality scores from different sources
    * (different scorers, different scales) become comparable, so one
    * global threshold means the same thing everywhere — the rank-based
    * alternative to z-scoring that no distribution assumption can break.
    *
    * Determinism: ranks and counts are exact integers; ties share a rank
    * by score equality alone (no tie-break column needed for the OUTPUT
    * to be well-defined — equal scores get equal percentiles).
    * Single-member groups normalize to 0.
    *
    * Scale: one shuffle partitioned by group, per-group sort inside the
    * window. Groups parallelize; for a single corpus-sized group use the
    * two-pass prefix-sum ranking (the q138 dense-id discipline) instead
    * of one giant window partition.
    */
  def quantileNormalize(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    df.withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("n_grp", count(lit(1))
        .over(Window.partitionBy(col(groupCol))))
      .withColumn("pct_micro",
        when(col("n_grp") > 1,
          expr("(rnk - 1) * 1000000L div (n_grp - 1)")).otherwise(lit(0L)))
      .drop("rnk", "n_grp")
  }

  // ---- q182: cross-source score calibration by quantile normalization ---------
  // n_chars as the stand-in quality score: per (source, percentile band)
  // counts prove the normalized scale is uniform within every source.
  private def q182(s: SparkSession, d: String): DataFrame =
    quantileNormalize(Tables.documents(s, d), "source", "n_chars")
      .groupBy(col("source"),
        expr("pct_micro div 250000").as("quartile"))
      .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_score"),
        max(col("n_chars")).as("max_score"))
      .orderBy(col("source"), col("quartile"))
  private val q182Sql =
    """WITH r AS (
         SELECT source, n_chars,
           rank() OVER (PARTITION BY source ORDER BY n_chars) AS rnk,
           count(*) OVER (PARTITION BY source) AS n_grp
         FROM documents),
       p AS (
         SELECT source, n_chars,
           CASE WHEN n_grp > 1 THEN (rnk - 1) * 1000000 // (n_grp - 1)
                ELSE 0 END AS pct_micro
         FROM r)
       SELECT source, (pct_micro // 250000)::BIGINT AS quartile,
         count(*)::BIGINT AS n, min(n_chars) AS min_score,
         max(n_chars) AS max_score
       FROM p GROUP BY 1, 2 ORDER BY source, quartile"""

  /** Horvitz–Thompson total estimation over a [[weightedSamplePredicate]]
    * sample: every kept row contributes measure·65536 div threshold — its
    * measure inverse-weighted by its own inclusion probability
    * t/65536 — so the sampled sum is an (integer-floored) unbiased
    * estimate of the full-corpus total. The loop this closes: sample with
    * per-row probabilities (cheap corpus), then still report calibrated
    * corpus-level statistics (token budgets, bytes per source) WITHOUT
    * touching the dropped rows.
    *
    * Exactness: threshold and draw are the sampler's own integers, the
    * inverse weight is one BIGINT floor per row, partials sum exactly —
    * engine- and partitioning-deterministic. (The floor biases each
    * contribution by < 1 unit; at 65536 buckets that is ≤ 0.002% of the
    * weight — quantization, not engine noise.)
    */
  def htEstimate(df: DataFrame, groupCol: String, keyCol: Column,
      measure: Column, threshold65536: Column): DataFrame = {
    val t = least(lit(65536L), threshold65536.cast("long"))
    df
      .withColumn("__m", measure.cast("long"))
      .withColumn("__t", t)
      .withColumn("__keep", weightedSamplePredicate(keyCol, col("__t")))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_total"),
        sum(col("__m")).as("true_total"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("__keep"), expr("__m * 65536L div __t"))
          .otherwise(0L)).as("ht_estimate"))
      .withColumn("err_micro",
        expr("abs(ht_estimate - true_total) * 1000000L div true_total"))
  }

  // ---- q183: corpus totals estimated from the weighted sample -----------------
  // The q141 sample (keep probability ∝ n_chars), calibrated back to
  // per-language token totals; the oracle recomputes the identical
  // integer inverse weighting, and err_micro shows the estimator landing
  // near the true total it never fully scanned.
  private def q183(s: SparkSession, d: String): DataFrame =
    htEstimate(Tables.documents(s, d), "lang", col("doc_id"),
      col("n_chars"), col("n_chars") * 164)
      .orderBy(col("lang"))
  private val q183Sql =
    """WITH b AS (
         SELECT lang, n_chars::BIGINT AS m,
           least(65536, n_chars * 164)::BIGINT AS t,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INTEGER
             < least(65536, n_chars * 164) AS keep
         FROM documents)
       SELECT lang, count(*)::BIGINT AS n_total,
         sum(m)::BIGINT AS true_total,
         sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
         sum(CASE WHEN keep THEN m * 65536 // t ELSE 0 END)::BIGINT
           AS ht_estimate,
         (abs(sum(CASE WHEN keep THEN m * 65536 // t ELSE 0 END) - sum(m))
            * 1000000 // sum(m))::BIGINT AS err_micro
       FROM b GROUP BY lang ORDER BY lang"""

  /** Corpus-trained bigram language-model fluency score (the CCNet-style
    * "perplexity filter" shape): per document, the average conditional
    * probability C(w1 w2)/C(w1·) of its word bigrams, with counts trained
    * on the corpus itself. Low scores mark disfluent/unnatural token
    * sequences. The score is a plain average of exact count ratios — not
    * log-perplexity — so it is reproducible bit-for-bit across engines
    * (`ln` is not correctly-rounded in either engine's libm).
    *
    * Scale: ONE corpus aggregation builds the vocabulary-bounded bigram
    * count table (map-side partials collapse corpus-scale to vocab-scale
    * before the shuffle); the prefix counts C(w1·) are then derived from
    * that already-tiny table (sum of bc per first word), NOT by a second
    * corpus pass. Both stat tables broadcast back onto the bigram stream,
    * so the corpus-sized relation is never exchanged for the lookups;
    * only the final per-document partial average shuffles, already
    * collapsed to one row per (partition, doc).
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val base = df
      .where(size(toks) >= 2)
      .select(col(idCol), explode(ngrams(toks, 2)).as("g"))
    val bigramCounts = base.groupBy(col("g")).agg(count(lit(1)).as("bc"))
    val prefixCounts = bigramCounts
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("bc")).as("wc"))
    base.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(broadcast(bigramCounts), "g")
      .join(broadcast(prefixCounts), "w1")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("bc").cast("double") / col("wc").cast("double")), 6)
          .as("lm_score"))
  }

  /** Cross-corpus form of [[bigramLmScore]]: the count tables are trained
    * on `trainDf` and score `scoreDf`'s documents — "how natural is this
    * held-out/candidate text under the TRAINING distribution", the shape
    * of a KenLM-style quality filter scoring fresh crawl against the
    * curated corpus. Bigrams unseen in training contribute probability 0
    * (dropped by the inner join on the count table, with `n_scored` /
    * `n_bigrams` exposing the out-of-model rate per document).
    *
    * Same scale shape as the self-trained form: one TRAIN aggregation to
    * a vocab-bounded count table, prefix counts derived from it, both
    * broadcast onto the scored stream.
    */
  def bigramLmScoreAgainst(trainDf: DataFrame, scoreDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def grams(d: DataFrame) = {
      val toks = tokens(col(textCol))
      d.where(size(toks) >= 2)
        .select(col(idCol), explode(ngrams(toks, 2)).as("g"))
    }
    val bigramCounts = grams(trainDf).groupBy(col("g"))
      .agg(count(lit(1)).as("bc"))
    val prefixCounts = bigramCounts
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("bc")).as("wc"))
    grams(scoreDf).withColumn("w1", substring_index(col("g"), " ", 1))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_bigrams"))
      .join(
        grams(scoreDf).withColumn("w1", substring_index(col("g"), " ", 1))
          .join(broadcast(bigramCounts), "g")
          .join(broadcast(prefixCounts), "w1")
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_scored"),
            round(avg(col("bc").cast("double") / col("wc").cast("double")), 6)
              .as("lm_score")),
        Seq(idCol), "left")
      .select(col(idCol), col("n_bigrams"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"), col("lm_score"))
  }

  /** Perplexity-band corpus filter: keep documents whose LM fluency score
    * lies between the corpus' loQ and hiQ quantiles — the standard
    * two-sided quality gate (a KenLM-style filter drops BOTH tails: the
    * low-probability tail is gibberish/OCR noise, the high-probability
    * tail is repetitive boilerplate a model overfits). Composes
    * [[bigramLmScore]] with broadcast percentile bounds.
    *
    * Bounds are rounded to 4dp in BOTH engines before comparing (the
    * q90 winsorize convention — last-ulp quantile differences must not
    * flip a boundary document). Scale: scoring is the q63 shape
    * (vocab-sized count tables broadcast back); the band bounds are one
    * 2-value aggregate broadcast onto the |docs|-sized score relation —
    * at 100 TB swap the exact percentile for `approx_percentile` or
    * [[graft.operators.Analytics.percentileNoSort]].
    */
  def lmScoreBandFilter(df: DataFrame, idCol: String, textCol: String,
      loQ: Double, hiQ: Double): DataFrame = {
    require(0.0 <= loQ && loQ < hiQ && hiQ <= 1.0, "need 0 <= loQ < hiQ <= 1")
    val scores = bigramLmScore(df, idCol, textCol)
    val bounds = scores.agg(
      round(expr(s"percentile(lm_score, ${loQ}D)"), 4).as("__lo"),
      round(expr(s"percentile(lm_score, ${hiQ}D)"), 4).as("__hi"))
    scores.crossJoin(broadcast(bounds))
      .filter(col("lm_score") >= col("__lo") && col("lm_score") <= col("__hi"))
      .select(col(idCol), col("n_bigrams"), col("lm_score"))
  }

  /** Deterministic negative sampling for contrastive training: for every
    * anchor id, `k` pseudo-random other ids drawn by hashing
    * (anchor, slot) — reproducible across engines, retries, and reruns
    * (the same determinism contract as [[hashSamplePredicate]]; `rand()`
    * negatives change every run and poison cached pair datasets).
    *
    * The draw is the corpus' shared polyhash (the cross-engine-stable
    * q24 construction) mod the id-space size; a drawn id is kept only if
    * it exists (inner join against the id relation) and differs from its
    * anchor, so gappy id spaces and self-draws thin slots rather than
    * emit bad pairs — the caller sizes `k` with headroom. Optional
    * `excludePairs` (e.g. a near-dup pair list) removes known-positive
    * pairs by anti-join: a "negative" that is secretly a duplicate is a
    * false training signal.
    *
    * Scale: k small rows per anchor from map-side arithmetic; the
    * existence check joins 8-byte ids; the exclusion anti-join carries
    * pair ids only. Nothing touches payloads.
    */
  def negativeSamples(ids: DataFrame, idCol: String, k: Int, idSpace: Long,
      excludePairs: Option[(DataFrame, String, String)] = None): DataFrame = {
    require(k > 0 && idSpace > 0, "k and idSpace must be positive")
    val drawn = ids.select(col(idCol).as("anchor_id"))
      .select(col("anchor_id"), explode(sequence(lit(0), lit(k - 1))).as("slot"))
      .withColumn("negative_id",
        pmod(polyHash(concat_ws("_", col("anchor_id"), col("slot"))),
          lit(idSpace)))
      .filter(col("negative_id") =!= col("anchor_id"))
    val existing = drawn.join(
      ids.select(col(idCol).as("negative_id")), "negative_id")
    val out = excludePairs match {
      case None => existing
      case Some((pairs, aCol, bCol)) =>
        val sym = pairs.select(col(aCol).as("anchor_id"), col(bCol).as("negative_id"))
          .union(pairs.select(col(bCol).as("anchor_id"), col(aCol).as("negative_id")))
        existing.join(sym, Seq("anchor_id", "negative_id"), "left_anti")
    }
    out.select(col("anchor_id"), col("slot"), col("negative_id"))
  }

  // ---- q135: deterministic negative sampling -----------------------------------
  // Four negatives per document, near-dup pairs excluded so a duplicate
  // can never pose as a negative; the draw arithmetic is the shared q24
  // polyhash, textually mirrored in the oracle.
  private def q135(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    negativeSamples(docs, "doc_id", k = 4, idSpace = 500,
        excludePairs = Some((
          graft.operators.Dedup.jaccardPairs(docs, "doc_id", "text"),
          "d1", "d2")))
      .orderBy(col("anchor_id"), col("slot"))
  }
  private val q135Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         WHERE len(string_split(text, ' ')) >= 3),
       grams AS (
         SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 1),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS g
           FROM toks)),
       sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       pair AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       dup AS (
         SELECT d1, d2 FROM pair
         JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE inter / (s1.n + s2.n - inter) >= 0.5),
       sym AS (SELECT d1 AS a, d2 AS b FROM dup
               UNION ALL SELECT d2, d1 FROM dup),
       drawn AS (
         SELECT d.doc_id AS anchor_id, s.range AS slot,
           list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(
                 d.doc_id::VARCHAR || '_' || s.range::VARCHAR, ''),
                 c -> ord(c)::BIGINT)),
             (acc, c) -> (acc * 131 + c) % 2147483647) % 500 AS negative_id
         FROM documents d, range(0, 4) s)
       SELECT anchor_id, slot::INT AS slot, negative_id
       FROM drawn
       WHERE negative_id <> anchor_id
         AND negative_id IN (SELECT doc_id FROM documents)
         AND NOT EXISTS (SELECT 1 FROM sym
                         WHERE sym.a = drawn.anchor_id
                           AND sym.b = drawn.negative_id)
       ORDER BY anchor_id, slot"""

  // ---- q63: bigram-LM fluency scoring ----------------------------------------
  private def q63(s: SparkSession, d: String): DataFrame =
    bigramLmScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  private val q63Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents
         WHERE len(string_split(text, ' ')) >= 2),
       b AS (
         SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS g
           FROM toks)),
       bc AS (SELECT g, count(*) AS bc FROM b GROUP BY g),
       wc AS (SELECT w1, count(*) AS wc FROM b GROUP BY w1)
       SELECT b.doc_id, count(*) AS n_bigrams,
         round(avg(bc.bc::DOUBLE / wc.wc::DOUBLE), 6) AS lm_score
       FROM b JOIN bc USING (g) JOIN wc USING (w1)
       GROUP BY b.doc_id ORDER BY doc_id"""

  // ---- q134: perplexity-band corpus filter -------------------------------------
  // Documents inside the [p10, p90] fluency band; both tails dropped.
  private def q134(s: SparkSession, d: String): DataFrame =
    lmScoreBandFilter(Tables.documents(s, d), "doc_id", "text",
        loQ = 0.1, hiQ = 0.9)
      .orderBy(col("doc_id"))
  private val q134Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents
         WHERE len(string_split(text, ' ')) >= 2),
       b AS (
         SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS g
           FROM toks)),
       bc AS (SELECT g, count(*) AS bc FROM b GROUP BY g),
       wc AS (SELECT w1, count(*) AS wc FROM b GROUP BY w1),
       scores AS (
         SELECT b.doc_id, count(*) AS n_bigrams,
           round(avg(bc.bc::DOUBLE / wc.wc::DOUBLE), 6) AS lm_score
         FROM b JOIN bc USING (g) JOIN wc USING (w1)
         GROUP BY b.doc_id),
       bounds AS (
         SELECT round(quantile_cont(lm_score, 0.1), 4) AS lo,
           round(quantile_cont(lm_score, 0.9), 4) AS hi
         FROM scores)
       SELECT doc_id, n_bigrams, lm_score
       FROM scores, bounds
       WHERE lm_score >= lo AND lm_score <= hi
       ORDER BY doc_id"""

  // ---- q111: cross-corpus LM scoring ------------------------------------------
  // The %10==7 held-out docs scored under the LM trained on the other 90%
  // (same split as the q40 contamination check).
  private def q111(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    bigramLmScoreAgainst(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val q111Sql =
    """WITH trb AS (
         SELECT unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS g
         FROM (SELECT string_split(text, ' ') AS t FROM documents
               WHERE doc_id % 10 <> 7 AND len(string_split(text, ' ')) >= 2)),
       scb AS (
         SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> t[i] || ' ' || t[i+1])) AS g
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                 WHERE doc_id % 10 = 7
                   AND len(string_split(text, ' ')) >= 2))),
       bc AS (SELECT g, count(*) AS bc FROM trb GROUP BY g),
       wc AS (SELECT split_part(g, ' ', 1) AS w1, sum(bc) AS wc
              FROM bc GROUP BY 1),
       tot AS (SELECT doc_id, count(*) AS n_bigrams FROM scb GROUP BY 1),
       sc AS (
         SELECT doc_id, count(*) AS n_scored,
           round(avg(bc.bc::DOUBLE / wc.wc::DOUBLE), 6) AS lm_score
         FROM scb JOIN bc USING (g) JOIN wc USING (w1)
         GROUP BY doc_id)
       SELECT tot.doc_id, n_bigrams,
         coalesce(n_scored, 0)::BIGINT AS n_scored, lm_score
       FROM tot LEFT JOIN sc USING (doc_id)
       ORDER BY doc_id"""

  /** The upsampling half of mixture balancing: under-represented groups
    * get an integer REPEAT-EPOCH factor (how many passes over the group
    * per training epoch) instead of a >1 weight — repeating whole groups
    * preserves within-group distribution where weighted upsampling would
    * skew it. Over-budget groups keep epoch 1 and downsample via
    * [[mixtureWeights]]; the two compose into "each source contributes
    * ~target tokens per epoch".
    *
    * floor-then-clamp keeps the factor conservative (never more than
    * ⌊target/tokens⌋ repeats, minimum 1); `effective_tokens` shows the
    * achieved contribution so the residual shortfall is visible.
    */
  def mixtureEpochs(df: DataFrame, groupCol: String,
      sizeExpr: Column): DataFrame = {
    val perGroup = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(sizeExpr).as("tokens"))
    val totals = perGroup.agg(
      sum(col("tokens")).cast("double").as("total_tokens"),
      count(lit(1)).cast("double").as("n_groups"))
    val target = col("total_tokens") / col("n_groups")
    val epochs = greatest(lit(1L),
      floor(target / col("tokens").cast("double")).cast("long"))
    perGroup.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_docs"), col("tokens"),
        epochs.as("repeat_epochs"),
        (epochs * col("tokens")).as("effective_tokens"))
  }

  // ---- q118: repeat-epoch upsampling factors ----------------------------------
  private def q118(s: SparkSession, d: String): DataFrame =
    mixtureEpochs(Tables.documents(s, d), "source",
      size(tokens(col("text"))).cast("long"))
      .orderBy(col("source"))
  private val q118Sql =
    """WITH g AS (
         SELECT source, count(*) AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT AS tokens
         FROM documents GROUP BY source),
       t AS (
         SELECT source, n_docs, tokens,
           sum(tokens) OVER ()::DOUBLE / count(*) OVER () AS target
         FROM g)
       SELECT source, n_docs, tokens,
         greatest(1, floor(target / tokens::DOUBLE)::BIGINT)
           AS repeat_epochs,
         greatest(1, floor(target / tokens::DOUBLE)::BIGINT) * tokens
           AS effective_tokens
       FROM t ORDER BY source"""

  // ---- q119: cross-split leakage check ----------------------------------------
  // contamination composed with splitAssign: documents in the md5 "test"
  // bucket sharing 5-grams with "train"-bucket documents — the leakage
  // audit run AFTER assigning splits and BEFORE training. Pure
  // composition of two verified operators; the oracle rebuilds the same
  // split predicate inline.
  private def q119(s: SparkSession, d: String): DataFrame =
    contamination(Tables.documents(s, d), "doc_id", "text",
        evalPred = splitAssign(col("doc_id"),
          Seq("train" -> 230, "test" -> 26)) === "test",
        n = 5)
      .orderBy(col("train_id"), col("eval_id"))
  private val q119Sql =
    """WITH split AS (
         SELECT doc_id, text,
           substr(md5(doc_id::VARCHAR), 1, 2) >= 'e6' AS is_test
         FROM documents),
       toks AS (
         SELECT doc_id, is_test, string_split(text, ' ') AS tokens
         FROM split WHERE len(string_split(text, ' ')) >= 5),
       grams AS (
         SELECT DISTINCT doc_id, is_test, g FROM (
           SELECT doc_id, is_test,
             unnest(list_transform(range(1, len(tokens) - 3),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                 || ' ' || tokens[i+3] || ' ' || tokens[i+4])) AS g
           FROM toks))
       SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
         count(*) AS n_shared
       FROM grams t JOIN grams e ON t.g = e.g
       WHERE NOT t.is_test AND e.is_test
       GROUP BY 1, 2 ORDER BY train_id, eval_id"""

  // ---- q62: source-mixture balancing ----------------------------------------
  private def q62(s: SparkSession, d: String): DataFrame =
    mixtureWeights(Tables.documents(s, d), "source",
      size(tokens(col("text"))).cast("long"))
      .orderBy(col("source"))
  private val q62Sql =
    """WITH g AS (
         SELECT source, count(*) AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT AS tokens
         FROM documents GROUP BY source),
       t AS (
         SELECT source, n_docs, tokens,
           sum(tokens) OVER ()::DOUBLE / count(*) OVER () AS target
         FROM g)
       SELECT source, n_docs, tokens,
         round(least(1.0::DOUBLE, target / tokens::DOUBLE), 6) AS weight,
         round(least(1.0::DOUBLE, target / tokens::DOUBLE) * tokens::DOUBLE, 4)
           AS sampled_tokens
       FROM t ORDER BY source"""

  // ---- q173: temperature-scaled language mixture (α = 1/2) --------------------
  // Natural vs √-tempered shares per language: the report a multilingual
  // run reads before fixing its sampling mixture.
  private def q173(s: SparkSession, d: String): DataFrame =
    temperatureShares(Tables.documents(s, d), "lang",
      size(tokens(col("text"))).cast("long"))
      .orderBy(col("lang"))
  private val q173Sql =
    """WITH g AS (
         SELECT lang, count(*)::BIGINT AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT AS tokens
         FROM documents GROUP BY lang),
       w AS (
         SELECT lang, n_docs, tokens,
           floor(sqrt(tokens::DOUBLE))::BIGINT AS w_sqrt FROM g),
       t AS (
         SELECT sum(tokens)::BIGINT AS tot_tokens, sum(w_sqrt)::BIGINT AS tot_w
         FROM w)
       SELECT lang, n_docs, tokens, w_sqrt,
         (tokens * 1000000 // tot_tokens)::BIGINT AS natural_micro,
         (w_sqrt * 1000000 // tot_w)::BIGINT AS share_micro
       FROM w CROSS JOIN t ORDER BY lang"""

  /** Apply [[mixtureWeights]] as an actual deterministic sample: each
    * group's weight becomes a 0-256 hash-predicate threshold, and every
    * row keeps or drops by the same md5 predicate as
    * [[hashSamplePredicate]] — reproducible across engines, retries, and
    * reruns, with per-group achieved counts as the report.
    *
    * Scale: the weight table is |groups| rows (broadcast); the corpus is
    * scanned once, map-side filtered, and aggregated with partial combine.
    */
  def mixtureSample(df: DataFrame, groupCol: String, keyCol: String,
      sizeExpr: Column): DataFrame = {
    val rates = mixtureWeights(df, groupCol, sizeExpr)
      .select(col(groupCol),
        floor(col("weight") * 256).cast("int").as("rate256"))
    val keep = col("rate256") >= 256 ||
      hashSamplePredicate(col(keyCol), lpad(lower(hex(col("rate256"))), 2, "0"))
    df.join(broadcast(rates), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_total"),
        count(when(keep, 1)).as("n_kept"),
        max(col("rate256")).as("rate256"))
  }

  // ---- q71: mixture-weighted deterministic sampling ---------------------------
  private def q71(s: SparkSession, d: String): DataFrame =
    mixtureSample(Tables.documents(s, d), "source", "doc_id",
      size(tokens(col("text"))).cast("long"))
      .orderBy(col("source"))
  private val q71Sql =
    """WITH g AS (
         SELECT source, count(*) AS n_docs,
           sum(len(string_split(text, ' ')))::BIGINT AS tokens
         FROM documents GROUP BY source),
       t AS (
         SELECT source, tokens,
           sum(tokens) OVER ()::DOUBLE / count(*) OVER () AS target
         FROM g),
       w AS (
         SELECT source,
           floor(round(least(1.0::DOUBLE, target / tokens::DOUBLE), 6)
             * 256)::INT AS rate256
         FROM t)
       SELECT d.source, count(*) AS n_total,
         count(*) FILTER (WHERE w.rate256 >= 256
           OR substr(md5(d.doc_id::VARCHAR), 1, 2)
              < lpad(lower(to_hex(w.rate256)), 2, '0')) AS n_kept,
         max(w.rate256) AS rate256
       FROM documents d JOIN w USING (source)
       GROUP BY d.source ORDER BY d.source"""

  /** EXACTLY-k-per-group deterministic sample: the k keys with the
    * smallest md5 draws in each group. The rate-based
    * [[hashSamplePredicate]] yields a binomial count per group; this
    * yields a fixed quota — the form needed for "give me 10k eval docs
    * per language" extraction jobs — while staying just as reproducible
    * (the draw is a pure function of the key, so reruns, retries, and
    * other engines select the identical rows).
    *
    * Scale design: `row_number() <= k` over (draw, key) per group — the
    * oracle's formulation. Its Partial `WindowGroupLimit` keeps at most
    * k rows per group in each map partition, so the exchange carries
    * k·partitions rows per group instead of the whole corpus.
    */
  def sampleExactPerGroup(df: DataFrame, groupCol: String, keyCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("h"), col("id"))
    df.select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("long").as("id"),
        md5(col(keyCol).cast("string").cast("binary")).as("h"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .select(col("g").as(groupCol), col("sample_rank"), col("id").as(keyCol))
  }

  // ---- q85: exact-quota deterministic per-group sampling ----------------------
  private def q85(s: SparkSession, d: String): DataFrame =
    sampleExactPerGroup(Tables.documents(s, d), "lang", "doc_id", k = 12)
      .orderBy(col("lang"), col("sample_rank"))
  private val q85Sql =
    """SELECT lang, rn::INT AS sample_rank, doc_id FROM (
         SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
         FROM documents)
       WHERE rn <= 12 ORDER BY lang, sample_rank"""

  /** Majority-vote label resolution: given (item, vote) rows from
    * multiple annotators / weak labelers / model runs, the winning label
    * per item plus the agreement rate — the label-aggregation step of
    * every supervised-data pipeline (and the "what fraction of raters
    * agreed" quality signal to filter on).
    *
    * Ties break to the lexicographically smallest label so the result is
    * deterministic and cross-engine reproducible.
    *
    * Scale design: two partial-aggregated hash aggregations — votes
    * collapse to (item, label) counts map-side, then to one winner row
    * per item via `min(struct(-count, label))` (the argmax-without-a-
    * window trick used across this codebase); the vote log is never
    * window-sorted.
    */
  def resolveLabels(df: DataFrame, itemCol: String, labelCol: String): DataFrame =
    df.groupBy(col(itemCol), col(labelCol))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(itemCol))
      .agg(min(struct((-col("c")).as("nc"), col(labelCol).as("lab"))).as("best"),
        sum(col("c")).as("n_votes"))
      .select(col(itemCol), col("best.lab").as("label"),
        (-col("best.nc")).as("n_agree"), col("n_votes"),
        round((-col("best.nc")).cast("double") / col("n_votes"), 6)
          .as("agreement"))

  // ---- q96: majority-vote label resolution ------------------------------------
  // Events read as weak labels: each user's dominant event type.
  private def q96(s: SparkSession, d: String): DataFrame =
    resolveLabels(Tables.events(s, d), "user_id", "event_type")
      .orderBy(col("user_id"))
  private val q96Sql =
    """WITH c AS (
         SELECT user_id, event_type, count(*) AS c FROM events
         GROUP BY 1, 2),
       t AS (SELECT user_id, sum(c)::BIGINT AS n_votes FROM c GROUP BY 1),
       w AS (
         SELECT user_id, event_type AS label, c AS n_agree,
           row_number() OVER (PARTITION BY user_id
             ORDER BY c DESC, event_type) AS rn
         FROM c)
       SELECT w.user_id, label, n_agree, n_votes,
         round(n_agree::DOUBLE / n_votes, 6) AS agreement
       FROM w JOIN t ON w.user_id = t.user_id
       WHERE rn = 1 ORDER BY w.user_id"""

  private def q45(s: SparkSession, d: String): DataFrame =
    repetitionRatio(Tables.documents(s, d), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  private val q45Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         WHERE len(string_split(text, ' ')) >= 3),
       grams AS (
         SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 1),
           i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS g
         FROM toks),
       freq AS (
         SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
       SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS rep_ratio
       FROM freq GROUP BY doc_id ORDER BY doc_id"""

  // The fixture corpus is synthetic word salad with no PII, so q54 injects
  // a deterministic email/URL/phone tail into every third document — built
  // with the same string expression in both engines — and scrubs THAT.
  // The oracle then genuinely exercises regex parity, not just no-ops.
  private def q54(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val aug = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), id,
        lit("@example.com or https://ex.com/p/"), id,
        lit(" tel +1 555-00"), id))
      .otherwise(col("text"))
    scrubPii(Tables.documents(s, d).select(col("doc_id"), aug.as("text")),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val q54Sql =
    """WITH aug AS (
         SELECT doc_id, CASE WHEN doc_id % 3 = 0
           THEN text || ' contact user' || doc_id || '@example.com or https://ex.com/p/'
                || doc_id || ' tel +1 555-00' || doc_id
           ELSE text END AS t
         FROM documents)
       , staged AS (
         SELECT doc_id, t,
           regexp_replace(t, 'https?://[^ ]+', '<URL>', 'g') AS after_url
         FROM aug),
       staged2 AS (
         SELECT doc_id, t, after_url,
           regexp_replace(after_url,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
             AS after_email
         FROM staged)
       SELECT doc_id,
         len(regexp_extract_all(t, 'https?://[^ ]+'))::BIGINT AS n_urls,
         len(regexp_extract_all(after_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
         len(regexp_extract_all(after_email, '\+[0-9][0-9\- ]{5,}[0-9]'))::BIGINT AS n_phones,
         regexp_replace(after_email, '\+[0-9][0-9\- ]{5,}[0-9]', '<PHONE>', 'g') AS scrubbed
       FROM staged2 ORDER BY doc_id"""

  private def q55(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d), "doc_id", "text", "lang", budget = 2048)
      .orderBy(col("lang"), col("bin"))
  private val q55Sql =
    """WITH n AS (
         SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
         FROM documents),
       c AS (
         SELECT lang, n_tok,
           sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_before
         FROM n)
       SELECT lang, floor(cum_before / 2048)::BIGINT AS bin,
         count(*) AS n_docs, sum(n_tok)::BIGINT AS tokens_total
       FROM c GROUP BY 1, 2 ORDER BY lang, bin"""

  /** URL parsing + blocklist filtering (the C4/RefinedWeb provenance
    * step): split a URL column into scheme / host / registered domain
    * (www. stripped) / TLD / path depth, and keep only rows whose TLD is
    * not blocklisted.
    *
    * Scale design: pure map-side codegen'd regexp work, zero shuffle — at
    * 100 TB this pipelines into the scan like [[scrubPii]]. The regex
    * subset (anchored literal classes, no lookaround) is RE2/Java-
    * portable, so the DuckDB oracle computes identical fields. A
    * domain-level (rather than TLD-level) blocklist at scale is the same
    * shape with the list broadcast into an `isin`/bloom probe.
    */
  def parseUrls(df: DataFrame, urlCol: String,
      blockedTlds: Seq[String]): DataFrame = {
    val u = col(urlCol)
    val scheme = regexp_extract(u, "^([a-z][a-z0-9+.-]*)://", 1)
    val host = regexp_extract(u, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    val domain = regexp_replace(host, "^www\\.", "")
    val tld = regexp_extract(domain, "\\.([a-z0-9-]+)$", 1)
    val path = regexp_extract(u, "^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1)
    df.withColumn("scheme", scheme)
      .withColumn("host", host)
      .withColumn("domain", domain)
      .withColumn("tld", tld)
      .withColumn("path_depth",
        (length(path) - length(regexp_replace(path, "/", ""))).cast("long"))
      .withColumn("keep", !tld.isin(blockedTlds: _*))
  }

  // ---- q76: URL parse + blocklist filter --------------------------------------
  // The fixture has no URL column, so the query synthesizes one
  // deterministically per doc (scheme, www-prefix, TLD, and path depth all
  // vary by doc_id) and parses it back; TLD "adnet" is blocklisted.
  private def q76(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val url = concat(
      when(id % 2 === 0, "https").otherwise("http"), lit("://"),
      when(id % 5 === 0, "www.").otherwise(""),
      col("source"), lit("."),
      when(id % 3 === 0, "com").when(id % 3 === 1, "org").otherwise("adnet"),
      lit("/"), expr("repeat('d/', cast(doc_id % 4 AS INT))"),
      lit("page"), id.cast("string"))
    parseUrls(Tables.documents(s, d).select(id, url.as("url")),
        "url", blockedTlds = Seq("adnet"))
      .select(col("doc_id"), col("url"), col("scheme"), col("host"),
        col("domain"), col("tld"), col("path_depth"), col("keep"))
      .orderBy(col("doc_id"))
  }
  private val q76Sql =
    """WITH u AS (
         SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
             || (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END)
             || source || '.'
             || (CASE WHEN doc_id % 3 = 0 THEN 'com'
                      WHEN doc_id % 3 = 1 THEN 'org' ELSE 'adnet' END)
             || '/' || repeat('d/', (doc_id % 4)::INT)
             || 'page' || doc_id AS url
         FROM documents),
       p AS (
         SELECT doc_id, url,
           regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) AS scheme,
           regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
         FROM u),
       p2 AS (
         SELECT *, regexp_replace(host, '^www\.', '') AS domain,
           regexp_extract(url,
             '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1) AS path
         FROM p)
       SELECT doc_id, url, scheme, host, domain,
         regexp_extract(domain, '\.([a-z0-9-]+)$', 1) AS tld,
         (length(path) - length(replace(path, '/', '')))::BIGINT AS path_depth,
         regexp_extract(domain, '\.([a-z0-9-]+)$', 1) <> 'adnet' AS keep
       FROM p2 ORDER BY doc_id"""

  /** The distributed ordering stage of [[budgetSelect]], exposed so its
    * plan shape (range exchange, NO single-partition funnel) is pinnable
    * past the localCheckpoint that hides it downstream.
    */
  private[graft] def budgetRanked(df: DataFrame, idCol: String,
      qualityCol: Column, tokensCol: Column, partitions: Int): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        qualityCol.cast("long").as("quality"),
        tokensCol.cast("long").as("n_tokens"))
      .repartitionByRange(partitions, col("quality").desc, col("doc_id"))
      .sortWithinPartitions(col("quality").desc, col("doc_id"))

  /** Token-budget corpus selection: keep the best documents — by a
    * caller-supplied quality measure — until a total token budget is
    * filled ("the top 30B tokens by quality"), the selection shape of
    * quality-pruned pre-training mixes. A document is kept iff it fits
    * WHOLLY within the budget under the (quality desc, id) order; the
    * straddling document is excluded. Output carries the inclusive
    * running token total, so downstream can re-cut to any smaller budget
    * for free.
    *
    * Scale design: a global running sum over a total order is the one
    * aggregation a hash-partitioned engine cannot express directly, so
    * this reuses the two-pass distributed prefix sum (the
    * [[Analytics.concurrency]] machinery): range-partition by (quality
    * desc, id), per-partition token totals to the driver (P rows of
    * metadata), then each partition streams once seeded with the earlier
    * partitions' sum. The window formulation (the oracle) funnels the
    * corpus through ONE task. The budget filter applies in the same
    * streamed pass — nothing is re-read, and partitions past the budget
    * emit nothing.
    */
  def budgetSelect(df: DataFrame, idCol: String, qualityCol: Column,
      tokensCol: Column, budget: Long, partitions: Int = 32): DataFrame = {
    require(budget > 0, "budget must be positive")
    val s = df.sparkSession
    import s.implicits._
    val ranked = budgetRanked(df, idCol, qualityCol, tokensCol, partitions)
      .as[(Long, Long, Long)]
      .localCheckpoint(false) // stats-ok: pass 2 must see pass 1's exact partitions
    val totals = ranked.mapPartitions { it =>
        Iterator.single(
          (org.apache.spark.TaskContext.getPartitionId(), it.map(_._3).sum))
      }.collect().toMap // P entries — partition metadata, not data
    val offsets = (0 until partitions)
      .scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L)).toArray
    val offB = s.sparkContext.broadcast(offsets)
    ranked.mapPartitions { it =>
        var running =
          offB.value(org.apache.spark.TaskContext.getPartitionId())
        if (running >= budget) Iterator.empty
        else it.flatMap { case (id, q, n) =>
          running += n
          if (running <= budget) Iterator.single((id, q, n, running))
          else Iterator.empty // straddler and everything after it
        }
      }
      .select(col("_1").as("doc_id"), col("_2").as("quality"),
        col("_3").as("n_tokens"), col("_4").as("cum_tokens"))
  }

  /** Deterministic span corruption: build (input, target) pairs for
    * T5-style denoising pre-training. Each token position draws a 16-bit
    * md5 hash of (doc, pos); positions under `threshold16`/65536 are
    * masked, CONSECUTIVE masked tokens collapse into one numbered
    * sentinel in the input, and the target lists each span behind its
    * sentinel. Masking via the engine's shared md5-draw family (not
    * `rand()`) means the corruption is a pure function of (doc, pos):
    * reruns, resumes, and any engine reproduce the same pairs — cached
    * training data stays valid, and the oracle replays the identical
    * draw.
    *
    * Scale design: one exchange on doc_id; the per-document reassembly
    * is the secondary-sort ordered fold ([[TypedAggs.longestIncreasingRun]]'s
    * machinery) — the engine sorts (pos) on the shuffle files and hands
    * an ordered iterator, so the fold state is two string builders and
    * three counters regardless of document size. The oracle needs THREE
    * window passes (lag for run starts, a running span count, ordered
    * string_aggs) over the same exchange.
    */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
      threshold16: Int): DataFrame = {
    require(threshold16 >= 0 && threshold16 <= 65536,
      "threshold16 is a 16-bit draw bound")
    val s = df.sparkSession
    import s.implicits._
    val draw = conv(substring(md5(concat_ws(":",
        col("doc_id").cast("string"), col("pos").cast("string"))
        .cast("binary")), 1, 4), 16, 10).cast("long")
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("m", draw < threshold16)
      .as[(Long, Int, String, Boolean)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("pos")) { (doc, rows) =>
        val input = new StringBuilder
        val target = new StringBuilder
        var nMasked = 0L
        var nSpans = 0L
        var prevMasked = false
        rows.foreach { case (_, _, tok, m) =>
          if (m) {
            nMasked += 1
            if (!prevMasked) {
              if (input.nonEmpty) input += ' '
              input ++= s"<extra_id_$nSpans>"
              if (target.nonEmpty) target += ' '
              target ++= s"<extra_id_$nSpans> "
              target ++= tok
              nSpans += 1
            } else {
              target += ' '
              target ++= tok
            }
          } else {
            if (input.nonEmpty) input += ' '
            input ++= tok
          }
          prevMasked = m
        }
        Iterator.single(
          (doc, input.toString, target.toString, nMasked, nSpans))
      }
      .select(col("_1").as("doc_id"), col("_2").as("input"),
        col("_3").as("target"), col("_4").as("n_masked"),
        col("_5").as("n_spans"))
  }

  // ---- q151: deterministic span corruption -------------------------------------
  // ~15% mask rate (9830/65536); the oracle replays the identical draw
  // with three window passes over the single-doc_id exchange.
  private def q151(s: SparkSession, d: String): DataFrame =
    spanCorrupt(Tables.documents(s, d), "doc_id", "text", threshold16 = 9830)
      .orderBy(col("doc_id"))
  private val q151Sql =
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS lst
         FROM documents),
       tok AS (
         SELECT doc_id, i - 1 AS pos, lst[i] AS tok
         FROM sp, unnest(range(1, len(lst) + 1)) AS u(i)),
       m AS (
         SELECT doc_id, pos, tok,
           ('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR),
             1, 4))::INTEGER < 9830 AS msk
         FROM tok),
       r AS (
         SELECT *, msk AND NOT coalesce(
           lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
           AS run_start
         FROM m),
       sx AS (
         SELECT *, (sum(CASE WHEN run_start THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
           AS span_idx
         FROM r)
       SELECT doc_id,
         string_agg(CASE WHEN NOT msk THEN tok
             ELSE '<extra_id_' || span_idx::VARCHAR || '>' END,
           ' ' ORDER BY pos)
           FILTER (WHERE NOT msk OR run_start) AS input,
         coalesce(string_agg(CASE WHEN run_start
             THEN '<extra_id_' || span_idx::VARCHAR || '> ' || tok
             ELSE tok END, ' ' ORDER BY pos)
           FILTER (WHERE msk), '') AS target,
         count(*) FILTER (WHERE msk)::BIGINT AS n_masked,
         count(*) FILTER (WHERE run_start)::BIGINT AS n_spans
       FROM sx GROUP BY doc_id ORDER BY doc_id"""

  // ---- q149: token-budget corpus selection ------------------------------------
  // Quality = distinct-token count (integer, cross-engine exact); keep
  // the lexically richest documents until 10k tokens are filled. The
  // oracle is the single-task window cumsum the two-pass sweep avoids.
  private def q149(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    budgetSelect(Tables.documents(s, d), "doc_id",
        qualityCol = size(array_distinct(toks)),
        tokensCol = size(toks), budget = 10000L)
      .orderBy(col("cum_tokens"))
  }
  private val q149Sql =
    """WITH t AS (
         SELECT doc_id,
           len(list_distinct(string_split(text, ' ')))::BIGINT AS quality,
           len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents),
       c AS (
         SELECT *, (sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS cum_tokens
         FROM t)
       SELECT doc_id, quality, n_tokens, cum_tokens FROM c
       WHERE cum_tokens <= 10000 ORDER BY cum_tokens"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q40_contamination", q40, Some(q40Sql)),
    QueryDef("q131_decontaminate", q131, Some(q131Sql)),
    QueryDef("q41_stratified_sample", q41, Some(q41Sql)),
    QueryDef("q42_topk_ngrams", q42, Some(q42Sql)),
    QueryDef("q43_embed_quantize", q43, Some(q43Sql)),
    QueryDef("q44_kmeans_assign", q44, Some(q44Sql)),
    QueryDef("q45_repetition", q45, Some(q45Sql)),
    QueryDef("q54_pii_scrub", q54, Some(q54Sql)),
    QueryDef("q201_source_quota", q201, Some(q201Sql)),
    QueryDef("q203_source_overlap", q203, Some(q203Sql)),
    QueryDef("q204_length_cap", q204, Some(q204Sql)),
    QueryDef("q206_apportion", q206, Some(q206Sql)),
    QueryDef("q253_neyman_allocation", q253, Some(q253Sql)),
    QueryDef("q276_effective_sample_size", q276, Some(q276Sql)),
    QueryDef("q55_seq_packing", q55, Some(q55Sql)),
    QueryDef("q62_mixture_weights", q62, Some(q62Sql)),
    QueryDef("q173_temperature_mix", q173, Some(q173Sql)),
    QueryDef("q182_quantile_normalize", q182, Some(q182Sql)),
    QueryDef("q183_ht_estimate", q183, Some(q183Sql)),
    QueryDef("q189_semantic_contamination", q189, Some(q189Sql)),
    QueryDef("q63_bigram_lm", q63, Some(q63Sql)),
    QueryDef("q134_lm_band_filter", q134, Some(q134Sql)),
    QueryDef("q135_negative_samples", q135, Some(q135Sql)),
    QueryDef("q71_mixture_sample", q71, Some(q71Sql)),
    QueryDef("q76_url_filter", q76, Some(q76Sql)),
    QueryDef("q85_exact_group_sample", q85, Some(q85Sql)),
    QueryDef("q96_label_majority", q96, Some(q96Sql)),
    QueryDef("q106_centroid_update", q106, Some(q106Sql)),
    QueryDef("q110_split_assign", q110, Some(q110Sql)),
    QueryDef("q111_crosslm_score", q111, Some(q111Sql)),
    QueryDef("q118_mixture_epochs", q118, Some(q118Sql)),
    QueryDef("q119_split_leakage", q119, Some(q119Sql)),
    QueryDef("q141_weighted_sample", q141, Some(q141Sql)),
    QueryDef("q149_budget_select", q149, Some(q149Sql)),
    QueryDef("q151_span_corrupt", q151, Some(q151Sql)),
    QueryDef("q316_rake_weights", q316, Some(q316Sql)))
}
