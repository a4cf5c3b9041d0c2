package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.{doti, quantize8}
import FixedPoint.{fd, floorDiv}

/** Retrieval-quality metrics over ranked candidate lists, plus the
  * quantized (ADC-style) ranking path they evaluate — the acceptance
  * instruments for the similarity-search surface ([[Similarity]]): before
  * an approximate index (IVF, LSH, quantization) replaces the exact
  * ranking in a 100-TB pipeline, these report what the swap costs in
  * ordering quality, not just set overlap ([[Similarity.recallReport]]).
  *
  * Cross-engine determinism: every metric is exact BIGINT algebra in
  * micro-units. The discount is the HARMONIC family 1/(rank+1) — computed
  * as `1000000 div (rank+1)`, an integer both engines floor identically —
  * rather than the log2 form, whose `ln`-based evaluation is libm-specific
  * and whose window-ordered double sum would be partition-order-sensitive
  * (same reasoning as [[Profile]]'s integer eval metrics). Monotonicity —
  * the property that makes a discount a discount — is preserved, so
  * accept/reject decisions rank systems the same way.
  *
  * Scale design: relevance joins touch only the top-k rows per query (a
  * k·|Q|-sized relation) and a per-query relevant-count aggregate with
  * map-side partials — the corpus-sized relevant set is never shuffled
  * into per-query partitions. Quantized scoring is one broadcast of the
  * query vectors against a map-only pass over the corpus with BIGINT dot
  * products ([[graft.functions.DotProductInt]]), ranked through the same
  * window group limit as every other top-k
  * ([[Similarity.rankTopK]]: k rows per map partial cross the wire).
  */
object Ranking {

  private val TopK = 5
  private val NumQueries = 10

  /** Per-query harmonic-discount nDCG@k of a ranked list against a binary
    * relevant set. `ranked`: (query_id, rank, neighbor_id) with rank
    * 1-based; `relevant`: (query_id, neighbor_id) — the FULL relevant set
    * (the ideal ranking is computed from its per-query size, capped at k).
    *
    * dcg_micro  = Σ_{hits} 1000000 div (rank+1)
    * idcg_micro = Σ_{i=1..min(k, |relevant|)} 1000000 div (i+1)
    * ndcg_micro = dcg·1000000 div idcg (0 when the query has no
    * relevant documents at all — reported, not dropped, so a dead query
    * is visible in the acceptance run).
    */
  def ndcgAtK(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "ndcgAtK needs k >= 1")
    val rel = relevant.select(col("query_id"), col("neighbor_id"), lit(1L).as("rel"))
    val nRel = relevant.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel_total"))
    ranked.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("rel"), lit(0L))).as("n_rel_topk"),
        sum(when(col("rel").isNotNull, expr("1000000L div (rank + 1)"))
          .otherwise(lit(0L))).as("dcg_micro"))
      .join(nRel, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel_topk"),
        coalesce(col("n_rel_total"), lit(0L)).as("n_rel_total"),
        col("dcg_micro"),
        least(lit(k.toLong), coalesce(col("n_rel_total"), lit(0L))).as("m"))
      // sequence(1, 0) in Spark DESCENDS instead of yielding empty, so the
      // m = 0 case must short-circuit before the fold.
      .withColumn("idcg_micro", when(col("m") >= 1,
          expr("aggregate(sequence(1L, m), 0L, (acc, i) -> acc + 1000000L div (i + 1L))"))
        .otherwise(lit(0L)))
      .select(col("query_id"), col("n_rel_topk"), col("n_rel_total"),
        col("dcg_micro"), col("idcg_micro"),
        when(col("idcg_micro") > 0,
            expr("(dcg_micro * 1000000L) div idcg_micro"))
          .otherwise(lit(0L)).as("ndcg_micro"))
  }

  /** Per-query reciprocal rank: the 1-based rank of the FIRST relevant
    * result within the top k (0 = none found) and rr_micro = 1000000 div
    * that rank. Mean over queries = MRR ([[mrr]]).
    */
  def reciprocalRank(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "reciprocalRank needs k >= 1")
    val rel = relevant.select(col("query_id"), col("neighbor_id"), lit(1L).as("rel"))
    ranked.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(min(when(col("rel").isNotNull, col("rank"))), lit(0))
        .cast("long").as("first_rank"))
      .select(col("query_id"), col("first_rank"),
        when(col("first_rank") > 0, expr("1000000L div first_rank"))
          .otherwise(lit(0L)).as("rr_micro"))
  }

  /** Per-query average precision at k — the order-sensitive retrieval
    * metric nDCG's discount family can't replace: AP credits EVERY hit
    * with the precision at its own rank (hits-so-far / rank), so burying
    * one relevant result below k−1 junk rows costs proportionally.
    * ap_micro = (Σ_{hit ranks r} (hits≤r · 1000000 div r)) div
    * min(k, |relevant|), 0 when the query has no relevant documents
    * (reported, not dropped). Mean over queries = MAP. Exact BIGINT
    * algebra end to end — the cumulative-hit window is per-query
    * (partitioned, k rows each), never a global sort.
    *
    * Scale design: same join shape as [[ndcgAtK]] — only k·|Q| ranked
    * rows and a per-query relevant-count aggregate move; the window runs
    * inside each query's k-row group.
    */
  def averagePrecision(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "averagePrecision needs k >= 1")
    val rel = relevant.select(col("query_id"), col("neighbor_id"), lit(1L).as("rel"))
    val nRel = relevant.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rank"))
    ranked.filter(col("rank") <= k)
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", when(col("rel").isNotNull, 1L).otherwise(0L))
      .withColumn("ch", sum(col("hit")).over(w))
      .groupBy(col("query_id"))
      .agg(sum(col("hit")).as("n_rel_topk"),
        sum(when(col("hit") === 1, expr("(ch * 1000000L) div rank"))
          .otherwise(lit(0L))).as("ap_sum"))
      .join(nRel, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel_topk"),
        coalesce(col("n_rel_total"), lit(0L)).as("n_rel_total"),
        least(lit(k.toLong), coalesce(col("n_rel_total"), lit(0L))).as("m"),
        col("ap_sum"))
      .select(col("query_id"), col("n_rel_topk"), col("n_rel_total"),
        when(col("m") > 0, expr("ap_sum div m")).otherwise(lit(0L))
          .as("ap_micro"))
  }

  /** Mean reciprocal rank over all queries (single row, integer-floored
    * micro-units: Σ rr_micro div |Q|).
    */
  def mrr(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame =
    reciprocalRank(ranked, relevant, k)
      .agg(count(lit(1)).as("n_queries"), sum(col("rr_micro")).as("rr_sum"))
      .select(col("n_queries"),
        expr("rr_sum div n_queries").as("mrr_micro"))

  /** Approximate top-k through int8 quantization + exact integer dot
    * product (the asymmetric-distance-style scale path: 8-bit codes, 8x
    * smaller corpus residency, BIGINT scoring that is bit-stable under any
    * partitioning). `queryPred` selects the query rows out of the corpus.
    */
  def quantizedTopK(corpus: DataFrame, queryPred: Column, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q8 = corpus.select(col(idCol), quantize8(col(vecCol)).as("q8"))
    val queries = q8.filter(queryPred)
      .select(col(idCol).as("query_id"), col("q8").as("qq"))
    val scored = broadcast(queries)
      .join(q8.select(col(idCol).as("neighbor_id"), col("q8").as("nq")),
        col("query_id") =!= col("neighbor_id"))
      // an int8 dot at dim d is bounded by d·127² « 2^53: the cast to
      // double (rankTopK's score domain) is exact, so ranking parity with
      // the oracle's integer sort is bitwise.
      .select(col("query_id"), col("neighbor_id"),
        doti(col("qq"), col("nq")).cast("double").as("c"))
    Similarity.rankTopK(scored, k)
  }

  /** Shared oracle fragment: exact cosine ranking of the first
    * [[NumQueries]] vectors over the corpus, top [[TopK]] (the q136 form).
    */
  private val exactRankSql =
    s"""sims_e AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ex AS (
         SELECT query_id, neighbor_id, rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY c DESC, neighbor_id) AS rank
           FROM sims_e) t WHERE rank <= $TopK),
       rel AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
         FROM embeddings q JOIN embeddings n
           ON q.label = n.label AND q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries)"""

  // ---- q169: harmonic-discount nDCG@k of exact cosine retrieval ---------------
  // The exact cosine ranking scored against label agreement: "retrieving
  // by embedding similarity — how well does it reproduce the labeling?"
  // Every step integer micro-algebra; the oracle mirrors it exactly.
  private def q169(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ranked = Similarity.bruteTopK(
      e.filter(col("vec_id") < NumQueries), e, "vec_id", "embedding", TopK)
    val rel = broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("label").as("ql")))
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        col("ql") === col("nl") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    ndcgAtK(ranked, rel, TopK).orderBy(col("query_id"))
  }
  private val q169Sql =
    s"""WITH $exactRankSql,
       nrel AS (
         SELECT query_id, count(*)::BIGINT AS n_rel_total FROM rel GROUP BY 1),
       perq AS (
         SELECT e.query_id,
           sum(CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_rel_topk,
           sum(CASE WHEN r.neighbor_id IS NOT NULL
             THEN 1000000 // (e.rank + 1) ELSE 0 END)::BIGINT AS dcg_micro
         FROM ex e LEFT JOIN rel r
           ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
         GROUP BY 1),
       wm AS (
         SELECT p.query_id, p.n_rel_topk,
           coalesce(n.n_rel_total, 0)::BIGINT AS n_rel_total, p.dcg_micro,
           least($TopK, coalesce(n.n_rel_total, 0))::BIGINT AS m
         FROM perq p LEFT JOIN nrel n ON p.query_id = n.query_id),
       wi AS (
         SELECT *, coalesce(list_sum(list_transform(range(1, m + 1),
             i -> 1000000 // (i + 1))), 0)::BIGINT AS idcg_micro
         FROM wm)
       SELECT query_id, n_rel_topk, n_rel_total, dcg_micro, idcg_micro,
         CASE WHEN idcg_micro > 0
           THEN (dcg_micro * 1000000) // idcg_micro ELSE 0 END::BIGINT
           AS ndcg_micro
       FROM wi ORDER BY query_id"""

  // ---- q170: reciprocal rank of the first label match -------------------------
  private def q170(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ranked = Similarity.bruteTopK(
      e.filter(col("vec_id") < NumQueries), e, "vec_id", "embedding", TopK)
    val rel = broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("label").as("ql")))
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        col("ql") === col("nl") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    reciprocalRank(ranked, rel, TopK).orderBy(col("query_id"))
  }
  private val q170Sql =
    s"""WITH $exactRankSql
       SELECT e.query_id,
         coalesce(min(CASE WHEN r.neighbor_id IS NOT NULL
           THEN e.rank END), 0)::BIGINT AS first_rank,
         CASE WHEN min(CASE WHEN r.neighbor_id IS NOT NULL
             THEN e.rank END) IS NOT NULL
           THEN 1000000 // min(CASE WHEN r.neighbor_id IS NOT NULL
             THEN e.rank END) ELSE 0 END::BIGINT AS rr_micro
       FROM ex e LEFT JOIN rel r
         ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
       GROUP BY e.query_id ORDER BY e.query_id"""

  // ---- q264: average precision of exact cosine retrieval ----------------------
  // The same exact-ranking-vs-label-agreement setup as q169/q170, scored
  // by AP@k — the third leg of the retrieval-quality tripod (position-
  // weighted coverage, first-hit latency, per-hit precision).
  private def q264(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ranked = Similarity.bruteTopK(
      e.filter(col("vec_id") < NumQueries), e, "vec_id", "embedding", TopK)
    val rel = broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("label").as("ql")))
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        col("ql") === col("nl") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    averagePrecision(ranked, rel, TopK).orderBy(col("query_id"))
  }
  private val q264Sql =
    s"""WITH $exactRankSql,
       nrel AS (
         SELECT query_id, count(*)::BIGINT AS n_rel_total FROM rel GROUP BY 1),
       j AS (
         SELECT e.query_id, e.rank,
           CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM ex e LEFT JOIN rel r
           ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id),
       cum AS (
         SELECT query_id, rank, hit,
           sum(hit) OVER (PARTITION BY query_id ORDER BY rank) AS ch
         FROM j),
       perq AS (
         SELECT query_id, sum(hit)::BIGINT AS n_rel_topk,
           sum(CASE WHEN hit = 1
             THEN (ch * 1000000) // rank ELSE 0 END)::BIGINT AS ap_sum
         FROM cum GROUP BY 1)
       SELECT p.query_id, p.n_rel_topk,
         coalesce(n.n_rel_total, 0)::BIGINT AS n_rel_total,
         CASE WHEN least($TopK, coalesce(n.n_rel_total, 0)) > 0
           THEN ap_sum // least($TopK, coalesce(n.n_rel_total, 0))
           ELSE 0 END::BIGINT AS ap_micro
       FROM perq p LEFT JOIN nrel n ON p.query_id = n.query_id
       ORDER BY p.query_id"""

  // ---- q174: recall@k of the int8-quantized ranking vs exact cosine ----------
  // The quantization acceptance report: how much of the exact top-k
  // survives 8-bit codes + integer dot scoring (same quantizer as q43,
  // same recall join as q136).
  private def q174(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.recallReport(
        Similarity.bruteTopK(e.filter(col("vec_id") < NumQueries), e,
          "vec_id", "embedding", TopK),
        quantizedTopK(e, col("vec_id") < NumQueries,
          "vec_id", "embedding", TopK))
      .orderBy(col("query_id"))
  }
  private val q174Sql =
    s"""WITH $exactRankSql,
       q8 AS (
         SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       sims_q AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(a.q) + 1),
             k -> a.q[k] * b.q[k]))::BIGINT AS dot
         FROM q8 a JOIN q8 b ON a.vec_id != b.vec_id
         WHERE a.vec_id < $NumQueries),
       aq AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dot DESC, neighbor_id) AS rank
           FROM sims_q) t WHERE rank <= $TopK)
       SELECT e.query_id, count(*)::BIGINT AS n_exact,
         count(a.neighbor_id)::BIGINT AS n_hit,
         round(count(a.neighbor_id)::DOUBLE / count(*), 6) AS recall
       FROM ex e LEFT JOIN aq a
         ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       GROUP BY e.query_id ORDER BY e.query_id"""

  // ---- q300: the one retrieval acceptance table -------------------------------
  // nDCG@k + AP@k + RR per query for the SAME exact ranking and the
  // SAME relevance set, long-form — the single table an index swap is
  // accepted or rejected on, composed from the independently
  // oracle-verified metric operators so the report cannot drift from
  // its parts.
  private def q300(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val ranked = Similarity.bruteTopK(
      e.filter(col("vec_id") < NumQueries), e, "vec_id", "embedding", TopK)
    val rel = broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("label").as("ql")))
      .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        col("ql") === col("nl") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    ndcgAtK(ranked, rel, TopK)
      .select(lit("ndcg").as("metric"), col("query_id"),
        col("ndcg_micro").as("value_micro"))
      .unionAll(averagePrecision(ranked, rel, TopK)
        .select(lit("ap").as("metric"), col("query_id"),
          col("ap_micro").as("value_micro")))
      .unionAll(reciprocalRank(ranked, rel, TopK)
        .select(lit("rr").as("metric"), col("query_id"),
          col("rr_micro").as("value_micro")))
      .orderBy(col("metric"), col("query_id"))
  }
  private val q300Sql =
    s"""WITH $exactRankSql,
       nrel AS (
         SELECT query_id, count(*)::BIGINT AS n_rel_total FROM rel GROUP BY 1),
       j AS (
         SELECT e.query_id, e.rank,
           CASE WHEN r.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM ex e LEFT JOIN rel r
           ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id),
       cum AS (
         SELECT query_id, rank, hit,
           sum(hit) OVER (PARTITION BY query_id ORDER BY rank) AS ch
         FROM j),
       perq AS (
         SELECT query_id,
           sum(CASE WHEN hit = 1
             THEN 1000000 // (rank + 1) ELSE 0 END)::BIGINT AS dcg_micro,
           sum(CASE WHEN hit = 1
             THEN (ch * 1000000) // rank ELSE 0 END)::BIGINT AS ap_sum,
           min(CASE WHEN hit = 1 THEN rank END) AS first_rank
         FROM cum GROUP BY 1),
       base AS (
         SELECT p.query_id, p.dcg_micro, p.ap_sum, p.first_rank,
           coalesce(n.n_rel_total, 0)::BIGINT AS nrt,
           least($TopK, coalesce(n.n_rel_total, 0))::BIGINT AS m
         FROM perq p LEFT JOIN nrel n ON p.query_id = n.query_id),
       wi AS (
         SELECT *, coalesce(list_sum(list_transform(range(1, m + 1),
             i -> 1000000 // (i + 1))), 0)::BIGINT AS idcg_micro
         FROM base),
       metrics AS (
         SELECT 'ndcg' AS metric, query_id,
           CASE WHEN idcg_micro > 0
             THEN (dcg_micro * 1000000) // idcg_micro
             ELSE 0 END::BIGINT AS value_micro
         FROM wi
         UNION ALL
         SELECT 'ap', query_id,
           CASE WHEN m > 0 THEN ap_sum // m ELSE 0 END::BIGINT
         FROM wi
         UNION ALL
         SELECT 'rr', query_id,
           CASE WHEN first_rank IS NOT NULL
             THEN 1000000 // first_rank ELSE 0 END::BIGINT
         FROM wi)
       SELECT metric, query_id, value_micro FROM metrics
       ORDER BY metric, query_id"""

  /** Rank-1 ALS matrix factorization — the alternating-least-squares
    * kernel of collaborative filtering, at the rank where each solve is
    * a closed-form ratio (the power iteration of recommenders; higher
    * ranks orchestrate the same alternating normal-equation solves, one
    * per latent dimension). Iterates
    *   u_i = Σ_j r_ij·v_j / Σ_j v_j²,   v_j = Σ_i r_ij·u_i / Σ_i u_i²
    * over observed cells only, converging to the dominant singular pair
    * of the interaction matrix.
    *
    * Determinism: v is a driver map in exact micros (bounded-item
    * contract, the [[Supervised.bradleyTerry]] discipline); u stays a
    * DISTRIBUTED relation (users are corpus-scale) rebuilt per round
    * from the broadcast v, so each full iteration is two broadcast-join
    * aggregations over the once-collapsed (i, j, r) cell table. Every
    * update is a floor division whose numerator/denominator widen to
    * DECIMAL(38,0) before summing (Σ r·u over 10^9 users passes 2^63);
    * no float ever enters, so the oracle replays bit-identically.
    *
    * Output: every item's factor plus the topUsers strongest user rows
    * (kind, entity, factor_micro, n_obs, sum_r), factors in micros.
    */
  def alsRank1(ratings: DataFrame, userCol: Column, itemCol: Column,
      valueCol: Column, iters: Int, topUsers: Int): DataFrame = {
    require(iters >= 1 && topUsers >= 1, "need iters >= 1, topUsers >= 1")
    val s = ratings.sparkSession
    import s.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val r = ratings.select(userCol.cast("string").as("i"),
        itemCol.cast("string").as("j"), valueCol.cast("long").as("r"))
      .groupBy("i", "j").agg(sum("r").as("r"))
      .persist()
    try {
      val items0 = r.select(col("j")).distinct().orderBy("j")
        .as[String].collect()
      require(items0.nonEmpty, "alsRank1 needs ratings")
      require(items0.length <= 100000,
        "alsRank1 holds O(items) driver state — bounded item domain")
      // Factors live in micros while r stays raw, so the closed-form
      // ratio rescales by micro² (numerator r·v_micro vs denominator
      // v_micro²) — hence the 1e12 multiplier before the floor division.
      val sc = lit(1000000000000L)
      var v: Seq[(String, Long)] = items0.map(_ -> 1000000L).toSeq
      var u: DataFrame = null
      for (_ <- 1 to iters) {
        val vDf = broadcast(s.createDataset(v).toDF("j", "v"))
        u = r.join(vDf, Seq("j"))
          .groupBy("i")
          // Widen ONE operand before each product (the oracle's
          // ::HUGEINT placement) — a LONG r·v_micro wraps at r ~ 1e13.
          .agg(floorDiv(dec(sum(dec(col("r")) * col("v"))) * sc,
            dec(sum(dec(col("v")) * col("v")))).as("u"))
        v = r.join(u, Seq("i"))
          .groupBy("j")
          .agg(floorDiv(dec(sum(dec(col("r")) * col("u"))) * sc,
            dec(sum(dec(col("u")) * col("u")))).as("v"))
          .as[(String, Long)].collect().sortBy(_._1).toSeq
      }
      val stats = r.groupBy("i").agg(count(lit(1)).as("n_obs"),
        sum("r").as("sum_r"))
      val users = u.join(stats, Seq("i"))
        .select(lit("user").as("kind"), col("i").as("entity"),
          col("u").as("factor_micro"), col("n_obs"), col("sum_r"))
        .orderBy(col("factor_micro").desc, col("entity"))
        .limit(topUsers)
      val jstats = r.groupBy("j").agg(count(lit(1)).as("n_obs"),
        sum("r").as("sum_r"))
      val itemRows = broadcast(s.createDataset(v).toDF("j", "v"))
        .join(jstats, Seq("j"))
        .select(lit("item").as("kind"), col("j").as("entity"),
          col("v").as("factor_micro"), col("n_obs"), col("sum_r"))
      itemRows.unionAll(users)
        .orderBy(col("kind"), col("factor_micro").desc, col("entity"))
    } finally r.unpersist()
  }

  /** Unrolled oracle for [[alsRank1]] — one (u, v) CTE pair per
    * iteration over the same cell collapse, entity-table-wise.
    */
  private def alsRank1Sql(ratingsSql: String, iters: Int,
      topUsers: Int): String = {
    // HUGEINT keeps the quotient exact — DuckDB's DECIMAL `//` detours
    // through doubles past 2^53 (Spark's Decimal quotient is exact).
    def upd(num: String, den: String) =
      fd(s"(sum(($num)::HUGEINT))*1000000000000::HUGEINT",
        s"sum(($den)::HUGEINT)")
    val levels = scala.collection.mutable.ArrayBuffer(
      s"r AS MATERIALIZED (SELECT i, j, sum(r)::BIGINT AS r FROM" +
        s" ($ratingsSql) GROUP BY 1, 2)",
      "v0 AS (SELECT DISTINCT j, 1000000::BIGINT AS v FROM r)")
    for (t <- 1 to iters) {
      levels += s"""u$t AS MATERIALIZED (
        SELECT r.i, ${upd("r.r*v.v", "v.v*v.v")}::BIGINT AS u
        FROM r JOIN v${t - 1} v ON v.j = r.j GROUP BY r.i)"""
      levels += s"""v$t AS MATERIALIZED (
        SELECT r.j, ${upd("r.r*u.u", "u.u*u.u")}::BIGINT AS v
        FROM r JOIN u$t u ON u.i = r.i GROUP BY r.j)"""
    }
    s"""WITH ${levels.mkString(",\n")},
      istat AS (SELECT i, count(*)::BIGINT AS n_obs, sum(r)::BIGINT AS
        sum_r FROM r GROUP BY 1),
      jstat AS (SELECT j, count(*)::BIGINT AS n_obs, sum(r)::BIGINT AS
        sum_r FROM r GROUP BY 1),
      topu AS (
        SELECT 'user' AS kind, u.i AS entity, u.u AS factor_micro,
          s.n_obs, s.sum_r
        FROM u$iters u JOIN istat s ON s.i = u.i
        ORDER BY factor_micro DESC, entity LIMIT $topUsers)
      SELECT 'item' AS kind, v.j AS entity, v.v AS factor_micro,
        s.n_obs, s.sum_r
      FROM v$iters v JOIN jstat s ON s.j = v.j
      UNION ALL SELECT * FROM topu
      ORDER BY kind, factor_micro DESC, entity"""
  }

  // ---- q405: one latent taste axis over user x event-type counts --------------
  // The interaction matrix is the events collapse; event types are the
  // bounded item side, users the distributed side.
  private def q405(s: SparkSession, d: String): DataFrame =
    alsRank1(Tables.events(s, d), col("user_id"), col("event_type"),
      lit(1L), iters = 4, topUsers = 10)
  private val q405Sql = alsRank1Sql(
    "SELECT user_id::VARCHAR AS i, event_type AS j, 1::BIGINT AS r" +
      " FROM events",
    iters = 4, topUsers = 10)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q405_als_rank1", q405, Some(q405Sql)),
    QueryDef("q169_ndcg", q169, Some(q169Sql)),
    QueryDef("q170_reciprocal_rank", q170, Some(q170Sql)),
    QueryDef("q264_average_precision", q264, Some(q264Sql)),
    QueryDef("q300_retrieval_report", q300, Some(q300Sql)),
    QueryDef("q174_quantized_recall", q174, Some(q174Sql)))
}
