package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim.ckptNoStats
import graft.functions.TextFunctions.{cosine, doti, quantize8}

/** Vector similarity search over embedding columns (SURVEY.md §2.6).
  * Parameterized library functions plus fixture-bound oracle queries.
  *
  * `bruteTopK` is the exact baseline: a broadcast of the (small) query set
  * against every vector, ranked per query — one pass over the corpus, no
  * corpus self-join, the exact scatter-gather top-k at any corpus size.
  *
  * `ivfTopK` is the scale path: IVF (inverted-file) bucketing. Vectors are
  * assigned to their nearest seed centroid once (a broadcast join against
  * K seeds), and each query probes only its own centroid's bucket. The
  * corpus-side work drops from O(|Q|·N) to O(|Q|·N/K); the assignment is a
  * deterministic argmax, so the DuckDB oracle reproduces it exactly.
  *
  * Cosine is the native codegen'd expression (graft_cosine) — bitwise equal
  * to the oracle's double left-fold.
  */
object Similarity {

  private val TopK = 5
  private val NumQueries = 10
  /** IVF: seed centroids are the first NumSeeds vectors (deterministic). */
  private val NumSeeds = 16

  /** One scored (query, candidate) pair awaiting ranking. */
  final case class Scored(query_id: Long, neighbor_id: Long, c: Double)

  /** (c desc, neighbor_id asc) — identical tie-break to the window
    * row_number formulation and the DuckDB oracle, INCLUDING NaN: both
    * engines' descending sorts rank NaN above every real score, and
    * `java.lang.Double.compare` is exactly that total order. (The negated
    * tuple-key form `by(s => (-s.c, ...))` would rank NaN last instead —
    * a zero-norm embedding would then return different top-k rows than
    * the window form.)
    */
  private val scoredOrd: Ordering[Scored] = new Ordering[Scored] {
    override def compare(a: Scored, b: Scored): Int = {
      val c = java.lang.Double.compare(b.c, a.c) // desc, NaN greatest
      if (c != 0) c else java.lang.Long.compare(a.neighbor_id, b.neighbor_id)
    }
  }

  /** Heap-ranked top-k per query over scored (query_id, neighbor_id, c)
    * rows — the ranking stage every similarity variant shares.
    *
    * Scale rationale: a window `row_number() over (partition by query_id)`
    * shuffles ALL |Q|·N scored rows into |Q| partitions — with 10 queries
    * and a 100-TB corpus that is the whole scored relation funneled into 10
    * tasks (skew by construction). The bounded-heap typed aggregator
    * ([[TypedAggs.BoundedTopK]]) keeps k rows per query IN EACH MAP
    * PARTIAL, so only k·partitions rows per query ever reach the exchange,
    * and the final merge is k-sized list merges. Output is identical to the
    * window form (same ordering + tie-break, NaN ranked first like both
    * engines' desc sorts), which is the oracle. Null scores (cosine over a
    * null embedding) are dropped as "no similarity defined" — the one
    * deliberate divergence from a window, which would rank them below all
    * candidates and could surface them when a query has < k scored rows.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val top = new TypedAggs.BoundedTopK[Scored](k, scoredOrd).toColumn
    scored.select(col("query_id"), col("neighbor_id"), col("c"))
      .filter(col("c").isNotNull)
      .as[Scored]
      .groupByKey(_.query_id)
      .agg(top.name("top"))
      .flatMap { case (_, rows) =>
        rows.zipWithIndex.map { case (r, i) => (r, i + 1) } }
      .select(col("_1.query_id").as("query_id"),
        col("_2").cast("int").as("rank"),
        col("_1.neighbor_id").as("neighbor_id"),
        // + 0.0 canonicalizes IEEE -0.0 (a tiny-negative cosine rounds to
        // -0.0 on one engine, +0.0 on the other — value-equal but
        // hash-different). Oracle SQL carries the same `+ 0.0`.
        (round(col("_1.c"), 6) + lit(0.0)).as("cos_sim"))
  }

  /** Exact top-k neighbors of each query vector over the corpus. */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  /** Binary-quantization retrieval: 1-bit sign packing → Hamming
    * prefilter → exact cosine rerank of the fetchN survivors — the
    * modern BQ pattern (Hamming on packed words is ~2 ops/candidate vs
    * a d-wide float dot, and sign-bit agreement tracks cosine for
    * roughly-centered embeddings). EXACT when fetchN covers the corpus
    * (spec-pinned ≡ [[bruteTopK]], the q350/q366 acceptance
    * discipline); at scale fetchN is the recall lever and the packed
    * words ride a fixed-width column 32× smaller than the vectors.
    *
    * Packing is pure integer (bit j set iff e[j] > 0, 32 bits per
    * BIGINT word — two words for 64-dim, no sign-bit hazards);
    * Hamming = Σ bit_count(xor) per word; candidate ranking and the
    * rerank both use the bounded-heap [[rankTopK]] (never a window
    * sort). The rerank joins candidates back to the raw vectors —
    * id-keyed equi joins over |Q|·fetchN rows.
    */
  def binaryQuantTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dims: Int, fetchN: Int, k: Int): DataFrame = {
    require(dims >= 32 && dims % 32 == 0,
      "binaryQuantTopK packs whole 32-bit words")
    require(fetchN >= k && k >= 1, "need fetchN >= k >= 1")
    val words = dims / 32
    def pack(df: DataFrame, idAs: String): DataFrame = {
      val wordCols = (0 until words).map { w =>
        val from = w * 32 + 1
        val until = w * 32 + 32
        expr(s"aggregate(sequence($from, $until), 0L, (acc, j) -> acc + " +
          s"(CASE WHEN element_at(e, j) > 0 THEN shiftleft(1L, j - $from) " +
          "ELSE 0L END))").as(s"${idAs}_w$w")
      }
      df.select(col(idCol).as(idAs), col(vecCol).as("e"))
        .select(col(idAs) +: wordCols: _*)
    }
    val q = pack(queries, "query_id")
    val c = pack(corpus, "neighbor_id")
    val hd = (0 until words).map(w =>
        bit_count(col(s"query_id_w$w").bitwiseXOR(col(s"neighbor_id_w$w"))))
      .reduce(_ + _)
    val ham = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-hd).cast("double").as("c"))
    val cand = rankTopK(ham, fetchN).select("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"))
    val scored = cand.join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  /** IVF recall audit with a [[kmeansCentroids]]-TRAINED codebook — the
    * integration that closes q381's "quality path" claim: train Lloyd
    * centroids, bucket the corpus by exact-integer nearest-centroid,
    * probe each query's nprobe nearest buckets, exact-cosine rerank the
    * candidates, and report per query how many of the true (brute)
    * top-k the probed buckets recovered plus how many candidates were
    * scanned — the recall/cost trade in one row per query.
    *
    * Scale: the bucket join is EQUI on the centroid id (the whole point
    * of IVF); candidates per query are |corpus|·nprobe/k in expectation;
    * everything else is metadata-sized. The brute pass exists HERE to
    * measure recall — production runs only the probe side.
    */
  def ivfRecallAudit(vectors: DataFrame, idCol: String, vecCol: String,
      numQueries: Int, k: Int, iters: Int, nprobe: Int,
      topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= k && topK >= 1,
      "need 1 <= nprobe <= k and topK >= 1")
    val q8df = vectors.select(col(idCol).as("vid"),
      quantize8(col(vecCol)).as("q")).persist()
    try {
      val cents = kmeansCentroids(q8df, k, iters)
      val corpus8 = q8df.filter(col("vid") >= numQueries)
      val queries8 = q8df.filter(col("vid") < numQueries)
      val asg = corpus8.select(col("vid").as("cid"),
        kmeansAssignExpr(cents).getField("cl").as("cl"))
      // per query: nprobe nearest centroids (k structs sorted in-row)
      val ranked = array_sort(array(cents.zipWithIndex.map { case (c, j) =>
        val d2 = aggregate(
          zip_with(col("q"), array(c.map(lit): _*), (a, b) => {
            val t = a * lit(1000000L) - b; t * t
          }), lit(0L), (acc, x) => acc + x)
        struct(d2.as("d2"), lit(j.toLong).as("cl"))
      }: _*))
      val probes = queries8.select(col("vid").as("qid"),
          explode(slice(ranked, 1, nprobe)).as("p"))
        .select(col("qid"), col("p.cl").as("cl"))
      val cand = probes.join(asg, Seq("cl")).select(col("qid"), col("cid"))
      val nCand = cand.groupBy("qid").agg(count(lit(1)).as("n_candidates"))
      val qv = vectors.select(col(idCol).as("qid"), col(vecCol).as("qe"))
        .filter(col("qid") < numQueries)
      val cv = vectors.select(col(idCol).as("cid"), col(vecCol).as("ce"))
      val ivf = rankTopK(cand
          .join(broadcast(qv), Seq("qid")).join(cv, Seq("cid"))
          .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
            cosine(col("qe"), col("ce")).as("c")), topK)
        .select(col("query_id"), col("neighbor_id"))
      val brute = bruteTopK(
          vectors.filter(col(idCol) < numQueries),
          vectors.filter(col(idCol) >= numQueries), idCol, vecCol, topK)
        .select(col("query_id"), col("neighbor_id"))
      val hits = ivf.join(brute, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      nCand.select(col("qid").as("query_id"), col("n_candidates"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_candidates"),
          coalesce(col("hits"), lit(0L)).as("hits"))
        .orderBy("query_id")
    } finally q8df.unpersist()
  }

  // ---- q399: does the trained codebook find the true neighbors? --------------
  private def q399(s: SparkSession, d: String): DataFrame =
    ivfRecallAudit(Tables.embeddings(s, d), "vec_id", "embedding",
      numQueries = 5, k = 8, iters = 2, nprobe = 2, topK = 5)
  private val q399Sql = {
    val (levels0, cFin) = kmeansCtes(k = 8, iters = 2, d = 64)
    val levels = scala.collection.mutable.ArrayBuffer(levels0: _*)
    levels += s"""corp8 AS (SELECT * FROM q8 WHERE vid >= 5)"""
    levels += kmAssignLevel("asg", "corp8", cFin, 64)
      .replace("SELECT vid, q, cl, d2 FROM", "SELECT vid AS cid, cl FROM")
    levels += s"""probes AS MATERIALIZED (
      SELECT vid AS qid, cl FROM (
        SELECT v.vid, c.cl,
          row_number() OVER (PARTITION BY v.vid
            ORDER BY ${kmD2("v", "c", 64)}, c.cl) AS rk
        FROM q8 v, $cFin c WHERE v.vid < 5) WHERE rk <= 2)"""
    levels += """cand AS MATERIALIZED (
      SELECT p.qid, a.cid FROM probes p JOIN asg a ON a.cl = p.cl)"""
    levels += """cos AS (
      SELECT cand.qid AS query_id, cand.cid AS neighbor_id,
        list_sum(list_transform(range(1, 65),
          j -> q.embedding[j]::DOUBLE * c.embedding[j]::DOUBLE))
        / (sqrt(list_sum(list_transform(q.embedding,
            x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform(c.embedding,
            x -> x::DOUBLE * x::DOUBLE)))) AS c
      FROM cand JOIN embeddings q ON q.vec_id = cand.qid
        JOIN embeddings c ON c.vec_id = cand.cid)""".stripMargin
    levels += """ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY c DESC, neighbor_id) AS rk FROM cos) WHERE rk <= 5)"""
    levels += """brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id ORDER BY
            list_sum(list_transform(range(1, 65),
              j -> q.embedding[j]::DOUBLE * n.embedding[j]::DOUBLE))
            / (sqrt(list_sum(list_transform(q.embedding,
                x -> x::DOUBLE * x::DOUBLE)))
             * sqrt(list_sum(list_transform(n.embedding,
                x -> x::DOUBLE * x::DOUBLE)))) DESC, n.vec_id) AS rk
        FROM embeddings q JOIN embeddings n ON n.vec_id >= 5
        WHERE q.vec_id < 5) WHERE rk <= 5)"""
    levels += """nc AS (SELECT qid AS query_id, count(*)::BIGINT
      AS n_candidates FROM cand GROUP BY qid)"""
    levels += """ht AS (
      SELECT i.query_id, count(*)::BIGINT AS hits
      FROM ivf i JOIN brute b ON b.query_id = i.query_id
        AND b.neighbor_id = i.neighbor_id
      GROUP BY i.query_id)"""
    s"""WITH ${levels.mkString(",\n")}
      SELECT nc.query_id, nc.n_candidates, coalesce(ht.hits, 0) AS hits
      FROM nc LEFT JOIN ht ON ht.query_id = nc.query_id
      ORDER BY nc.query_id"""
  }

  // ---- q396: sign-bit Hamming prefilter + exact rerank -----------------------
  private def q396(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    binaryQuantTopK(e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
        "vec_id", "embedding", dims = 64, fetchN = 50, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q396Sql =
    """WITH packed AS (
        SELECT vec_id, embedding,
          list_sum(list_transform(range(1, 33), j ->
            CASE WHEN embedding[j] > 0 THEN (1::BIGINT << (j-1))
              ELSE 0 END))::BIGINT AS w0,
          list_sum(list_transform(range(33, 65), j ->
            CASE WHEN embedding[j] > 0 THEN (1::BIGINT << (j-33))
              ELSE 0 END))::BIGINT AS w1
        FROM embeddings),
      ham AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
          bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hd,
          q.embedding AS qe, c.embedding AS ce
        FROM packed q JOIN packed c ON q.vec_id < 5 AND c.vec_id >= 5),
      cand AS (
        SELECT qid, cid, qe, ce FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY hd, cid) AS rk
          FROM ham) WHERE rk <= 50),
      rer AS (
        SELECT qid AS query_id, cid AS neighbor_id,
          list_sum(list_transform(range(1, 65),
            j -> qe[j]::DOUBLE * ce[j]::DOUBLE))
          / (sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))
           * sqrt(list_sum(list_transform(ce, x -> x::DOUBLE * x::DOUBLE))))
            AS c
        FROM cand)
      SELECT query_id, rk::INT AS rank, neighbor_id,
        round(c, 6) + 0.0 AS cos_sim
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY c DESC, neighbor_id) AS rk
        FROM rer) WHERE rk <= 5
      ORDER BY query_id, rank"""

  /** Assign every vector to its nearest of the given seed centroids
    * (broadcast join + deterministic argmax). Output: (idCol, vecCol,
    * cluster).
    *
    * The argmax is `max(struct(score, -seed_id, …))` — an ordinary hash
    * aggregation with MAP-SIDE PARTIALS, so each partition reduces its
    * N·K scored rows to N before the exchange. (A window `row_number`
    * argmax — the oracle's formulation — sorts and shuffles the whole
    * scored relation.) Tie-break identical: max score, then LOWEST seed
    * id (negated in the struct); the (score, -seed) prefix is unique per
    * group, so the trailing payload fields never influence the ordering.
    */
  def ivfAssign(corpus: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val s = seeds.select(col(idCol).as("seed_id"), col(vecCol).as("se"))
    corpus.join(broadcast(s))
      .select(col(idCol),
        struct(cosine(col(vecCol), col("se")).as("sc"),
          (-col("seed_id")).as("neg_seed"), col(vecCol).as("v")).as("cand"))
      .groupBy(col(idCol))
      .agg(max(col("cand")).as("best"))
      .select(col(idCol), col("best.v").as(vecCol),
        (-col("best.neg_seed")).as("cluster"))
  }

  /** Single-probe IVF approximate top-k: each query searches only its own
    * cluster's bucket.
    */
  def ivfTopK(corpus: DataFrame, seeds: DataFrame, queryIds: DataFrame => DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val assigned = ivfAssign(corpus, seeds, idCol, vecCol)
    val queries = queryIds(assigned)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"), col("cluster"))
    val scored = broadcast(queries).join(
        assigned.select(col(idCol).as("neighbor_id"),
          col(vecCol).as("ne"), col("cluster")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  /** Multi-probe IVF approximate top-k: each query searches its `nprobe`
    * NEAREST clusters instead of only its own — the standard IVF recall
    * lever (single-probe misses any true neighbor assigned to an adjacent
    * cell; probing the next-closest cells recovers most of them at
    * nprobe/K of brute-force cost).
    *
    * Scale shape: the probe list is |Q|·nprobe rows built from a
    * seeds-vs-queries cross of |Q|·K scored rows — both broadcast-tiny —
    * ranked by the same bounded-heap aggregator as the main stage; the
    * corpus-side work is one broadcast-hash probe of the assigned corpus
    * per cluster hit, ranked by heap partials. The corpus is scanned once
    * for assignment and once for probing, never self-joined.
    */
  def ivfTopKProbes(corpus: DataFrame, seeds: DataFrame, queryFilter: Column,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    ivfTopKProbesOver(ivfAssign(corpus, seeds, idCol, vecCol), seeds,
      queryFilter, idCol, vecCol, k, nprobe)

  /** [[ivfTopKProbes]] over a PRE-ASSIGNED relation (idCol, vecCol,
    * cluster) — the query half of the index seam: when the assignment
    * is persisted ([[ivfIndexed]]), repeated query batches skip the
    * corpus-vs-seeds scoring scan entirely and pay only the probe join.
    */
  def ivfTopKProbesOver(assigned: DataFrame, seeds: DataFrame,
      queryFilter: Column, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val queries = assigned.filter(queryFilter)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    val se = seeds.select(col(idCol).as("neighbor_id"), col(vecCol).as("se"))
    val probeScored = broadcast(queries).join(broadcast(se))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("se")).as("c"))
    val probes = rankTopK(probeScored, nprobe)
      .select(col("query_id"), col("neighbor_id").as("cluster"))
      .join(queries, "query_id")
    val scored = broadcast(probes).join(
        assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"),
          col("cluster")),
        Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  /** Product-quantization (PQ) approximate top-k with asymmetric distance
    * computation (ADC) — the memory-side ANN lever, complementing IVF's
    * compute-side bucketing: the corpus is compressed to `numSub` one-byte
    * codes per vector (each subvector replaced by the id of its nearest
    * per-subspace centroid), and queries score candidates by summing
    * per-subspace distances to the CODES' centroids from a per-query
    * lookup table — never touching the original corpus floats again. At
    * 100 TB this is the difference between scanning 256 B/vector and
    * 4 B/vector; composability with IVF (probe buckets, then ADC-score
    * inside them) is the standard billion-scale layout (IVFADC).
    *
    * Codebook: seed vectors' subspace slices (the [[ivfTopK]] seeding
    * discipline — deterministic, oracle-reproducible; k-means refinement
    * would change only the codebook input, not the shape). Assignment is
    * the same max(struct(−d², −cid)) argmin-with-tiebreak as [[ivfAssign]]
    * — hash aggregation with map-side partials, no window sort.
    *
    * Cross-engine determinism: subspace distances go through the codegen'd
    * [[graft.functions.L2SquaredDist]] kernel (left-to-right double fold,
    * bitwise equal to the oracle's list_sum form), and the ADC sum adds
    * the `numSub` LUT entries in FIXED subspace order (d0+d1+…, one join
    * per subspace on both engines) — never a hash-aggregation float sum,
    * whose partial order would be partitioning-dependent.
    *
    * Scale shape: codes are one broadcast(codebook) probe of the corpus
    * (map-side argmin partials); the LUT is |Q|·numSub·k rows, broadcast;
    * scoring joins the 4-byte-code corpus against the LUT and ranks
    * through the bounded heap — k rows per query per map partial cross
    * the wire, and the corpus floats are read exactly once (at encoding).
    */
  /** Subvector slice for the current `sub` column value. */
  private def subSlice(vec: Column, subDim: Int): Column =
    slice(vec, col("sub") * subDim + 1, lit(subDim))

  /** PQ codebook: every seed's subspace slices, (sub, cid, cvec) —
    * numSub·|seeds| rows, broadcast-ready.
    */
  private def pqCodebook(seeds: DataFrame, idCol: String, vecCol: String,
      numSub: Int, subDim: Int): DataFrame = {
    val subs = seeds.sparkSession.range(numSub)
      .select(col("id").cast("int").as("sub"))
    broadcast(
      seeds.select(col(idCol).cast("long").as("cid"), col(vecCol).as("sv"))
        .crossJoin(broadcast(subs))
        .select(col("sub"), col("cid"), subSlice(col("sv"), subDim).as("cvec")))
  }

  /** PQ encoding: one row per vector with its numSub centroid codes as
    * wide columns c0..c(numSub−1) — the compressed corpus the ADC stage
    * scores against. Argmin per (id, sub) via the [[ivfAssign]]
    * max(struct) shape (map-side partials, ties to the lowest cid).
    */
  private def pqCodesWide(corpus: DataFrame, cb: DataFrame, idCol: String,
      vecCol: String, numSub: Int, subDim: Int): DataFrame = {
    import graft.functions.TextFunctions.l2dist
    val codes = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .crossJoin(cb)
      .select(col("id"), col("sub"),
        struct((-l2dist(subSlice(col("v"), subDim), col("cvec"))).as("nd"),
          (-col("cid")).as("nc")).as("cand"))
      .groupBy(col("id"), col("sub"))
      .agg(max(col("cand")).as("best"))
      .select(col("id"), col("sub"), (-col("best.nc")).as("cid"))
    val wideAggs = (0 until numSub).map(si =>
      max(when(col("sub") === si, col("cid"))).as(s"c$si"))
    codes.groupBy(col("id")).agg(wideAggs.head, wideAggs.tail: _*)
  }

  /** ADC ranking of `candidates` (query_id, neighbor_id): look each
    * neighbor's codes up in the per-query LUT — ONE join per subspace so
    * the float additions happen in fixed subspace order on both engines —
    * and rank ascending through the bounded heap.
    */
  private def adcRank(candidates: DataFrame, codesWide: DataFrame,
      lut: DataFrame, k: Int, numSub: Int): DataFrame = {
    var scored = candidates.join(
      codesWide.withColumnRenamed("id", "neighbor_id"), Seq("neighbor_id"))
    for (si <- 0 until numSub) {
      val l = lut.filter(col("sub") === si)
        .select(col("query_id"), col("cid").as(s"c$si"),
          col("d2").as(s"d$si"))
      scored = scored.join(broadcast(l), Seq("query_id", s"c$si"))
    }
    val adc = (0 until numSub).map(si => col(s"d$si")).reduce(_ + _)
    rankTopK(scored.select(col("query_id"), col("neighbor_id"),
        (-adc).as("c")), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (round(-col("cos_sim"), 6) + lit(0.0)).as("adc_dist"))
  }

  def pqTopK(corpus: DataFrame, seeds: DataFrame, queryFilter: Column,
      idCol: String, vecCol: String, k: Int, numSub: Int,
      subDim: Int): DataFrame = {
    import graft.functions.TextFunctions.l2dist
    val cb = pqCodebook(seeds, idCol, vecCol, numSub, subDim)
    // The code table feeds BOTH the candidate spine and the ADC scoring
    // join, and the LUT feeds one broadcast per subspace: materialize
    // each once (the corpus x codebook argmin is the expensive pass —
    // without the checkpoint it re-runs per consumer, and every
    // per-subspace broadcast re-derives the query x codebook distances).
    // Materializing the code table is also exactly what a deployed PQ
    // index IS: the compressed corpus persisted once at encode time.
    val codesWide = pqCodesWide(corpus, cb, idCol, vecCol, numSub, subDim)
      .localCheckpoint() // stats-ok: one-shot PQ code table shared by several consumers
    val queries = corpus.filter(queryFilter)
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"))
    val lut = queries.crossJoin(cb)
      .select(col("query_id"), col("sub"), col("cid"),
        l2dist(subSlice(col("qv"), subDim), col("cvec")).as("d2"))
      .localCheckpoint() // stats-ok: one-shot per-query LUT
    val candidates = codesWide.select(col("id").as("neighbor_id"))
      .crossJoin(broadcast(queries.select(col("query_id"))))
      .filter(col("neighbor_id") =!= col("query_id"))
    adcRank(candidates, codesWide, lut, k, numSub)
  }

  /** IVFADC: the composed billion-scale ANN layout — IVF bucketing cuts
    * the CANDIDATE SET to each query's own cluster (compute-side lever,
    * [[ivfTopK]]), then PQ codes + an ADC lookup table score those
    * candidates without touching corpus floats (memory-side lever,
    * [[pqTopK]]). Corpus float reads: once for cluster assignment, once
    * for encoding — both one-pass broadcast probes; the scoring stage
    * moves only (cluster, code) integers and the per-query LUT.
    */
  def ivfAdcTopK(corpus: DataFrame, seeds: DataFrame, queryFilter: Column,
      idCol: String, vecCol: String, k: Int, numSub: Int,
      subDim: Int): DataFrame = {
    import graft.functions.TextFunctions.l2dist
    val assigned = ivfAssign(corpus, seeds, idCol, vecCol)
    val cb = pqCodebook(seeds, idCol, vecCol, numSub, subDim)
    // Same materialization rationale as [[pqTopK]]: the code table and
    // the per-query LUT each feed several consumers/broadcasts.
    val codesWide = pqCodesWide(corpus, cb, idCol, vecCol, numSub, subDim)
      .localCheckpoint() // stats-ok: one-shot PQ code table shared by several consumers
    val queries = assigned.filter(queryFilter)
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv"),
        col("cluster"))
    val lut = queries.select(col("query_id"), col("qv")).crossJoin(cb)
      .select(col("query_id"), col("sub"), col("cid"),
        l2dist(subSlice(col("qv"), subDim), col("cvec")).as("d2"))
      .localCheckpoint() // stats-ok: one-shot per-query LUT
    val candidates = broadcast(queries.select(col("query_id"), col("cluster")))
      .join(assigned.select(col(idCol).cast("long").as("neighbor_id"),
        col("cluster")), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    adcRank(candidates, codesWide, lut, k, numSub)
  }

  /** Exact top-k by EUCLIDEAN distance — the metric used when embedding
    * magnitudes carry meaning (cosine discards them). Composed entirely
    * from the existing codegen'd kernels:
    * d²(a,b) = |a|² + |b|² − 2·cos(a,b)·|a|·|b| — one cosine and two
    * squared-norm evaluations per pair, no new expression needed. Ranked
    * by the same bounded heap on the NEGATED distance (descending), so a
    * NaN from a zero-norm vector ranks first exactly as in the cosine
    * variants — the oracle must rank by `-d2 DESC` (not `d2 ASC`, which
    * would put NaN last in DuckDB).
    */
  def bruteTopKEuclidean(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    import graft.functions.TextFunctions.l2sq
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"))
    val d2 = l2sq(col("qe")) + l2sq(col("ne")) -
      lit(2d) * cosine(col("qe"), col("ne")) *
        sqrt(l2sq(col("qe")) * l2sq(col("ne")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), (-d2).as("c"))
    rankTopK(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (round(-col("cos_sim"), 6) + lit(0.0)).as("dist_sq"))
  }

  /** Hyperplane-LSH bucket id: bit i = sign of dot(v, seed_i). Vectors in
    * the same bucket agree with all `numPlanes` seed hyperplanes — cosine
    * neighbors collide with high probability. Deterministic (seeds are
    * data vectors), so the oracle reproduces the bucketing exactly.
    */
  def lshBucket(vecCol: String, seeds: Seq[(Int, Column)]): Column =
    seeds.map { case (i, se) =>
      when(cosine(col(vecCol), se) >= 0, 1L << i).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: queries probe only their own
    * sign-bucket. Complements [[ivfTopK]] — hyperplane buckets need no
    * argmax assignment pass, at the cost of less balanced bucket sizes.
    *
    * Recall scales with bucket population (corpus / 2^numPlanes) and the
    * cosine structure of the data: single-probe on near-orthogonal vectors
    * (like the synthetic fixture) retrieves bucket-mates, not true
    * neighbors. Production levers: fewer planes (bigger buckets),
    * multi-probe (flip 1-2 bucket bits), or several independent plane sets
    * unioned — all change only the bucketed-join fan-in, not the shape.
    */
  def lshTopK(corpus: DataFrame, seeds: DataFrame, queryFilter: Column,
      idCol: String, vecCol: String, k: Int, numPlanes: Int): DataFrame = {
    val planes = seeds.limit(numPlanes).collect()
      .zipWithIndex.map { case (r, i) =>
        i -> typedLit(r.getAs[scala.collection.Seq[Float]](vecCol).toArray)
      }.toSeq
    val bucketed = corpus.withColumn("bucket", lshBucket(vecCol, planes))
    val queries = bucketed.filter(queryFilter)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"), col("bucket"))
    val scored = broadcast(queries).join(
        bucketed.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"),
          col("bucket")),
        Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("c"))
    rankTopK(scored, k)
  }

  // ===========================================================================
  // Oracle-bound query exercises
  // ===========================================================================

  /** Per-query recall@k of an approximate top-k against the exact top-k —
    * the acceptance metric every ANN deployment tunes against (raise
    * nprobe / change seeds until recall clears the bar). Both inputs are
    * (query, neighbor, rank) relations from any of the top-k operators.
    *
    * Scale: a left join on (query, neighbor) — k rows per query per
    * side — then a |queries|-sized aggregate. The expensive parts are
    * the rankings themselves; the report is free by comparison.
    */
  def recallReport(exact: DataFrame, approx: DataFrame,
      queryCol: String = "query_id", idCol: String = "neighbor_id"): DataFrame = {
    val hits = approx.select(col(queryCol), col(idCol))
      .withColumn("__hit", lit(1))
    exact.select(col(queryCol), col(idCol))
      .join(hits, Seq(queryCol, idCol), "left")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_exact"), 6))
  }

  /** Matryoshka (prefix-dimension) truncation recall (Kusupati et al.
    * 2022): recall@k of cosine top-k computed over only the FIRST d'
    * dimensions, per candidate d' — the acceptance table for the modern
    * index-shrinking lever where an MRL-trained embedding's prefix IS
    * the small embedding. At 100 TB truncation is a SCAN-side win (an
    * 8-of-64-dim probe reads an eighth of the vector bytes before any
    * distance math), unlike PQ's memory-side compression — the two
    * compose. The full-width row (d' = dim) is the built-in self-check:
    * its ranking is bit-identical to the exact one, so its recall is
    * exactly 10⁶.
    *
    * Output: one row per d' — (d_prime, n_queries, n_exact, n_hit,
    * recall_ppm), all exact integers (recall is a ppm floor division).
    *
    * Scale: one exact ranking plus one truncated ranking per d', each
    * the [[bruteTopK]] bounded-heap shape (swap in [[ivfTopKProbes]]
    * upstream for index scale — the report is fetch-agnostic); the
    * recall join is k rows per query per side.
    */
  def matryoshkaRecall(corpus: DataFrame, idCol: String, vecCol: String,
      queryFilter: Column, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be >= 1")
    val exact = bruteTopK(corpus.filter(queryFilter), corpus, idCol,
        vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false) // stats-ok: one-shot exact reference reused per dim
    dims.map { dp =>
      val trunc = corpus.select(col(idCol),
        slice(col(vecCol), 1, dp).as(vecCol))
      val approx = bruteTopK(trunc.filter(queryFilter), trunc, idCol,
          vecCol, k)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
        .select(lit(dp.toLong).as("d_prime"), col("n_queries"),
          col("n_exact"), col("n_hit"),
          expr("1000000 * n_hit div n_exact").as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  // ---- q377: how few leading dimensions keep the cosine ranking? --------------
  private val MatryoshkaDims = Seq(8, 16, 32, 64)
  private def q377(s: SparkSession, d: String): DataFrame =
    matryoshkaRecall(Tables.embeddings(s, d), "vec_id", "embedding",
        col("vec_id") < NumQueries, TopK, MatryoshkaDims)
      .orderBy(col("d_prime"))
  private val q377Sql = {
    val blocks = MatryoshkaDims.map { dp =>
      s"""SELECT $dp::BIGINT AS d_prime,
           count(DISTINCT e.query_id)::BIGINT AS n_queries,
           count(*)::BIGINT AS n_exact,
           sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_hit
         FROM ex e LEFT JOIN (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 (list_sum(list_transform(range(1, $dp + 1),
                    i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(q.embedding[1:$dp],
                       x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(n.embedding[1:$dp],
                       x -> x::DOUBLE * x::DOUBLE))))) DESC, n.vec_id) AS rk
             FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
             WHERE q.vec_id < $NumQueries) t
           WHERE rk <= $TopK) a
           ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH ex AS (
         SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               (list_sum(list_transform(range(1, len(q.embedding) + 1),
                  i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(q.embedding,
                     x -> x::DOUBLE * x::DOUBLE)))
                 * sqrt(list_sum(list_transform(n.embedding,
                     x -> x::DOUBLE * x::DOUBLE))))) DESC, n.vec_id) AS rk
           FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
           WHERE q.vec_id < $NumQueries) t
         WHERE rk <= $TopK),
       r AS (
       $blocks)
       SELECT d_prime, n_queries, n_exact, n_hit,
         (1000000 * n_hit // n_exact)::BIGINT AS recall_ppm
       FROM r ORDER BY d_prime"""
  }

  /** Kendall tau rank agreement between two rankings of the same items,
    * per group — the ORDER-agreement companion to [[recallReport]]'s set
    * agreement: recall@k says the approximate search returned the right
    * items, tau says it returned them in the right order. The standard
    * acceptance pair for quantized / approximate ranking changes.
    *
    * Cross-engine determinism: concordant/discordant PAIR COUNTS are
    * exact integers and tau = 2(C − D)/(m(m − 1)) is one double
    * division + binRound6; rankings are permutations (row_number), so
    * no pair product is ever zero and C + D = m(m−1)/2. Groups with
    * fewer than two common items have no pairs — tau is null, not an
    * error.
    *
    * Scale design: one (group, item) equi-join of the two rank
    * relations, then a within-group pair self-join — QUADRATIC in the
    * per-group list length by the metric's own definition, which is why
    * this is for ranking LISTS (top-k evaluations, judged result pages),
    * not corpus-scale relations; the group key partitions the pair work,
    * and counts partial-aggregate below the exchange.
    */
  def kendallTau(a: DataFrame, b: DataFrame, groupCol: String,
      itemCol: String, rankCol: String): DataFrame = {
    val ra = a.select(col(groupCol).as("g"), col(itemCol).as("item"),
      col(rankCol).cast("long").as("ra"))
    val rb = b.select(col(groupCol).as("g"), col(itemCol).as("item"),
      col(rankCol).cast("long").as("rb"))
    val j = ra.join(rb, Seq("g", "item"))
    val m = j.groupBy(col("g")).agg(count(lit(1)).as("n_common"))
    val x = j.select(col("g"), col("item").as("ia"), col("ra").as("rax"),
      col("rb").as("rbx"))
    val y = j.select(col("g"), col("item").as("ib"), col("ra").as("ray"),
      col("rb").as("rby"))
    val pairs = x.join(y, Seq("g")).filter(col("ia") < col("ib"))
      .select(col("g"),
        ((col("rax") - col("ray")) * (col("rbx") - col("rby")) > 0)
          .as("conc"))
      .groupBy(col("g"))
      .agg(count(when(col("conc"), 1)).as("n_concordant"),
        count(when(!col("conc"), 1)).as("n_discordant"))
    m.join(pairs, Seq("g"), "left")
      .select(col("g").as(groupCol), col("n_common"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        when(col("n_common") < 2, lit(null).cast("double"))
          .otherwise(floor(
            (lit(2) * (coalesce(col("n_concordant"), lit(0L))
              - coalesce(col("n_discordant"), lit(0L)))).cast("double")
              / (col("n_common") * (col("n_common") - 1))
              * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("tau"))
  }

  // ---- q153: rank agreement under score quantization ---------------------------
  // Per nation: customers ranked by exact account balance vs by the
  // floor-quantized balance — how much order the coarse score preserves.
  private def q153(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(s, d).filter(col("c_custkey") <= 300)
    def ranked(score: Column) = base.select(col("c_nationkey"),
      col("c_custkey"),
      row_number().over(Window.partitionBy(col("c_nationkey"))
        .orderBy(score.desc, col("c_custkey"))).as("rnk"))
    kendallTau(ranked(col("c_acctbal")),
        ranked(floor(col("c_acctbal"))), "c_nationkey", "c_custkey", "rnk")
      .orderBy(col("c_nationkey"))
  }
  private val q153Sql =
    """WITH base AS (
         SELECT c_nationkey, c_custkey, c_acctbal FROM customer
         WHERE c_custkey <= 300),
       ra AS (
         SELECT c_nationkey AS g, c_custkey AS item,
           row_number() OVER (PARTITION BY c_nationkey
             ORDER BY c_acctbal DESC, c_custkey) AS ra
         FROM base),
       rb AS (
         SELECT c_nationkey AS g, c_custkey AS item,
           row_number() OVER (PARTITION BY c_nationkey
             ORDER BY floor(c_acctbal) DESC, c_custkey) AS rb
         FROM base),
       j AS (SELECT ra.g, ra.item, ra.ra, rb.rb
         FROM ra JOIN rb ON ra.g = rb.g AND ra.item = rb.item),
       m AS (SELECT g, count(*)::BIGINT AS n_common FROM j GROUP BY g),
       p AS (
         SELECT x.g,
           count(*) FILTER (
             WHERE (x.ra - y.ra) * (x.rb - y.rb) > 0)::BIGINT
             AS n_concordant,
           count(*) FILTER (
             WHERE (x.ra - y.ra) * (x.rb - y.rb) < 0)::BIGINT
             AS n_discordant
         FROM j x JOIN j y ON x.g = y.g AND x.item < y.item
         GROUP BY x.g),
       r AS (
         SELECT m.g, n_common,
           coalesce(n_concordant, 0) AS n_concordant,
           coalesce(n_discordant, 0) AS n_discordant
         FROM m LEFT JOIN p ON m.g = p.g)
       SELECT g AS c_nationkey, n_common, n_concordant, n_discordant,
         CASE WHEN n_common < 2 THEN NULL
           ELSE floor((2 * (n_concordant - n_discordant))::DOUBLE
             / (n_common * (n_common - 1)) * 1e6 + 0.5) / 1e6 END AS tau
       FROM r ORDER BY c_nationkey"""

  private def q30(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    bruteTopK(e.filter(col("vec_id") < NumQueries), e, "vec_id", "embedding", TopK)
      .orderBy(col("query_id"), col("rank"))
  }
  private[operators] val q30Sql =
    s"""WITH sims AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ranked AS (
         SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
             AS rank
         FROM sims)
       SELECT query_id, rank::INT AS rank, neighbor_id, round(c, 6) + 0.0 AS cos_sim
       FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  private def q31(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    ivfTopK(e, e.filter(col("vec_id") < NumSeeds),
        assigned => assigned.filter(col("vec_id") < NumQueries),
        "vec_id", "embedding", TopK)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q31Sql =
    s"""WITH cos AS (
         SELECT a.vec_id, a.embedding, s.vec_id AS seed_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * s.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS sc
         FROM embeddings a JOIN embeddings s ON s.vec_id < $NumSeeds),
       assigned AS (
         SELECT vec_id, embedding, seed_id AS cluster FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS arn FROM cos) t
         WHERE arn = 1),
       sims AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM assigned q JOIN assigned n
           ON q.cluster = n.cluster AND q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ranked AS (
         SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
             AS rank
         FROM sims)
       SELECT query_id, rank::INT AS rank, neighbor_id, round(c, 6) + 0.0 AS cos_sim
       FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  private val NProbe = 3

  private def q86(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    ivfTopKProbes(e, e.filter(col("vec_id") < NumSeeds),
        col("vec_id") < NumQueries, "vec_id", "embedding", TopK, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q86Sql =
    s"""WITH cos AS (
         SELECT a.vec_id, a.embedding, s.vec_id AS seed_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * s.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS sc
         FROM embeddings a JOIN embeddings s ON s.vec_id < $NumSeeds),
       assigned AS (
         SELECT vec_id, embedding, seed_id AS cluster FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS arn FROM cos) t
         WHERE arn = 1),
       probes AS (
         SELECT vec_id AS query_id, seed_id AS cluster FROM (
           SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS prn
           FROM cos WHERE vec_id < $NumQueries) t
         WHERE prn <= $NProbe),
       sims AS (
         SELECT p.query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM probes p
         JOIN embeddings q ON q.vec_id = p.query_id
         JOIN assigned n ON n.cluster = p.cluster AND n.vec_id != p.query_id),
       ranked AS (
         SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
             AS rank
         FROM sims)
       SELECT query_id, rank::INT AS rank, neighbor_id, round(c, 6) + 0.0 AS cos_sim
       FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** The IVF assignment persisted as a BUCKETED MANAGED TABLE (the
    * [[Materialized.ofBucketed]] seam, bucketed on `cluster`) — the
    * build/query split a real vector index has: the corpus-vs-seeds
    * scoring scan is paid ONCE at build, and every later query batch
    * (this session or plan) reads the catalog table and pays only its
    * probe joins. At 100 TB this is the difference between re-scoring
    * the corpus per batch and a bucket-pruned read of a layout that
    * already lives on disk. The table name is keyed by the source
    * directory (hashed), so multi-SF sessions cannot alias each other's
    * index; content is deterministic ([[ivfAssign]]'s tie-break), so a
    * rebuild is always bit-identical.
    */
  def ivfIndexed(s: SparkSession, dir: String, corpus: => DataFrame,
      seeds: => DataFrame, idCol: String, vecCol: String,
      buckets: Int = 16, tag: String = ""): DataFrame =
    Materialized.ofBucketed(s, ivfIndexTable(dir, tag), "cluster", buckets) {
      ivfAssign(corpus, seeds, idCol, vecCol)
    }

  /** Catalog name of the persisted IVF index for `dir` (+ optional tag
    * for independently-maintained variants): dir-hashed so multi-SF
    * sessions cannot alias each other's index.
    */
  def ivfIndexTable(dir: String, tag: String = ""): String = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"graft_ivf_index_$dig$tag"
  }

  /** Fold an APPEND batch of vectors into a persisted IVF index table —
    * the catalog-seam half of incremental ANN maintenance (the
    * [[knnEdgesIvfIncrement]] discipline at the [[ivfIndexed]] seam):
    * the Δ batch pays only its own broadcast seed-scoring
    * ([[ivfAssign]], |Δ|·K work) and lands as new per-bucket files in
    * the SAME hash layout ([[Bucketing.appendBucketed]]), so bucket
    * pruning and the zero-exchange probe joins keep holding and no base
    * row is ever re-scored or rewritten. With deterministic assignment
    * (fixed seeds), the appended table's CONTENT is bit-identical to a
    * full rebuild over base ∪ Δ (spec-pinned; file layout differs, the
    * relation does not). Fresh Δ ids are the caller's contract, as with
    * every append seam here.
    */
  def ivfIndexAppend(s: SparkSession, dir: String, delta: DataFrame,
      seeds: DataFrame, idCol: String, vecCol: String,
      buckets: Int = 16, tag: String = ""): DataFrame = {
    val table = ivfIndexTable(dir, tag)
    require(s.catalog.tableExists(table),
      s"ivfIndexAppend needs an existing index table $table — build it " +
        "with ivfIndexed first")
    Bucketing.appendBucketed(ivfAssign(delta, seeds, idCol, vecCol),
      table, "cluster", buckets)
    s.table(table)
  }

  /** Catalog name of the tombstone SIDECAR for the persisted IVF index —
    * deletes are linear in the DELETES, not the corpus (r11 verdict
    * Next #3: "rebuild at the retention cadence" is corpus-linear at
    * 100 TB; a tombstone sidecar is not).
    */
  def ivfDeletesTable(dir: String, tag: String = ""): String =
    s"${ivfIndexTable(dir, tag)}_deletes"

  /** Fold a DELETE batch into a persisted IVF index — the missing half
    * of the append seam. Parquet files are immutable, so deletes land as
    * TOMBSTONES: the batch's ids append to a tiny sidecar table
    * ([[ivfDeletesTable]]) and the read side ([[ivfIndexLive]]) masks
    * them with one broadcast anti-join. Cost shape: the write is
    * |Δ_del|-sized; the read adds a broadcast-hash anti-join (no
    * exchange on the bucketed base, so bucket pruning and the
    * zero-exchange probe joins keep holding) whose build side is the
    * accumulated tombstone set — compact back into the base (drop +
    * rebuild over survivors) when that set stops being broadcast-sized,
    * exactly the RocksDB-style "tombstones until compaction" contract.
    *
    * The live relation is bit-identical to a fresh [[ivfAssign]] over
    * the survivors (spec-pinned): masking a row cannot move any other
    * row's cluster, because assignment is per-row against the fixed
    * seeds. Contract: a deleted id must not be re-appended later — the
    * sidecar masks it forever (same fresh-ids contract as every append
    * seam here). The sidecar lives and dies with the index's catalog
    * entry: on a metastore-less restart [[ivfIndexed]] rebuilds the base
    * and the sidecar starts empty, so the pair stays consistent.
    */
  def ivfIndexDelete(s: SparkSession, dir: String, deleteIds: DataFrame,
      idCol: String, tag: String = ""): DataFrame = {
    val table = ivfIndexTable(dir, tag)
    require(s.catalog.tableExists(table),
      s"ivfIndexDelete needs an existing index table $table — build it " +
        "with ivfIndexed first")
    val side = ivfDeletesTable(dir, tag)
    if (!s.catalog.tableExists(side)) {
      // Same orphan-location handling as Materialized.ofBucketed: the
      // in-memory catalog dies with the JVM but warehouse files do not,
      // and CTAS validates the location is empty. A dead JVM's base
      // index is rebuilt from scratch too, so clearing its orphaned
      // tombstones keeps the pair consistent (never data loss: the
      // rebuilt base has no catalog entry either until ivfIndexed runs).
      val ident = s.sessionState.sqlParser.parseTableIdentifier(side)
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    deleteIds.select(col(idCol).cast("long").as(idCol)).distinct()
      .write.mode("append").format("parquet").saveAsTable(side)
    ivfIndexLive(s, dir, idCol, tag)
  }

  /** The persisted IVF index with tombstones applied — what every probe
    * should read once deletes exist. No sidecar (the common case) reads
    * the base table with ZERO added cost; with one, the mask is a single
    * broadcast anti-join on the id.
    */
  def ivfIndexLive(s: SparkSession, dir: String, idCol: String,
      tag: String = ""): DataFrame = {
    val base = s.table(ivfIndexTable(dir, tag))
    val side = ivfDeletesTable(dir, tag)
    if (!s.catalog.tableExists(side)) base
    else base.join(broadcast(s.table(side)), Seq(idCol), "left_anti")
  }

  // ---- q372: multi-probe ANN over the PERSISTED index ------------------------
  // Same semantics as q86 (the oracle is shared verbatim): the result of
  // probing a persisted deterministic layout must be bit-identical to
  // probing a freshly assigned one — and the bench value shows the seam
  // (pass 1 builds, later passes read the bucketed table).
  private def q372(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val seeds = e.filter(col("vec_id") < NumSeeds)
    ivfTopKProbesOver(
        ivfIndexed(s, d, e, seeds, "vec_id", "embedding"),
        seeds, col("vec_id") < NumQueries, "vec_id", "embedding",
        TopK, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q372Sql = q86Sql

  // ---- q436: multi-probe ANN over an APPEND-MAINTAINED persisted index --------
  // Base index on vec_id < 384, the rest folded in as an append batch of
  // new per-bucket files, then the q372 probe — shares q86's oracle
  // verbatim: probing the maintained layout must equal probing a fresh
  // full assignment. Dropped + rebuilt each run so the timed cost IS
  // build+append (idempotent under bench re-runs).
  private def q436(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val seeds = e.filter(col("vec_id") < NumSeeds)
    s.sql(s"DROP TABLE IF EXISTS ${ivfIndexTable(d, "_inc")}")
    ivfIndexed(s, d, e.filter(col("vec_id") < 384), seeds,
      "vec_id", "embedding", tag = "_inc")
    val idx = ivfIndexAppend(s, d, e.filter(col("vec_id") >= 384), seeds,
      "vec_id", "embedding", tag = "_inc")
    ivfTopKProbesOver(idx, seeds, col("vec_id") < NumQueries,
        "vec_id", "embedding", TopK, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- q440: multi-probe ANN over an APPEND+DELETE-MAINTAINED index ----------
  // Base on vec_id < 384, append the rest, then tombstone every seventh
  // non-query id (vec_id % 7 = 3, vec_id >= NumQueries — the query set
  // stays intact so the oracle's probe side is unchanged). The oracle is
  // q86's restricted to survivors in the `assigned` CTE: masking rows
  // cannot move any survivor's cluster, so probing the tombstoned layout
  // must be bit-identical to probing a fresh assignment of survivors.
  private def q440(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val seeds = e.filter(col("vec_id") < NumSeeds)
    s.sql(s"DROP TABLE IF EXISTS ${ivfIndexTable(d, "_del")}")
    s.sql(s"DROP TABLE IF EXISTS ${ivfDeletesTable(d, "_del")}")
    ivfIndexed(s, d, e.filter(col("vec_id") < 384), seeds,
      "vec_id", "embedding", tag = "_del")
    ivfIndexAppend(s, d, e.filter(col("vec_id") >= 384), seeds,
      "vec_id", "embedding", tag = "_del")
    val live = ivfIndexDelete(s, d,
      e.filter(col("vec_id") % 7 === 3 && col("vec_id") >= NumQueries)
        .select(col("vec_id")),
      "vec_id", tag = "_del")
    ivfTopKProbesOver(live, seeds, col("vec_id") < NumQueries,
        "vec_id", "embedding", TopK, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q440Sql = q86Sql.replace(
    "WHERE arn = 1)",
    s"WHERE arn = 1 AND NOT (vec_id % 7 = 3 AND vec_id >= $NumQueries))")

  /** Exact top-k by INNER PRODUCT (MIPS) — the retrieval metric when
    * vector magnitude encodes relevance (learned rerankers, popularity-
    * scaled item embeddings). Composed like [[bruteTopKEuclidean]]:
    * dot(a,b) = cos(a,b)·√(|a|²·|b|²), ranked descending by the same
    * bounded heap.
    */
  def bruteTopKInnerProduct(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.TextFunctions.l2sq
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"))
    val ip = cosine(col("qe"), col("ne")) *
      sqrt(l2sq(col("qe")) * l2sq(col("ne")))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), ip.as("c"))
    rankTopK(scored, k)
      .withColumnRenamed("cos_sim", "inner_product")
  }

  private def q114(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    bruteTopKInnerProduct(e.filter(col("vec_id") < NumQueries), e,
        "vec_id", "embedding", TopK)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q114Sql =
    s"""WITH norms AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS l2
         FROM embeddings),
       sims AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           (list_sum(list_transform(range(1, len(q.embedding) + 1),
              k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
            / (sqrt(q.l2) * sqrt(n.l2))) * sqrt(q.l2 * n.l2) AS c
         FROM norms q JOIN norms n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ranked AS (
         SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
             AS rank
         FROM sims)
       SELECT query_id, rank::INT AS rank, neighbor_id,
         round(c, 6) + 0.0 AS inner_product
       FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  private def q112(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    bruteTopKEuclidean(e.filter(col("vec_id") < NumQueries), e,
        "vec_id", "embedding", TopK)
      .orderBy(col("query_id"), col("rank"))
  }
  // The oracle mirrors the engine's COMPOSED distance arithmetic
  // (norms + cosine), not sum((a-b)^2): the ranking compares unrounded
  // doubles, so both engines must walk the identical FP path.
  private val q112Sql =
    s"""WITH norms AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS l2
         FROM embeddings),
       sims AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           q.l2 + n.l2 - 2 *
             (list_sum(list_transform(range(1, len(q.embedding) + 1),
               k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
              / (sqrt(q.l2) * sqrt(n.l2)))
             * sqrt(q.l2 * n.l2) AS d2
         FROM norms q JOIN norms n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ranked AS (
         SELECT query_id, neighbor_id, d2,
           row_number() OVER (PARTITION BY query_id
             ORDER BY -d2 DESC, neighbor_id) AS rank
         FROM sims)
       SELECT query_id, rank::INT AS rank, neighbor_id,
         round(d2, 6) + 0.0 AS dist_sq
       FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  // ---- q196: PQ-ADC recall vs exact euclidean ---------------------------------
  // The PQ acceptance report (the q174 discipline applied to product
  // quantization): how much of the exact L2 top-k survives 4x16-dim
  // codebook compression + ADC scoring.
  private val NumSub = 4
  private val SubDim = 16
  private def q196(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    recallReport(
        bruteTopKEuclidean(e.filter(col("vec_id") < NumQueries), e,
          "vec_id", "embedding", TopK),
        pqTopK(e, e.filter(col("vec_id") < NumSeeds),
          col("vec_id") < NumQueries, "vec_id", "embedding", TopK,
          NumSub, SubDim))
      .orderBy(col("query_id"))
  }
  // The oracle mirrors the engine stage-for-stage: same codebook, same
  // argmin tiebreak, same per-subspace distance FP path (elementwise
  // (a-b)*(a-b) double fold), and the ADC sum joins the LUT once per
  // subspace so the addition order is the fixed d0+d1+d2+d3 on both
  // engines (never an aggregation-ordered float sum).
  private val q196Sql =
    s"""WITH subs AS (SELECT unnest(range(0, $NumSub)) AS sub),
       cb AS (
         SELECT subs.sub, s.vec_id AS cid, s.embedding AS sv
         FROM embeddings s, subs WHERE s.vec_id < $NumSeeds),
       cd AS (
         SELECT a.vec_id AS id, c.sub, c.cid,
           list_sum(list_transform(range(1, ${SubDim + 1}),
             k -> (a.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE)
                * (a.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE))) AS d2
         FROM embeddings a, cb c),
       codes AS (
         SELECT id, sub, cid FROM (
           SELECT id, sub, cid, row_number() OVER (
             PARTITION BY id, sub ORDER BY d2, cid) AS rn
           FROM cd) t WHERE rn = 1),
       cw AS (
         SELECT id,
           max(CASE WHEN sub = 0 THEN cid END) AS c0,
           max(CASE WHEN sub = 1 THEN cid END) AS c1,
           max(CASE WHEN sub = 2 THEN cid END) AS c2,
           max(CASE WHEN sub = 3 THEN cid END) AS c3
         FROM codes GROUP BY id),
       lut AS (
         SELECT q.vec_id AS query_id, c.sub, c.cid,
           list_sum(list_transform(range(1, ${SubDim + 1}),
             k -> (q.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE)
                * (q.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE))) AS d2
         FROM embeddings q, cb c WHERE q.vec_id < $NumQueries),
       adcs AS (
         SELECT l0.query_id, w.id AS neighbor_id,
           l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
         FROM cw w
         JOIN lut l0 ON l0.sub = 0 AND l0.cid = w.c0
         JOIN lut l1 ON l1.sub = 1 AND l1.cid = w.c1
           AND l1.query_id = l0.query_id
         JOIN lut l2 ON l2.sub = 2 AND l2.cid = w.c2
           AND l2.query_id = l0.query_id
         JOIN lut l3 ON l3.sub = 3 AND l3.cid = w.c3
           AND l3.query_id = l0.query_id
         WHERE w.id != l0.query_id),
       aq AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id, row_number() OVER (
             PARTITION BY query_id ORDER BY -adc DESC, neighbor_id) AS rank
           FROM adcs) t WHERE rank <= $TopK),
       norms AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS l2
         FROM embeddings),
       sims_e AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           q.l2 + n.l2 - 2 *
             (list_sum(list_transform(range(1, len(q.embedding) + 1),
               k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
              / (sqrt(q.l2) * sqrt(n.l2)))
             * sqrt(q.l2 * n.l2) AS d2
         FROM norms q JOIN norms n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ex AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id, row_number() OVER (
             PARTITION BY query_id ORDER BY -d2 DESC, neighbor_id) AS rank
           FROM sims_e) t WHERE rank <= $TopK)
       SELECT e.query_id, count(*)::BIGINT AS n_exact,
         count(a.neighbor_id)::BIGINT AS n_hit,
         round(count(a.neighbor_id)::DOUBLE / count(*), 6) AS recall
       FROM ex e LEFT JOIN aq a
         ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       GROUP BY e.query_id ORDER BY e.query_id"""

  // ---- q200: IVFADC — bucketed candidates, code-table scoring -----------------
  private def q200(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    ivfAdcTopK(e, e.filter(col("vec_id") < NumSeeds),
        col("vec_id") < NumQueries, "vec_id", "embedding", TopK,
        NumSub, SubDim)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q200Sql =
    s"""WITH cos AS (
         SELECT a.vec_id, s.vec_id AS seed_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * s.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS sc
         FROM embeddings a JOIN embeddings s ON s.vec_id < $NumSeeds),
       assigned AS (
         SELECT vec_id, seed_id AS cluster FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS arn FROM cos) t
         WHERE arn = 1),
       subs AS (SELECT unnest(range(0, $NumSub)) AS sub),
       cb AS (
         SELECT subs.sub, s.vec_id AS cid, s.embedding AS sv
         FROM embeddings s, subs WHERE s.vec_id < $NumSeeds),
       cd AS (
         SELECT a.vec_id AS id, c.sub, c.cid,
           list_sum(list_transform(range(1, ${SubDim + 1}),
             k -> (a.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE)
                * (a.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE))) AS d2
         FROM embeddings a, cb c),
       codes AS (
         SELECT id, sub, cid FROM (
           SELECT id, sub, cid, row_number() OVER (
             PARTITION BY id, sub ORDER BY d2, cid) AS rn
           FROM cd) t WHERE rn = 1),
       cw AS (
         SELECT id,
           max(CASE WHEN sub = 0 THEN cid END) AS c0,
           max(CASE WHEN sub = 1 THEN cid END) AS c1,
           max(CASE WHEN sub = 2 THEN cid END) AS c2,
           max(CASE WHEN sub = 3 THEN cid END) AS c3
         FROM codes GROUP BY id),
       lut AS (
         SELECT q.vec_id AS query_id, c.sub, c.cid,
           list_sum(list_transform(range(1, ${SubDim + 1}),
             k -> (q.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE)
                * (q.embedding[c.sub*$SubDim+k]::DOUBLE
                     - c.sv[c.sub*$SubDim+k]::DOUBLE))) AS d2
         FROM embeddings q, cb c WHERE q.vec_id < $NumQueries),
       cand AS (
         SELECT qa.vec_id AS query_id, an.vec_id AS neighbor_id
         FROM assigned qa JOIN assigned an
           ON qa.cluster = an.cluster AND an.vec_id != qa.vec_id
         WHERE qa.vec_id < $NumQueries),
       adcs AS (
         SELECT c.query_id, c.neighbor_id,
           l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
         FROM cand c JOIN cw w ON w.id = c.neighbor_id
         JOIN lut l0 ON l0.query_id = c.query_id
           AND l0.sub = 0 AND l0.cid = w.c0
         JOIN lut l1 ON l1.query_id = c.query_id
           AND l1.sub = 1 AND l1.cid = w.c1
         JOIN lut l2 ON l2.query_id = c.query_id
           AND l2.sub = 2 AND l2.cid = w.c2
         JOIN lut l3 ON l3.query_id = c.query_id
           AND l3.sub = 3 AND l3.cid = w.c3)
       SELECT query_id, rank::INT AS rank, neighbor_id,
         round(adc, 6) + 0.0 AS adc_dist
       FROM (
         SELECT query_id, neighbor_id, adc, row_number() OVER (
           PARTITION BY query_id ORDER BY -adc DESC, neighbor_id) AS rank
         FROM adcs) t
       WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** 4 planes → 16 buckets: ~30 candidates per probe at fixture scale. */
  private val NumPlanes = 4

  private def q39(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    lshTopK(e, e.filter(col("vec_id") < NumPlanes).orderBy(col("vec_id")),
        col("vec_id") < NumQueries, "vec_id", "embedding", TopK, NumPlanes)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q39Sql =
    s"""WITH planes AS (
         SELECT vec_id AS p, embedding AS pe FROM embeddings
         WHERE vec_id < $NumPlanes),
       bucketed AS (
         SELECT a.vec_id, a.embedding,
           sum(CASE WHEN
             list_sum(list_transform(range(1, len(a.embedding) + 1),
               k -> a.embedding[k]::DOUBLE * pe[k]::DOUBLE))
             / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(pe, x -> x::DOUBLE * x::DOUBLE)))) >= 0
             THEN (1::BIGINT << p) ELSE 0 END) AS bucket
         FROM embeddings a, planes GROUP BY a.vec_id, a.embedding),
       sims AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM bucketed q JOIN bucketed n
           ON q.bucket = n.bucket AND q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ranked AS (
         SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id)
             AS rank
         FROM sims)
       SELECT query_id, rank::INT AS rank, neighbor_id, round(c, 6) + 0.0 AS cos_sim
       FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  // ---- q136: ANN recall report (exact vs single-probe IVF) ---------------------
  // The q30 exact ranking scored against the q31 approximate one; the
  // oracle recomputes both rankings and the same left-join recall.
  private def q136(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    recallReport(
        bruteTopK(e.filter(col("vec_id") < NumQueries), e,
          "vec_id", "embedding", TopK),
        ivfTopK(e, e.filter(col("vec_id") < NumSeeds),
          assigned => assigned.filter(col("vec_id") < NumQueries),
          "vec_id", "embedding", TopK))
      .orderBy(col("query_id"))
  }
  private val q136Sql =
    s"""WITH sims_e AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ex AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY c DESC, neighbor_id) AS rank
           FROM sims_e) t WHERE rank <= $TopK),
       cos AS (
         SELECT a.vec_id, a.embedding, s.vec_id AS seed_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * s.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS sc
         FROM embeddings a JOIN embeddings s ON s.vec_id < $NumSeeds),
       assigned AS (
         SELECT vec_id, embedding, seed_id AS cluster FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS arn FROM cos) t
         WHERE arn = 1),
       sims_a AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM assigned q JOIN assigned n
           ON q.cluster = n.cluster AND q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ap AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY c DESC, neighbor_id) AS rank
           FROM sims_a) t WHERE rank <= $TopK)
       SELECT e.query_id, count(*)::BIGINT AS n_exact,
         count(a.neighbor_id)::BIGINT AS n_hit,
         round(count(a.neighbor_id)::DOUBLE / count(*), 6) AS recall
       FROM ex e LEFT JOIN ap a
         ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       GROUP BY e.query_id ORDER BY e.query_id"""

  /** Sparse cosine similarity between documents over raw term-frequency
    * vectors, computed term-at-a-time through the inverted-index join —
    * the lexical document-similarity measure between q26's unweighted
    * set Jaccard and q30's dense embedding cosine, and the document-pair
    * consumer of the q139 posting lists.
    *
    * Cross-engine determinism: dot products (Σ tf_a·tf_b) and squared
    * norms (Σ tf²) are exact BIGINT sums — no float accumulation — and
    * the final cosine is sqrt/multiply/divide, all IEEE correctly-rounded
    * single ops (it is `ln`/`log`/`pow` that differ across libms, not
    * sqrt), so thresholding and values agree bitwise; output rounds via
    * the binary-deterministic floor(x·1e6+0.5)/1e6.
    *
    * Scale design: terms become 8-byte xxhash64 keys at the source (no
    * string ever shuffles — see `hashTerms`), and the corpus collapses
    * to (term, doc, tf) with map-side partials; the pair join shuffles
    * that collapsed relation by term key, never documents. Per-term join fanout is df² — `maxDfShare` drops
    * terms present in more than that fraction of documents (boilerplate
    * vocabulary carries no similarity signal and is exactly the hot-key
    * blowup; the df cap is the sparse analog of LSH banding's candidate
    * bound, integer-compared so both engines cut identically). Norms
    * aggregate over the SAME kept-term vectors, so the measure stays a
    * true cosine of the pruned representation.
    */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
      docPred: Column, minCos: Double,
      maxDfShare: (Int, Int) = (92, 100),
      hashTerms: Boolean = true): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val (num, den) = maxDfShare
    require(num > 0 && den > 0, "maxDfShare must be a positive fraction")
    // Every downstream use of a term is identity-only (df counts, the cap
    // semi-join, the pair equi-join) and no term reaches the output, so
    // the engine-convention upgrade applies: hash terms to 8-byte
    // xxhash64 keys AT THE SOURCE and nothing downstream ever shuffles a
    // string (the q124 lesson; a 64-bit collision would merge two terms'
    // tf mass — ~vocab squared / 2^64, negligible — `hashTerms = false`
    // keeps the string form for the spec's equality pin).
    val termKey: Column => Column =
      if (hashTerms) t => xxhash64(t) else t => t
    val tf = df
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), termKey(col("tok")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * den <= col("n_docs") * num)
      .select(col("term"))
    val kept = tf.join(broadcast(dfreq), "term").filter(docPred)
    val norms = kept.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("norm_sq"))
    val a = kept.select(col("doc_id").as("a"), col("term"),
      col("tf").as("tf_a"))
    val b = kept.select(col("doc_id").as("b"), col("term"),
      col("tf").as("tf_b"))
    val dot = a.join(b, "term").filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("tf_a") * col("tf_b")).as("dot"))
    val cos = col("dot").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    dot
      .join(norms.select(col("doc_id").as("a"), col("norm_sq").as("na")), "a")
      .join(norms.select(col("doc_id").as("b"), col("norm_sq").as("nb")), "b")
      .filter(cos >= minCos)
      .select(col("a"), col("b"), col("dot"), col("na"), col("nb"),
        (floor(cos * lit(1e6) + lit(0.5)) / lit(1e6)).as("cos"))
  }

  // ---- q150: sparse tf-vector cosine pairs -----------------------------------
  // Pairs among the first 40 documents with cosine ≥ 0.5 over vectors
  // restricted to terms in ≤92% of the corpus (the boilerplate cap).
  private def q150(s: SparkSession, d: String): DataFrame =
    sparseCosinePairs(Tables.documents(s, d), "doc_id", "text",
        docPred = col("doc_id") < 40, minCos = 0.5)
      .orderBy(col("a"), col("b"))
  private val q150Sql =
    """WITH tf AS (
         SELECT doc_id, term, count(*) AS tf FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents)
         GROUP BY 1, 2),
       n AS (SELECT count(*) AS n_docs FROM documents),
       keptterms AS (
         SELECT term FROM (
           SELECT term, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN n
         WHERE df * 100 <= n_docs * 92),
       kept AS (
         SELECT doc_id, term, tf FROM tf JOIN keptterms USING (term)
         WHERE doc_id < 40),
       norms AS (
         SELECT doc_id, sum(tf * tf)::BIGINT AS norm_sq FROM kept
         GROUP BY 1),
       dots AS (
         SELECT x.doc_id AS a, y.doc_id AS b,
           sum(x.tf * y.tf)::BIGINT AS dot
         FROM kept x JOIN kept y USING (term)
         WHERE x.doc_id < y.doc_id
         GROUP BY 1, 2),
       scored AS (
         SELECT a, b, dot, na.norm_sq AS na, nb.norm_sq AS nb
         FROM dots
           JOIN norms na ON dots.a = na.doc_id
           JOIN norms nb ON dots.b = nb.doc_id)
       SELECT a, b, dot, na, nb,
         floor(dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))
           * 1e6 + 0.5) / 1e6 AS cos
       FROM scored
       WHERE dot::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)) >= 0.5
       ORDER BY a, b"""

  /** Reciprocal-rank fusion of two top-k rankings — the standard hybrid-
    * retrieval combiner (lexical BM25 + dense ANN, or any two scorers
    * whose score SCALES don't compare): each list contributes
    * 1/(rrfK + rank) for the items it ranked, summed per item. Ranks,
    * not scores, are fused, so no calibration step is needed — which is
    * exactly why RRF is the default in production hybrid search.
    *
    * Contributions are exact integer parts-per-billion
    * (1e9 div (rrfK + rank)), so fused scores are BIGINT sums —
    * deterministic on any engine — and `n_lists` reports how many input
    * lists backed each item (consensus vs single-scorer hits).
    *
    * Scale design: inputs are ALREADY top-k relations (k·|Q| rows — the
    * heavy corpus ranking happened upstream in [[rankTopK]]'s bounded
    * heap), so the fusion window ranks a constant ≤ 2k rows per query:
    * nothing corpus-sized moves here.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60): DataFrame = {
    val contrib = (df: DataFrame) =>
      df.select(col("query_id"), col("neighbor_id"),
        expr(s"1000000000 div ($rrfK + rank)").as("contrib"))
    contrib(a).unionByName(contrib(b))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("n_lists"), sum(col("contrib")).as("rrf_ppb"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_ppb").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("n_lists"), col("rrf_ppb"))
  }

  // ---- q164: hybrid fusion of the cosine and euclidean rankings ---------------
  // The two metric families genuinely disagree on unnormalized vectors
  // (q30 vs q112), so the fusion exercises both the consensus path
  // (n_lists = 2) and single-list survivors.
  private def q164(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < NumQueries)
    rrfFuse(
      bruteTopK(q, e, "vec_id", "embedding", TopK),
      bruteTopKEuclidean(q, e, "vec_id", "embedding", TopK),
      TopK)
      .orderBy(col("query_id"), col("rank"))
  }
  private val q164Sql =
    s"""WITH norms AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS l2
         FROM embeddings),
       pairs AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           (list_sum(list_transform(range(1, len(q.embedding) + 1),
              k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
            / (sqrt(q.l2) * sqrt(n.l2))) AS c,
           q.l2 AS ql2, n.l2 AS nl2
         FROM norms q JOIN norms n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       crank AS (
         SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY c DESC, neighbor_id) AS rank
         FROM pairs),
       erank AS (
         SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY -(ql2 + nl2 - 2 * c * sqrt(ql2 * nl2)) DESC,
               neighbor_id) AS rank
         FROM pairs),
       unioned AS (
         SELECT query_id, neighbor_id, 1000000000 // (60 + rank) AS contrib
         FROM crank WHERE rank <= $TopK
         UNION ALL
         SELECT query_id, neighbor_id, 1000000000 // (60 + rank)
         FROM erank WHERE rank <= $TopK),
       fused AS (
         SELECT query_id, neighbor_id, count(*)::BIGINT AS n_lists,
           sum(contrib)::BIGINT AS rrf_ppb
         FROM unioned GROUP BY 1, 2),
       rk AS (
         SELECT query_id, neighbor_id, n_lists, rrf_ppb,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_ppb DESC, neighbor_id) AS rank
         FROM fused)
       SELECT query_id, rank::INT AS rank, neighbor_id, n_lists, rrf_ppb
       FROM rk WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** Maximal-marginal-relevance re-rank: diversified top-k. From each
    * query's `fetchN` most-relevant candidates, greedily select `k` by
    *   argmax  λ·rel(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    * — the classic redundancy penalty (Carbonell & Goldstein 1998) that
    * keeps a RAG context window from filling with near-duplicates of
    * the single best hit. λ arrives in micro units; relevance and
    * candidate-candidate cosines quantize to micro ints (one float
    * cosine then one floor — identical doubles floor identically on
    * both engines), so every selection score is an exact BIGINT in
    * parts-per-10¹² and the greedy argmax (ties → lowest id) is
    * deterministic under any fold order.
    *
    * Scale design: the corpus-sized work is the upstream candidate
    * fetch ([[bruteTopK]]'s bounded heap here; swap in [[ivfTopK]] at
    * index scale — the rerank is fetch-agnostic). Everything after is
    * bounded by construction: the candidate set (fetchN·|Q| rows)
    * broadcasts back into one corpus scan to pick up vectors, the
    * pairwise-sim relation is fetchN²·|Q| rows, and the greedy
    * selection folds per query over a fetchN-sized array — the
    * inherently sequential step never sees more than fetchN candidates.
    * Selection scores: first pick pays no penalty (empty selected set);
    * later picks use the true max cosine to the selected set (which may
    * be negative — a bonus for anti-correlated picks, matching the
    * textbook formula).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, fetchN: Int, k: Int, lambdaMicro: Long): DataFrame = {
    require(fetchN >= 1 && k >= 1 && k <= fetchN,
      "mmrRerank needs 1 <= k <= fetchN")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    val cand = bruteTopK(queries, corpus, idCol, vecCol, fetchN)
      .select(col("query_id"), col("neighbor_id"))
    mmrSelect(cand, q, corpus, idCol, vecCol, k, lambdaMicro)
  }

  /** [[mmrRerank]] with the candidate fetch riding [[ivfTopKProbes]] —
    * the index-scale path (VERDICT r8 Next #5): at corpus scale the
    * greedy re-rank is already bounded (fetchN candidates per query),
    * but a brute fetch scores every corpus vector per query; here the
    * fetch probes only each query's `nprobe` nearest IVF buckets, so
    * the corpus-side cost drops to ~nprobe/K of brute at the standard
    * IVF recall trade. `nprobe = |seeds|` probes every bucket and is
    * EXACTLY [[mmrRerank]] (each vector lives in exactly one bucket, so
    * full probing scores the whole corpus — the acceptance spec pins
    * bit-equality); smaller nprobe can only shrink the candidate set.
    * The selection fold downstream is fetch-agnostic and shared.
    */
  def mmrRerankIvf(corpus: DataFrame, seeds: DataFrame, queryFilter: Column,
      idCol: String, vecCol: String, fetchN: Int, k: Int,
      lambdaMicro: Long, nprobe: Int): DataFrame = {
    require(fetchN >= 1 && k >= 1 && k <= fetchN,
      "mmrRerankIvf needs 1 <= k <= fetchN")
    val cand = ivfTopKProbes(corpus, seeds, queryFilter, idCol, vecCol,
        fetchN, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val q = corpus.filter(queryFilter)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"))
    mmrSelect(cand, q, corpus, idCol, vecCol, k, lambdaMicro)
  }

  /** Shared MMR selection: greedy k-step fold over a bounded candidate
    * relation (query_id, neighbor_id) produced by any fetch. See
    * [[mmrRerank]]'s scaladoc for the arithmetic and scale contract.
    */
  private def mmrSelect(cand: DataFrame, q: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, lambdaMicro: Long): DataFrame = {
    require(lambdaMicro >= 0 && lambdaMicro <= 1000000L,
      "lambda is a micro fraction")
    val lam = lambdaMicro
    val pen = 1000000L - lambdaMicro
    // Bounded candidate set broadcast into ONE corpus scan for vectors.
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("ne"))
      .join(broadcast(cand), Seq("neighbor_id"))
    val rel = cv.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        floor(cosine(col("qe"), col("ne")) * lit(1e6)).as("rel"))
    val simMap = cv.as("a")
      .join(cv.as("b"), col("a.query_id") === col("b.query_id") &&
        col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("neighbor_id"),
        struct(col("b.neighbor_id").as("oid"),
          floor(cosine(col("a.ne"), col("b.ne")) * lit(1e6)).as("s"))
          .as("e"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(map_from_entries(collect_list(col("e"))).as("m"))
    // Greedy k-step selection over the bounded candidate array. The
    // argmax inner fold is order-independent (strict better-than with
    // ties to the lower id), so collect_list order cannot matter.
    val score = s"$lam * c.rel - $pen * coalesce(" +
      "array_max(transform(acc, s1 -> element_at(c.m, s1.id))), 0L)"
    val foldExpr = s"""aggregate(sequence(1, $k),
      cast(array() as array<struct<id: bigint, sc: bigint>>),
      (acc, step) -> array_append(acc,
        aggregate(
          filter(cands, c0 -> !exists(acc, s0 -> s0.id = c0.id)),
          named_struct('id', cast(-1 as bigint),
            'sc', cast(-9223372036854775808 as bigint)),
          (best, c) -> case
            when ($score) > best.sc
              or (($score) = best.sc and c.id < best.id)
            then named_struct('id', c.id, 'sc', cast(($score) as bigint))
            else best end)))"""
    // Left join: a query whose fetch returned a SINGLE candidate has no
    // pairwise-sim row (an IVF fetch can produce one-candidate sets);
    // its step-1 pick must still surface — element_at over the null map
    // yields null and the penalty coalesces to 0, matching the oracle's
    // penalty-free first step. With >= 2 candidates every (query,
    // candidate) pair exists and this is exactly the old inner join.
    rel.join(simMap, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"),
        struct(col("neighbor_id").as("id"), col("rel"), col("m")).as("c"))
      .groupBy(col("query_id"))
      .agg(collect_list(col("c")).as("cands"))
      .select(col("query_id"), posexplode(expr(foldExpr)).as(Seq("pos", "s")))
      .filter(col("s.id") >= 0)
      .select(col("query_id"), (col("pos") + 1).cast("long").as("step"),
        col("s.id").as("neighbor_id"), col("s.sc").as("mmr_score_pp"))
  }

  // ---- q363: diversified retrieval — MMR over the exact top-8 -----------------
  private val MmrFetch = 8
  private val MmrK = 4
  private val MmrLambda = 700000L
  private def q363(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    mmrRerank(e.filter(col("vec_id") < NumQueries), e, "vec_id",
        "embedding", MmrFetch, MmrK, MmrLambda)
      .orderBy(col("query_id"), col("step"))
  }
  // The greedy fold is a RECURSIVE CTE over (query, step) — list_reduce
  // is off-limits per the q341 DuckDB defect; the per-step argmax is a
  // LATERAL ORDER BY/LIMIT 1 with the penalty as a correlated max over
  // the pairwise-sim relation. Validated against an independent python
  // brute fold at sf0.001/0.01 before wiring.
  private val q363Sql =
    s"""WITH RECURSIVE norms AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS l2
         FROM embeddings),
       rel AS (
         SELECT query_id, neighbor_id, floor(c * 1e6)::BIGINT AS rel
         FROM (
           SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             (list_sum(list_transform(range(1, len(q.embedding) + 1),
                i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
              / (sqrt(q.l2) * sqrt(n.l2))) AS c,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY (list_sum(list_transform(range(1, len(q.embedding) + 1),
                  i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
                / (sqrt(q.l2) * sqrt(n.l2))) DESC, n.vec_id) AS rk
           FROM norms q JOIN norms n ON q.vec_id != n.vec_id
           WHERE q.vec_id < $NumQueries)
         WHERE rk <= $MmrFetch),
       sims AS (
         SELECT a.query_id, a.neighbor_id AS ai, b.neighbor_id AS bi,
           floor((list_sum(list_transform(range(1, len(va.embedding) + 1),
              i -> va.embedding[i]::DOUBLE * vb.embedding[i]::DOUBLE))
            / (sqrt(va.l2) * sqrt(vb.l2))) * 1e6)::BIGINT AS s
         FROM rel a
         JOIN rel b ON a.query_id = b.query_id
           AND a.neighbor_id != b.neighbor_id
         JOIN norms va ON va.vec_id = a.neighbor_id
         JOIN norms vb ON vb.vec_id = b.neighbor_id),
       sel AS (
         SELECT query_id, 1 AS step, neighbor_id,
           ($MmrLambda::BIGINT * rel)::BIGINT AS sc, [neighbor_id] AS chosen
         FROM (SELECT query_id, neighbor_id, rel,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, neighbor_id) AS rk
               FROM rel) WHERE rk = 1
         UNION ALL
         SELECT s.query_id, s.step + 1, pick.neighbor_id, pick.sc,
           list_append(s.chosen, pick.neighbor_id)
         FROM sel s, LATERAL (
           SELECT r.neighbor_id,
             ($MmrLambda::BIGINT * r.rel
               - ${1000000L - MmrLambda}::BIGINT
               * (SELECT max(si.s) FROM sims si
                  WHERE si.query_id = r.query_id
                    AND si.ai = r.neighbor_id
                    AND list_contains(s.chosen, si.bi)))::BIGINT AS sc
           FROM rel r
           WHERE r.query_id = s.query_id
             AND NOT list_contains(s.chosen, r.neighbor_id)
           ORDER BY sc DESC, r.neighbor_id LIMIT 1) pick
         WHERE s.step < $MmrK)
       SELECT query_id, step::BIGINT AS step, neighbor_id,
         sc AS mmr_score_pp
       FROM sel ORDER BY query_id, step"""

  // ---- q366: MMR over the IVF multi-probe fetch (the index-scale path) ------
  private def q366(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    mmrRerankIvf(e, e.filter(col("vec_id") < NumSeeds),
        col("vec_id") < NumQueries, "vec_id", "embedding",
        MmrFetch, MmrK, MmrLambda, NProbe)
      .orderBy(col("query_id"), col("step"))
  }
  // Oracle = q86's IVF multi-probe candidate CTEs (assignment argmax and
  // probe ranking, identical tie-breaks) feeding q363's recursive greedy
  // fold. list_reduce stays off-limits (the q341 DuckDB defect); the
  // per-step argmax is the same LATERAL ORDER BY/LIMIT 1.
  private val q366Sql =
    s"""WITH RECURSIVE norms AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS l2
         FROM embeddings),
       cos AS (
         SELECT a.vec_id, s.vec_id AS seed_id,
           (list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> a.embedding[i]::DOUBLE * s.embedding[i]::DOUBLE))
            / (sqrt(a.l2) * sqrt(s.l2))) AS sc
         FROM norms a JOIN norms s ON s.vec_id < $NumSeeds),
       assigned AS (
         SELECT vec_id, seed_id AS cluster FROM (
           SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS arn FROM cos) t
         WHERE arn = 1),
       probes AS (
         SELECT vec_id AS query_id, seed_id AS cluster FROM (
           SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS prn
           FROM cos WHERE vec_id < $NumQueries) t
         WHERE prn <= $NProbe),
       cand0 AS (
         SELECT p.query_id, n.vec_id AS neighbor_id,
           (list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> q.embedding[i]::DOUBLE * n.embedding[i]::DOUBLE))
            / (sqrt(q.l2) * sqrt(n.l2))) AS c
         FROM probes p
         JOIN norms q ON q.vec_id = p.query_id
         JOIN assigned a ON a.cluster = p.cluster AND a.vec_id != p.query_id
         JOIN norms n ON n.vec_id = a.vec_id),
       rel AS (
         SELECT query_id, neighbor_id, floor(c * 1e6)::BIGINT AS rel
         FROM (SELECT query_id, neighbor_id, c,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, neighbor_id) AS rk
               FROM cand0)
         WHERE rk <= $MmrFetch),
       sims AS (
         SELECT a.query_id, a.neighbor_id AS ai, b.neighbor_id AS bi,
           floor((list_sum(list_transform(range(1, len(va.embedding) + 1),
              i -> va.embedding[i]::DOUBLE * vb.embedding[i]::DOUBLE))
            / (sqrt(va.l2) * sqrt(vb.l2))) * 1e6)::BIGINT AS s
         FROM rel a
         JOIN rel b ON a.query_id = b.query_id
           AND a.neighbor_id != b.neighbor_id
         JOIN norms va ON va.vec_id = a.neighbor_id
         JOIN norms vb ON vb.vec_id = b.neighbor_id),
       sel AS (
         SELECT query_id, 1 AS step, neighbor_id,
           ($MmrLambda::BIGINT * rel)::BIGINT AS sc, [neighbor_id] AS chosen
         FROM (SELECT query_id, neighbor_id, rel,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, neighbor_id) AS rk
               FROM rel) WHERE rk = 1
         UNION ALL
         SELECT s.query_id, s.step + 1, pick.neighbor_id, pick.sc,
           list_append(s.chosen, pick.neighbor_id)
         FROM sel s, LATERAL (
           SELECT r.neighbor_id,
             ($MmrLambda::BIGINT * r.rel
               - ${1000000L - MmrLambda}::BIGINT
               * (SELECT max(si.s) FROM sims si
                  WHERE si.query_id = r.query_id
                    AND si.ai = r.neighbor_id
                    AND list_contains(s.chosen, si.bi)))::BIGINT AS sc
           FROM rel r
           WHERE r.query_id = s.query_id
             AND NOT list_contains(s.chosen, r.neighbor_id)
           ORDER BY sc DESC, r.neighbor_id LIMIT 1) pick
         WHERE s.step < $MmrK)
       SELECT query_id, step::BIGINT AS step, neighbor_id,
         sc AS mmr_score_pp
       FROM sel ORDER BY query_id, step"""

  /** Embedding centroid drift per group between two cohorts (periods,
    * snapshots, model versions): the cosine between each cohort's mean
    * vector — "did this language's/topic's embedding mass MOVE" — the
    * vector-space companion to [[Profile.featureDrift]]'s scalar screen
    * and the cheap gate before re-clustering or re-indexing an ANN
    * layout (IVF centroids trained on drifted mass probe badly).
    *
    * Exact path: components quantize to integer micros map-side
    * (float→double is exact; floor(x·1e6) identical both engines), sums
    * and the per-(group, cohort, pos) means are BIGINT (sign-split
    * floor), and the centroid cosine's dot/norms accumulate as exact
    * BIGINTs over positions — ONE double finish (sqrt·sqrt·divide,
    * correctly-rounded single ops), binRound6, −0.0-canonicalized.
    *
    * Scale: the corpus collapses to (group, cohort, pos) partials below
    * the one exchange — dims·|groups|·2 rows; everything after is
    * group-sized. Groups missing a cohort are omitted (no centroid to
    * compare).
    */
  def centroidDrift(df: DataFrame, groupCol: Column, vecCol: Column,
      inCohortA: Column): DataFrame = {
    val base = df.select(groupCol.as("g"), vecCol.as("v"),
      inCohortA.cast("boolean").as("in_a"))
    val comps = base
      .select(col("g"), col("in_a"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("g"), col("in_a"), col("pos"),
        floor(col("x").cast("double") * lit(1e6)).cast("long").as("xm"))
      .groupBy(col("g"), col("in_a"), col("pos"))
      .agg(sum(col("xm")).as("sm"), count(lit(1)).as("nc"))
      .select(col("g"), col("in_a"), col("pos"),
        expr("sign(sm) * (abs(sm) div nc)").cast("long").as("m"))
    val a = comps.filter(col("in_a"))
      .select(col("g"), col("pos"), col("m").as("ma"))
    val b = comps.filter(!col("in_a"))
      .select(col("g"), col("pos"), col("m").as("mb"))
    val sizes = base.groupBy(col("g"))
      .agg(count(when(col("in_a"), 1)).as("n_a"),
        count(when(!col("in_a"), 1)).as("n_b"))
    a.join(b, Seq("g", "pos"))
      .groupBy(col("g"))
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("qa"),
        sum(col("mb") * col("mb")).as("qb"))
      .join(broadcast(sizes), Seq("g"))
      .select(col("g"), col("n_a"), col("n_b"),
        when(col("qa") === 0 || col("qb") === 0, lit(null).cast("double"))
          .otherwise(
            floor(col("dot").cast("double")
              / (sqrt(col("qa").cast("double"))
                * sqrt(col("qb").cast("double"))) * lit(1e6) + lit(0.5))
              / lit(1e6) + lit(0.0))
          .as("cos_centroids"))
  }

  // ---- q252: did any label's embedding mass move between cohorts? -------------
  // Even vs odd vec_ids stand in for two snapshots; per label, the
  // centroid cosine answers "same region of space?" — near 1.0 for a
  // stationary population. The oracle replays the exact micro-mean
  // algebra and the identical one-division double finish.
  private def q252(s: SparkSession, d: String): DataFrame =
    centroidDrift(Tables.embeddings(s, d), col("label"), col("embedding"),
        col("vec_id") % 2 === 0)
      .orderBy(col("g"))
  private val q252Sql =
    """WITH base AS (
         SELECT label AS g, embedding, (vec_id % 2 = 0) AS in_a
         FROM embeddings),
       comps AS (
         SELECT g, in_a, i - 1 AS pos,
           sum(floor(embedding[i]::DOUBLE * 1e6)::BIGINT)::BIGINT AS sm,
           count(*)::BIGINT AS nc
         FROM base, unnest(range(1, len(embedding) + 1)) AS t(i)
         GROUP BY 1, 2, 3),
       m AS (
         SELECT g, in_a, pos,
           (sign(sm)::BIGINT * (abs(sm) // nc))::BIGINT AS m
         FROM comps),
       prod AS (
         SELECT a.g, sum(a.m * b.m)::BIGINT AS dot,
           sum(a.m * a.m)::BIGINT AS qa, sum(b.m * b.m)::BIGINT AS qb
         FROM (SELECT g, pos, m FROM m WHERE in_a) a
         JOIN (SELECT g, pos, m FROM m WHERE NOT in_a) b
           ON a.g = b.g AND a.pos = b.pos
         GROUP BY a.g),
       sizes AS (
         SELECT g, count(*) FILTER (WHERE in_a)::BIGINT AS n_a,
           count(*) FILTER (WHERE NOT in_a)::BIGINT AS n_b
         FROM base GROUP BY g)
       SELECT p.g, s.n_a, s.n_b,
         CASE WHEN p.qa = 0 OR p.qb = 0 THEN NULL
           ELSE floor(p.dot::DOUBLE
             / (sqrt(p.qa::DOUBLE) * sqrt(p.qb::DOUBLE)) * 1e6 + 0.5)
             / 1e6 + 0.0 END AS cos_centroids
       FROM prod p JOIN sizes s ON p.g = s.g
       ORDER BY p.g"""

  /** Inertia (within-cluster sum of squared distances) of seeded k-means
    * assignments at each candidate k — the elbow table that picks the
    * cluster count BEFORE committing a 100-TB corpus to a partitioning.
    * Centroids are the deterministic seeds `idCol < k` (the q44/q161
    * convention); distances are exact BIGINT L2² over int8-quantized
    * codes (d² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩ through the [[graft.functions.DotProductInt]]
    * kernel — bit-stable under any partitioning/summation order, and the
    * same 8× memory-shrunk code path the ADC scorer rides). Per k:
    * inertia, mean inertia per vector (floored), and the assigned count.
    *
    * Scale design: each k is ONE broadcast of ≤ max(ks) seed codes
    * against a map-only pass over the corpus (argmin inside the row via
    * `least`-style struct min in the aggregate — no scored relation is
    * ever materialized or shuffled); the exchange per k is the map-side
    * partial sums, |partitions| rows.
    */
  def kmeansElbow(vectors: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "kmeansElbow needs ks >= 1")
    val q8 = vectors.select(col(idCol).as("vid"), quantize8(col(vecCol)).as("q8"))
    ks.map { k =>
      val cents = q8.filter(col("vid") < k)
        .select(col("vid").as("cid"), col("q8").as("cq"))
      q8.crossJoin(broadcast(cents))
        .select(col("vid"),
          (doti(col("q8"), col("q8")) - lit(2L) * doti(col("q8"), col("cq"))
            + doti(col("cq"), col("cq"))).as("d2"))
        .groupBy(col("vid"))
        .agg(min(col("d2")).as("best_d2"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("best_d2")).as("inertia"))
        .select(lit(k).cast("long").as("k"), col("n_vectors"), col("inertia"),
          expr("inertia div n_vectors").as("inertia_per_vec"))
    }.reduce(_.unionAll(_))
  }

  /** Nearest-centroid classification report: train per-label centroids
    * on one cohort (exact micro-mean algebra — the [[centroidDrift]]
    * convention), assign every held-out vector to its max-cosine
    * centroid, and emit the confusion matrix — the "are these labels
    * even separable in embedding space" eval before anyone trains a
    * real probe. Cosine ranks through floor(cos·10⁶ + ½) micro-rounding
    * with a lowest-label tie-break, so the argmax is engine- and
    * partitioning-deterministic.
    *
    * Scale design: centroids are |labels|·dim rows — broadcast against
    * the long-form eval cohort, partial-aggregated to |eval|·|labels|
    * score rows, argmax folded as max(struct) (never a ranked
    * materialization); the confusion collapse is |labels|² rows.
    */
  def centroidClassifier(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String, trainPred: Column): DataFrame = {
    val comps = df.filter(trainPred)
      .select(col(labelCol).as("cl"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("cl"), col("pos"))
      .agg(sum(floor(col("x") * 1e6).cast("long")).as("sm"),
        count(lit(1)).as("nc"))
      .select(col("cl"), col("pos"),
        expr("sign(sm) * (abs(sm) div nc)").cast("long").as("m"))
    val eval = df.filter(!trainPred)
      .select(col(idCol).as("vid"), col(labelCol).as("true_label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("vid"), col("true_label"), col("pos"),
        floor(col("x") * 1e6).cast("long").as("xm"))
    eval.join(broadcast(comps), Seq("pos"))
      .groupBy(col("vid"), col("true_label"), col("cl"))
      .agg(sum(col("xm") * col("m")).as("dot"),
        sum(col("xm") * col("xm")).as("qa"),
        sum(col("m") * col("m")).as("qc"))
      .select(col("vid"), col("true_label"),
        struct(
          when(col("qa") > 0 && col("qc") > 0,
            floor(col("dot").cast("double")
              / (sqrt(col("qa").cast("double")) * sqrt(col("qc").cast("double")))
              * lit(1e6) + lit(0.5)).cast("long"))
            .otherwise(lit(-2000000L)).as("cm"),
          (-col("cl")).as("neg_cl")).as("cand"))
      .groupBy(col("vid"), col("true_label"))
      .agg(max(col("cand")).as("best"))
      .select(col("true_label"), (-col("best.neg_cl")).as("pred_label"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  // ---- q277: label separability of the embedding space ------------------------
  // Even vec_ids train, odd ones evaluate — the q252 cohort convention.
  private def q277(s: SparkSession, d: String): DataFrame =
    centroidClassifier(Tables.embeddings(s, d), "vec_id", "label",
        "embedding", col("vec_id") % 2 === 0)
      .orderBy(col("true_label"), col("pred_label"))
  private val q277Sql =
    """WITH tr AS (
         SELECT label AS cl, i - 1 AS pos,
           sum(floor(embedding[i]::DOUBLE * 1e6)::BIGINT)::BIGINT AS sm,
           count(*)::BIGINT AS nc
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
         WHERE vec_id % 2 = 0 GROUP BY 1, 2),
       m AS (
         SELECT cl, pos,
           (sign(sm)::BIGINT * (abs(sm) // nc))::BIGINT AS m
         FROM tr),
       ev AS (
         SELECT vec_id, label, i - 1 AS pos,
           floor(embedding[i]::DOUBLE * 1e6)::BIGINT AS xm
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
         WHERE vec_id % 2 = 1),
       sc AS (
         SELECT ev.vec_id, ev.label, m.cl,
           sum(ev.xm * m.m)::BIGINT AS dot,
           sum(ev.xm * ev.xm)::BIGINT AS qa,
           sum(m.m * m.m)::BIGINT AS qc
         FROM ev JOIN m ON ev.pos = m.pos GROUP BY 1, 2, 3),
       ranked AS (
         SELECT vec_id, label, cl,
           CASE WHEN qa > 0 AND qc > 0
             THEN floor(dot::DOUBLE / (sqrt(qa::DOUBLE) * sqrt(qc::DOUBLE))
               * 1e6 + 0.5)::BIGINT
             ELSE -2000000 END AS cm
         FROM sc),
       best AS (
         SELECT vec_id, label, cl FROM ranked
         QUALIFY row_number() OVER (PARTITION BY vec_id
           ORDER BY cm DESC, cl) = 1)
       SELECT label AS true_label, cl AS pred_label, count(*)::BIGINT AS n
       FROM best GROUP BY 1, 2 ORDER BY 1, 2"""

  /** k-NN distance outliers: each vector scored by the mean of its k
    * smallest exact L2² distances (int8-quantized BIGINT algebra — the
    * elbow/ADC kernel), largest means first — the density-based "this
    * embedding sits in nobody's neighborhood" detector that catches
    * corrupt rows and out-of-domain data before training. The mean is
    * Σtop-k div k, so boundary ties (equal d²) cannot change the score.
    *
    * This is the EXACT all-pairs baseline (like q29's cosine pairs —
    * correct at fixture scale, quadratic by intent); at corpus scale use
    * [[knnOutliersIvf]] — the REGISTERED bucketed variant (q350) that
    * keeps the same mean-of-top-k scoring over IVF bucket candidates,
    * recall-gated against this baseline by its acceptance spec. Ranking
    * rides the bounded-heap aggregator: k rows per vector cross the
    * wire, never a ranked materialization.
    */
  def knnOutliers(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, topN: Int): DataFrame = {
    require(k >= 1 && topN >= 1, "knnOutliers needs k >= 1 and topN >= 1")
    val q8 = vectors.select(col(idCol).as("vid"), quantize8(col(vecCol)).as("q8"))
    val scored = q8.as("a").join(q8.as("b"), col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("query_id"), col("b.vid").as("neighbor_id"),
        (-(doti(col("a.q8"), col("a.q8"))
          - lit(2L) * doti(col("a.q8"), col("b.q8"))
          + doti(col("b.q8"), col("b.q8")))).cast("double").as("c"))
    rankTopK(scored, k)
      .groupBy(col("query_id"))
      .agg((-sum(col("cos_sim"))).cast("long").as("d2_sum"),
        count(lit(1)).as("n_neighbors"))
      .select(col("query_id").as("vec_id"), col("n_neighbors"),
        expr(s"d2_sum div n_neighbors").as("knn_d2_mean"))
      .orderBy(col("knn_d2_mean").desc, col("vec_id"))
      .limit(topN)
  }

  /** Local outlier factor (Breunig et al. 2000) over the integer-
    * quantized squared-euclidean dissimilarity — the DENSITY-RATIO
    * companion to [[knnOutliers]]'s absolute-distance score: a point in
    * a sparse region next to a dense cluster scores high even when its
    * raw kNN distances are moderate.
    *
    * Integer-exact throughout: distances are [[graft.functions.TextFunctions.doti]]
    * BIGINT d² on int8-quantized vectors; reachability sums are BIGINT;
    * the final density ratio Σ_o lrd(o)/lrd(p) = Σ_o S(p)/S(o) is
    * evaluated as `(S(p)·10^6) div S(o)` summed then floor-divided by k
    * — parts-per-million, no floating point anywhere, so partitioning
    * and engine cannot change a single output bit. Degenerate
    * neighborhoods (≥ k+1 coincident points ⇒ reach-sum 0) clamp S to 1
    * rather than divide by zero. LOF ≈ 1e6 means inlier, >> 1e6 means
    * the neighbors are mutually much closer than they are to p.
    *
    * Scale: the all-pairs scoring here is the exact baseline (n·k rows
    * after the bounded-heap rank); for corpus scale feed the pair
    * stream from the IVF bucketing exactly as [[knnOutliersIvf]] does —
    * everything downstream of `knn` is id-keyed joins over k·n rows.
    */
  def lofOutliers(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, topN: Int): DataFrame = {
    require(k >= 1 && topN >= 1, "lofOutliers needs k >= 1 and topN >= 1")
    val q8 = vectors.select(col(idCol).as("vid"), quantize8(col(vecCol)).as("q8"))
    val scored = q8.as("a").join(q8.as("b"), col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("query_id"), col("b.vid").as("neighbor_id"),
        (-(doti(col("a.q8"), col("a.q8"))
          - lit(2L) * doti(col("a.q8"), col("b.q8"))
          + doti(col("b.q8"), col("b.q8")))).cast("double").as("c"))
    // The n·k-row kNN table feeds FIVE downstream join branches (kdist,
    // reach twice, the final score twice); checkpoint it once so the
    // O(N²) scoring join runs exactly once — the q196 LUT discipline.
    val knn = rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("cos_sim")).cast("long").as("d2"))
      .localCheckpoint() // stats-ok: one-shot kNN table; the O(N2) join runs once
    val kdist = knn.groupBy("query_id").agg(max(col("d2")).as("kd"))
    val reach = knn
      .join(kdist.select(col("query_id").as("neighbor_id"), col("kd")),
        Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(greatest(sum(greatest(col("kd"), col("d2"))), lit(1L)).as("s"))
    knn
      .join(reach.select(col("query_id"), col("s").as("sp")), Seq("query_id"))
      .join(reach.select(col("query_id").as("neighbor_id"), col("s").as("so")),
        Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(expr(s"sum((sp * 1000000) div so) div ${k}L").as("lof_ppm"))
      .select(col("query_id").as("vec_id"), col("lof_ppm"))
      .orderBy(col("lof_ppm").desc, col("vec_id"))
      .limit(topN)
  }

  /** Full Lloyd k-means over int8-quantized vectors, T iterations — the
    * codebook TRAINER behind the IVF family (ivfTopK / knnOutliersIvf
    * consume a partitioning like the one this produces; until now the
    * buckets were hash-seeded, this is the quality path).
    *
    * Cross-engine determinism (the [[Supervised.logisticFit]] recipe):
    * centroids live on the driver in exact MICRO-quantized integers
    * (so fractional means survive without floats); assignment is the
    * exact integer argmin of Σ(x·10⁶ − c)² with ties to the lowest
    * cluster id (one in-row array_min over (d², id) structs — no
    * shuffle); the update is floor-division of exact component sums.
    * Seeds are the k lowest-id vectors. Empty clusters keep their
    * previous centroid. Per-term bound: (254·10⁶)²·d ≈ 4.2e18·(d/64)
    * < 2^63 for d ≤ 140 — the caller's dimension contract.
    *
    * Scale: each iteration is one map-side assignment pass plus one
    * (cluster, dim)-keyed aggregation — k·d rows of METADATA collected
    * to the driver, never corpus data; T sequential scans total, the
    * Lloyd lower bound.
    */
  /** The exact integer argmin over MICRO-quantized centroids: one
    * (d², cluster) struct per centroid, array_min picks (min d², lowest
    * id) — a pure map-side expression over the int8-quantized vector
    * column `q`.
    */
  private def kmeansAssignExpr(cents: Array[Array[Long]]): Column = {
    val cands = cents.zipWithIndex.map { case (c, j) =>
      val d2 = aggregate(
        zip_with(col("q"), array(c.map(lit): _*), (a, b) => {
          val t = a * lit(1000000L) - b; t * t
        }), lit(0L), (acc, x) => acc + x)
      struct(d2.as("d2"), lit(j.toLong).as("cl"))
    }
    array_min(array(cands: _*))
  }

  /** Lloyd iterations only — returns the trained MICRO-integer centroid
    * arrays (driver metadata, k·d longs). [[kmeansFit]] reports the fit
    * summary; the IVF recall audit (q399) consumes the codebook itself.
    */
  def kmeansCentroids(q8df: DataFrame, k: Int,
      iters: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = q8df.orderBy("vid").limit(k).collect()
      .map(_.getSeq[Long](1).map(_ * 1000000L).toArray)
    require(cents.length == k, s"kmeansCentroids: fewer than $k vectors")
    for (_ <- 1 to iters) {
      val sums = q8df.select(kmeansAssignExpr(cents).getField("cl").as("cl"),
          col("q"))
        .select(col("cl"), posexplode(col("q")))
        .toDF("cl", "j", "v")
        .groupBy("cl", "j").agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
      val byCl = sums.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCl.get(j.toLong).fold(old) { rows =>
          val next = old.clone()
          rows.foreach { r =>
            next(r.getInt(1)) =
              Math.floorDiv(r.getLong(2) * 1000000L, r.getLong(3))
          }
          next
        }
      }
    }
    cents
  }

  def kmeansFit(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "kmeansFit needs k >= 1 and iters >= 1")
    val q8df = vectors.select(col(idCol).as("vid"),
      quantize8(col(vecCol)).as("q")).persist()
    try {
      val cents = kmeansCentroids(q8df, k, iters)
      q8df.select(kmeansAssignExpr(cents).as("a"))
        .select(col("a.cl").as("cluster"), col("a.d2").as("d2"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          expr("cast(sum(cast(d2 as decimal(38,0))) div 1000000000000 " +
            "as bigint)").as("wcss_unit2"))
        .orderBy("cluster")
    } finally q8df.unpersist()
  }

  // ---- q381: 4-way Lloyd codebook over the embedding corpus ------------------
  private def q381(s: SparkSession, d: String): DataFrame =
    kmeansFit(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 4, iters = 3)
  /** Quantized squared distance between a q8 row `v` and a micro
    * centroid row `c` — the oracle spelling of [[kmeansAssignExpr]]. */
  private def kmD2(v: String, c: String, d: Int) =
    s"""list_sum(list_transform(range(1, ${d + 1}),
      j -> ($v.q[j]*1000000 - $c.c[j]) * ($v.q[j]*1000000 - $c.c[j])))"""

  /** Nearest-centroid CTE: rank `srcTab`'s rows against `cTab`. */
  private def kmAssignLevel(name: String, srcTab: String, cTab: String,
      d: Int) =
    s"""$name AS MATERIALIZED (
      SELECT vid, q, cl, d2 FROM (
        SELECT v.vid, v.q, c.cl, ${kmD2("v", "c", d)}::HUGEINT AS d2,
          row_number() OVER (PARTITION BY v.vid
            ORDER BY ${kmD2("v", "c", d)}, c.cl) AS rk
        FROM $srcTab v, $cTab c) WHERE rk = 1)"""

  /** The Lloyd CTE chain (q8 → seeds → T (assign, mean, centroid)
    * triples) shared by q381's fit summary and q399's IVF audit.
    * Returns (levels, finalCentroidTable).
    */
  private def kmeansCtes(k: Int, iters: Int, d: Int)
      : (Seq[String], String) = {
    import Supervised.fd
    val levels = scala.collection.mutable.ArrayBuffer(
      """q8 AS MATERIALIZED (
        SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
          (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
          * 127)::BIGINT) AS q
        FROM embeddings)""",
      s"""c0 AS MATERIALIZED (
        SELECT (row_number() OVER (ORDER BY vid) - 1)::BIGINT AS cl,
          list_transform(q, v -> v * 1000000) AS c
        FROM q8 ORDER BY vid LIMIT $k)""")
    for (i <- 1 to iters) {
      levels += kmAssignLevel(s"a$i", "q8", s"c${i - 1}", d)
      levels += s"""m$i AS MATERIALIZED (
        SELECT cl, j, ${fd("sum(q[j])*1000000", "count(*)")}::BIGINT AS cc
        FROM a$i, range(1, ${d + 1}) r(j) GROUP BY cl, j)"""
      levels += s"""c$i AS MATERIALIZED (
        SELECT o.cl, coalesce(n.c, o.c) AS c
        FROM c${i - 1} o LEFT JOIN (
          SELECT cl, list(cc ORDER BY j) AS c FROM m$i GROUP BY cl) n
        ON n.cl = o.cl)"""
    }
    (levels.toSeq, s"c$iters")
  }

  private val q381Sql = {
    import Supervised.fd
    val (levels, cFin) = kmeansCtes(k = 4, iters = 3, d = 64)
    s"""WITH ${(levels :+ kmAssignLevel("fin", "q8", cFin, 64))
        .mkString(",\n")}
      SELECT cl AS cluster, count(*)::BIGINT AS n,
        ${fd("sum(d2)", "1000000000000")}::BIGINT AS wcss_unit2
      FROM fin GROUP BY cl ORDER BY cl"""
  }

  // ---- q380: density-ratio outliers over the embedding corpus ----------------
  private def q380(s: SparkSession, d: String): DataFrame =
    lofOutliers(Tables.embeddings(s, d), "vec_id", "embedding",
      k = 5, topN = 20)
  private val q380Sql =
    """WITH q8 AS MATERIALIZED (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       d AS MATERIALIZED (
         SELECT a.vid AS q, b.vid AS n,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM q8 a JOIN q8 b ON a.vid != b.vid),
       knn AS MATERIALIZED (
         SELECT q, n, d2 FROM (
           SELECT q, n, d2, row_number() OVER (PARTITION BY q
             ORDER BY d2, n) AS rn
           FROM d) WHERE rn <= 5),
       kdist AS MATERIALIZED (SELECT q, max(d2)::BIGINT AS kd FROM knn GROUP BY q),
       s AS MATERIALIZED (
         SELECT knn.q, greatest(sum(greatest(ko.kd, knn.d2)), 1)::BIGINT AS s
         FROM knn JOIN kdist ko ON ko.q = knn.n GROUP BY knn.q),
       lof AS (
         SELECT knn.q AS vec_id,
           (sum((sp.s * 1000000) // so.s) // 5)::BIGINT AS lof_ppm
         FROM knn JOIN s sp ON sp.q = knn.q JOIN s so ON so.q = knn.n
         GROUP BY knn.q)
       SELECT vec_id, lof_ppm FROM lof
       ORDER BY lof_ppm DESC, vec_id LIMIT 20"""

  /** Bucketed SCALE PATH for [[knnOutliers]]: the same mean-of-top-k
    * L2² outlier score, but each vector's neighbor candidates come from
    * its IVF bucket instead of the full corpus — the all-pairs join
    * (O(N²)) becomes a bucket-equality self-join (O(N²/K) pairs for K
    * balanced buckets), which is the shape that survives a 100-TB
    * corpus. Assignment is argmin quantized L2² to the seed set
    * (broadcast seeds + max(struct) hash aggregation with map-side
    * partials, ties to the lowest seed id — the [[ivfAssign]]
    * discipline, in the SAME int8 metric the outlier score uses so the
    * whole operator is one exact BIGINT algebra). Ranking rides the
    * bounded heap: k rows per vector per map partial cross the wire.
    *
    * Approximation contract: scores are an UPPER BOUND proxy — a
    * vector's true k nearest may live beyond its probed buckets, so
    * bucketed means ≥ exact means, and genuinely isolated vectors (the
    * targets) rank first in both; `nprobe` is the recall lever (each
    * vector's CANDIDATES come from its nprobe nearest buckets, the
    * [[ivfTopKProbes]] discipline — the acceptance spec pins top-set
    * recall vs the exact [[knnOutliers]] ranking at nprobe = 4). A
    * vector with no candidate in its probed buckets emits no row — at
    * real scale seed counts are sized so buckets hold thousands of
    * vectors; the spec covers the contract at fixture scale.
    */
  /** Shared IVF candidate scorer under [[knnOutliersIvf]] and
    * [[knnEdgesIvf]]: every vector is ASSIGNED to its argmin-L2² seed
    * bucket (broadcast seeds + max(struct) hash aggregation with
    * map-side partials, ties to the lowest seed id — the [[ivfAssign]]
    * discipline) and PROBES its `nprobe` nearest buckets; candidates
    * are the bucket-equality join of probes × assignments, scored with
    * the same exact int8 −L2² kernel ([[rankTopK]]'s `c` convention).
    * A candidate lives in exactly one bucket and probed clusters are
    * distinct per query, so no pair is scored twice — no distinct pass.
    * The all-pairs O(N²) join becomes O(N²·nprobe/K) for K balanced
    * buckets — the shape that survives a 100-TB corpus.
    */
  private def ivfCandidateScores(vectors: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    def d2(a: Column, b: Column): Column =
      doti(a, a) - lit(2L) * doti(a, b) + doti(b, b)
    val q8 = vectors.select(col(idCol).as("vid"), quantize8(col(vecCol)).as("q8"))
    val sq = seeds.select(col(idCol).as("seed_id"), quantize8(col(vecCol)).as("sq"))
    val assigned = q8.join(broadcast(sq))
      .select(col("vid"),
        struct((-d2(col("q8"), col("sq"))).as("neg_d2"),
          (-col("seed_id")).as("neg_seed"), col("q8").as("v")).as("cand"))
      .groupBy(col("vid"))
      .agg(max(col("cand")).as("best"))
      .select(col("vid"), col("best.v").as("q8"),
        (-col("best.neg_seed")).as("cluster"))
    // Each vector probes its nprobe nearest seed buckets (d2 asc, seed
    // asc — the bounded-heap ranking, |seeds| scored rows per vector,
    // all broadcast work).
    val probeScored = q8.join(broadcast(sq))
      .select(col("vid").as("query_id"), col("seed_id").as("neighbor_id"),
        (-d2(col("q8"), col("sq"))).cast("double").as("c"))
    val probes = rankTopK(probeScored, nprobe)
      .select(col("query_id").as("vid"), col("neighbor_id").as("cluster"))
      .join(q8, "vid")
    probes.as("a")
      .join(assigned.as("b"), col("a.cluster") === col("b.cluster")
        && col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("query_id"), col("b.vid").as("neighbor_id"),
        (-d2(col("a.q8"), col("b.q8"))).cast("double").as("c"))
  }

  def knnOutliersIvf(vectors: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, k: Int, topN: Int, nprobe: Int = 1): DataFrame = {
    require(k >= 1 && topN >= 1 && nprobe >= 1,
      "knnOutliersIvf needs k, topN, nprobe >= 1")
    val scored = ivfCandidateScores(vectors, seeds, idCol, vecCol, nprobe)
    rankTopK(scored, k)
      .groupBy(col("query_id"))
      .agg((-sum(col("cos_sim"))).cast("long").as("d2_sum"),
        count(lit(1)).as("n_neighbors"))
      .select(col("query_id").as("vec_id"), col("n_neighbors"),
        expr(s"d2_sum div n_neighbors").as("knn_d2_mean"))
      .orderBy(col("knn_d2_mean").desc, col("vec_id"))
      .limit(topN)
  }

  /** Exact int8 GRAM MATRIX of an embedding column — the distributed
    * linear-algebra backbone under covariance/PCA/feature-correlation:
    * G[i][j] = Σ_rows q[i]·q[j] over the int8-quantized vectors, upper
    * triangle only. The whole-corpus pass happens INSIDE mapPartitions
    * with ONE d·(d+1)/2 long-array accumulator per partition (the
    * treeAggregate discipline expressed relationally): each partition
    * emits d·(d+1)/2 partial rows NO MATTER HOW MANY VECTORS it read,
    * and the only shuffle is the (i, j)-keyed partial merge —
    * partitions·d² rows, corpus-size-independent. Exact BIGINT
    * throughout (int8 products can't overflow a Long until ~5·10¹⁴
    * rows per partition).
    */
  def gramMatrix(vectors: DataFrame, vecCol: String): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    vectors.select(quantize8(col(vecCol)).as("q"))
      .as[Seq[Long]]
      .mapPartitions { it =>
        var acc: Array[Long] = null
        var d = 0
        it.foreach { q =>
          if (acc == null) { d = q.size; acc = new Array[Long](d * (d + 1) / 2) }
          val arr = q.toArray
          var i = 0
          var p = 0
          while (i < d) {
            var j = i
            while (j < d) {
              acc(p) += arr(i) * arr(j)
              p += 1
              j += 1
            }
            i += 1
          }
        }
        if (acc == null) Iterator.empty
        else {
          var i = 0
          var p = 0
          val out = new Array[(Int, Int, Long)](d * (d + 1) / 2)
          while (i < d) {
            var j = i
            while (j < d) { out(p) = (i, j, acc(p)); p += 1; j += 1 }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("i", "j", "gp")
      .groupBy(col("i"), col("j")).agg(sum(col("gp")).as("g"))
  }

  /** Top principal direction of the int8 Gram by POWER ITERATION: the
    * corpus is touched exactly once (the [[gramMatrix]] pass); the
    * d×d matrix itself is METADATA (4 KB·d²/2) collected to the driver,
    * where `iters` deterministic matvec+normalize rounds run from the
    * all-ones start — left-to-right double sums mirrored
    * operation-for-operation by the oracle's recursive CTE, so the
    * result is bit-identical cross-engine (no RNG: fixed start, fixed
    * iteration count, sign pinned by the start's positive projection).
    * Output: one row per dimension with the component (round6) plus the
    * Rayleigh-quotient eigenvalue estimate.
    */
  def powerIteration(vectors: DataFrame, vecCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "powerIteration needs iters >= 1")
    val s = vectors.sparkSession
    import s.implicits._
    val tri = gramMatrix(vectors, vecCol)
      .as[(Int, Int, Long)].collect()
    require(tri.nonEmpty, "powerIteration needs at least one vector")
    val d = tri.map(_._2).max + 1
    val g = Array.ofDim[Double](d, d)
    tri.foreach { case (i, j, v) => g(i)(j) = v.toDouble; g(j)(i) = v.toDouble }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      // u = G·v, λ = v·u, v ← u/‖u‖ — every sum left-to-right, the
      // exact operation order the oracle's list_sum folds replay.
      val u = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += g(i)(j) * v(j); j += 1 }
        u(i) = acc
        i += 1
      }
      lambda = 0.0
      i = 0
      while (i < d) { lambda += v(i) * u(i); i += 1 }
      var n2 = 0.0
      i = 0
      while (i < d) { n2 += u(i) * u(i); i += 1 }
      val n = math.sqrt(n2)
      i = 0
      while (i < d) { u(i) = u(i) / n; i += 1 }
      v = u
    }
    val out = v.zipWithIndex.map { case (c, i) =>
      (i.toLong, math.floor(c * 1e6 + 0.5) / 1e6 + 0.0,
        math.floor(lambda * 1e2 + 0.5) / 1e2 + 0.0)
    }
    s.createDataset(out.toSeq).toDF("dim", "component", "eigenvalue")
  }

  /** Per-group alignment with the corpus' TOP PRINCIPAL DIRECTION — the
    * "which labels/sources carry the dominant variance axis" audit run
    * after [[powerIteration]]: every vector's projection onto the
    * (round6, sign-pinned) principal component, quantized to micro per
    * ROW (one float dot then one floor — after that the aggregation is
    * exact BIGINT, so distributed sum order cannot wobble the result),
    * collapsed per group to count/min/max/mean.
    *
    * Scale shape: the eigenvector is a d-sized literal broadcast into a
    * map-side dot-product pass; one partial-aggregated groupBy —
    * |groups| rows cross the wire. (Two corpus scans total: the Gram
    * pass inside [[powerIteration]] and the projection pass.)
    */
  def principalProjectionByGroup(vectors: DataFrame, groupCol: String,
      vecCol: String, iters: Int): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val comp = powerIteration(vectors, vecCol, iters)
      .orderBy(col("dim")).select(col("component")).as[Double].collect().toSeq
    vectors.select(col(groupCol).as("g"), quantize8(col(vecCol)).as("q"))
      .withColumn("vl", typedLit(comp))
      .select(col("g"), floor(expr(
        """aggregate(sequence(1, size(q)), cast(0 as double),
           (acc, i) -> acc + cast(element_at(q, i) as double)
             * element_at(vl, i))""") * lit(1e6)).cast("long").as("p"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("p")).as("min_proj_micro"),
        max(col("p")).as("max_proj_micro"), sum(col("p")).as("s"))
      .select(col("g"), col("n"), col("min_proj_micro"),
        col("max_proj_micro"),
        expr("""cast((case when s < 0 then -1L else 1L end)
             * (abs(cast(s as decimal(38,0))) div n) as long)""")
          .as("mean_proj_micro"))
  }

  /** PCA RESIDUAL outliers: the vectors least explained by the corpus'
    * top principal direction — residual² = ‖q‖²·10¹² − p², where ‖q‖²
    * is the exact BIGINT quantized norm and p the micro-floored
    * projection from [[principalProjectionByGroup]]'s pass, so after
    * the single per-row float dot everything is exact integer algebra
    * (both terms sit in raw²·10¹² units and fit a Long at int8/64-dim).
    * The complement of [[knnOutliers]]: that flags density isolation,
    * this flags DIRECTIONAL nonconformity — rows whose variance the
    * dominant axis cannot account for (corrupt embeddings, off-domain
    * modalities). Ranked by orderBy+limit — Spark plans
    * TakeOrderedAndProject (per-partition bounded top-N, no global
    * sort), and the BIGINT key means no float ranking wobble.
    */
  def pcaResidualOutliers(vectors: DataFrame, idCol: String, vecCol: String,
      iters: Int, topN: Int): DataFrame = {
    require(topN >= 1, "pcaResidualOutliers needs topN >= 1")
    val s = vectors.sparkSession
    import s.implicits._
    val comp = powerIteration(vectors, vecCol, iters)
      .orderBy(col("dim")).select(col("component")).as[Double].collect().toSeq
    vectors
      .select(col(idCol).as("vec_id"), quantize8(col(vecCol)).as("q"))
      .withColumn("vl", typedLit(comp))
      .select(col("vec_id"),
        floor(expr(
          """aggregate(sequence(1, size(q)), cast(0 as double),
             (acc, i) -> acc + cast(element_at(q, i) as double)
               * element_at(vl, i))""") * lit(1e6)).cast("long").as("p"),
        expr("aggregate(q, 0L, (acc, x) -> acc + x * x)").as("q2"))
      .select(col("vec_id"),
        (col("q2") * lit(1000000000000L) - col("p") * col("p"))
          .as("residual_sq"))
      .orderBy(col("residual_sq").desc, col("vec_id"))
      .limit(topN)
  }

  /** IVF probe-budget sweep: recall@k vs `nprobe` against the exact
    * cosine ranking, one summary row per probe budget — the
    * cost/quality curve an index deployment picks its operating point
    * from ("nprobe 2 reaches 91% at an eighth of brute cost"), where
    * q86/q136 report a single fixed budget. Recall totals are exact
    * integer counts; recall_micro = hits·10⁶ div exact.
    *
    * Scale design: the exact baseline is computed ONCE and each probe
    * budget reuses the same assignment relation ([[ivfTopKProbes]]'s
    * shape — the corpus is scanned for assignment, then probed per
    * budget; nothing quadratic, all ranking through the bounded heap).
    */
  def ivfProbeSweep(corpus: DataFrame, seeds: DataFrame, queryFilter: Column,
      idCol: String, vecCol: String, k: Int, nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1))
    val exact = bruteTopK(corpus.filter(queryFilter), corpus, idCol, vecCol, k)
      .localCheckpoint(false) // stats-ok: one-shot exact reference reused per nprobe
    nprobes.map { np =>
      recallReport(exact,
          ivfTopKProbes(corpus, seeds, queryFilter, idCol, vecCol, k, np))
        .agg(count(lit(1)).as("n_queries"), sum(col("n_exact")).as("n_exact"),
          sum(col("n_hit")).as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("n_exact"), col("n_hit"),
          expr("(n_hit * 1000000L) div n_exact").as("recall_micro"))
    }.reduce(_.unionAll(_))
  }

  // ---- q302: how many probes buy how much recall? -----------------------------
  private def q302(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    ivfProbeSweep(e, e.filter(col("vec_id") < NumSeeds),
        col("vec_id") < NumQueries, "vec_id", "embedding", TopK,
        Seq(1, 2, 4))
      .orderBy(col("nprobe"))
  }
  private val q302Sql = {
    def perProbe(np: Int): String =
      s"""SELECT $np::BIGINT AS nprobe, e.query_id,
        count(*)::BIGINT AS n_exact,
        count(a.neighbor_id)::BIGINT AS n_hit
      FROM ex e LEFT JOIN (
        SELECT query_id, neighbor_id FROM (
          SELECT s2.query_id, s2.neighbor_id,
            row_number() OVER (PARTITION BY s2.query_id
              ORDER BY s2.c DESC, s2.neighbor_id) AS rank
          FROM (
            SELECT p.query_id, n.vec_id AS neighbor_id,
              list_sum(list_transform(range(1, len(q.embedding) + 1),
                k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
              / (sqrt(list_sum(list_transform(q.embedding,
                   x -> x::DOUBLE * x::DOUBLE)))
                 * sqrt(list_sum(list_transform(n.embedding,
                   x -> x::DOUBLE * x::DOUBLE)))) AS c
            FROM (SELECT vec_id AS query_id, seed_id AS cluster FROM (
                SELECT vec_id, seed_id, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sc DESC, seed_id) AS prn
                FROM cos WHERE vec_id < $NumQueries) t
              WHERE prn <= $np) p
            JOIN embeddings q ON q.vec_id = p.query_id
            JOIN assigned n ON n.cluster = p.cluster
              AND n.vec_id != p.query_id) s2) t
        WHERE rank <= $TopK) a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY e.query_id"""
    s"""WITH cos AS (
         SELECT a.vec_id, s.vec_id AS seed_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * s.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS sc
         FROM embeddings a JOIN embeddings s ON s.vec_id < $NumSeeds),
       assigned AS (
         SELECT c2.vec_id, c2.embedding, t.seed_id AS cluster
         FROM (SELECT vec_id, seed_id FROM (
             SELECT vec_id, seed_id, row_number() OVER (PARTITION BY vec_id
               ORDER BY sc DESC, seed_id) AS arn FROM cos) x
           WHERE arn = 1) t
         JOIN embeddings c2 ON c2.vec_id = t.vec_id),
       sims_e AS (
         SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             k -> q.embedding[k]::DOUBLE * n.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(n.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
         WHERE q.vec_id < $NumQueries),
       ex AS (
         SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY c DESC, neighbor_id) AS rank
           FROM sims_e) t WHERE rank <= $TopK),
       perq AS (${Seq(1, 2, 4).map(perProbe).mkString("\nUNION ALL\n")})
       SELECT nprobe, count(*)::BIGINT AS n_queries,
         sum(n_exact)::BIGINT AS n_exact, sum(n_hit)::BIGINT AS n_hit,
         ((sum(n_hit) * 1000000) // sum(n_exact))::BIGINT AS recall_micro
       FROM perq GROUP BY nprobe ORDER BY nprobe"""
  }

  /** Embedding-table health audit per group: row count, zero-norm rows
    * (an all-zero vector breaks every cosine downstream), and the
    * min/max/mean of the squared L2 norm in micro-units — the "did the
    * embedding job silently emit garbage" gate run before any index
    * build. Norms ride the codegen'd [[graft.functions.TextFunctions.l2sq]]
    * kernel (double left-to-right accumulation, bit-identical to the
    * oracle's `list_sum` form) and quantize AFTER the kernel as
    * floor(norm²·10⁶) — one deterministic float path, then exact BIGINT
    * aggregation (sign-split mean; norms are nonnegative but the
    * convention costs nothing).
    *
    * Scale design: one map-side kernel pass, one partial-aggregated
    * groupBy — |groups| rows cross the wire.
    */
  def embeddingAudit(df: DataFrame, groupCol: Column,
      vecCol: Column): DataFrame = {
    val n2 = floor(graft.functions.TextFunctions.l2sq(vecCol) * lit(1e6))
      .cast("long")
    df.select(groupCol.as("g"), n2.as("n2"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        count(when(col("n2") === 0, 1)).as("n_zero"),
        min(col("n2")).as("min_norm2_micro"),
        max(col("n2")).as("max_norm2_micro"),
        sum(col("n2")).as("s"))
      .select(col("g"), col("n"), col("n_zero"), col("min_norm2_micro"),
        col("max_norm2_micro"),
        expr("sign(s) * (abs(s) div n)").cast("long")
          .as("mean_norm2_micro"))
  }

  // ---- q293: is any label's embedding mass degenerate? ------------------------
  private def q293(s: SparkSession, d: String): DataFrame =
    embeddingAudit(Tables.embeddings(s, d), col("label"), col("embedding"))
      .orderBy(col("g"))
  private val q293Sql =
    """WITH b AS (
         SELECT label AS g,
           floor(list_sum(list_transform(embedding,
             x -> x::DOUBLE * x::DOUBLE)) * 1e6)::BIGINT AS n2
         FROM embeddings)
       SELECT g, count(*)::BIGINT AS n,
         count(CASE WHEN n2 = 0 THEN 1 END)::BIGINT AS n_zero,
         min(n2)::BIGINT AS min_norm2_micro,
         max(n2)::BIGINT AS max_norm2_micro,
         (sign(sum(n2))::BIGINT * (abs(sum(n2)) // count(*)))::BIGINT
           AS mean_norm2_micro
       FROM b GROUP BY g ORDER BY g"""

  // ---- q286: which embeddings sit in nobody's neighborhood? -------------------
  private def q286(s: SparkSession, d: String): DataFrame =
    knnOutliers(Tables.embeddings(s, d), "vec_id", "embedding",
        k = 5, topN = 20)
  private val q286Sql =
    """WITH q8 AS (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       d AS (
         SELECT a.vid AS q, b.vid AS n,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM q8 a JOIN q8 b ON a.vid != b.vid),
       top AS (
         SELECT q, d2 FROM (
           SELECT q, d2, row_number() OVER (PARTITION BY q
             ORDER BY d2, n) AS rn
           FROM d) t WHERE rn <= 5)
       SELECT q AS vec_id, count(*)::BIGINT AS n_neighbors,
         (sum(d2) // count(*))::BIGINT AS knn_d2_mean
       FROM top GROUP BY q
       ORDER BY knn_d2_mean DESC, vec_id LIMIT 20"""

  // ---- q350: the q286 outlier scan through IVF buckets ------------------------
  // Same mean-of-top-k L2² score, neighbor candidates restricted to the
  // vector's bucket — the registered demonstration that the outlier
  // scan has a non-quadratic route (the prose claim q286 carries, made
  // oracle-checked).
  private def q350(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    knnOutliersIvf(e, e.filter(col("vec_id") < NumSeeds), "vec_id",
      "embedding", k = 5, topN = 20, nprobe = 4)
  }
  private val q350Sql =
    s"""WITH q8 AS (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       sd AS (SELECT vid AS seed_id, q AS sq FROM q8 WHERE vid < $NumSeeds),
       sc AS (
         SELECT a.vid, a.q, s.seed_id,
           row_number() OVER (PARTITION BY a.vid ORDER BY
             list_sum(list_transform(range(1, len(a.q) + 1),
               i -> (a.q[i] - s.sq[i]) * (a.q[i] - s.sq[i]))),
             s.seed_id) AS rn
         FROM q8 a CROSS JOIN sd s),
       asg AS (
         SELECT vid, q, seed_id AS cluster FROM sc WHERE rn = 1),
       prb AS (
         SELECT vid, q, seed_id AS cluster FROM sc WHERE rn <= 4),
       d AS (
         SELECT a.vid AS q, b.vid AS n,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM prb a JOIN asg b ON a.cluster = b.cluster AND a.vid != b.vid),
       top AS (
         SELECT q, d2 FROM (
           SELECT q, d2, row_number() OVER (PARTITION BY q
             ORDER BY d2, n) AS rn
           FROM d) t WHERE rn <= 5)
       SELECT q AS vec_id, count(*)::BIGINT AS n_neighbors,
         (sum(d2) // count(*))::BIGINT AS knn_d2_mean
       FROM top GROUP BY q
       ORDER BY knn_d2_mean DESC, vec_id LIMIT 20"""

  // ---- q420: the centrality family's graph builder through IVF buckets --------
  // The q350 discipline applied to EDGES: same assignment/probe oracle
  // chain, bounded-heap kNN-3 per vector, (u, v) rows out — the
  // registered demonstration that the kNN-graph build (the q407/q414
  // entry point) has a non-quadratic route.
  private def q420(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    knnEdgesIvf(e, e.filter(col("vec_id") < NumSeeds), "vec_id",
      "embedding", k = 3, nprobe = 4).orderBy(col("u"), col("v"))
  }
  private[operators] val q420Sql = knnEdgesIvfSql("")

  /** Generated [[knnEdgesIvf]] oracle; `corpusWhere` restricts the
    * corpus (the q438 delete twin reuses it over the survivors).
    */
  private def knnEdgesIvfSql(corpusWhere: String): String =
    s"""WITH q8 AS (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings $corpusWhere),
       sd AS (SELECT vid AS seed_id, q AS sq FROM q8 WHERE vid < $NumSeeds),
       sc AS (
         SELECT a.vid, a.q, s.seed_id,
           row_number() OVER (PARTITION BY a.vid ORDER BY
             list_sum(list_transform(range(1, len(a.q) + 1),
               i -> (a.q[i] - s.sq[i]) * (a.q[i] - s.sq[i]))),
             s.seed_id) AS rn
         FROM q8 a CROSS JOIN sd s),
       asg AS (
         SELECT vid, q, seed_id AS cluster FROM sc WHERE rn = 1),
       prb AS (
         SELECT vid, q, seed_id AS cluster FROM sc WHERE rn <= 4),
       d AS (
         SELECT a.vid AS u, b.vid AS v,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM prb a JOIN asg b ON a.cluster = b.cluster AND a.vid != b.vid)
       SELECT u, v FROM (
         SELECT u, v, row_number() OVER (PARTITION BY u
           ORDER BY d2, v) AS rn
         FROM d) t WHERE rn <= 3
       ORDER BY u, v"""

  // ---- q359: the exact Gram matrix of the embedding corpus --------------------
  // The one-pass distributed reduction every covariance/PCA/correlation
  // readout sits on; 2080 exact BIGINT cells out of a corpus-sized scan.
  private def q359(s: SparkSession, d: String): DataFrame =
    gramMatrix(Tables.embeddings(s, d), "embedding")
      .orderBy(col("i"), col("j"))
  private val q359Sql =
    """WITH q8 AS (
         SELECT list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings)
       SELECT i.i::INT AS i, j.j::INT AS j,
         sum(a.q[i.i + 1] * a.q[j.j + 1])::BIGINT AS g
       FROM q8 a
       CROSS JOIN (SELECT unnest(range(64)) AS i) i
       CROSS JOIN (SELECT unnest(range(64)) AS j) j
       WHERE i.i <= j.j
       GROUP BY 1, 2 ORDER BY i, j"""

  // ---- q360: top principal direction by power iteration -----------------------
  // 12 deterministic matvec+normalize rounds on the driver-side d x d
  // Gram (metadata; the corpus pass is q359's). The oracle replays the
  // identical float recurrence as a recursive CTE over DOUBLE lists —
  // same left-to-right sums, same normalize order, same fixed start.
  private val PowerIters = 12
  private def q360(s: SparkSession, d: String): DataFrame =
    powerIteration(Tables.embeddings(s, d), "embedding", PowerIters)
      .orderBy(col("dim"))
  private val q360Sql =
    s"""WITH RECURSIVE q8 AS (
         SELECT list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       gm AS (
         SELECT i.i, j.j, sum(a.q[i.i + 1] * a.q[j.j + 1])::BIGINT AS g
         FROM q8 a
         CROSS JOIN (SELECT unnest(range(64)) AS i) i
         CROSS JOIN (SELECT unnest(range(64)) AS j) j
         GROUP BY 1, 2),
       grows AS (
         SELECT i, list(g::DOUBLE ORDER BY j) AS row FROM gm GROUP BY i),
       gmat AS (SELECT list(row ORDER BY i) AS m FROM grows),
       it AS (
         SELECT 0 AS t,
           list_transform(range(64), x -> 1.0 / sqrt(64.0)) AS v,
           0.0::DOUBLE AS lambda
         FROM gmat
         UNION ALL
         SELECT t + 1,
           list_transform(
             list_transform(range(1, 65), i -> list_sum(
               list_transform(range(1, 65), j -> m[i][j] * v[j]))),
             x -> x / sqrt(list_sum(list_transform(
               list_transform(range(1, 65), i -> list_sum(
                 list_transform(range(1, 65), j -> m[i][j] * v[j]))),
               u -> u * u)))),
           list_sum(list_transform(range(1, 65), i -> v[i] * list_sum(
             list_transform(range(1, 65), j -> m[i][j] * v[j]))))
         FROM it, gmat WHERE t < $PowerIters)
       SELECT (u.i - 1)::BIGINT AS dim,
         floor(v[u.i] * 1e6 + 0.5) / 1e6 + 0.0 AS component,
         floor(lambda * 1e2 + 0.5) / 1e2 + 0.0 AS eigenvalue
       FROM it, unnest(range(1, 65)) AS u(i)
       WHERE t = $PowerIters ORDER BY dim"""

  // ---- q361: which labels carry the dominant variance axis? -------------------
  private def q361(s: SparkSession, d: String): DataFrame =
    principalProjectionByGroup(Tables.embeddings(s, d), "label",
        "embedding", PowerIters)
      .orderBy(col("g"))
  private val q361Sql =
    s"""WITH RECURSIVE q8l AS (
         SELECT label, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       gm AS (
         SELECT i.i, j.j, sum(a.q[i.i + 1] * a.q[j.j + 1])::BIGINT AS g
         FROM q8l a
         CROSS JOIN (SELECT unnest(range(64)) AS i) i
         CROSS JOIN (SELECT unnest(range(64)) AS j) j
         GROUP BY 1, 2),
       grows AS (
         SELECT i, list(g::DOUBLE ORDER BY j) AS row FROM gm GROUP BY i),
       gmat AS (SELECT list(row ORDER BY i) AS m FROM grows),
       it AS (
         SELECT 0 AS t,
           list_transform(range(64), x -> 1.0 / sqrt(64.0)) AS v
         FROM gmat
         UNION ALL
         SELECT t + 1,
           list_transform(
             list_transform(range(1, 65), i -> list_sum(
               list_transform(range(1, 65), j -> m[i][j] * v[j]))),
             x -> x / sqrt(list_sum(list_transform(
               list_transform(range(1, 65), i -> list_sum(
                 list_transform(range(1, 65), j -> m[i][j] * v[j]))),
               u -> u * u))))
         FROM it, gmat WHERE t < $PowerIters),
       vr AS (
         SELECT list_transform(range(1, 65),
           i -> floor(v[i] * 1e6 + 0.5) / 1e6 + 0.0) AS vl
         FROM it WHERE t = $PowerIters),
       pr AS (
         SELECT a.label AS g,
           floor(list_sum(list_transform(range(1, 65),
             i -> a.q[i]::DOUBLE * vr.vl[i])) * 1e6)::BIGINT AS p
         FROM q8l a, vr)
       SELECT g, count(*)::BIGINT AS n,
         min(p)::BIGINT AS min_proj_micro,
         max(p)::BIGINT AS max_proj_micro,
         (CASE WHEN sum(p) < 0 THEN -1 ELSE 1 END
           * (abs(sum(p))::HUGEINT // count(*)))::BIGINT AS mean_proj_micro
       FROM pr GROUP BY g ORDER BY g"""

  // ---- q362: embeddings the dominant axis cannot explain ----------------------
  private def q362(s: SparkSession, d: String): DataFrame =
    pcaResidualOutliers(Tables.embeddings(s, d), "vec_id", "embedding",
      PowerIters, topN = 20)
  private val q362Sql =
    s"""WITH RECURSIVE q8l AS (
         SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       gm AS (
         SELECT i.i, j.j, sum(a.q[i.i + 1] * a.q[j.j + 1])::BIGINT AS g
         FROM q8l a
         CROSS JOIN (SELECT unnest(range(64)) AS i) i
         CROSS JOIN (SELECT unnest(range(64)) AS j) j
         GROUP BY 1, 2),
       grows AS (
         SELECT i, list(g::DOUBLE ORDER BY j) AS row FROM gm GROUP BY i),
       gmat AS (SELECT list(row ORDER BY i) AS m FROM grows),
       it AS (
         SELECT 0 AS t,
           list_transform(range(64), x -> 1.0 / sqrt(64.0)) AS v
         FROM gmat
         UNION ALL
         SELECT t + 1,
           list_transform(
             list_transform(range(1, 65), i -> list_sum(
               list_transform(range(1, 65), j -> m[i][j] * v[j]))),
             x -> x / sqrt(list_sum(list_transform(
               list_transform(range(1, 65), i -> list_sum(
                 list_transform(range(1, 65), j -> m[i][j] * v[j]))),
               u -> u * u))))
         FROM it, gmat WHERE t < $PowerIters),
       vr AS (
         SELECT list_transform(range(1, 65),
           i -> floor(v[i] * 1e6 + 0.5) / 1e6 + 0.0) AS vl
         FROM it WHERE t = $PowerIters),
       pr AS (
         SELECT a.vec_id,
           floor(list_sum(list_transform(range(1, 65),
             i -> a.q[i]::DOUBLE * vr.vl[i])) * 1e6)::BIGINT AS p,
           list_sum(list_transform(a.q, x -> x * x))::BIGINT AS q2
         FROM q8l a, vr)
       SELECT vec_id,
         (q2 * 1000000000000 - p * p)::BIGINT AS residual_sq
       FROM pr ORDER BY residual_sq DESC, vec_id LIMIT 20"""

  // ---- q265: elbow table over the int8-quantized corpus -----------------------
  private def q265(s: SparkSession, d: String): DataFrame =
    kmeansElbow(Tables.embeddings(s, d), "vec_id", "embedding", Seq(2, 4, 8))
      .orderBy(col("k"))
  private val q265Sql =
    """WITH q8 AS (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       ks AS (SELECT unnest([2, 4, 8]) AS k),
       best AS (
         SELECT ks.k, e.vid,
           min(list_sum(list_transform(range(1, len(e.q) + 1),
             i -> (e.q[i] - c.q[i]) * (e.q[i] - c.q[i]))))::BIGINT AS best_d2
         FROM ks JOIN q8 c ON c.vid < ks.k CROSS JOIN q8 e
         GROUP BY 1, 2)
       SELECT k::BIGINT AS k, count(*)::BIGINT AS n_vectors,
         sum(best_d2)::BIGINT AS inertia,
         (sum(best_d2) // count(*))::BIGINT AS inertia_per_vec
       FROM best GROUP BY k ORDER BY k"""

  /** Exact k-nearest-neighbor EDGES over the int8-quantized L2² kernel
    * (the [[knnOutliers]] distance, the [[rankTopK]] determinism:
    * ties by d² then neighbor id) — the geometric graph every
    * embedding-topology read starts from ([[graft.operators.Graph.closenessCentrality]],
    * component structure, hub detection). Directed (u → its k nearest);
    * symmetrize downstream as the consumer requires.
    *
    * Scale: the self-join here is the exact baseline for a CAPPED id
    * domain; at corpus scale [[knnEdgesIvf]] is the same bounded-heap
    * ranking over IVF-bucketed candidates.
    */
  def knnEdges(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "knnEdges needs k >= 1")
    val q8 = vectors.select(col(idCol).as("vid"), quantize8(col(vecCol)).as("q8"))
    val scored = q8.as("a").join(q8.as("b"), col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("query_id"), col("b.vid").as("neighbor_id"),
        (-(doti(col("a.q8"), col("a.q8"))
          - lit(2L) * doti(col("a.q8"), col("b.q8"))
          + doti(col("b.q8"), col("b.q8")))).cast("double").as("c"))
    rankTopK(scored, k)
      .select(col("query_id").as("u"), col("neighbor_id").as("v"))
  }

  /** Bucketed SCALE PATH for [[knnEdges]] — the [[knnOutliersIvf]]
    * discipline applied to EDGES: every vector's neighbor candidates
    * come from its `nprobe` nearest IVF buckets instead of the full
    * corpus ([[ivfCandidateScores]]), then the same bounded-heap
    * [[rankTopK]] emits each vector's k nearest as directed (u, v)
    * rows. This is the entry point the whole embedding-centrality
    * family ([[graft.operators.Graph.closenessCentrality]],
    * [[graft.operators.Graph.betweennessSampled]]) rides at corpus
    * scale — O(N²·nprobe/K) candidate pairs for K balanced buckets,
    * never the corpus×corpus join.
    *
    * Approximation contract: a vector's true k nearest may live beyond
    * its probed buckets, so the edge set is a SUBSET-biased
    * approximation of [[knnEdges]]'s; with nprobe ≥ |seeds| every
    * bucket is probed and the output is bit-identical to the exact
    * builder (spec-pinned). `nprobe` is the recall lever — the
    * acceptance spec pins edge-set recall ≥ 0.7 at the q420 operating
    * point (16 seeds, nprobe = 4). A vector whose probed buckets hold
    * no other vector emits no edges (isolated in the graph read).
    */
  def knnEdgesIvf(vectors: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    require(k >= 1 && nprobe >= 1, "knnEdgesIvf needs k, nprobe >= 1")
    rankTopK(ivfCandidateScores(vectors, seeds, idCol, vecCol, nprobe), k)
      .select(col("query_id").as("u"), col("neighbor_id").as("v"))
  }

  private def d2q(a: Column, b: Column): Column =
    doti(a, a) - lit(2L) * doti(a, b) + doti(b, b)

  /** Assignment + probe metadata per vector: (vid, q8, cluster, probes)
    * where cluster = the nearest seed (d² asc, seed asc — identical to
    * [[ivfCandidateScores]]'s assignment) and probes = the sorted set of
    * the nprobe nearest seed ids. All broadcast work against |seeds|.
    */
  private def ivfAssignProbes(q8: DataFrame, sq: DataFrame,
      nprobe: Int): DataFrame = {
    val probeScored = q8.join(broadcast(sq))
      .select(col("vid").as("query_id"), col("seed_id").as("neighbor_id"),
        (-d2q(col("q8"), col("sq"))).cast("double").as("c"))
    rankTopK(probeScored, nprobe)
      .groupBy(col("query_id").as("vid"))
      .agg(
        min(when(col("rank") === 1, col("neighbor_id"))).as("cluster"),
        sort_array(collect_list(col("neighbor_id"))).as("probes"))
      .join(q8, Seq("vid"))
      .select(col("vid"), col("q8"), col("cluster"), col("probes"))
  }

  /** Per-vector kNN-IVF STATE for incremental graph maintenance — the
    * carried artifact between embedding appends (the [[dbscanState]]
    * discipline applied to the kNN graph): one row per vector with its
    * int8 quantization, IVF bucket assignment, probed-bucket set, and
    * k-nearest list WITH exact d² scores `topk:
    * array<struct<d2: double, neighbor_id: long>>` (ascending — scores
    * are integral, so carrying them loses nothing). The scores — not
    * just the edges — are carried because appends must re-rank: top-k
    * over (old candidates ∪ Δ) equals top-k over (carried top-k ∪ Δ)
    * for ANY total order, the bounded-merge identity that lets
    * [[knnEdgesIvfIncrement]] rescore only Δ-sized candidate sets.
    * [[knnIvfEdges]] reads the [[knnEdgesIvf]] edge list off the state
    * with no data access; state(base ∪ Δ) ≡ increment(state(base), Δ)
    * bit for bit (spec-pinned).
    */
  def knnIvfState(vectors: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 1): DataFrame = {
    require(k >= 1 && nprobe >= 1, "knnIvfState needs k, nprobe >= 1")
    val q8 = vectors.select(col(idCol).as("vid"),
      quantize8(col(vecCol)).as("q8"))
    val sq = seeds.select(col(idCol).as("seed_id"),
      quantize8(col(vecCol)).as("sq"))
    val ap = ckptNoStats(ivfAssignProbes(q8, sq, nprobe))
    val asg = ap.select(col("vid").as("bid"), col("q8").as("bq"),
      col("cluster"))
    val cand = ap.select(col("vid"), col("q8"),
        explode(col("probes")).as("cluster"))
      .join(asg, Seq("cluster"))
      .filter(col("vid") =!= col("bid"))
      .select(col("vid").as("query_id"), col("bid").as("neighbor_id"),
        (-d2q(col("q8"), col("bq"))).cast("double").as("c"))
    attachTopK(ap, rankTopK(cand, k))
  }

  /** Fold ranked candidates into (vid, q8, cluster, probes, topk). */
  private def attachTopK(ap: DataFrame, ranked: DataFrame): DataFrame =
    ap.join(
      ranked.groupBy(col("query_id").as("vid"))
        .agg(sort_array(collect_list(
          struct((-col("cos_sim")).as("d2"), col("neighbor_id"))))
          .as("topk")),
      Seq("vid"), "left")
      .select(col("vid"), col("q8"), col("cluster"), col("probes"),
        col("topk"))

  /** The [[knnEdgesIvf]] (u, v) edge list read off a [[knnIvfState]] —
    * no data access; isolated vectors (null topk) emit no rows.
    */
  def knnIvfEdges(state: DataFrame): DataFrame =
    state.filter(col("topk").isNotNull)
      .select(col("vid").as("u"), explode(col("topk")).as("t"))
      .select(col("u"), col("t.neighbor_id").as("v"))

  /** Fold an APPEND batch of embeddings into a [[knnIvfState]] —
    * incremental kNN-graph / IVF-index maintenance (the steady state of
    * a production embedding pipeline is appends; r10 What's-missing #2).
    * With the seed set FIXED (pass the SAME seeds the state was built
    * with — assignments are deterministic in them), an append can only
    * (a) add Δ rows, each scored against the assigned members of its
    * probed buckets — |Δ|·nprobe·bucket-density work, and (b) improve
    * the top-k of base vectors that PROBE a bucket some Δ vector was
    * ASSIGNED to: those re-rank their carried top-k against only the Δ
    * members of their probed buckets (the bounded-merge identity on
    * [[knnIvfState]]'s carried scores). Base vectors probing no touched
    * bucket pass through UNTOUCHED — never a corpus×corpus rebuild; the
    * only base-sized work is one metadata-width scan against the
    * broadcast Δ-cluster set. Returns the new state, BIT-IDENTICAL to
    * knnIvfState(base ∪ Δ) (spec-pinned). Append-only: Δ ids must be
    * fresh (guarded); deletions would need the reverse candidate
    * relation the state deliberately drops.
    */
  def knnEdgesIvfIncrement(state: DataFrame, delta: DataFrame,
      seeds: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(k >= 1 && nprobe >= 1, "knnEdgesIvfIncrement needs k, nprobe >= 1")
    val st = ckptNoStats(state)
    val dq8 = ckptNoStats(delta.select(col(idCol).as("vid"),
      quantize8(col(vecCol)).as("q8")))
    require(dq8.join(st.select(col("vid")), Seq("vid")).isEmpty,
      "knnEdgesIvfIncrement is append-only: delta ids must be fresh")
    val sq = seeds.select(col(idCol).as("seed_id"),
      quantize8(col(vecCol)).as("sq"))
    val dap = ckptNoStats(ivfAssignProbes(dq8, sq, nprobe))
    // (a) Δ rows score against ALL assigned members of their probed
    // buckets (base ∪ Δ — Δ-Δ pairs included, as in the full build).
    val asgAll = st.select(col("vid").as("bid"), col("q8").as("bq"),
        col("cluster"))
      .unionByName(dap.select(col("vid").as("bid"), col("q8").as("bq"),
        col("cluster")))
    val dCand = dap.select(col("vid"), col("q8"),
        explode(col("probes")).as("cluster"))
      .join(asgAll, Seq("cluster"))
      .filter(col("vid") =!= col("bid"))
      .select(col("vid").as("query_id"), col("bid").as("neighbor_id"),
        (-d2q(col("q8"), col("bq"))).cast("double").as("c"))
    val deltaState = attachTopK(dap, rankTopK(dCand, k))
    // (b) Base vectors probing a bucket Δ touched: re-rank carried top-k
    // against the Δ members of their probed buckets only.
    val dAsg = ckptNoStats(dap.select(col("vid").as("bid"), col("q8").as("bq"),
      col("cluster")))
    val dClusters = dAsg.select(col("cluster")).distinct()
    val affected = st.select(col("vid"), explode(col("probes")).as("cluster"))
      .join(broadcast(dClusters), Seq("cluster"))
      .select(col("vid")).distinct()
    val aff = ckptNoStats(st.join(affected, Seq("vid"), "left_semi"))
    val addCand = aff.select(col("vid"), col("q8"),
        explode(col("probes")).as("cluster"))
      .join(dAsg, Seq("cluster"))
      .select(col("vid").as("query_id"), col("bid").as("neighbor_id"),
        (-d2q(col("q8"), col("bq"))).cast("double").as("c"))
    val carried = aff.filter(col("topk").isNotNull)
      .select(col("vid").as("query_id"), explode(col("topk")).as("t"))
      .select(col("query_id"), col("t.neighbor_id").as("neighbor_id"),
        (-col("t.d2")).as("c"))
    val affState = attachTopK(
      aff.select(col("vid"), col("q8"), col("cluster"), col("probes")),
      rankTopK(addCand.unionByName(carried), k))
    st.join(affected, Seq("vid"), "left_anti")
      .unionByName(affState)
      .unionByName(deltaState)
  }

  /** Fold a DELETE batch out of a [[knnIvfState]] — the delete twin of
    * [[knnEdgesIvfIncrement]]. Deleting vectors shrinks candidate sets
    * only: a surviving vector's top-k changes iff its CARRIED top-k
    * contains a deleted neighbor (dropping a non-top-k candidate can
    * never surface — the carried scores make affectedness an exact,
    * local test). Affected vectors re-score their probed buckets'
    * surviving assigned members in full (the (k+1)-th candidate is not
    * carried, so a bucket re-scan is the price of a top-k hit — cost
    * |affected|·bucket-density, Δ-driven for sparse deletes); everyone
    * else passes through untouched. Assignments and probes never change
    * (seed centroids are PARAMETERS — deleting the vector a seed was
    * taken from removes it as a neighbor, not as a centroid; pass the
    * same seed set when comparing to a full rebuild). BIT-IDENTICAL to
    * knnIvfState(survivors) (spec-pinned). Pass the k the state was
    * built with; delete ids must exist in the state (guarded).
    */
  def knnIvfStateDelete(state: DataFrame, deleteIds: DataFrame,
      idCol: String, k: Int): DataFrame = {
    require(k >= 1, "knnIvfStateDelete needs k >= 1")
    val st = ckptNoStats(state)
    val del = ckptNoStats(deleteIds.select(col(idCol).cast("long").as("vid"))
      .distinct())
    require(del.join(st.select(col("vid")), Seq("vid"), "left_anti").isEmpty,
      "knnIvfStateDelete: every delete id must exist in the state")
    if (del.isEmpty) return st
    val rest = ckptNoStats(st.join(del, Seq("vid"), "left_anti"))
    val affected = rest.filter(col("topk").isNotNull)
      .select(col("vid"), explode(col("topk")).as("t"))
      .join(del.select(col("vid").as("t_n")),
        col("t.neighbor_id") === col("t_n"), "left_semi")
      .select(col("vid")).distinct()
    val aff = ckptNoStats(rest.join(affected, Seq("vid"), "left_semi"))
    val asgRest = rest.select(col("vid").as("bid"), col("q8").as("bq"),
      col("cluster"))
    val cand = aff.select(col("vid"), col("q8"),
        explode(col("probes")).as("cluster"))
      .join(asgRest, Seq("cluster"))
      .filter(col("vid") =!= col("bid"))
      .select(col("vid").as("query_id"), col("bid").as("neighbor_id"),
        (-d2q(col("q8"), col("bq"))).cast("double").as("c"))
    val affState = attachTopK(
      aff.select(col("vid"), col("q8"), col("cluster"), col("probes")),
      rankTopK(cand, k))
    rest.join(affected, Seq("vid"), "left_anti")
      .unionByName(affState)
  }

  /** Grid-bucketed DBSCAN over a 2-D point set — the density-based
    * member of the clustering family beside [[kmeansFit]] (centroid),
    * [[Dedup.dedupClusters]] (transitive near-dup) and [[lofOutliers]]
    * (density OUTLIERS; DBSCAN's noise set is the cluster-shaped
    * complement of the same idea). Exact DBSCAN semantics: a point with
    * >= minPts neighbors within eps (count includes itself) is CORE;
    * clusters are the connected components of the core-core eps-graph;
    * a non-core point with a core neighbor is a BORDER of its minimum
    * core neighbor's cluster (deterministic tie-break); everything else
    * is NOISE.
    *
    * Scale design — the eps-join never goes all-pairs: coordinates are
    * micro-quantized and bucketed into eps-sized grid cells, one side
    * explodes to the HALF-PLANE 5 of its 9 neighbor cells (dist <= eps
    * forces cell deltas within +-1; pair symmetry d(a,b) = d(b,a) makes
    * the other 4 offsets redundant — see [[gridEpsPairs]]), and the
    * equi-join on the cell key finds EXACTLY the candidate pairs, each
    * unordered pair once. Costs one 5x explode and one hash shuffle on
    * cell keys; per-cell work is bounded by local density, the standard
    * spatial-join contract. Components close via the pointer-doubled
    * [[Dedup.dedupClusters]] fixpoint, so chain-shaped clusters converge
    * in O(log diameter) rounds.
    *
    * Returns one row per cluster (cluster_id = min member id, n_points,
    * n_core, n_border) plus a cluster_id = -1 noise row, ordered by
    * n_points DESC. Ids must be >= 0.
    */
  /** The symmetric eps-neighbor relation (aid, bid) over quantized grid
    * points (id, x, y, cx, cy) via a HALF-PLANE 5-of-9 cell probe: the
    * candidate side explodes to the home cell plus the four
    * lexicographically-positive neighbor offsets only — each unordered
    * pair is discovered exactly once (cross-cell pairs because exactly
    * one of ±(cellΔ) is lexicographically positive; same-cell pairs by
    * the aid < bid tie-break) — and the symmetric relation both
    * directions of the dbscan contract need is two projections of the
    * checkpointed half. Versus the full 3×3 explode this halves the
    * candidate join input AND the distance-filter work (guide §2.3
    * "shuffle fewer bytes" applied by pair symmetry: d(a,b) = d(b,a)).
    */
  private def gridEpsPairs(pts: DataFrame, e: Column): DataFrame = {
    val probe = pts.select(col("id").as("aid"), col("x").as("ax"),
      col("y").as("ay"), col("cx").as("jcx"), col("cy").as("jcy"))
    val cand = pts.select(col("id").as("bid"), col("x").as("bx"),
        col("y").as("by"), col("cx").as("bcx"), col("cy").as("bcy"),
        explode(array(
          struct(lit(0L).as("dx"), lit(0L).as("dy")),
          struct(lit(0L).as("dx"), lit(1L).as("dy")),
          struct(lit(1L).as("dx"), lit(-1L).as("dy")),
          struct(lit(1L).as("dx"), lit(0L).as("dy")),
          struct(lit(1L).as("dx"), lit(1L).as("dy")))).as("o"))
      .select(col("bid"), col("bx"), col("by"),
        col("bcx"), col("bcy"),
        (col("bcx") + col("o.dx")).as("jcx"),
        (col("bcy") + col("o.dy")).as("jcy"))
    val half = ckptNoStats(probe.join(cand, Seq("jcx", "jcy"))
      .filter(((col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= e * e) &&
        (col("aid") < col("bid") ||
          col("jcx") =!= col("bcx") || col("jcy") =!= col("bcy")))
      .select(col("aid"), col("bid")))
    half.unionAll(half.select(col("bid").as("aid"), col("aid").as("bid")))
  }

  def dbscanGrid(points: DataFrame, idCol: String, xCol: Column,
      yCol: Column, epsMicro: Long, minPts: Int): DataFrame = {
    require(epsMicro > 0 && minPts >= 1, "need epsMicro > 0, minPts >= 1")
    val e = lit(epsMicro)
    def fdiv(a: Column): Column =
      (call_function("div", a, e) +
        when((a % e) < 0, -1L).otherwise(0L)).cast("long")
    val pts = points.select(col(idCol).cast("long").as("id"),
        floor(xCol.cast("double") * 1e6).cast("long").as("x"),
        floor(yCol.cast("double") * 1e6).cast("long").as("y"))
      .withColumn("cx", fdiv(col("x")))
      .withColumn("cy", fdiv(col("y")))
      .localCheckpoint(false) // stats-ok: one-shot quantized points feeding the grid probe
    val nbr = gridEpsPairs(pts, e)
    // All census-assembly joins hash-build their node-sized side
    // (core / label tables ≤ |P| rows): the checkpointed leaves carry
    // no stats, so the default choice would sort the pair-sized stream
    // at every join (guide §3.1).
    val core = ckptNoStats(pts.join(
        nbr.groupBy("aid").agg(count(lit(1)).as("nc"))
          .hint("shuffle_hash"),
        col("id") === col("aid"), "left")
      .filter(coalesce(col("nc"), lit(0L)) + 1 >= minPts)
      .select(col("id")))
    // Core-core edges + self-pairs (isolated cores form singleton
    // clusters; dedupClusters only labels nodes that appear in a pair).
    val ce = nbr
      .join(core.withColumnRenamed("id", "aid").hint("shuffle_hash"),
        Seq("aid"))
      .join(core.withColumnRenamed("id", "bid").hint("shuffle_hash"),
        Seq("bid"))
      .select(col("aid"), col("bid"))
      .union(core.select(col("id").as("aid"), col("id").as("bid")))
    val labs = Dedup.dedupClusters(ce, "aid", "bid")
    val borders = nbr
      .join(core.withColumnRenamed("id", "aid").hint("shuffle_hash"),
        Seq("aid"), "left_anti")
      .join(core.withColumnRenamed("id", "bid").hint("shuffle_hash"),
        Seq("bid"))
      .join(labs.withColumnRenamed("doc_id", "bid").hint("shuffle_hash"),
        Seq("bid"))
      .groupBy("aid").agg(min("cluster_id").as("cluster_id"))
    val clusters = labs.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_core"))
      .join(borders.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_border")), Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        (col("n_core") + coalesce(col("n_border"), lit(0L))).as("n_points"),
        col("n_core"), coalesce(col("n_border"), lit(0L)).as("n_border"))
    val noise = pts
      .join(core.withColumnRenamed("id", "nid").hint("shuffle_hash"),
        col("id") === col("nid"), "left_anti")
      .join(borders.withColumnRenamed("aid", "nid").hint("shuffle_hash"),
        col("id") === col("nid"), "left_anti")
      .agg(count(lit(1)).as("n_points"))
      .select(lit(-1L).as("cluster_id"), col("n_points"),
        lit(0L).as("n_core"), lit(0L).as("n_border"))
    clusters.unionAll(noise)
      .orderBy(col("n_points").desc, col("cluster_id"))
  }

  /** Per-point DBSCAN STATE for incremental maintenance — the carried
    * artifact between corpus refreshes: one row per point with its
    * micro coordinates, eps-neighbor count, core cluster label (null
    * for non-core) and the SET of adjacent core cluster labels `bcls`
    * (null for points with no core neighbor). The set — not just its
    * min — is carried because cluster MERGES remap labels: a border
    * next to clusters {5, 7} must follow 7 when 7 merges into 1
    * elsewhere, which the scalar min alone cannot see.
    * [[dbscanCensus]] derives the [[dbscanGrid]] census from state
    * alone; [[dbscanGridIncrement]] folds an insert batch into it
    * touching only increment neighborhoods.
    */
  def dbscanState(points: DataFrame, idCol: String, xCol: Column,
      yCol: Column, epsMicro: Long, minPts: Int): DataFrame = {
    require(epsMicro > 0 && minPts >= 1, "need epsMicro > 0, minPts >= 1")
    val e = lit(epsMicro)
    def fdiv(a: Column): Column =
      (call_function("div", a, e) +
        when((a % e) < 0, -1L).otherwise(0L)).cast("long")
    val pts = ckptNoStats(points.select(col(idCol).cast("long").as("id"),
        floor(xCol.cast("double") * 1e6).cast("long").as("x"),
        floor(yCol.cast("double") * 1e6).cast("long").as("y"))
      .withColumn("cx", fdiv(col("x")))
      .withColumn("cy", fdiv(col("y"))))
    // Labels share the id domain (label = min core id of the component),
    // so a negative id could collide with the census's -1 noise sentinel.
    // One driver action, not two: the old `agg.head || agg.head` form ran
    // the aggregation job twice.
    val minId = pts.agg(min(col("id"))).head
    require(minId.isNullAt(0) || minId.getLong(0) >= 0L,
      "dbscanState: point ids must be >= 0 (labels share the id domain; " +
        "-1 is the census noise sentinel)")
    val nbr = gridEpsPairs(pts, e)
    // Node-sized sides hash-build, pair-sized streams never sort — the
    // same census-assembly join discipline as [[dbscanGrid]].
    val base = ckptNoStats(pts.join(
        nbr.groupBy("aid").agg(count(lit(1)).as("nc"))
          .hint("shuffle_hash"),
        col("id") === col("aid"), "left")
      .select(col("id"), col("x"), col("y"),
        coalesce(col("nc"), lit(0L)).as("ncnt")))
    val core = base.filter(col("ncnt") + 1 >= minPts).select(col("id"))
    val ce = nbr
      .join(core.withColumnRenamed("id", "aid").hint("shuffle_hash"),
        Seq("aid"))
      .join(core.withColumnRenamed("id", "bid").hint("shuffle_hash"),
        Seq("bid"))
      .select(col("aid"), col("bid"))
      .union(core.select(col("id").as("aid"), col("id").as("bid")))
    val labs = Dedup.dedupClusters(ce, "aid", "bid")
    val borders = nbr
      .join(core.withColumnRenamed("id", "aid").hint("shuffle_hash"),
        Seq("aid"), "left_anti")
      .join(core.withColumnRenamed("id", "bid").hint("shuffle_hash"),
        Seq("bid"))
      .join(labs.withColumnRenamed("doc_id", "bid").hint("shuffle_hash"),
        Seq("bid"))
      .groupBy("aid")
      .agg(sort_array(collect_set(col("cluster_id"))).as("bcls"))
    base
      .join(labs.withColumnRenamed("doc_id", "id")
        .withColumnRenamed("cluster_id", "cluster").hint("shuffle_hash"),
        Seq("id"), "left")
      .join(borders.withColumnRenamed("aid", "id").hint("shuffle_hash"),
        Seq("id"), "left")
      .select(col("id"), col("x"), col("y"), col("ncnt"),
        col("cluster"), col("bcls"))
  }

  /** The [[dbscanGrid]] census derived from [[dbscanState]] alone — no
    * data access: clusters from core labels, borders from the min of
    * their adjacent-cluster set, noise = the unlabeled remainder.
    * dbscanCensus(dbscanState(p)) ≡ dbscanGrid(p) (spec-pinned).
    */
  def dbscanCensus(state: DataFrame): DataFrame = {
    val clusters = state.filter(col("cluster").isNotNull)
      .groupBy(col("cluster").as("cluster_id"))
      .agg(count(lit(1)).as("n_core"))
      .join(state.filter(col("cluster").isNull && col("bcls").isNotNull)
          .groupBy(array_min(col("bcls")).as("cluster_id"))
          .agg(count(lit(1)).as("n_border")),
        Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        (col("n_core") + coalesce(col("n_border"), lit(0L))).as("n_points"),
        col("n_core"), coalesce(col("n_border"), lit(0L)).as("n_border"))
    val noise = state.filter(col("cluster").isNull && col("bcls").isNull)
      .agg(count(lit(1)).as("n_points"))
      .select(lit(-1L).as("cluster_id"), col("n_points"),
        lit(0L).as("n_core"), lit(0L).as("n_border"))
    clusters.unionAll(noise)
      .orderBy(col("n_points").desc, col("cluster_id"))
  }

  /** Fold an INSERT batch into a [[dbscanState]] — incremental exact
    * DBSCAN maintenance (the q121 increment discipline applied to
    * density clustering): new points probe the existing eps-grid, so
    * candidate pairs, core promotions, and border-set updates all cost
    * |Δ|·local-density, never a base rescan; the returned state is
    * BIT-IDENTICAL to dbscanState(base ∪ Δ) (spec-pinned). Insertions
    * only ever (a) raise neighbor counts in Δ's neighborhoods, (b)
    * promote exactly those points to core, and (c) merge the touched
    * clusters — closed over the LABEL graph (old labels + new core ids,
    * bridged by the new core-core edges), a bounded relation the
    * pointer-doubled fixpoint collapses in log rounds. Label remaps
    * only ever DECREASE a label (new label = component min), so a
    * border's new min-adjacent-cluster is min(array_min(old set),
    * min over remapped/new contributions) — the identity that keeps
    * untouched border rows untouched. Insert-only (the published
    * IncrementalDBSCAN restriction: deletions need the full neighbor
    * relation, which the state deliberately does not carry). Δ ids must
    * be fresh and >= 0 (both guarded).
    *
    * Scale: two grid probes (Δ and the newly-core set, each exploded
    * 3×3 against the point set's cells), one label-table closure, and
    * label-keyed broadcast remaps; border-set rebuilds touch only rows
    * whose sets intersect the remapped labels or that gained a core
    * neighbor. The point set shuffles once per increment on cell keys —
    * pre-partition the carried state by (cx, cy) to co-locate
    * successive increments.
    */
  def dbscanGridIncrement(state: DataFrame, delta: DataFrame,
      idCol: String, xCol: Column, yCol: Column, epsMicro: Long,
      minPts: Int): DataFrame = {
    require(epsMicro > 0 && minPts >= 1, "need epsMicro > 0, minPts >= 1")
    val e = lit(epsMicro)
    def fdiv(a: Column): Column =
      (call_function("div", a, e) +
        when((a % e) < 0, -1L).otherwise(0L)).cast("long")
    def cells(df: DataFrame): DataFrame = df
      .withColumn("cx", fdiv(col("x"))).withColumn("cy", fdiv(col("y")))
    val st = ckptNoStats(state)
    val dpts = ckptNoStats(cells(delta.select(col(idCol).cast("long").as("id"),
        floor(xCol.cast("double") * 1e6).cast("long").as("x"),
        floor(yCol.cast("double") * 1e6).cast("long").as("y"))))
    require(dpts.join(st.select(col("id")), Seq("id")).isEmpty,
      "dbscanGridIncrement is insert-only: delta ids must be fresh")
    // Negative ids promoted to core would become cluster labels colliding
    // with dbscanCensus's -1 noise sentinel — reject them at the door.
    val dMinId = dpts.agg(min(col("id"))).head // one action, not two
    require(dMinId.isNullAt(0) || dMinId.getLong(0) >= 0L,
      "dbscanGridIncrement: delta ids must be >= 0 (labels share the id " +
        "domain; -1 is the census noise sentinel)")
    val allPts = ckptNoStats(cells(st.select(col("id"), col("x"), col("y")))
      .unionByName(dpts.select(col("id"), col("x"), col("y"),
        col("cx"), col("cy"))))
    // One grid probe of a (small) point set against every point's cell:
    // the probe side explodes 3×3, each qualifying pair is found once.
    def gridPairs(small: DataFrame): DataFrame = small
      .select(col("id").as("aid"), col("x").as("ax"), col("y").as("ay"),
        col("cx").as("pcx"), col("cy").as("pcy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("aid"), col("ax"), col("ay"),
        (col("pcx") + col("dx")).as("cx"),
        (col("pcy") + col("dy")).as("cy"))
      .join(allPts.select(col("id").as("bid"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("aid") =!= col("bid") &&
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= e * e)
      .select(col("aid"), col("bid"))
    val p1 = ckptNoStats(gridPairs(dpts))
    // Updated neighbor counts: base rows gain their Δ-neighbor count
    // (p1 rows whose bid is NOT a Δ id), Δ rows count all their pairs.
    val addB = p1.join(dpts.select(col("id").as("bid")), Seq("bid"),
        "left_anti")
      .groupBy(col("bid").as("id")).agg(count(lit(1)).as("add"))
    val dn = p1.groupBy(col("aid").as("id")).agg(count(lit(1)).as("dnc"))
    val baseUp = ckptNoStats(st
      .join(addB.hint("shuffle_hash"), Seq("id"), "left")
      .withColumn("ncnt2", col("ncnt") + coalesce(col("add"), lit(0L))))
    val deltaUp = ckptNoStats(dpts.join(dn, Seq("id"), "left")
      .withColumn("ncnt2", coalesce(col("dnc"), lit(0L))))
    // Newly-core points: base promotions + core Δ rows.
    val newCoreBase = ckptNoStats(baseUp
      .filter(col("ncnt") + 1 < minPts && col("ncnt2") + 1 >= minPts)
      .select(col("id"), col("x"), col("y")))
    val coreDelta = ckptNoStats(deltaUp.filter(col("ncnt2") + 1 >= minPts)
      .select(col("id")))
    val p2 = ckptNoStats(gridPairs(cells(newCoreBase)))
    // Representative per core-after point: old cores speak as their
    // label, new cores as themselves — the label graph's node set.
    val reps = ckptNoStats(st.filter(col("cluster").isNotNull)
      .select(col("id"), col("cluster").as("rep"))
      .unionByName(newCoreBase.select(col("id"), col("id").as("rep")))
      .unionByName(coreDelta.select(col("id"), col("id").as("rep"))))
    // New core-core edges at rep level (+ self-pairs so isolated new
    // cores form singleton clusters), closed transitively.
    val edges = p1.unionByName(p2)
      .join(reps.select(col("id").as("aid"), col("rep").as("r1"))
        .hint("shuffle_hash"), Seq("aid"))
      .join(reps.select(col("id").as("bid"), col("rep").as("r2"))
        .hint("shuffle_hash"), Seq("bid"))
      .select(col("r1"), col("r2"))
      .unionByName(newCoreBase.select(col("id")).unionByName(coreDelta)
        .select(col("id").as("r1"), col("id").as("r2")))
    val repMap = ckptNoStats(Dedup.dedupClusters(edges, "r1", "r2")
      .select(col("doc_id").as("rep"), col("cluster_id").as("lab")))
    // Every core-after point's final label: its rep, remapped.
    val clustered = ckptNoStats(reps
      .join(broadcast(repMap), Seq("rep"), "left")
      .select(col("id"), coalesce(col("lab"), col("rep")).as("clab")))
    // Border-set maintenance. New adjacent-core contributions: Δ points
    // take every core-after neighbor's label; base points take only
    // NEWLY-core neighbors (old core adjacency is already in the set).
    val contrib = ckptNoStats(p1.select(col("aid"), col("bid"))
      .unionByName(p1.select(col("bid").as("aid"), col("aid").as("bid")))
      .unionByName(p2.select(col("bid").as("aid"), col("aid").as("bid")))
      .join(clustered.withColumnRenamed("id", "bid")
        .withColumnRenamed("clab", "nlab"), Seq("bid"))
      .select(col("aid").as("id"), col("nlab")))
    // Old sets: explode only rows whose elements the repMap touches
    // (labels only ever decrease, so untouched rows keep their arrays),
    // rebuild those arrays element-remapped.
    val oldBorders = st.filter(col("cluster").isNull && col("bcls").isNotNull)
      .select(col("id"), col("bcls"))
    val exploded = oldBorders
      .select(col("id"), explode(col("bcls")).as("rep"))
    val remappedIds = exploded.join(broadcast(repMap), Seq("rep"))
      .select(col("id")).distinct()
    val rebuiltOld = exploded
      .join(remappedIds, Seq("id"), "left_semi")
      .join(broadcast(repMap), Seq("rep"), "left")
      .select(col("id"), coalesce(col("lab"), col("rep")).as("nlab"))
    // Rows needing a new array: remapped sets and/or new contributions;
    // rows keeping their old array contribute it wholesale beside the
    // new labels so one collect_set rebuilds the exact final set.
    val touchedIds = remappedIds
      .unionByName(contrib.select(col("id"))).distinct()
    val carried = oldBorders.join(remappedIds, Seq("id"), "left_anti")
      .join(contrib.select(col("id")).distinct(), Seq("id"), "left_semi")
      .select(col("id"), explode(col("bcls")).as("nlab"))
    val rebuilt = ckptNoStats(rebuiltOld
      .unionByName(contrib).unionByName(carried)
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("nlab"))).as("bcls2")))
    // Assemble: ncnt from the update pass, cluster from the remapped
    // rep table, border sets = rebuilt where touched else carried-over;
    // cores drop their set, borders/noise drop their label.
    val merged = baseUp
      .select(col("id"), col("x"), col("y"), col("ncnt2").as("ncnt"),
        col("bcls"))
      .unionByName(deltaUp.select(col("id"), col("x"), col("y"),
        col("ncnt2").as("ncnt"), lit(null).cast("array<long>").as("bcls")))
    // Hash-build the node-or-smaller right sides (core labels, rebuilt
    // border sets, touched ids) — the stats-dropped leaves would default
    // the whole assembly chain to sort-merge (guide §3.1).
    merged
      .join(clustered.hint("shuffle_hash"), Seq("id"), "left")
      .join(rebuilt.hint("shuffle_hash"), Seq("id"), "left")
      .join(touchedIds.withColumn("touched", lit(true))
        .hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("x"), col("y"), col("ncnt"),
        col("clab").as("cluster"),
        when(col("clab").isNotNull, lit(null).cast("array<long>"))
          .otherwise(when(col("touched"), col("bcls2"))
            .otherwise(col("bcls"))).as("bcls"))
  }

  /** Fold a DELETE batch into a [[dbscanState]] — the other half of
    * incremental exact DBSCAN (r10 What's-missing #3: GDPR-style
    * retention pipelines delete). Deletions only ever (a) LOWER neighbor
    * counts in the deleted points' eps-neighborhoods — computed by one
    * grid probe of the delete set against the remaining points, never a
    * base rescan, (b) DEMOTE exactly the cores that drop below minPts,
    * and (c) SPLIT or relabel the clusters that lost or demoted a core.
    * The state deliberately drops the neighbor relation the published
    * IncrementalDBSCAN deletes with, so splits are resolved by a
    * LOCALIZED RECOMPUTE: connectivity is rebuilt via a grid self-probe
    * over ONLY the member cores of touched clusters (components can
    * never merge on delete, and an untouched cluster's core set,
    * connectivity, and min-id label are all provably unchanged). Border
    * sets rebuild only for demoted cores and for non-core rows whose
    * label set intersects a touched cluster; everything else passes
    * through untouched. Returned state is BIT-IDENTICAL to
    * dbscanState(remaining points) (spec-pinned).
    *
    * Cost: |Δ|·density (count updates) + touched-members·density
    * (split recompute) + rebuilt-borders·density — the recompute is per
    * TOUCHED COMPONENT, so a delete that only trims leaves pays near
    * nothing while a bridge removal pays one component's rebuild.
    */
  def dbscanGridDelete(state: DataFrame, deleteIds: DataFrame,
      idCol: String, epsMicro: Long, minPts: Int): DataFrame = {
    require(epsMicro > 0 && minPts >= 1, "need epsMicro > 0, minPts >= 1")
    val e = lit(epsMicro)
    def fdiv(a: Column): Column =
      (call_function("div", a, e) +
        when((a % e) < 0, -1L).otherwise(0L)).cast("long")
    def cells(df: DataFrame): DataFrame = df
      .withColumn("cx", fdiv(col("x"))).withColumn("cy", fdiv(col("y")))
    def gridPairs(small: DataFrame, among: DataFrame): DataFrame = small
      .select(col("id").as("aid"), col("x").as("ax"), col("y").as("ay"),
        col("cx").as("pcx"), col("cy").as("pcy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("aid"), col("ax"), col("ay"),
        (col("pcx") + col("dx")).as("cx"),
        (col("pcy") + col("dy")).as("cy"))
      .join(among.select(col("id").as("bid"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("aid") =!= col("bid") &&
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= e * e)
      .select(col("aid"), col("bid"))
    val st = ckptNoStats(state)
    val del = ckptNoStats(deleteIds.select(col(idCol).cast("long").as("id"))
      .distinct())
    require(del.join(st.select(col("id")), Seq("id"), "left_anti").isEmpty,
      "dbscanGridDelete: every delete id must exist in the state")
    if (del.isEmpty) return st
    val rest = ckptNoStats(st.join(del, Seq("id"), "left_anti"))
    val dpts = ckptNoStats(cells(st.join(del, Seq("id"), "left_semi")
      .select(col("id"), col("x"), col("y"))))
    val restPts = ckptNoStats(cells(rest.select(col("id"), col("x"), col("y"))))
    // (a) neighbor-count drops: deleted × remaining pairs, one grid probe.
    val p1 = ckptNoStats(gridPairs(dpts, restPts))
    val sub = p1.groupBy(col("bid").as("id")).agg(count(lit(1)).as("drop"))
    val up = ckptNoStats(rest.join(sub.hint("shuffle_hash"), Seq("id"), "left")
      .withColumn("ncnt2", col("ncnt") - coalesce(col("drop"), lit(0L)))
      .withColumn("isCore", col("ncnt2") + 1 >= minPts))
    // (b)/(c) touched clusters: lost a core (deleted) or had one demote.
    val delCoreLabs = st.join(del, Seq("id"), "left_semi")
      .filter(col("cluster").isNotNull).select(col("cluster"))
    val demoted = ckptNoStats(
      up.filter(col("ncnt") + 1 >= minPts && !col("isCore")))
    val touched = ckptNoStats(delCoreLabs
      .unionByName(demoted.select(col("cluster"))).distinct())
    // Split recompute over ONLY the touched clusters' remaining cores.
    val members = ckptNoStats(up
      .filter(col("isCore"))
      .join(broadcast(touched), Seq("cluster"), "left_semi")
      .select(col("id"), col("x"), col("y")))
    val relab =
      if (members.isEmpty)
        members.select(col("id"), col("id").as("newlab"))
      else {
        val mc = ckptNoStats(cells(members))
        val p2 = gridPairs(mc, mc)
          .unionByName(members.select(col("id").as("aid"),
            col("id").as("bid")))
        Dedup.dedupClusters(p2, "aid", "bid")
          .select(col("doc_id").as("id"), col("cluster_id").as("newlab"))
      }
    // Final core labels: untouched keep theirs, touched take the
    // recomputed component min (labels can INCREASE on delete — the old
    // min may be gone — but never collide: a label is a member min, and
    // components are disjoint point sets).
    // relab is MEMBER-sized (one touched component can be big) — a plain
    // equi-join, no broadcast or shuffle_hash hint (a hashed build side
    // cannot spill); AQE picks the strategy.
    val coreLabs = ckptNoStats(up.filter(col("isCore"))
      .join(relab, Seq("id"), "left")
      .select(col("id"), col("x"), col("y"), col("ncnt2"),
        coalesce(col("newlab"), col("cluster")).as("clab")))
    // Border-set rebuild: demoted cores (need a set for the first time)
    // plus non-core rows whose set intersects a touched label.
    val touchedBorders = up
      .filter(!col("isCore") && col("cluster").isNull &&
        col("bcls").isNotNull)
      .select(col("id"), explode(col("bcls")).as("cluster"))
      .join(broadcast(touched), Seq("cluster"), "left_semi")
      .select(col("id")).distinct()
    val rebuildIds = ckptNoStats(touchedBorders
      .unionByName(demoted.select(col("id"))).distinct())
    val rebuildPts = cells(up.join(rebuildIds, Seq("id"), "left_semi")
      .select(col("id"), col("x"), col("y")))
    val coreCells = cells(coreLabs.select(col("id"), col("x"), col("y")))
    val newB = ckptNoStats(gridPairs(rebuildPts, coreCells)
      .join(coreLabs.select(col("id").as("bid"), col("clab"))
        .hint("shuffle_hash"), Seq("bid"))
      .groupBy(col("aid").as("id"))
      .agg(sort_array(collect_set(col("clab"))).as("bcls2")))
    // Assemble: cores drop their set; non-core rows take the rebuilt set
    // where rebuilt (absent row = no remaining core neighbor = noise),
    // else carry the old one. Node-sized right sides hash-build — the
    // stats-dropped leaves would default the chain to sort-merge.
    up.select(col("id"), col("x"), col("y"), col("ncnt2").as("ncnt"),
        col("isCore"), col("bcls"))
      .join(coreLabs.select(col("id"), col("clab")).hint("shuffle_hash"),
        Seq("id"), "left")
      .join(rebuildIds.withColumn("rebuilt", lit(true))
        .hint("shuffle_hash"), Seq("id"), "left")
      .join(newB.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), col("x"), col("y"), col("ncnt"),
        when(col("isCore"), col("clab"))
          .otherwise(lit(null).cast("long")).as("cluster"),
        when(col("isCore"), lit(null).cast("array<long>"))
          .otherwise(when(col("rebuilt"), col("bcls2"))
            .otherwise(col("bcls"))).as("bcls"))
  }

  /** Deterministic half-space-tree outlier scores (the midpoint-split
    * variant of HS-Trees / isolation forests): each tree recursively
    * bisects the data's bounding box — level l of tree t splits
    * dimension (l+t) mod k at the node's exact integer midpoint — and a
    * point's outlier score is its summed LEAF MASS across the k
    * rotated trees. Sparse regions isolate into near-empty leaves, so
    * LOW mass = anomalous. The linear-cost member of the outlier family
    * ([[knnOutliers]]/[[lofOutliers]] are pairwise): no join ever
    * exceeds corpus × trees rows, so this is the one that runs
    * uncapped at 100 TB.
    *
    * Determinism: coordinates micro-quantize once; node boxes come from
    * exact min/max aggregates; midpoints are floor divisions; node ids
    * are 2·node+side. No randomness — tree diversity comes from the
    * dimension rotation, the published HS-Tree structure with the
    * random split replaced by the midpoint (the deterministic choice).
    *
    * Scale: depth × (one partial-agg per (tree, node) + one broadcast
    * of the ≤ trees·2^level split table) — level-synchronous, the BFS
    * shape; assignments checkpoint per level with origin stats dropped.
    */
  def hstOutliers(points: DataFrame, idCol: String, dims: Seq[Column],
      depth: Int, topN: Int): DataFrame = {
    require(dims.nonEmpty && depth >= 1 && depth <= 20 && topN >= 1,
      "hstOutliers needs dims, 1 <= depth <= 20, topN >= 1")
    val k = dims.size
    def fdC(a: Column, b: Column): Column =
      (call_function("div", a, b) +
        when((a % b) < 0, -1L).otherwise(0L)).cast("long")
    val pts = ckptNoStats(points.select(
      (col(idCol).cast("long").as("id") +:
        dims.zipWithIndex.map { case (c, j) =>
          floor(c.cast("double") * 1e6).cast("long").as(s"d$j") }): _*))
    var asg = ckptNoStats(pts.select(col("id"),
      explode(array((0 until k).map(t => lit(t.toLong)): _*)).as("tree"))
      .withColumn("node", lit(0L)))
    for (level <- 0 until depth) {
      // The split value for (tree, level) is dimension (level+tree) % k.
      val v = (0 until k).map { t =>
        (col("tree") === t.toLong, col(s"d${(level + t) % k}"))
      }.foldRight(lit(null).cast("long"): Column) { case ((p, c), rest) =>
        when(p, c).otherwise(rest)
      }
      val joined = asg.join(pts, Seq("id")).withColumn("v", v)
      val splits = joined.groupBy("tree", "node")
        .agg(fdC(min(col("v")) + max(col("v")), lit(2L)).as("mid"))
      asg = ckptNoStats(joined.join(broadcast(splits), Seq("tree", "node"))
        .select(col("id"), col("tree"),
          (col("node") * 2 + when(col("v") > col("mid"), 1L).otherwise(0L))
            .as("node")))
    }
    val mass = asg.groupBy("tree", "node").agg(count(lit(1)).as("m"))
    asg.join(mass, Seq("tree", "node"))
      .groupBy("id").agg(sum("m").as("mass_sum"))
      .orderBy(col("mass_sum"), col("id"))
      .limit(topN)
      .select(col("id").as(idCol), col("mass_sum"))
  }

  /** Batch-trained half-space-tree model: the per-(tree, level) midpoint
    * split tables plus the per-tree leaf masses — BOUNDED metadata
    * (≤ trees·2^depth entries per map), the broadcastable artifact the
    * [[hstScore]] zero-state scorer rides. Node ids are the
    * [[hstOutliers]] 2·node+side path codes.
    */
  case class HstModel(k: Int, depth: Int,
      splits: Map[(Int, Int), Map[Long, Long]],
      mass: Map[Int, Map[Long, Long]])

  /** Train the deterministic half-space trees of [[hstOutliers]] and
    * RETURN the model instead of the scores: the same level loop (exact
    * integer midpoints of per-node bounding boxes, dimension rotation
    * (level+tree) mod k), with each level's (tree, node → mid) split
    * table and the final (tree, leaf → count) mass table collected —
    * driver state is trees·2^depth longs, metadata by construction
    * (hard-capped), while the corpus passes stay distributed.
    */
  def hstFit(points: DataFrame, idCol: String, dims: Seq[Column],
      depth: Int): HstModel = {
    require(dims.nonEmpty && depth >= 1 && depth <= 20,
      "hstFit needs dims, 1 <= depth <= 20")
    val k = dims.size
    require(k.toLong * (1L << depth) <= (1L << 22),
      "hstFit model must stay driver-bounded: trees * 2^depth <= 4M")
    def fdC(a: Column, b: Column): Column =
      (call_function("div", a, b) +
        when((a % b) < 0, -1L).otherwise(0L)).cast("long")
    val pts = ckptNoStats(points.select(
      (col(idCol).cast("long").as("id") +:
        dims.zipWithIndex.map { case (c, j) =>
          floor(c.cast("double") * 1e6).cast("long").as(s"d$j") }): _*))
    require(pts.head(1).nonEmpty, "hstFit needs rows")
    val splits = scala.collection.mutable.Map.empty[(Int, Int), Map[Long, Long]]
    var asg = ckptNoStats(pts.select(col("id"),
      explode(array((0 until k).map(t => lit(t.toLong)): _*)).as("tree"))
      .withColumn("node", lit(0L)))
    for (level <- 0 until depth) {
      val v = (0 until k).map { t =>
        (col("tree") === t.toLong, col(s"d${(level + t) % k}"))
      }.foldRight(lit(null).cast("long"): Column) { case ((p, c), rest) =>
        when(p, c).otherwise(rest)
      }
      val joined = asg.join(pts, Seq("id")).withColumn("v", v)
      val sp = joined.groupBy("tree", "node")
        .agg(fdC(min(col("v")) + max(col("v")), lit(2L)).as("mid"))
        .persist()
      val rows = sp.select(col("tree").cast("int"), col("node"), col("mid"))
        .collect()
      for (t <- 0 until k)
        splits((t, level)) = rows.iterator
          .filter(_.getInt(0) == t).map(r => r.getLong(1) -> r.getLong(2))
          .toMap
      asg = ckptNoStats(joined.join(broadcast(sp), Seq("tree", "node"))
        .select(col("id"), col("tree"),
          (col("node") * 2 + when(col("v") > col("mid"), 1L).otherwise(0L))
            .as("node")))
      sp.unpersist()
    }
    val mass = asg.groupBy("tree", "node").agg(count(lit(1)).as("m"))
      .select(col("tree").cast("int"), col("node"), col("m"))
      .collect()
    HstModel(k, depth, splits.toMap,
      (0 until k).map(t => t -> mass.iterator.filter(_.getInt(0) == t)
        .map(r => r.getLong(1) -> r.getLong(2)).toMap).toMap)
  }

  /** Zero-state half-space-tree outlier scoring against a batch-trained
    * [[HstModel]] — the streaming-side member of the outlier family
    * (the q399 trained-artifact pattern applied to live scoring): each
    * row routes down every tree through LITERAL-MAP midpoint lookups (a
    * pure whole-stage-codegen column expression — no join, no shuffle,
    * no state), and its score is the summed training leaf mass. LOW
    * mass = anomalous; a row landing in a region no training point
    * visited scores 0 — maximally anomalous, the right read for an
    * unseen regime. Works unchanged on batch AND streaming frames; on
    * the training table itself it reproduces [[hstOutliers]]'s mass_sum
    * bit for bit (spec-pinned), so thresholds tuned on the batch scan
    * transfer to the stream.
    */
  def hstScore(df: DataFrame, idCol: String, dims: Seq[Column],
      model: HstModel, litBudget: Int = 65536): DataFrame = {
    require(dims.size == model.k,
      s"hstScore needs ${model.k} dims to match the model")
    val dcols = dims.zipWithIndex.map { case (c, j) =>
      floor(c.cast("double") * 1e6).cast("long").as(s"d$j") }
    val projected = df.select(col(idCol).as(idCol) +: dcols: _*)
    val entries = model.splits.valuesIterator.map(_.size).sum +
      model.mass.valuesIterator.map(_.size).sum
    if (entries <= litBudget) {
      // Small model: literal-map lookups — a single codegen'd projection,
      // zero exchange, zero broadcast traffic.
      val score = (0 until model.k).map { t =>
        var node: Column = lit(0L)
        for (level <- 0 until model.depth) {
          val mid = element_at(
            typedlit(model.splits((t, level))), node)
          val v = col(s"d${(level + t) % model.k}")
          node = node * 2 + when(v > mid, 1L).otherwise(0L)
        }
        coalesce(element_at(typedlit(model.mass(t)), node), lit(0L))
      }.reduce(_ + _)
      projected.select(col(idCol), score.as("mass_sum"))
    } else {
      // Big model: a multi-megabyte typedlit in every task's codegen'd
      // plan is a driver/compile bottleneck (r10 verdict What's-wrong
      // #3), so route the model through broadcast hash joins instead —
      // the persistCells discipline applied to scoring. One row per
      // input throughout (no explode/groupBy): tree t descends via one
      // left broadcast join per level on its node column (a missing
      // split entry yields null mid → descend left, exactly the literal
      // route's element_at-null behavior), then one mass join per tree.
      // Every join is stream-static and stateless, so streaming frames
      // keep the zero-state contract; output ≡ literal route bit for
      // bit (spec-pinned).
      val spark = df.sparkSession
      import spark.implicits._
      var cur = (0 until model.k).foldLeft(projected) { (d, t) =>
        d.withColumn(s"node_$t", lit(0L))
      }
      for (t <- 0 until model.k) {
        for (level <- 0 until model.depth) {
          val tag = s"${t}_$level"
          val tbl = model.splits((t, level)).toSeq
            .toDF(s"n_$tag", s"mid_$tag")
          cur = cur.join(broadcast(tbl),
              cur(s"node_$t") === tbl(s"n_$tag"), "left")
            .withColumn(s"node_$t",
              col(s"node_$t") * 2 +
                when(col(s"d${(level + t) % model.k}") > col(s"mid_$tag"),
                  1L).otherwise(0L))
            .drop(s"n_$tag", s"mid_$tag")
        }
        val mt = model.mass(t).toSeq.toDF(s"mn_$t", s"m_$t")
        cur = cur.join(broadcast(mt),
          cur(s"node_$t") === mt(s"mn_$t"), "left")
      }
      val score = (0 until model.k)
        .map(t => coalesce(col(s"m_$t"), lit(0L)))
        .reduce(_ + _)
      cur.select(col(idCol), score.as("mass_sum"))
    }
  }

  /** Unrolled oracle for [[hstOutliers]]: per (tree, level) one split
    * CTE + one reassignment CTE — generated, so any depth/dims emit the
    * same SQL shape. dimsSql projects id, d0..d{k-1} (already micros).
    */
  private def hstOutliersSql(dimsSql: String, k: Int, depth: Int,
      topN: Int): String = {
    import Supervised.fd
    val levels = scala.collection.mutable.ArrayBuffer(
      s"pts AS MATERIALIZED ($dimsSql)",
      ("a0 AS (SELECT id, t AS tree, 0::BIGINT AS node FROM pts, " +
        s"(SELECT unnest(range($k)) AS t))"))
    for (l <- 0 until depth) {
      val v = (0 until k).map(t =>
        s"WHEN a.tree = $t THEN p.d${(l + t) % k}")
        .mkString("CASE ", " ", " END")
      levels += s"""j$l AS (
        SELECT a.id, a.tree, a.node, $v AS v
        FROM a$l a JOIN pts p ON p.id = a.id)"""
      levels += s"""s$l AS (
        SELECT tree, node, ${fd("min(v) + max(v)", "2")}::BIGINT AS mid
        FROM j$l GROUP BY 1, 2)"""
      levels += s"""a${l + 1} AS (
        SELECT j.id, j.tree,
          (j.node*2 + CASE WHEN j.v > s.mid THEN 1 ELSE 0 END)::BIGINT
            AS node
        FROM j$l j JOIN s$l s ON s.tree = j.tree AND s.node = j.node)"""
    }
    s"""WITH ${levels.mkString(",\n")},
      mass AS (SELECT tree, node, count(*)::BIGINT AS m FROM a$depth
        GROUP BY 1, 2)
      SELECT a.id AS vec_id, sum(m.m)::BIGINT AS mass_sum
      FROM a$depth a JOIN mass m ON m.tree = a.tree AND m.node = a.node
      GROUP BY a.id ORDER BY mass_sum, vec_id LIMIT $topN"""
  }

  // ---- q411: which embeddings sit alone in half-space-tree leaves? ------------
  // Two rotated trees over the first two dims, depth 7 — the UNCAPPED
  // outlier scan (q286/q380 are the pairwise exact baselines).
  private def q411(s: SparkSession, d: String): DataFrame =
    hstOutliers(Tables.embeddings(s, d), "vec_id",
      Seq(col("embedding").getItem(0), col("embedding").getItem(1)),
      depth = 7, topN = 20)
  // ---- q426: the q411 scan through the fit-then-score seam --------------------
  // Train the model (bounded driver metadata), score the SAME table with
  // the zero-state literal-map scorer — shares q411's oracle verbatim:
  // the train/score split must not move a single score (the property
  // that lets the stream scorer reuse batch-tuned thresholds).
  private def q426(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val dims = Seq(col("embedding").getItem(0), col("embedding").getItem(1))
    hstScore(e, "vec_id", dims, hstFit(e, "vec_id", dims, depth = 7))
      .orderBy(col("mass_sum"), col("vec_id"))
      .limit(20)
  }
  private[operators] val q411Sql = hstOutliersSql(
    """SELECT vec_id AS id,
        floor(embedding[1]::DOUBLE*1e6)::BIGINT AS d0,
        floor(embedding[2]::DOUBLE*1e6)::BIGINT AS d1
      FROM embeddings""",
    k = 2, depth = 7, topN = 20)

  // ---- q404: density clusters in the embedding plane --------------------------
  // DBSCAN on the first two embedding dims (vec_id-capped so the brute
  // all-pairs oracle stays cheap; the ENGINE path is the grid join).
  private def q404(s: SparkSession, d: String): DataFrame =
    dbscanGrid(Tables.embeddings(s, d).filter(col("vec_id") < 1024),
      "vec_id", col("embedding").getItem(0), col("embedding").getItem(1),
      epsMicro = 20000L, minPts = 5)

  // ---- q430: the q404 census maintained INCREMENTALLY --------------------------
  // Base state on the first 700 ids, the rest folded in as an insert
  // batch, census derived from state alone — shares q404's oracle
  // verbatim: the maintained clustering must equal the full recompute.
  private def q430(s: SparkSession, d: String): DataFrame = {
    val xc = col("embedding").getItem(0)
    val yc = col("embedding").getItem(1)
    val capped = Tables.embeddings(s, d).filter(col("vec_id") < 1024)
    dbscanCensus(dbscanGridIncrement(
      dbscanState(capped.filter(col("vec_id") < 700), "vec_id", xc, yc,
        epsMicro = 20000L, minPts = 5),
      capped.filter(col("vec_id") >= 700), "vec_id", xc, yc,
      epsMicro = 20000L, minPts = 5))
  }
  private def dbscanCensusSql(cap: Int): String =
    s"""WITH RECURSIVE pts AS (
        SELECT vec_id AS id, floor(embedding[1]::DOUBLE*1e6)::BIGINT AS x,
          floor(embedding[2]::DOUBLE*1e6)::BIGINT AS y
        FROM embeddings WHERE vec_id < $cap),
      nb AS (
        SELECT a.id AS a, b.id AS b FROM pts a JOIN pts b
        ON a.id != b.id AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
          <= 20000::BIGINT*20000),
      cnt AS (SELECT a AS id, count(*)::BIGINT AS c FROM nb GROUP BY 1),
      core AS (SELECT p.id FROM pts p LEFT JOIN cnt ON cnt.id = p.id
        WHERE coalesce(cnt.c, 0) + 1 >= 5),
      ce AS (SELECT nb.a, nb.b FROM nb
          JOIN core x ON x.id = nb.a JOIN core y ON y.id = nb.b
        UNION ALL SELECT id, id FROM core),
      reach(a, b) AS (
        SELECT a, b FROM ce
        UNION
        SELECT reach.a, e.b FROM reach JOIN ce e ON reach.b = e.a),
      lab AS (SELECT a AS id, min(b) AS cl FROM reach GROUP BY 1),
      bord AS (
        SELECT nb.a AS id, min(l.cl) AS cl FROM nb
        JOIN core cb ON cb.id = nb.b JOIN lab l ON l.id = nb.b
        WHERE nb.a NOT IN (SELECT id FROM core) GROUP BY 1),
      ncr AS (SELECT cl, count(*)::BIGINT AS n_core FROM lab GROUP BY 1),
      nbd AS (SELECT cl, count(*)::BIGINT AS n_border FROM bord GROUP BY 1),
      cls AS (
        SELECT ncr.cl AS cluster_id,
          ncr.n_core + coalesce(nbd.n_border, 0) AS n_points,
          ncr.n_core, coalesce(nbd.n_border, 0)::BIGINT AS n_border
        FROM ncr LEFT JOIN nbd ON nbd.cl = ncr.cl)
      SELECT * FROM cls
      UNION ALL
      SELECT -1::BIGINT, count(*)::BIGINT, 0::BIGINT, 0::BIGINT FROM pts
      WHERE id NOT IN (SELECT id FROM core)
        AND id NOT IN (SELECT id FROM bord)
      ORDER BY n_points DESC, cluster_id"""

  private[operators] val q404Sql = dbscanCensusSql(1024)

  // ---- q433: the q404 census after a DELETE increment --------------------------
  // State on the full capped corpus, 70% of it deleted, census from the
  // surviving state — the oracle is the census recomputed from scratch
  // on the survivors (the delete twin of q430's insert discipline).
  private def q433(s: SparkSession, d: String): DataFrame = {
    val xc = col("embedding").getItem(0)
    val yc = col("embedding").getItem(1)
    val capped = Tables.embeddings(s, d).filter(col("vec_id") < 1024)
    dbscanCensus(dbscanGridDelete(
      dbscanState(capped, "vec_id", xc, yc, epsMicro = 20000L, minPts = 5),
      capped.filter(col("vec_id") >= 300).select(col("vec_id")),
      "vec_id", epsMicro = 20000L, minPts = 5))
  }

  // ---- q431: the q420 kNN graph maintained INCREMENTALLY ----------------------
  // Base state on the first 384 ids (seed set 0..15 included), the rest
  // folded in as an append batch, edges read off the state — shares
  // q420's oracle verbatim: the maintained graph must equal the full
  // rebuild.
  private def q431(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val seeds = e.filter(col("vec_id") < NumSeeds)
    val st = knnIvfState(e.filter(col("vec_id") < 384), seeds,
      "vec_id", "embedding", k = 3, nprobe = 4)
    knnIvfEdges(knnEdgesIvfIncrement(st, e.filter(col("vec_id") >= 384),
        seeds, "vec_id", "embedding", k = 3, nprobe = 4))
      .orderBy(col("u"), col("v"))
  }

  // ---- q438: the q420 kNN graph after a DELETE batch --------------------------
  // Full-corpus state, vec_id >= 384 deleted, edges read off the state —
  // the oracle is the graph rebuilt from scratch over the survivors.
  private def q438(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    knnIvfEdges(knnIvfStateDelete(
        knnIvfState(e, e.filter(col("vec_id") < NumSeeds),
          "vec_id", "embedding", k = 3, nprobe = 4),
        e.filter(col("vec_id") >= 384).select(col("vec_id")),
        "vec_id", k = 3))
      .orderBy(col("u"), col("v"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q404_dbscan", q404, Some(q404Sql)),
    QueryDef("q430_dbscan_increment", q430, Some(q404Sql)),
    QueryDef("q431_knn_edges_increment", q431, Some(q420Sql)),
    QueryDef("q438_knn_edges_delete", q438,
      Some(knnEdgesIvfSql("WHERE vec_id < 384"))),
    QueryDef("q433_dbscan_delete", q433, Some(dbscanCensusSql(300))),
    QueryDef("q411_hst_outliers", q411, Some(q411Sql)),
    QueryDef("q426_hst_fit_score", q426, Some(q411Sql)),
    QueryDef("q252_centroid_drift", q252, Some(q252Sql)),
    QueryDef("q265_kmeans_elbow", q265, Some(q265Sql)),
    QueryDef("q277_centroid_classifier", q277, Some(q277Sql)),
    QueryDef("q286_knn_outliers", q286, Some(q286Sql)),
    QueryDef("q350_knn_outliers_ivf", q350, Some(q350Sql)),
    QueryDef("q420_knn_edges_ivf", q420, Some(q420Sql)),
    QueryDef("q380_lof_outliers", q380, Some(q380Sql)),
    QueryDef("q381_kmeans_fit", q381, Some(q381Sql)),
    QueryDef("q396_binary_quant", q396, Some(q396Sql)),
    QueryDef("q399_ivf_recall_audit", q399, Some(q399Sql)),
    QueryDef("q359_gram_matrix", q359, Some(q359Sql)),
    QueryDef("q360_power_iteration", q360, Some(q360Sql)),
    QueryDef("q361_principal_projection", q361, Some(q361Sql)),
    QueryDef("q362_pca_residual_outliers", q362, Some(q362Sql)),
    QueryDef("q363_mmr_rerank", q363, Some(q363Sql)),
    QueryDef("q366_mmr_rerank_ivf", q366, Some(q366Sql)),
    QueryDef("q293_embedding_audit", q293, Some(q293Sql)),
    QueryDef("q302_ivf_probe_sweep", q302, Some(q302Sql)),
    QueryDef("q30_cosine_topk", q30, Some(q30Sql), headline = true),
    QueryDef("q164_rrf_fusion", q164, Some(q164Sql)),
    QueryDef("q150_sparse_cosine", q150, Some(q150Sql)),
    QueryDef("q136_ann_recall", q136, Some(q136Sql)),
    QueryDef("q153_rank_tau", q153, Some(q153Sql)),
    QueryDef("q31_ann_ivf", q31, Some(q31Sql)),
    QueryDef("q86_ann_ivf_multiprobe", q86, Some(q86Sql)),
    QueryDef("q372_ivf_index_probe", q372, Some(q372Sql)),
    QueryDef("q436_ivf_index_append", q436, Some(q372Sql)),
    QueryDef("q440_ivf_index_delete", q440, Some(q440Sql)),
    QueryDef("q112_euclidean_topk", q112, Some(q112Sql)),
    QueryDef("q114_mips_topk", q114, Some(q114Sql)),
    QueryDef("q196_pq_adc_recall", q196, Some(q196Sql)),
    QueryDef("q200_ivfadc", q200, Some(q200Sql)),
    QueryDef("q377_matryoshka_recall", q377, Some(q377Sql)),
    QueryDef("q39_ann_lsh", q39, Some(q39Sql)))
}
