package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import FixedPoint.bin6
import org.apache.spark.sql.graftshim.GraftShim

/** Iterative graph propagation — the execution class behind influence /
  * centrality scoring of a link or interaction graph (which sources are
  * load-bearing, which users anchor the event graph). Complements the
  * min-label propagation already in [[Dedup.dedupClusters]]: that is the
  * idempotent fixpoint (min), this is the weighted-accumulation fixpoint
  * (sum) — together they cover the two aggregation families Pregel-style
  * algorithms reduce to.
  *
  * Scale design: each iteration is ONE shuffle of the edge relation keyed
  * by dst with map-side partial sums (the contribution of a partition's
  * edges to a node collapses before the exchange); the rank relation is
  * |V|-sized and joins the |E|-sized edge list on src. Lineage is
  * truncated per iteration (`localCheckpoint`) so N iterations never
  * re-execute iteration 1 — the same discipline as dedupClusters. At
  * 100 TB pre-partition the edge list by src (bucketing) so the
  * rank⨝edges join is exchange-free on the big side; iterations then
  * reuse that layout.
  *
  * Cross-engine determinism: ranks are BIGINT micro-units. Each node
  * starts at 1,000,000; an iteration sends `rank div out_degree` along
  * every out-edge (integer floor division) and settles
  * `(1e6·(100−d))/100 + (d · Σ incoming) div 100` with damping d an
  * integer percent — every operation is exact BIGINT algebra, so the
  * result is bit-identical regardless of partitioning, parallelism, or
  * engine (floating-point PageRank would diverge in the last ulp by
  * summation order alone).
  */
object Graph {

  /** Integer-micro PageRank over an ARBITRARY directed edge list — sinks
    * (no out-edges) and sources (no in-edges) included. The node universe
    * is src ∪ dst and every node appears in every iteration's rank
    * relation: a source keeps receiving the base + dangling share (it has
    * no in-flow, not no rank), and a sink's mass is redistributed
    * uniformly — each iteration adds `(Σ sink ranks) div |V|` to every
    * node's incoming sum, the standard dangling-mass generalization.
    * Integer floor division keeps every step exact BIGINT algebra, so the
    * result stays bit-identical on any engine or partitioning (the
    * dangling share floors away ≤ |V|−1 micro-units per iteration — a
    * deterministic quantization, not an engine divergence).
    *
    * Every iteration but the last is a [[Fixpoint]] round, so the plan
    * stays CONSTANT-sized (unrolled, it doubles every iteration: ranks is
    * read twice, by contribution and dangling mass). The last stays a
    * lazy plan: the caller's query is its only reader.
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "pagerank needs at least one iteration")
    require(dampingPct >= 0 && dampingPct <= 100, "damping is a percent")
    // Materialize the edge list ONCE — every iteration joins it on src.
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    // Node universe WITH out-degree fused in: the rank relation carries
    // `deg` through every iteration, so the contribution step needs no
    // per-iteration degree join.
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodesDeg = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(deg, col("id") === col("src"), "left")
      .select(col("id"), col("deg"))
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    // |V| as a driver-side scalar for the integer dangling share (one
    // count job over the node set — metadata, not data).
    val nNodes = nodesDeg.count()
    val base = 1000000L * (100 - dampingPct) / 100
    def settle(ranks: DataFrame): DataFrame = {
      val contrib = ranks.filter(col("deg").isNotNull)
        .select(col("id").as("cid"), expr("rank_micro div deg").as("c"))
      val inSums = e.join(contrib, col("src") === col("cid"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      // Σ rank over sinks, floored to a uniform per-node share.
      val dangling = ranks.filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank_micro")), lit(0L)).as("dm"))
        .select(expr(s"dm div ${nNodes}L").as("dangling_share"))
      nodesDeg.join(inSums, col("id") === col("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("id"), col("deg"),
          (lit(base) + expr(s"($dampingPct * (coalesce(in_sum, 0L)" +
            s" + dangling_share)) div 100")).as("rank_micro"))
    }
    val init = nodesDeg.select(col("id"), col("deg"),
      lit(1000000L).as("rank_micro"))
    val (prev, ranks) =
      Fixpoint.rounds(init, iterations - 1)((_, r) => settle(r))
    if (prev ne init) GraftShim.release(prev)
    settle(ranks).select(col("id").as("node_id"), col("rank_micro"))
  }

  // ---- q159: PageRank centrality of the customer–supplier graph ---------------
  // Bipartite interaction graph from the order book: an edge per distinct
  // (customer, supplier) trading pair, taken undirected (both directions)
  // so every node has out-degree and the rank mass stays closed. Node ids
  // disambiguate the two key spaces arithmetically: customers even
  // (2·custkey), suppliers odd (2·suppkey+1). Three damped iterations,
  // top 20 by rank (node id breaks ties).
  private def q159(s: SparkSession, d: String): DataFrame = {
    val pairs = custSuppPairs(s, d)
    val und = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    pagerank(und, "a", "b", iterations = 3)
      .orderBy(col("rank_micro").desc, col("node_id"))
      .limit(20)
  }
  private val q159Sql =
    """WITH eo AS (
         SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       e AS (SELECT src, dst FROM eo
             UNION ALL SELECT dst, src FROM eo),
       deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM e GROUP BY 1),
       r0 AS (SELECT id, 1000000::BIGINT AS r FROM deg),
       r1 AS (SELECT e.dst AS id,
                (150000 + (85 * sum(r.r // d.d)) // 100)::BIGINT AS r
              FROM e JOIN r0 r ON r.id = e.src JOIN deg d ON d.id = e.src
              GROUP BY 1),
       r2 AS (SELECT e.dst AS id,
                (150000 + (85 * sum(r.r // d.d)) // 100)::BIGINT AS r
              FROM e JOIN r1 r ON r.id = e.src JOIN deg d ON d.id = e.src
              GROUP BY 1),
       r3 AS (SELECT e.dst AS id,
                (150000 + (85 * sum(r.r // d.d)) // 100)::BIGINT AS r
              FROM e JOIN r2 r ON r.id = e.src JOIN deg d ON d.id = e.src
              GROUP BY 1)
       SELECT id AS node_id, r AS rank_micro FROM r3
       ORDER BY rank_micro DESC, node_id LIMIT 20"""

  /** Triangle census + global clustering coefficient of an undirected
    * graph — the motif profile behind "is this similarity graph cliquey
    * (near-dup families) or star-shaped (boilerplate hubs)?" decisions
    * that [[Dedup.dedupClusters]] output feeds into.
    *
    * The enumeration orients every edge from its (degree, id)-smaller
    * endpoint to the larger and counts directed paths a→b→c closed by
    * a→c. Each triangle is counted exactly ONCE, and — the scale
    * property — the join fan-out per node is bounded by its ORIENTED
    * out-degree: a hub of degree d contributes min(d, ~√|E|) oriented
    * out-edges instead of d² wedges. Degree-ordering is what makes
    * triangle counting survive power-law graphs; id-ordering alone
    * leaves the skew in place.
    *
    * All counts are exact BIGINTs; the clustering coefficient
    * 3·triangles/wedges is emitted in integer micros (one BIGINT
    * division), so the row is bit-deterministic on any engine.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = raw
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // Orient each edge toward the (degree, id)-larger endpoint.
    val o = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.b") === col("e2.a"))
      .join(o.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val counts = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges")))
    counts.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(null).cast("long"))
          .otherwise(expr("(3000000 * n_triangles) div n_wedges"))
          .as("gcc_micro"))
  }

  /** Weighted co-occurrence projection of a bipartite (key, item)
    * relation: two items link with weight = number of shared keys, with
    * each key's item list CAPPED at `maxItemsPerKey` (smallest item ids
    * kept — deterministic) before pairing.
    *
    * The cap is the scale guarantee, not an optimization: an uncapped
    * pair self-join fans out Σ per-key d² rows BEFORE any downstream
    * threshold can apply, so one power-law hub key (a customer touching
    * 10M suppliers, a boilerplate shingle in every document) is a
    * quadratic hot task no salting can pay for — salting spreads d² rows,
    * it doesn't stop generating them. Capping bounds the fan-out at
    * Σ min(d, C)² ≤ N·C² — linear in keys. Semantics of the cap: a key
    * with more than C items is a non-discriminative hub (every item pair
    * shares it); ignoring its tail is the same hub discount that capped
    * posting lists apply in the q139 inverted index. GraphSpec pins the
    * bound on a synthetic hot key.
    *
    * Plan shape: the cap's rank-filter compiles to WindowGroupLimit, so
    * each map partial keeps ≤ C rows per key before the one exchange on
    * the key; the pair join then shuffles capped lists only.
    */
  def coOccurrencePairs(pairs: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int): DataFrame = {
    require(maxItemsPerKey >= 2, "a pair needs at least two items per key")
    coFromCapped(cappedPairs(pairs, keyCol, itemCol, maxItemsPerKey))
  }

  /** Salton (cosine) normalization of a co-occurrence projection: shared
    * keys / √(deg(i1)·deg(i2)) — the association strength hub items
    * can't inflate. A raw co-occurrence count ranks two ubiquitous items
    * first (they share everything because they appear everywhere);
    * the Salton index is the item-item collaborative-filtering score
    * that corrects for it. Same capped enumeration (and fan-out bound)
    * as [[coOccurrencePairs]]; degrees come from the same capped
    * relation so the score is internally consistent.
    *
    * Determinism: integer counts, one √·÷ double finish on the
    * identical path both engines, bin6 (Salton ∈ [0, 1] — no −0.0
    * class).
    */
  /** The capped (key, item) relation every co-occurrence consumer
    * derives from: distinct pairs with the per-key item cap applied.
    */
  def cappedPairs(pairs: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c")).orderBy(col("i"))
    pairs
      .select(col(keyCol).cast("long").as("c"),
        col(itemCol).cast("long").as("i"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxItemsPerKey)
      .select(col("c"), col("i"))
  }

  /** Salton scoring over PRECOMPUTED co-pair and degree relations — the
    * share-the-projection form: when several queries consume the same
    * co-occurrence base, materialize `co`/`deg` once ([[Materialized]])
    * and score here; [[saltonPairs]] is the derive-everything wrapper.
    */
  def saltonScores(co: DataFrame, deg: DataFrame): DataFrame =
    co.join(deg.select(col("i").as("i1"), col("d").as("d1")), Seq("i1"))
      .join(deg.select(col("i").as("i2"), col("d").as("d2")), Seq("i2"))
      .select(col("i1"), col("i2"), col("w"), col("d1"), col("d2"),
        bin6(col("w").cast("double")
          / sqrt((col("d1") * col("d2")).cast("double"))).as("salton"))

  def saltonPairs(pairs: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int): DataFrame = {
    val capped = cappedPairs(pairs, keyCol, itemCol, maxItemsPerKey)
    saltonScores(coFromCapped(capped), degFromCapped(capped))
  }

  /** Pair aggregation / degree collapse of a capped (c, i) relation. */
  def coFromCapped(capped: DataFrame): DataFrame =
    capped.as("x").join(capped.as("y"),
        col("x.c") === col("y.c") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("i1"), col("y.i").as("i2"))
      .agg(count(lit(1)).as("w"))
  def degFromCapped(capped: DataFrame): DataFrame =
    capped.groupBy(col("i")).agg(count(lit(1)).as("d"))

  // ---- q262: strongest hub-corrected supplier associations --------------------
  private def q262(s: SparkSession, d: String): DataFrame =
    saltonScores(coSaleCo(s, d), coSaleDeg(s, d))
      .orderBy(col("salton").desc, col("i1"), col("i2"))
      .limit(30)
  private def q262Sql =
    s"""WITH sp AS (
         SELECT c, sup FROM (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         QUALIFY row_number() OVER (PARTITION BY c ORDER BY sup)
           <= $CoSaleCap),
       co AS (
         SELECT x.sup AS i1, y.sup AS i2, count(*)::BIGINT AS w
         FROM sp x JOIN sp y ON x.c = y.c AND x.sup < y.sup
         GROUP BY 1, 2),
       deg AS (SELECT sup AS i, count(*)::BIGINT AS d FROM sp GROUP BY 1)
       SELECT co.i1, co.i2, co.w, a.d AS d1, b.d AS d2,
         floor(co.w::DOUBLE / sqrt((a.d * b.d)::DOUBLE) * 1e6 + 0.5) / 1e6
           AS salton
       FROM co JOIN deg a ON co.i1 = a.i JOIN deg b ON co.i2 = b.i
       ORDER BY salton DESC, co.i1, co.i2 LIMIT 30"""

  /** Neighbor-set Jaccard of a co-occurrence projection — the classic
    * link-prediction / item-item similarity score |N(a)∩N(b)| /
    * |N(a)∪N(b)| over the SHARED-KEY sets: shared / (deg(a)+deg(b)−
    * shared), in exact micro-units (floored BIGINT division — no float
    * touches the score, unlike [[saltonPairs]]' one √ finish). Salton
    * corrects hubs geometrically; Jaccard is the set-overlap form a
    * dedup/blocking pipeline thresholds on. Same capped enumeration
    * (and fan-out bound) as [[coOccurrencePairs]]; degrees come from the
    * same capped relation so the score is internally consistent.
    *
    * Scale design: identical to [[saltonPairs]] — the pair list is
    * already the capped projection (Σ min(d,C)² bound) and the degree
    * relation collapses map-side to |items| rows before two broadcast
    * joins; nothing corpus-sized shuffles past the projection.
    */
  /** Jaccard scoring over precomputed co/deg — the share-the-projection
    * form (see [[saltonScores]]).
    */
  def jaccardScores(co: DataFrame, deg: DataFrame): DataFrame =
    co.join(deg.select(col("i").as("i1"), col("d").as("d1")), Seq("i1"))
      .join(deg.select(col("i").as("i2"), col("d").as("d2")), Seq("i2"))
      .select(col("i1"), col("i2"), col("w"), col("d1"), col("d2"),
        expr("(w * 1000000L) div (d1 + d2 - w)").as("jaccard_micro"))

  def linkJaccard(pairs: DataFrame, keyCol: String, itemCol: String,
      maxItemsPerKey: Int): DataFrame = {
    val capped = cappedPairs(pairs, keyCol, itemCol, maxItemsPerKey)
    jaccardScores(coFromCapped(capped), degFromCapped(capped))
  }

  // ---- q263: supplier link-prediction by neighbor-set Jaccard -----------------
  private def q263(s: SparkSession, d: String): DataFrame =
    jaccardScores(coSaleCo(s, d), coSaleDeg(s, d))
      .orderBy(col("jaccard_micro").desc, col("i1"), col("i2"))
      .limit(30)
  private def q263Sql =
    s"""WITH sp AS (
         SELECT c, sup FROM (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         QUALIFY row_number() OVER (PARTITION BY c ORDER BY sup)
           <= $CoSaleCap),
       co AS (
         SELECT x.sup AS i1, y.sup AS i2, count(*)::BIGINT AS w
         FROM sp x JOIN sp y ON x.c = y.c AND x.sup < y.sup
         GROUP BY 1, 2),
       deg AS (SELECT sup AS i, count(*)::BIGINT AS d FROM sp GROUP BY 1)
       SELECT co.i1, co.i2, co.w, a.d AS d1, b.d AS d2,
         ((co.w * 1000000) // (a.d + b.d - co.w))::BIGINT AS jaccard_micro
       FROM co JOIN deg a ON co.i1 = a.i JOIN deg b ON co.i2 = b.i
       ORDER BY jaccard_micro DESC, co.i1, co.i2 LIMIT 30"""

  /** Synchronous label propagation (Raghavan et al. 2007) made
    * DETERMINISTIC: every node starts with its own id as label; each
    * iteration every node adopts the MOST FREQUENT label among its
    * out-neighbors, ties broken by the SMALLEST label — so K iterations
    * produce one well-defined labeling on any engine (classic LPA's
    * random tie-breaks and async order-dependence are exactly what a
    * distributed reimplementation cannot reproduce; the deterministic
    * variant keeps the community-forming dynamics and drops the dice).
    * Pass an undirected graph as both edge directions (the q159
    * convention). On a general DIRECTED input the node set is still
    * src ∪ dst, and a node with no out-neighbors keeps its current
    * label each round (nothing to adopt) — sink-only nodes stay in the
    * labeling instead of silently vanishing. Complements the min-label
    * fixpoint ([[Dedup.dedupClusters]] / CC) — frequency propagation
    * finds DENSE communities, not mere connectivity.
    *
    * Scale design: each iteration is one |E|-shuffle — edges⨝labels on
    * dst (map-side combinable count per (src, label)) and a
    * PARTITIONED window for the per-node argmax; labels are
    * lineage-truncated per iteration. At 100 TB, bucket the edge list by
    * dst so the per-iteration join is exchange-free on the big side.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "labelPropagation needs at least one iteration")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = e0.localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val init = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .select(col("id"), col("id").as("lbl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cnt").desc, col("lbl"))
    val (prev, labels) = Fixpoint.rounds(init, iterations) { (_, labels) =>
      val adopted = e.join(labels, col("dst") === col("id"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("id"), col("lbl").as("adopt"))
      // Out-degree-0 nodes adopt nothing and keep their label.
      labels.join(adopted, Seq("id"), "left")
        .select(col("id"), coalesce(col("adopt"), col("lbl")).as("lbl"))
    }
    if (prev ne init) GraftShim.release(prev)
    labels.select(col("id").as("node_id"), col("lbl").as("label"))
  }

  // ---- q344: dense supplier communities of the co-sale graph ------------------
  // Three deterministic LPA rounds over the thresholded supplier–supplier
  // co-sale projection (the q163/q207 graph — unipartite, genuinely
  // community-structured; bipartite graphs collapse under frequency
  // propagation because each side adopts the other's anchor label). The
  // readout is the community-size histogram, biggest communities first.
  private def q344(s: SparkSession, d: String): DataFrame = {
    val pairs = coSaleEdges(s, d)
    val und = pairs.select(col("s1"), col("s2"))
      .union(pairs.select(col("s2").as("s1"), col("s1").as("s2")))
    labelPropagation(und, "s1", "s2", iterations = 3)
      .groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("label"))
      .limit(30)
  }
  private def q344Sql =
    s"""WITH $coSaleCtes,
       e AS (SELECT u AS src, v AS dst FROM und
             UNION ALL SELECT v, u FROM und),
       l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
       l1 AS (
         SELECT src AS id, lbl FROM (
           SELECT e.src, l.lbl,
             row_number() OVER (PARTITION BY e.src
               ORDER BY count(*) DESC, l.lbl) AS rn
           FROM e JOIN l0 l ON l.id = e.dst
           GROUP BY e.src, l.lbl)
         WHERE rn = 1),
       l2 AS (
         SELECT src AS id, lbl FROM (
           SELECT e.src, l.lbl,
             row_number() OVER (PARTITION BY e.src
               ORDER BY count(*) DESC, l.lbl) AS rn
           FROM e JOIN l1 l ON l.id = e.dst
           GROUP BY e.src, l.lbl)
         WHERE rn = 1),
       l3 AS (
         SELECT src AS id, lbl FROM (
           SELECT e.src, l.lbl,
             row_number() OVER (PARTITION BY e.src
               ORDER BY count(*) DESC, l.lbl) AS rn
           FROM e JOIN l2 l ON l.id = e.dst
           GROUP BY e.src, l.lbl)
         WHERE rn = 1)
       SELECT lbl AS label, count(*)::BIGINT AS n_nodes
       FROM l3 GROUP BY lbl
       ORDER BY n_nodes DESC, label LIMIT 30"""

  /** Item-to-user recommendation scoring on top of [[linkJaccard]]'s
    * item-item similarity: a candidate item's score for a user is the
    * SUM of its similarity to the items the user already has (the
    * classic item-based collaborative filter, Sarwar et al. 2001),
    * items already owned are anti-joined away, and the `topK`
    * highest-confidence (user, item) pairs come back with their
    * supporting-path count — the missing "so what" step after the
    * similarity tables: q262/q263 say which items are alike, this says
    * who to show what. All scores exact micro sums; ordering fully
    * deterministic (score desc, user, item).
    *
    * Scale design: the similarity table is truncated to each item's
    * `neighborsPerItem` STRONGEST neighbors before any user sees it (the
    * classic item-based-CF "neighborhood size" — on a dense
    * co-occurrence projection the untruncated list makes the candidate
    * join user-items × catalog, measured as an 80x blowup at sf0.1), so
    * candidate fan-out is Σ_u min(d_u, cap)·M. The final top-k is a
    * single bounded ranking, not a per-user window over everything.
    */
  def itemRecommendations(pairs: DataFrame, keyCol: String,
      itemCol: String, maxItemsPerKey: Int, topK: Int,
      neighborsPerItem: Int = 10): DataFrame = {
    val capped = cappedPairs(pairs, keyCol, itemCol, maxItemsPerKey)
    recommendFromScores(capped,
      jaccardScores(coFromCapped(capped), degFromCapped(capped)),
      topK, neighborsPerItem)
  }

  /** [[itemRecommendations]] over PRECOMPUTED capped user-item and
    * similarity relations — the share-the-projection form.
    */
  def recommendFromScores(userItems: DataFrame, similarity: DataFrame,
      topK: Int, neighborsPerItem: Int): DataFrame = {
    val sp = userItems.select(col("c"), col("i"))
    val sims = similarity
      .select(col("i1"), col("i2"), col("jaccard_micro").as("jm"))
    val nw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("j")).orderBy(col("jm").desc, col("cand"))
    val simBoth = sims
      .select(col("i1").as("j"), col("i2").as("cand"), col("jm"))
      .union(sims.select(col("i2").as("j"), col("i1").as("cand"),
        col("jm")))
      .withColumn("nr", row_number().over(nw))
      .filter(col("nr") <= neighborsPerItem)
      .select(col("j"), col("cand"), col("jm"))
    val scored = sp.join(simBoth, col("i") === col("j"))
      .groupBy(col("c"), col("cand"))
      .agg(count(lit(1)).as("n_paths"), sum(col("jm")).as("score_micro"))
    scored
      .join(sp.select(col("c"), col("i").as("cand")), Seq("c", "cand"),
        "left_anti")
      .orderBy(col("score_micro").desc, col("c"), col("cand"))
      .limit(topK)
      .select(col("c").as("custkey"), col("cand").as("suppkey"),
        col("n_paths"), col("score_micro"))
  }

  /** Complement-vs-substitute classification of item pairs by comparing
    * TWO co-occurrence granularities: among buyers who ever purchase
    * both items, what share has bought them together in one basket?
    * Complements ride in the same basket (high share); substitutes are
    * bought by the same people but in different baskets (low share) —
    * the assortment-planning readout a single-granularity association
    * table (q177/q262) cannot see. Exact micro shares; support filter is
    * a SHARE of the buyer population, so the query is non-degenerate at
    * any scale factor.
    *
    * Scale design: both granularities collapse to distinct (key, item)
    * relations before their pair self-joins (per-key fan-out bounded by
    * the per-basket / per-buyer distinct-item counts); the affinity join
    * runs on the two item-pair collapses — item-vocabulary-sized, never
    * corpus-sized.
    */
  def complementSubstitute(df: DataFrame, basketCol: Column,
      buyerCol: Column, itemCol: Column, minBuyerShareMicro: Long,
      complementMicro: Long, substituteMicro: Long): DataFrame = {
    val li = df.select(basketCol.as("ok"), buyerCol.as("ck"),
      itemCol.as("it"))
    val ob = li.select(col("ok"), col("ck"), col("it")).distinct()
    val cb = li.select(col("ck"), col("it")).distinct()
    val nc = li.agg(countDistinct(col("ck")).as("n_buyers"))
    val together = ob.as("x")
      .join(ob.as("y"),
        col("x.ok") === col("y.ok") && col("x.it") < col("y.it"))
      .select(col("x.ck").as("ck"), col("x.it").as("i1"),
        col("y.it").as("i2"))
      .distinct()
      .groupBy(col("i1"), col("i2")).agg(count(lit(1)).as("n_together"))
    val both = cb.as("x")
      .join(cb.as("y"),
        col("x.ck") === col("y.ck") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("i1"), col("y.it").as("i2"))
      .agg(count(lit(1)).as("n_both"))
    both.join(together, Seq("i1", "i2"), "left")
      .crossJoin(broadcast(nc))
      .filter(col("n_both") * 1000000L >= lit(minBuyerShareMicro)
        * col("n_buyers"))
      .select(col("i1"), col("i2"), col("n_both"),
        coalesce(col("n_together"), lit(0L)).as("n_together"))
      .withColumn("affinity_micro",
        expr("n_together * 1000000L div n_both"))
      .withColumn("label",
        when(col("affinity_micro") >= complementMicro, "complement")
          .when(col("affinity_micro") <= substituteMicro, "substitute")
          .otherwise("neutral"))
  }

  // ---- q333: which part types ride in one basket vs split across them? --------
  private def q333(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(s, d), col("p_partkey") === col("l_partkey"))
    complementSubstitute(li, col("l_orderkey"), col("o_custkey"),
      col("p_type"), minBuyerShareMicro = 100000L,
      complementMicro = 930000L, substituteMicro = 880000L)
      .orderBy(col("i1"), col("i2"))
  }
  private val q333Sql =
    """WITH li AS (
         SELECT l_orderkey AS ok, o_custkey AS ck, p_type AS it
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         JOIN part ON p_partkey = l_partkey),
       ob AS (SELECT DISTINCT ok, ck, it FROM li),
       cb AS (SELECT DISTINCT ck, it FROM li),
       nc AS (SELECT count(DISTINCT ck)::BIGINT AS n_buyers FROM li),
       tog AS (
         SELECT i1, i2, count(*)::BIGINT AS n_together FROM (
           SELECT DISTINCT x.ck, x.it AS i1, y.it AS i2
           FROM ob x JOIN ob y ON x.ok = y.ok AND x.it < y.it)
         GROUP BY 1, 2),
       cu AS (
         SELECT x.it AS i1, y.it AS i2, count(*)::BIGINT AS n_both
         FROM cb x JOIN cb y ON x.ck = y.ck AND x.it < y.it
         GROUP BY 1, 2),
       j AS (
         SELECT b.i1, b.i2, b.n_both,
           coalesce(t.n_together, 0)::BIGINT AS n_together
         FROM cu b LEFT JOIN tog t ON b.i1 = t.i1 AND b.i2 = t.i2, nc
         WHERE b.n_both * 1000000 >= 100000 * nc.n_buyers)
       SELECT i1, i2, n_both, n_together,
         (n_together * 1000000 // n_both)::BIGINT AS affinity_micro,
         CASE WHEN n_together * 1000000 // n_both >= 930000
             THEN 'complement'
           WHEN n_together * 1000000 // n_both <= 880000
             THEN 'substitute'
           ELSE 'neutral' END AS label
       FROM j ORDER BY i1, i2"""

  /** Personalized PageRank: the teleport mass lands ONLY on the seed
    * set (uniformly, in integer micro shares) instead of everywhere —
    * ranks become "relevance to the anchor", the related-item /
    * same-community discovery primitive (e.g. "suppliers that co-sell
    * their way back to THIS one"). Same exact integer-micro recurrence,
    * shuffles, and per-iteration checkpointing as [[pagerank]]; total
    * teleport mass per iteration is |V|·base so the two variants carry
    * comparable magnitudes. Dangling nodes leak their mass here (no
    * uniform redistribution — with seed-only teleport the standard
    * choice is restart-at-seeds, and on the symmetrized graphs this
    * library feeds it the case never arises).
    */
  def personalizedPagerank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iterations: Int,
      dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1, "needs at least one iteration")
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val e = e0.localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val seedSet = seeds
      .select(col(seeds.columns.head).cast("long").as("id")).distinct()
    val nNodes = nodes.count()
    val nSeeds = seedSet.count()
    require(nSeeds > 0, "personalized pagerank needs at least one seed")
    // Total teleport mass |V|·(1−d)·1e6 splits over the seeds only.
    val seedBase = 1000000L * (100 - dampingPct) / 100 * nNodes / nSeeds
    val based = nodes.join(
        broadcast(seedSet.withColumn("is_seed", lit(true))),
        Seq("id"), "left")
      .select(col("id"),
        when(col("is_seed"), lit(seedBase)).otherwise(lit(0L)).as("base"))
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val init = based.select(col("id"), col("base").as("rank_micro"))
    val (prev, ranks) = Fixpoint.rounds(init, iterations) { (_, ranks) =>
      val withDeg = ranks.join(deg, col("id") === col("src"), "left")
      val contrib = withDeg.filter(col("deg").isNotNull)
        .select(col("id").as("cid"), expr("rank_micro div deg").as("c"))
      val inSums = e.join(contrib, col("src") === col("cid"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      based.join(inSums, col("id") === col("dst"), "left")
        .select(col("id"),
          (col("base") + expr(
            s"($dampingPct * coalesce(in_sum, 0L)) div 100"))
            .as("rank_micro"))
    }
    if (prev ne init) GraftShim.release(prev)
    ranks.select(col("id").as("node_id"), col("rank_micro"))
  }

  // ---- q332: which suppliers co-sell their way back to supplier 1? ------------
  // Seeds = supplier node 1 (odd id 3 in the bipartite encoding); three
  // damped iterations over the undirected trading graph; top 20 with
  // the seed excluded (its own teleport mass dwarfs the field).
  private def q332(s: SparkSession, d: String): DataFrame = {
    val pairs = custSuppPairs(s, d)
    val und = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val seeds = s.range(1).select(lit(3L).as("id"))
    personalizedPagerank(und, "a", "b", seeds, iterations = 3)
      .filter(col("node_id") =!= 3L)
      .orderBy(col("rank_micro").desc, col("node_id"))
      .limit(20)
  }
  private val q332Sql =
    """WITH eo AS (
         SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       e AS (SELECT src, dst FROM eo
             UNION ALL SELECT dst, src FROM eo),
       deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM e GROUP BY 1),
       nv AS (SELECT count(*)::BIGINT AS n FROM deg),
       b AS (SELECT id,
           CASE WHEN id = 3 THEN 150000::BIGINT * (SELECT n FROM nv)
             ELSE 0 END AS base
         FROM deg),
       r0 AS (SELECT id, base AS r FROM b),
       r1 AS (SELECT b.id,
                (b.base + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
              FROM b LEFT JOIN (
                SELECT e.dst AS id, sum(r.r // d.d) AS m
                FROM e JOIN r0 r ON r.id = e.src JOIN deg d ON d.id = e.src
                GROUP BY 1) s ON s.id = b.id),
       r2 AS (SELECT b.id,
                (b.base + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
              FROM b LEFT JOIN (
                SELECT e.dst AS id, sum(r.r // d.d) AS m
                FROM e JOIN r1 r ON r.id = e.src JOIN deg d ON d.id = e.src
                GROUP BY 1) s ON s.id = b.id),
       r3 AS (SELECT b.id,
                (b.base + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
              FROM b LEFT JOIN (
                SELECT e.dst AS id, sum(r.r // d.d) AS m
                FROM e JOIN r2 r ON r.id = e.src JOIN deg d ON d.id = e.src
                GROUP BY 1) s ON s.id = b.id)
       SELECT id AS node_id, r AS rank_micro FROM r3 WHERE id != 3
       ORDER BY rank_micro DESC, node_id LIMIT 20"""

  /** The capped co-sale (customer, supplier) relation and its pair /
    * degree / Jaccard collapses, each materialized ONCE per
    * (session, dir) — q262/q263/q319 consume the same projections
    * (production owns them as persisted artifacts, the [[coSaleEdges]]
    * discipline applied to the association-scoring family).
    */
  private def coSaleCapped(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "co_sale_capped") {
      cappedPairs(Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup")),
        "c", "sup", CoSaleCap)
    }
  private def coSaleCo(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "co_sale_co") {
      coFromCapped(coSaleCapped(s, d))
    }
  private def coSaleDeg(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "co_sale_deg") {
      degFromCapped(coSaleCapped(s, d))
    }

  // ---- q319: who should be shown which supplier next? -------------------------
  private def q319(s: SparkSession, d: String): DataFrame =
    recommendFromScores(coSaleCapped(s, d),
      jaccardScores(coSaleCo(s, d), coSaleDeg(s, d)),
      topK = 100, neighborsPerItem = 10)
  private def q319Sql =
    s"""WITH sp AS (
         SELECT c, sup FROM (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         QUALIFY row_number() OVER (PARTITION BY c ORDER BY sup)
           <= $CoSaleCap),
       co AS (
         SELECT x.sup AS i1, y.sup AS i2, count(*)::BIGINT AS w
         FROM sp x JOIN sp y ON x.c = y.c AND x.sup < y.sup
         GROUP BY 1, 2),
       deg AS (SELECT sup AS i, count(*)::BIGINT AS d FROM sp GROUP BY 1),
       sims AS (
         SELECT co.i1, co.i2,
           ((co.w * 1000000) // (a.d + b.d - co.w))::BIGINT AS jm
         FROM co JOIN deg a ON co.i1 = a.i JOIN deg b ON co.i2 = b.i),
       sb AS (
         SELECT j, cand, jm FROM (
           SELECT i1 AS j, i2 AS cand, jm FROM sims
           UNION ALL SELECT i2, i1, jm FROM sims)
         QUALIFY row_number() OVER (PARTITION BY j
           ORDER BY jm DESC, cand) <= 10),
       scored AS (
         SELECT sp.c, sb.cand, count(*)::BIGINT AS n_paths,
           sum(sb.jm)::BIGINT AS score_micro
         FROM sp JOIN sb ON sp.sup = sb.j
         GROUP BY 1, 2),
       rec AS (
         SELECT s.* FROM scored s
         ANTI JOIN sp ON s.c = sp.c AND s.cand = sp.sup)
       SELECT c AS custkey, cand AS suppkey, n_paths, score_micro
       FROM rec ORDER BY score_micro DESC, custkey, suppkey LIMIT 100"""

  /** Multi-source BFS hop distances: for every node reachable from the
    * seed set within `rounds` hops over the (symmetrized) edge list, the
    * minimum hop count — with the [[kCore]]-style fixpoint certificate
    * (sound as a (count, sum) compare because the reached set only GROWS
    * and distances only DECREASE). The propagation primitive behind
    * blast-radius, nearest-hub, and reachability audits.
    *
    * Scale design: each round is one equi-join of the current distance
    * relation against the edge list plus a grouped min with map-side
    * partials, run as a [[Fixpoint]] round. Cost per round is
    * |reached|·avg-degree — frontier-bounded on sparse projections.
    */
  def hopDistances(seeds: DataFrame, edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val seedDist = GraftShim.ckptNoStats(seeds
      .select(col(seeds.columns.head).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L)), eager = true)
    val (prev, dist) = Fixpoint.rounds(seedDist, rounds) { (_, dist) =>
      val prop = dist.join(sym, col("id") === col("a"))
        .select(col("b").as("id"), (col("dist") + 1).as("dist"))
      dist.union(prop).groupBy(col("id"))
        .agg(min(col("dist")).as("dist"))
    }
    val conv = prev
      .agg(count(lit(1)).as("c1"),
        coalesce(sum(col("dist")), lit(0L)).as("s1"))
      .crossJoin(dist.agg(count(lit(1)).as("c2"),
        coalesce(sum(col("dist")), lit(0L)).as("s2")))
      .select((col("c1") === col("c2") && col("s1") === col("s2"))
        .as("converged"))
    dist.crossJoin(broadcast(conv))
  }

  // ---- q320: contamination blast radius over the near-dup graph ---------------
  // A benchmark-contaminated document's NEAR-DUPLICATES are just as
  // suspect — the q40 detection only catches direct n-gram overlap.
  // Seeds = q40's directly contaminated train docs; edges = the verified
  // LSH near-dup pair list; three hops of expansion, reported as a
  // per-hop census with the fixpoint certificate. The governance readout
  // a decontamination pass should subtract, not just q40's hop-0 set.
  private def q320(s: SparkSession, d: String): DataFrame = {
    val seeds = PipelineOps.contamination(Tables.documents(s, d),
        "doc_id", "text", col("doc_id") % 10 === 7, n = 5)
      .select(col("train_id")).distinct()
    val edges = Dedup.lshPairsOf(s, d).select(col("d1"), col("d2"))
    hopDistances(seeds, edges, "d1", "d2", rounds = 3)
      .groupBy(col("dist"), col("converged"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("dist").as("hop"), col("n_docs"), col("converged"))
      .orderBy(col("hop"))
  }
  private val q320Sql =
    s"""WITH ${Dedup.jaccardCtes()}, ${Dedup.dupCte},
       ctoks AS (
         SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         WHERE len(string_split(text, ' ')) >= 5),
       cgrams AS (
         SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 3),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
               || ' ' || tokens[i+3] || ' ' || tokens[i+4])) AS g
           FROM ctoks)),
       seeds AS (
         SELECT DISTINCT t.doc_id AS id
         FROM cgrams t JOIN cgrams e ON t.g = e.g
         WHERE t.doc_id % 10 <> 7 AND e.doc_id % 10 = 7),
       sym AS (SELECT d1 AS a, d2 AS b FROM dup
               UNION ALL SELECT d2, d1 FROM dup),
       h0 AS (SELECT id, 0::BIGINT AS dist FROM seeds),
       h1 AS (SELECT id, min(dist)::BIGINT AS dist FROM (
           SELECT id, dist FROM h0
           UNION ALL SELECT s.b, d.dist + 1 FROM h0 d
             JOIN sym s ON d.id = s.a) GROUP BY id),
       h2 AS (SELECT id, min(dist)::BIGINT AS dist FROM (
           SELECT id, dist FROM h1
           UNION ALL SELECT s.b, d.dist + 1 FROM h1 d
             JOIN sym s ON d.id = s.a) GROUP BY id),
       h3 AS (SELECT id, min(dist)::BIGINT AS dist FROM (
           SELECT id, dist FROM h2
           UNION ALL SELECT s.b, d.dist + 1 FROM h2 d
             JOIN sym s ON d.id = s.a) GROUP BY id),
       conv AS (
         SELECT ((SELECT count(*) FROM h2) = (SELECT count(*) FROM h3)
           AND (SELECT coalesce(sum(dist), 0) FROM h2)
             = (SELECT coalesce(sum(dist), 0) FROM h3)) AS converged)
       SELECT dist AS hop, count(*)::BIGINT AS n_docs, converged
       FROM h3, conv GROUP BY 1, 3 ORDER BY hop"""

  /** Per-key item cap for q163: above the max observed per-customer
    * distinct-supplier count at every fixture scale factor (10 / 67 / 102
    * at sf0.001 / 0.01 / 0.1), so the fixture census is bit-identical to
    * the uncapped projection while the fan-out bound holds for any input.
    */
  private val CoSaleCap = 128

  // ---- q163: triangle census of the supplier co-sale projection ---------------
  // Two suppliers link when they share customers; keeping only the 3000
  // STRONGEST pairs (by shared-customer count, ties on ids) makes the
  // projection a sparse association graph at any scale factor — an
  // unthresholded co-occurrence projection of a dense bipartite graph is
  // near-complete, and its ~n³/6 triangles are a property of the graph,
  // not the algorithm. The census says whether supplier communities
  // overlap in cliques or chain through hubs. The pair enumeration runs
  // through [[coOccurrencePairs]], whose per-customer cap bounds the
  // pre-threshold fan-out (the hub-customer quadratic blowup lives
  // there, not in the census).
  /** The top-3000 supplier co-sale edge list (s1 < s2) — shared by the
    * q163 census and the q207/q208/q217 community/topology scores.
    * Materialized ONCE per (session, dir) via [[Materialized]]: every
    * consumer self-joins this relation several times (the census touches
    * the oriented list three times, local clustering four), and the
    * FAMILY shares one derivation across queries — without the registry
    * each query re-executed the orders⨝lineitem projection + pair
    * aggregation + top-3000. 3000 rows of three longs: the
    * materialization is metadata-sized next to what it saves.
    */
  private def coSaleEdges(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "co_sale_top3000") {
      val sp = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      coOccurrencePairs(sp, "c", "sup", CoSaleCap)
        .select(col("i1").as("s1"), col("i2").as("s2"), col("w"))
        .orderBy(col("w").desc, col("s1"), col("s2"))
        .limit(3000)
    }

  /** Two-hop link candidates: node pairs at distance exactly 2 —
    * connected through ≥ 1 common neighbor but NOT yet edges — scored by
    * common-neighbor count. The candidate-generation step of
    * link-prediction ("which suppliers WILL co-sell next"), where
    * [[linkJaccard]]/[[saltonPairs]] score pairs that already co-occur.
    * Exact integer counts, deterministic ordering.
    *
    * Scale design: the wedge join runs on the (already thresholded)
    * projection — Σ deg² bounded by the edge cap; the existing-edge
    * removal is a left-anti join on the canonical (min, max) pair key.
    * Nothing corpus-sized appears.
    */
  def linkCandidates(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    val adj = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .union(edges.select(col(dstCol).cast("long").as("a"),
        col(srcCol).cast("long").as("b")))
    val twoHop = adj.as("l")
      .join(adj.as("r"), col("l.b") === col("r.a") && col("l.a") < col("r.b"))
      .groupBy(col("l.a").as("u"), col("r.b").as("v"))
      .agg(count(lit(1)).as("common_neighbors"))
    twoHop.join(
        edges.select(col(srcCol).cast("long").as("u"),
          col(dstCol).cast("long").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("common_neighbors").desc, col("u"), col("v"))
      .limit(k)
  }

  // ---- q279: which part pairs are one order away from co-purchase? ------------
  // The PART co-purchase graph (orders as baskets, repeat-confirmed
  // edges w >= 2) is the one association graph in the fixture that stays
  // SPARSE at every scale factor — the supplier projection is complete
  // over sf0.001's ten suppliers, which has no distance-2 non-edges by
  // construction. Same capped enumeration as every co-occurrence
  // operator (cap 16 > the max lineitems per order at any fixture
  // scale, so the census is bit-identical to uncapped).
  private def q279(s: SparkSession, d: String): DataFrame = {
    val edges = coOccurrencePairs(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("c"), col("l_partkey").as("i")),
        "c", "i", maxItemsPerKey = 16)
      .filter(col("w") >= 2)
    linkCandidates(edges, "i1", "i2", 30)
  }
  private def q279Sql =
    """WITH sp AS (
         SELECT c, i FROM (
           SELECT DISTINCT l_orderkey AS c, l_partkey AS i FROM lineitem)
         QUALIFY row_number() OVER (PARTITION BY c ORDER BY i) <= 16),
       e AS (
         SELECT u, v FROM (
           SELECT x.i AS u, y.i AS v, count(*) AS w
           FROM sp x JOIN sp y ON x.c = y.c AND x.i < y.i
           GROUP BY 1, 2)
         WHERE w >= 2),
       adj AS (SELECT u AS a, v AS b FROM e
               UNION ALL SELECT v, u FROM e),
       two AS (
         SELECT l.a AS u, r.b AS v, count(*)::BIGINT AS common_neighbors
         FROM adj l JOIN adj r ON l.b = r.a AND l.a < r.b
         GROUP BY 1, 2),
       cand AS (
         SELECT two.u, two.v, two.common_neighbors
         FROM two LEFT JOIN e ON two.u = e.u AND two.v = e.v
         WHERE e.u IS NULL)
       SELECT u, v, common_neighbors FROM cand
       ORDER BY common_neighbors DESC, u, v LIMIT 30"""

  /** Degree-distribution histogram of an undirected edge list:
    * (degree, n_nodes, node_share_micro) — the first profile read on any
    * association graph (hub-dominated vs flat decides whether the next
    * operator needs skew handling at all). Exact integer shares.
    *
    * Scale design: two metadata-sized collapses (edge endpoints →
    * degrees → histogram) with map-side partials; one broadcast total.
    */
  def degreeHistogram(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val deg = edges.select(col(srcCol).cast("long").as("n"))
      .unionAll(edges.select(col(dstCol).cast("long").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    hist.crossJoin(broadcast(hist.agg(sum(col("n_nodes")).as("total"))))
      .select(col("degree"), col("n_nodes"),
        expr("(n_nodes * 1000000L) div total").as("node_share_micro"))
  }

  // ---- q290: is the co-sale projection hub-dominated? -------------------------
  private def q290(s: SparkSession, d: String): DataFrame =
    degreeHistogram(coSaleEdges(s, d), "s1", "s2")
      .orderBy(col("degree"))
  private def q290Sql =
    s"""WITH $coSaleCtes,
       deg AS (
         SELECT n, count(*)::BIGINT AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v FROM und)
         GROUP BY n),
       hist AS (
         SELECT d AS degree, count(*)::BIGINT AS n_nodes
         FROM deg GROUP BY 1),
       t AS (SELECT sum(n_nodes)::BIGINT AS total FROM hist)
       SELECT degree, n_nodes,
         ((n_nodes * 1000000) // total)::BIGINT AS node_share_micro
       FROM hist, t ORDER BY degree"""

  /** The distinct customer×supplier bipartite pairs in disjoint node-id
    * encoding (customer 2c, supplier 2s+1) — the edge list shared by the
    * q159 pagerank, q165 k-core, and q175 HITS consumers, materialized
    * ONCE per (session, dir) via [[Materialized]].
    */
  private def custSuppPairs(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "cust_supp_bipartite") {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
    }

  private def q163(s: SparkSession, d: String): DataFrame =
    triangleStats(coSaleEdges(s, d), "s1", "s2")
  /** Shared oracle fragment: the capped co-sale projection and its
    * top-3000 undirected edge list `und(u, v)` (q163/q207/q208). */
  private val coSaleCtes =
    s"""sp AS (
         SELECT c, sup FROM (
           SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         QUALIFY row_number() OVER (PARTITION BY c ORDER BY sup)
           <= $CoSaleCap),
       und AS (
         SELECT u, v FROM (
           SELECT x.sup AS u, y.sup AS v, count(*) AS w
           FROM sp x JOIN sp y ON x.c = y.c AND x.sup < y.sup
           GROUP BY 1, 2
           ORDER BY w DESC, u, v LIMIT 3000))"""

  private val q163Sql =
    s"""WITH $coSaleCtes,
       deg AS (
         SELECT n, count(*)::BIGINT AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v FROM und)
         GROUP BY n),
       o AS (
         SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN und.u ELSE und.v END AS a,
                CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN und.v ELSE und.u END AS b
         FROM und
           JOIN deg du ON du.n = und.u
           JOIN deg dv ON dv.n = und.v),
       tri AS (
         SELECT count(*)::BIGINT AS n_triangles
         FROM o e1 JOIN o e2 ON e1.b = e2.a
           JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
       c AS (
         SELECT (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
           (SELECT count(*)::BIGINT FROM und) AS n_edges,
           (SELECT sum(d * (d - 1) // 2)::BIGINT FROM deg) AS n_wedges)
       SELECT n_nodes, n_edges, n_wedges, n_triangles,
         CASE WHEN n_wedges = 0 THEN NULL
           ELSE (3000000 * n_triangles) // n_wedges END AS gcc_micro
       FROM c CROSS JOIN tri"""

  /** Bounded-round k-core peeling: repeatedly drop nodes with degree < k
    * (and their edges) for exactly `rounds` rounds, then report the
    * surviving nodes with their within-subgraph degrees plus a
    * `converged` flag (true iff the final round removed nothing — by
    * peel monotonicity, exactly when the true k-core fixpoint was
    * reached within the round budget). The k-core —
    * the classic "dense cohesive region" extractor (spam rings,
    * boilerplate hubs, strongly-connected near-dup families) — is the
    * fixpoint of this peel; running a FIXED round count instead of a
    * convergence loop keeps the operator a pure declarative plan (no
    * driver-side actions) and makes the oracle an unrolled generated
    * peel with identical semantics whether or not the fixpoint was
    * reached — choose `rounds` ≥ the expected peel depth (cascades
    * deeper than ~5 are rare outside adversarial chains; the spec pins a
    * 2-round cascade by hand).
    *
    * Scale design: each round is one degree aggregation (map-side
    * partials) plus two semi-joins of the edge list against the
    * surviving-node set; lineage is checkpointed per round. All counts
    * exact BIGINTs — deterministic on any engine or partitioning.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and at least one round")
    val und = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val (ePrev, e) = Fixpoint.rounds(und, rounds) { (_, e) =>
      val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("n"))
      e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    }
    // Fixpoint certificate: peeling is monotone, so "the final round
    // removed nothing" (edge counts equal) iff the k-core fixpoint was
    // reached within the round budget — emitted so callers never mistake
    // a truncated peel for the core. One broadcast single-row compare.
    val conv = ePrev.agg(count(lit(1)).as("n_prev"))
      .crossJoin(e.agg(count(lit(1)).as("n_last")))
      .select((col("n_prev") === col("n_last")).as("converged"))
    e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      .select(col("n").as("node_id"), col("deg"))
      .crossJoin(broadcast(conv))
      .orderBy(col("node_id"))
  }

  private val CoreK = 8
  private val CoreRounds = 6

  // ---- q165: the 8-core of the customer–supplier trading graph ----------------
  // Customer degrees run 3–10 at sf0.001 (ten suppliers exist) and 1–102
  // at sf0.1, so k = 8 peels the thin-tail customers at every scale
  // factor while the high-degree supplier side keeps the core non-empty;
  // 6 rounds comfortably cover the cascade depth.
  private def q165(s: SparkSession, d: String): DataFrame =
    kCore(custSuppPairs(s, d), "a", "b", CoreK, CoreRounds)
  // The oracle is the identical peel UNROLLED: e0 is the canonical edge
  // set, e{i} keeps e{i-1}'s edges whose endpoints both have degree >= k
  // in e{i-1} (generated text — the q147 generated-oracle pattern). Each
  // round MATERIALIZED: an inlined CTE is referenced several times per
  // round, so six un-materialized rounds expand to ~5^6 base scans.
  private val q165Sql: String = {
    val rounds = (1 to CoreRounds).map { i =>
      val p = s"e${i - 1}"
      s"""k$i AS MATERIALIZED (
         SELECT n FROM (SELECT u AS n FROM $p UNION ALL SELECT v FROM $p)
         GROUP BY n HAVING count(*) >= $CoreK),
       e$i AS MATERIALIZED (
         SELECT u, v FROM $p
         WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))"""
    }.mkString(",\n       ")
    s"""WITH e0 AS MATERIALIZED (
         SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       $rounds
       SELECT n AS node_id, count(*)::BIGINT AS deg,
         (SELECT count(*) FROM e${CoreRounds - 1})
           = (SELECT count(*) FROM e$CoreRounds) AS converged
       FROM (SELECT u AS n FROM e$CoreRounds
             UNION ALL SELECT v FROM e$CoreRounds)
       GROUP BY n ORDER BY node_id"""
  }

  /** Bounded-round k-truss peeling: repeatedly delete edges whose
    * triangle support (number of common neighbors of the endpoints,
    * within the surviving subgraph) is below k−2, for exactly `rounds`
    * rounds; report surviving edges with their within-truss support plus
    * the same fixpoint certificate as [[kCore]] (sound for the bare
    * count compare because truss peeling only ever DELETES edges). The
    * k-truss is the cohesion notion one step stronger than the k-core —
    * every edge must sit in k−2 triangles, so bridges and barely-attached
    * hubs that survive coreness are peeled (Cohen 2008, "Trusses:
    * cohesive subgraphs for social network analysis").
    *
    * Scale design: each round is one wedge equi-join on the CURRENT
    * (shrinking, thresholded) edge list — cost Σ deg², bounded when the
    * input is a capped projection like the co-sale graph — followed by a
    * grouped count with map-side partials, run as a [[Fixpoint]] round.
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "need k >= 3 and at least one round")
    def support(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      e.join(sym.as("s1"), col("s1.a") === col("u"))
        .join(sym.as("s2"),
          col("s2.a") === col("v") && col("s1.b") === col("s2.b"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
    }
    val und = edges
      .select(col(srcCol).cast("long").as("x"), col(dstCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val (ePrev, e) = Fixpoint.rounds(und, rounds) { (_, e) =>
      support(e).filter(col("sup") >= k - 2).select(col("u"), col("v"))
    }
    val conv = ePrev.agg(count(lit(1)).as("n_prev"))
      .crossJoin(e.agg(count(lit(1)).as("n_last")))
      .select((col("n_prev") === col("n_last")).as("converged"))
    support(e).crossJoin(broadcast(conv))
      .orderBy(col("u"), col("v"))
  }

  private val TrussK = 30
  private val TrussRounds = 8

  // ---- q314: the 30-truss of the co-sale projection ---------------------------
  // On the capped top-3000 co-sale projection, supports at sf0.01 run
  // 7–93 (median 47): k = 30 peels a five-round cascade to a stable
  // 2.3k-edge truss. At sf0.001 (a small clique, supports ≡ 8) and
  // sf0.1 (supports ≤ 3 — the 3000-edge budget spreads thin) the same k
  // converges to the EMPTY truss in one round — the certificate
  // discipline makes that an answer, not an artifact.
  private def q314(s: SparkSession, d: String): DataFrame =
    kTruss(coSaleEdges(s, d), "s1", "s2", TrussK, TrussRounds)
  private val q314Sql: String = {
    val rounds = (1 to TrussRounds).map { i =>
      val p = s"e${i - 1}"
      s"""s$i AS MATERIALIZED (
         SELECT u AS a, v AS b FROM $p UNION ALL SELECT v, u FROM $p),
       e$i AS MATERIALIZED (
         SELECT e.u, e.v FROM $p e
         JOIN s$i s1 ON s1.a = e.u
         JOIN s$i s2 ON s2.a = e.v AND s1.b = s2.b
         GROUP BY e.u, e.v HAVING count(*) >= ${TrussK - 2})"""
    }.mkString(",\n       ")
    s"""WITH $coSaleCtes,
       e0 AS MATERIALIZED (SELECT u, v FROM und),
       $rounds,
       sf AS (
         SELECT u AS a, v AS b FROM e$TrussRounds
         UNION ALL SELECT v, u FROM e$TrussRounds)
       SELECT e.u, e.v, count(*)::BIGINT AS sup,
         (SELECT count(*) FROM e${TrussRounds - 1})
           = (SELECT count(*) FROM e$TrussRounds) AS converged
       FROM e$TrussRounds e
       JOIN sf s1 ON s1.a = e.u
       JOIN sf s2 ON s2.a = e.v AND s1.b = s2.b
       GROUP BY e.u, e.v ORDER BY e.u, e.v"""
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the O(log n)-round
    * complement to [[Dedup.dedupClusters]]'s O(diameter) min-label
    * propagation: a 10M-node chain needs 10M propagation rounds but only
    * ~24 star rounds, and each round is two grouped aggregations over the
    * (shrinking) edge list.
    *
    * large-star hangs every larger neighbor of u onto u's neighborhood
    * minimum; small-star re-hangs the smaller-or-equal neighbors. Both
    * steps preserve connectivity and monotonically pull components into
    * stars rooted at their minimum node id; at the fixpoint every node is
    * directly attached to its component min. Output: (node_id, component,
    * converged) for every node appearing in an edge, component = min node
    * id reachable, plus the same fixpoint certificate discipline as
    * [[kCore]] (converged = the last round changed nothing — checked as
    * SET equality via exceptAll, because star rounds rewrite edges rather
    * than only deleting them, so a bare count compare would be unsound).
    *
    * Scale design: each round is groupBy-min + a same-key join back
    * (partitioning reused) + distinct — all map-side-partial hash
    * aggregations over star edges that only get sparser; lineage is
    * localCheckpoint'ed per round. All ids exact BIGINTs.
    */
  def connectedComponentsStars(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one star round")
    val e0 = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val (ePrev, e) = Fixpoint.rounds(e0, rounds) { (_, e) =>
      // large-star: for each node u (over the symmetrized adjacency),
      // hang every neighbor w > u onto m = min(N(u) ∪ {u}).
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
      // small-star: orient each edge to (larger, smaller); hang the
      // smaller neighbors AND u itself onto m = min of the smaller side.
      val ori = large
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val mins2 = ori.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = ori.join(mins2, "u")
      withM.select(col("u").as("a"), col("m").as("b"))
        .union(withM.filter(col("v") =!= col("m"))
          .select(col("v").as("a"), col("m").as("b")))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // Set-equality fixpoint certificate (rewrites, not just deletions).
    val conv = ePrev.exceptAll(e).union(e.exceptAll(ePrev))
      .agg((count(lit(1)) === 0).as("converged"))
    val sym = e.select(col("a").as("n"), col("b").as("v"))
      .union(e.select(col("b").as("n"), col("a").as("v")))
    sym.groupBy(col("n")).agg(least(min(col("v")), first(col("n"))).as("component"))
      .select(col("n").as("node_id"), col("component"))
      .crossJoin(broadcast(conv))
      .orderBy(col("node_id"))
  }

  // ---- q166: star-contraction components of the near-dup pair graph -----------
  // The same LSH duplicate pairs that q60 clusters by min-label
  // propagation, clustered by the O(log n) star algorithm instead — both
  // must land on the identical (node, min-reachable-id) labeling, and the
  // oracle is the same recursive-CTE transitive closure. 4 rounds cover
  // the tiny near-dup families with slack; `converged` is oracle-asserted
  // true, so a silent truncation would fail the gate.
  private def q166(s: SparkSession, d: String): DataFrame =
    connectedComponentsStars(
      Dedup.lshPairsOf(s, d),
      "d1", "d2", rounds = 4)
  private val q166Sql =
    s"""WITH RECURSIVE ${Dedup.jaccardCtes()},
       ${Dedup.dupCte},
       ${Dedup.closureCtes}
       SELECT a AS node_id, least(a, min(b)) AS component, true AS converged
       FROM reach GROUP BY a ORDER BY node_id"""

  /** HITS hubs-and-authorities over a DIRECTED edge list — the mutual
    * reinforcement pair to [[pagerank]]'s single score: an authority is
    * pointed at by good hubs, a hub points at good authorities. On an
    * interaction graph this separates "widely consumed" (authority) from
    * "widely consuming" (hub) — two roles PageRank conflates.
    *
    * Each half-iteration is one shuffle of the edge relation keyed by the
    * receiving side with map-side partial sums, then a max-normalization:
    * scores are BIGINT micro-units and `s·1000000 div max(s)` rescales the
    * leader to exactly 1,000,000 — the standard L∞ normalization made
    * exact integer algebra (L2 would need a cross-engine-divergent sqrt of
    * a sum). The max is a single-row aggregate broadcast back, never a
    * driver round-trip. Exactness bound: the pre-normalization product
    * s·10^6 must stay under 2^63, i.e. per-node in-degree below ~9·10^6;
    * beyond that, pre-aggregate parallel edges or downscale the unit.
    *
    * Nodes with no in-edges get authority 0; no out-edges, hub 0 —
    * reported, not dropped (the [[pagerank]] dangling lesson: every node
    * in src ∪ dst appears in the output).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint() // stats-ok: loop INPUT materialized once, not round state
    // One Fixpoint round per half-step: odd rounds score authorities
    // from the hubs before them, even rounds hubs from those authorities,
    // so the last two rounds are (auth, hub). Each is the (id, score·1e6
    // div max) relation with every node present (absent = 0).
    val (auth, hub) = Fixpoint.rounds(
        nodes.select(col("id"), lit(1000000L).as("s")), 2 * iterations) {
      (round, prev) =>
        val (from, to) = if (round.index % 2 == 1) ("src", "dst")
          else ("dst", "src")
        val full = nodes.join(e.join(prev.withColumnRenamed("id", "pid"),
              col(from) === col("pid"))
            .groupBy(col(to).as("id")).agg(sum(col("s")).as("s")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("s"), lit(0L)).as("s"))
        val mx = full.agg(max(col("s")).as("mx"))
        full.crossJoin(broadcast(mx))
          .select(col("id"),
            when(col("mx") > 0, expr("s * 1000000L div mx"))
              .otherwise(lit(0L)).as("s"))
    }
    GraftShim.release(e)
    nodes
      .join(auth.select(col("id"), col("s").as("auth_micro")), Seq("id"))
      .join(hub.select(col("id"), col("s").as("hub_micro")), Seq("id"))
      .select(col("id").as("node_id"), col("auth_micro"), col("hub_micro"))
  }

  // ---- q175: HITS roles on the directed order graph ---------------------------
  // Customer → supplier edges (who buys from whom): customers are pure
  // hubs, suppliers pure authorities — the bipartite case makes the role
  // split inspectable. Two full iterations, every node reported. The
  // oracle unrolls the same four half-steps in exact integer algebra.
  private def q175(s: SparkSession, d: String): DataFrame = {
    val pairs = custSuppPairs(s, d)
    hits(pairs, "a", "b", iterations = 2)
      .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("node_id"))
      .limit(30)
  }
  private val q175Sql =
    """WITH eo AS (
         SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       nodes AS (SELECT src AS id FROM eo UNION SELECT dst FROM eo),
       h0 AS (SELECT id, 1000000::BIGINT AS s FROM nodes),
       a1r AS (SELECT n.id, coalesce(x.s, 0)::BIGINT AS s FROM nodes n
               LEFT JOIN (SELECT e.dst AS id, sum(h.s)::BIGINT AS s
                          FROM eo e JOIN h0 h ON h.id = e.src
                          GROUP BY 1) x ON n.id = x.id),
       a1 AS (SELECT id, CASE WHEN (SELECT max(s) FROM a1r) > 0
                THEN s * 1000000 // (SELECT max(s) FROM a1r)
                ELSE 0 END::BIGINT AS s FROM a1r),
       h1r AS (SELECT n.id, coalesce(x.s, 0)::BIGINT AS s FROM nodes n
               LEFT JOIN (SELECT e.src AS id, sum(a.s)::BIGINT AS s
                          FROM eo e JOIN a1 a ON a.id = e.dst
                          GROUP BY 1) x ON n.id = x.id),
       h1 AS (SELECT id, CASE WHEN (SELECT max(s) FROM h1r) > 0
                THEN s * 1000000 // (SELECT max(s) FROM h1r)
                ELSE 0 END::BIGINT AS s FROM h1r),
       a2r AS (SELECT n.id, coalesce(x.s, 0)::BIGINT AS s FROM nodes n
               LEFT JOIN (SELECT e.dst AS id, sum(h.s)::BIGINT AS s
                          FROM eo e JOIN h1 h ON h.id = e.src
                          GROUP BY 1) x ON n.id = x.id),
       a2 AS (SELECT id, CASE WHEN (SELECT max(s) FROM a2r) > 0
                THEN s * 1000000 // (SELECT max(s) FROM a2r)
                ELSE 0 END::BIGINT AS s FROM a2r),
       h2r AS (SELECT n.id, coalesce(x.s, 0)::BIGINT AS s FROM nodes n
               LEFT JOIN (SELECT e.src AS id, sum(a.s)::BIGINT AS s
                          FROM eo e JOIN a2 a ON a.id = e.dst
                          GROUP BY 1) x ON n.id = x.id),
       h2 AS (SELECT id, CASE WHEN (SELECT max(s) FROM h2r) > 0
                THEN s * 1000000 // (SELECT max(s) FROM h2r)
                ELSE 0 END::BIGINT AS s FROM h2r)
       SELECT n.id AS node_id, a2.s AS auth_micro, h2.s AS hub_micro
       FROM nodes n JOIN a2 ON a2.id = n.id JOIN h2 ON h2.id = n.id
       ORDER BY auth_micro DESC, hub_micro DESC, node_id LIMIT 30"""

  /** Per-node local clustering coefficient: triangles touching the node
    * over its C(d, 2) wedges — the node-granular reading of
    * [[triangleStats]]'s one global number, and the score that separates
    * clique members (lcc → 1: near-dup families, closed supplier rings)
    * from hubs (lcc → 0: boilerplate stars) NODE BY NODE.
    *
    * Same (degree, id)-oriented enumeration as the census — each
    * triangle materializes once — then every triangle credits its three
    * corners via one explode + hash aggregation. Exact integers; nodes
    * with d < 2 have no wedges and report null. Scale: the enumeration
    * cost is the census's (oriented out-degree bounded); the corner
    * credit adds one 3x-triangles-sized aggregation with map-side
    * partials.
    */
  def localClustering(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = raw
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val o = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val corners = o.as("e1")
      .join(o.as("e2"), col("e1.b") === col("e2.a"))
      .join(o.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
        .as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("n"), "left")
      .select(col("n").as("node_id"), col("d").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("d") < 2, lit(null).cast("long"))
          .otherwise(expr(
            "2L * coalesce(n_tri, 0L) * 1000000L div (d * (d - 1L))"))
          .as("lcc_micro"))
  }

  // ---- q217: who sits inside a clique, who is a hub? --------------------------
  // Per-supplier local clustering over the co-sale projection, densest
  // neighborhoods first.
  private def q217(s: SparkSession, d: String): DataFrame =
    localClustering(coSaleEdges(s, d), "s1", "s2")
      .orderBy(col("node_id"))
  private val q217Sql =
    s"""WITH $coSaleCtes,
       deg AS (
         SELECT n, count(*)::BIGINT AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v FROM und)
         GROUP BY n),
       o AS (
         SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN und.u ELSE und.v END AS a,
                CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN und.v ELSE und.u END AS b
         FROM und
           JOIN deg du ON du.n = und.u
           JOIN deg dv ON dv.n = und.v),
       corners AS (
         SELECT n, count(*)::BIGINT AS n_tri FROM (
           SELECT unnest([e1.a, e1.b, e2.b]) AS n
           FROM o e1 JOIN o e2 ON e1.b = e2.a
             JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b) t
         GROUP BY n)
       SELECT deg.n AS node_id, d AS degree,
         coalesce(n_tri, 0)::BIGINT AS n_triangles,
         CASE WHEN d < 2 THEN NULL
           ELSE (2 * coalesce(n_tri, 0) * 1000000 // (d * (d - 1)))
           END::BIGINT AS lcc_micro
       FROM deg LEFT JOIN corners ON deg.n = corners.n
       ORDER BY node_id"""

  /** Newman modularity contributions of a node partition over an
    * undirected, deduplicated (u < v) edge list: per community,
    *   Q_c = e_c/m − (D_c/2m)²
    * where e_c = internal edges, D_c = total degree, m = edge count —
    * "are these communities denser than the degree sequence predicts?",
    * the acceptance score for ANY clustering laid over a graph (here:
    * do dedup/co-sale communities follow the labels?). Σ Q_c is the
    * partition's modularity; emitting per-community contributions shows
    * WHICH labels carry the structure.
    *
    * Exact rational algebra: Q_c·4m² = 4m·e_c − D_c², all BIGINT; the
    * one division truncates to micro (Spark's `div` and DuckDB's `//`
    * both truncate toward zero). Bound:
    * 4m²·10⁶ < 2⁶³ caps edges at ~10⁶ per run — per-partition QA runs,
    * not planetary graphs; downscale the unit beyond that.
    *
    * Scale: degrees from one union-all aggregation, e_c from one
    * membership equi-join pair on the edge list, D_c from a
    * |nodes|-sized join — map-side partials everywhere; m is a
    * broadcast single-row aggregate. Nodes missing from `membership`
    * drop out (their edges count toward m but no community).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      membership: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val mm = broadcast(e.agg(count(lit(1)).as("m")))
    val mem = membership.select(col(nodeCol).cast("long").as("n"),
      col(commCol).as("cm"))
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val dc = deg.join(mem, Seq("n"))
      .groupBy(col("cm"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_tot"))
    val ec = e
      .join(mem.select(col("n").as("u"), col("cm").as("cu")), Seq("u"))
      .join(mem.select(col("n").as("v"), col("cm").as("cv")), Seq("v"))
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("cm"))
      .agg(count(lit(1)).as("e_in"))
    dc.join(ec, Seq("cm"), "left")
      .crossJoin(mm)
      .select(col("cm").as(commCol), col("n_nodes"), col("d_tot"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("m"),
        expr("""(4L * m * coalesce(e_in, 0L) - d_tot * d_tot) * 1000000L
             div (4L * m * m)""").as("q_micro"))
  }

  /** Degree assortativity of an undirected, deduplicated edge list: the
    * Pearson correlation of endpoint degrees over all edge-endpoint
    * pairs (each edge counted in both orientations) — positive means
    * hubs link to hubs (social shape), negative means hubs link to
    * leaves (infrastructural/star shape). The one-number topology
    * fingerprint to watch drift in a dedup/co-occurrence graph.
    *
    * Because both orientations are counted, the j and k marginals are
    * identical, so r = (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²) — numerator and
    * denominator EXACT BIGINTs (both under 2⁵³ for graphs to ~10⁵
    * edges, hence exactly double-representable) and the finish is ONE
    * correctly-rounded division + the binary-deterministic
    * floor(x·10⁶+0.5)/10⁶. No sqrt anywhere. Null when every degree is
    * equal (zero variance — a perfect matching or a single cycle).
    */
  def assortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val pairs = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      .join(deg.select(col("n").as("u"), col("d").as("j")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("k")), Seq("v"))
    pairs.agg(count(lit(1)).as("mm"), sum(col("j")).as("sj"),
        sum(col("j") * col("j")).as("sjj"),
        sum(col("j") * col("k")).as("sjk"))
      .select(col("mm").as("n_endpoints"),
        when(col("mm") * col("sjj") === col("sj") * col("sj"),
          lit(null).cast("double"))
          .otherwise(bin6(
            (col("mm") * col("sjk") - col("sj") * col("sj")).cast("double")
              / (col("mm") * col("sjj") - col("sj") * col("sj"))
              .cast("double")))
          .as("assortativity"))
  }

  // ---- q207: is supplier co-selling organized by nation? ----------------------
  // Modularity of the nation partition over the co-sale graph: per
  // nation, does internal co-selling beat the degree-sequence baseline?
  private def q207(s: SparkSession, d: String): DataFrame =
    modularity(coSaleEdges(s, d), "s1", "s2",
        Tables.supplier(s, d).select(col("s_suppkey").as("n"),
          col("s_nationkey").as("nation")),
        "n", "nation")
      .orderBy(col("nation"))
  private val q207Sql =
    s"""WITH $coSaleCtes,
       mem AS (SELECT s_suppkey AS n, s_nationkey AS nation FROM supplier),
       deg2 AS (
         SELECT n, count(*)::BIGINT AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v FROM und)
         GROUP BY n),
       mtot AS (SELECT count(*)::BIGINT AS m FROM und),
       dc AS (
         SELECT mem.nation AS cm, count(*)::BIGINT AS n_nodes,
           sum(d)::BIGINT AS d_tot
         FROM deg2 JOIN mem ON deg2.n = mem.n GROUP BY 1),
       ec AS (
         SELECT mu.nation AS cm, count(*)::BIGINT AS e_in
         FROM und JOIN mem mu ON und.u = mu.n
           JOIN mem mv ON und.v = mv.n
         WHERE mu.nation = mv.nation GROUP BY 1)
       SELECT dc.cm AS nation, n_nodes, d_tot,
         coalesce(e_in, 0)::BIGINT AS e_in, m,
         (sign(4 * m * coalesce(e_in, 0) - d_tot * d_tot)::BIGINT
           * (abs(4 * m * coalesce(e_in, 0) - d_tot * d_tot) * 1000000
             // (4 * m * m)))::BIGINT AS q_micro
       FROM dc LEFT JOIN ec ON dc.cm = ec.cm CROSS JOIN mtot
       ORDER BY nation"""

  // ---- q208: co-sale topology fingerprint — hubs-to-hubs or hubs-to-leaves? ---
  private def q208(s: SparkSession, d: String): DataFrame =
    assortativity(coSaleEdges(s, d), "s1", "s2")
  private val q208Sql =
    s"""WITH $coSaleCtes,
       deg2 AS (
         SELECT n, count(*)::BIGINT AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v FROM und)
         GROUP BY n),
       pairs AS (
         SELECT du.d AS j, dv.d AS k
         FROM und JOIN deg2 du ON und.u = du.n JOIN deg2 dv ON und.v = dv.n
         UNION ALL
         SELECT dv.d AS j, du.d AS k
         FROM und JOIN deg2 du ON und.u = du.n JOIN deg2 dv ON und.v = dv.n),
       agg AS (
         SELECT count(*)::BIGINT AS mm, sum(j)::BIGINT AS sj,
           sum(j * j)::BIGINT AS sjj, sum(j * k)::BIGINT AS sjk
         FROM pairs)
       SELECT mm AS n_endpoints,
         CASE WHEN mm * sjj = sj * sj THEN NULL
           ELSE floor((mm * sjk - sj * sj)::DOUBLE
             / (mm * sjj - sj * sj)::DOUBLE * 1e6 + 0.5) / 1e6
           END AS assortativity
       FROM agg"""

  /** Closeness centrality, eccentricity, and reach for EVERY node of an
    * undirected edge list via multi-source BFS — the distance-based
    * centrality beside [[pagerank]] (flow) and [[kCore]] (cohesion).
    * Wasserman–Faust normalized so disconnected graphs compare fairly:
    * C(v) = (r/(n−1)) · (r/Σd) with r = nodes reached (excl. self), 0
    * when isolated — exact ppm floor division. Eccentricity = max BFS
    * depth; its max over rows is the graph diameter, its min the radius.
    *
    * Scale: level-synchronous frontier BFS — each round joins the
    * current (src, node) frontier against the edge list, dedupes, and
    * anti-joins the visited set; rounds = graph diameter, every round
    * one hash join + one anti join, frontiers localCheckpoint'ed
    * (origin stats dropped — the dedupClusters discipline).
    *
    * `sources` is the SCALE LEVER (Eppstein–Wang pivot sampling, the
    * [[betweennessSampled]] discipline): 0 (default) runs BFS from ALL
    * nodes — exact, but state is the reached PAIR set, Θ(n·reach).
    * sources = K > 0 runs BFS from the K lowest (md5(id), id) nodes (a
    * deterministic uniform pivot sample) and estimates EVERY node's
    * reach/Σd from its distances TO the pivots (undirected symmetry
    * d(p,v) = d(v,p)): r̂ = ⌊cnt·n/K⌋−1, Σ̂d = ⌊Σ_p d·n/K⌋, the same
    * Wasserman–Faust ppm floor on the estimates — state drops to
    * K·reach rows. With K = n the estimator collapses to the exact form
    * BIT FOR BIT (spec-pinned); eccentricity under sampling is the max
    * pivot distance, a LOWER bound. Nodes unreached by every pivot emit
    * no row.
    */
  def closenessCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      maxDepth: Int = 64, sources: Int = 0): DataFrame = {
    val (und, allNodes) = symNodes(edges, srcCol, dstCol)
    val n = allNodes.count()
    val srcNodes = if (sources <= 0) allNodes
      else GraftShim.ckptNoStats(allNodes
        .orderBy(md5(col("node").cast("string").cast("binary")), col("node"))
        .limit(sources))
    // The pivot set is the first min(sources, n) nodes, so k needs no
    // count job. k is 0 only on an empty graph, which reads out no rows;
    // a 0 would still fail planning as a literal divisor.
    val k = if (sources <= 0) n else math.min(sources.toLong, n)
    closenessReadout(bfsDistances(und, srcNodes, maxDepth), n, k max 1)
  }

  /** Symmetric deduped edge list + node universe, both pinned — the
    * shared front half of every BFS-family operator. */
  private def symNodes(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).localCheckpoint(true) // stats-ok: one-shot edge materialization, not round state
    val und = GraftShim.ckptNoStats(e0
      .union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    (und, GraftShim.ckptNoStats(und.select(col("a").as("node")).distinct()))
  }

  /** Level-synchronous multi-source BFS: (src, node, d) for every node
    * reachable from each start node, d = shortest hop count. One hash
    * join + one anti join per level; frontiers checkpointed with origin
    * stats dropped (the dedupClusters discipline).
    *
    * Visited check is FRONTIER-LOCAL: on an undirected (symmetric) edge
    * list a candidate generated from the level-d frontier is adjacent to
    * a distance-d node, so its own distance is d-1, d, or d+1 — the
    * anti-join only needs the last TWO frontiers, never a cumulative
    * visited relation. That removes the per-level rewrite of a growing
    * Θ(reach) pair set (one checkpoint job per level, O(diameter·reach)
    * total bytes → O(reach)) while keeping the plan flat (each frontier
    * is already a checkpointed leaf; the 400-hop-chain spec still
    * matches the oracle recursion).
    */
  private def bfsDistances(und: DataFrame, srcNodes: DataFrame,
      maxDepth: Int): DataFrame = {
    val start = GraftShim.ckptNoStats(srcNodes
      .select(col("node").as("src"), col("node"), lit(0L).as("d")))
    val frontiers = scala.collection.mutable.ListBuffer(start)
    var more = true
    while (more) {
      val depth = frontiers.size.toLong
      val seen = frontiers.takeRight(2)
        .map(_.select(col("src"), col("node"))).reduce(_ unionAll _)
      val (nxt, rows) = Fixpoint.measured(frontiers.last
        .join(und, col("node") === col("a"))
        .select(col("src"), col("b").as("node"))
        .distinct()
        .join(seen, Seq("src", "node"), "left_anti")
        .withColumn("d", lit(depth)), count(lit(1)))
      if (rows == 0) { more = false; GraftShim.release(nxt) }
      else {
        // Raise only on a still-live frontier PAST the bound, so a graph
        // with eccentricity exactly maxDepth drains cleanly — matching
        // the oracle recursion's `r.d < maxD` (which emits d = maxD).
        require(depth <= maxDepth,
          s"BFS did not drain in $maxDepth levels — the graph has a " +
            "shortest path longer than maxDepth; raise it or cap the domain")
        frontiers += nxt
      }
    }
    frontiers.map(_.select(col("src"), col("node"), col("d")))
      .reduce(_ union _)
  }

  /** The Wasserman–Faust ppm readout over a (src, node, d) distance
    * relation restricted to k pivot sources out of n nodes.
    *
    * Pivot estimate: group by the REACHED node over pivot-source rows
    * (the transpose of the exact readout — identical at K = n by
    * undirected symmetry), scale counts/sums by n/K with one floor
    * each, then the shared ppm formula.
    */
  private def closenessReadout(dist: DataFrame, n: Long,
      k: Long): DataFrame =
    dist.groupBy(col("node"))
      .agg(count(lit(1)).as("cnt"), max(col("d")).as("eccentricity"),
        sum(col("d")).as("sdp"))
      .withColumn("rh", expr(s"cnt * ${n}L div ${k}L") - lit(1L))
      .withColumn("sdh", expr(s"sdp * ${n}L div ${k}L"))
      .select(col("node"), col("rh").as("n_reached"), col("eccentricity"),
        when(col("sdh") === 0L, 0L)
          .otherwise(expr(s"(rh * rh * 1000000L) div ((${n}L - 1) * sdh)"))
          .as("closeness_micro"))
      .orderBy(col("closeness_micro").desc, col("node"))

  /** Sampled-source betweenness centrality (Brandes 2001, the standard
    * pivot-sampled estimator): forward level-synchronous BFS from K
    * hash-chosen sources accumulating shortest-path COUNTS σ, then the
    * backward dependency sweep δ(v) = Σ_w σ_v·(1+δ_w)/σ_w over the
    * level-(d+1) successors — the "how much shortest-path traffic
    * routes through v" read completing the centrality family
    * ([[closenessCentrality]] = distance, [[pagerank]] = flow).
    *
    * Determinism: σ are exact BIGINT path counts; the dependency ratio
    * is quantized ppm at its single site — δ(v) += ⌊σ_v·(10⁶+δ_w)/σ_w⌋
    * — so the backward sweep is integer end to end and the oracle
    * (generated per-level CTEs, the same floor) matches bit for bit.
    * Sources are the K lowest (md5(id), id) nodes — a deterministic
    * uniform sample; scores scale with K (comparative, like pagerank).
    *
    * Scale: 2·diameter level rounds, each one hash join + one grouped
    * sum over frontier-sized relations; state is K·reach rows. K is
    * the precision/cost lever (exact = K = |V|, the published bound).
    */
  def betweennessSampled(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Int, maxDepth: Int, topN: Int): DataFrame = {
    require(sources >= 1 && maxDepth >= 1 && topN >= 1,
      "betweennessSampled needs sources, maxDepth, topN >= 1")
    val (und, allNodes) = symNodes(edges, srcCol, dstCol)
    val srcs = GraftShim.ckptNoStats(allNodes
      .orderBy(md5(col("node").cast("string").cast("binary")), col("node"))
      .limit(sources))
    // Forward: levels(d) = (src, node, sig) at BFS depth d.
    val levels = scala.collection.mutable.ListBuffer(
      GraftShim.ckptNoStats(srcs.select(col("node").as("src"), col("node"),
        lit(1L).as("sig"))))
    var more = true
    // Same frontier-local visited check + drain-before-raise discipline
    // as [[bfsDistances]]: on the symmetric edge list a candidate from
    // level d sits at distance d-1, d, or d+1, so the anti-join needs
    // only the last TWO levels — no cumulative visited relation and no
    // per-level checkpoint rewrite of a growing pair set.
    while (more) {
      val depth = levels.size
      val seen = levels.takeRight(2)
        .map(_.select(col("src"), col("node").as("b")))
        .reduce(_ unionAll _)
      val (nxt, rows) = Fixpoint.measured(levels.last
        .join(und, col("node") === col("a"))
        .select(col("src"), col("b"), col("sig"))
        .join(seen, Seq("src", "b"), "left_anti")
        .groupBy(col("src"), col("b").as("node"))
        .agg(sum("sig").as("sig"))
        .select(col("src"), col("node"), col("sig")), count(lit(1)))
      if (rows == 0) { more = false; GraftShim.release(nxt) }
      else {
        require(depth <= maxDepth, s"BFS exceeded maxDepth=$maxDepth")
        levels += nxt
      }
    }
    // Degenerate graph (no level-1 frontier: empty edge input, or every
    // sampled source only self-loops): no shortest path routes through
    // anything — return the empty result instead of crashing the
    // backward sweep's acc.init.reduce.
    if (levels.size == 1)
      return srcs.select(col("node"), lit(0L).as("betweenness_micro"))
        .limit(0)
    // Backward: delta at the deepest level is 0; each shallower level
    // sums the floored ppm dependency over its level-(d+1) successors.
    // One successor aggregation per level, re-attached with a LEFT join
    // so no-successor nodes keep delta 0 — the former union + anti-join
    // form planned the |E|-sized levels⨝und⨝down subtree TWICE per
    // level (once for the sums, once for the no-successor distinct).
    var deltas = GraftShim.ckptNoStats(levels.last.withColumn("delta", lit(0L)))
    val acc = scala.collection.mutable.ListBuffer(deltas)
    for (d <- (levels.size - 2) to 0 by -1) {
      val down = deltas.select(col("src"), col("node").as("b"),
        col("sig").as("sw"), col("delta").as("dw"))
      val sums = levels(d).join(und, col("node") === col("a"))
        .join(down, Seq("src", "b"))
        .groupBy(col("src"), col("node"))
        .agg(sum(expr("sig * (1000000L + dw) div sw")).as("dsum"))
      deltas = GraftShim.ckptNoStats(levels(d)
        .join(sums, Seq("src", "node"), "left")
        .select(col("src"), col("node"), col("sig"),
          coalesce(col("dsum"), lit(0L)).as("delta")))
      acc += deltas
    }
    // Endpoints excluded (Brandes): drop the level-0 source rows.
    acc.init.map(_.select(col("src"), col("node"), col("delta")))
      .reduce(_ union _)
      .filter(col("node") =!= col("src"))
      .groupBy(col("node"))
      .agg(sum("delta").as("betweenness_micro"))
      .orderBy(col("betweenness_micro").desc, col("node"))
      .limit(topN)
  }

  /** Generated oracle for [[betweennessSampled]]: forward f0..fD and
    * backward bD..b0 level CTEs over the adjacency, same ppm floor.
    */
  private def betweennessSql(adjCtes: String, sources: Int, maxD: Int,
      topN: Int): String = {
    val levels = scala.collection.mutable.ArrayBuffer(
      s"""srcs AS (SELECT n AS node FROM nodes
        ORDER BY md5(n::VARCHAR), n LIMIT $sources)""",
      "f0 AS MATERIALIZED (SELECT node AS src, node, 1::BIGINT AS sig FROM srcs)")
    for (d <- 0 until maxD) {
      val vis = (0 to d).map(i => s"SELECT src, node FROM f$i")
        .mkString(" UNION ALL ")
      levels += s"""f${d + 1} AS MATERIALIZED (
        SELECT f.src, adj.b AS node, sum(f.sig)::BIGINT AS sig
        FROM f$d f JOIN adj ON adj.a = f.node
        LEFT JOIN ($vis) v ON v.src = f.src AND v.node = adj.b
        WHERE v.node IS NULL GROUP BY 1, 2)"""
    }
    levels += s"b$maxD AS MATERIALIZED (SELECT src, node, sig, 0::BIGINT AS delta FROM f$maxD)"
    for (d <- (maxD - 1) to 0 by -1) {
      levels += s"""b$d AS MATERIALIZED (
        SELECT f.src, f.node, f.sig,
          coalesce(sum((f.sig * (1000000 + w.delta)) // w.sig), 0)::BIGINT
            AS delta
        FROM f$d f
        LEFT JOIN adj ON adj.a = f.node
        LEFT JOIN b${d + 1} w ON w.src = f.src AND w.node = adj.b
        GROUP BY 1, 2, 3)"""
    }
    val all = (1 to maxD).map(d => s"SELECT src, node, delta FROM b$d")
      .mkString(" UNION ALL ")
    s"""WITH $adjCtes,
      ${levels.mkString(",\n")}
      SELECT node, sum(delta)::BIGINT AS betweenness_micro
      FROM ($all) WHERE node != src
      GROUP BY node ORDER BY betweenness_micro DESC, node LIMIT $topN"""
  }

  // ---- q414: which embeddings route the kNN-graph traffic? --------------------
  // Same capped kNN-3 graph as q407; 8 sampled sources, depth bound 16.
  private def q414(s: SparkSession, d: String): DataFrame =
    betweennessSampled(
      Similarity.knnEdges(Tables.embeddings(s, d).filter(col("vec_id") < 256),
        "vec_id", "embedding", k = 3),
      "u", "v", sources = 8, maxDepth = 16, topN = 30)
  // The vec_id-capped kNN-3 adjacency shared by q414 and the q432
  // pivot-precision audit.
  private val knnCappedAdjCtes =
    """q8 AS MATERIALIZED (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings WHERE vec_id < 256),
       pd AS (
         SELECT a.vid AS u, b.vid AS v,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM q8 a JOIN q8 b ON a.vid != b.vid),
       knn AS (
         SELECT u, v FROM (
           SELECT u, v, row_number() OVER (PARTITION BY u
             ORDER BY d2, v) AS rn FROM pd) t
         WHERE rn <= 3),
       adj AS MATERIALIZED (
         SELECT u AS a, v AS b FROM knn UNION SELECT v, u FROM knn),
       nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM adj)"""

  private[operators] val q414Sql = betweennessSql(knnCappedAdjCtes,
    sources = 8, maxD = 16, topN = 30)

  /** Precision/cost curve of the Eppstein–Wang pivot estimator: for each
    * K in `ks`, run [[closenessCentrality]] with K pivots and report the
    * mean relative error (ppm, integer-floored) of the estimated
    * closeness against the exact form over all nodes with nonzero exact
    * closeness (a node no pivot reaches estimates 0 — counted at full
    * error, the honest read). The REGISTERED readout of the K lever
    * q421/q427 fix at 16 (r10 verdict Next #8): the audit makes the
    * sampling error a number a user can query, not a spec constant.
    *
    * Scale: ONE exact all-sources BFS feeds the reference AND every K's
    * estimate (run it on a capped/sampled domain, the q399 recall-audit
    * discipline) — a BFS from a pivot subset computes exactly the
    * pivot-source rows of the all-sources distance relation (per-source
    * BFS is independent), so each estimate is a broadcast semi-join +
    * aggregation over the shared relation, bit-identical to re-running
    * [[closenessCentrality]] with sources = K at |ks|× less BFS work.
    */
  def closenessPivotAudit(edges: DataFrame, srcCol: String, dstCol: String,
      maxDepth: Int, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    val (und, allNodes) = symNodes(edges, srcCol, dstCol)
    val n = allNodes.count()
    // No extra ckptNoStats on the all-sources distance relation: it is a
    // plain union of per-level frontiers that are ALREADY checkpointed
    // leaves, so pinning it again would double local-checkpoint storage
    // of a Θ(sum-of-reach) relation for zero recompute saved (ADVICE
    // r12) — every readout below re-reads the frontier blocks directly.
    val dist = bfsDistances(und, allNodes, maxDepth)
    val ex = GraftShim.ckptNoStats(closenessReadout(dist, n, n)
      .select(col("node"), col("closeness_micro").as("cx"))
      .filter(col("cx") > 0))
    ks.map { kk =>
      // The K pivots by (md5, id) — the selection closenessCentrality
      // makes; their dist rows are the sampled run's entire state.
      val pivots = allNodes
        .orderBy(md5(col("node").cast("string").cast("binary")), col("node"))
        .limit(kk)
        .select(col("node").as("src"))
      val k = math.min(kk.toLong, n)
      val est = closenessReadout(
          dist.join(broadcast(pivots), Seq("src"), "left_semi"), n, k)
        .select(col("node"), col("closeness_micro").as("ce"))
      ex.join(est, Seq("node"), "left")
        .select(expr("abs(coalesce(ce, 0L) - cx) * 1000000L div cx")
          .as("err"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("err")).as("serr"))
        .select(lit(kk.toLong).as("k"), col("n_nodes"),
          expr("serr div n_nodes").as("mean_rel_err_ppm"))
    }.reduce(_ unionAll _).orderBy(col("k"))
  }

  /** Generated oracle for [[closenessPivotAudit]]: ONE all-pairs BFS
    * recursion feeds both the exact closeness and every K's estimate
    * (pivots = the first K nodes by (md5, id) — the engine's selection),
    * then the same floored ppm error per K.
    */
  private def closenessAuditSql(adjCtes: String, ks: Seq[Int],
      maxD: Int): String = {
    val blocks = ks.map { k =>
      s"""est$k AS (
           SELECT d.node, count(*)::BIGINT AS cnt, sum(d.d)::BIGINT AS sdp
           FROM dist d JOIN pv p ON p.node = d.src AND p.rnk <= $k
           GROUP BY 1),
         cm$k AS (
           SELECT e.node,
             CASE WHEN (e.sdp * nn.n) // $k = 0 THEN 0
               ELSE (((e.cnt * nn.n) // $k - 1) * ((e.cnt * nn.n) // $k - 1)
                 * 1000000) // ((nn.n - 1) * ((e.sdp * nn.n) // $k)) END AS cm
           FROM est$k e, nn),
         a$k AS (
           SELECT $k::BIGINT AS k, count(*)::BIGINT AS n_nodes,
             (sum((abs(coalesce(c.cm, 0) - x.cx) * 1000000) // x.cx)
               // count(*))::BIGINT AS mean_rel_err_ppm
           FROM ex x LEFT JOIN cm$k c ON c.node = x.node)"""
    }
    val union = ks.map(k => s"SELECT * FROM a$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $adjCtes,
       pv AS MATERIALIZED (SELECT n AS node,
         row_number() OVER (ORDER BY md5(n::VARCHAR), n) AS rnk FROM nodes),
       reach(src, node, d) AS (
         SELECT n, n, 0 FROM nodes
         UNION
         SELECT r.src, adj.b, r.d + 1 FROM reach r
         JOIN adj ON adj.a = r.node WHERE r.d < $maxD),
       dist AS MATERIALIZED (
         SELECT src, node, min(d) AS d FROM reach GROUP BY 1, 2),
       nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
       exg AS (SELECT node, count(*)::BIGINT AS cnt, sum(d)::BIGINT AS sdp
         FROM dist GROUP BY 1),
       ex AS MATERIALIZED (
         SELECT node, ((cnt - 1) * (cnt - 1) * 1000000)
           // ((nn.n - 1) * sdp) AS cx
         FROM exg, nn
         WHERE sdp > 0
           AND ((cnt - 1) * (cnt - 1) * 1000000) // ((nn.n - 1) * sdp) > 0),
       ${blocks.mkString(",\n")}
       $union ORDER BY k"""
  }

  // ---- q432: the pivot-count precision/cost curve, REGISTERED -----------------
  // K in {4, 8, 16, 32} against the exact form on the capped kNN-3
  // graph (the q407 fixture): the audit readout behind q421/q427's
  // sources=16 operating point.
  private def q432(s: SparkSession, d: String): DataFrame =
    closenessPivotAudit(
      Similarity.knnEdges(Tables.embeddings(s, d).filter(col("vec_id") < 256),
        "vec_id", "embedding", k = 3),
      "u", "v", maxDepth = 16, ks = Seq(4, 8, 16, 32))
  private[operators] val q432Sql = closenessAuditSql(knnCappedAdjCtes,
    ks = Seq(4, 8, 16, 32), maxD = 16)

  /** Generated oracle for pivot-sampled [[closenessCentrality]]: the
    * recursive pivot BFS over the adjacency, then the n/K-scaled
    * reach/Σd estimates and the shared ppm floor.
    */
  private def closenessSampledSql(adjCtes: String, sources: Int,
      maxD: Int): String =
    s"""WITH RECURSIVE $adjCtes,
       srcs AS (SELECT n AS node FROM nodes
         ORDER BY md5(n::VARCHAR), n LIMIT $sources),
       reach(src, node, d) AS (
         SELECT node, node, 0 FROM srcs
         UNION
         SELECT r.src, adj.b, r.d + 1 FROM reach r
         JOIN adj ON adj.a = r.node WHERE r.d < $maxD),
       dist AS (SELECT src, node, min(d) AS d FROM reach GROUP BY 1, 2),
       nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
       kk AS (SELECT count(*)::BIGINT AS k FROM srcs),
       agg AS (SELECT node, count(*)::BIGINT AS cnt, max(d)::BIGINT AS ecc,
         sum(d)::BIGINT AS sdp FROM dist GROUP BY node),
       est AS (SELECT node, (cnt * nn.n) // kk.k - 1 AS rh,
         (sdp * nn.n) // kk.k AS sdh, ecc FROM agg, nn, kk)
       SELECT node, rh::BIGINT AS n_reached, ecc::BIGINT AS eccentricity,
         (CASE WHEN sdh = 0 THEN 0
           ELSE (rh * rh * 1000000) // ((nn.n - 1) * sdh) END)::BIGINT
           AS closeness_micro
       FROM est, nn ORDER BY closeness_micro DESC, node"""

  // The co-sale projection as a generic (adj, nodes) adjacency — the
  // fixture's real sparse-at-every-sf graph (nodes/edges grow with sf,
  // unlike the vec_id-capped kNN fixtures), so the centrality scale
  // levers are exercised by a QUERY, not just a spec.
  private val coSaleAdjCtes =
    s"""$coSaleCtes,
       adj AS MATERIALIZED (
         SELECT u AS a, v AS b FROM und UNION SELECT v, u FROM und),
       nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM adj)"""

  // ---- q421: supplier co-sale closeness, 16-pivot Eppstein–Wang estimate ------
  // maxDepth 12 = the oracle recursion bound (measured pivot
  // eccentricity: 2 at sf0.01, 8 at sf0.1 — headroom without cost).
  private def q421(s: SparkSession, d: String): DataFrame =
    closenessCentrality(coSaleEdges(s, d), "s1", "s2",
      maxDepth = 12, sources = 16)
  private val q421Sql = closenessSampledSql(coSaleAdjCtes,
    sources = 16, maxD = 12)

  // ---- q422: which suppliers route the co-sale traffic? -----------------------
  private def q422(s: SparkSession, d: String): DataFrame =
    betweennessSampled(coSaleEdges(s, d), "s1", "s2",
      sources = 8, maxDepth = 12, topN = 40)
  private val q422Sql = betweennessSql(coSaleAdjCtes,
    sources = 8, maxD = 12, topN = 40)

  // The UNCAPPED kNN topology: edges from the bucketed q420 builder
  // (IVF assignment/probe, 16 seeds, nprobe 4) over the FULL embedding
  // corpus — the production composition the capped q407/q414 fixtures
  // stand in for: graph build O(N²·nprobe/K), centrality from K pivots.
  private val knnIvfAdjCtes =
    """q8 AS MATERIALIZED (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings),
       sd AS (SELECT vid AS seed_id, q AS sq FROM q8 WHERE vid < 16),
       sc AS (
         SELECT a.vid, a.q, s.seed_id,
           row_number() OVER (PARTITION BY a.vid ORDER BY
             list_sum(list_transform(range(1, len(a.q) + 1),
               i -> (a.q[i] - s.sq[i]) * (a.q[i] - s.sq[i]))),
             s.seed_id) AS rn
         FROM q8 a CROSS JOIN sd s),
       asg AS (SELECT vid, q, seed_id AS cluster FROM sc WHERE rn = 1),
       prb AS (SELECT vid, q, seed_id AS cluster FROM sc WHERE rn <= 4),
       pd AS (
         SELECT a.vid AS u, b.vid AS v,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM prb a JOIN asg b ON a.cluster = b.cluster AND a.vid != b.vid),
       knn AS MATERIALIZED (
         SELECT u, v FROM (
           SELECT u, v, row_number() OVER (PARTITION BY u
             ORDER BY d2, v) AS rn FROM pd) t WHERE rn <= 3),
       adj AS MATERIALIZED (
         SELECT u AS a, v AS b FROM knn UNION SELECT v, u FROM knn),
       nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM adj)"""
  private def knnIvfEdges(s: SparkSession, d: String): DataFrame =
    Similarity.knnEdgesIvf(Tables.embeddings(s, d),
      Tables.embeddings(s, d).filter(col("vec_id") < 16),
      "vec_id", "embedding", k = 3, nprobe = 4)

  // ---- q427: closeness over the WHOLE embedding corpus, bucketed + sampled ----
  // Both scale levers at once: the q420 IVF graph build and the q421
  // pivot estimator (measured pivot eccentricity 5–6; bound 16).
  private def q427(s: SparkSession, d: String): DataFrame =
    closenessCentrality(knnIvfEdges(s, d), "u", "v",
      maxDepth = 16, sources = 16)
  private[operators] val q427Sql = closenessSampledSql(knnIvfAdjCtes,
    sources = 16, maxD = 16)

  // ---- q428: betweenness over the same uncapped IVF graph ---------------------
  private def q428(s: SparkSession, d: String): DataFrame =
    betweennessSampled(knnIvfEdges(s, d), "u", "v",
      sources = 8, maxDepth = 16, topN = 30)
  private val q428Sql = betweennessSql(knnIvfAdjCtes,
    sources = 8, maxD = 16, topN = 30)

  // ---- q407: which embeddings sit central in the kNN topology? ----------------
  // The kNN-3 graph over a vec_id-capped embedding set (the q286
  // distance kernel); max eccentricity row = the graph diameter.
  // maxDepth = 16 matches the oracle recursion's `r.d < 16` bound, so a
  // fixture graph with diameter beyond it fails LOUDLY on the engine side
  // instead of silently diverging from an under-reporting oracle.
  private def q407(s: SparkSession, d: String): DataFrame =
    closenessCentrality(
      Similarity.knnEdges(Tables.embeddings(s, d).filter(col("vec_id") < 256),
        "vec_id", "embedding", k = 3),
      "u", "v", maxDepth = 16)
  private[operators] val q407Sql =
    """WITH RECURSIVE q8 AS (
         SELECT vec_id AS vid, list_transform(embedding, x -> floor(x::DOUBLE /
           (list_max(list_transform(embedding, y -> abs(y))))::DOUBLE
           * 127)::BIGINT) AS q
         FROM embeddings WHERE vec_id < 256),
       pd AS (
         SELECT a.vid AS u, b.vid AS v,
           list_sum(list_transform(range(1, len(a.q) + 1),
             i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT AS d2
         FROM q8 a JOIN q8 b ON a.vid != b.vid),
       knn AS (
         SELECT u, v FROM (
           SELECT u, v, row_number() OVER (PARTITION BY u
             ORDER BY d2, v) AS rn FROM pd) t
         WHERE rn <= 3),
       adj AS (SELECT u AS a, v AS b FROM knn UNION SELECT v, u FROM knn),
       nodes AS (SELECT DISTINCT a AS n FROM adj),
       reach(src, node, d) AS (
         SELECT n, n, 0 FROM nodes
         UNION
         SELECT r.src, adj.b, r.d + 1 FROM reach r
         JOIN adj ON adj.a = r.node WHERE r.d < 16),
       dist AS (SELECT src, node, min(d) AS d FROM reach GROUP BY 1, 2),
       rd AS (SELECT src, count(*) - 1 AS r, max(d) AS ecc,
         sum(d) AS sd FROM dist GROUP BY src),
       nn AS (SELECT count(*)::BIGINT AS n FROM nodes)
       SELECT src AS node, r::BIGINT AS n_reached,
         ecc::BIGINT AS eccentricity,
         (CASE WHEN sd = 0 THEN 0
           ELSE (r*r*1000000) // ((nn.n - 1)*sd) END)::BIGINT
           AS closeness_micro
       FROM rd, nn ORDER BY closeness_micro DESC, node"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q407_closeness", q407, Some(q407Sql)),
    QueryDef("q414_betweenness", q414, Some(q414Sql)),
    QueryDef("q421_closeness_cosale", q421, Some(q421Sql)),
    QueryDef("q422_betweenness_cosale", q422, Some(q422Sql)),
    QueryDef("q427_closeness_knn_ivf", q427, Some(q427Sql)),
    QueryDef("q432_closeness_pivot_audit", q432, Some(q432Sql)),
    QueryDef("q428_betweenness_knn_ivf", q428, Some(q428Sql)),
    QueryDef("q262_salton_pairs", q262, Some(q262Sql)),
    QueryDef("q263_link_jaccard", q263, Some(q263Sql)),
    QueryDef("q279_link_candidates", q279, Some(q279Sql)),
    QueryDef("q290_degree_histogram", q290, Some(q290Sql)),
    // headline: the iterative-graph representative in the driver's bench,
    // so a regression in the loop/localCheckpoint machinery is
    // round-over-round visible (the relational/dedup headliners never
    // exercise multi-job iteration).
    QueryDef("q159_pagerank", q159, Some(q159Sql), headline = true),
    QueryDef("q163_triangle_count", q163, Some(q163Sql)),
    QueryDef("q165_kcore", q165, Some(q165Sql)),
    QueryDef("q314_ktruss", q314, Some(q314Sql)),
    QueryDef("q319_item_recs", q319, Some(q319Sql)),
    QueryDef("q320_contamination_radius", q320, Some(q320Sql)),
    QueryDef("q332_personalized_pagerank", q332, Some(q332Sql)),
    QueryDef("q333_complement_substitute", q333, Some(q333Sql)),
    QueryDef("q344_label_propagation", q344, Some(q344Sql)),
    QueryDef("q166_cc_stars", q166, Some(q166Sql)),
    QueryDef("q175_hits", q175, Some(q175Sql)),
    QueryDef("q207_modularity", q207, Some(q207Sql)),
    QueryDef("q217_local_clustering", q217, Some(q217Sql)),
    QueryDef("q208_assortativity", q208, Some(q208Sql)))
}
