package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dbscanGrid: core/border/noise roles and negative-coordinate cells") {
    // eps=0.02, minPts=4 (count includes self).
    // Star at (-0.5,-0.5): center 10 has 3 satellites within eps that are
    // pairwise farther than eps -> 10 core, 11/12/13 border; negative
    // coords exercise the floor-division cell keys.
    // Chain 20..24 spaced 0.01 on y=0.5: middles see 4 neighbors (core),
    // ends see 2 (border). Point 99 is isolated noise.
    val pts = Seq(
      (10L, -0.5, -0.5), (11L, -0.481, -0.5), (12L, -0.519, -0.5),
      (13L, -0.5, -0.481),
      (20L, 0.10, 0.5), (21L, 0.11, 0.5), (22L, 0.12, 0.5),
      (23L, 0.13, 0.5), (24L, 0.14, 0.5),
      (99L, 0.9, 0.9)).toDF("id", "x", "y")
    val got = Similarity.dbscanGrid(pts, "id", col("x"), col("y"),
        epsMicro = 20000L, minPts = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (21L, 5L, 3L, 2L),   // chain: cores {21,22,23}, borders {20,24}
      (10L, 4L, 1L, 3L),   // star: one core, three borders
      (-1L, 1L, 0L, 0L)))  // noise: 99
  }

  test("hstOutliers isolates a far point into a mass-2 leaf pair") {
    // 40 points tight around the origin plus one at (0.9, 0.9): the
    // first midpoint split already separates it in both rotated trees,
    // so its summed leaf mass is exactly 2 and it ranks first.
    val pts = (0 until 40).map(i =>
      (i.toLong, i * 0.0001, (i % 7) * 0.0001)) :+ (99L, 0.9, 0.9)
    val df = pts.toDF("id", "x", "y")
    val got = Similarity.hstOutliers(df, "id",
        Seq(col("x"), col("y")), depth = 3, topN = 3)
      .as[(Long, Long)].collect()
    assert(got.head === ((99L, 2L)))
    assert(got.tail.forall(_._2 > 2L))
  }

  test("rankTopK equals the window row_number form even with NaN scores") {
    // Zero-norm embeddings make graft_cosine return NaN; both engines'
    // descending sorts rank NaN above every real score. The reference is
    // a driver-side sort under `java.lang.Double.compare` (NaN greatest).
    val rows = Seq(
      (1L, 10L, 0.9), (1L, 11L, Double.NaN), (1L, 12L, 0.5), (1L, 13L, 0.7),
      (2L, 20L, Double.NaN), (2L, 21L, Double.NaN), (2L, 22L, 0.1))
    val scored = rows.toDF("query_id", "neighbor_id", "c")
    def bits(r: (Long, Int, Long, Double)) =
      (r._1, r._2, r._3, java.lang.Double.doubleToLongBits(r._4))
    val got = Similarity.rankTopK(scored, 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().map(bits)
    val byScore: Ordering[(Long, Long, Double)] = (a, b) => {
      val c = java.lang.Double.compare(b._3, a._3)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    val ref = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      rs.sorted(byScore).take(2).zipWithIndex.map { case (r, i) =>
        bits((r._1, i + 1, r._2,
          if (r._3.isNaN) r._3
          else BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
      }
    }
    assert(got.toSeq === ref)
    assert(got.exists(_._4 == java.lang.Double.doubleToLongBits(Double.NaN)))
  }

  test("rankTopK drops null scores after ranking: fewer than k rows when short") {
    // Query 1 has one scored candidate and two with no score (a null
    // embedding): k = 2 must return only the scored one, at rank 1.
    val scored = Seq[(Long, Long, java.lang.Double)](
      (1L, 10L, null), (1L, 11L, 0.25), (1L, 12L, null),
      (2L, 20L, 0.5), (2L, 21L, 0.75))
      .toDF("query_id", "neighbor_id", "c")
    val got = Similarity.rankTopK(scored, 2)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect()
    assert(got === Array((1L, 1, 11L, 0.25), (2L, 1, 21L, 0.75),
      (2L, 2, 20L, 0.5)))
  }

  test("multi-probe IVF: probing all clusters equals brute force; recall is monotone in nprobe") {
    val e = graft.Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 16)
    val qf = col("vec_id") < 10
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = asSet(Similarity.bruteTopK(
      e.filter(qf), e, "vec_id", "embedding", 5))
    // nprobe = K probes every bucket -> the approximation vanishes.
    val full = asSet(Similarity.ivfTopKProbes(
      e, seeds, qf, "vec_id", "embedding", 5, nprobe = 16))
    assert(full === brute)
    val r1 = asSet(Similarity.ivfTopKProbes(
      e, seeds, qf, "vec_id", "embedding", 5, nprobe = 1))
    val r3 = asSet(Similarity.ivfTopKProbes(
      e, seeds, qf, "vec_id", "embedding", 5, nprobe = 3))
    assert((r3 & brute).size >= (r1 & brute).size,
      s"recall must not drop when probing more clusters: " +
        s"nprobe1=${(r1 & brute).size} nprobe3=${(r3 & brute).size}")
  }
  test("sparseCosinePairs: integer dot/norms, threshold, and the df cap") {
    val docs = Seq(
      (1L, "x x y"), (2L, "x y y"), (3L, "z z"), (4L, "x x y"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Similarity.sparseCosinePairs(df, "doc_id", "text",
          docPred = lit(true), minCos = 0.5)
        .as[(Long, Long, Long, Long, Long, Double)].collect()
        .sortBy(p => (p._1, p._2))
    // cos(1,2) = (2+2)/(sqrt5*sqrt5) = 0.8; (1,4) duplicate = 1.0;
    // (1,3)/(2,3) share no term and never materialize a pair row
    assert(pairs(docs) === Array(
      (1L, 2L, 4L, 5L, 5L, 0.8),
      (1L, 4L, 5L, 5L, 5L, 1.0),
      (2L, 4L, 4L, 5L, 5L, 0.8)))
    // a term in >92% of docs is pruned from every vector: appending a
    // universal token changes nothing
    val noisy = docs.select($"doc_id",
      concat($"text", lit(" the")).as("text"))
    assert(pairs(noisy) === pairs(docs),
      "boilerplate vocabulary must fall out of the pruned vectors")
    // the 8-byte-key plan is output-identical to the string-keyed form
    val byString = Similarity.sparseCosinePairs(docs, "doc_id", "text",
        docPred = lit(true), minCos = 0.5, hashTerms = false)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .sortBy(p => (p._1, p._2))
    assert(byString === pairs(docs),
      "hashing term keys must not change any pair or value")
    // and the hashed plan really does hash before the first exchange
    val plan = Similarity.sparseCosinePairs(docs, "doc_id", "text",
        lit(true), 0.5).queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), s"term hashing missing from plan:\n$plan")
  }

  test("kendallTau: reversal, identity, single swap, and singleton groups") {
    def tau(b: Seq[(String, Long, Long)]) = Similarity.kendallTau(
        Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 4L))
          .toDF("grp", "item", "rnk"),
        b.toDF("grp", "item", "rnk"), "grp", "item", "rnk")
      .as[(String, Long, Long, Long, Option[Double])].collect().head
    // identical rankings: all 6 pairs concordant
    assert(tau(Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 4L)))
      === (("g", 4L, 6L, 0L, Some(1.0))))
    // full reversal: all pairs discordant
    assert(tau(Seq(("g", 1L, 4L), ("g", 2L, 3L), ("g", 3L, 2L), ("g", 4L, 1L)))
      === (("g", 4L, 0L, 6L, Some(-1.0))))
    // one adjacent swap: 5 concordant, 1 discordant -> 8/12
    assert(tau(Seq(("g", 1L, 2L), ("g", 2L, 1L), ("g", 3L, 3L), ("g", 4L, 4L)))
      === (("g", 4L, 5L, 1L, Some(0.666667))))
    // a single common item has no pairs: tau is null, not an error
    val single = Similarity.kendallTau(
        Seq(("g", 1L, 1L)).toDF("grp", "item", "rnk"),
        Seq(("g", 1L, 1L)).toDF("grp", "item", "rnk"), "grp", "item", "rnk")
      .as[(String, Long, Long, Long, Option[Double])].collect().head
    assert(single === (("g", 1L, 0L, 0L, None)))
  }

  test("rrfFuse ranks consensus items first with exact ppb contributions") {
    val a = Seq((1L, 1, 101L), (1L, 2, 102L))
      .toDF("query_id", "rank", "neighbor_id")
    val b = Seq((1L, 1, 102L), (1L, 2, 103L))
      .toDF("query_id", "rank", "neighbor_id")
    val got = Similarity.rrfFuse(a, b, k = 3)
      .as[(Long, Int, Long, Long, Long)].collect()
    // 1e9 div 61 = 16393442, 1e9 div 62 = 16129032. Item 102 is in both
    // lists (ranks 2 and 1) and must fuse above either single-list item.
    assert(got === Array(
      (1L, 1, 102L, 2L, 32522474L),
      (1L, 2, 101L, 1L, 16393442L),
      (1L, 3, 103L, 1L, 16129032L)))
  }

  test("rrfFuse truncates to k and breaks score ties by neighbor id") {
    val a = Seq((7L, 1, 5L), (7L, 1, 3L))
      .toDF("query_id", "rank", "neighbor_id")
    val b = a.limit(0)
    val got = Similarity.rrfFuse(a, b, k = 1)
      .as[(Long, Int, Long, Long, Long)].collect()
    assert(got === Array((7L, 1, 3L, 1L, 16393442L)))
  }

  test("pqTopK reconstructs exactly when the corpus IS the codebook") {
    // Every vector's subvectors appear verbatim among the seed slices, so
    // encoding is lossless and ADC distance equals the true squared L2 —
    // hand-worked: d²(q, id1)=1, d²(q, id2)=250, d²(q, id3)=261.
    // Also pins the argmin tiebreak: id0 and id1 share the (0,0) sub0
    // slice; both must take the LOWEST cid (0), which the ADC LUT then
    // scores identically.
    val corpus = Seq(
      (0L, Seq(0f, 0f, 10f, 10f)),
      (1L, Seq(0f, 0f, 10f, 11f)),
      (2L, Seq(5f, 5f, 0f, 0f)),
      (3L, Seq(5f, 6f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(corpus, corpus, col("vec_id") === 0L,
        "vec_id", "embedding", k = 3, numSub = 2, subDim = 2)
      .orderBy("rank")
      .as[(Long, Int, Long, Double)].collect()
    assert(got === Array(
      (0L, 1, 1L, 1.0), (0L, 2, 2L, 250.0), (0L, 3, 3L, 261.0)))
    // Lossless codes => ADC ranking reproduces the exact L2 ranking.
    val recall = Similarity.recallReport(
        Similarity.bruteTopKEuclidean(corpus.filter(col("vec_id") === 0L),
          corpus, "vec_id", "embedding", 3),
        Similarity.pqTopK(corpus, corpus, col("vec_id") === 0L,
          "vec_id", "embedding", 3, 2, 2))
      .select($"recall").as[Double].head()
    assert(recall === 1.0)
  }

  test("ivfAdcTopK searches only the query's cluster, ADC-scored") {
    // Seeds {0, 2} split the corpus into two cosine clusters: {0, 1}
    // and {2, 3}. Query 0's only candidate is 1; its ADC distance is 0
    // because id1's subvectors encode to id0's codebook slices.
    val corpus = Seq(
      (0L, Seq(0f, 0f, 10f, 10f)),
      (1L, Seq(0f, 0f, 10f, 11f)),
      (2L, Seq(5f, 5f, 0f, 0f)),
      (3L, Seq(5f, 6f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val seeds = corpus.filter(col("vec_id").isin(0L, 2L))
    val got = Similarity.ivfAdcTopK(corpus, seeds, col("vec_id") === 0L,
        "vec_id", "embedding", k = 3, numSub = 2, subDim = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got === Array((0L, 1, 1L, 0.0)))
  }
  test("centroidDrift: identical cohorts score 1.0, opposite score -1.0") {
    val same = Seq(
      (1L, Seq(1.0f, 0.0f), 0L), (2L, Seq(1.0f, 0.0f), 0L),
      (3L, Seq(0.0f, 2.0f), 1L), (4L, Seq(0.0f, -2.0f), 1L),
      (5L, Seq(0.5f, 0.5f), 2L)).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(same, $"label", $"embedding",
        $"vec_id" % 2 === 1)
      .orderBy($"g").collect()
    // label 0: both cohorts on (1,0) -> cos 1.0
    assert(got(0).getAs[Double]("cos_centroids") === 1.0)
    // label 1: (0,2) vs (0,-2) -> cos -1.0
    assert(got(1).getAs[Double]("cos_centroids") === -1.0)
    // label 2 has only one cohort -> omitted
    assert(got.length === 2)
  }

  test("knnOutliers ranks the directionally isolated vector first") {
    // Four near-collinear vectors and one near-orthogonal outlier
    // (quantization is per-vector max-normalized, so direction is what
    // distances measure).
    val rows = Seq(
      (1L, Seq(1.0f, 0.00f)), (2L, Seq(1.0f, 0.05f)),
      (3L, Seq(1.0f, 0.10f)), (4L, Seq(1.0f, 0.15f)),
      (5L, Seq(0.05f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnOutliers(rows, "vec_id", "embedding", k = 2, topN = 5)
      .as[(Long, Long, Long)].collect()
    assert(got.head._1 === 5L, s"outlier must rank first: ${got.toSeq}")
    assert(got.forall(_._2 === 2L))
    assert(got.head._3 > got(1)._3 * 10,
      "outlier mean distance should dominate the cluster's")
  }

  test("gramMatrix equals the brute quantized outer-product sum") {
    val rnd = new scala.util.Random(48)
    val vecs = Vector.fill(40)(Vector.fill(6)(rnd.nextFloat() * 2 - 1))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      .repartition(7) // several partitions -> several partial accumulators
    def q8(v: Vector[Float]): Vector[Long] = {
      val m = v.map(x => math.abs(x)).max
      v.map(x => math.floor(x / m * 127).toLong)
    }
    val qs = vecs.map(q8)
    val want = (for (i <- 0 until 6; j <- i until 6)
      yield (i, j, qs.map(q => q(i) * q(j)).sum)).toSet
    val got = Similarity.gramMatrix(df, "embedding")
      .as[(Int, Int, Long)].collect().toSet
    assert(got === want)
  }

  test("powerIteration recovers a planted dominant axis deterministically") {
    // Vectors concentrated along axis 2 with small noise elsewhere: the
    // top principal direction must weight dim 2 far above the rest, with
    // positive sign (the all-ones start has positive projection).
    val rnd = new scala.util.Random(49)
    val vecs = Vector.fill(60)(Vector.tabulate(5)(d =>
      if (d == 2) 0.8f + 0.2f * rnd.nextFloat()
      else 0.05f * rnd.nextFloat()))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val got = Similarity.powerIteration(df, "embedding", iters = 12)
      .orderBy(col("dim"))
      .as[(Long, Double, Double)].collect()
    assert(got.length === 5)
    val comp = got.map(_._2)
    assert(comp(2) > 0.9, s"dominant axis must dominate: ${comp.toSeq}")
    assert(comp.zipWithIndex.filter(_._2 != 2).forall(c => math.abs(c._1) < 0.3))
    assert(got.map(_._3).distinct.size === 1 && got.head._3 > 0,
      "one positive eigenvalue estimate on every row")
    // Determinism: a second run is bit-identical.
    val again = Similarity.powerIteration(df, "embedding", iters = 12)
      .orderBy(col("dim"))
      .as[(Long, Double, Double)].collect()
    assert(again.toSeq === got.toSeq)
  }

  test("principal projection and PCA residual flag the planted off-axis vector") {
    // 30 vectors along axis 0 (label 'main') plus one orthogonal vector
    // on axis 3 (label 'odd'): the dominant direction is axis 0, so the
    // odd vector projects near zero and carries the largest residual.
    val rows = (0 until 30).map(i =>
      (i.toLong, "main", Vector(1.0f, 0.01f * (i % 3), 0.0f, 0.0f))) :+
      (99L, "odd", Vector(0.0f, 0.0f, 0.0f, 1.0f))
    val df = rows.toDF("vec_id", "label", "embedding")
    val proj = Similarity.principalProjectionByGroup(df, "label",
        "embedding", iters = 10)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(proj("main")._5 > 100000000L,
      s"axis-aligned label must project strongly: ${proj("main")}")
    assert(math.abs(proj("odd")._5) < proj("main")._5 / 10,
      s"orthogonal label must project near zero: ${proj("odd")}")
    val res = Similarity.pcaResidualOutliers(df, "vec_id", "embedding",
        iters = 10, topN = 3)
      .as[(Long, Long)].collect()
    assert(res.head._1 === 99L,
      s"the off-axis vector must carry the top residual: ${res.toSeq}")
    assert(res.head._2 > res(1)._2 * 10,
      s"its residual should dominate: ${res.toSeq}")
  }

  test("mmrRerank diversifies a planted near-dup and matches a brute greedy fold") {
    // Query axis e0; candidates: two near-identical high-relevance
    // vectors (1, 2), one moderately relevant diverse vector (3), and
    // fillers. Pure relevance ranks (1, 2) first; MMR at lambda = 0.5
    // must pick 1 then jump to the diverse 3 before the clone 2.
    val rows = Seq(
      (0L, Vector(1.0f, 0.0f, 0.0f, 0.0f)),          // query
      (1L, Vector(0.99f, 0.10f, 0.00f, 0.0f)),
      (2L, Vector(0.99f, 0.11f, 0.00f, 0.0f)),       // clone of 1
      (3L, Vector(0.70f, 0.00f, 0.70f, 0.0f)),       // diverse
      (4L, Vector(0.50f, 0.00f, 0.00f, 0.9f)),
      (5L, Vector(0.40f, 0.30f, 0.00f, 0.2f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(df.filter(col("vec_id") === 0L), df,
        "vec_id", "embedding", fetchN = 5, k = 3, lambdaMicro = 500000L)
      .orderBy("step").as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._3).toSeq === Seq(1L, 3L, 4L),
      s"expected the diverse pick to beat the clone: ${got.toSeq}")

    // lambda = 1 (no penalty) degenerates to the pure relevance order.
    val pure = Similarity.mmrRerank(df.filter(col("vec_id") === 0L), df,
        "vec_id", "embedding", fetchN = 5, k = 3, lambdaMicro = 1000000L)
      .orderBy("step").as[(Long, Long, Long, Long)].collect().map(_._3)
    val brute = Similarity.bruteTopK(df.filter(col("vec_id") === 0L), df,
        "vec_id", "embedding", 3)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().map(_._3)
    assert(pure.toSeq === brute.toSeq)

    // Randomized equivalence vs an independent scalar greedy fold.
    val rnd = new scala.util.Random(363)
    val vecs = Vector.tabulate(40)(i =>
      i.toLong -> Vector.fill(6)(rnd.nextFloat() * 2f - 1f))
    val rdf = vecs.toDF("vec_id", "embedding")
    val (fetchN, k, lam) = (7, 4, 650000L)
    def cos(a: Vector[Float], b: Vector[Float]): Double = {
      var dot = 0.0
      a.indices.foreach(i => dot += a(i).toDouble * b(i).toDouble)
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val expect = (for {
      (q, qv) <- vecs.take(3)
      cands = vecs.filter(_._1 != q)
        .map { case (n, nv) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(fetchN)
        .map { case (n, c) => (n, math.floor(c * 1e6).toLong) }
      sims = (for {
        (a, _) <- cands; (b, _) <- cands if a != b
      } yield (a, b) -> math.floor(
        cos(vecs(a.toInt)._2, vecs(b.toInt)._2) * 1e6).toLong).toMap
    } yield {
      var sel = Vector.empty[(Long, Long)]
      (1 to k).foreach { step =>
        val best = cands.filter(c => !sel.exists(_._1 == c._1))
          .map { case (id, rel) =>
            val p = if (sel.isEmpty) 0L
              else sel.map(s => sims((id, s._1))).max
            (id, lam * rel - (1000000L - lam) * p)
          }.minBy { case (id, sc) => (-sc, id) }
        sel :+= best
      }
      sel.zipWithIndex.map { case ((id, sc), i) =>
        (q, (i + 1).toLong, id, sc) }
    }).flatten.sortBy(r => (r._1, r._2))
    val gotR = Similarity.mmrRerank(rdf.filter(col("vec_id") < 3), rdf,
        "vec_id", "embedding", fetchN, k, lam)
      .orderBy("query_id", "step")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(gotR === expect, "operator must equal the brute greedy fold")
  }

  test("mmrRerankIvf: full probe IS mmrRerank; narrow probe keeps selection recall") {
    val e = graft.Tables.embeddings(spark, sf)
    def runBrute = Similarity.mmrRerank(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", fetchN = 8, k = 4, lambdaMicro = 700000L)
      .orderBy("query_id", "step").as[(Long, Long, Long, Long)].collect().toSeq
    val brute = runBrute
    // nprobe = |seeds| probes every bucket: the fetch scores the whole
    // corpus (each vector lives in exactly one bucket), so the candidate
    // set — and therefore the greedy selection — is bit-identical.
    val full = Similarity.mmrRerankIvf(e, e.filter(col("vec_id") < 16),
        col("vec_id") < 10, "vec_id", "embedding", fetchN = 8, k = 4,
        lambdaMicro = 700000L, nprobe = 16)
      .orderBy("query_id", "step").as[(Long, Long, Long, Long)].collect().toSeq
    assert(full === brute,
      "probing every bucket must reproduce the brute-fetch MMR bit-for-bit")
    // The q366 operating point (nprobe = 3 of 16): the diversified
    // selection must keep recall against the brute selection set.
    val ivf = Similarity.mmrRerankIvf(e, e.filter(col("vec_id") < 16),
        col("vec_id") < 10, "vec_id", "embedding", fetchN = 8, k = 4,
        lambdaMicro = 700000L, nprobe = 3)
      .orderBy("query_id", "step").as[(Long, Long, Long, Long)].collect().toSeq
    val bruteSel = brute.map(r => (r._1, r._3)).toSet
    val ivfSel = ivf.map(r => (r._1, r._3)).toSet
    val recall = (bruteSel & ivfSel).size.toDouble / bruteSel.size
    assert(recall >= 0.5,
      s"selection recall $recall at nprobe=3 below acceptance (${bruteSel.size} picks)")
  }

  test("ivfIndexed persists the assignment once; probes are bit-identical") {
    val e = graft.Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 16)
    val fresh = Similarity.ivfTopKProbes(e, seeds, col("vec_id") < 10,
        "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    var builds = 0
    def idx() = Similarity.ivfIndexed(spark, sf,
      { builds += 1; e }, seeds, "vec_id", "embedding")
    val viaIndex = Similarity.ivfTopKProbesOver(idx(), seeds,
        col("vec_id") < 10, "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(viaIndex === fresh,
      "probing the persisted layout must equal probing a fresh assignment")
    // Write-once: a second batch reads the catalog table back without
    // re-running the corpus-vs-seeds assignment scan (the build thunk is
    // by-name and must not be touched when the table already exists).
    val before = builds
    val again = Similarity.ivfTopKProbesOver(idx(), seeds,
        col("vec_id") < 10, "vec_id", "embedding", k = 5, nprobe = 3)
      .orderBy("query_id", "rank")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(again === fresh)
    assert(builds === before, "second batch must not rebuild the index")
    // The read-back is the catalog table, not a recomputed assignment...
    val plan = idx().queryExecution.executedPlan.toString
    assert(plan.contains("spark_catalog.default.graft_ivf_index"),
      s"expected a catalog-table scan:\n$plan")
    // ...and the bucketing pays: a cluster-keyed aggregation over the
    // index plans with ZERO exchanges (the layout already hash-places
    // rows by cluster on disk).
    val aggPlan = idx().groupBy("cluster").count()
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      s"cluster-keyed agg over the bucketed index must not shuffle:\n$aggPlan")
  }

  test("knnOutliersIvf: one bucket is exact; 16 buckets keep top-set recall") {
    val e = graft.Tables.embeddings(spark, sf)
    val n = e.count().toInt
    // Degenerate bucketing (one seed -> one bucket) must reproduce the
    // exact all-pairs ranking bit-for-bit.
    val exactAll = Similarity.knnOutliers(e, "vec_id", "embedding",
        k = 5, topN = n)
      .as[(Long, Long, Long)].collect().toSeq
    val oneBucket = Similarity.knnOutliersIvf(e, e.filter(col("vec_id") < 1),
        "vec_id", "embedding", k = 5, topN = n)
      .as[(Long, Long, Long)].collect().toSeq
    assert(oneBucket === exactAll)
    // Real bucketing: recall of the exact top-20 outlier set must clear
    // the acceptance bar at the q350 operating point (16 seeds,
    // nprobe = 4 — observed 0.85 on this fixture), and bucket-restricted
    // means can only OVERESTIMATE isolation when the candidate count is
    // unchanged (candidates are a subset, so the i-th nearest is >= the
    // exact one).
    val ivf = Similarity.knnOutliersIvf(e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", k = 5, topN = n, nprobe = 4)
      .as[(Long, Long, Long)].collect().toSeq
    val exactTop = exactAll.take(20).map(_._1).toSet
    val ivfTop = ivf.take(20).map(_._1).toSet
    val recall = (exactTop & ivfTop).size.toDouble / exactTop.size
    assert(recall >= 0.75, s"top-20 outlier recall $recall below acceptance")
    val exactBy = exactAll.map(r => r._1 -> r).toMap
    ivf.filter(_._2 == 5L).foreach { case (vid, _, m) =>
      exactBy.get(vid).filter(_._2 == 5L).foreach { case (_, _, em) =>
        assert(m >= em, s"bucketed mean for $vid ($m) below exact ($em)")
      }
    }
  }

  test("knnEdgesIvf: all-buckets-probed is exact; 16 buckets keep edge recall") {
    val e = graft.Tables.embeddings(spark, sf)
    val exact = Similarity.knnEdges(e, "vec_id", "embedding", k = 3)
      .as[(Long, Long)].collect().toSet
    // nprobe >= |seeds| probes every bucket -> candidates are the full
    // corpus minus self -> bit-identical to the exact builder.
    val allProbed = Similarity.knnEdgesIvf(e,
        e.filter(col("vec_id") < 16), "vec_id", "embedding",
        k = 3, nprobe = 16)
      .as[(Long, Long)].collect().toSet
    assert(allProbed === exact)
    // Production setting (the q420 operating point): edge-set recall
    // must clear the acceptance bar. The fixture embeddings are near-
    // random 64-dim vectors — the hardest case for coarse quantization
    // (bucket membership barely correlates with true proximity), so the
    // bar is the honest 0.6 (observed 0.68 at nprobe=4/16 = a quarter
    // of the corpus scanned); on clustered production embeddings the
    // same setting sits far higher (the q350/q399 recall family).
    def recallAt(nprobe: Int): Double = {
      val ivf = Similarity.knnEdgesIvf(e,
          e.filter(col("vec_id") < 16), "vec_id", "embedding",
          k = 3, nprobe = nprobe)
        .as[(Long, Long)].collect().toSet
      (exact & ivf).size.toDouble / exact.size
    }
    val r4 = recallAt(4)
    assert(r4 >= 0.6, s"kNN edge-set recall $r4 below acceptance")
    // The nprobe lever moves recall the right way.
    assert(recallAt(8) >= r4, "recall must be monotone in nprobe")
    val ivf = Similarity.knnEdgesIvf(e,
        e.filter(col("vec_id") < 16), "vec_id", "embedding",
        k = 3, nprobe = 4)
      .as[(Long, Long)].collect().toSet
    // Subset bias: every emitted edge ranks within the query's exact
    // k-NN OR replaces a truncated one — never an invented neighbor
    // closer than a probed candidate; cheap sanity: u domain subset.
    assert(ivf.map(_._1).subsetOf(exact.map(_._1)))
  }

  test("dbscan state/census/increment: incremental equals full recompute") {
    def stateRows(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])] =
      df.as[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])]
        .collect().sortBy(_._1).toSeq
    val all = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 1024)
    val xc = col("embedding").getItem(0)
    val yc = col("embedding").getItem(1)
    // (1) The census derived from state equals a sequential DBSCAN over
    // the state's own micro coordinates.
    val full = Similarity.dbscanState(all, "vec_id", xc, yc, 20000L, 5)
    val fullRows = stateRows(full)
    assert(Similarity.dbscanCensus(full)
      .as[(Long, Long, Long, Long)].collect().toSeq ===
      SequentialDbscan.census(fullRows.map(r => (r._1, r._2, r._3)),
        20000L, 5))
    // (2) Folding the appended batch into the base state reproduces the
    // full-recompute state bit for bit (labels, counts, border sets).
    val base = all.filter(col("vec_id") < 700)
    val delta = all.filter(col("vec_id") >= 700)
    val inc = Similarity.dbscanGridIncrement(
      Similarity.dbscanState(base, "vec_id", xc, yc, 20000L, 5),
      delta, "vec_id", xc, yc, 20000L, 5)
    assert(stateRows(inc) === fullRows)
    // (3) Two successive folds (the production cadence: state produced
    // by one increment feeds the next) still equal the full recompute —
    // the state round-trips, including the border-label arrays.
    val d1 = all.filter(col("vec_id") >= 700 && col("vec_id") < 900)
    val d2 = all.filter(col("vec_id") >= 900)
    val inc2 = Similarity.dbscanGridIncrement(
      Similarity.dbscanGridIncrement(
        Similarity.dbscanState(base, "vec_id", xc, yc, 20000L, 5),
        d1, "vec_id", xc, yc, 20000L, 5),
      d2, "vec_id", xc, yc, 20000L, 5)
    assert(stateRows(inc2) === fullRows)
  }

  test("dbscan increment merges clusters bridged by a new point (deterministic fixture)") {
    // Two dense 4-point clusters (minPts=3) at x≈0 and x≈10, eps=1.5:
    // separate components labeled 1 and 10. The increment drops points
    // at x=4.7/6.2 chaining them — the merged cluster must relabel to
    // the global min core id, exercising the label-graph closure and
    // the border-set remap; a far-away singleton stays noise.
    def pts(rows: Seq[(Long, Double)]) =
      rows.toDF("id", "x").withColumn("y", lit(0.0))
    val base = pts(Seq(1L -> 0.0, 2L -> 0.5, 3L -> 1.0, 4L -> 1.4,
      10L -> 10.0, 11L -> 10.5, 12L -> 11.0, 13L -> 11.4,
      // border of the right cluster only (within 1.5 of 10.0):
      20L -> 8.6,
      // noise:
      30L -> 50.0))
    // 1.4-spaced chain from cluster A's rim (1.4) to the border point
    // at 8.6 — every chain point gets 2 neighbors (core at minPts=3),
    // and 20 gains a second neighbor, PROMOTING the base border to core.
    val delta = pts(Seq(40L -> 2.8, 41L -> 4.2, 42L -> 5.6, 43L -> 7.0,
      44L -> 8.4,
      // stays noise far away:
      50L -> 99.0))
    val eps = 1500000L // 1.5 in micros
    val full = Similarity.dbscanState(
      pts(Seq(1L -> 0.0, 2L -> 0.5, 3L -> 1.0, 4L -> 1.4,
        10L -> 10.0, 11L -> 10.5, 12L -> 11.0, 13L -> 11.4, 20L -> 8.6,
        30L -> 50.0, 40L -> 2.8, 41L -> 4.2, 42L -> 5.6, 43L -> 7.0,
        44L -> 8.4, 50L -> 99.0)),
      "id", $"x", $"y", eps, 3)
    val inc = Similarity.dbscanGridIncrement(
      Similarity.dbscanState(base, "id", $"x", $"y", eps, 3),
      delta, "id", $"x", $"y", eps, 3)
    val got = inc
      .as[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])]
      .collect().sortBy(_._1).toSeq
    assert(got === full
      .as[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])]
      .collect().sortBy(_._1).toSeq)
    // The bridge genuinely merged: every core now carries label 1.
    val labels = got.flatMap(_._5).distinct
    assert(labels === Seq(1L), s"expected one merged cluster, got $labels")
    // Insert-only guard: replaying an existing id must fail loudly.
    intercept[IllegalArgumentException] {
      Similarity.dbscanGridIncrement(
        Similarity.dbscanState(base, "id", $"x", $"y", eps, 3),
        pts(Seq(1L -> 0.0)), "id", $"x", $"y", eps, 3)
    }
  }

  test("dbscanGrid on no points is the empty noise row") {
    // The id guard reads min(id) over zero rows (null) and must pass.
    val got = Similarity.dbscanGrid(
      Seq.empty[(Long, Double, Double)].toDF("id", "x", "y"), "id",
      $"x", $"y", 100000L, 3)
    assert(got.as[(Long, Long, Long, Long)].collect().toSeq ===
      Seq((-1L, 0L, 0L, 0L)))
  }

  test("dbscanGrid, dbscanState and dbscanGridIncrement reject negative ids") {
    // A core's label is its component's min id, so a core with id -1
    // would collide with the census's -1 noise row.
    val pts = Seq((-1L, 0.0, 0.0), (2L, 0.01, 0.0), (3L, 0.02, 0.0))
      .toDF("id", "x", "y")
    def rejected(build: => Any): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains("ids must be >= 0"), e.getMessage)
    }
    rejected(Similarity.dbscanGrid(pts, "id", $"x", $"y", 20000L, 2))
    rejected(Similarity.dbscanState(pts, "id", $"x", $"y", 20000L, 2))
    val base = Similarity.dbscanState(pts.filter($"id" >= 0L), "id",
      $"x", $"y", 20000L, 2)
    rejected(Similarity.dbscanGridIncrement(base,
      Seq((-5L, 0.03, 0.0)).toDF("id", "x", "y"), "id", $"x", $"y",
      20000L, 2))
  }

  test("ivfIndexAppend: appended index equals the full rebuild, content and probes") {
    val e = graft.Tables.embeddings(spark, sf)
    val seeds = e.filter($"vec_id" < 16)
    val table = Similarity.ivfIndexTable(sf, "_spec")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Similarity.ivfIndexed(spark, sf, e.filter($"vec_id" < 300), seeds,
      "vec_id", "embedding", tag = "_spec")
    val appended = Similarity.ivfIndexAppend(spark, sf,
      e.filter($"vec_id" >= 300), seeds, "vec_id", "embedding",
      tag = "_spec")
    // The maintained table's CONTENT equals a fresh full assignment
    // (file layout differs — the relation must not).
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cluster").as[(Long, Long)].collect().toSet
    assert(rows(appended) ===
      rows(Similarity.ivfAssign(e, seeds, "vec_id", "embedding")))
    // Probing the maintained layout equals probing the fresh assignment.
    val got = Similarity.ivfTopKProbesOver(spark.table(table), seeds,
        $"vec_id" < 10, "vec_id", "embedding", 5, 4)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val want = Similarity.ivfTopKProbesOver(
        Similarity.ivfAssign(e, seeds, "vec_id", "embedding"), seeds,
        $"vec_id" < 10, "vec_id", "embedding", 5, 4)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got === want)
    // Appending to a missing table fails loudly.
    spark.sql(s"DROP TABLE $table")
    intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(spark, sf, e.filter($"vec_id" >= 300),
        seeds, "vec_id", "embedding", tag = "_spec")
    }
  }

  test("ivfIndexDelete: tombstoned probes equal a fresh assignment of survivors") {
    val e = graft.Tables.embeddings(spark, sf)
    val seeds = e.filter($"vec_id" < 16)
    val table = Similarity.ivfIndexTable(sf, "_delspec")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${Similarity.ivfDeletesTable(sf, "_delspec")}")
    Similarity.ivfIndexed(spark, sf, e.filter($"vec_id" < 300), seeds,
      "vec_id", "embedding", tag = "_delspec")
    Similarity.ivfIndexAppend(spark, sf, e.filter($"vec_id" >= 300), seeds,
      "vec_id", "embedding", tag = "_delspec")
    // Two delete batches fold like one (tombstones accumulate).
    Similarity.ivfIndexDelete(spark, sf,
      e.filter($"vec_id" % 5 === 1 && $"vec_id" >= 10).select($"vec_id"),
      "vec_id", tag = "_delspec")
    val live = Similarity.ivfIndexDelete(spark, sf,
      e.filter($"vec_id" % 5 === 2 && $"vec_id" >= 10).select($"vec_id"),
      "vec_id", tag = "_delspec")
    val survivors = e.filter(!($"vec_id" % 5 === 1 && $"vec_id" >= 10) &&
      !($"vec_id" % 5 === 2 && $"vec_id" >= 10))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cluster").as[(Long, Long)].collect().toSet
    // Live content ≡ fresh assignment over survivors (masking a row
    // cannot move any other row's cluster).
    assert(rows(live) ===
      rows(Similarity.ivfAssign(survivors, seeds, "vec_id", "embedding")))
    // Probing the tombstoned layout ≡ probing the survivors' assignment.
    def probed(assigned: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKProbesOver(assigned, seeds, $"vec_id" < 10,
          "vec_id", "embedding", 5, 4)
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(probed(live) ===
      probed(Similarity.ivfAssign(survivors, seeds, "vec_id", "embedding")))
    // No sidecar (the common case) → the base table, zero added plan.
    spark.sql(s"DROP TABLE ${Similarity.ivfDeletesTable(sf, "_delspec")}")
    assert(rows(Similarity.ivfIndexLive(spark, sf, "vec_id", "_delspec")) ===
      rows(Similarity.ivfAssign(e, seeds, "vec_id", "embedding")))
    // Deleting from a missing index fails loudly.
    spark.sql(s"DROP TABLE $table")
    intercept[IllegalArgumentException] {
      Similarity.ivfIndexDelete(spark, sf, e.limit(1).select($"vec_id"),
        "vec_id", tag = "_delspec")
    }
  }

  test("dbscan delete: demotions and border rebuilds equal the full recompute") {
    def stateRows(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])] =
      df.as[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])]
        .collect().sortBy(_._1).toSeq
    val all = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 1024)
    val xc = col("embedding").getItem(0)
    val yc = col("embedding").getItem(1)
    val refBase = Similarity.dbscanState(all.filter(col("vec_id") < 300),
      "vec_id", xc, yc, 20000L, 5)
    // Delete 70% of the corpus: the surviving state must be bit-identical
    // to building on the survivors directly.
    val deleted = Similarity.dbscanGridDelete(
      Similarity.dbscanState(all, "vec_id", xc, yc, 20000L, 5),
      all.filter(col("vec_id") >= 300).select(col("vec_id")),
      "vec_id", 20000L, 5)
    assert(stateRows(deleted) === stateRows(refBase))
    // Insert-then-delete round-trips through both increments.
    val roundTrip = Similarity.dbscanGridDelete(
      Similarity.dbscanGridIncrement(refBase,
        all.filter(col("vec_id") >= 300), "vec_id", xc, yc, 20000L, 5),
      all.filter(col("vec_id") >= 300).select(col("vec_id")),
      "vec_id", 20000L, 5)
    assert(stateRows(roundTrip) === stateRows(refBase))
    // Unknown delete ids are rejected loudly.
    intercept[IllegalArgumentException] {
      Similarity.dbscanGridDelete(refBase,
        Seq(99999L).toDF("vec_id"), "vec_id", 20000L, 5)
    }
  }

  test("dbscan delete splits a bridged cluster (deterministic fixture)") {
    // The merge fixture in reverse: the full point set is ONE cluster
    // chained through bridge points 40-44; deleting the bridge must
    // split it back into the two dense clusters, relabel the right one,
    // demote chain-adjacent cores, and rebuild border sets — all
    // bit-identical to the full recompute on the survivors.
    def pts(rows: Seq[(Long, Double)]) =
      rows.toDF("id", "x").withColumn("y", lit(0.0))
    val eps = 1500000L
    val base = Seq(1L -> 0.0, 2L -> 0.5, 3L -> 1.0, 4L -> 1.4,
      10L -> 10.0, 11L -> 10.5, 12L -> 11.0, 13L -> 11.4,
      20L -> 8.6, 30L -> 50.0)
    val bridge = Seq(40L -> 2.8, 41L -> 4.2, 42L -> 5.6, 43L -> 7.0,
      44L -> 8.4, 50L -> 99.0)
    val fullState = Similarity.dbscanState(pts(base ++ bridge),
      "id", $"x", $"y", eps, 3)
    // Sanity: the bridged set really is one merged cluster.
    assert(fullState
      .as[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])]
      .collect().flatMap(_._5).distinct.toSeq === Seq(1L))
    val split = Similarity.dbscanGridDelete(fullState,
      bridge.map(_._1).toDF("id"), "id", eps, 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Option[Long], Option[Seq[Long]])]
        .collect().sortBy(_._1).toSeq
    val ref = rows(Similarity.dbscanState(pts(base), "id", $"x", $"y",
      eps, 3))
    assert(rows(split) === ref)
    // The split genuinely relabeled: two clusters again (1 and 10).
    assert(ref.flatMap(_._5).distinct.sorted === Seq(1L, 10L))
    // Deleting the OLD MINIMUM of a cluster forces a label INCREASE.
    val relabeled = Similarity.dbscanGridDelete(
      Similarity.dbscanState(pts(base), "id", $"x", $"y", eps, 3),
      Seq(1L).toDF("id"), "id", eps, 3)
    assert(rows(relabeled) === rows(Similarity.dbscanState(
      pts(base.filter(_._1 != 1L)), "id", $"x", $"y", eps, 3)))
    assert(rows(relabeled).flatMap(_._5).distinct.sorted === Seq(2L, 10L))
    // Deleting only noise touches nothing structural.
    val noNoise = Similarity.dbscanGridDelete(
      Similarity.dbscanState(pts(base), "id", $"x", $"y", eps, 3),
      Seq(30L).toDF("id"), "id", eps, 3)
    assert(rows(noNoise) === rows(Similarity.dbscanState(
      pts(base.filter(_._1 != 30L)), "id", $"x", $"y", eps, 3)))
  }

  test("knnIvfState edges match knnEdgesIvf; appends fold in bit-identically") {
    val e = graft.Tables.embeddings(spark, sf)
    val seeds = e.filter($"vec_id" < 16)
    def state(v: org.apache.spark.sql.DataFrame) =
      Similarity.knnIvfState(v, seeds, "vec_id", "embedding",
        k = 3, nprobe = 4)
    def canon(st: org.apache.spark.sql.DataFrame) =
      st.as[(Long, Seq[Long], Long, Seq[Long], Seq[(Double, Long)])]
        .collect().map(r => r._1 -> r).toMap
    // The state builder's edge readout ≡ the direct builder.
    val full = state(e)
    val direct = Similarity.knnEdgesIvf(e, seeds, "vec_id", "embedding",
        k = 3, nprobe = 4)
      .as[(Long, Long)].collect().toSet
    assert(Similarity.knnIvfEdges(full).as[(Long, Long)].collect().toSet
      === direct)
    // One append: increment(state(base), Δ) ≡ state(base ∪ Δ) bit for
    // bit — including base vectors whose top-k improved (the carried-
    // score re-rank) and Δ-Δ neighbor pairs.
    val inc1 = Similarity.knnEdgesIvfIncrement(
      state(e.filter($"vec_id" < 300)), e.filter($"vec_id" >= 300),
      seeds, "vec_id", "embedding", k = 3, nprobe = 4)
    assert(canon(inc1) === canon(full))
    // Two successive appends chain state -> state.
    val inc2 = Similarity.knnEdgesIvfIncrement(
      Similarity.knnEdgesIvfIncrement(
        state(e.filter($"vec_id" < 300)),
        e.filter($"vec_id" >= 300 && $"vec_id" < 400),
        seeds, "vec_id", "embedding", k = 3, nprobe = 4),
      e.filter($"vec_id" >= 400),
      seeds, "vec_id", "embedding", k = 3, nprobe = 4)
    assert(canon(inc2) === canon(full))
    // Append-only: a replayed id is rejected at the door.
    intercept[IllegalArgumentException] {
      Similarity.knnEdgesIvfIncrement(
        state(e.filter($"vec_id" < 300)), e.filter($"vec_id" < 10),
        seeds, "vec_id", "embedding", k = 3, nprobe = 4)
    }
    // DELETE twin: removing the tail from the full state equals building
    // on the survivors (affected vectors — carried top-k hit — re-scan
    // their probed buckets; everyone else passes through).
    val delState = Similarity.knnIvfStateDelete(full,
      e.filter($"vec_id" >= 300).select($"vec_id"), "vec_id", k = 3)
    assert(canon(delState) === canon(state(e.filter($"vec_id" < 300))))
    // Append-then-delete round-trips.
    val rt = Similarity.knnIvfStateDelete(inc1,
      e.filter($"vec_id" >= 300).select($"vec_id"), "vec_id", k = 3)
    assert(canon(rt) === canon(state(e.filter($"vec_id" < 300))))
    // Unknown delete ids are rejected loudly.
    intercept[IllegalArgumentException] {
      Similarity.knnIvfStateDelete(full, Seq(99999L).toDF("vec_id"),
        "vec_id", k = 3)
    }
  }

  test("hstFit + hstScore reproduce hstOutliers scores on the training table") {
    val e = graft.Tables.embeddings(spark, sf)
    val n = e.count().toInt
    val dims = Seq(col("embedding").getItem(0), col("embedding").getItem(1))
    val batch = Similarity.hstOutliers(e, "vec_id", dims,
        depth = 6, topN = n)
      .as[(Long, Long)].collect().toMap
    val model = Similarity.hstFit(e, "vec_id", dims, depth = 6)
    val scored = Similarity.hstScore(e, "vec_id", dims, model)
      .as[(Long, Long)].collect().toMap
    assert(scored === batch)
    // An extreme probe still routes (the rightmost path of a midpoint
    // tree stays populated) — no crash, a valid low-ish mass.
    val probe = Seq((9999L, 1e9, -1e9)).toDF("vec_id", "x", "y")
    val ps = Similarity.hstScore(probe, "vec_id", Seq($"x", $"y"), model)
      .as[(Long, Long)].collect()
    assert(ps.length == 1 && ps.head._2 >= 0L)
    // A probe landing in a node NO training point visited scores 0
    // (maximally anomalous): 1-D corpus {0, 1, 10}; depth-3 tree splits
    // node0 at 5, node1 at 10 — probe 12 goes right of 10 into the
    // never-populated child, every later lookup misses, mass 0.
    val train = Seq((1L, 0.0), (2L, 1.0), (3L, 10.0)).toDF("id", "x")
    val m1 = Similarity.hstFit(train, "id", Seq($"x"), depth = 3)
    val pr = Similarity.hstScore(Seq((99L, 12.0)).toDF("id", "x"),
        "id", Seq($"x"), m1)
      .as[(Long, Long)].collect()
    assert(pr === Array((99L, 0L)))
  }

  test("hstScore broadcast-join route is bit-identical to the literal route") {
    // Above the literal budget the scorer swaps typedlit maps for
    // per-level broadcast hash joins (r10 verdict What's-wrong #3: a
    // multi-megabyte literal in every task's codegen'd plan is a
    // driver/compile bottleneck). litBudget = 0 forces the join route on
    // the same model; output must match the literal route bit for bit —
    // including unseen-region rows (null mid → descend left; missing
    // mass → 0) and negative/extreme coordinates.
    val e = graft.Tables.embeddings(spark, sf)
    val dims = Seq(col("embedding").getItem(0), col("embedding").getItem(1))
    val model = Similarity.hstFit(e, "vec_id", dims, depth = 6)
    val lit = Similarity.hstScore(e, "vec_id", dims, model)
      .as[(Long, Long)].collect().toMap
    val joined = Similarity.hstScore(e, "vec_id", dims, model,
        litBudget = 0)
      .as[(Long, Long)].collect().toMap
    assert(joined === lit)
    val probes = Seq((1L, 1e9, -1e9), (2L, 0.0, 0.0), (3L, -0.5, 0.25))
      .toDF("vec_id", "x", "y")
    val pdims = Seq($"x", $"y")
    val pLit = Similarity.hstScore(probes, "vec_id", pdims, model)
      .as[(Long, Long)].collect().toMap
    val pJoin = Similarity.hstScore(probes, "vec_id", pdims, model,
        litBudget = 0)
      .as[(Long, Long)].collect().toMap
    assert(pJoin === pLit)
  }

  test("centroidClassifier recovers planted axis-aligned labels") {
    // Label 0 lives on +x, label 1 on +y; train rows are even ids,
    // eval rows odd. One eval vector per label sits clearly in its own
    // label's halfspace; one adversarial eval row (id 5, labeled 0)
    // points along +y and must be predicted 1 — the confusion entry.
    val rows = Seq(
      (0L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.9f, 0.1f)), // train 0
      (4L, 1, Seq(0.0f, 1.0f)), (6L, 1, Seq(0.1f, 0.9f)), // train 1
      (1L, 0, Seq(1.0f, 0.2f)), (3L, 1, Seq(0.2f, 1.0f)), // eval, clean
      (5L, 0, Seq(0.0f, 0.8f))) // eval, mislabeled on purpose
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidClassifier(rows, "vec_id", "label",
        "embedding", col("vec_id") % 2 === 0)
      .orderBy(col("true_label"), col("pred_label"))
      .as[(Int, Int, Long)].collect()
    assert(got === Array((0, 0, 1L), (0, 1, 1L), (1, 1, 1L)))
  }

  test("lofOutliers: the lone direction scores high, cluster members exactly 1.0") {
    // Four near-collinear directions form a tight cluster whose members'
    // neighborhoods are mutually symmetric — each gets LOF exactly
    // 10^6 (1.0). The orthogonal singleton must borrow the cluster as
    // its 2-NN, so its density ratio explodes (pinned from the oracle
    // arithmetic: 1846.09x).
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.02f)),
      (3L, Seq(1.0f, -0.02f)), (4L, Seq(0.98f, 0.04f)),
      (5L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.lofOutliers(df, "vec_id", "embedding", k = 2,
        topN = 5)
      .as[(Long, Long)].collect()
    assert(got === Array((5L, 1846088235L), (1L, 1000000L),
      (2L, 1000000L), (3L, 1000000L), (4L, 1000000L)))
  }

  test("lofOutliers: coincident-point neighborhoods clamp instead of dividing by zero") {
    val df = Seq.tabulate(4)(i => ((i + 1).toLong, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.lofOutliers(df, "vec_id", "embedding", k = 2,
        topN = 4)
      .as[(Long, Long)].collect()
    assert(got.map(_._2).forall(_ === 1000000L), got.mkString(","))
  }

  test("binaryQuantTopK: full fetch IS bruteTopK; sign bits find the planted twin") {
    // 64-dim vectors. Query 100's sign pattern matches id 1 exactly and
    // differs from id 2 in every dim -> the Hamming prefilter must keep
    // id 1 first even at fetchN = 1.
    def vec(seed: Int, flip: Boolean): Seq[Float] =
      (0 until 64).map { j =>
        val s = if ((j * 2654435761L + seed) % 3 == 0) 1f else -1f
        (if (flip) -s else s) * (1f + j * 0.01f)
      }
    val corpus = Seq((1L, vec(7, flip = false)), (2L, vec(7, flip = true)),
      (3L, vec(11, flip = false)), (4L, vec(13, flip = false)))
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, vec(7, flip = false).map(_ * 0.9f)))
      .toDF("vec_id", "embedding")
    val narrow = Similarity.binaryQuantTopK(queries, corpus, "vec_id",
        "embedding", dims = 64, fetchN = 1, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(narrow === Array((100L, 1L)))
    // fetchN covering the corpus reduces BQ to the exact brute answer
    val full = Similarity.binaryQuantTopK(queries, corpus, "vec_id",
      "embedding", dims = 64, fetchN = 4, k = 3).collect()
    val brute = Similarity.bruteTopK(queries, corpus, "vec_id",
      "embedding", k = 3).collect()
    assert(full.toSeq === brute.toSeq)
  }

  test("kmeansFit separates two planted clusters and drives WCSS to the in-cluster spread") {
    // Two tight orthogonal clusters; seeds are the two lowest ids (one
    // from each cluster), so one Lloyd step already classifies
    // perfectly and further steps only recentre.
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (3L, Seq(0.98f, 0.02f)), (5L, Seq(1.0f, 0.04f)),
      (2L, Seq(0.0f, 1.0f)), (4L, Seq(0.02f, 0.98f)), (6L, Seq(0.04f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansFit(df, "vec_id", "embedding", k = 2,
        iters = 3)
      .as[(Long, Long, Long)].collect()
    assert(got.map(c => (c._1, c._2)) === Array((0L, 3L), (1L, 3L)))
    // quantized cluster members differ by <= 5 units per dim -> tiny WCSS
    assert(got.forall(_._3 < 20L), got.mkString(","))
  }

  test("ivfRecallAudit: full probe recovers the brute top-k exactly") {
    // nprobe = k means every bucket is probed -> candidates are the
    // whole corpus and hits must equal topK for every query; candidate
    // counts must sum to |corpus| per query.
    val df = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(j =>
        math.sin(i * 1.7 + j * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val got = Similarity.ivfRecallAudit(df, "vec_id", "embedding",
        numQueries = 3, k = 4, iters = 2, nprobe = 4, topK = 3)
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(got.forall(_._2 === 37L), got.mkString(","))
    assert(got.forall(_._3 === 3L), got.mkString(","))
    // narrow probe keeps the cost lever honest: fewer candidates
    val narrow = Similarity.ivfRecallAudit(df, "vec_id", "embedding",
        numQueries = 3, k = 4, iters = 2, nprobe = 1, topK = 3)
      .as[(Long, Long, Long)].collect()
    assert(narrow.forall(_._2 < 37L), narrow.mkString(","))
  }

  test("kmeansFit keeps a centroid alive when its cluster empties") {
    // Both seeds sit on id 1/2; all mass is identical to seed 1, so
    // seed 2's cluster empties after the first assignment (ties go to
    // the LOWest cluster id) and must retain its previous centroid
    // instead of dividing by zero.
    val df = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.kmeansFit(df, "vec_id", "embedding", k = 2,
        iters = 2)
      .as[(Long, Long, Long)].collect()
    assert(got === Array((0L, 3L, 0L)))
  }

  test("matryoshkaRecall: truncation misranks, full width is exact") {
    // Query 0 = (1,1). Full cosine: id2 = (1,1) is the true top-1
    // (cos 1) over id1 = (2,-0.5) (cos ~0.51). At d' = 1 every
    // positive first component has cos 1, so the rank tie breaks by
    // ascending vec_id and picks id1 — the wrong neighbor. So recall
    // must be exactly 0 ppm at d' = 1 and exactly 10^6 at full width.
    val corpus = Seq(
      (0L, Seq(1f, 1f)),
      (1L, Seq(2f, -0.5f)),
      (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRecall(corpus, "vec_id", "embedding",
        col("vec_id") === 0L, k = 1, dims = Seq(1, 2))
      .orderBy("d_prime")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 1L, 1L, 0L, 0L),
      (2L, 1L, 1L, 1L, 1000000L)))
  }

}
