package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RankingSpec extends SparkSpec {
  import spark.implicits._

  test("alsRank1 recovers an exactly rank-1 matrix: u_i*v_j/1e12 == r_ij") {
    // r = a x b with a=(2,4), b=(1,3) — the dominant (only) singular
    // pair, so the alternating solves are exact from iteration one and
    // every prediction lands within integer rounding of the cell.
    val r = Seq(("u1", "j1", 2L), ("u1", "j2", 6L),
      ("u2", "j1", 4L), ("u2", "j2", 12L)).toDF("i", "j", "v")
    val out = Ranking.alsRank1(r, col("i"), col("j"), col("v"),
        iters = 3, topUsers = 2)
      .as[(String, String, Long, Long, Long)].collect()
    val f = out.map(x => (x._1, x._2) -> x._3).toMap
    for (((iu, ju), exp) <- Seq(("u1", "j1") -> 2L, ("u1", "j2") -> 6L,
        ("u2", "j1") -> 4L, ("u2", "j2") -> 12L)) {
      val pred = BigInt(f(("user", iu))) * BigInt(f(("item", ju)))
      val got = (pred / BigInt(1000000000000L)).toLong
      assert(math.abs(got - exp) <= 1, s"($iu,$ju): got $got want $exp")
    }
    // The stronger user/item rank first within their kind.
    assert(f(("user", "u2")) > f(("user", "u1")))
    assert(f(("item", "j2")) > f(("item", "j1")))
    // n_obs/sum_r audit columns survive the pipeline.
    assert(out.find(x => x._1 == "user" && x._2 == "u2").get._5 === 16L)
  }

  // Two queries over a 4-item corpus: q1's ranking hits relevant items at
  // ranks 1 and 3 (of 3 relevant overall); q2 finds nothing.
  private def ranked = Seq(
    (1L, 1, 11L), (1L, 2, 12L), (1L, 3, 13L),
    (2L, 1, 11L), (2L, 2, 12L), (2L, 3, 13L))
    .toDF("query_id", "rank", "neighbor_id")
  private def relevant = Seq(
    (1L, 11L), (1L, 13L), (1L, 99L)).toDF("query_id", "neighbor_id")

  test("ndcgAtK matches the hand-computed harmonic-discount values") {
    val got = Ranking.ndcgAtK(ranked, relevant, k = 3)
      .orderBy($"query_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // q1: dcg = 1e6/2 + 1e6/4 = 750000; ideal m = min(3, 3) = 3:
    // idcg = 1e6/2 + 1e6/3 + 1e6/4 = 500000 + 333333 + 250000 = 1083333.
    val dcg = 750000L
    val idcg = 1083333L
    val ndcg = dcg * 1000000L / idcg
    assert(got === Array(
      (1L, 2L, 3L, dcg, idcg, ndcg),
      (2L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("a perfect ranking of k relevant items scores ndcg exactly 1e6") {
    val perfect = Seq((7L, 1, 1L), (7L, 2, 2L)).toDF("query_id", "rank", "neighbor_id")
    val rel = Seq((7L, 1L), (7L, 2L)).toDF("query_id", "neighbor_id")
    val row = Ranking.ndcgAtK(perfect, rel, k = 2)
      .select($"ndcg_micro").as[Long].head()
    assert(row === 1000000L)
  }

  test("reciprocalRank reports the first hit and mrr floors the mean") {
    val rr = Ranking.reciprocalRank(ranked, relevant, k = 3)
      .orderBy($"query_id").as[(Long, Long, Long)].collect()
    assert(rr === Array((1L, 1L, 1000000L), (2L, 0L, 0L)))
    val m = Ranking.mrr(ranked, relevant, k = 3)
      .as[(Long, Long)].head()
    assert(m === ((2L, 500000L)))
  }

  test("quantizedTopK is partitioning-invariant and self-consistent") {
    val e = graft.Tables.embeddings(spark, sf)
    val a = Ranking.quantizedTopK(e, col("vec_id") < 5, "vec_id", "embedding", 4)
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect()
    val b = Ranking.quantizedTopK(e.repartition(7), col("vec_id") < 5,
        "vec_id", "embedding", 4)
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Int, Long)].collect()
    assert(a === b)
    assert(a.length === 5 * 4)
  }

  test("graft_doti equals the HOF zip_with fold and poisons on null") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-2L, 7L), Seq(3L, -1L))).toDF("a", "b")
    val native = df.select(
      graft.functions.TextFunctions.doti($"a", $"b")).as[Long].collect()
    val hof = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"))
      .as[Long].collect()
    assert(native === hof)
    assert(native === Array(32L, -13L))
  }

  test("hits computes the hand-worked bipartite fixpoint steps") {
    // h1 -> {a1, a2}, h2 -> {a1}: a1 is the stronger authority, h1 the
    // stronger hub; two iterations, every value hand-derived.
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("s", "d")
    val got = Graph.hits(e, "s", "d", iterations = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      1L -> (0L, 1000000L), // pure hub, the stronger one
      2L -> (0L, 625000L),
      10L -> (1000000L, 0L), // pure authority, the stronger one
      20L -> (600000L, 0L)))
  }

  test("temperatureShares boosts small groups monotonically") {
    val df = (1 to 100).map(i => ("big", i)).toDF("g", "x")
      .union(Seq(("small", 1)).toDF("g", "x"))
    val got = PipelineOps.temperatureShares(df, "g", lit(1L))
      .orderBy($"g").as[(String, Long, Long, Long, Long, Long)].collect()
    val Array((_, _, bigTok, _, bigNat, bigShare),
      (_, _, smallTok, _, smallNat, smallShare)) = got
    assert(bigTok === 100L && smallTok === 1L)
    // sqrt tempering: the small group's share rises, the big one's falls.
    assert(smallShare > smallNat)
    assert(bigShare < bigNat)
    // w = 10 and 1: shares are 10/11 and 1/11 in micro units.
    assert(bigShare === 909090L && smallShare === 90909L)
  }

  test("averagePrecision credits each hit with precision at its own rank") {
    // q1: hits at ranks 1 and 3 of 5, 2 relevant total.
    //   AP = (1/1 + 2/3) / 2 -> (1000000 + 666666) div 2 = 833333
    // q2: same two hits but at ranks 4 and 5 — position matters:
    //   AP = (1/4 + 2/5) / 2 -> (250000 + 400000) div 2 = 325000
    // q3: no relevant docs at all -> reported with ap 0.
    val ranked = (1 to 5).flatMap(r =>
      Seq((1L, r, r * 10L), (2L, r, r * 10L), (3L, r, r * 10L)))
      .toDF("query_id", "rank", "neighbor_id")
    val rel = Seq((1L, 10L), (1L, 30L), (2L, 40L), (2L, 50L))
      .toDF("query_id", "neighbor_id")
    val got = Ranking.averagePrecision(ranked, rel, k = 5)
      .orderBy($"query_id").as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 2L, 2L, 833333L),
      (2L, 2L, 2L, 325000L),
      (3L, 0L, 0L, 0L)))
  }

  test("kmeansElbow inertia is monotone in k and exact on a planted fixture") {
    // Four points on a line; seeds are vec_id < k. Quantization maps
    // each vector by floor(x / max|x| * 127).
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(-1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansElbow(vecs, "vec_id", "embedding", Seq(1, 2))
      .orderBy($"k").as[(Long, Long, Long, Long)].collect()
    // k=1: centroid (127, 0); points 1 and 3 at (-127): d2 = 254² = 64516.
    assert(got(0) === ((1L, 4L, 2L * 64516L, 32258L)))
    // k=2: both clusters covered exactly.
    assert(got(1) === ((2L, 4L, 0L, 0L)))
  }

  test("markovTwoStep squares the one-step matrix with exact floored terms") {
    // Chain a->b->a->b->c for one user: pairs ab=2, ba=1, bc=1;
    // totals: a=2, b=2. Two-step paths:
    //   a->b->{a, c}: p2(a,a) = (2·1·1e6) div 4 = 500000, p2(a,c) = 500000
    //   b->a->b:      p2(b,b) = (1·2·1e6) div 4 = 500000
    val ev = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "a"),
      (1L, 4L, "b"), (1L, 5L, "c"))
      .toDF("u", "tick", "state")
      .select($"u", org.apache.spark.sql.functions.timestamp_seconds($"tick").as("ts"),
        $"tick".as("tie"), $"state")
    val got = Analytics.markovTwoStep(ev, "u", "ts", "tie", "state")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got === Map(
      ("a", "a") -> ((2L, 500000L)),
      ("a", "c") -> ((2L, 500000L)),
      ("b", "b") -> ((2L, 500000L))))
  }

  test("binaryEwma halves each older day's weight and uses only maxDays") {
    // Key x: days 0, 1, 2 with cents 100, 200, 400 (latest = 400).
    // maxDays = 2 uses days 2 and 1, weighted 2^(2-1) = 2 (rn = 1) and
    // 2^(2-2) = 1 (rn = 2): (400·2 + 200·1) div 3 = 333.
    val ev = Seq((0L, 1.0), (86400L, 2.0), (172800L, 4.0))
      .toDF("t", "value")
      .select(lit("x").as("k"),
        org.apache.spark.sql.functions.timestamp_seconds($"t").as("ts"),
        $"value")
    val got = Analytics.binaryEwma(ev, "k", "ts", "value", maxDays = 2)
      .as[(String, Long, Long, Long)].head()
    assert(got === (("x", 2L, 2L, 333L)))
  }

  test("binaryEwma keeps exact cents past 2^53") {
    // One day of 2^53 + 1 cents with maxDays = 1: num = cents, den = 1.
    // The quotient must stay a BIGINT; a DOUBLE factor rounds it to 2^53.
    val ev = Seq((0L, "90071992547409.93")).toDF("t", "value")
      .select(lit("x").as("k"),
        org.apache.spark.sql.functions.timestamp_seconds($"t").as("ts"),
        $"value".cast("decimal(20,2)").as("value"))
    val got = Analytics.binaryEwma(ev, "k", "ts", "value", maxDays = 1)
      .as[(String, Long, Long, Long)].head()
    assert(got === (("x", 1L, 0L, 9007199254740993L)))
  }
}
