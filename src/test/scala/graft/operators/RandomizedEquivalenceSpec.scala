package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized equivalence pins for the three most intricate distributed
  * algorithms added late in round 3 — each is checked against its brute
  * oracle over seeded random inputs, because their correctness arguments
  * (PassJoin's shifted-segment pigeonhole, the first-shared-bucket
  * emission rule, selection's float-drift self-correction) have edge
  * geometry that fixture queries alone might never trip.
  */
class RandomizedEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  test("editDistancePairs equals brute force on random corpora with indels") {
    val alphabet = "abcd"
    def randStr(len: Int): String =
      Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 8).foreach { trial =>
      // Half the trials share a corpus-constant prefix (LCP-strip path).
      val prefix = if (trial % 2 == 0) "http://x.io/" else ""
      // Seed strings plus mutated neighbors so true pairs exist.
      val seeds = Vector.fill(12)(randStr(4 + rnd.nextInt(8)))
      val mutated = seeds.map { s =>
        val i = rnd.nextInt(s.length)
        rnd.nextInt(3) match {
          case 0 => s.updated(i, alphabet(rnd.nextInt(4)))      // substitute
          case 1 => s.take(i) + alphabet(rnd.nextInt(4)) + s.drop(i) // insert
          case 2 if s.length > 3 => s.take(i) + s.drop(i + 1)   // delete
          case _ => s
        }
      }
      val strs = (seeds ++ mutated).zipWithIndex
        .map { case (s, i) => (i.toLong, prefix + s) }
      val df = strs.toDF("id", "s")
      val d = 1 + rnd.nextInt(2)
      val minLen = strs.map(_._2.length).min
      // Respect the documented precondition: cores >= d+1 (alphabet keeps
      // the corpus LCP tiny, so core length ≈ string length).
      if (minLen - prefix.length >= d + 1) {
        val got = Dedup.editDistancePairs(df, "id", "s", maxDist = d)
          .as[(Long, Long, Long)].collect().toSet
        val brute = df.as("a").join(df.as("b"), $"a.id" < $"b.id")
          .select($"a.id", $"b.id",
            levenshtein($"a.s", $"b.s").cast("long").as("dist"))
          .as[(Long, Long, Long)].collect().filter(_._3 <= d).toSet
        assert(got === brute, s"trial $trial d=$d strs=$strs")
        assert(brute.nonEmpty, s"trial $trial generated no true pairs")
      }
    }
  }

  test("intervalOverlapJoin equals brute force for random intervals and buckets") {
    (1 to 8).foreach { trial =>
      def intervals(n: Int) = Vector.tabulate(n) { i =>
        val s = rnd.nextInt(1000).toLong
        (i.toLong, s, s + rnd.nextInt(120).toLong)
      }
      val a = intervals(30).toDF("a_id", "a_s", "a_e")
      val b = intervals(30).toDF("b_id", "b_s", "b_e")
      val w = Seq(7L, 50L, 128L, 1000L)(rnd.nextInt(4))
      val got = Relational
        .intervalOverlapJoin(a, b, "a_s", "a_e", "b_s", "b_e", w)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted
      val brute = a.join(b, $"a_s" <= $"b_e" && $"b_s" <= $"a_e")
        .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted
      // Sorted SEQUENCES: a duplicate emission (the rule the
      // first-shared-bucket condition replaces distinct with) must fail.
      assert(got === brute, s"trial $trial w=$w")
      assert(brute.nonEmpty)
    }
  }

  test("percentileNoSort equals the sort-based percentile on random data") {
    (1 to 4).foreach { trial =>
      // Mix of dense duplicates and spread values.
      val xs = Vector.fill(200 + rnd.nextInt(300))(
        if (rnd.nextBoolean()) rnd.nextInt(5).toDouble
        else rnd.nextDouble() * 1000)
      val df = xs.toDF("x")
      val ps = Seq(0.0, rnd.nextDouble(), 0.5, 1.0)
      val got = Analytics.percentileNoSort(df, "x", ps,
          buckets = 8, cutover = 4)
        .orderBy("p").as[(Double, Double)].collect()
      val want = df.agg(expr(
          s"percentile(x, array(${ps.sorted.map(p => s"${p}D").mkString(",")}))"))
        .collect()(0).getSeq[Double](0)
      got.zip(want).foreach { case ((p, g), w) =>
        assert(math.abs(g - w) < 1e-9, s"trial $trial p=$p: $g vs $w")
      }
    }
  }

  test("removeBoilerplateTiles equals a sequential reimplementation on random corpora") {
    val vocab = Vector("a", "b", "c") // tiny vocab → tile collisions abound
    (1 to 6).foreach { trial =>
      val w = 1 + rnd.nextInt(3)
      val maxOcc = 1 + rnd.nextInt(2)
      val docs = Vector.tabulate(20) { i =>
        (i.toLong,
          Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(3))).mkString(" "))
      }
      // independent sequential mirror of the tiling + count + rewrite
      def tiles(text: String): Vector[String] =
        text.split(" ", -1).toVector.grouped(w).map(_.mkString(" ")).toVector
      val counts = docs.flatMap(d => tiles(d._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val want = docs.map { case (id, text) =>
        val ts = tiles(text)
        val kept = ts.filter(counts(_) <= maxOcc)
        (id, ts.size.toLong, kept.size.toLong, kept.mkString(" "))
      }.toSet
      val got = Dedup.removeBoilerplateTiles(docs.toDF("doc_id", "text"),
          "doc_id", "text", tileWords = w, maxOccurrences = maxOcc)
        .select("doc_id", "n_tiles", "n_kept", "clean_text")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got === want, s"trial $trial w=$w maxOcc=$maxOcc")
      assert(want.exists(r => r._3 < r._2),
        s"trial $trial dropped nothing — collisions expected with this vocab")
    }
  }

  test("denseIds stays contiguous and order-correct under duplicate keys") {
    (1 to 4).foreach { trial =>
      val n = 500 + rnd.nextInt(1500)
      val parts = 1 + rnd.nextInt(12)
      // heavy duplication: ~20 distinct keys over hundreds of rows
      val rows = Vector.tabulate(n)(i => (rnd.nextInt(20).toLong, i.toLong))
      val got = Layout.denseIds(rows.toDF("k", "uniq"), Seq("k", "uniq"),
          numPartitions = parts)
        .as[(Long, Long, Long)].collect().sortBy(_._3)
      assert(got.map(_._3).toVector === (0L until n).toVector,
        s"trial $trial ids not contiguous")
      // with the unique tie-break, id order is exactly (k, uniq) order
      assert(got.map(r => (r._1, r._2)).toVector ===
        rows.sorted.toVector, s"trial $trial order mismatch (parts=$parts)")
    }
  }
  test("theilSen equals a sequential median-of-slopes on random daily series") {
    import java.sql.Timestamp
    (1 to 5).foreach { trial =>
      val nDays = 5 + rnd.nextInt(15)
      val days = (0 until nDays).map(d => (d, rnd.nextInt(2000) - 500))
      val rows = days.map { case (d, v) =>
        ("k", new Timestamp((1700000000L + d * 86400L) * 1000L), v / 100.0)
      }
      val got = Analytics.theilSen(rows.toDF("k", "ts", "v"), "k", "ts", "v")
        .head()
      // Sequential reimplementation on the daily cents.
      val daily = days.map { case (d, v) =>
        (d.toLong, math.floor(v / 100.0 * 100).toLong)
      }
      val slopes = for {
        i <- daily.indices; j <- daily.indices if i < j
      } yield {
        val num = daily(j)._2 - daily(i)._2
        val den = daily(j)._1 - daily(i)._1
        math.signum(num) * (math.abs(num) * 1000000L / den)
      }
      val sorted = slopes.sorted
      // nearest-rank: first value where 2*rank >= n over the multiset
      val n = sorted.length
      val want = sorted.zipWithIndex
        .find { case (_, idx) => 2 * (idx + 1) >= n }.get._1
      assert(got.getAs[Long]("slope_micro") === want, s"trial $trial")
      assert(got.getAs[Long]("n_pairs") === n.toLong)
    }
  }

  test("ddQuantileAudit holds its bound on adversarial random value mixes") {
    (1 to 4).foreach { trial =>
      // Mix tiny and huge magnitudes plus duplicate floods.
      val xs = Seq.fill(3000)(rnd.nextInt(3) match {
        case 0 => 1L + rnd.nextInt(10)
        case 1 => 1000L + rnd.nextInt(1000)
        case _ => 1L << (10 + rnd.nextInt(40))
      })
      val df = xs.toDF("v")
      val audit = Sketches.ddQuantileAudit(df, $"v", 4, Seq(25, 50, 75, 99))
        .head()
      Seq(25, 50, 75, 99).foreach { p =>
        assert(audit.getAs[Boolean](s"p${p}_ok"),
          s"trial $trial p$p violated: $audit")
        assert(audit.getAs[Long](s"p${p}_est") <=
          audit.getAs[Long](s"p${p}_exact"))
      }
    }
  }

  test("linkCandidates equals brute distance-2 enumeration on random graphs") {
    for (trial <- 1 to 4) {
      val n = 20 + trial * 5
      val edges = (1 to n * 2).map(_ =>
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val got = Graph.linkCandidates(edges.toDF("s1", "s2"), "s1", "s2",
          k = 10000)
        .as[(Long, Long, Long)].collect().toSet
      // brute: adjacency sets, all node pairs, common-neighbor count.
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      val es = edges.toSet
      val want = (for {
        i <- nodes; j <- nodes if i < j && !es.contains((i, j))
        cn = (adj(i) & adj(j)).size if cn >= 1
      } yield (i, j, cn.toLong)).toSet
      assert(got === want, s"trial $trial diverged")
    }
  }

  test("frequentTriples equals brute itemset counting on random baskets") {
    for (trial <- 1 to 3) {
      val baskets = (1 to 30).map(b =>
        b.toLong -> (1 to (3 + rnd.nextInt(5))).map(_ =>
          rnd.nextInt(8).toLong).distinct.sorted)
      val rows = baskets.flatMap { case (b, items) =>
        items.map(i => (b, i)) }
      val got = Analytics.frequentTriples(rows.toDF("c", "i"), "c", "i",
          maxItemsPerBasket = 16, minSupport = 2L)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3) -> r._4).toMap
      val want = baskets.flatMap { case (_, items) =>
          for {
            a <- items; b <- items if a < b
            c <- items if b < c
          } yield (a, b, c)
        }.groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= 2L).toMap
      assert(got === want, s"trial $trial diverged")
    }
  }

  test("sequenceGaps equals a sequential scan for random sparse id sets") {
    for (trial <- 1 to 4) {
      val ids = (1 to 60).map(_ => rnd.nextInt(200).toLong).distinct
      val parts = 1 + rnd.nextInt(7)
      val got = Profile.sequenceGaps(ids.toDF("id"), col("id"), parts)
        .as[(Long, Long, Long)].collect().toSet
      val sorted = ids.sorted
      val want = sorted.zip(sorted.drop(1)).collect {
        case (a, b) if b > a + 1 => (a + 1, b - 1, b - a - 1)
      }.toSet
      assert(got === want, s"trial $trial (parts=$parts) diverged")
    }
  }

  test("kaplanMeier and logRank equal sequential folds on random censored data") {
    (1 to 6).foreach { trial =>
      val n = 20 + rnd.nextInt(40)
      val data = Vector.fill(n)(
        (1L + rnd.nextInt(12), rnd.nextBoolean(), rnd.nextBoolean()))
      val df = data.toDF("dur", "ev", "g1")

      // Brute KM: sequential product with the operator's exact truncation.
      val byT = data.groupBy(_._1).map { case (t, rows) =>
        (t, rows.size.toLong, rows.count(_._2).toLong) }.toSeq.sortBy(_._1)
      val total = n.toLong
      var atRisk = total
      var surv = BigInt(1000000)
      val wantKm = byT.flatMap { case (t, c, d) =>
        val nr = atRisk
        atRisk -= c
        if (d > 0) {
          surv = surv * (nr - d) / nr
          Some((t, nr, d, d * 1000000L / nr, surv.toLong))
        } else None
      }
      val gotKm = Analytics.kaplanMeier(df, col("dur"), col("ev"))
        .orderBy(col("t")).as[(Long, Long, Long, Long, Long)].collect()
      assert(gotKm.toSeq === wantKm, s"trial $trial KM data=$data")

      // Brute log-rank with the same per-time truncation points.
      var ar = total; var ar1 = data.count(_._3).toLong
      var o1 = 0L; var e1 = BigInt(0); var v = BigInt(0)
      byT.foreach { case (t, _, _) =>
        val rows = data.filter(_._1 == t)
        val c = rows.size.toLong; val c1 = rows.count(_._3).toLong
        val d = rows.count(_._2).toLong
        val d1 = rows.count(r => r._2 && r._3).toLong
        if (d > 0 && ar > 1) {
          o1 += d1
          e1 += BigInt(d) * ar1 * 1000000 / ar
          v += BigInt(d) * ar1 * (ar - ar1) * (ar - d) * 1000000 /
            (BigInt(ar) * ar * (ar - 1))
        }
        ar -= c; ar1 -= c1
      }
      val gotLr = Analytics.logRank(df, col("dur"), col("ev"), col("g1"))
        .as[(Long, Long, Long, Option[Long])].collect()
      assert(gotLr.length === 1)
      assert((gotLr(0)._1, gotLr(0)._2, gotLr(0)._3) ===
        ((o1, e1.toLong, v.toLong)), s"trial $trial LR data=$data")
    }
  }

  test("olsFit2 equals a BigInt Cramer fold on random integer designs") {
    def fdB(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b
      if (r.signum != 0 && r.signum != b.signum) q - 1 else q
    }
    def check(trial: Int, data: Vector[(Long, Long, Long)]): Unit = {
      val n = data.size
      val M = BigInt(1000000)
      val (bn, s1, s2) = (BigInt(n), BigInt(data.map(_._2).sum),
        BigInt(data.map(_._3).sum))
      val s11 = data.map(r => BigInt(r._2) * r._2).sum
      val s12 = data.map(r => BigInt(r._2) * r._3).sum
      val s22 = data.map(r => BigInt(r._3) * r._3).sum
      val sy = BigInt(data.map(_._1).sum)
      val s1y = data.map(r => BigInt(r._2) * r._1).sum
      val s2y = data.map(r => BigInt(r._3) * r._1).sum
      val det = bn * (s11 * s22 - s12 * s12) -
        s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
      val det0 = sy * (s11 * s22 - s12 * s12) -
        s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)
      val det1 = bn * (s1y * s22 - s12 * s2y) -
        sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)
      val det2 = bn * (s11 * s2y - s1y * s12) -
        s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)
      val (b0, b1, b2) = (fdB(det0 * M, det), fdB(det1 * M, det),
        fdB(det2 * M, det))
      val ym = fdB(sy * M, bn)
      val sse = data.map { case (y, x1, x2) =>
        val r = BigInt(y) * 1000000 - (b0 + b1 * x1 + b2 * x2); r * r
      }.sum
      val sst = data.map { case (y, _, _) =>
        val r = BigInt(y) * 1000000 - ym; r * r }.sum
      val r2 = if (sst == 0) BigInt(0) else M - fdB(sse, fdB(sst, M))
      val got = Supervised.olsFit2(data.toDF("y", "x1", "x2"), col("y"),
          col("x1"), col("x2"))
        .as[(String, Long)].collect().toMap
      assert(got === Map("b0_micro" -> b0.toLong, "b1_micro" -> b1.toLong,
        "b2_micro" -> b2.toLong, "n_rows" -> n.toLong,
        "r2_ppm" -> r2.toLong), s"trial $trial")
    }
    (1 to 6).foreach { trial =>
      val n = 20 + rnd.nextInt(40)
      val data = Vector.fill(n)((rnd.nextInt(2000).toLong - 500,
        rnd.nextInt(9).toLong, rnd.nextInt(7).toLong))
      // skip the (rare) collinear draw
      if (data.map(_._2).distinct.size > 1 &&
          data.map(_._3).distinct.size > 1) check(trial, data)
    }
    // Σy² ≈ 1.2e19 is past 2^63 ≈ 9.2e18, so a moment pass that sums y²
    // as BIGINT overflows here. Own generator: the shared one's later
    // draws stay as they were.
    val big = new scala.util.Random(11)
    check(7, Vector.fill(1200)((100000000L + big.nextInt(2000) - 500,
      big.nextInt(9).toLong, big.nextInt(7).toLong)))
  }

  test("yuleWalkerAr2 equals a sequential autocovariance fold per group") {
    def fdB(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b
      if (r.signum != 0 && r.signum != b.signum) q - 1 else q
    }
    (1 to 6).foreach { trial =>
      val len = 8 + rnd.nextInt(20)
      val series = Vector.fill(len)(rnd.nextInt(1000).toLong)
      val df = series.zipWithIndex.map { case (y, p) => ("g", p.toLong, y) }
        .toDF("g", "p", "y")
      val n = BigInt(len); val sy = BigInt(series.sum)
      val dev = series.map(y => BigInt(y) * n - sy)
      val c0 = dev.map(d => d * d).sum
      val c1 = dev.sliding(2).map { case Seq(a, b) => a * b }.sum
      val c2 = dev.sliding(3).collect { case Seq(a, _, c) => a * c }.sum
      val den = c0 * c0 - c1 * c1
      val want = (fdB((c1 * c0 - c1 * c2) * 1000000, den).toLong,
        fdB((c0 * c2 - c1 * c1) * 1000000, den).toLong)
      val got = Analytics.yuleWalkerAr2(df, "g", col("p"), col("y"))
        .as[(String, Long, Long)].head()
      assert((got._2, got._3) === want, s"trial $trial series=$series")
    }
  }

  test("coxFit equals a sequential Newton fold on random censored data") {
    def fd(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b
      if (r.signum != 0 && r.signum != b.signum) q - 1 else q
    }
    (1 to 5).foreach { trial =>
      val n = 25 + rnd.nextInt(40)
      val data = Vector.fill(n)((1L + rnd.nextInt(10), rnd.nextInt(4) != 0,
        rnd.nextInt(5).toLong))
      val iters = 4
      // Sequential reimplementation of the exact fixed-point fold.
      var beta = BigInt(0)
      var lastU = BigInt(0)
      for (_ <- 1 to iters) {
        val byT = data.groupBy(_._1).toSeq.sortBy(-_._1).map {
          case (t, rows) =>
            val wq = rows.map { case (_, _, x) =>
              val z = math.min(math.max(beta.toLong * x / 1e6, -20), 20)
              (BigInt(math.floor(math.exp(z) * 1048576 + 0.5).toLong), x)
            }
            (t, wq.map(_._1).sum, wq.map(w => w._1 * w._2).sum,
              wq.map(w => w._1 * w._2 * w._2).sum,
              rows.count(_._2).toLong,
              rows.filter(_._2).map(_._3).sum)
        }
        var s0 = BigInt(0); var s1 = BigInt(0); var s2 = BigInt(0)
        var u = BigInt(0); var inf = BigInt(0)
        byT.foreach { case (_, sw, swx, swx2, d, dx) =>
          s0 += sw; s1 += swx; s2 += swx2
          if (d > 0) {
            val b = fd(s1 * 1000000, s0)
            u += BigInt(dx) * 1000000 - d * b
            inf += d * (fd(s2 * 1000000, s0) - fd(b * b, 1000000))
          }
        }
        lastU = u
        if (inf > 0) beta += fd(u * 1000000, inf)
      }
      val got = Analytics.coxFit(data.toDF("dur", "ev", "x"), col("dur"),
          col("ev"), Seq("" -> col("x")), iters)
        .as[(String, Long)].collect().toMap
      assert(got("beta_micro") === beta.toLong, s"trial $trial data=$data")
      assert(got("score_residual_micro") === lastU.toLong, s"trial $trial")
    }
  }

  test("gbStumps equals a sequential split-search fold on random cells") {
    def fd(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b
      if (r.signum != 0 && r.signum != b.signum) q - 1 else q
    }
    (1 to 5).foreach { trial =>
      val n = 40 + rnd.nextInt(60)
      val data = Vector.fill(n)((rnd.nextInt(2).toLong,
        rnd.nextInt(5).toLong, rnd.nextInt(4).toLong))
      val rounds = 3
      // Sequential reimplementation over the cell collapse.
      val cells = data.groupBy(r => (r._2, r._3)).map { case ((a, b), rs) =>
        (a, b, rs.size.toLong, rs.map(_._1).sum) }.toVector
      var stumps = Vector.empty[(Int, Long, Long, Long)]
      for (_ <- 1 to rounds) {
        def pred(a: Long, b: Long): Long = stumps.map { case (f, v, lo, hi) =>
          if ((if (f == 0) a else b) <= v) lo else hi }.sum
        val withR = cells.map { case (a, b, cn, sy) =>
          (a, b, cn, sy * 1000000L - cn * pred(a, b)) }
        val bigS = withR.map(c => BigInt(c._4)).sum
        val bigN = BigInt(withR.map(_._3).sum)
        val cand = (0 to 1).flatMap { f =>
          val byV = withR.groupBy(c => if (f == 0) c._1 else c._2).toSeq
            .sortBy(_._1)
          byV.scanLeft((0L, BigInt(0), 0L)) { case ((_, sl, nl), (v, rs)) =>
            (v, sl + rs.map(c => BigInt(c._4)).sum, nl + rs.map(_._3).sum)
          }.tail.map { case (v, sl, nl) => (f, v, sl, nl) }
        }
        val best = cand
          .filter { case (_, _, _, nl) => nl > 0 && BigInt(nl) < bigN }
          .map { case (f, v, sl, nl) =>
            val sr = bigS - sl; val nr = bigN - nl
            (fd(sl * sl, nl) + fd(sr * sr, nr), f, v, sl, BigInt(nl), sr, nr)
          }.sortBy { case (g, f, v, _, _, _, _) => (-g, f, v) }.head
        stumps :+= ((best._2, best._3, fd(best._4, 2 * best._5).toLong,
          fd(best._6, 2 * best._7).toLong))
      }
      val want = stumps.zipWithIndex.map { case ((f, v, lo, hi), i) =>
        ((i + 1).toLong, if (f == 0) "a" else "b", v, lo, hi) }
      val got = Supervised.gbStumps(data.toDF("y", "a", "b"), col("y"),
          Seq("a" -> col("a"), "b" -> col("b")), rounds)
        .as[(Long, String, Long, Long, Long)].collect()
      assert(got.toSeq === want, s"trial $trial")
    }
  }

  test("nelsonAalen equals a sequential fold on random censored data") {
    (1 to 6).foreach { trial =>
      val n = 20 + rnd.nextInt(40)
      // Trial 6: all-censored — no death times, the estimator is empty.
      val data = Vector.fill(n)(
        (1L + rnd.nextInt(12), if (trial == 6) false else rnd.nextBoolean()))
      val df = data.toDF("dur", "ev")
      val byT = data.groupBy(_._1).map { case (t, rows) =>
        (t, rows.size.toLong, rows.count(_._2).toLong) }.toSeq.sortBy(_._1)
      var atRisk = n.toLong
      var cum = 0L
      val want = byT.flatMap { case (t, c, d) =>
        val nr = atRisk
        atRisk -= c
        if (d > 0) {
          val hz = d * 1000000L / nr
          cum += hz
          Some((t, nr, d, hz, cum))
        } else None
      }
      for (quant <- Seq(true, false)) {
        val got = Analytics.nelsonAalen(df, col("dur"), col("ev"), quant)
          .orderBy(col("t")).as[(Long, Long, Long, Long, Long)].collect()
        assert(got.toSeq === want, s"trial $trial quant=$quant data=$data")
      }
    }
  }

  test("holtForecast equals a sequential micro recurrence on random series") {
    def md(x: BigInt): Long =
      ((if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs / 1000000)).toLong
    (1 to 6).foreach { trial =>
      val a = rnd.nextInt(1000001).toLong
      val b = rnd.nextInt(1000001).toLong
      // Sparse period ids (gaps allowed — the fold is over OBSERVED
      // periods in order, the operator's documented contract) and values
      // that may dip negative after differencing.
      val nPeriods = 2 + rnd.nextInt(10)
      val periods = rnd.shuffle((1 to 40).toList).take(nPeriods).sorted
      val rows = periods.flatMap { p =>
        // 1..3 raw rows per period; operator sums them per (g, p).
        Seq.fill(1 + rnd.nextInt(3))((p.toLong, rnd.nextInt(2000).toLong - 500))
      }
      // A one-period group must be DROPPED (no trend estimable).
      val df = (rows.map { case (p, y) => ("grp", p, y) } :+
        (("lone", 1L, 7L))).toDF("g0", "p0", "y0")
      val series = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1).map(_._2)
      var l = BigInt(series(0)) * 1000000
      var bt = BigInt(series(1) - series(0)) * 1000000
      series.drop(2).foreach { y =>
        val nl = md(a * BigInt(y) * 1000000 + (1000000L - a) * (l + bt))
        val nb = md(b * (BigInt(nl) - l) + (1000000L - b) * bt)
        l = nl; bt = nb
      }
      val want = (1 to 3).map(h =>
        ("grp", series.size.toLong, l.toLong, bt.toLong, h.toLong,
          l.toLong + h * bt.toLong))
      val got = Analytics.holtForecast(df, "g0", col("p0"), col("y0"),
          alphaMicro = a, betaMicro = b, horizon = 3)
        .orderBy(col("g"), col("h"))
        .as[(String, Long, Long, Long, Long, Long)].collect()
      assert(got.toSeq === want,
        s"trial $trial a=$a b=$b series=$series")
    }
  }

  test("holtWintersForecast equals a sequential seasonal recurrence on random series") {
    def sd(x: BigInt, d: Long): Long =
      ((if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs / d)).toLong
    (1 to 6).foreach { trial =>
      val m = 2 + rnd.nextInt(3)
      val a = rnd.nextInt(1000001).toLong
      val b = rnd.nextInt(1000001).toLong
      val g = rnd.nextInt(1000001).toLong
      val nPeriods = 2 * m + rnd.nextInt(10)
      // Sparse periods (gaps): slot alignment is p % m, not step count.
      val periods = rnd.shuffle((1 to 60).toList).take(nPeriods).sorted
      val series = periods.map(p =>
        (p.toLong, rnd.nextInt(2000).toLong - 500))
      val df = (series.map { case (p, y) => ("grp", p, y) } :+
        (("lone", 1L, 7L))).toDF("g0", "p0", "y0")
      val s1 = series.take(m).map(_._2).sum
      val s2 = series.slice(m, 2 * m).map(_._2).sum
      var l = sd(BigInt(s1) * 1000000, m)
      var bt = sd(BigInt(s2 - s1) * 1000000, m.toLong * m)
      val ss = Array.fill(m)(0L)
      series.take(m).foreach { case (p, y) =>
        ss((p % m).toInt) = y * 1000000L - l }
      series.drop(m).foreach { case (p, y) =>
        val slot = (p % m).toInt
        val sv = ss(slot)
        val nl = sd(a * (BigInt(y) * 1000000 - sv)
          + (1000000L - a) * (BigInt(l) + bt), 1000000L)
        val nb = sd(b * (BigInt(nl) - l) + (1000000L - b) * BigInt(bt),
          1000000L)
        val ns = sd(g * (BigInt(y) * 1000000 - nl)
          + (1000000L - g) * BigInt(sv), 1000000L)
        l = nl; bt = nb; ss(slot) = ns
      }
      val lastP = series.last._1
      val want = (1 to 3).map { h =>
        val sv = ss(((lastP + h) % m).toInt)
        ("grp", series.size.toLong, h.toLong, l, bt, sv, l + h * bt + sv)
      }
      val got = Analytics.holtWintersForecast(df, "g0", col("p0"),
          col("y0"), m = m, alphaMicro = a, betaMicro = b, gammaMicro = g,
          horizon = 3)
        .orderBy(col("g"), col("h"))
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      assert(got.toSeq === want,
        s"trial $trial m=$m a=$a b=$b g=$g series=$series")
    }
  }

  test("crostonForecast equals a sequential two-recurrence fold on sparse series") {
    def md(x: BigInt): Long =
      ((if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs / 1000000)).toLong
    (1 to 6).foreach { trial =>
      val a = rnd.nextInt(1000001).toLong
      // Mostly-zero periods: only ~30% carry demand.
      val rows = (1 to 40).flatMap { p =>
        if (rnd.nextInt(10) < 3)
          Some((p.toLong, 1L + rnd.nextInt(50).toLong)) else None
      }
      if (rows.size >= 2) {
        // Zero-valued rows must behave as ABSENT periods.
        val zeros = Seq((41L, 0L), (42L, 0L))
        val df = ((rows ++ zeros).map { case (p, y) => ("grp", p, y) } :+
          (("lone", 1L, 7L))).toDF("g0", "p0", "y0")
        var z = BigInt(rows.head._2) * 1000000
        var v = BigInt(1000000)
        rows.sliding(2).foreach { case Seq((pp, _), (p, y)) =>
          z = BigInt(md(a * BigInt(y) * 1000000 + (1000000L - a) * z))
          v = BigInt(md(a * BigInt(p - pp) * 1000000 + (1000000L - a) * v))
        }
        val rate = ((if (z < 0) BigInt(-1) else BigInt(1))
          * (z.abs * 1000000 / v)).toLong
        val got = Analytics.crostonForecast(df, "g0", col("p0"), col("y0"),
            alphaMicro = a)
          .as[(String, Long, Long, Long, Long)].collect()
        assert(got.toSeq === Seq(("grp", rows.size.toLong, z.toLong,
          v.toLong, rate)), s"trial $trial a=$a rows=$rows")
        // SBA: same fold state, rate scaled by (1 - alpha/2) as ONE
        // exact rational truncation over the 2e6 denominator.
        val rateSba = ((if (z < 0) BigInt(-1) else BigInt(1))
          * (z.abs * (2000000L - a) * 1000000 / (v * 2000000))).toLong
        val gotSba = Analytics.crostonForecast(df, "g0", col("p0"),
            col("y0"), alphaMicro = a, sba = true)
          .as[(String, Long, Long, Long, Long)].collect()
        assert(gotSba.toSeq === Seq(("grp", rows.size.toLong, z.toLong,
          v.toLong, rateSba)), s"trial $trial sba a=$a rows=$rows")
      }
    }
  }

  test("ewmaSeries equals a sequential micro recurrence on random series") {
    def md(x: BigInt): Long =
      ((if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs / 1000000)).toLong
    (1 to 6).foreach { trial =>
      val a = rnd.nextInt(1000001).toLong
      val nPeriods = 1 + rnd.nextInt(12)
      val periods = rnd.shuffle((1 to 40).toList).take(nPeriods).sorted
      val rows = periods.flatMap { p =>
        Seq.fill(1 + rnd.nextInt(3))((p.toLong, rnd.nextInt(2000).toLong - 500))
      }
      val df = rows.map { case (p, y) => ("grp", p, y) }.toDF("g0", "p0", "y0")
      val series = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      var e = BigInt(series.head._2) * 1000000
      val want = series.zipWithIndex.map { case ((p, y), i) =>
        if (i > 0)
          e = BigInt(md(a * BigInt(y) * 1000000 + (1000000L - a) * e))
        ("grp", p, y, e.toLong)
      }
      val got = Analytics.ewmaSeries(df, "g0", col("p0"), col("y0"),
          alphaMicro = a)
        .orderBy(col("p")).as[(String, Long, Long, Long)].collect()
      assert(got.toSeq === want, s"trial $trial a=$a series=$series")
    }
  }

  test("welchT equals the sequential Welch computation on random arms") {
    (1 to 6).foreach { trial =>
      val na = 2 + rnd.nextInt(40)
      val nb = 2 + rnd.nextInt(40)
      val rawA = Vector.fill(na)(rnd.nextInt(20001) - 10000)
      val rawB = Vector.fill(nb)(rnd.nextInt(20001) - 10000)
      val rows = rawA.map(c => ("A", c / 100.0)) ++
        rawB.map(c => ("B", c / 100.0))
      val df = rows.toDF("g0", "v0")
      // Mirror the operator's cents conversion: floor(v * 100) on the
      // DOUBLE the fixture actually stores (c/100.0*100 can land a hair
      // under c in IEEE arithmetic).
      val a = rawA.map(c => math.floor(c / 100.0 * 100).toInt)
      val b = rawB.map(c => math.floor(c / 100.0 * 100).toInt)
      def stats(xs: Vector[Int]) = {
        val n = xs.size.toLong
        val s = xs.map(_.toLong).sum
        val q = xs.map(x => BigInt(x) * x).sum
        (n, s, q)
      }
      val (n1, s1, q1) = stats(a)
      val (n2, s2, q2) = stats(b)
      // Mirror the operator's double formula operation-for-operation.
      val va = (q1.toDouble * n1 - s1.toDouble * s1) / (n1.toDouble * (n1 - 1d))
      val vb = (q2.toDouble * n2 - s2.toDouble * s2) / (n2.toDouble * (n2 - 1d))
      val (sea, seb) = (va / n1, vb / n2)
      val se2 = sea + seb
      def bin6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val (wantT, wantNu) =
        if (se2 <= 0) (null, null)
        else (bin6((s1.toDouble / n1 - s2.toDouble / n2) / math.sqrt(se2)) + 0.0,
          bin6(se2 * se2 / (sea * sea / (n1 - 1d) + seb * seb / (n2 - 1d))) + 0.0)
      def mm(s: Long, n: Long) =
        (if (s < 0) -1L else 1L) * (math.abs(s) * 10000L / n)
      val got = Profile.welchT(df, col("g0"), col("v0"), "A", "B")
        .collect().head
      assert(got.getLong(0) === n1 && got.getLong(1) === n2)
      assert(got.getLong(2) === mm(s1, n1) && got.getLong(3) === mm(s2, n2))
      assert(got.get(4) === wantT && got.get(5) === wantNu,
        s"trial $trial got=$got want=($wantT, $wantNu)")
    }
    // Degenerate: a single-row arm yields null t/df, not a crash.
    val tiny = Seq(("A", 1.0), ("B", 2.0), ("B", 3.0)).toDF("g0", "v0")
    val row = Profile.welchT(tiny, col("g0"), col("v0"), "A", "B")
      .collect().head
    assert(row.isNullAt(4) && row.isNullAt(5))
  }

  test("chiSquareUniform equals the definitional statistic on random categories") {
    (1 to 6).foreach { trial =>
      val k = 2 + rnd.nextInt(8)
      val data = Vector.fill(30 + rnd.nextInt(100))(
        ("grp", rnd.nextInt(k).toLong))
      val df = data.toDF("g0", "c0")
      val counts = data.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val n = data.size.toLong
      val kObs = counts.size.toLong
      // Definitional: Σ(O − n/k)²/(n/k), kept rational — equals
      // (kΣO² − n²)/n exactly; the operator truncates to micro once.
      val so2 = counts.values.map(o => BigInt(o) * o).sum
      val wantChi2 = (BigInt(kObs) * so2 - BigInt(n) * n) * 1000000 / n
      val got = Profile.chiSquareUniform(df, col("g0"), col("c0"))
        .as[(String, Long, Long, Long, Long)].collect()
      assert(got.toSeq === Seq(("grp", n, kObs, kObs - 1, wantChi2.toLong)),
        s"trial $trial counts=$counts")
    }
  }

  test("labelPropagation equals a sequential synchronous LPA on random graphs") {
    (1 to 5).foreach { trial =>
      val nNodes = 6 + rnd.nextInt(10)
      val dir = (for {
        u <- 0 until nNodes; v <- 0 until nNodes
        if u < v && rnd.nextInt(100) < 35
      } yield (u.toLong, v.toLong)).toVector
      if (dir.nonEmpty) {
        val und = dir ++ dir.map(_.swap)
        val iters = 1 + rnd.nextInt(4)
        // Brute sync LPA: most frequent out-neighbor label, min on ties.
        val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var lbl = adj.keys.map(i => i -> i).toMap
        (1 to iters).foreach { _ =>
          lbl = adj.map { case (u, nbrs) =>
            val freq = nbrs.groupBy(lbl).view.mapValues(_.size).toMap
            u -> freq.toSeq.map { case (l, c) => (-c, l) }.min._2
          }
        }
        val got = Graph.labelPropagation(und.toDF("s", "d"), "s", "d",
            iterations = iters)
          .as[(Long, Long)].collect().toMap
        assert(got === lbl, s"trial $trial iters=$iters edges=$dir")
        // DIRECTED input: the node set is src UNION dst, and a node with
        // no out-neighbors keeps its own label every round instead of
        // vanishing from the labeling.
        val adjD = dir.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val allNodes = (dir.map(_._1) ++ dir.map(_._2)).distinct
        var lblD = allNodes.map(i => i -> i).toMap
        (1 to iters).foreach { _ =>
          lblD = allNodes.map { u =>
            adjD.get(u) match {
              case Some(nbrs) =>
                val freq = nbrs.groupBy(lblD).view.mapValues(_.size).toMap
                u -> freq.toSeq.map { case (l, c) => (-c, l) }.min._2
              case None => u -> lblD(u)
            }
          }.toMap
        }
        val gotD = Graph.labelPropagation(dir.toDF("s", "d"), "s", "d",
            iterations = iters)
          .as[(Long, Long)].collect().toMap
        assert(gotD === lblD, s"trial $trial directed iters=$iters edges=$dir")
      }
    }
  }

  test("dtwDistance equals the quadratic DP on random series") {
    def brute(a: Seq[Long], b: Seq[Long]): Long = {
      val D = Array.fill(a.size + 1, b.size + 1)(Long.MaxValue / 4)
      for (i <- 1 to a.size; j <- 1 to b.size) {
        val c = math.abs(a(i - 1) - b(j - 1))
        D(i)(j) =
          if (i == 1 && j == 1) c
          else c + Seq(D(i - 1)(j), D(i)(j - 1), D(i - 1)(j - 1)).min
      }
      D(a.size)(b.size)
    }
    (1 to 6).foreach { trial =>
      // Trial 6 pins the length-1 edge on BOTH sides of the guard.
      val la = if (trial == 6) 1 else 1 + rnd.nextInt(15)
      val lb = if (trial == 6) 1 else 1 + rnd.nextInt(15)
      val a = Vector.fill(la)(rnd.nextInt(100).toLong)
      val b = Vector.fill(lb)(rnd.nextInt(100).toLong)
      val rows =
        a.zipWithIndex.map { case (y, p) => ("A", p.toLong, y) } ++
        b.zipWithIndex.map { case (y, p) => ("B", p.toLong, y) }
      val df = rows.toDF("et0", "p0", "y0")
      val want = brute(a, b)
      val got = Analytics.dtwDistance(df, col("et0"), col("p0"),
          col("y0"), "A", "B")
        .as[(Long, Long, Long, Long)].collect()
      assert(got.toSeq === Seq((la.toLong, lb.toLong, want,
        want * 1000000L / (la + lb))), s"trial $trial a=$a b=$b")
    }
  }

  test("dtwDistance with a Sakoe-Chiba band equals the banded DP; wide bands equal full") {
    def bruteBanded(a: Seq[Long], b: Seq[Long], band: Long): Long = {
      val eff = math.max(band, math.abs(a.size - b.size).toLong)
      val D = Array.fill(a.size + 1, b.size + 1)(Long.MaxValue / 4)
      for (i <- 1 to a.size; j <- 1 to b.size
          if math.abs(i - j) <= eff) {
        val c = math.abs(a(i - 1) - b(j - 1))
        D(i)(j) =
          if (i == 1 && j == 1) c
          else c + Seq(D(i - 1)(j), D(i)(j - 1), D(i - 1)(j - 1)).min
      }
      D(a.size)(b.size)
    }
    (1 to 6).foreach { trial =>
      val la = 2 + rnd.nextInt(14)
      val lb = 2 + rnd.nextInt(14)
      val a = Vector.fill(la)(rnd.nextInt(100).toLong)
      val b = Vector.fill(lb)(rnd.nextInt(100).toLong)
      val band = rnd.nextInt(6).toLong
      val df = (a.zipWithIndex.map { case (y, p) => ("A", p.toLong, y) } ++
        b.zipWithIndex.map { case (y, p) => ("B", p.toLong, y) })
        .toDF("et0", "p0", "y0")
      def run(bd: Long) = Analytics.dtwDistance(df, col("et0"), col("p0"),
          col("y0"), "A", "B", band = bd)
        .as[(Long, Long, Long, Long)].collect().head._3
      // Band-limited == the banded DP (constrained optimum, not full).
      assert(run(band) === bruteBanded(a, b, band),
        s"trial $trial band=$band a=$a b=$b")
      // A window covering the whole table == the unbanded distance; a
      // banded cost can never undercut the unconstrained optimum.
      val full = run(Long.MaxValue)
      assert(run(math.max(la, lb).toLong) === full,
        s"trial $trial full-window a=$a b=$b")
      assert(run(band) >= full, s"trial $trial monotonicity a=$a b=$b")
      // Identical series: the diagonal fits ANY window, so band 0 == 0.
      val dfEq = (a.zipWithIndex.map { case (y, p) => ("A", p.toLong, y) } ++
        a.zipWithIndex.map { case (y, p) => ("B", p.toLong, y) })
        .toDF("et0", "p0", "y0")
      val eq0 = Analytics.dtwDistance(dfEq, col("et0"), col("p0"),
          col("y0"), "A", "B", band = 0L)
        .as[(Long, Long, Long, Long)].collect().head._3
      assert(eq0 === 0L, s"trial $trial identical-series band 0")
    }
  }

  test("isotonicFit equals the minimax characterization on random data") {
    // Independent oracle: the isotonic fit satisfies fitted(i) =
    // max_{j<=i} min_{k>=i} mean(y over x-blocks j..k) with EXACT
    // rational means (Robertson et al. 1988, Thm 1.4.4) — a different
    // computation than the PAV stack the kernel runs.
    (1 to 6).foreach { trial =>
      val rows = Vector.fill(20 + rnd.nextInt(60))(
        (rnd.nextInt(8).toLong, rnd.nextInt(2000001).toLong - 1000000L))
      val df = rows.map { case (x, y) => ("grp", x, y) }.toDF("g0", "x0", "y0")
      val blocks = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (x, rs) =>
        (x, rs.size.toLong, rs.map(_._2).sum)
      }
      val nB = blocks.size
      def mean(j: Int, k: Int): (BigInt, Long) = {
        val num = blocks.slice(j, k + 1).map(b => BigInt(b._3)).sum
        val den = blocks.slice(j, k + 1).map(_._2).sum
        (num, den)
      }
      def le(a: (BigInt, Long), b: (BigInt, Long)): Boolean =
        a._1 * b._2 <= b._1 * a._2
      val fitted = (0 until nB).map { i =>
        val v = (0 to i).map { j =>
          (i until nB).map(k => mean(j, k))
            .reduce((a, b) => if (le(a, b)) a else b)
        }.reduce((a, b) => if (le(a, b)) b else a)
        val t = v._1 * 1000000
        ((if (t < 0) BigInt(-1) else BigInt(1)) * (t.abs / v._2)).toLong
      }
      val wantRows = blocks.zip(fitted).map { case ((x, _, _), f) =>
        ("grp", x, f) }
      val got = Profile.isotonicFit(df, col("g0"), col("x0"), col("y0"))
        .orderBy(col("x")).as[(String, Long, Long)].collect()
      assert(got.toSeq === wantRows, s"trial $trial blocks=$blocks")
      // Monotone by construction.
      assert(fitted === fitted.sorted, s"trial $trial not monotone")
    }
  }

  test("interpQuantiles equals the sorted-array rational on random multisets") {
    (1 to 6).foreach { trial =>
      val n = 1 + rnd.nextInt(30)
      val vals = Vector.fill(n)(rnd.nextInt(20).toLong) // cents, with ties
      val df = vals.map(v => ("g", v / 100.0)).toDF("g0", "v")
      val sorted = vals.sorted
      def want(p: Int): Long = {
        val hNum = (n - 1).toLong * p // denominator 100
        val k = (hNum / 100).toInt
        val lo = sorted(k)
        val hi = if (k + 1 < n) sorted(k + 1) else lo
        lo * 1000000L + (hi - lo) * (hNum % 100) * 10000L
      }
      val got = Analytics.interpQuantiles(df, col("g0"), col("v"),
        Seq(25, 50, 75, 90))
        .as[(String, Long, Long, Long, Long, Long)].collect()
      assert(got === Array(("g", n.toLong, want(25), want(50), want(75),
        want(90))), s"trial $trial vals=$sorted")
    }
  }

  test("seasonalDecompose recovers a planted cycle exactly and equals a brute mirror") {
    // Perfect linear + zero-sum seasonal: the 2×m CMA reproduces the
    // line EXACTLY (the seasonal sums to zero over every window and the
    // linear offsets cancel), so seasonal and residual are exact too.
    val S = Map(0 -> 12L, 1 -> -4L, 2 -> -8L, 3 -> 0L)
    val rows = (0 until 24).map(p => ("g", p.toLong, 200L + 3 * p + S(p % 4)))
    val got = Analytics.seasonalDecompose(rows.toDF("g0", "p0", "y0"),
        "g0", col("p0"), col("y0"), m = 4)
      .orderBy("p")
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    got.foreach { case (_, p, ym, trend, seas, resid) =>
      assert(ym === (200L + 3 * p + S((p % 4).toInt)) * 1000000L)
      assert(seas === Some(S((p % 4).toInt) * 1000000L), s"p=$p")
      if (p < 2 || p > 21) assert(trend.isEmpty && resid.isEmpty, s"p=$p")
      else {
        assert(trend === Some((200L + 3 * p) * 1000000L), s"p=$p")
        assert(resid === Some(0L), s"p=$p")
      }
    }

    // Brute mirror on random gapped series (windows are over OBSERVED
    // periods in order — the documented contract), odd and even m.
    def sd(x: Long, d: Long): Long =
      (if (x < 0) -1L else 1L) * (math.abs(x) / d)
    (1 to 4).foreach { trial =>
      val m = if (trial % 2 == 0) 4 else 3
      val h = m / 2
      val periods = rnd.shuffle((1 to 40).toList).take(10 + rnd.nextInt(20))
        .sorted.map(_.toLong)
      val ys = periods.map(_ => (rnd.nextInt(2000) - 500) * 1000000L)
      val n = periods.length
      val trend = (0 until n).map { i =>
        if (m % 2 == 1) {
          if (i - h >= 0 && i + h < n)
            Some(sd((i - h to i + h).map(ys).sum, m)) else None
        } else {
          if (i - h >= 0 && i + h < n)
            Some(sd((i - h to i + h - 1).map(ys).sum
              + (i - h + 1 to i + h).map(ys).sum, 2L * m)) else None
        }
      }
      val det = (0 until n).map(i => trend(i).map(ys(i) - _))
      val slotOf = (i: Int) => (periods(i) % m).toInt
      val smean = (0 until n).filter(det(_).isDefined).groupBy(slotOf)
        .view.mapValues(is => sd(is.map(i => det(i).get).sum, is.size)).toMap
      val adj = sd(smean.values.sum, smean.size)
      val seas = smean.view.mapValues(_ - adj).toMap
      val expect = (0 until n).map { i =>
        val sOpt = seas.get(slotOf(i))
        ("g", periods(i), ys(i), trend(i), sOpt,
          for { t <- trend(i); s <- sOpt } yield ys(i) - t - s)
      }
      val gotR = Analytics.seasonalDecompose(
          periods.zip(ys).map { case (p, y) => ("g", p, y / 1000000L) }
            .toDF("g0", "p0", "y0"),
          "g0", col("p0"), col("y0"), m = m)
        .orderBy("p")
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
        .collect().toSeq
      assert(gotR === expect, s"trial $trial m=$m periods=$periods")
    }
  }

  test("mannKendall equals the brute pairwise statistic with tie correction") {
    (1 to 5).foreach { trial =>
      val nP = 2 + rnd.nextInt(15)
      val periods = rnd.shuffle((1 to 40).toList).take(nP).sorted
      // Duplicate-heavy values exercise the tie correction; multiple raw
      // rows per period exercise the per-(g, p) collapse.
      val rows = periods.flatMap(p =>
        Seq.fill(1 + rnd.nextInt(2))((p.toLong, rnd.nextInt(6).toLong - 2L)))
      val df = rows.map { case (p, y) => ("grp", p, y) }
        .toDF("g0", "p0", "y0")
      val series = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1).map(_._2)
      val n = series.size
      var sStat = 0L
      for (i <- 0 until n; j <- i + 1 until n)
        sStat += java.lang.Long.signum(series(j) - series(i))
      val tie18 = series.groupBy(identity).values
        .map(v => v.size.toLong).map(t => t * (t - 1) * (2 * t + 5)).sum
      val var18 = n.toLong * (n - 1) * (2L * n + 5) - tie18
      val z: Option[Double] =
        if (var18 <= 0) None
        else if (sStat == 0) Some(0.0)
        else Some(math.floor(
          ((sStat - (if (sStat > 0) 1L else -1L)).toDouble /
            math.sqrt(var18 / 18.0)) * 1e6 + 0.5) / 1e6 + 0.0)
      val got = Analytics.mannKendall(df, "g0", col("p0"), col("y0"))
        .as[(String, Long, Long, Long, Option[Double])].head()
      assert(got === (("grp", n.toLong, sStat, var18, z)),
        s"trial $trial series=$series")
    }
  }

  test("conformalHoltForecast equals the brute split-conformal fold") {
    def md(x: BigInt): Long =
      ((if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs / 1000000)).toLong
    def holt(ys: Seq[Long], a: Long, b: Long): (BigInt, BigInt) = {
      var l = BigInt(ys(0)) * 1000000
      var bt = BigInt(ys(1) - ys(0)) * 1000000
      ys.drop(2).foreach { y =>
        val nl = md(a * BigInt(y) * 1000000 + (1000000L - a) * (l + bt))
        val nb = md(b * (BigInt(nl) - l) + (1000000L - b) * bt)
        l = nl; bt = nb
      }
      (l, bt)
    }
    (1 to 5).foreach { trial =>
      val a = rnd.nextInt(1000001).toLong
      val b = rnd.nextInt(1000001).toLong
      // α = 0.1 needs calN >= 9 for a finite radius (k = ⌈(calN+1)·0.9⌉
      // <= calN ⇔ calN >= 9) — the degenerate branch is pinned below.
      val calN = 9 + rnd.nextInt(4)
      val n = calN + 2 + rnd.nextInt(8)
      val series = Vector.fill(n)(rnd.nextInt(2000).toLong - 500)
      val df = series.zipWithIndex
        .map { case (y, i) => ("grp", (i + 1).toLong, y) }
        .toDF("g0", "p0", "y0")
      val (lp, bp) = holt(series.take(n - calN), a, b)
      val resid = (1 to calN).map(j =>
        (BigInt(series(n - calN + j - 1)) * 1000000 - (lp + j * bp)).abs)
      val k = (((calN + 1) * 900000L) + 999999L) / 1000000L
      val radius = resid.sorted.apply(k.toInt - 1).toLong
      val (lf, bf) = holt(series, a, b)
      val want = (1 to 3).map { h =>
        val fc = lf.toLong + h * bf.toLong
        ("grp", n.toLong, h.toLong, fc, radius, fc - radius, fc + radius)
      }
      val got = Analytics.conformalHoltForecast(df, "g0", col("p0"),
          col("y0"), alphaMicro = a, betaMicro = b, calN = calN,
          horizon = 3, confAlphaMicro = 100000L)
        .orderBy(col("g"), col("h"))
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      assert(got.toSeq === want,
        s"trial $trial a=$a b=$b calN=$calN series=$series")
    }
    // k > n_cal: the interval is infinite — radius and bounds are NULL.
    val tiny = Seq(("g", 1L, 5L), ("g", 2L, 7L), ("g", 3L, 6L))
      .toDF("g0", "p0", "y0")
    val deg = Analytics.conformalHoltForecast(tiny, "g0", col("p0"),
        col("y0"), calN = 1, horizon = 1, confAlphaMicro = 100000L)
      .select("radius_micro", "lo_micro", "hi_micro")
      .as[(Option[Long], Option[Long], Option[Long])].collect()
    assert(deg.toSeq === Seq((None, None, None)))
  }

  test("conformalHoltForecast holds nominal coverage on held-out horizons") {
    // 150 trending-noise series; the operator sees all but the last 3
    // periods and forecasts them; the 90%-nominal interval must cover
    // the held-out truth at ≥ 85% across the 450 (group, h) cells (the
    // calibration residuals span horizons 1..12 while the audit uses
    // 1..3, so the mixed-horizon radius leans conservative).
    val groups = (1 to 150).map { g =>
      val base = 50 + rnd.nextInt(100)
      val slope = rnd.nextInt(11) - 5
      val ys = (1 to 30).map(t =>
        (base + slope * t + rnd.nextInt(41) - 20).toLong)
      g.toLong -> ys
    }
    val df = groups.flatMap { case (g, ys) =>
      ys.take(27).zipWithIndex.map { case (y, i) =>
        (g, (i + 1).toLong, y) }
    }.toDF("g0", "p0", "y0")
    val got = Analytics.conformalHoltForecast(df, "g0", col("p0"),
        col("y0"), calN = 12, horizon = 3, confAlphaMicro = 100000L)
      .select("g", "h", "lo_micro", "hi_micro")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 450)
    val truth = groups.toMap
    val covered = got.count { case (g, h, lo, hi) =>
      val y = truth(g)((27 + h - 1).toInt) * 1000000L
      lo <= y && y <= hi
    }
    val cov = covered.toDouble / got.length
    assert(cov >= 0.85, s"held-out coverage $cov below 0.85 (450 cells)")
  }

  test("alsRank1 equals a sequential BigInt fold on random rating matrices") {
    def fdB(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b
      if (r.signum != 0 && r.signum != b.signum) q - 1 else q
    }
    val sc = BigInt(1000000000000L)
    (1 to 5).foreach { trial =>
      val nu = 6 + rnd.nextInt(6)
      val ni = 3 + rnd.nextInt(3)
      val iters = 2 + rnd.nextInt(3)
      val ratings = for {
        i <- 0 until nu; j <- 0 until ni if rnd.nextInt(3) > 0
      } yield (s"u$i", s"j$j", (1L + rnd.nextInt(50)))
      if (ratings.nonEmpty) {
        val cells = ratings.groupBy(t => (t._1, t._2)).toSeq
          .map { case ((i, j), g) => (i, j, g.map(_._3).sum) }
        val itemsD = cells.map(_._2).distinct.sorted
        var v = itemsD.map(_ -> BigInt(1000000)).toMap
        var u = Map.empty[String, BigInt]
        for (_ <- 1 to iters) {
          u = cells.groupBy(_._1).map { case (i, g) =>
            i -> fdB(g.map(t => BigInt(t._3) * v(t._2)).sum * sc,
              g.map(t => v(t._2) * v(t._2)).sum)
          }
          v = cells.groupBy(_._2).map { case (j, g) =>
            j -> fdB(g.map(t => BigInt(t._3) * u(t._1)).sum * sc,
              g.map(t => u(t._1) * u(t._1)).sum)
          }
        }
        val got = Ranking.alsRank1(ratings.toDF("i", "j", "r"),
            col("i"), col("j"), col("r"), iters, topUsers = nu)
          .as[(String, String, Long, Long, Long)].collect()
        got.foreach { case (kind, e, f, _, _) =>
          val exp = if (kind == "item") v(e) else u(e)
          assert(BigInt(f) === exp, s"trial $trial $kind $e") }
        assert(got.count(_._1 == "item") === itemsD.size)
      }
    }
  }

  test("hstOutliers equals a sequential tree build on random point sets") {
    (1 to 5).foreach { trial =>
      val n = 20 + rnd.nextInt(40)
      val depth = 3 + rnd.nextInt(4)
      val pts = Vector.tabulate(n)(i =>
        (i.toLong, rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 2 - 1))
      // Sequential: the same micro quantization, midpoint floor splits,
      // dimension rotation (level+tree) % 2, and leaf-mass score.
      val q = pts.map { case (id, x, y) =>
        (id, Array(math.floor(x * 1e6).toLong, math.floor(y * 1e6).toLong))
      }
      val massSum = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for (tree <- 0 until 2) {
        var nodes: Map[Long, Long] = q.map(_._1 -> 0L).toMap
        for (level <- 0 until depth) {
          val dim = (level + tree) % 2
          val byNode = q.groupBy(p => nodes(p._1))
          val mids = byNode.map { case (nd, g) =>
            val vs = g.map(_._2(dim))
            nd -> Math.floorDiv(vs.min + vs.max, 2L)
          }
          nodes = q.map { p =>
            val nd = nodes(p._1)
            p._1 -> (nd * 2 + (if (p._2(dim) > mids(nd)) 1L else 0L))
          }.toMap
        }
        val mass = nodes.values.groupBy(identity).map { case (k, g) =>
          k -> g.size.toLong }
        q.foreach(p => massSum(p._1) += mass(nodes(p._1)))
      }
      val exp = pts.map(p => (p._1, massSum(p._1)))
        .sortBy(t => (t._2, t._1))
      val got = Similarity.hstOutliers(pts.toDF("id", "x", "y"), "id",
          Seq(col("x"), col("y")), depth = depth, topN = n)
        .as[(Long, Long)].collect().toVector
      assert(got === exp, s"trial $trial n=$n depth=$depth")
    }
  }

  test("dbscanGrid equals a sequential DBSCAN on random point sets") {
    // eps = 5/32 and a 1/32 lattice are exact in binary: lattice points
    // at multiples of 5 steps sit on cell boundaries, and lattice points
    // 5 steps apart on an axis, or (3, 4) steps apart, are exactly eps
    // apart. Each set plants an isolated trio at (-30, -30) steps whose
    // corner has both others exactly eps away, so at minPts 2 and 3 the
    // census depends on `<=`; the rest are random, half on the lattice,
    // with coordinates of both signs.
    val eps = 156250L
    (1 to 3).foreach { trial =>
      val n = 30 + rnd.nextInt(31)
      val minPts = 2 + trial % 3
      def lattice() = (rnd.nextInt(17) - 8) / 32.0
      val ids = rnd.shuffle((0L until 1000L).toVector).take(n)
      val trio = Seq((-30, -30), (-25, -30), (-27, -26))
      val pts = ids.zip(trio).map { case (id, (x, y)) =>
          (id, x / 32.0, y / 32.0) } ++
        ids.drop(trio.size).map { id =>
          if (rnd.nextBoolean()) (id, lattice(), lattice())
          else (id, rnd.nextDouble() - 0.5, rnd.nextDouble() - 0.5)
        }
      // Sequential: the same micro quantization, eps test and labels.
      val exp = SequentialDbscan.census(pts.map { case (id, x, y) =>
        (id, math.floor(x * 1e6).toLong, math.floor(y * 1e6).toLong) },
        eps, minPts)
      val got = Similarity.dbscanGrid(pts.toDF("id", "x", "y"), "id",
          col("x"), col("y"), eps, minPts)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got === exp, s"trial $trial n=$n minPts=$minPts")
    }
  }

  test("coxFit with two covariates equals a sequential 2x2 Newton fold") {
    def fd(a: BigInt, b: BigInt): BigInt = {
      val (q, r) = a /% b
      if (r.signum != 0 && r.signum != b.signum) q - 1 else q
    }
    (1 to 4).foreach { trial =>
      val n = 25 + rnd.nextInt(40)
      val data = Vector.fill(n)((1L + rnd.nextInt(10), rnd.nextInt(4) != 0,
        rnd.nextInt(5).toLong, rnd.nextInt(3).toLong))
      val iters = 4
      // Sequential reimplementation of the exact fixed-point fold, with
      // the 2x2 Newton step solved by Cramer's rule.
      var b1 = BigInt(0); var b2 = BigInt(0)
      var lastU1 = BigInt(0); var lastU2 = BigInt(0)
      for (_ <- 1 to iters) {
        val byT = data.groupBy(_._1).toSeq.sortBy(-_._1).map {
          case (_, rows) =>
            val wq = rows.map { case (_, _, x1, x2) =>
              val z = math.min(math.max(
                (b1.toLong * x1 + b2.toLong * x2) / 1e6, -20), 20)
              (BigInt(math.floor(math.exp(z) * 1048576 + 0.5).toLong), x1, x2)
            }
            def sw(f: (Long, Long) => Long) =
              wq.map { case (w, x1, x2) => w * f(x1, x2) }.sum
            val ev = rows.filter(_._2)
            (sw((_, _) => 1L), sw((x1, _) => x1), sw((_, x2) => x2),
              sw((x1, _) => x1 * x1), sw((x1, x2) => x1 * x2),
              sw((_, x2) => x2 * x2), BigInt(ev.size),
              BigInt(ev.map(_._3).sum), BigInt(ev.map(_._4).sum))
        }
        var s0 = BigInt(0); var s1 = BigInt(0); var s2 = BigInt(0)
        var s11 = BigInt(0); var s12 = BigInt(0); var s22 = BigInt(0)
        var u1 = BigInt(0); var u2 = BigInt(0)
        var i11 = BigInt(0); var i12 = BigInt(0); var i22 = BigInt(0)
        byT.foreach { case (sw, sw1, sw2, sw11, sw12, sw22, d, dx1, dx2) =>
          s0 += sw; s1 += sw1; s2 += sw2; s11 += sw11; s12 += sw12
          s22 += sw22
          if (d > 0) {
            val (q1, q2) = (fd(s1 * 1000000, s0), fd(s2 * 1000000, s0))
            u1 += dx1 * 1000000 - d * q1
            u2 += dx2 * 1000000 - d * q2
            i11 += d * (fd(s11 * 1000000, s0) - fd(q1 * q1, 1000000))
            i12 += d * (fd(s12 * 1000000, s0) - fd(q1 * q2, 1000000))
            i22 += d * (fd(s22 * 1000000, s0) - fd(q2 * q2, 1000000))
          }
        }
        lastU1 = u1; lastU2 = u2
        val det = i11 * i22 - i12 * i12
        if (det > 0) {
          b1 += fd((i22 * u1 - i12 * u2) * 1000000, det)
          b2 += fd((i11 * u2 - i12 * u1) * 1000000, det)
        }
      }
      val got = Analytics.coxFit(data.toDF("dur", "ev", "x1", "x2"),
          col("dur"), col("ev"), Seq("1" -> col("x1"), "2" -> col("x2")),
          iters)
        .as[(String, Long)].collect().toMap
      assert(got === Map("beta1_micro" -> b1.toLong,
        "beta2_micro" -> b2.toLong, "n_events" -> data.count(_._2).toLong,
        "n_subjects" -> n.toLong, "score1_residual_micro" -> lastU1.toLong,
        "score2_residual_micro" -> lastU2.toLong), s"trial $trial data=$data")
    }
  }
}
