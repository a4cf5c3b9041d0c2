package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("IVF-bucketed near-dup pairs are a subset of the brute-force pairs") {
    val e = Tables.embeddings(spark, sf)
    val brute = Dedup.cosinePairs(e, "vec_id", "embedding", 0.3)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    val ivf = Dedup.cosinePairsIvf(e, e.filter($"vec_id" < 8),
        "vec_id", "embedding", 0.3)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty)
    assert(ivf.subsetOf(brute), "bucketing must never invent pairs")
  }

  test("IVF-bucketed near-dup is deterministic across runs") {
    val e = Tables.embeddings(spark, sf)
    def run() = Dedup.cosinePairsIvf(e, e.filter($"vec_id" < 8),
        "vec_id", "embedding", 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(run() === run())
  }

  test("cosineAdmit with nprobe = K equals brute-force admission decisions") {
    // The buckets partition the reference, so probing all K of them
    // checks every reference vector — the exactness half of the IVF
    // admission contract (q440's configuration).
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter($"vec_id" < 8)
    val ref = e.filter($"vec_id" < 250)
    val incoming = e.filter($"vec_id" >= 250)
    val got = Dedup.cosineAdmit(incoming, "embedding",
        Dedup.cosineIndex(ref, seeds, "vec_id", "embedding"),
        seeds, "vec_id", "embedding", 0.4, nprobe = 8)
      .select($"vec_id", $"admitted").as[(Long, Boolean)].collect().toMap
    val brute = incoming.select($"vec_id", $"embedding".as("qe"))
      .join(ref.select($"vec_id".as("rid"), $"embedding".as("re")),
        graft.functions.TextFunctions.cosine($"qe", $"re") >= 0.4, "left")
      .groupBy($"vec_id").agg((count($"rid") === 0).as("admitted"))
      .as[(Long, Boolean)].collect().toMap
    assert(got === brute)
    // Both decision classes genuinely occur on the fixture.
    assert(brute.values.exists(identity) && brute.values.exists(!_))
  }

  test("cosineAdmit rejections are one-sided at any nprobe") {
    // An under-probed query can MISS a true neighbor (and wrongly admit
    // a near-dup) but a probed neighbor always rejects — so the rejected
    // set at nprobe = 1 must be a subset of the exact rejected set, and
    // row count/identity must be preserved.
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter($"vec_id" < 8)
    val ref = e.filter($"vec_id" < 250)
    val incoming = e.filter($"vec_id" >= 250)
    val idx = Dedup.cosineIndex(ref, seeds, "vec_id", "embedding")
      .localCheckpoint()
    def rejected(np: Int): Set[Long] = Dedup.cosineAdmit(incoming,
        "embedding", idx, seeds, "vec_id", "embedding", 0.4, np)
      .filter(!$"admitted").select($"vec_id").as[Long].collect().toSet
    val approx = rejected(1)
    val exact = rejected(8)
    assert(approx.subsetOf(exact),
      "a non-probed bucket can only ever flip reject -> admit")
    val total = Dedup.cosineAdmit(incoming, "embedding", idx, seeds,
      "vec_id", "embedding", 0.4, 1).count()
    assert(total === incoming.count(), "probe joins must stay 1:<=1")
  }

  test("hammingPairs equals the brute-force Hamming relation on random hashes") {
    // 8 bands x 7 bits over 56-bit hashes, radius 7 — the pigeonhole
    // guarantee (<= 7 differing bits cannot touch all 8 bands) makes the
    // banded join EXACT, so its output must equal all-pairs.
    val rnd = new scala.util.Random(46)
    // Half the hashes are small perturbations of shared bases so the
    // <= 7 ball is well-populated; half are uniform noise.
    val bases = Vector.fill(6)(rnd.nextLong() & ((1L << 56) - 1))
    val hashes = (0 until 60).map { i =>
      val h =
        if (i % 2 == 0) {
          var x = bases(i % bases.size)
          (0 until rnd.nextInt(9)).foreach(_ => x ^= 1L << rnd.nextInt(56))
          x
        } else rnd.nextLong() & ((1L << 56) - 1)
      (i.toLong, h)
    }
    val want = (for {
      (d1, h1) <- hashes; (d2, h2) <- hashes
      if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 7
    } yield (d1, d2, java.lang.Long.bitCount(h1 ^ h2).toLong)).toSet
    val got = Dedup.hammingPairs(hashes.toDF("doc_id", "dhash"),
        "doc_id", "dhash", bands = 8, bandBits = 7, maxHamming = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture must populate the Hamming ball")
    assert(got === want)
    // A pair matching in several bands must still appear exactly once —
    // covered by the set equality above, but pin the row count too.
    val gotRows = Dedup.hammingPairs(hashes.toDF("doc_id", "dhash"),
        "doc_id", "dhash", bands = 8, bandBits = 7, maxHamming = 7).count()
    assert(gotRows === want.size.toLong)
  }

  test("itemContainmentPairs equals brute distinct-set containment") {
    // Keys with overlapping item sets, duplicates inside a key (must
    // collapse before counting), and a disjoint key (no pair emitted).
    val rows = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 12L), // A = {10,11,12}
      (2L, 11L), (2L, 12L), (2L, 13L), (2L, 14L), // B = {11,12,13,14}
      (3L, 10L), (3L, 11L), (3L, 12L),            // C = A
      (4L, 99L))                                  // D disjoint
      .toDF("k0", "i0")
    val sets = Map(1L -> Set(10L, 11L, 12L), 2L -> Set(11L, 12L, 13L, 14L),
      3L -> Set(10L, 11L, 12L), 4L -> Set(99L))
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size if inter > 0
    } yield (a, b, inter.toLong,
      inter * 1000000L / math.min(sets(a).size, sets(b).size))).toSet
    val got = Dedup.itemContainmentPairs(rows, "k0", "i0")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.contains((1L, 3L, 3L, 1000000L)), "identical sets contain fully")
  }

  test("dedupClusters closes chains transitively and labels by minimum id") {
    // Two clusters: {1,2,3,4} connected only as a chain 1-2, 2-3, 3-4
    // (so transitive closure is required), and {7,9}. Node 5 has no pair
    // and must not appear.
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (9L, 7L))
      .toDF("d1", "d2")
    val got = Dedup.dedupClusters(pairs, "d1", "d2")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L))
  }

  test("dropDuplicatesTransitive keeps one representative per cluster and all unpaired docs") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("doc_id", "text")
    // cluster {1,2,3} via chain; 4 and 5 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val kept = Dedup.dropDuplicatesTransitive(docs, "doc_id", pairs, "d1", "d2")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L, 5L))
  }

  test("dupMatrix counts unordered group pairs, folding both orientations") {
    val dims = Seq((1L, "s1"), (2L, "s2"), (3L, "s2"), (4L, "s1"))
      .toDF("id", "src")
    // (1,2) s1-s2; (3,1) s2-s1 folds into the same cell; (4,1) s1-s1
    val pairs = Seq((1L, 2L), (3L, 1L), (4L, 1L)).toDF("a", "b")
    val got = Dedup.dupMatrix(pairs, "a", "b", dims, "id", "src")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(("s1", "s2", 2L), ("s1", "s1", 1L)))
  }

  test("dedupClusters handles a long path needing several propagation rounds") {
    // A 12-node path: min-label propagation needs O(diameter) iterations,
    // so this exercises the driver loop beyond a single round.
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = Dedup.dedupClusters(pairs, "d1", "d2")
      .as[(Long, Long)].collect().toMap
    assert(got === (1L to 12L).map(_ -> 1L).toMap)
  }

  test("dedupClusters pointer doubling closes a 400-hop chain within 15 rounds") {
    // Plain hash-to-min needs O(diameter) = ~400 rounds here; the
    // round-3+ label-of-label shortcut squares the reach each round, so
    // maxIters = 15 only converges if the doubling is in effect.
    val pairs = (1L until 400L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = Dedup.dedupClusters(pairs, "d1", "d2", maxIters = 15)
      .as[(Long, Long)].collect().toMap
    assert(got === (1L to 400L).map(_ -> 1L).toMap)
  }

  test("dedupClusters on an empty pair list stops after one round, empty") {
    // The round's observed change count is over zero rows: it must read
    // as 0 and stop the loop, not wait or trip the guard.
    val got = Dedup.dedupClusters(Seq.empty[(Long, Long)].toDF("d1", "d2"),
      "d1", "d2", maxIters = 1)
    assert(got.columns.toSeq === Seq("doc_id", "cluster_id"))
    assert(got.collect().isEmpty)
  }

  test("dedupKeepBest elects the highest-score member, ties to the lowest id") {
    val docs = Seq(
      (1L, "a", 5L), (2L, "b", 9L), (3L, "c", 9L),  // cluster {1,2,3}: 2 and 3 tie on score -> 2
      (7L, "d", 1L), (9L, "e", 4L))                  // cluster {7,9}: 9 wins on score
      .toDF("doc_id", "text", "len")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("d1", "d2")
    val got = Dedup.dedupKeepBest(docs, "doc_id", "len", pairs, "d1", "d2")
      .orderBy("cluster_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 3L, 2L, 9L), (7L, 2L, 9L, 4L)))
  }

  test("dedupClusters refuses to spin past maxIters on pathological chains") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupClusters(pairs, "d1", "d2", maxIters = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("winnowOverlapPairs finds shared passages and maxDocFreq drops boilerplate") {
    // 1 and 2 share a long passage (>= k+w-1 = 6 tokens guarantees shared
    // fingerprints); 3 is unrelated. A boilerplate footer on ALL docs would
    // link everything — maxDocFreq must cut those fps out.
    val footer = "copyright footer boilerplate terms apply here"
    val docs = Seq(
      (1L, s"alpha beta the quick brown fox jumps over lazy dog gamma $footer"),
      (2L, s"delta epsilon the quick brown fox jumps over lazy dog zeta $footer"),
      (3L, s"totally unrelated content about database engines and queries $footer"))
      .toDF("doc_id", "text")

    val all = Dedup.winnowOverlapPairs(docs, "doc_id", "text", minShared = 1)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(all.contains((1L, 2L)))

    val filtered = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
        minShared = 1, maxDocFreq = 2)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(filtered === Set((1L, 2L)), "footer fps (df=3) must be dropped")

    // Ordering invariant: d1 < d2 always.
    val rows = Dedup.winnowOverlapPairs(docs, "doc_id", "text", minShared = 1)
      .as[(Long, Long, Long)].collect()
    assert(rows.forall(r => r._1 < r._2))
  }

  test("incremental near-dup equals full pairs restricted to the increment") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty)
    // Split at the id midpoint; run the refresh BOTH ways. Each direction
    // must yield exactly the full pairs touching its increment, and the
    // two directions together must cover every cross-boundary pair.
    val mid = 25L
    def run(base: org.apache.spark.sql.DataFrame,
        inc: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalNearDupPairs(base, inc, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
    val hi = run(docs.filter($"doc_id" < mid), docs.filter($"doc_id" >= mid))
    val lo = run(docs.filter($"doc_id" >= mid), docs.filter($"doc_id" < mid))
    assert(hi === full.filter(p => p._1 >= mid || p._2 >= mid))
    assert(lo === full.filter(p => p._1 < mid || p._2 < mid))
    assert((hi ++ lo) === full)
  }

  test("dedupClustersIncrement folds appended pairs into labels bit-identically") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val full = Dedup.dedupClusters(
        Dedup.minhashLshPairs(docs, "doc_id", "text"), "d1", "d2")
      .as[(Long, Long)].collect().toSet
    def labelsVia(splits: Seq[Long]): Set[(Long, Long)] = {
      // Chain increments at each split boundary: base < s0, then each
      // [s_i, s_i+1) batch probes the carried band index and folds its
      // new pairs into the carried labels.
      val bounds = splits :+ Long.MaxValue
      var labels = Dedup.dedupClusters(
        Dedup.minhashLshPairs(docs.filter($"doc_id" < splits.head),
          "doc_id", "text"), "d1", "d2")
      for (i <- splits.indices) {
        val lo = bounds(i); val hi = bounds(i + 1)
        val corpusSoFar = docs.filter($"doc_id" < hi)
        val delta = docs.filter($"doc_id" >= lo && $"doc_id" < hi)
        val newPairs = Dedup.minhashLshPairsIncrement(
          Dedup.lshBandIndex(docs.filter($"doc_id" < lo), "doc_id", "text"),
          corpusSoFar, delta, "doc_id", "text")
        labels = Dedup.dedupClustersIncrement(labels, newPairs, "d1", "d2")
      }
      labels.as[(Long, Long)].collect().toSet
    }
    // One append and a chained two-append cadence both equal the full
    // recompute (labels, membership, and min-id cluster naming).
    assert(labelsVia(Seq(25L)) === full)
    assert(labelsVia(Seq(20L, 35L)) === full)
    // An empty pair batch is the identity.
    val base = Dedup.dedupClusters(
      Dedup.minhashLshPairs(docs, "doc_id", "text"), "d1", "d2")
    val same = Dedup.dedupClustersIncrement(base,
      Seq.empty[(Long, Long, Double)].toDF("d1", "d2", "jaccard"),
      "d1", "d2")
    assert(same.as[(Long, Long)].collect().toSet === full)
  }

  test("dedupClustersDelete relabels touched clusters and drops orphans") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val bandIndex = Dedup.lshBandIndex(docs, "doc_id", "text")
    val fullLabels = Dedup.dedupClusters(
      Dedup.minhashLshPairs(docs, "doc_id", "text"), "d1", "d2")
    def labelsOn(pred: org.apache.spark.sql.Column): Set[(Long, Long)] =
      Dedup.dedupClusters(
          Dedup.minhashLshPairs(docs.filter(pred), "doc_id", "text"),
          "d1", "d2")
        .as[(Long, Long)].collect().toSet
    // Delete the id tail: surviving labels equal the from-scratch
    // clustering of the survivors (splits, relabels, orphan drops).
    val afterTail = Dedup.dedupClustersDelete(fullLabels, bandIndex,
        docs, docs.filter($"doc_id" >= 25).select($"doc_id"),
        "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(afterTail === labelsOn($"doc_id" < 25))
    // Delete each full cluster's MINIMUM member: every touched cluster
    // must relabel (or dissolve), again equal to the full recompute.
    val mins = fullLabels.groupBy($"cluster_id")
      .agg(org.apache.spark.sql.functions.min($"doc_id").as("doc_id"))
      .select($"doc_id").as[Long].collect().toSet
    val afterMins = Dedup.dedupClustersDelete(fullLabels, bandIndex,
        docs, mins.toSeq.toDF("doc_id"), "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(afterMins === labelsOn(!$"doc_id".isin(mins.toSeq: _*)))
    // Never-paired / unknown ids are harmless no-ops on the labeling.
    val full = fullLabels.as[(Long, Long)].collect().toSet
    val noop = Dedup.dedupClustersDelete(fullLabels, bandIndex, docs,
        Seq(99999L).toDF("doc_id"), "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(noop === full)
  }

  test("containment flags subset duplication that symmetric Jaccard misses") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),
      (2L, "a b c d e f g h i j"), // strict token prefix of 1 → contained
      (3L, "z y x w v u t1 s1 r1 q1")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)))
    // grams(2) ⊂ grams(1): 8 of doc-1's 18 trigrams; fully covered doc 2.
    val r = got.head
    assert(r._4 === 1.0)
    assert(r._3 === math.rint(8.0 / 18.0 * 1e6) / 1e6)
    // Symmetric Jaccard at its own (lower!) bar never sees the pair:
    // jac = 8 / 18 ≈ 0.44 < 0.5.
    assert(Dedup.jaccardPairs(docs, "doc_id", "text").collect().isEmpty)
  }

  test("prefix-filtered Jaccard join equals the brute-force join exactly") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val brute = Dedup.jaccardPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val pref = Dedup.jaccardPairsPrefix(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty)
    assert(pref === brute)

    // Boilerplate case: a footer shared by ALL docs is each doc's most
    // frequent gram run — it must fall OUT of the prefixes (no false
    // negatives allowed either: the two near-dup docs still pair).
    val footer = "all rights reserved contact support for details"
    val synth = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta $footer"),
      (2L, s"alpha beta gamma delta epsilon zeta eta iota $footer"),
      (3L, s"one two three four five six seven eight nine ten $footer"),
      (4L, s"uno dos tres cuatro cinco seis siete ocho nueve $footer"))
      .toDF("doc_id", "text")
    val sb = Dedup.jaccardPairs(synth, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val sp = Dedup.jaccardPairsPrefix(synth, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(sp === sb)
    assert(sp.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("editDistancePairs matches brute force incl. insertions and deletions") {
    val rows = Seq(
      (1L, "http://ex.com/alpha"), (2L, "http://ex.com/alphas"), // insertion
      (3L, "http://ex.com/alpka"), // substitution vs 1, dist 2 vs 2
      (4L, "http://ex.com/beta"), (5L, "http://ex.com/bXta"),
      (6L, "http://ex.com/bet"), // deletion vs 4
      (7L, "http://ex.com/gamma-delta"),
      (8L, "http://ex.com/")).toDF("id", "s")
    def brute(d: Int) = rows.as("a").join(rows.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        levenshtein($"a.s", $"b.s").cast("long").as("dist"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= d).toSet
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(rows, "id", "s", maxDist = d)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === brute(d), s"maxDist=$d")
      assert(got.nonEmpty, s"maxDist=$d")
    }
  }

  test("editDistancePairs strips the corpus-common prefix and stays exact") {
    // Zero-padded sequential keys: the whole corpus shares "Customer#000";
    // without the LCP strip, segment 0 is one constant blocking key.
    val rows = (1 to 80).map(i => (i.toLong, f"Customer#$i%09d"))
      .toDF("id", "s")
    val got = Dedup.editDistancePairs(rows, "id", "s", maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    val brute = rows.as("a").join(rows.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        levenshtein($"a.s", $"b.s").cast("long").as("dist"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 1).toSet
    assert(got === brute)
    // Single-digit substitutions must surface: …001 vs …002, …070 vs …080.
    assert(got.contains((1L, 2L, 1L)) && got.contains((70L, 80L, 1L)))
  }

  test("editDistancePairs long-core (id-join) path matches brute force") {
    // Cores well past InlineVerifyMaxAvgCore force the id-keyed verify
    // plan; the short fixtures above exercise the inline plan — this pins
    // the two paths to the same contract.
    // The variation sits up front so the corpus LCP is ~0 and the long
    // constant tail keeps the average core length past the threshold.
    val pad = "x" * 70
    val rows = Seq(
      (1L, s"alpha-omega-$pad"), (2L, s"alpha-omegas-$pad"),
      (3L, s"alpha-omeka-$pad"), (4L, s"beta-gamma-$pad"),
      (5L, s"bXta-gamma-$pad"), (6L, s"entirely-different-entry-$pad"))
      .toDF("id", "s")
    val brute = rows.as("a").join(rows.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        levenshtein($"a.s", $"b.s").cast("long").as("dist"))
      .as[(Long, Long, Long)].collect().filter(_._3 <= 1).toSet
    val got = Dedup.editDistancePairs(rows, "id", "s", maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("removeBoilerplateTiles drops repeated tiles, keeps unique prose in order") {
    // 2-word tiles; "shared header text here" is the boilerplate prefix on
    // docs 1 and 2; each doc's tail is unique. Doc 3 is untouched prose.
    val docs = Seq(
      (1L, "shared header text here unique alpha body one"),
      (2L, "shared header text here unique beta body two"),
      (3L, "completely different words never repeated anywhere at all"))
      .toDF("doc_id", "text")
    val got = Dedup.removeBoilerplateTiles(docs, "doc_id", "text",
        tileWords = 2, maxOccurrences = 1)
      .select("doc_id", "n_tiles", "n_kept", "clean_text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) === ((1L, 4L, 2L, "unique alpha body one")))
    assert(got(1) === ((2L, 4L, 2L, "unique beta body two")))
    assert(got(2) === ((3L, 4L, 4L,
      "completely different words never repeated anywhere at all")))
    // A doc that is ALL boilerplate rewrites to the empty string, not null.
    val twin = Seq((1L, "same text"), (2L, "same text")).toDF("doc_id", "text")
    val wiped = Dedup.removeBoilerplateTiles(twin, "doc_id", "text", 2, 1)
      .select("doc_id", "n_tiles", "n_kept", "clean_text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(wiped.forall(r => r._3 === 0L && r._4 === ""))
    // The corpus side never shuffles OR joins: the hot set ships inside
    // the codegen'd KeepCoolTiles kernel, so the rewrite stage is pure
    // map-side work over the input relation.
    val plan = Dedup.removeBoilerplateTiles(docs, "doc_id", "text", 2, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"rewrite stage must be join- and shuffle-free:\n$plan")
  }

  test("lshMissReport is the exact set algebra of the two pair lists") {
    val docs = graft.Tables.documents(spark, sf).select($"doc_id", $"text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val exact = pairs(Dedup.jaccardPairsPrefix(docs, "doc_id", "text"))
    val lsh = pairs(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    val Array(row) = Dedup.lshMissReport(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
    assert(row === ((exact.size.toLong, lsh.size.toLong,
      (exact -- lsh).size.toLong, (lsh -- exact).size.toLong)))
    // the verify stage admits only true pairs — spurious finds impossible
    assert((lsh -- exact).isEmpty)
    assert(exact.nonEmpty, "fixture must exercise the report with real pairs")
  }

  test("blockingQuality: exact pair algebra for reduction and completeness") {
    // 4 docs: ids 1,2 duplicates in the same block; 3,4 duplicates in
    // DIFFERENT blocks (missed); total pairs C(4,2)=6.
    val docs = Seq(
      (1L, "same text", "a"), (2L, "same text", "a"),
      (3L, "other txt", "a"), (4L, "other txt", "b"))
      .toDF("doc_id", "text", "blk")
    val got = Dedup.blockingQuality(docs, "doc_id", "text", col("blk"))
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    // blocks: a={1,2,3} -> 3 candidate pairs, b={4} -> 0.
    // truth: 2 pairs; found in-block: only (1,2).
    assert(got === ((4L, 2L, 3L, 1L, 500000L, Some(500000L))))
    // No duplicates at all -> completeness null, not divide-by-zero.
    val clean = Seq((1L, "x", "a"), (2L, "y", "a")).toDF("doc_id", "text", "blk")
    val c = Dedup.blockingQuality(clean, "doc_id", "text", col("blk"))
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    assert(c._2 === 0L && c._6 === None)
  }
  test("sortedNeighborhoodReport finds adjacent-rank pairs and measures its misses") {
    // abc/abd/abe are mutual dist-1 neighbors and rank-adjacent; zzz is
    // far in rank from zza but dist 1 — a window of 2 must miss pairs a
    // wider window catches.
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "abe"), (4L, "mmm"),
      (5L, "zza"), (6L, "zzb")).toDF("id", "s")
    val wide = Dedup.sortedNeighborhoodReport(df, "id", "s", window = 6)
      .head()
    assert(wide.getAs[Long]("n_true") === 4L)   // (1,2)(1,3)(2,3)(5,6)
    assert(wide.getAs[Long]("n_found") === 4L)
    assert(wide.getAs[Long]("completeness_micro") === 1000000L)
    val narrow = Dedup.sortedNeighborhoodReport(df, "id", "s", window = 2)
      .head()
    // adjacent ranks only: (1,2)(2,3)(5,6) found, (1,3) missed
    assert(narrow.getAs[Long]("n_found") === 3L)
    assert(narrow.getAs[Long]("completeness_micro") === 750000L)
  }

  test("dedupMedoids elects the most-central member with deterministic ties") {
    // d1 = "a b c d e f", d2 = same plus a tail, d3 = same plus a longer
    // tail: d1 shares grams with both; whichever sums highest wins and
    // ties break to the lowest id.
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h x"),
      (3L, "a b c d e f g h x y"),
      (9L, "totally different words here never repeated once more")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupMedoids(df, "doc_id", "text").collect()
    assert(got.length === 1, "only the near-dup family forms a cluster")
    val r = got.head
    assert(r.getAs[Long]("cluster_id") === 1L)
    assert(r.getAs[Long]("n_members") === 3L)
    // member 2 is between 1 and 3: maximal summed Jaccard
    assert(r.getAs[Long]("medoid_id") === 2L, s"got $r")
  }

  test("thresholdSweep counts survivors per threshold incl. empty tiers") {
    val pairs = Seq((1L, 2L, 0.95), (1L, 3L, 0.72), (4L, 5L, 0.55))
      .toDF("d1", "d2", "jaccard")
    val got = Dedup.thresholdSweep(pairs, "jaccard",
        Seq(500000L, 700000L, 900000L, 990000L))
      .orderBy($"threshold_micro")
      .as[(Long, Long, Long)].collect()
    assert(got === Array(
      (500000L, 3L, 5L),   // all pairs, docs {1,2,3,4,5}
      (700000L, 2L, 3L),   // (1,2)(1,3), docs {1,2,3}
      (900000L, 1L, 2L),   // (1,2)
      (990000L, 0L, 0L)))  // nothing reaches 0.99
  }

  test("lshBandingCurve replays the fixed-point S-curve exactly") {
    val got = Dedup.lshBandingCurve(spark,
        Seq((16, 1), (4, 4)), Seq(500000L, 800000L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    // (16, 1) at s = 0.5: band hit = s; miss^16 by floored halving
    // 1e6 -> 500000 -> ... -> 15, so candidate = 999985.
    assert(got((16L, 1L, 500000L)) === ((500000L, 999985L)))
    // monotone in similarity for every layout
    assert(got((4L, 4L, 800000L))._2 > got((4L, 4L, 500000L))._2)
    // (4,4) band hit at 0.8 = floored 0.8^4 = 409600
    assert(got((4L, 4L, 800000L))._1 === 409600L)
  }

  test("clusterSizeHistogram partitions the corpus completely") {
    import spark.implicits._
    // 7 docs: cluster {1,2,3}, cluster {4,5}, singletons 6 and 7.
    val docs = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val clusters = Dedup.dedupClusters(pairs, "d1", "d2")
    val got = Dedup.clusterSizeHistogram(docs, "doc_id", clusters)
      .orderBy(org.apache.spark.sql.functions.col("size"))
      .as[(Long, Long)].collect()
    assert(got === Array((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(got.map(r => r._1 * r._2).sum === 7L, "sizes must tile the corpus")
  }

  test("dupEvidence finds the longest contiguous shared span") {
    // Docs share the inner block "b c d e": trigrams "b c d","c d e"
    // sit on one diagonal -> run 2 -> span 4 tokens. The stray shared
    // trigram "x y z" at different offsets adds a shared gram but no
    // longer run.
    val df = Seq(
      (1L, "a b c d e f x y z"),
      (2L, "q b c d e w p x y z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("d1", "d2")
    val got = Dedup.dupEvidence(df, "doc_id", "text", pairs)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 2L, 3L, 4L)))
  }

  test("resolveEntities blocks, scores, thresholds, and clusters") {
    // Block bl1: (1,2) agree on f (600k >= tau), (1,3)/(2,3) fall short.
    // Block bl3: 5,6,7 all agree on f -> one 3-entity. 4 is a singleton
    // block and never pairs.
    val df = Seq(
      (1L, "bl1", "x", "p"), (2L, "bl1", "x", "q"), (3L, "bl1", "y", "p"),
      (4L, "bl2", "x", "p"),
      (5L, "bl3", "z", "r"), (6L, "bl3", "z", "s"), (7L, "bl3", "z", "t"))
      .toDF("id0", "blk", "f", "g")
    val got = Dedup.resolveEntities(df, "id0", col("blk"),
      Seq(("f", col("f"), 600000L), ("g", col("g"), 400000L)),
      thresholdMicro = 600000L)
      .orderBy($"entity_id").as[(Long, Long)].collect()
    assert(got === Array((1L, 2L), (5L, 3L)))
  }

  test("resolveEntities drops non-discriminative oversized blocks whole") {
    val df = (1L to 10L).map(i => (i, "big", "same"))
      .toDF("id0", "blk", "f")
    val got = Dedup.resolveEntities(df, "id0", col("blk"),
      Seq(("f", col("f"), 1000000L)), thresholdMicro = 1000000L,
      maxBlockSize = 5)
    assert(got.count() === 0L)
  }

  test("linkageWeights computes m/u from pair algebra, never enumerating") {
    // One block of 4 records; truth = {(1,2)}. Field "c": 1,2 agree (red),
    // so m=1, and red is the only in-block agreeing pair -> u=(1-1)/5=0.
    // Field "len": 1,2 DISagree -> m=0; ids {1,3,4} share len=1 ->
    // agree_blocked=C(3,2)=3 over 5 non-match pairs -> u=600000.
    val df = Seq(
      (1L, "red", 1L), (2L, "red", 2L), (3L, "blue", 1L), (4L, "green", 1L))
      .toDF("id", "c", "len")
    val pairs = Seq((1L, 2L)).toDF("d1", "d2")
    val got = Dedup.linkageWeights(df, "id", pairs, lit(0),
        Seq("c" -> col("c"), "len" -> col("len")))
      .orderBy($"field")
      .select($"field", $"m_micro", $"u_micro", $"weight_ratio_micro")
      .as[(String, Option[Long], Option[Long], Option[Long])].collect()
    assert(got === Array(
      ("c", Some(1000000L), Some(0L), Some(1000000000000L)),
      ("len", Some(0L), Some(600000L), Some(0L))))
  }

  test("dedupSpans cuts planted shared passages from later docs only") {
    // Two passages, each >= w + k - 1 = 6 tokens, so winnowing
    // guarantees a shared selected fingerprint inside each; every other
    // token is unique per doc, so no marks can appear outside them.
    val p1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val p2 = "kilo lima mike november oscar papa quebec romeo"
    val docA = s"aone atwo athree $p1 afour afive asix $p2 aseven"
    // doc B: p1 only, at token offset 2
    val docB = s"bone btwo $p1 bthree bfour bfive bsix bseven beight bnine"
    // doc C: p1 AND p2 separated by a unique 6-token gap -> two spans
    val docC = s"cone $p1 ctwo cthree cfour cfive csix cseven $p2 ceight"
    val df = Seq((1L, docA), (2L, docB), (3L, docC),
        (4L, "entirely unshared filler tokens only here nothing common"))
      .toDF("doc_id", "text")
    val spans = Dedup.dedupSpans(df, "doc_id", "text", k = 3, w = 4)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // Owner (doc 1) and the clean doc never appear.
    assert(!spans.exists(s => s._1 == 1L || s._1 == 4L), spans.toString)
    // Doc B: at least one span, all inside p1's token range [2, 11].
    val b = spans.filter(_._1 == 2L)
    assert(b.nonEmpty, "winnowing guarantee: the 10-token copy must mark")
    assert(b.forall(s => s._2 >= 2L && s._3 <= 11L), b.toString)
    // Doc C: spans in p1's range [1, 10] and p2's range [17, 24] — and
    // never bridging the unique 6-token gap between them.
    val c = spans.filter(_._1 == 3L)
    assert(c.nonEmpty)
    assert(c.forall(s => (s._2 >= 1L && s._3 <= 10L) ||
      (s._2 >= 17L && s._3 <= 24L)), c.toString)
    assert(c.exists(_._3 <= 10L) && c.exists(_._2 >= 17L),
      s"both passages must be cut: $c")
    // n_tokens is the merged width.
    assert(spans.forall(s => s._4 == s._3 - s._2 + 1))
    // maxDocFreq drops boilerplate fps before ownership: with the cap at
    // 1 every fp shared by >= 2 docs is gone, so nothing is cut.
    val capped = Dedup.dedupSpans(df, "doc_id", "text", k = 3, w = 4,
      maxDocFreq = 1)
    assert(capped.isEmpty, "capped fingerprints must not mark spans")

    // applySpanCuts emits the deduped corpus: exactly the span tokens
    // are gone, untouched docs pass through byte-identical.
    val cut = Dedup.applySpanCuts(df,
        Dedup.dedupSpans(df, "doc_id", "text", k = 3, w = 4),
        "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(cut.map(_._1) === Seq(1L, 2L, 3L, 4L))
    val byDoc = cut.map(r => r._1 -> r).toMap
    assert(byDoc(1L)._4 === docA && byDoc(1L)._3 === 0L,
      "the owner doc must pass through intact")
    assert(byDoc(4L)._4 === df.filter($"doc_id" === 4L)
      .head().getString(1) && byDoc(4L)._3 === 0L)
    // Cut docs: clean_text = tokens minus the reported spans, exactly.
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val toks = byDoc(id)._4.split(" ").toSeq
      val orig = (if (id == 2L) docB else docC).split(" ").toSeq
      val cutIdx = ss.flatMap(s => s._2 to s._3).toSet
      val expect = orig.zipWithIndex.collect {
        case (t, i) if !cutIdx.contains(i.toLong) => t }
      assert(toks === expect, s"doc $id clean_text mismatch")
      assert(byDoc(id)._3 === cutIdx.size.toLong)
      assert(byDoc(id)._2 === orig.size.toLong)
    }
  }

  test("splitLeakage labels pair endpoints with the pure split draw") {
    // Pairs injected directly: the audit's grouping and least/greatest
    // canonicalization are the subject; the md5 draw itself is pinned by
    // the splitAssign specs.
    val w = Seq("train" -> 205, "val" -> 25, "test" -> 26)
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L))
      .toDF("d1", "d2")
    val splitOf = (1L to 10L).map { id =>
      id -> Seq(id).toDF("k")
        .select(PipelineOps.splitAssign(col("k"), w)).head().getString(0)
    }.toMap
    val want = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L))
      .map { case (a, b) =>
        val (s1, s2) = (splitOf(a), splitOf(b))
        (Seq(s1, s2).min, Seq(s1, s2).max)
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case ((a, b), n) => (a, b, n, a != b) }.toSet
    val got = Dedup.splitLeakage(spark.emptyDataFrame, "", "", w,
        pairs = Some(pairs))
      .as[(String, String, Long, Boolean)].collect().toSet
    assert(got === want)
    assert(want.exists(_._4), "fixture should produce at least one leak")
  }

}
