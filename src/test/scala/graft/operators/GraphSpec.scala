package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("closenessCentrality: path + disconnected pair, Wasserman-Faust normalized") {
    // Path 1-2-3-4 and isolated edge 5-6 (n=6, so n-1=5 in the norm).
    // Node 2: r=3, sum_d=1+1+2=4, ecc=2 -> 9e6/(5*4)=450000.
    // Node 1: r=3, sum_d=6, ecc=3      -> 9e6/30 = 300000.
    // Node 5: r=1, sum_d=1, ecc=1      -> 1e6/5  = 200000.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("u", "v")
    val got = Graph.closenessCentrality(edges, "u", "v")
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (2L, 3L, 2L, 450000L), (3L, 3L, 2L, 450000L),
      (1L, 3L, 3L, 300000L), (4L, 3L, 3L, 300000L),
      (5L, 1L, 1L, 200000L), (6L, 1L, 1L, 200000L)))
  }

  test("betweennessSampled with all sources is exact Brandes on a path") {
    // Path 1-2-3-4-5, sources = all 5 nodes -> exact betweenness.
    // bc(v) = 1e6 x (ordered s-t pairs routing through v): node 3 carries
    // 8 (4 unordered pairs x both directions), nodes 2/4 carry 6, leaves 0.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = Graph.betweennessSampled(edges, "u", "v",
        sources = 5, maxDepth = 8, topN = 5)
      .as[(Long, Long)].collect()
    assert(got === Array(
      (3L, 8000000L), (2L, 6000000L), (4L, 6000000L),
      (1L, 0L), (5L, 0L)))
  }

  test("closenessCentrality: sources = |V| collapses to the exact form bit-for-bit") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("u", "v")
    val exact = Graph.closenessCentrality(edges, "u", "v")
      .as[(Long, Long, Long, Long)].collect()
    val allPivots = Graph.closenessCentrality(edges, "u", "v",
        maxDepth = 8, sources = 6)
      .as[(Long, Long, Long, Long)].collect()
    assert(allPivots === exact)
  }

  test("closenessCentrality pivot estimate tracks exact closeness on a random graph") {
    // Deterministic pseudo-random sparse graph: 60 nodes, each i links
    // to two hash-picked targets — connected enough that every node is
    // reached, irregular enough that closeness genuinely varies.
    def h(i: Long, s: Long): Long = {
      val x = i * 2654435761L + s * 40503L
      math.floorMod(x ^ (x >>> 16), 60L)
    }
    val edges = (0L until 60L)
      .flatMap(i => Seq((i, (i + 1) % 60), (i, h(i, 7)), (i, h(i, 13))))
      .filter { case (a, b) => a != b }
      .toDF("u", "v")
    val exact = Graph.closenessCentrality(edges, "u", "v")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    val est = Graph.closenessCentrality(edges, "u", "v",
        maxDepth = 16, sources = 20)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(est.keySet === exact.keySet)
    // Eppstein–Wang acceptance: 20 of 60 pivots must put the MEAN
    // relative closeness error well under the trivial estimator's.
    val relErrs = exact.toSeq.map { case (node, c) =>
      math.abs(est(node) - c).toDouble / c
    }
    val meanErr = relErrs.sum / relErrs.size
    assert(meanErr <= 0.15, s"mean relative closeness error $meanErr")
  }

  test("BFS with eccentricity exactly maxDepth drains instead of crashing") {
    // Path 1-2-3-4: diameter 3. The bound must raise only on a frontier
    // still live PAST maxDepth — matching the oracle recursion `r.d < maxD`
    // which emits d = maxD rows (the r10 advisor's off-by-one).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val tight = Graph.closenessCentrality(edges, "u", "v", maxDepth = 3)
      .as[(Long, Long, Long, Long)].collect()
    val loose = Graph.closenessCentrality(edges, "u", "v", maxDepth = 16)
      .as[(Long, Long, Long, Long)].collect()
    assert(tight === loose)
    val bTight = Graph.betweennessSampled(edges, "u", "v",
      sources = 4, maxDepth = 3, topN = 4).as[(Long, Long)].collect()
    val bLoose = Graph.betweennessSampled(edges, "u", "v",
      sources = 4, maxDepth = 16, topN = 4).as[(Long, Long)].collect()
    assert(bTight === bLoose)
    // One past the diameter must still raise loudly.
    assertThrows[IllegalArgumentException] {
      Graph.closenessCentrality(edges, "u", "v", maxDepth = 2).collect()
    }
  }

  test("closenessCentrality on an empty edge list has no rows") {
    // The first BFS level observes zero rows and ends the sweep.
    val edges = Seq.empty[(Long, Long)].toDF("u", "v")
    for (sources <- Seq(0, 3))
      assert(Graph.closenessCentrality(edges, "u", "v", sources = sources)
        .collect().isEmpty, s"sources = $sources")
  }

  test("closenessCentrality visited accumulator survives a 400-hop chain") {
    // Chain 0-1-...-400 from a single pivot: 400 level rounds. With the
    // old per-round re-union of ALL prior frontiers the plan grows
    // O(rounds²); the maintained checkpointed accumulator keeps each
    // round's plan constant-size. Output is checked against the closed
    // form: pivot p (md5-min node), rh = n-1 for every reached node,
    // ecc_i = |i-p|, closeness_micro = ((n-1)·1e6) div (n·|i-p|).
    val n = 401L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("u", "v")
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p = (0L until n).minBy(i => (md5hex(i.toString), i))
    val got = Graph.closenessCentrality(edges, "u", "v",
        maxDepth = 400, sources = 1)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === n)
    val byNode = got.map(r => r._1 -> r).toMap
    (0L until n).foreach { i =>
      val d = math.abs(i - p)
      val expected =
        if (d == 0) (i, n - 1, 0L, 0L)
        else (i, n - 1, d, ((n - 1) * 1000000L) / (n * d))
      assert(byNode(i) === expected, s"node $i (pivot $p)")
    }
  }

  test("betweennessSampled returns empty (not a crash) on a self-loop-only graph") {
    // Every node only self-loops -> no level-1 frontier; the backward
    // sweep has nothing to fold and the operator must return the empty
    // frame with its contract schema instead of reduce-crashing.
    val edges = Seq((1L, 1L), (2L, 2L)).toDF("u", "v")
    val got = Graph.betweennessSampled(edges, "u", "v",
      sources = 2, maxDepth = 4, topN = 5)
    assert(got.columns === Array("node", "betweenness_micro"))
    assert(got.count() === 0L)
  }

  // Undirected path 1–2–3 fed as both edge directions.
  private def pathEdges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    .toDF("src", "dst")

  test("pagerank matches the hand-computed integer fixpoint on a path graph") {
    // deg: 1→1, 2→2, 3→1; start 1e6 each.
    // iter1: in(1)=500000, in(2)=2000000, in(3)=500000
    //        r1 = 150000 + 85%·in = (575000, 1850000, 575000)
    // iter2: contribs (575000, 925000, 575000)
    //        r2 = (936250, 1127500, 936250)
    val got = Graph.pagerank(pathEdges, "src", "dst", iterations = 2)
      .orderBy(col("node_id"))
      .as[(Long, Long)].collect()
    assert(got === Array((1L, 936250L), (2L, 1127500L), (3L, 936250L)))
  }

  test("pagerank is partitioning-invariant (exact BIGINT algebra)") {
    val a = Graph.pagerank(pathEdges, "src", "dst", 3)
      .orderBy(col("node_id")).as[(Long, Long)].collect()
    val b = Graph.pagerank(pathEdges.repartition(7), "src", "dst", 3)
      .orderBy(col("node_id")).as[(Long, Long)].collect()
    assert(a === b)
  }

  test("pagerank iteration aggregates contributions map-side (hash agg, no window)") {
    val plan = Graph.pagerank(pathEdges, "src", "dst", 1)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("hashaggregate"),
      s"expected hash aggregation for the contribution sum:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window sort:\n$plan")
  }

  test("triangleStats counts the square-with-diagonal by hand") {
    // 1-2-3-4-1 plus diagonal 1-3: triangles (1,2,3) and (1,3,4).
    // deg = (3,2,3,2) -> wedges = 3+1+3+1 = 8; gcc = 3*2/8 = 0.75.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("u", "v")
    val got = Graph.triangleStats(edges, "u", "v")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got === ((4L, 5L, 8L, 2L, 750000L)))
  }

  test("triangleStats canonicalizes reversed, duplicate, and self edges") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 3L)).toDF("u", "v")
    val got = Graph.triangleStats(messy, "u", "v")
      .as[(Long, Long, Long, Long, Long)].collect().head
    // One triangle on 3 nodes, 3 edges, wedges = 3, gcc = 3*1/3 = 1.
    assert(got === ((3L, 3L, 3L, 1L, 1000000L)))
  }

  test("kCore peels a two-round cascade down to the triangle core") {
    // Triangle (1,2,3) with a pendant chain 3-4-5. k=2: round 1 drops 5
    // (degree 1), which exposes 4 (now degree 1) for round 2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("u", "v")
    val after1 = Graph.kCore(edges, "u", "v", k = 2, rounds = 1)
      .as[(Long, Long, Boolean)].collect()
    assert(after1.map(_._1).toSet === Set(1L, 2L, 3L, 4L),
      "one round must only peel the degree-1 leaf")
    assert(after1.forall(!_._3),
      "a truncated peel (round removed an edge) must report converged=false")
    val core = Graph.kCore(edges, "u", "v", k = 2, rounds = 3)
      .as[(Long, Long, Boolean)].collect()
    assert(core === Array((1L, 2L, true), (2L, 2L, true), (3L, 2L, true)),
      "round 3 removes nothing, so the fixpoint certificate must be true")
  }

  test("kCore is partitioning-invariant and empty below the threshold") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val a = Graph.kCore(edges, "u", "v", 2, 2)
      .as[(Long, Long, Boolean)].collect()
    val b = Graph.kCore(edges.repartition(5), "u", "v", 2, 2)
      .as[(Long, Long, Boolean)].collect()
    assert(a === b)
    assert(Graph.kCore(edges, "u", "v", 3, 2).count() === 0L,
      "a triangle has no 3-core")
  }

  test("pagerank redistributes dangling (sink) mass and keeps source nodes") {
    // 1 → 2 with 2 a sink and 1 a source; |V| = 2, damping 85%.
    // iter1: dangling = 1e6 → share 500000;
    //   r(1) = 150000 + 85%·500000        = 575000
    //   r(2) = 150000 + 85%·(1e6+500000)  = 1425000   (Σ = 2e6, conserved)
    // iter2: dangling = 1425000 → share 712500;
    //   r(1) = 150000 + (85·712500) div 100          = 755625
    //   r(2) = 150000 + (85·(575000+712500)) div 100 = 1244375
    val got = Graph.pagerank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
        iterations = 2)
      .orderBy(col("node_id")).as[(Long, Long)].collect()
    assert(got === Array((1L, 755625L), (2L, 1244375L)))
    assert(got.map(_._2).sum === 2000000L,
      "integer dangling redistribution must conserve total mass here")
  }

  test("pagerank keeps contributing source-only nodes every iteration") {
    // 1 → 2, 2 ⇄ 3: node 1 has out-edges but no in-edges. It must stay
    // in the rank relation at base rank and keep feeding node 2.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val got = Graph.pagerank(edges, "src", "dst", iterations = 2)
      .orderBy(col("node_id")).as[(Long, Long)].collect()
    // iter1: r = (150000, 1850000, 1000000)
    // iter2: in(2) = 150000 + 1000000, in(3) = 1850000
    //   r = (150000, 1127500, 1722500)
    assert(got === Array((1L, 150000L), (2L, 1127500L), (3L, 1722500L)))
  }

  test("coOccurrencePairs bounds per-key fan-out at the cap") {
    // One hot key with 50 items plus a normal key with 3: uncapped the
    // hot key alone fans out C(50,2) = 1225 pairs; capped at 8 it
    // contributes C(8,2) = 28 — the pre-threshold relation is bounded
    // by Σ C(min(d, cap), 2), which is what survives a power-law hub.
    val hot = (1 to 50).map(i => (100L, i.toLong))
    val normal = Seq((200L, 101L), (200L, 102L), (200L, 103L))
    val df = (hot ++ normal).toDF("k", "item")
    val capped = Graph.coOccurrencePairs(df, "k", "item", maxItemsPerKey = 8)
    assert(capped.agg(org.apache.spark.sql.functions.sum(col("w")))
      .as[Long].head() === 28L + 3L,
      "pair multiset must be capped to C(8,2) + C(3,2)")
    // With the cap above every key's degree the projection is exactly
    // the uncapped one (the q163 fixture regime).
    val uncapped = Graph.coOccurrencePairs(df, "k", "item", 64)
      .orderBy(col("i1"), col("i2")).as[(Long, Long, Long)].collect()
    assert(uncapped.length === 1225 + 3)
    assert(uncapped.map(_._3).forall(_ === 1L))
  }

  test("coOccurrencePairs cap limits rows map-side (WindowGroupLimit)") {
    val df = (1 to 50).map(i => (100L, i.toLong)).toDF("k", "item")
    val plan = Graph.coOccurrencePairs(df, "k", "item", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the rank cap must push below the exchange as WindowGroupLimit:\n$plan")
  }

  test("pagerank lineage stays constant-sized per iteration") {
    // Every iteration but the last is a Fixpoint round (an eager
    // stats-dropped checkpoint), so the FINAL plan holds only the last
    // iteration's joins/aggregations no matter how many iterations ran —
    // an unrolled form doubles the plan per iteration (ranks is
    // referenced twice: contribution + dangling mass).
    def nAgg(p: String) = "HashAggregate".r.findAllIn(p).size
    val one = Graph.pagerank(pathEdges, "src", "dst", 1)
      .queryExecution.executedPlan.toString
    val three = Graph.pagerank(pathEdges, "src", "dst", 3)
      .queryExecution.executedPlan.toString
    assert(three.contains("Scan ExistingRDD"),
      s"expected the checkpointed iteration-2 ranks:\n$three")
    assert(nAgg(three) === nAgg(one),
      s"per-iteration truncation must bound lineage: ${nAgg(three)} vs ${nAgg(one)}")
  }

  test("localClustering credits every triangle corner; d<2 is null") {
    // Square 1-2-3-4 with diagonal 1-3 plus a pendant 4-5:
    // triangles (1,2,3) and (1,3,4).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (4L, 5L)).toDF("u", "v")
    val got = Graph.localClustering(edges, "u", "v")
      .orderBy("node_id")
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(got === Array(
      (1L, 3L, 2L, Some(666666L)), // 2 of 3 wedges closed
      (2L, 2L, 1L, Some(1000000L)),
      (3L, 3L, 2L, Some(666666L)),
      (4L, 3L, 1L, Some(333333L)),
      (5L, 1L, 0L, None))) // a leaf has no wedges
  }

  test("modularity: two bridged triangles score 35/196 each; one community is 0") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val mem = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B")).toDF("n", "cm")
    val got = Graph.modularity(edges, "a", "b", mem, "n", "cm")
      .orderBy("cm")
      .select($"cm", $"n_nodes", $"d_tot", $"e_in", $"q_micro")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got === Array(("A", 3L, 7L, 3L, 178571L),
      ("B", 3L, 7L, 3L, 178571L)))
    // Everyone in one community: Q = 0 exactly (4m*e - D^2 = 0).
    val one = mem.select($"n", lit("X").as("cm"))
    val q1 = Graph.modularity(edges, "a", "b", one, "n", "cm")
      .select($"q_micro").as[Long].head()
    assert(q1 === 0L)
  }

  test("assortativity: a star is -1, a cycle is null (zero degree variance)") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val s = Graph.assortativity(star, "a", "b")
      .as[(Long, Option[Double])].head()
    assert(s === ((6L, Some(-1.0))))
    val cycle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val c = Graph.assortativity(cycle, "a", "b")
      .as[(Long, Option[Double])].head()
    assert(c === ((6L, None)))
  }
  test("saltonPairs discounts hub items that raw co-occurrence inflates") {
    // hub appears with every customer; a and b share their 2 customers
    // exclusively: raw w(hub, a) == w(a, b) == 2, but Salton ranks the
    // exclusive pair far higher.
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 99L),
      (2L, 10L), (2L, 20L), (2L, 99L),
      (3L, 99L), (4L, 99L), (5L, 99L),
      (3L, 30L), (4L, 30L), (5L, 30L)).toDF("c", "i")
    val got = Graph.saltonPairs(rows, "c", "i", maxItemsPerKey = 16)
      .collect().map(r => ((r.getAs[Long]("i1"), r.getAs[Long]("i2")),
        (r.getAs[Long]("w"), r.getAs[Double]("salton")))).toMap
    // (10, 20): 2 shared of deg 2 and 2 -> salton 1.0
    assert(got((10L, 20L)) === ((2L, 1.0)))
    // (10, 99): 2 shared but hub deg 5 -> 2/sqrt(2*5) ~ 0.632456
    assert(got((10L, 99L))._1 === 2L)
    assert(math.abs(got((10L, 99L))._2 - 0.632456) < 1e-6)
    assert(got((10L, 20L))._2 > got((10L, 99L))._2)
  }

  test("linkJaccard scores set overlap exactly in integer micro-units") {
    // Same fixture as the salton spec: (10, 20) share both their
    // customers exclusively (J = 2/2 = 1); (10, 99) share 2 of
    // 2 + 5 - 2 = 5 neighbors (J = 0.4).
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 99L),
      (2L, 10L), (2L, 20L), (2L, 99L),
      (3L, 99L), (4L, 99L), (5L, 99L),
      (3L, 30L), (4L, 30L), (5L, 30L)).toDF("c", "i")
    val got = Graph.linkJaccard(rows, "c", "i", maxItemsPerKey = 16)
      .collect().map(r => ((r.getAs[Long]("i1"), r.getAs[Long]("i2")),
        r.getAs[Long]("jaccard_micro"))).toMap
    assert(got((10L, 20L)) === 1000000L)
    assert(got((10L, 99L)) === 400000L)
    assert(got((30L, 99L)) === 600000L) // 3 of 3 + 5 - 3
  }

  test("degreeHistogram counts endpoint degrees with exact shares") {
    // Path 1-2-3-4: degrees 1,2,2,1 -> histogram {1: 2 nodes, 2: 2 nodes}.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s1", "s2")
    val got = Graph.degreeHistogram(edges, "s1", "s2")
      .orderBy(col("degree")).as[(Long, Long, Long)].collect()
    assert(got === Array((1L, 2L, 500000L), (2L, 2L, 500000L)))
  }

  test("linkCandidates finds distance-2 pairs and never existing edges") {
    // Path 1-2-3-4: candidates are (1,3) and (2,4) via one common
    // neighbor each; (1,4) is distance 3 and must not appear.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s1", "s2")
    val got = Graph.linkCandidates(edges, "s1", "s2", 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 1L), (2L, 4L, 1L)))
    // A triangle plus a pendant: (1,3) IS an edge -> only the pendant
    // pair (2,4)... 4 hangs off 1, so candidates are (2,4), (3,4).
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("s1", "s2")
    val got2 = Graph.linkCandidates(tri, "s1", "s2", 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(got2 === Set((2L, 4L, 1L), (3L, 4L, 1L)))
  }

  test("itemRecommendations scores candidates by summed similarity") {
    // u1 {1,2}, u2 {2,3}, u3 {1,3}: every item pair has jaccard 1/3
    // (w=1, degs 2). Each user's missing item is reachable through BOTH
    // owned items -> n_paths=2, score 2 * 333333; owned items anti-join
    // away.
    val pairs = Seq((10L, 1L), (10L, 2L), (20L, 2L), (20L, 3L),
      (30L, 1L), (30L, 3L)).toDF("u", "it")
    val got = Graph.itemRecommendations(pairs, "u", "it",
      maxItemsPerKey = 10, topK = 10)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (10L, 3L, 2L, 666666L),
      (20L, 1L, 2L, 666666L),
      (30L, 2L, 2L, 666666L)))
  }

  test("complementSubstitute separates basket-mates from split buyers") {
    val rows = Seq(
      (1L, 100L, "A"), (1L, 100L, "B"), // c100 co-orders A+B
      (2L, 200L, "A"), (3L, 200L, "B"), // c200 buys both, separately
      (10L, 300L, "A"), // A-only buyer
      (4L, 400L, "C"), (4L, 400L, "D"), (5L, 500L, "C"), (5L, 500L, "D"),
      (6L, 600L, "E"), (7L, 600L, "F"), (8L, 700L, "E"), (9L, 700L, "F"))
      .toDF("ok0", "ck0", "it0")
    val got = Graph.complementSubstitute(rows, col("ok0"), col("ck0"),
      col("it0"), minBuyerShareMicro = 100000L,
      complementMicro = 900000L, substituteMicro = 100000L)
      .orderBy($"i1", $"i2")
      .select($"i1", $"i2", $"n_both", $"n_together", $"affinity_micro",
        $"label")
      .as[(String, String, Long, Long, Long, String)].collect()
    assert(got === Array(
      ("A", "B", 2L, 1L, 500000L, "neutral"),
      ("C", "D", 2L, 2L, 1000000L, "complement"),
      ("E", "F", 2L, 0L, 0L, "substitute")))
  }

  test("personalizedPagerank concentrates rank near the seed") {
    // Path 1-2-3-4 (symmetrized), seed at 1: relevance must decay with
    // distance from the anchor.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
    val und = path.union(path.select($"t", $"s"))
    val seeds = Seq(1L).toDF("id")
    val got = Graph.personalizedPagerank(und, "s", "t", seeds,
      iterations = 4)
      .as[(Long, Long)].collect().sortBy(_._1)
    val byNode = got.toMap
    assert(byNode(1L) > byNode(2L) && byNode(2L) > byNode(3L)
      && byNode(3L) > byNode(4L), s"expected monotone decay: $got")
    assert(byNode(4L) > 0L, "mass must reach the far end in 4 rounds")
  }

  test("hopDistances walks the chain and certifies only at the fixpoint") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val seeds = Seq(1L).toDF("id")
    val cut = Graph.hopDistances(seeds, chain, "s", "t", rounds = 2)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(cut === Array((1L, 0L, false), (2L, 1L, false), (3L, 2L, false)))
    val full = Graph.hopDistances(seeds, chain, "s", "t", rounds = 5)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(full === Array((1L, 0L, true), (2L, 1L, true), (3L, 2L, true),
      (4L, 3L, true), (5L, 4L, true)))
  }

  test("kTruss peels pendant edges and certifies the stable clique") {
    // K4 on {1,2,3,4}: every edge closes 2 triangles (support 2), so the
    // 4-truss keeps all six edges. The pendant (4,5) has support 0 and
    // peels in round one without destabilizing the clique.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("s1", "s2")
    val got = Graph.kTruss(k4, "s1", "s2", k = 4, rounds = 3)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got === Array(
      (1L, 2L, 2L, true), (1L, 3L, 2L, true), (1L, 4L, 2L, true),
      (2L, 3L, 2L, true), (2L, 4L, 2L, true), (3L, 4L, 2L, true)))
  }

  test("kTruss cascade: losing one clique edge dissolves the 4-truss") {
    // K4 minus edge (3,4): supports drop to 1 everywhere except (1,2)
    // (still 2: both 3 and 4 remain common neighbors) — but once the
    // support-1 edges peel, (1,2) has no triangles left either. The
    // 4-truss is empty and the fixpoint still certifies.
    val broken = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("s1", "s2")
    val got = Graph.kTruss(broken, "s1", "s2", k = 4, rounds = 4)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.isEmpty)
  }

}
