package graft

/** Physical-plan shape assertions — the scale contract, enforced as tests.
  * Correctness is the oracle's job; these pin the plan properties that decide
  * whether a query survives a 100x scale-up: filters reaching the parquet
  * scan, column pruning, small-side broadcasts, and shuffle counts.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filter not pushed:\n${p.take(2000)}")
  }

  test("q01: scan is pruned to the referenced columns only") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"unreferenced columns read: $readSchema")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
  }

  test("q03/q05: dimension tables are broadcast, not shuffled") {
    assert(plan("q03_top_orders").contains("BroadcastHashJoin"))
    val p5 = plan("q05_star_join")
    assert(p5.contains("BroadcastHashJoin"))
    assert(!p5.contains("CartesianProduct"))
  }

  test("q19 as-of join: native sorted-merge, no window buffer, narrow sides") {
    val p = plan("q19_asof_join")
    assert(p.contains("AsOfMergeJoin"), s"expected the native operator:\n${p.take(1500)}")
    // The whole point of the native form: no WindowExec partition buffer
    // and no union row-widening before the exchange.
    assert(!p.contains("Window"), s"native as-of must not plan a window:\n${p.take(1500)}")
    assert(!p.contains("Union"), s"native as-of must not union the sides:\n${p.take(1500)}")
  }

  test("q81 composed as-of: union+window, no join operator at all") {
    val p = plan("q81_asof_composed")
    assert(!p.contains("Join"), s"composed as-of should be join-free:\n${p.take(1500)}")
    assert(p.contains("Window"))
  }

  test("q68/q69 as-of directions: join-free; nearest's second pass adds no exchange") {
    def exchanges(q: String): Int = {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q should be join-free:\n${p.take(1500)}")
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    // Both plans carry the right-side dedup aggregation's exchange plus
    // ONE window key exchange. The pin: nearest runs BOTH ordered window
    // passes over that same key exchange — two in-partition sorts, zero
    // additional shuffles vs the single-direction plan.
    val fwd = exchanges("q68_asof_forward")
    val nearest = exchanges("q69_asof_nearest")
    assert(nearest == fwd,
      s"nearest ($nearest exchanges) must not shuffle more than a single-" +
        s"direction as-of ($fwd)")
  }

  test("q27 minhash: no cartesian products anywhere in the LSH path") {
    assert(!plan("q27_minhash_lsh").contains("CartesianProduct"))
  }

  test("q30 top-k: query set broadcast against the corpus") {
    val p = plan("q30_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n${p.take(1500)}")
  }

  /** Every ranker is `row_number() <= k`; Spark infers a window group
    * limit from the filter. Printed top-down: the Final limit, the exchange
    * on the ranking key, then the map-side Partial limit directly below it,
    * so k rows per key per map partition cross the shuffle instead of the
    * whole scored relation.
    */
  private def assertPartialLimitBelowExchange(q: String): Vector[String] = {
    val lines = plan(q).linesIterator.toVector
    def limit(i: Int, mode: String) =
      lines(i).contains("WindowGroupLimit") && lines(i).trim.endsWith(mode)
    val fin = lines.indices.filter(limit(_, "Final"))
    assert(fin.nonEmpty, s"$q: no window group limit:\n${lines.mkString("\n")}")
    fin.foreach { f =>
      val ex = lines.indexWhere(_.contains("Exchange hashpartitioning"), f)
      val part = lines.indexWhere(_.contains("WindowGroupLimit"), ex)
      assert(ex > f && part > ex && limit(part, "Partial") &&
          !lines.slice(ex + 1, part).exists(_.contains("Exchange")),
        s"$q: Partial WindowGroupLimit missing below the ranking " +
          s"exchange:\n${lines.mkString("\n")}")
    }
    lines
  }

  /** No window sorts the uncapped relation: each Window runs directly on a
    * Final WindowGroupLimit, so a hot key reaches it with at most k rows per
    * map partition.
    */
  private def assertWindowsOnlyOverCappedRows(q: String, lines: Vector[String]): Unit = {
    def node(l: String) = l.dropWhile(" :+-".contains(_))
    val windows = lines.indices.filter(i => node(lines(i)).startsWith("Window ["))
    assert(windows.nonEmpty, s"$q: no ranking window:\n${lines.mkString("\n")}")
    windows.foreach { w =>
      val below = lines.indexWhere(l => !node(l).startsWith("InputAdapter"), w + 1)
      assert(below > w && lines(below).contains("WindowGroupLimit") &&
          lines(below).trim.endsWith("Final"),
        s"$q: a window sorts the uncapped relation:\n${lines.mkString("\n")}")
    }
  }

  test("q30/q31/q39 ranking: bounded-heap partial aggregation below the exchange") {
    // The ranking must not window over the full scored relation (that
    // funnels |Q|·N rows into |Q| partitions): the map-side limit keeps k
    // rows per query per partition, so the exchange carries k·partitions.
    Seq("q30_cosine_topk", "q31_ann_ivf", "q39_ann_lsh").foreach { q =>
      assertWindowsOnlyOverCappedRows(q, assertPartialLimitBelowExchange(q))
    }
  }

  test("top-k rankers: a Partial WindowGroupLimit sits below the ranking exchange") {
    Seq("q174_quantized_recall", "q196_pq_adc_recall", "q200_ivfadc",
        "q85_exact_group_sample", "q87_tfidf_top_terms", "q145_bm25_topdocs")
      .foreach(assertPartialLimitBelowExchange)
  }

  test("q25 exact dedup: only (hash, id) is shuffled, never the text") {
    val p = plan("q25_exact_dedup")
    val exchangeIdx = p.indexOf("Exchange")
    assert(exchangeIdx >= 0)
    // The scan below the exchange projects the hash before shuffling; the
    // text column must not appear in any exchange's output.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text"), "scan reads text (to hash it)")
    assert(!p.substring(0, exchangeIdx).contains("text#"),
      "text must be hashed away before the first shuffle")
  }

  test("q09: map-side WindowGroupLimit prunes before the shuffle") {
    // Spark 4 pushes a partial top-k below the exchange — per-partition
    // top-3 per suppkey ships, not the whole table. This is the property
    // that keeps window top-k viable at 100 TB; pin it.
    val p = plan("q09_window_topk")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0)
    assert(p.indexOf("WindowGroupLimit", exchangeIdx) > 0,
      "final WindowGroupLimit missing")
    assert(p.substring(exchangeIdx).contains("WindowGroupLimit"),
      s"partial WindowGroupLimit below the shuffle missing:\n${p.take(1500)}")
  }

  test("minhash band stage: kernel in the scan stage, no shuffle below it") {
    // (q27's final plan reads the localCheckpoint'ed candidate RDDs, so the
    // signature subtree is asserted on directly.)
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val bands = Tables.documents(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(minhashBands(col("toks"), 64, 4)).as("key"))
    val p = bands.queryExecution.executedPlan.toString
    assert(p.contains("minhashbands"), s"native kernel missing:\n${p.take(1500)}")
    assert(!p.contains("Exchange"),
      s"signature stage must be shuffle-free map work:\n${p.take(1500)}")
    assert(!p.contains("xxhash64"), "exploded-gram signature path resurfaced")
  }

  test("simhash signature stage: native kernel, no shuffle below it") {
    // The signature must be pure map work — the exploded vote formulation
    // shuffled 32 rows per token occurrence (corpus-sized x32 exchange).
    val p = graft.operators.Dedup
      .simhash(Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("simhashsignature"), s"native kernel missing:\n${p.take(1500)}")
    assert(!p.contains("Exchange"),
      s"signature stage must be shuffle-free map work:\n${p.take(1500)}")
    assert(!p.contains("shiftright"), "exploded vote path resurfaced")
  }

  test("q43 quantize: native kernels in the scan stage, no interpreted HOF lambdas") {
    val p = plan("q43_embed_quantize")
    assert(p.contains("quantizeint8") && p.contains("l2squarednorm"),
      s"native kernels missing:\n${p.take(1500)}")
    assert(!p.contains("lambdafunction"),
      s"interpreted HOF resurfaced in the hot path:\n${p.take(1500)}")
  }

  test("q45 repetition: zero-shuffle map work (no gram explode, no groupBy)") {
    val p = plan("q45_repetition")
    assert(p.contains("repetitionratioexpr"), s"native kernel missing:\n${p.take(1500)}")
    assert(!p.contains("Generate"), "gram explode resurfaced")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-document measure must not shuffle:\n${p.take(1500)}")
  }

  test("q24 fingerprint: native polyhash, no per-character lambda") {
    val p = plan("q24_fingerprint")
    assert(p.contains("polyhash"), s"native kernel missing:\n${p.take(1500)}")
    assert(!p.contains("lambdafunction"),
      s"interpreted per-char HOF resurfaced:\n${p.take(1500)}")
  }

  test("q44 k-means: centroids broadcast, vectors never shuffled for scoring") {
    val p = plan("q44_kmeans_assign")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid side should broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    // argmax is a partial-aggregated max(struct(...)), not a window sort:
    // each partition collapses its N·K scored rows to N before the exchange
    assert(!p.contains("Window"), "window argmax resurfaced")
    assert(p.contains("partial_max"),
      s"map-side argmax partial missing:\n${p.take(1500)}")
  }

  test("q41 stratified sample: single scan, aggregation only (no join, no extra shuffle)") {
    val p = plan("q41_stratified_sample")
    assert(!p.contains("Join"), "sampling must be map-side + aggregate only")
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 2,
      s"too many shuffles for a hash-sample count:\n$p")
  }

  test("q60 cluster propagation step: partial-aggregated min below the exchange") {
    // One label-propagation round = edge⋈label join + groupBy(node).min —
    // the per-round shuffle must carry map-side partial minima (vocab of
    // touched nodes per partition), never raw propagated candidate rows.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("node", "label")
    val step = edges.join(labels, col("dst") === col("node"))
      .select(col("src").as("node"), col("label"))
      .union(labels)
      .groupBy(col("node")).agg(min(col("label")).as("label"))
    val p = step.queryExecution.executedPlan.toString
    val fin = p.indexOf("functions=[min(")
    assert(fin >= 0, s"min aggregate missing:\n${p.take(1200)}")
    val ex = p.indexOf("Exchange hashpartitioning", fin)
    assert(ex >= 0, "aggregation exchange missing")
    assert(p.indexOf("partial_min", ex) >= 0,
      s"map-side partial min missing below the exchange:\n${p.take(1500)}")
  }

  test("q53: partkey range predicate is pushed into the parquet scan") {
    val p = plan("q53_string_funcs")
    assert(p.contains("LessThanOrEqual(p_partkey,200)"),
      s"filter not pushed:\n${p.take(1500)}")
  }

  test("q121 incremental dedup: equi-joins only — no cartesian, no nested loop") {
    val p = plan("q121_incremental_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian in refresh path:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop in refresh path:\n${p.take(1500)}")
  }

  test("q123 edit-distance join: segment-blocked equi-join, never a cross join") {
    // The whole point of PassJoin blocking: candidates come from an
    // equi-join on (length, segment index, substring) — a plan that falls
    // back to CartesianProduct/BNLJ would be the all-pairs comparison the
    // blocking exists to avoid.
    val p = plan("q123_editdist_join")
    assert(!p.contains("CartesianProduct"), s"cross join in blocking:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop in blocking:\n${p.take(1500)}")
  }

  test("q128 interval overlap: bucket equi-join, not a nested loop") {
    // The whole point of binning a key-less interval join: without it
    // Spark plans BroadcastNestedLoopJoin (O(|A|·|B|) compares).
    val p = plan("q128_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop in interval join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected a hash-partitioned join on the bucket key:\n${p.take(1500)}")
  }

  test("loop and blocking-join queries: final plans hold no cartesian or sort-merge") {
    // These queries run most of their joins inside eager round
    // checkpoints, whose leaves carry no stats; AQE picks each join from
    // the measured shuffle sizes. So the plans to check are the final
    // adaptive plans of every SQL execution the run starts.
    // q404's one sort-merge is the census noise count's left join of the
    // point table with the border sets (plans/hints/q404_dbscan_sf0.1.txt):
    // neither side has a shuffle stage of its own to measure, and both
    // are point-sized, never pair-sized.
    val sortMerges = Map("q404_dbscan" -> 1).withDefaultValue(0)
    Seq("q404_dbscan", "q243_sql_dedup_clusters", "q159_pagerank",
        "q123_editdist_join", "q124_jaccard_prefix").foreach { q =>
      val run = PlanDump.traced(spark)(SparkEntry.queries(q)(spark, sf))
      val joins = run.joinTotals
      assert(joins.nonEmpty, s"$q: no joins traced")
      assert(!joins.contains("CartesianProduct"), s"$q: $joins")
      assert(joins.getOrElse("SortMergeJoin", 0) <= sortMerges(q),
        s"$q: $joins")
    }
  }

  test("q154 roc-auc: corpus collapses to (score, counts) partials below the exchange") {
    // The rank-sum window runs over the distinct-score relation; the
    // corpus-sized scan must reach its only exchange as map-side
    // (score -> pos/neg count) partials, or AUC shuffles every row.
    // (the exchange partitions on the raw score column — n_chars here)
    val p = plan("q154_roc_auc")
    val ex = p.indexOf("Exchange hashpartitioning(n_chars#")
    assert(ex >= 0, s"score-grouping exchange missing:\n${p.take(1500)}")
    assert(p.indexOf("partial_count", ex) >= 0,
      s"map-side partial counts missing below the exchange:\n${p.take(1500)}")
  }

  test("q155 chi2: term-string exchanges sit on vocab-sized partial dedups") {
    // The corpus-sized (doc, term) presence relation shuffles xxhash64
    // keys; term STRINGS may only appear in an exchange's partitioning if
    // a partial aggregate below it already collapsed the input to the
    // per-partition vocabulary.
    val p = plan("q155_term_class_chi2")
    assert(p.contains("xxhash64"), s"hash kernel missing:\n${p.take(1500)}")
    val lines = p.linesIterator.toVector
    val termEx = lines.zipWithIndex.filter { case (l, _) =>
      l.contains("Exchange hashpartitioning") && l.contains("term#")
    }
    assert(termEx.nonEmpty, s"vocab-map exchange missing:\n${p.take(1500)}")
    termEx.foreach { case (_, i) =>
      val below = lines.slice(i + 1, i + 3).mkString("\n")
      assert(below.contains("HashAggregate"),
        s"term-string exchange without a partial dedup below it:\n$below")
    }
  }

  test("q156 gini: per-user counts partially aggregated below the exchange") {
    // The ranked window runs over group cardinality; the event-sized scan
    // must collapse to per-partition (user, count) partials first.
    val p = plan("q156_gini_concentration")
    val ex = p.indexOf("Exchange hashpartitioning(user_id#")
    assert(ex >= 0, s"user-grouping exchange missing:\n${p.take(1500)}")
    assert(p.indexOf("partial_count", ex) >= 0,
      s"map-side partial counts missing below the exchange:\n${p.take(1500)}")
  }

  test("q171 pivot: ONE aggregation pass, no per-value self-joins or unions") {
    val p = plan("q171_pivot")
    assert(!p.contains("Join") && !p.contains("Union"),
      s"pivot must be a single grouped aggregation:\n${p.take(1500)}")
    // Spark plans multi-agg pivot as TWO stacked aggregations — first
    // collapse to (user, type) partials, then pivot those per user — so
    // exactly two hash exchanges, both over already-collapsed relations.
    // More would mean per-value scans; one would mean the pre-collapse
    // (the part that shrinks a 100-TB event stream) was lost.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"pivot should plan the two-level aggregation:\n${p.take(1500)}")
  }

  test("q174 quantized ranking: queries broadcast, heap partial below the exchange") {
    // The ranking partial is pinned by the top-k rankers case.
    val p = plan("q174_quantized_recall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set must broadcast against the corpus:\n${p.take(1500)}")
  }

  test("q177 association rules: item totals and basket count broadcast back") {
    val p = plan("q177_assoc_rules")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"the two totals joins must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere (the single-row cross is a broadcast NLJ):\n${p.take(1500)}")
  }

  test("q196/q200 PQ family: codebook and LUT broadcast, no cartesian, heap partial") {
    Seq("q196_pq_adc_recall", "q200_ivfadc").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: every cross is broadcast-sized, never a cartesian:\n${p.take(1500)}")
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
        s"$q: the per-subspace LUT joins must broadcast:\n${p.take(1500)}")
    }
    // The ranking partial is pinned by the top-k rankers case.
  }

  test("q201 source quota: heap partial below the exchange, no window sort") {
    // A hot source must not be window-sorted in full after the shuffle.
    assertWindowsOnlyOverCappedRows("q201_source_quota",
      assertPartialLimitBelowExchange("q201_source_quota"))
  }

  test("q204 length cap: the cumulative window runs on the distinct-length collapse") {
    val p = plan("q204_length_cap")
    // The corpus-sized relation must collapse (partial hash agg on len)
    // BEFORE any single-partition window sees it.
    val partial = p.indexOf("partial_count")
    val win = p.indexOf("Window")
    assert(partial >= 0 && win >= 0 && partial > win,
      s"distinct-length partial must sit below the window stage:\n${p.take(1500)}")
  }

  test("q229/q237 decile machinery: windows run on the distinct-value collapse") {
    Seq("q229_decile_table", "q237_qq_table").foreach { q =>
      val p = plan(q)
      // The corpus-sized relation must partial-aggregate (collapse to
      // distinct values) BEFORE the cumulative window sees it.
      val partial = p.indexOf("partial_count")
      val win = p.indexOf("Window")
      assert(partial >= 0 && win >= 0 && partial > win,
        s"$q: distinct-value partial must sit below the window:\n${p.take(1500)}")
    }
  }

  test("q230 gains table: the 10-row spine broadcasts against the collapsed cum") {
    val p = plan("q230_gains_table")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the decile spine must broadcast into the non-equi join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian — the spine side is broadcast-tiny:\n${p.take(1500)}")
  }

  test("q240 skyline: one running max, no O(n^2) dominance self-join") {
    val p = plan("q240_skyline")
    // Exactly the staircase plan: a single Window (running max) and no
    // corpus self-join on inequality predicates.
    assert(p.contains("Window"), s"expected the running max window:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"skyline must not plan a dominance pair join:\n${p.take(1500)}")
  }

  test("q272 cramers V: totals broadcast back, corpus shuffled once") {
    val p = plan("q272_cramers_v")
    assert(p.contains("BroadcastHashJoin"),
      s"row/col totals must broadcast, not shuffle-join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-sized join may appear:\n${p.take(1500)}")
  }

  test("q273 frequent triples: capped enumeration, no cartesian") {
    val p = plan("q273_frequent_triples")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triple enumeration must ride equi-joins on the basket key:\n${p.take(1500)}")
  }

  test("q274 load profile: cells collapse before the broadcast total") {
    val p = plan("q274_load_profile")
    // the only join is the single-row total broadcast back onto <=168 cells
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"total must broadcast:\n${p.take(1200)}")
    assert(p.contains("HashAggregate"), "cells must partial-aggregate")
  }

  test("q280 vocab curve: every window is partitioned (two-pass prefix sum)") {
    // The scalar result aggregates may collapse to one partition (their
    // input is one row per partial); what must NEVER appear is an
    // UNPARTITIONED window over the vocab relation.
    val p = plan("q280_vocab_curve")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, "expected the seeded prefix-sum windows")
    windows.foreach(w => assert(w.contains("], [_pid"),
      s"unpartitioned window on the data path:\n$w"))
  }

  test("q286 knn outliers: ranking rides the partial-aggregated bounded heap") {
    assertWindowsOnlyOverCappedRows("q286_knn_outliers",
      assertPartialLimitBelowExchange("q286_knn_outliers"))
  }

  test("whole-stage codegen covers the relational hot paths") {
    // AQE prints codegen stages only in the finalized plan — execute first.
    Seq("q01_pricing_summary", "q06_selective_agg", "q09_window_topk").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize THIS QueryExecution's adaptive plan
      val p = df.queryExecution.executedPlan.toString
      // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
      assert(p.contains("*("), s"$q fell out of codegen:\n${p.take(1200)}")
    }
  }
}
