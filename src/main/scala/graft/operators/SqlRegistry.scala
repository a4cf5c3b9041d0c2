package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.unsafe.types.UTF8String

/** SQL TABLE-FUNCTION entry points for the operator library: the
  * most-consumed operators registered in Spark's
  * `tableFunctionRegistry`, so a pure-SQL consumer reaches them as
  * `SELECT * FROM graft_top_ngrams('documents', 'text', 2, 20)` over
  * any registered view — the same mechanism `range(...)` and
  * `explode(...)` use in the FROM clause. Each TVF builds the identical
  * Dataset-API plan (the builder closes over the public operator and
  * inlines its analyzed plan), so SQL and Scala consumers get
  * bit-identical results — pinned by the q243–q246 oracle queries,
  * which share the Dataset forms' DuckDB oracles verbatim.
  *
  * Registration is session-scoped and idempotent
  * (`createOrReplaceTempFunction`); [[graft.GraftSession]] and the
  * SparkEntry wrappers call it alongside
  * [[graft.functions.Native.register]].
  *
  * Argument trust: the `*Expr` parameters (valueExpr, xExpr, …) are by
  * design TRUSTED Spark-SQL expression text, evaluated in the caller's
  * own session with the caller's own privileges — exactly like any other
  * fragment of the SQL statement the TVF call sits in, so they grant
  * nothing the surrounding statement couldn't already express. Pure-data
  * arguments are validated strictly instead: dates must parse as ISO
  * dates before they are ever interpolated ([[Analytics.calendar]]),
  * table/column names resolve through the catalog, and counts must be
  * integer literals.
  */
object SqlRegistry {

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  def register(s: SparkSession): Unit = {
    def tvf(name: String)(build: Seq[Expression] => DataFrame): Unit =
      s.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name,
        (exprs: Seq[Expression]) => GraftShim.analyzed(build(exprs)),
        "built-in")

    // graft_dedup_clusters(table, idCol, textCol): transitive MinHash-LSH
    // duplicate clusters of a document view (the q60 operator chain).
    tvf("graft_dedup_clusters") { exprs =>
      require(exprs.length == 3,
        "graft_dedup_clusters(table, idCol, textCol)")
      val t = s.table(strLit(exprs(0), "table"))
      // Content-keyed pair materialization: shares the Dataset route's
      // handle when the view resolves to the same relation (the key is
      // the resolved plan, never the view name — Materialized.ofContent).
      Dedup.dedupClusters(
        Dedup.lshPairsContent(t, strLit(exprs(1), "idCol"),
          strLit(exprs(2), "textCol")),
        "d1", "d2")
    }

    // graft_top_ngrams(table, textCol, n, k): corpus-wide top-k word
    // n-grams with deterministic tie-breaks (the q42 operator).
    tvf("graft_top_ngrams") { exprs =>
      require(exprs.length == 4, "graft_top_ngrams(table, textCol, n, k)")
      PipelineOps.topNgrams(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "textCol"),
        intLit(exprs(2), "n"), intLit(exprs(3), "k"))
    }

    // graft_cosine_topk(table, idCol, vecCol, maxQueryId, k): exact brute
    // cosine top-k of the id < maxQueryId rows against the whole view
    // (the q30 operator, ranked by Similarity.rankTopK).
    tvf("graft_cosine_topk") { exprs =>
      require(exprs.length == 5,
        "graft_cosine_topk(table, idCol, vecCol, maxQueryId, k)")
      val t = s.table(strLit(exprs(0), "table"))
      val idCol = strLit(exprs(1), "idCol")
      Similarity.bruteTopK(
        t.filter(col(idCol) < intLit(exprs(3), "maxQueryId")), t,
        idCol, strLit(exprs(2), "vecCol"), intLit(exprs(4), "k"))
    }

    // graft_decile_table(table, groupCol, valueExpr): exact nearest-rank
    // D1..D9 per group of any SQL value expression (the q229 operator).
    tvf("graft_decile_table") { exprs =>
      require(exprs.length == 3,
        "graft_decile_table(table, groupCol, valueExpr)")
      Analytics.decileTable(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "valueExpr")),
        quantized = true)
    }

    // graft_salt_plan(table, keyCol, targetPerTask): ceil(n/target) salt
    // factors for over-target keys (the q259 operator) — the skew-join
    // tuning table, now reachable from pure SQL.
    tvf("graft_salt_plan") { exprs =>
      require(exprs.length == 3,
        "graft_salt_plan(table, keyCol, targetPerTask)")
      Profile.saltPlan(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "keyCol"), intLit(exprs(2), "targetPerTask").toLong)
    }

    // graft_grouped_corr(table, groupCol, xName, xExpr, yName, yExpr):
    // per-group Pearson correlation of two pre-quantized SQL expressions
    // (the q268 operator).
    tvf("graft_grouped_corr") { exprs =>
      require(exprs.length == 6,
        "graft_grouped_corr(table, groupCol, xName, xExpr, yName, yExpr)")
      Profile.groupedCorr(s.table(strLit(exprs(0), "table")),
        col(strLit(exprs(1), "groupCol")),
        strLit(exprs(2), "xName") -> expr(strLit(exprs(3), "xExpr")),
        strLit(exprs(4), "yName") -> expr(strLit(exprs(5), "yExpr")))
    }

    // graft_topk_others(table, groupCol, memberExpr, k): top-k members
    // per group plus the exact OTHERS remainder (the q281 operator).
    tvf("graft_topk_others") { exprs =>
      require(exprs.length == 4,
        "graft_topk_others(table, groupCol, memberExpr, k)")
      Analytics.topKWithOthers(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "memberExpr")),
        intLit(exprs(3), "k"))
    }

    // graft_iqr_outliers(table, groupCol, valueExpr): Tukey-fence
    // outlier audit per group (the q283 operator).
    tvf("graft_iqr_outliers") { exprs =>
      require(exprs.length == 3,
        "graft_iqr_outliers(table, groupCol, valueExpr)")
      Analytics.iqrOutliers(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "valueExpr")),
        quantized = true)
    }

    // graft_anova(table, groupCol, valueExpr): one-way ANOVA SS
    // decomposition + F in exact integer algebra (the q315 operator).
    tvf("graft_anova") { exprs =>
      require(exprs.length == 3, "graft_anova(table, groupCol, valueExpr)")
      Profile.anovaTable(s.table(strLit(exprs(0), "table")),
        col(strLit(exprs(1), "groupCol")),
        expr(strLit(exprs(2), "valueExpr")))
    }

    // graft_kaplan_meier(table, durationExpr, eventExpr): product-limit
    // survival over right-censored durations (the q317 operator) —
    // composes with a TEMP VIEW for the per-unit duration derivation.
    tvf("graft_kaplan_meier") { exprs =>
      require(exprs.length == 3,
        "graft_kaplan_meier(table, durationExpr, eventExpr)")
      Analytics.kaplanMeier(s.table(strLit(exprs(0), "table")),
        expr(strLit(exprs(1), "durationExpr")),
        expr(strLit(exprs(2), "eventExpr")))
    }

    // graft_nelson_aalen(table, durationExpr, eventExpr): cumulative-
    // hazard companion to graft_kaplan_meier (the q340 operator) — same
    // composition contract: derive per-unit durations in a TEMP VIEW.
    tvf("graft_nelson_aalen") { exprs =>
      require(exprs.length == 3,
        "graft_nelson_aalen(table, durationExpr, eventExpr)")
      Analytics.nelsonAalen(s.table(strLit(exprs(0), "table")),
        expr(strLit(exprs(1), "durationExpr")),
        expr(strLit(exprs(2), "eventExpr")))
    }

    // graft_holt_forecast(table, groupCol, periodExpr, valueExpr,
    // alphaMicro, betaMicro, horizon): exact integer-micro Holt
    // level+trend forecast per group (the q341 operator). Period ids
    // must be a CALENDAR-BOUNDED integer domain (months, weeks, days —
    // the per-group series is collected and folded sequentially, the
    // recurrence's own data dependence).
    tvf("graft_holt_forecast") { exprs =>
      require(exprs.length == 7,
        "graft_holt_forecast(table, groupCol, periodExpr, valueExpr, " +
          "alphaMicro, betaMicro, horizon)")
      Analytics.holtForecast(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "periodExpr")),
        expr(strLit(exprs(3), "valueExpr")),
        alphaMicro = intLit(exprs(4), "alphaMicro").toLong,
        betaMicro = intLit(exprs(5), "betaMicro").toLong,
        horizon = intLit(exprs(6), "horizon"))
    }

    // graft_holt_winters(table, groupCol, periodExpr, valueExpr, m,
    // alphaMicro, betaMicro, gammaMicro, horizon): seasonal
    // exponential-smoothing forecast (the q345 operator); same
    // calendar-bounded period-domain contract as graft_holt_forecast.
    tvf("graft_holt_winters") { exprs =>
      require(exprs.length == 9,
        "graft_holt_winters(table, groupCol, periodExpr, valueExpr, m, " +
          "alphaMicro, betaMicro, gammaMicro, horizon)")
      Analytics.holtWintersForecast(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "periodExpr")),
        expr(strLit(exprs(3), "valueExpr")), m = intLit(exprs(4), "m"),
        alphaMicro = intLit(exprs(5), "alphaMicro").toLong,
        betaMicro = intLit(exprs(6), "betaMicro").toLong,
        gammaMicro = intLit(exprs(7), "gammaMicro").toLong,
        horizon = intLit(exprs(8), "horizon"))
    }

    // graft_isotonic_fit(table, groupCol, xExpr, yMicroExpr): increasing
    // isotonic (PAV) calibration curve per group (the q347 operator).
    tvf("graft_isotonic_fit") { exprs =>
      require(exprs.length == 4,
        "graft_isotonic_fit(table, groupCol, xExpr, yMicroExpr)")
      Profile.isotonicFit(s.table(strLit(exprs(0), "table")),
        col(strLit(exprs(1), "groupCol")), expr(strLit(exprs(2), "xExpr")),
        expr(strLit(exprs(3), "yMicroExpr")))
    }

    // graft_welch_t(table, groupCol, valueExpr, armA, armB): Welch's
    // unequal-variance two-sample t between the two named arms (the
    // q356 operator).
    tvf("graft_welch_t") { exprs =>
      require(exprs.length == 5,
        "graft_welch_t(table, groupCol, valueExpr, armA, armB)")
      Profile.welchT(s.table(strLit(exprs(0), "table")),
        col(strLit(exprs(1), "groupCol")), expr(strLit(exprs(2), "valueExpr")),
        strLit(exprs(3), "armA"), strLit(exprs(4), "armB"))
    }

    // graft_yule_walker(table, groupCol, periodExpr, valueExpr): AR(2)
    // momentum coefficients per group (the q390 operator).
    tvf("graft_yule_walker") { exprs =>
      require(exprs.length == 4,
        "graft_yule_walker(table, groupCol, periodExpr, valueExpr)")
      Analytics.yuleWalkerAr2(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "periodExpr")),
        expr(strLit(exprs(3), "valueExpr")))
    }

    // graft_permutation_test(table, keyExpr, valueExpr, groupExpr,
    // replicates): deterministic hash-allocation permutation p-value for
    // a mean difference (the q392 operator).
    tvf("graft_permutation_test") { exprs =>
      require(exprs.length == 5,
        "graft_permutation_test(table, keyExpr, valueExpr, groupExpr, " +
          "replicates)")
      Profile.permutationMeanTest(s.table(strLit(exprs(0), "table")),
        expr(strLit(exprs(1), "keyExpr")), expr(strLit(exprs(2), "valueExpr")),
        expr(strLit(exprs(3), "groupExpr")), intLit(exprs(4), "replicates"))
    }

    // graft_hamming_pairs(table, idCol, hashExpr, bands, bandBits,
    // maxHamming): banded pigeonhole near-dup pairs over any packed
    // integer fingerprint expression (the q351/q354 operator) — compose
    // with a TEMP VIEW deriving the hash (e.g.
    // graft_simhash(split(text, ' '))), the q327 composition contract.
    tvf("graft_hamming_pairs") { exprs =>
      require(exprs.length == 6,
        "graft_hamming_pairs(table, idCol, hashExpr, bands, bandBits, " +
          "maxHamming)")
      val idCol = strLit(exprs(1), "idCol")
      Dedup.hammingPairs(
        s.table(strLit(exprs(0), "table"))
          .select(col(idCol), expr(strLit(exprs(2), "hashExpr")).as("__h"))
          .where(col("__h").isNotNull),
        idCol, "__h", intLit(exprs(3), "bands"), intLit(exprs(4), "bandBits"),
        intLit(exprs(5), "maxHamming"))
    }

    // graft_hamming_admit(refTable, inTable, idCol, hashExpr, bands,
    // bandBits, maxHamming): zero-state banded near-dup ADMISSION (the
    // q434 operator) — rows of inTable admitted iff no refTable hash
    // lies within maxHamming (exact for maxHamming < bands).
    tvf("graft_hamming_admit") { exprs =>
      require(exprs.length == 7,
        "graft_hamming_admit(refTable, inTable, idCol, hashExpr, bands, " +
          "bandBits, maxHamming)")
      val idCol = strLit(exprs(2), "idCol")
      val hashExpr = strLit(exprs(3), "hashExpr")
      val bands = intLit(exprs(4), "bands")
      val bandBits = intLit(exprs(5), "bandBits")
      def hashed(t: String) = s.table(t)
        .select(col(idCol), expr(hashExpr).as("__h"))
        .where(col("__h").isNotNull)
      Dedup.hammingAdmit(hashed(strLit(exprs(1), "inTable")), "__h",
          Dedup.hammingIndex(hashed(strLit(exprs(0), "refTable")), idCol,
            "__h", bands, bandBits),
          bands, bandBits, intLit(exprs(6), "maxHamming"))
        .select(col(idCol), col("admitted"))
    }

    // graft_dedup_spans(table, idCol, textCol, k, w): cross-document
    // repeated-span cut plan (the q367 operator) — the SQL seam for the
    // Lee-et-al. corpus dedup loop; feed the result to
    // graft_apply_span_cuts to emit the cleaned corpus.
    tvf("graft_dedup_spans") { exprs =>
      require(exprs.length == 5,
        "graft_dedup_spans(table, idCol, textCol, k, w)")
      Dedup.dedupSpans(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "idCol"), strLit(exprs(2), "textCol"),
        k = intLit(exprs(3), "k"), w = intLit(exprs(4), "w"))
    }

    // graft_conformal_holt(table, groupCol, periodExpr, valueExpr, calN,
    // horizon, confAlphaMicro): Holt forecast with split-conformal
    // intervals (the q369 operator); smoothing params ride the q341
    // defaults — same calendar-bounded period-domain contract.
    tvf("graft_conformal_holt") { exprs =>
      require(exprs.length == 7,
        "graft_conformal_holt(table, groupCol, periodExpr, valueExpr, " +
          "calN, horizon, confAlphaMicro)")
      Analytics.conformalHoltForecast(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "groupCol"), expr(strLit(exprs(2), "periodExpr")),
        expr(strLit(exprs(3), "valueExpr")),
        calN = intLit(exprs(4), "calN"),
        horizon = intLit(exprs(5), "horizon"),
        confAlphaMicro = intLit(exprs(6), "confAlphaMicro").toLong)
    }

    // graft_dbscan(table, idCol, xExpr, yExpr, epsMicro, minPts):
    // grid-bucketed exact DBSCAN over any 2-D projection (the q404
    // operator) — cluster/border/noise census keyed by min member id.
    tvf("graft_dbscan") { exprs =>
      require(exprs.length == 6,
        "graft_dbscan(table, idCol, xExpr, yExpr, epsMicro, minPts)")
      Similarity.dbscanGrid(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "idCol"),
        expr(strLit(exprs(2), "xExpr")), expr(strLit(exprs(3), "yExpr")),
        epsMicro = intLit(exprs(4), "epsMicro").toLong,
        minPts = intLit(exprs(5), "minPts"))
    }

    // graft_closeness(table, srcCol, dstCol[, maxDepth]): multi-source-BFS
    // closeness centrality / eccentricity over any undirected edge view
    // (the q407 operator) — compose with a TEMP VIEW deriving the edges,
    // the q327 composition contract. maxDepth (default 64) fails loudly
    // when a shortest path exceeds it.
    // Optional 5th arg: pivot count for the Eppstein–Wang sampled
    // estimate (0 = exact all-sources) — the corpus-scale lever.
    tvf("graft_closeness") { exprs =>
      require(exprs.length >= 3 && exprs.length <= 5,
        "graft_closeness(table, srcCol, dstCol[, maxDepth[, sources]])")
      Graph.closenessCentrality(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "srcCol"), strLit(exprs(2), "dstCol"),
        maxDepth = if (exprs.length >= 4) intLit(exprs(3), "maxDepth")
          else 64,
        sources = if (exprs.length == 5) intLit(exprs(4), "sources")
          else 0)
    }

    // graft_hst_outliers(table, idCol, xExpr, yExpr, depth, topN):
    // deterministic half-space-tree outlier scores over any 2-D
    // projection (the q411 operator) — the linear-cost outlier scan.
    tvf("graft_hst_outliers") { exprs =>
      require(exprs.length == 6,
        "graft_hst_outliers(table, idCol, xExpr, yExpr, depth, topN)")
      Similarity.hstOutliers(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "idCol"),
        Seq(expr(strLit(exprs(2), "xExpr")), expr(strLit(exprs(3), "yExpr"))),
        depth = intLit(exprs(4), "depth"), topN = intLit(exprs(5), "topN"))
    }

    // graft_betweenness(table, srcCol, dstCol, sources, maxDepth, topN):
    // sampled-source Brandes betweenness over any undirected edge view
    // (the q414 operator) — the q327 TEMP-VIEW composition contract.
    tvf("graft_betweenness") { exprs =>
      require(exprs.length == 6,
        "graft_betweenness(table, srcCol, dstCol, sources, maxDepth, topN)")
      Graph.betweennessSampled(s.table(strLit(exprs(0), "table")),
        strLit(exprs(1), "srcCol"), strLit(exprs(2), "dstCol"),
        sources = intLit(exprs(3), "sources"),
        maxDepth = intLit(exprs(4), "maxDepth"),
        topN = intLit(exprs(5), "topN"))
    }

    // graft_knn_edges_ivf(table, idCol, vecCol, maxSeedId, k, nprobe):
    // the bucketed kNN-graph builder (the q420 operator) — seeds are the
    // id < maxSeedId rows; feed the (u, v) edges to graft_closeness /
    // graft_betweenness for the full SQL-only centrality chain.
    tvf("graft_knn_edges_ivf") { exprs =>
      require(exprs.length == 6,
        "graft_knn_edges_ivf(table, idCol, vecCol, maxSeedId, k, nprobe)")
      val t = s.table(strLit(exprs(0), "table"))
      val idCol = strLit(exprs(1), "idCol")
      Similarity.knnEdgesIvf(t,
        t.filter(col(idCol) < intLit(exprs(3), "maxSeedId")),
        idCol, strLit(exprs(2), "vecCol"),
        k = intLit(exprs(4), "k"), nprobe = intLit(exprs(5), "nprobe"))
    }

    // graft_ipw_ate(table, treatExpr, outcomeExpr, lrShift, iters,
    // featExpr, ...): inverse-propensity-weighted ATE with the naive
    // contrast beside it (the q406 operator) — trailing args are the
    // propensity features (include an intercept, e.g. '1L').
    tvf("graft_ipw_ate") { exprs =>
      require(exprs.length >= 6,
        "graft_ipw_ate(table, treatExpr, outcomeExpr, lrShift, iters, " +
          "featExpr, ...)")
      Supervised.ipwAte(s.table(strLit(exprs(0), "table")),
        expr(strLit(exprs(1), "treatExpr")),
        expr(strLit(exprs(2), "outcomeExpr")),
        exprs.drop(5).zipWithIndex.map { case (e, j) =>
          s"f$j" -> expr(strLit(e, s"featExpr$j")) },
        lrShift = intLit(exprs(3), "lrShift"),
        iters = intLit(exprs(4), "iters"))
    }

    // graft_gcomp_ate(table, treatExpr, outcomeExpr, featExpr, ...):
    // stratified g-computation ATE with the dropped-strata positivity
    // audit (the q415 operator) — trailing args are the exact strata.
    tvf("graft_gcomp_ate") { exprs =>
      require(exprs.length >= 4,
        "graft_gcomp_ate(table, treatExpr, outcomeExpr, featExpr, ...)")
      Supervised.gcompAte(s.table(strLit(exprs(0), "table")),
        expr(strLit(exprs(1), "treatExpr")),
        expr(strLit(exprs(2), "outcomeExpr")),
        exprs.drop(3).zipWithIndex.map { case (e, j) =>
          s"f$j" -> expr(strLit(e, s"featExpr$j")) })
    }

    // graft_psm_att(table, treatExpr, outcomeExpr, lrShift, iters,
    // caliperQ, featExpr, ...): propensity-score-matched ATT with the
    // unmatched-treated overlap audit (the q419 operator); caliper in
    // sigmoid quanta (1/2^20).
    tvf("graft_psm_att") { exprs =>
      require(exprs.length >= 7,
        "graft_psm_att(table, treatExpr, outcomeExpr, lrShift, iters, " +
          "caliperQ, featExpr, ...)")
      Supervised.psmAtt(s.table(strLit(exprs(0), "table")),
        expr(strLit(exprs(1), "treatExpr")),
        expr(strLit(exprs(2), "outcomeExpr")),
        exprs.drop(6).zipWithIndex.map { case (e, j) =>
          s"f$j" -> expr(strLit(e, s"featExpr$j")) },
        lrShift = intLit(exprs(3), "lrShift"),
        iters = intLit(exprs(4), "iters"),
        caliperQ = intLit(exprs(5), "caliperQ").toLong)
    }

    // graft_calendar(startDate, endDate): inclusive date spine with the
    // calendar attributes every BI join needs, all derived TIMEZONE-FREE
    // from epoch-day arithmetic (dow via (day_id + 3) % 7, 0 = Monday —
    // no session-timezone or engine dow-origin dependence).
    tvf("graft_calendar") { exprs =>
      require(exprs.length == 2, "graft_calendar(startDate, endDate)")
      Analytics.calendar(s, strLit(exprs(0), "startDate"),
        strLit(exprs(1), "endDate"))
    }
  }
}
