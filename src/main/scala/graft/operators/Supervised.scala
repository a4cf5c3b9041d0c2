package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import FixedPoint.{fd, fdH, floorDiv}

/** Supervised learning primitives as pure aggregation pipelines — the
  * "train a small model inside the warehouse" surface (reference:
  * kinesis-stream exposes per-record scoring hooks only; the training
  * side here is the standard batch-gradient formulation every engine
  * textbook reduces to a per-iteration scan + sum, e.g. lineitem-scale
  * label-quality probes before an expensive external training job).
  *
  * Cross-engine determinism (the [[Similarity.powerIteration]] recipe,
  * iterated over DATA instead of a collected Gram matrix): the model
  * state (weights) lives on the driver in exact BIGINT micros; each
  * iteration issues ONE distributed aggregation whose per-row
  * contribution is quantized to an integer BEFORE the sum, so the only
  * floating-point op — the per-row sigmoid — is a pure function of
  * exact integer inputs, and the sum itself is order-independent
  * integer addition. The weight update is floor-division integer
  * algebra ([[FixedPoint]] holds the rule and its oracle spelling,
  * [[FixedPoint.fd]]). The oracle replays the identical
  * fold as an UNROLLED per-iteration CTE chain (the [[Graph.kCore]]
  * generated-peel pattern).
  *
  * Scale design: the corpus is scanned ONCE — the feature projection
  * collapses to distinct (label, x⃗) CELLS with a count (one
  * map-side-combined groupBy; bucketized features make the cell table
  * tiny, and continuous features degenerate gracefully to cnt=1 rows,
  * i.e. the old per-row cost) — and each of the T iterations is then a
  * map-side-partial sum over the persisted cell table with every
  * contribution weighted by cnt (exact: Σ_rows r·x = Σ_cells cnt·r·x
  * because the quantized response is a pure function of the cell key).
  * No shuffle wider than one row of partials per partition, no
  * driver-side data, state is O(features). Gradient sums at 100 TB
  * should widen to DECIMAL(38,0) (a 2^20-scaled residual times a
  * feature times 10^11 rows can pass 2^63) — at the tested scales
  * BIGINT has five orders of headroom.
  */
object Supervised {

  private val SigScale = 1L << 20 // sigmoid quantization: p in 1/2^20 units

  /** Persist a collapsed (…, cnt) cell relation for iterative fitting,
    * squeezing a bounded cell table onto ONE partition so every training
    * iteration is a one-task job — iteration cost is cells, not corpus,
    * and locally the dominant per-iteration cost would otherwise be the
    * 2·partitions task launches. A degenerate collapse (continuous
    * features, > 64k cells) keeps the shuffle layout instead. Returns
    * (cells, Σcnt); the caller unpersists the returned relation. */
  private def persistCells(grouped: DataFrame): (DataFrame, Long) = {
    val p0 = grouped.persist()
    val r = p0.agg(coalesce(sum("cnt"), lit(0L)), count(lit(1))).head()
    val (n, cells) = (r.getLong(0), r.getLong(1))
    if (cells <= 65536L) {
      val p1 = p0.coalesce(1).persist()
      p1.count() // materialize before freeing the wide copy
      p0.unpersist()
      (p1, n)
    } else (p0, n)
  }

  /** w·x/10⁶ over columns x0..x{k-1}, from the EXACT integer dot product. */
  private def wx(w: Array[Long], k: Int): Column =
    (0 until k).map(j => lit(w(j)) * col(s"x$j"))
      .reduce(_ + _).cast("double") / lit(1e6)

  /** The quantized sigmoid of z: p quantized to 1/2^20 before anything is
    * summed (the one float op, a pure function of integer inputs).
    */
  private def sigmoidQ(z: Column): Column =
    floor(lit(1.0) / (lit(1.0) + exp(-z)) * lit(SigScale.toDouble) +
      lit(0.5)).cast("long")

  /** The quantized sigmoid of w·x over columns x0..x{k-1}. */
  private def sigmoidQ(w: Array[Long], k: Int): Column = sigmoidQ(wx(w, k))

  /** The shared full-batch GD loop over a persisted cell table (columns
    * y, x0.., cnt): T iterations, each ONE map-side-partial aggregation
    * of the residual link(w) − y·2^20; returns the fitted weights in
    * micros. `link` is the quantized mean response at weights w: the
    * sigmoid for [[logisticFit]], [[ipwAte]] and [[psmAtt]], the clamped
    * exp for [[poissonFit]].
    */
  private def gdWeights(cells: DataFrame, k: Int, n: Long, den: Long,
      iters: Int, link: Array[Long] => Column): Array[Long] = {
    val w = Array.fill(k)(0L)
    for (_ <- 1 to iters) {
      val r = (link(w) - col("y") * lit(SigScale)).as("r")
      val g = cells.select((r +: col("cnt") +:
          (0 until k).map(j => col(s"x$j"))): _*)
        .agg(sum(col("r") * col("x0") * col("cnt")).as("g0"),
          (1 until k).map(j =>
            sum(col("r") * col(s"x$j") * col("cnt")).as(s"g$j")): _*)
        .head()
      var j = 0
      while (j < k) {
        w(j) -= Math.floorDiv(Math.floorDiv(g.getLong(j), n) * 1000000L, den)
        j += 1
      }
    }
    w
  }

  /** Binary logistic regression fit by T steps of full-batch gradient
    * descent with learning rate 2^-lrShift, in the fixed-point scheme
    * above. `features` are (name, integer-valued column) pairs — the
    * caller bucketizes/scales so z = w·x stays in the sigmoid's active
    * range (at 100 TB you'd standardize with an exact two-pass
    * mean/std; the bucketized form keeps the demo integer-exact).
    *
    * Returns one row per term, ORDER BY term: the fitted weights in
    * micros (`w_<name>`) plus `n_correct` (rows where the fitted model
    * predicts the label at the p >= 1/2 threshold) and `n_rows`.
    */
  def logisticFit(df: DataFrame, label: Column,
      features: Seq[(String, Column)], lrShift: Int, iters: Int): DataFrame = {
    require(features.nonEmpty, "logisticFit needs at least one feature")
    require(iters >= 1 && lrShift >= 0, "need iters >= 1, lrShift >= 0")
    val s = df.sparkSession
    import s.implicits._
    val den = 1L << (20 + lrShift)
    val names = features.map(_._1)
    val k = features.size
    val keyCols = "y" +: (0 until k).map(j => s"x$j")
    val (proj, n) = persistCells(df.select(
        (label.cast("long").as("y") +:
          features.zipWithIndex.map { case ((_, c), j) =>
            c.cast("long").as(s"x$j") }): _*)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt")))
    try {
      require(n > 0, "logisticFit needs rows")
      val w = gdWeights(proj, k, n, den, iters, sigmoidQ(_, k))
      // One scoring pass with the final weights: predict 1 iff p >= 1/2,
      // i.e. quantized p >= 2^19 — integer compare, no tie ambiguity.
      val pred = sigmoidQ(w, k) >= lit(SigScale / 2)
      val correct = proj
        .agg(sum(when(pred === (col("y") === 1L), col("cnt")).otherwise(0L)))
        .head().getLong(0)
      val rows = names.zip(w).map { case (nm, wj) => (s"w_$nm", wj) } ++
        Seq(("n_correct", correct), ("n_rows", n))
      s.createDataset(rows).toDF("term", "value").orderBy("term")
    } finally proj.unpersist()
  }

  /** The unrolled logistic-GD CTE chain shared by [[logisticFitSql]]
    * and [[ipwAteSql]]: `f` (the projection), `nn`, and w0..w<iters>.
    * `featsSql` must project y, x0..x{k-1} (extra columns ride along).
    */
  private def logisticCtes(featsSql: String, k: Int, lrShift: Int,
      iters: Int): Seq[String] = {
    val den = 1L << (20 + lrShift)
    val wCols = (0 until k).map(j => s"w$j")
    Seq(
      s"f AS MATERIALIZED ($featsSql)",
      "nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM f)",
      s"w0 AS MATERIALIZED (SELECT ${wCols.map(c => s"0::BIGINT AS $c").mkString(", ")})") ++
      (1 to iters).flatMap { t =>
        val z = (0 until k).map(j => s"w.w$j*x$j").mkString(" + ")
        val g = s"""g$t AS MATERIALIZED (
          SELECT ${(0 until k).map(j =>
            s"sum((P - y*$SigScale)*x$j) AS g$j").mkString(", ")}
          FROM (SELECT y, ${(0 until k).map(j => s"x$j").mkString(", ")},
              floor(1.0/(1.0+exp(-(($z)/1e6)))*$SigScale + 0.5)::BIGINT AS P
            FROM f, w${t - 1} w))"""
        val upd = s"""w$t AS MATERIALIZED (
          SELECT ${(0 until k).map(j =>
            s"w.w$j - ${fd(fd(s"g.g$j", "nn.n") + "*1000000", den.toString)} AS w$j")
            .mkString(", ")}
          FROM w${t - 1} w, g$t g, nn)"""
        Seq(g, upd)
      }
  }

  /** The quantized-sigmoid SQL over f joined with w<t> (alias w). */
  private def sigmoidQSql(k: Int): String = {
    val z = (0 until k).map(j => s"w.w$j*x$j").mkString(" + ")
    s"floor(1.0/(1.0+exp(-(($z)/1e6)))*$SigScale + 0.5)::BIGINT"
  }

  /** Generated unrolled-fold oracle for [[logisticFit]]: w0 carries the
    * zero weights, then per iteration one gradient CTE over the feature
    * projection joined to the previous weight row, exactly the driver
    * fold. featsSql projects columns y, x0..x{k-1}.
    */
  private def logisticFitSql(featsSql: String, names: Seq[String],
      lrShift: Int, iters: Int): String = {
    val k = names.size
    val levels = logisticCtes(featsSql, k, lrShift, iters)
    s"""WITH ${levels.mkString(",\n")},
      scored AS (
        SELECT y, CASE WHEN ${sigmoidQSql(k)} >= ${SigScale / 2}
          THEN 1 ELSE 0 END AS pred
        FROM f, w$iters w),
      terms AS (
        ${names.zipWithIndex.map { case (nm, j) =>
          s"SELECT 'w_$nm' AS term, w$j::BIGINT AS value FROM w$iters" }
          .mkString("\n        UNION ALL ")}
        UNION ALL SELECT 'n_correct', sum(CASE WHEN pred = y THEN 1 ELSE 0
          END)::BIGINT FROM scored
        UNION ALL SELECT 'n_rows', n::BIGINT FROM nn)
      SELECT term, value FROM terms ORDER BY term"""
  }

  /** Ordinary least squares for TWO regressors plus intercept, solved
    * EXACTLY by Cramer's rule over the normal equations — no iteration,
    * no floating point until the caller interprets the micros. It is the
    * λ = 0 point of [[ridgePath2]]'s solve ([[ridgeFit]]), read out as
    * term/value rows: b0/b1/b2 in micros, n_rows and R² in ppm. This is
    * the closed-form companion to [[logisticFit]]'s iterative fit.
    */
  def olsFit2(df: DataFrame, yCol: Column, x1Col: Column,
      x2Col: Column): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val (n, Seq((_, b0, b1, b2, r2))) = ridgeFit(df, yCol, x1Col, x2Col,
      Seq(0L), "olsFit2",
      _ => "olsFit2: singular normal matrix (collinear features)")
    s.createDataset(Seq(("b0_micro", b0), ("b1_micro", b1),
        ("b2_micro", b2), ("n_rows", n), ("r2_ppm", r2)))
      .toDF("term", "value").orderBy("term")
  }

  /** Ridge regularization PATH for two regressors plus (unpenalized)
    * intercept: the normal equations with λ added to the feature
    * diagonal, solved by Cramer's rule at every requested λ from the
    * SAME ten moment sums. The entire path costs ONE distributed pass,
    * because coefficients AND the R² readout are pure moment algebra
    * ([[ridgeFit]]); [[olsFit2]] is the same solve at λ = 0. The
    * collinearity instrument: watch b1/b2 trade mass as λ grows while
    * R² barely moves — the classic "the pair is one feature" read.
    */
  def ridgePath2(df: DataFrame, yCol: Column, x1Col: Column,
      x2Col: Column, lambdas: Seq[Long]): DataFrame = {
    require(lambdas.nonEmpty && lambdas.forall(_ >= 0),
      "ridgePath2 needs non-negative lambdas")
    val s = df.sparkSession
    import s.implicits._
    val (_, rows) = ridgeFit(df, yCol, x1Col, x2Col, lambdas, "ridgePath2",
      lam => s"ridgePath2: singular at lambda=$lam")
    s.createDataset(rows)
      .toDF("lambda", "b0_micro", "b1_micro", "b2_micro", "r2_ppm")
      .orderBy("lambda")
  }

  /** The moment pass and exact solve behind [[olsFit2]] and
    * [[ridgePath2]]. One aggregation sums the ten moments of (y, x1, x2)
    * in DECIMAL(38,0): Σy² passes 2^63 on q382 at sf0.1. Each product is
    * formed in BIGINT, so keep inputs integer-scaled with |x·y| < 2^63.
    * Per λ, [[FixedPoint.cramer]] solves the normal matrix with λ on the
    * feature diagonal in driver BigInt (HUGEINT in the oracle), and the
    * coefficients floor to micros. SSE and SST expand exactly into the
    * UNPENALIZED moments, so R² needs no residual pass; it is reported in
    * ppm with ONE fixed truncation chain (SST floor-divided by 10⁶
    * first). Returns n and, per λ, (λ, b0, b1, b2, r2_ppm).
    */
  private def ridgeFit(df: DataFrame, yCol: Column, x1Col: Column,
      x2Col: Column, lambdas: Seq[Long], who: String,
      singular: Long => String): (Long, Seq[(Long, Long, Long, Long, Long)]) = {
    def wide(c: Column) = sum(c.cast("decimal(38,0)"))
    val (y, x1, x2) = (col("y"), col("x1"), col("x2"))
    val m = df.select(yCol.cast("long").as("y"),
        x1Col.cast("long").as("x1"), x2Col.cast("long").as("x2"))
      .agg(count(lit(1)), wide(x1), wide(x2), wide(x1 * x1), wide(x1 * x2),
        wide(x2 * x2), wide(y), wide(x1 * y), wide(x2 * y), wide(y * y))
      .head()
    require(m.getLong(0) > 2, s"$who needs more rows than parameters")
    val n = BigInt(m.getLong(0))
    val Seq(s1, s2, s11, s12, s22, sy, s1y, s2y, syy) =
      (1 to 9).map(i => BigInt(m.getDecimal(i).toBigInteger))
    val M = BigInt(1000000)
    val ym = floorDiv(sy * M, n)
    val sst = M * M * syy - 2 * ym * M * sy + n * ym * ym
    (n.toLong, lambdas.map { lam =>
      val (det, Seq(d0, d1, d2)) = FixedPoint.cramer(Seq(Seq(n, s1, s2),
        Seq(s1, s11 + lam, s12), Seq(s2, s12, s22 + lam)), Seq(sy, s1y, s2y))
      require(det != 0, singular(lam))
      val (b0, b1, b2) = (floorDiv(d0 * M, det), floorDiv(d1 * M, det),
        floorDiv(d2 * M, det))
      require(b0.isValidLong && b1.isValidLong && b2.isValidLong,
        s"$who: coefficient out of BIGINT micro range — rescale inputs")
      val sse = M * M * syy + n * b0 * b0 + b1 * b1 * s11 +
        b2 * b2 * s22 - 2 * M * (b0 * sy + b1 * s1y + b2 * s2y) +
        2 * (b0 * b1 * s1 + b0 * b2 * s2 + b1 * b2 * s12)
      val r2 = if (sst == 0) BigInt(0) else M - floorDiv(sse, floorDiv(sst, M))
      (lam, b0.toLong, b1.toLong, b2.toLong, r2.toLong)
    })
  }

  /** Generated oracle for [[ridgePath2]]: one moments CTE, then per λ a
    * HUGEINT determinant/coefficient/SSE block, UNION ALL'd.
    */
  private def ridgePath2Sql(projSql: String, lambdas: Seq[Long]): String = {
    val mo = """m AS MATERIALIZED (
      SELECT count(*)::HUGEINT AS n, sum(x1)::HUGEINT AS s1,
        sum(x2)::HUGEINT AS s2, sum(x1*x1)::HUGEINT AS s11,
        sum(x1*x2)::HUGEINT AS s12, sum(x2*x2)::HUGEINT AS s22,
        sum(y)::HUGEINT AS sy, sum(x1*y)::HUGEINT AS s1y,
        sum(x2*y)::HUGEINT AS s2y, sum(y*y)::HUGEINT AS syy
      FROM (""" + projSql + "))"
    val blocks = lambdas.map { lam =>
      s"""SELECT $lam::BIGINT AS lambda, b0::BIGINT AS b0_micro,
        b1::BIGINT AS b1_micro, b2::BIGINT AS b2_micro,
        (CASE WHEN sst = 0 THEN 0 ELSE 1000000 -
          ${fdH("(1000000::HUGEINT*1000000*syy + n*b0*b0 + b1*b1*s11" +
            " + b2*b2*s22 - 2*1000000::HUGEINT*(b0*sy + b1*s1y + b2*s2y)" +
            " + 2*(b0*b1*s1 + b0*b2*s2 + b1*b2*s12))",
            fdH("sst", "1000000::HUGEINT"))} END)::BIGINT AS r2_ppm
      FROM (
        SELECT s1, s2, s11, s12, s22, sy, s1y, s2y, syy, n,
          ${fdH("det0*1000000::HUGEINT", "det")} AS b0,
          ${fdH("det1*1000000::HUGEINT", "det")} AS b1,
          ${fdH("det2*1000000::HUGEINT", "det")} AS b2,
          1000000::HUGEINT*1000000*syy - 2*ym*1000000::HUGEINT*sy
            + n*ym*ym AS sst
        FROM (
          SELECT *,
            n*(a*c - s12*s12) - s1*(s1*c - s12*s2)
              + s2*(s1*s12 - a*s2) AS det,
            sy*(a*c - s12*s12) - s1*(s1y*c - s12*s2y)
              + s2*(s1y*s12 - a*s2y) AS det0,
            n*(s1y*c - s12*s2y) - sy*(s1*c - s12*s2)
              + s2*(s1*s2y - s1y*s2) AS det1,
            n*(a*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
              + sy*(s1*s12 - a*s2) AS det2,
            ${fdH("sy*1000000::HUGEINT", "n")} AS ym
          FROM (SELECT *, (s11 + $lam)::HUGEINT AS a,
            (s22 + $lam)::HUGEINT AS c FROM m)))"""
    }
    s"WITH $mo\n${blocks.mkString("\n UNION ALL\n")}\nORDER BY lambda"
  }

  // ---- q412: does quantity's price signal survive shrinkage? -------------------
  // x2 = qty² is engineered collinear with x1 = qty; the path shows the
  // pair trading coefficient mass as λ grows while R² holds.
  private def q412(s: SparkSession, d: String): DataFrame =
    ridgePath2(Tables.lineitem(s, d),
      expr("CAST(round(l_extendedprice / 100) AS BIGINT)"),
      expr("CAST(l_quantity AS BIGINT)"),
      expr("CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)"),
      lambdas = Seq(0L, 1000L, 1000000L, 1000000000L))
  private val q412Sql = ridgePath2Sql(
    """SELECT round(l_extendedprice / 100)::BIGINT AS y,
        l_quantity::BIGINT AS x1,
        l_quantity::BIGINT * l_quantity::BIGINT AS x2 FROM lineitem""",
    Seq(0L, 1000L, 1000000L, 1000000000L))

  /** Leakage-safe leave-one-out target encoding: each row's category is
    * encoded as the mean label of the OTHER rows in its category —
    * `(Σ_cat y − y_i)·10⁶ div (n_cat − 1)` in exact micros, falling back
    * to the global mean for singleton categories. Returned as the
    * per-(category, label) audit (with a binary label the encoding takes
    * exactly two values per category): cat, y, n, enc_micro.
    *
    * Scale: one category aggregate (dimension-sized, broadcast back
    * onto the fact side) + one O(1) global row — the fact table is
    * touched once, map-side.
    */
  def looTargetEncode(df: DataFrame, catCol: Column,
      labelCol: Column): DataFrame = {
    val b = df.select(catCol.as("cat"), labelCol.cast("long").as("y"))
    val c = b.groupBy("cat").agg(count(lit(1)).as("n"), sum("y").as("s"))
    val g = b.agg(count(lit(1)).as("gn"), sum("y").as("gs"))
    b.join(broadcast(c), Seq("cat"))
      .crossJoin(broadcast(g))
      .select(col("cat"), col("y"),
        when(col("n") > 1, expr("(s - y) * 1000000 div (n - 1)"))
          .otherwise(expr("gs * 1000000 div gn")).as("enc_micro"))
      .groupBy("cat", "y")
      .agg(count(lit(1)).as("n"), first("enc_micro").as("enc_micro"))
      .orderBy("cat", "y")
  }

  /** ln quantized to exact integer micros at its single computation
    * site — every downstream sum is then order-independent BIGINT
    * addition (the [[naiveBayes]] discipline).
    */
  private def lnq(c: Column): Column =
    floor(log(c.cast("double")) * lit(1e6) + lit(0.5)).cast("long")

  /** Mutual information between each (bucketized, integer-valued)
    * feature and the label, ranked descending — the "which columns are
    * worth training on" screen. Unnormalized: MI_q = Σ_xy n_xy·(lnq n_xy
    * + lnq N − lnq n_x − lnq n_y) in micro-nat·rows, exact integer
    * algebra because ln(a/b) = ln a − ln b lets every logarithm take an
    * INTEGER argument.
    *
    * Scale: the fact table is exploded |features|-fold map-side, then
    * everything is aggregates over (feature, x, y) — a bounded-domain
    * relation (buckets × classes) — with dimension-sized joins.
    */
  def miRanking(df: DataFrame, labelCol: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "miRanking needs at least one feature")
    val stacked = df.select(explode(array(features.map { case (n, c) =>
        struct(lit(n).as("feature"), c.cast("long").as("x")) }: _*)).as("f"),
        labelCol.cast("long").as("y"))
      .select(col("f.feature").as("feature"), col("f.x").as("x"), col("y"))
    val nxy = stacked.groupBy("feature", "x", "y")
      .agg(count(lit(1)).as("nxy"))
    val nx = nxy.groupBy("feature", "x").agg(sum("nxy").as("nx"))
    val ny = nxy.groupBy("feature", "y").agg(sum("nxy").as("ny"))
    val nn = nxy.groupBy("feature").agg(sum("nxy").as("n"))
    nxy.join(nx, Seq("feature", "x")).join(broadcast(ny), Seq("feature", "y"))
      .join(broadcast(nn), Seq("feature"))
      .select(col("feature"), (col("nxy") * (lnq(col("nxy")) +
        lnq(col("n")) - lnq(col("nx")) - lnq(col("ny")))).as("term"))
      .groupBy("feature").agg(sum("term").as("mi_q"))
      .orderBy(col("mi_q").desc, col("feature"))
  }

  /** Multinomial naive Bayes over a token column: train on one slice,
    * score the held-out slice, return the confusion matrix
    * (true_label, pred_label, n) ORDER BY both.
    *
    * Log-free-of-floats formulation: with Laplace smoothing every score
    * term is ln of an INTEGER — ln(classDocs), ln(totalDocs),
    * ln(count_tc + 1), ln(classTokens + V) — each quantized to micros
    * at the one site it is computed, so every per-document sum is exact
    * integer addition and absent/unknown tokens contribute exactly
    * lnq(0 + 1) = 0 (which is why the scoring join can be INNER on the
    * trained (token, class) table: the smoothing constant folds into
    * the per-class `ntok * lnq(classTokens + V)` term instead).
    * Prediction tiebreak: highest score, then lexicographically
    * smallest class.
    *
    * Scale: the likelihood table is a (token, class) aggregate — a
    * vocabulary-sized relation that shuffles on token, exactly the key
    * the scoring join needs, so Catalyst reuses the partitioning; the
    * class/prior tables are O(classes) broadcast scalars; per-document
    * score rows are |docs|·|classes|.
    */
  def naiveBayes(df: DataFrame, idCol: String, labelCol: String,
      tokensCol: Column, testPred: Column): DataFrame = {
    val s = df.sparkSession
    val lnq = (c: Column) => floor(log(c.cast("double")) * lit(1e6) +
      lit(0.5)).cast("long")
    val tok = df.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
      testPred.as("test"), explode(tokensCol).as("token"))
    val train = tok.filter(!col("test"))
    val lik = train.groupBy("label", "token").count()
      .select(col("label"), col("token"), lnq(col("count") + 1).as("lnq"))
    val cls = train.groupBy("label")
      .agg(countDistinct("doc_id").as("docs"), count(lit(1)).as("toks"))
    val vocab = train.agg(countDistinct("token").as("v"))
    val tot = cls.agg(sum("docs").as("docs"))
    val prior = cls.crossJoin(broadcast(tot.select(lnq(col("docs"))
        .as("lnq_tot"))))
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("docs"), col("toks"),
        (lnq(col("docs")) - col("lnq_tot")).as("prior_q"),
        lnq(col("toks") + col("v")).as("denom_q"))
    val ttok = tok.filter(col("test"))
      .select(col("doc_id"), col("label").as("true_label"), col("token"))
    val ndoc = ttok.groupBy("doc_id")
      .agg(first("true_label").as("true_label"), count(lit(1)).as("ntok"))
    val matched = ttok.join(lik.withColumnRenamed("label", "cand"), Seq("token"))
      .groupBy("doc_id", "cand").agg(sum("lnq").as("s"))
    val scored = ndoc.crossJoin(broadcast(prior.withColumnRenamed("label", "cand")))
      .join(matched, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("true_label"), col("cand"),
        (col("prior_q") + coalesce(col("s"), lit(0L)) -
          col("ntok") * col("denom_q")).as("score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cand"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy(col("true_label"), col("cand").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  // ---- q379: held-out language confusion for a token naive Bayes -------------
  // The curation-side "is this metadata label learnable from the text?"
  // probe: on signal-free synthetic text it degenerates to the majority
  // class, and the confusion matrix SHOWS that — which is the honest
  // pre-training answer the probe exists to give.
  private def q379(s: SparkSession, d: String): DataFrame =
    naiveBayes(Tables.documents(s, d), "doc_id", "lang",
      split(col("text"), " "), col("doc_id") % 5 === 0)
  private val q379Sql =
    """WITH tok AS MATERIALIZED (
        SELECT doc_id, lang, (doc_id % 5 = 0) AS test,
          unnest(string_split(text, ' ')) AS token
        FROM documents),
      train AS MATERIALIZED (SELECT * FROM tok WHERE NOT test),
      v AS (SELECT count(DISTINCT token)::BIGINT AS v FROM train),
      cls AS MATERIALIZED (
        SELECT lang, count(DISTINCT doc_id)::BIGINT AS docs,
          count(*)::BIGINT AS toks
        FROM train GROUP BY lang),
      tot AS (SELECT sum(docs)::BIGINT AS docs FROM cls),
      lik AS MATERIALIZED (
        SELECT lang, token, floor(ln(count(*) + 1)*1e6 + 0.5)::BIGINT AS lnq
        FROM train GROUP BY lang, token),
      ttok AS (SELECT doc_id, lang AS true_lang, token FROM tok WHERE test),
      ndoc AS (SELECT doc_id, any_value(true_lang) AS true_lang,
          count(*)::BIGINT AS ntok
        FROM ttok GROUP BY doc_id),
      matched AS (
        SELECT t.doc_id, l.lang, sum(l.lnq)::BIGINT AS s
        FROM ttok t JOIN lik l ON t.token = l.token GROUP BY 1, 2),
      scored AS (
        SELECT d.doc_id, d.true_lang, c.lang,
          floor(ln(c.docs)*1e6 + 0.5)::BIGINT
            - (SELECT floor(ln(docs)*1e6 + 0.5)::BIGINT FROM tot)
            + coalesce(m.s, 0)
            - d.ntok * floor(ln(c.toks + (SELECT v FROM v))*1e6 + 0.5)::BIGINT
            AS score
        FROM ndoc d CROSS JOIN cls c
        LEFT JOIN matched m ON m.doc_id = d.doc_id AND m.lang = c.lang),
      pred AS (
        SELECT doc_id, true_lang, lang AS pred_lang,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang) AS rk
        FROM scored)
      SELECT true_lang AS true_label, pred_lang AS pred_label,
        count(*)::BIGINT AS n
      FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q378: does returnflag follow quantity/discount? (it should not) -------
  // A label-leakage probe a curation pipeline runs before paying for
  // training: fit the cheap in-warehouse model; weights near zero and
  // accuracy at the base rate certify the features carry no signal.
  private val Q378Feats = Seq("intercept", "qty_bucket", "disc_pct")
  private def q378(s: SparkSession, d: String): DataFrame =
    logisticFit(Tables.lineitem(s, d),
      (col("l_returnflag") === "R").cast("long"),
      Seq("intercept" -> lit(1L),
        "qty_bucket" -> expr("CAST(l_quantity AS BIGINT) div 10"),
        "disc_pct" -> expr("CAST(round(l_discount*100) AS BIGINT)")),
      lrShift = 3, iters = 12)
  private val q378Sql = logisticFitSql(
    """SELECT (l_returnflag='R')::BIGINT AS y, 1::BIGINT AS x0,
        (l_quantity::BIGINT)//10 AS x1,
        round(l_discount*100)::BIGINT AS x2 FROM lineitem""",
    Q378Feats, lrShift = 3, iters = 12)

  /** Inverse-propensity-weighted average treatment effect — the causal
    * companion to [[Analytics]]'s DiD/CUPED family when treatment is
    * NOT randomized: fit the propensity e(x) = P(t=1|x) with the shared
    * logistic GD ([[gdWeights]]), weight every row by 1/e(x) (treated)
    * or 1/(1−e(x)) (control), and read the Hájek (self-normalized)
    * weighted-mean contrast. The naive unweighted contrast is emitted
    * beside it — the gap between the two IS the measured confounding.
    *
    * Determinism: the propensity is the same quantized sigmoid as
    * [[logisticFit]] (clamped to [1, 2^20−1] so weights stay finite);
    * weights are floor divisions of SigScale·1e6; the four weighted
    * sums widen to DECIMAL(38,0) (HUGEINT in the oracle) before the two
    * final floor divisions. Outcome in cents → means in micros.
    *
    * Scale: ONE corpus pass — the projection collapses to
    * (t, x⃗) → (count, Σy) cells ([[persistCells]]), the propensity
    * depends only on x⃗, so training and BOTH readouts run on the cell
    * table.
    */
  def ipwAte(df: DataFrame, treatCol: Column, outcomeCol: Column,
      features: Seq[(String, Column)], lrShift: Int, iters: Int): DataFrame = {
    require(features.nonEmpty, "ipwAte needs at least one feature")
    require(iters >= 1 && lrShift >= 0, "need iters >= 1, lrShift >= 0")
    val s = df.sparkSession
    import s.implicits._
    val den = 1L << (20 + lrShift)
    val k = features.size
    val keyCols = "y" +: (0 until k).map(j => s"x$j")
    val (cells, n) = persistCells(df.select(
        ((treatCol.cast("long").as("y") +:
          features.zipWithIndex.map { case ((_, c), j) =>
            c.cast("long").as(s"x$j") }) :+
          outcomeCol.cast("long").as("yo")): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum("yo").as("sy")))
    try {
      require(n > 0, "ipwAte needs rows")
      val w = gdWeights(cells, k, n, den, iters, sigmoidQ(_, k))
      val pc = greatest(lit(1L), least(lit(SigScale - 1), sigmoidQ(w, k)))
      val wt = when(col("y") === 1L,
          call_function("div", lit(SigScale * 1000000L), pc))
        .otherwise(
          call_function("div", lit(SigScale * 1000000L), lit(SigScale) - pc))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val z = dec(lit(0L))
      val r = cells.select(col("y"), col("cnt"), col("sy"), wt.as("wt"))
        .agg(
          sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("nt"),
          sum(when(col("y") === 0L, col("cnt")).otherwise(0L)).as("nc"),
          sum(when(col("y") === 1L, col("sy")).otherwise(0L)).as("syt"),
          sum(when(col("y") === 0L, col("sy")).otherwise(0L)).as("syc"),
          sum(when(col("y") === 1L, dec(col("wt")) * col("sy"))
            .otherwise(z)).as("wyt"),
          sum(when(col("y") === 0L, dec(col("wt")) * col("sy"))
            .otherwise(z)).as("wyc"),
          sum(when(col("y") === 1L, dec(col("wt")) * col("cnt"))
            .otherwise(z)).as("wtt"),
          sum(when(col("y") === 0L, dec(col("wt")) * col("cnt"))
            .otherwise(z)).as("wtc"))
        .head()
      val (nt, nc) = (r.getLong(0), r.getLong(1))
      require(nt > 0 && nc > 0, "ipwAte needs both treated and control rows")
      def bi(i: Int) = BigInt(r.getDecimal(i).toBigInteger)
      // Every divisor is a row count or a sum of weights >= 1, so it is
      // positive and the oracle's fd floors it the same way.
      val naive = (floorDiv(BigInt(r.getLong(2)) * 10000, BigInt(nt)) -
        floorDiv(BigInt(r.getLong(3)) * 10000, BigInt(nc))).toLong
      val ate = (floorDiv(bi(4) * 10000, bi(6)) -
        floorDiv(bi(5) * 10000, bi(7))).toLong
      s.createDataset(Seq((nt, nc, naive, ate)))
        .toDF("n_treated", "n_control", "naive_diff_micro", "ate_ipw_micro")
    } finally cells.unpersist()
  }

  /** Unrolled oracle for [[ipwAte]]: the shared [[logisticCtes]] chain,
    * then the clamp/weight/Hájek readout per row (HUGEINT sums).
    */
  private def ipwAteSql(featsSql: String, k: Int, lrShift: Int,
      iters: Int): String = {
    val levels = logisticCtes(featsSql, k, lrShift, iters)
    s"""WITH ${levels.mkString(",\n")},
      sc AS (SELECT y, yo, ${sigmoidQSql(k)} AS pq FROM f, w$iters w),
      cl AS (SELECT y, yo,
        greatest(1, least(${SigScale - 1}, pq))::BIGINT AS pc FROM sc),
      wts AS (SELECT y, yo,
        CASE WHEN y = 1 THEN ($SigScale::BIGINT*1000000)//pc
          ELSE ($SigScale::BIGINT*1000000)//($SigScale - pc) END AS wt
        FROM cl)
      SELECT
        sum(CASE WHEN y=1 THEN 1 ELSE 0 END)::BIGINT AS n_treated,
        sum(CASE WHEN y=0 THEN 1 ELSE 0 END)::BIGINT AS n_control,
        (${fd("10000*sum(CASE WHEN y=1 THEN yo ELSE 0 END)",
          "sum(CASE WHEN y=1 THEN 1 ELSE 0 END)")}
         - ${fd("10000*sum(CASE WHEN y=0 THEN yo ELSE 0 END)",
          "sum(CASE WHEN y=0 THEN 1 ELSE 0 END)")})::BIGINT
          AS naive_diff_micro,
        (${fd("10000*sum(CASE WHEN y=1 THEN wt::HUGEINT*yo ELSE 0 END)",
          "sum(CASE WHEN y=1 THEN wt::HUGEINT ELSE 0 END)")}
         - ${fd("10000*sum(CASE WHEN y=0 THEN wt::HUGEINT*yo ELSE 0 END)",
          "sum(CASE WHEN y=0 THEN wt::HUGEINT ELSE 0 END)")})::BIGINT
          AS ate_ipw_micro
      FROM wts"""
  }

  /** Stratified g-computation ATE — the NONPARAMETRIC causal adjustment
    * beside [[ipwAte]]'s model-based one: group rows into exact
    * feature strata, take the within-stratum treated-vs-control mean
    * contrast, and average it weighted by stratum size (the g-formula
    * with a saturated outcome model; with discrete features the two
    * estimators bracket the truth from complementary assumptions).
    * Strata missing either arm are DROPPED (positivity) and counted —
    * the honest overlap audit IPW's clamping hides.
    *
    * Exact: per-stratum means floor to micros at two sites, the
    * size-weighted average at one more; everything else is BIGINT sums
    * (DECIMAL(38,0) for the weighted accumulation). Outcome in cents →
    * micros. ONE corpus pass: the same (t, x⃗) → (count, Σy) cell
    * collapse as ipwAte, then stratum arithmetic on the cell table.
    */
  def gcompAte(df: DataFrame, treatCol: Column, outcomeCol: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "gcompAte needs at least one feature")
    val s = df.sparkSession
    import s.implicits._
    val k = features.size
    val xCols = (0 until k).map(j => s"x$j")
    val cells = df.select(
        ((treatCol.cast("long").as("t") +:
          features.zipWithIndex.map { case ((_, c), j) =>
            c.cast("long").as(s"x$j") }) :+
          outcomeCol.cast("long").as("yo")): _*)
      .groupBy(("t" +: xCols).map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum("yo").as("sy"))
    val strata = cells.groupBy(xCols.map(col): _*)
      .agg(sum(when(col("t") === 1L, col("cnt")).otherwise(0L)).as("n1"),
        sum(when(col("t") === 0L, col("cnt")).otherwise(0L)).as("n0"),
        sum(when(col("t") === 1L, col("sy")).otherwise(0L)).as("sy1"),
        sum(when(col("t") === 0L, col("sy")).otherwise(0L)).as("sy0"))
    val kept = strata.filter(col("n1") > 0 && col("n0") > 0)
      .withColumn("diff_micro",
        floorDiv(col("sy1") * 10000, col("n1")) -
          floorDiv(col("sy0") * 10000, col("n0")))
    val r = kept.agg(count(lit(1)).as("n_strata"),
        sum(col("n1") + col("n0")).as("n_kept"),
        // Widen BEFORE the product (the oracle's ::HUGEINT placement) —
        // a LONG n·diff can wrap silently at large cell counts.
        sum((col("n1") + col("n0")).cast("decimal(38,0)")
          * col("diff_micro")).as("wsum"))
      .crossJoin(broadcast(
        strata.agg(sum(col("n1") + col("n0")).as("n_total"))))
      .select(col("n_strata"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"),
        floorDiv(col("wsum"), col("n_kept").cast("decimal(38,0)"))
          .as("ate_gcomp_micro"))
    r
  }

  /** Oracle for [[gcompAte]] — the same two group-bys and floors. */
  private def gcompAteSql(projSql: String, k: Int): String = {
    val xs = (0 until k).map(j => s"x$j").mkString(", ")
    s"""WITH f AS MATERIALIZED ($projSql),
      cells AS (SELECT t, $xs, count(*)::BIGINT AS cnt,
        sum(yo)::BIGINT AS sy FROM f GROUP BY ALL),
      strata AS (
        SELECT $xs,
          sum(CASE WHEN t = 1 THEN cnt ELSE 0 END)::BIGINT AS n1,
          sum(CASE WHEN t = 0 THEN cnt ELSE 0 END)::BIGINT AS n0,
          sum(CASE WHEN t = 1 THEN sy ELSE 0 END)::BIGINT AS sy1,
          sum(CASE WHEN t = 0 THEN sy ELSE 0 END)::BIGINT AS sy0
        FROM cells GROUP BY ALL),
      kept AS (
        SELECT *, (${fd("sy1*10000", "n1")} - ${fd("sy0*10000", "n0")})
          ::BIGINT AS diff_micro
        FROM strata WHERE n1 > 0 AND n0 > 0)
      SELECT count(*)::BIGINT AS n_strata,
        sum(n1 + n0)::BIGINT AS n_kept,
        ((SELECT sum(n1 + n0) FROM strata) - sum(n1 + n0))::BIGINT
          AS n_dropped,
        ${fd("sum((n1 + n0)::HUGEINT * diff_micro)",
          "sum(n1 + n0)::HUGEINT")}::BIGINT AS ate_gcomp_micro
      FROM kept"""
  }

  /** Propensity-score-matched ATT — the third leg of the causal
    * adjustment family ([[ipwAte]] reweights, [[gcompAte]] stratifies,
    * this MATCHES): every treated stratum pairs with the control
    * stratum of nearest propensity within a caliper, and the average
    * treatment effect on the TREATED is the match-pair mean contrast
    * weighted by treated counts. Unmatched treated rows (no control
    * within the caliper) are dropped AND counted — the overlap audit.
    *
    * Determinism: the propensity is the shared quantized-sigmoid GD
    * ([[gdWeights]]); it depends only on x⃗, so matching is exact
    * CELL-level — nearest |Δpq| with (Δpq, control pq, control x⃗)
    * tie-break; per-cell means floor to micros, the treated-weighted
    * average at one more site. Caliper in sigmoid quanta (1/2^20).
    *
    * Scale: the same one-pass cell collapse; matching joins the
    * treated × control CELL tables (bounded-cell contract), never rows.
    */
  def psmAtt(df: DataFrame, treatCol: Column, outcomeCol: Column,
      features: Seq[(String, Column)], lrShift: Int, iters: Int,
      caliperQ: Long): DataFrame = {
    require(features.nonEmpty, "psmAtt needs at least one feature")
    require(iters >= 1 && lrShift >= 0 && caliperQ > 0,
      "need iters >= 1, lrShift >= 0, caliperQ > 0")
    val s = df.sparkSession
    import s.implicits._
    val den = 1L << (20 + lrShift)
    val k = features.size
    val xCols = (0 until k).map(j => s"x$j")
    val keyCols = "y" +: xCols
    val (cells, n) = persistCells(df.select(
        ((treatCol.cast("long").as("y") +:
          features.zipWithIndex.map { case ((_, c), j) =>
            c.cast("long").as(s"x$j") }) :+
          outcomeCol.cast("long").as("yo")): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum("yo").as("sy")))
    try {
      require(n > 0, "psmAtt needs rows")
      val w = gdWeights(cells, k, n, den, iters, sigmoidQ(_, k))
      val scoredCells = cells.withColumn("pq", sigmoidQ(w, k))
        .withColumn("m", floorDiv(col("sy") * 10000, col("cnt")))
      val tc = scoredCells.filter(col("y") === 1L).select(
        (xCols.map(j => col(j).as(s"t_$j")) :+ col("pq").as("tpq") :+
          col("cnt").as("tcnt") :+ col("m").as("tm")): _*)
      val cc = scoredCells.filter(col("y") === 0L).select(
        (xCols.map(j => col(j).as(s"c_$j")) :+ col("pq").as("cpq") :+
          col("m").as("cm")): _*)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(xCols.map(j => col(s"t_$j")): _*)
        .orderBy((abs(col("tpq") - col("cpq")) +:
          col("cpq") +: xCols.map(j => col(s"c_$j"))): _*)
      val matched = tc.join(cc,
          abs(col("tpq") - col("cpq")) <= caliperQ)
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1)
      val agg = matched.agg(
          sum("tcnt").as("n_matched"),
          // Widen BEFORE the product (oracle: tcnt::HUGEINT * (tm - cm)).
          sum(col("tcnt").cast("decimal(38,0)")
            * (col("tm") - col("cm"))).as("wsum"))
        .crossJoin(broadcast(tc.agg(sum("tcnt").as("n_treated"))))
      agg.select(col("n_matched"),
          (col("n_treated") - col("n_matched")).as("n_unmatched"),
          floorDiv(col("wsum"), col("n_matched").cast("decimal(38,0)"))
            .as("att_psm_micro"))
    } finally cells.unpersist()
  }

  /** Oracle for [[psmAtt]]: the shared [[logisticCtes]] chain, the cell
    * collapse, and the caliper argmin via a window. */
  private def psmAttSql(featsSql: String, k: Int, lrShift: Int,
      iters: Int, caliperQ: Long): String = {
    val levels = logisticCtes(featsSql, k, lrShift, iters)
    val xs = (0 until k).map(j => s"x$j")
    val xl = xs.mkString(", ")
    s"""WITH ${levels.mkString(",\n")},
      cells AS (
        SELECT y, $xl, count(*)::BIGINT AS cnt, sum(yo)::BIGINT AS sy
        FROM f GROUP BY ALL),
      scored AS (
        SELECT c.*, ${sigmoidQSql(k)} AS pq,
          ${fd("sy*10000", "cnt")}::BIGINT AS m
        FROM cells c, w$iters w),
      tc AS (SELECT ${xs.map(x => s"$x AS t_$x").mkString(", ")},
        pq AS tpq, cnt AS tcnt, m AS tm FROM scored WHERE y = 1),
      cc AS (SELECT ${xs.map(x => s"$x AS c_$x").mkString(", ")},
        pq AS cpq, m AS cm FROM scored WHERE y = 0),
      pairs AS (
        SELECT *, row_number() OVER (
          PARTITION BY ${xs.map(x => s"t_$x").mkString(", ")}
          ORDER BY abs(tpq - cpq), cpq,
            ${xs.map(x => s"c_$x").mkString(", ")}) AS rn
        FROM tc JOIN cc ON abs(tpq - cpq) <= $caliperQ),
      m AS (SELECT * FROM pairs WHERE rn = 1)
      SELECT sum(tcnt)::BIGINT AS n_matched,
        ((SELECT sum(tcnt) FROM tc) - sum(tcnt))::BIGINT AS n_unmatched,
        ${fd("sum(tcnt::HUGEINT * (tm - cm))", "sum(tcnt)::HUGEINT")}
          ::BIGINT AS att_psm_micro
      FROM m"""
  }

  // ---- q419: the q406 question answered by matching ---------------------------
  private def q419(s: SparkSession, d: String): DataFrame =
    psmAtt(Tables.lineitem(s, d),
      (col("l_discount") >= 0.05).cast("long"),
      round(col("l_extendedprice") * 100),
      Seq("intercept" -> lit(1L),
        "qty_bucket" -> expr("CAST(l_quantity AS BIGINT) div 10")),
      lrShift = 3, iters = 8, caliperQ = (1L << 20) / 10)
  private[operators] val q419Sql = psmAttSql(
    """SELECT (l_discount >= 0.05)::BIGINT AS y, 1::BIGINT AS x0,
        (l_quantity::BIGINT)//10 AS x1,
        round(l_extendedprice*100)::BIGINT AS yo FROM lineitem""",
    k = 2, lrShift = 3, iters = 8, caliperQ = (1L << 20) / 10)

  // ---- q415: the q406 question answered nonparametrically ---------------------
  private def q415(s: SparkSession, d: String): DataFrame =
    gcompAte(Tables.lineitem(s, d),
      (col("l_discount") >= 0.05).cast("long"),
      round(col("l_extendedprice") * 100),
      Seq("qty_bucket" -> expr("CAST(l_quantity AS BIGINT) div 10")))
  private[operators] val q415Sql = gcompAteSql(
    """SELECT (l_discount >= 0.05)::BIGINT AS t,
        (l_quantity::BIGINT)//10 AS x0,
        round(l_extendedprice*100)::BIGINT AS yo FROM lineitem""",
    k = 1)

  // ---- q406: what does a deep discount do to line revenue, adjusted? ---------
  // Treatment = discount >= 5%, outcome = extended price (cents),
  // propensity on the quantity bucket. TPC-H draws discounts
  // independently of quantity, so the IPW estimate should sit close to
  // the naive contrast — the planted-confounder case lives in the spec.
  private def q406(s: SparkSession, d: String): DataFrame =
    ipwAte(Tables.lineitem(s, d),
      (col("l_discount") >= 0.05).cast("long"),
      round(col("l_extendedprice") * 100),
      Seq("intercept" -> lit(1L),
        "qty_bucket" -> expr("CAST(l_quantity AS BIGINT) div 10")),
      lrShift = 3, iters = 8)
  private[operators] val q406Sql = ipwAteSql(
    """SELECT (l_discount >= 0.05)::BIGINT AS y, 1::BIGINT AS x0,
        (l_quantity::BIGINT)//10 AS x1,
        round(l_extendedprice*100)::BIGINT AS yo FROM lineitem""",
    k = 2, lrShift = 3, iters = 8)

  /** Bradley–Terry strength scores from pairwise preferences — the
    * REWARD-MODEL / ranking primitive: given (winner, loser) comparison
    * rows, fit per-entity scores s_e so that P(w beats l) = σ(s_w − s_l),
    * by full-batch gradient descent in the [[logisticFit]] fixed-point
    * scheme (this IS logistic regression on one-hot difference features,
    * evaluated entity-table-wise instead of k-column-wise). Gradients
    * sum to zero across entities by construction, so scores stay
    * centered without an explicit identifiability pin.
    *
    * Determinism: driver holds the entity→score map in exact micros;
    * each iteration is one broadcast-scores join + one entity-keyed
    * aggregation with the σ quantized to 1/2^20 at its single site and
    * floor-division updates — bit-identical cross-engine, oracle
    * unrolled per iteration (score TABLE joins, no per-entity column
    * unroll, so any entity count generates the same SQL).
    *
    * Scale: the comparison stream collapses ONCE to distinct
    * (winner, loser, count) cells — one map-side-combined corpus pass —
    * and every iteration shuffles only that ≤|entities|²-bounded cell
    * table on the entity key; the score relation is |entities| rows
    * broadcast both ways. Driver state is O(entities) —
    * bounded-domain contract (leagues, models, sources; not users).
    */
  def bradleyTerry(pairs: DataFrame, winnerCol: Column, loserCol: Column,
      lrShift: Int, iters: Int): DataFrame = {
    require(iters >= 1 && lrShift >= 0, "need iters >= 1, lrShift >= 0")
    val s = pairs.sparkSession
    import s.implicits._
    val den = 1L << (20 + lrShift)
    // Collapse the comparison stream to distinct (winner, loser) cells
    // with a count — Σ_pairs r = Σ_cells cnt·r because the quantized σ
    // depends only on (s_w − s_l). ONE corpus pass; every iteration then
    // works on a relation bounded by |entities|² (and in practice by the
    // observed matchup matrix, e.g. 25·24 for nation ladders).
    val (p, n) = persistCells(pairs
      .select(winnerCol.cast("string").as("w"),
        loserCol.cast("string").as("l"))
      .groupBy("w", "l").agg(count(lit(1)).as("cnt")))
    try {
      require(n > 0, "bradleyTerry needs pairs")
      val entities = p.select(col("w")).union(p.select(col("l")))
        .distinct().orderBy("w").as[String].collect()
      require(entities.length <= 100000,
        "bradleyTerry holds O(entities) driver state — bounded domain")
      val score = scala.collection.mutable.LinkedHashMap(
        entities.map(_ -> 0L): _*)
      for (_ <- 1 to iters) {
        val st = broadcast(s.createDataset(score.toSeq).toDF("e", "sv"))
        val scored = p
          .join(st.select(col("e").as("w"), col("sv").as("sw")), Seq("w"))
          .join(st.select(col("e").as("l"), col("sv").as("sl")), Seq("l"))
          .select(col("w"), col("l"), col("cnt"),
            sigmoidQ((col("sw") - col("sl")).cast("double") / lit(1e6))
              .as("p"))
        val grad = scored.select(explode(array(
            struct(col("w").as("e"),
              ((col("p") - lit(SigScale)) * col("cnt")).as("r")),
            struct(col("l").as("e"),
              ((lit(SigScale) - col("p")) * col("cnt")).as("r"))))
            .as("t"))
          .select(col("t.e").as("e"), col("t.r").as("r"))
          .groupBy("e").agg(sum("r").as("g"))
          .collect()
        grad.foreach { row =>
          val e = row.getString(0)
          score(e) = score(e) -
            Math.floorDiv(Math.floorDiv(row.getLong(1), n) * 1000000L, den)
        }
      }
      val wl = p.select(explode(array(
          struct(col("w").as("e"), col("cnt").as("win"), lit(0L).as("loss")),
          struct(col("l").as("e"), lit(0L).as("win"), col("cnt").as("loss"))))
          .as("t"))
        .select(col("t.e").as("entity"), col("t.win").as("win"),
          col("t.loss").as("loss"))
        .groupBy("entity")
        .agg(sum("win").as("wins"), sum("loss").as("losses"))
      val scoreDf = broadcast(s.createDataset(score.toSeq)
        .toDF("entity", "score_micro"))
      wl.join(scoreDf, Seq("entity"))
        .select(col("entity"), col("score_micro"), col("wins"),
          col("losses"))
        .orderBy(col("score_micro").desc, col("entity"))
    } finally p.unpersist()
  }

  /** Unrolled oracle for [[bradleyTerry]]: score TABLE per iteration,
    * (score, gradient, update) CTE triple — entity-count independent.
    */
  private def bradleyTerrySql(pairsSql: String, lrShift: Int,
      iters: Int): String = {
    val den = 1L << (20 + lrShift)
    val levels = scala.collection.mutable.ArrayBuffer(
      s"pr AS MATERIALIZED ($pairsSql)",
      "nn AS (SELECT count(*)::BIGINT AS n FROM pr)",
      """s0 AS MATERIALIZED (
        SELECT e, 0::BIGINT AS s FROM (
          SELECT DISTINCT w AS e FROM pr UNION SELECT DISTINCT l FROM pr))""")
    for (t <- 1 to iters) {
      val p = s"s${t - 1}"
      levels += s"""sc$t AS MATERIALIZED (
        SELECT pr.w, pr.l,
          floor(1.0/(1.0+exp(-((sw.s - sl.s)/1e6)))*$SigScale
            + 0.5)::BIGINT AS P
        FROM pr JOIN $p sw ON sw.e = pr.w JOIN $p sl ON sl.e = pr.l)"""
      levels += s"""g$t AS MATERIALIZED (
        SELECT e, sum(r)::BIGINT AS g FROM (
          SELECT w AS e, P - $SigScale AS r FROM sc$t
          UNION ALL SELECT l, $SigScale - P FROM sc$t) GROUP BY e)"""
      levels += s"""s$t AS MATERIALIZED (
        SELECT p.e,
          (p.s - ${fd(fd("coalesce(g.g, 0)", "nn.n") + "*1000000",
            den.toString)})::BIGINT AS s
        FROM $p p LEFT JOIN g$t g ON g.e = p.e, nn)"""
    }
    s"""WITH ${levels.mkString(",\n")},
      wl AS (SELECT e, sum(win)::BIGINT AS wins,
          sum(loss)::BIGINT AS losses FROM (
        SELECT w AS e, 1 AS win, 0 AS loss FROM pr
        UNION ALL SELECT l, 0, 1 FROM pr) GROUP BY e)
      SELECT s.e AS entity, s.s AS score_micro, wl.wins, wl.losses
      FROM s$iters s JOIN wl ON wl.e = s.e
      ORDER BY score_micro DESC, entity"""
  }

  // ---- q398: which supplier nations ship first, as a strength ladder? --------
  // Pairwise "shipped earlier within the same order" comparisons between
  // supplier nations; near-zero scores = the honest no-signal answer,
  // with the ladder still ordered by the win ratios.
  private def q398(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .select(col("l_orderkey").as("o"),
        col("s_nationkey").cast("string").as("nk"), col("l_shipdate").as("sd"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.nk") =!= col("b.nk") &&
          col("a.sd") < col("b.sd"))
      .select(col("a.nk").as("w"), col("b.nk").as("l"))
    bradleyTerry(pairs, col("w"), col("l"), lrShift = 1, iters = 8)
  }
  private val q398Sql = bradleyTerrySql(
    """SELECT a.nk AS w, b.nk AS l FROM
        (SELECT l_orderkey AS o, s_nationkey::VARCHAR AS nk, l_shipdate AS sd
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey) a
      JOIN (SELECT l_orderkey AS o, s_nationkey::VARCHAR AS nk,
          l_shipdate AS sd
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey) b
      ON a.o = b.o AND a.nk != b.nk AND a.sd < b.sd""",
    lrShift = 1, iters = 8)

  /** Poisson regression (log link) by full-batch gradient descent — the
    * COUNT-DATA member of the GLM family beside [[logisticFit]]
    * (binary), [[olsFit2]] (gaussian closed-form) and
    * [[graft.operators.Analytics.coxFit]] (hazards). Identical
    * fixed-point scheme to logisticFit: the one float op is
    * exp(w·x/10⁶), CLAMPED at e^10 and quantized to 1/2^20 at its
    * single site; gradients Σ(μ_q − y·2^20)·x_j are exact BIGINT sums;
    * updates are floor-division. Slow-but-monotone learning rates
    * (2^-lrShift) are the caller's contract — Poisson's exp link
    * diverges under the step sizes the sigmoid tolerates.
    *
    * Scale: per iteration ONE map-side-partial aggregation over the
    * persisted integer projection; driver state is O(features).
    */
  def poissonFit(df: DataFrame, countCol: Column,
      features: Seq[(String, Column)], lrShift: Int, iters: Int): DataFrame = {
    require(features.nonEmpty, "poissonFit needs at least one feature")
    require(iters >= 1 && lrShift >= 0, "need iters >= 1, lrShift >= 0")
    val s = df.sparkSession
    import s.implicits._
    val den = 1L << (20 + lrShift)
    val k = features.size
    val keyCols = "y" +: (0 until k).map(j => s"x$j")
    val (proj, n) = persistCells(df.select(
        (countCol.cast("long").as("y") +:
          features.zipWithIndex.map { case ((_, c), j) =>
            c.cast("long").as(s"x$j") }): _*)
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt")))
    try {
      require(n > 0, "poissonFit needs rows")
      val w = gdWeights(proj, k, n, den, iters, v =>
        floor(exp(least(wx(v, k), lit(10.0))) * lit(SigScale.toDouble) +
          lit(0.5)).cast("long"))
      val rows = features.map(_._1).zip(w)
        .map { case (nm, wj) => (s"w_$nm", wj) } :+ (("n_rows", n))
      s.createDataset(rows).toDF("term", "value").orderBy("term")
    } finally proj.unpersist()
  }

  /** Generated unrolled oracle for [[poissonFit]] — the
    * [[logisticFitSql]] chain with the exp-link response.
    */
  private def poissonFitSql(featsSql: String, names: Seq[String],
      lrShift: Int, iters: Int): String = {
    val k = names.size
    val den = 1L << (20 + lrShift)
    val levels = Seq(
      s"f AS MATERIALIZED ($featsSql)",
      "nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM f)",
      s"w0 AS MATERIALIZED (SELECT ${(0 until k).map(j =>
        s"0::BIGINT AS w$j").mkString(", ")})") ++
      (1 to iters).flatMap { t =>
        val z = (0 until k).map(j => s"w.w$j*x$j").mkString(" + ")
        Seq(s"""g$t AS MATERIALIZED (
          SELECT ${(0 until k).map(j =>
            s"sum((P - y*$SigScale)*x$j) AS g$j").mkString(", ")}
          FROM (SELECT y, ${(0 until k).map(j => s"x$j").mkString(", ")},
              floor(exp(least(($z)/1e6, 10))*$SigScale + 0.5)::BIGINT AS P
            FROM f, w${t - 1} w))""",
          s"""w$t AS MATERIALIZED (
          SELECT ${(0 until k).map(j =>
            s"w.w$j - ${fd(fd(s"g.g$j", "nn.n") + "*1000000",
              den.toString)} AS w$j").mkString(", ")}
          FROM w${t - 1} w, g$t g, nn)""")
      }
    s"""WITH ${levels.mkString(",\n")},
      terms AS (
        ${names.zipWithIndex.map { case (nm, j) =>
          s"SELECT 'w_$nm' AS term, w$j::BIGINT AS value FROM w$iters" }
          .mkString("\n        UNION ALL ")}
        UNION ALL SELECT 'n_rows', n::BIGINT FROM nn)
      SELECT term, value FROM terms ORDER BY term"""
  }

  // ---- q389: does order size follow the order's price bucket? ----------------
  // Honest-probe fixture (the q378 contract): the synthetic lineitem
  // count is independent of price, so the converged slope sits near 0
  // while the intercept recovers ln(mean count) — exactly what the MLE
  // (1.389, -0.006) says.
  private def q389(s: SparkSession, d: String): DataFrame = {
    val perOrder = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"),
        "left")
      .groupBy(col("o_orderkey"))
      .agg(first(col("o_totalprice")).as("tp"),
        count(col("l_orderkey")).as("cnt"))
    poissonFit(perOrder, col("cnt"),
      Seq("intercept" -> lit(1L),
        "price_bucket" -> (least(expr("CAST(tp / 100000 AS BIGINT)"),
          lit(5L)) - lit(2L))),
      lrShift = 4, iters = 20)
  }
  private val q389Sql = poissonFitSql(
    """SELECT cnt AS y, 1::BIGINT AS x0,
        least(floor(tp/100000)::BIGINT, 5) - 2 AS x1
      FROM (SELECT o_orderkey, any_value(o_totalprice) AS tp,
              count(l_orderkey)::BIGINT AS cnt
            FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY o_orderkey)""",
    Seq("intercept", "price_bucket"), lrShift = 4, iters = 20)

  /** Gradient-boosted depth-1 trees (stumps) under squared loss — the
    * "small nonlinear model in the warehouse" step past [[olsFit2]]:
    * T rounds, each fitting one (feature ≤ threshold) split to the
    * current residuals with shrinkage 1/2, variance-reduction split
    * criterion, ties broken (gain desc, feature asc, threshold asc).
    *
    * The whole fit happens on the CELL COLLAPSE: rows with identical
    * (bucketized) feature vectors share every prediction, so the corpus
    * is grouped once into |X₁|·…·|X_k|-bounded cells (n, Σy) and all T
    * rounds run over that metadata-sized relation — per-round split
    * search is a prefix-sum over per-(feature, value) aggregates, gains
    * are exact BigInt ⌊S_L²/n_L⌋ + ⌊S_R²/n_R⌋ (residual sums stay in
    * integer micros by construction: cell resid = Σy·10⁶ − n·pred and
    * leaf values ⌊S/(2n)⌋ are integers), so the fitted model is
    * bit-identical under any partitioning and engine. The oracle
    * re-derives the SAME argmax per round as an ORDER BY … LIMIT 1
    * CTE chain.
    *
    * Scale: ONE corpus pass total (the collapse); everything after is
    * bounded-domain. Returns the stump table: round, feature, thr,
    * leaf_lo_micro, leaf_hi_micro.
    */
  def gbStumps(df: DataFrame, labelCol: Column,
      features: Seq[(String, Column)], rounds: Int): DataFrame = {
    require(features.nonEmpty && rounds >= 1,
      "gbStumps needs features and rounds >= 1")
    val s = df.sparkSession
    import s.implicits._
    val k = features.size
    val names = features.map(_._1)
    val cells = df.select((labelCol.cast("long").as("y") +:
        features.zipWithIndex.map { case ((_, c), j) =>
          c.cast("long").as(s"x$j") }): _*)
      .groupBy((0 until k).map(j => col(s"x$j")): _*)
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      .persist()
    try {
      var stumps = Vector.empty[(Int, Long, Long, Long)] // (j, v, lo, hi)
      for (_ <- 1 to rounds) {
        val pred = stumps.foldLeft(lit(0L)) { case (acc, (j, v, lo, hi)) =>
          acc + when(col(s"x$j") <= lit(v), lit(lo)).otherwise(lit(hi))
        }
        val withR = cells.withColumn("r",
          col("sy") * lit(1000000L) - col("n") * pred)
        // (feature, value) candidate stats, prefix-summed per feature
        val melted = withR.select(explode(array((0 until k).map(j =>
            struct(lit(j).as("f"), col(s"x$j").as("v"))): _*)).as("fv"),
            col("r"), col("n"))
          .groupBy(col("fv.f").as("f"), col("fv.v").as("v"))
          .agg(sum("r").as("rs"), sum("n").as("ns"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy("v").rowsBetween(Long.MinValue, 0)
        val cand = melted.select(col("f"), col("v"),
            sum("rs").over(w).as("sl"), sum("ns").over(w).as("nl"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), BigInt(r.getLong(2)),
            r.getLong(3)))
        val (bigS, bigN) = {
          val per = cand.groupBy(_._1).map { case (_, rows) =>
            val last = rows.maxBy(_._2); (last._3, last._4)
          }
          (per.head._1, per.head._2) // identical across features
        }
        val best = cand
          .filter { case (_, _, _, nl) => nl > 0 && nl < bigN }
          .map { case (f, v, sl, nl) =>
            val sr = bigS - sl
            val nr = bigN - nl
            (floorDiv(sl * sl, nl) + floorDiv(sr * sr, nr),
              f, v, sl, nl, sr, nr)
          }
          .sortBy { case (gain, f, v, _, _, _, _) => (-gain, f, v) }
          .headOption
          .getOrElse(sys.error("gbStumps: no admissible split " +
            "(single feature cell)"))
        val (_, f, v, sl, nl, sr, nr) = best
        stumps :+= ((f, v, floorDiv(sl, BigInt(2) * nl).toLong,
          floorDiv(sr, BigInt(2) * nr).toLong))
      }
      s.createDataset(stumps.zipWithIndex.map { case ((j, v, lo, hi), i) =>
        ((i + 1).toLong, names(j), v, lo, hi)
      }).toDF("round", "feature", "thr", "leaf_lo_micro", "leaf_hi_micro")
        .orderBy("round")
    } finally cells.unpersist()
  }

  /** Generated per-round argmax oracle for [[gbStumps]]: cells0 is the
    * cell collapse, then per round a (resid, candidate, pick, pred)
    * CTE quartet re-derives the same split via ORDER BY gain DESC,
    * feature, threshold LIMIT 1. cellsSql projects y, x0..x{k-1}.
    */
  private def gbStumpsSql(cellsSql: String, names: Seq[String],
      rounds: Int): String = {
    val k = names.size
    val xs = (0 until k).map(j => s"x$j").mkString(", ")
    val levels = scala.collection.mutable.ArrayBuffer(
      s"""cells0 AS MATERIALIZED (
        SELECT $xs, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
          0::BIGINT AS pred
        FROM ($cellsSql) GROUP BY $xs)""")
    for (t <- 1 to rounds) {
      val p = s"cells${t - 1}"
      levels += s"""cand$t AS MATERIALIZED (
        SELECT f, v,
          sum(rs) OVER (PARTITION BY f ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::HUGEINT AS sl,
          sum(ns) OVER (PARTITION BY f ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::HUGEINT AS nl
        FROM (
          SELECT f, v, sum(r)::BIGINT AS rs, sum(n)::BIGINT AS ns
          FROM (
            SELECT unnest([${(0 until k).map(j => s"$j").mkString(", ")}]) AS f,
              unnest([$xs]) AS v,
              sy * 1000000 - n * pred AS r, n
            FROM $p)
          GROUP BY f, v))"""
      levels += s"""tot$t AS (
        SELECT sum(sy * 1000000 - n * pred)::HUGEINT AS s,
          sum(n)::HUGEINT AS nn
        FROM $p)"""
      levels += s"""pick$t AS MATERIALIZED (
        SELECT f, v, ${fd("sl", "2 * nl")}::BIGINT AS lo,
          ${fd("s - sl", "2 * (nn - nl)")}::BIGINT AS hi
        FROM cand$t, tot$t
        WHERE nl > 0 AND nl < nn
        ORDER BY (sl * sl // nl) + ((s - sl) * (s - sl) // (nn - nl)) DESC,
          f, v
        LIMIT 1)"""
      levels += s"""cells$t AS MATERIALIZED (
        SELECT $xs, n, sy,
          pred + (CASE WHEN (CASE p.f ${(0 until k).map(j =>
            s"WHEN $j THEN x$j").mkString(" ")} END) <= p.v
            THEN p.lo ELSE p.hi END) AS pred
        FROM $p, pick$t p)"""
    }
    s"""WITH ${levels.mkString(",\n")}
      SELECT * FROM (${(1 to rounds).map(t =>
        s"""SELECT $t::BIGINT AS round, (CASE f ${names.zipWithIndex.map {
          case (nm, j) => s"WHEN $j THEN '$nm'" }.mkString(" ")} END)
          AS feature, v::BIGINT AS thr, lo AS leaf_lo_micro,
          hi AS leaf_hi_micro FROM pick$t""").mkString("\n UNION ALL ")})
      ORDER BY round"""
  }

  // ---- q382: is extended price linear in quantity/discount? ------------------
  // The closed-form screen before reaching for the iterative fit: exact
  // coefficients + R² in one pass each. (On this synthetic lineitem the
  // price is NOT the TPC-H qty×unitprice product — R² near zero is the
  // honest answer, same probe contract as q378.)
  private def q382(s: SparkSession, d: String): DataFrame =
    olsFit2(Tables.lineitem(s, d),
      expr("CAST(round(l_extendedprice*100) AS BIGINT)"),
      expr("CAST(l_quantity AS BIGINT)"),
      expr("CAST(round(l_discount*100) AS BIGINT)"))
  private val q382Sql = {
    val M = "1000000"
    s"""WITH r AS (
        SELECT round(l_extendedprice*100)::BIGINT AS y,
          l_quantity::BIGINT AS x1, round(l_discount*100)::BIGINT AS x2
        FROM lineitem),
      s AS (
        SELECT count(*)::HUGEINT AS n, sum(x1)::HUGEINT AS s1,
          sum(x2)::HUGEINT AS s2, sum(x1*x1)::HUGEINT AS s11,
          sum(x1*x2)::HUGEINT AS s12, sum(x2*x2)::HUGEINT AS s22,
          sum(y)::HUGEINT AS sy, sum(x1*y)::HUGEINT AS s1y,
          sum(x2*y)::HUGEINT AS s2y
        FROM r),
      d AS (
        SELECT n, sy,
          n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
            + s2*(s1*s12 - s11*s2) AS det,
          sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
            + s2*(s1y*s12 - s11*s2y) AS det0,
          n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
            + s2*(s1*s2y - s1y*s2) AS det1,
          n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
            + sy*(s1*s12 - s11*s2) AS det2
        FROM s),
      b AS (
        SELECT n, sy, ${fd(s"det0*$M", "det")}::HUGEINT AS b0,
          ${fd(s"det1*$M", "det")}::HUGEINT AS b1,
          ${fd(s"det2*$M", "det")}::HUGEINT AS b2
        FROM d),
      ym AS (SELECT ${fd(s"sy*$M", "n")}::HUGEINT AS ym FROM b),
      e AS (
        SELECT sum((r.y::HUGEINT*$M - (b.b0 + b.b1*r.x1 + b.b2*r.x2))
                 * (r.y::HUGEINT*$M - (b.b0 + b.b1*r.x1 + b.b2*r.x2))) AS sse,
          sum((r.y::HUGEINT*$M - ym.ym) * (r.y::HUGEINT*$M - ym.ym)) AS sst
        FROM r, b, ym),
      m AS (
        SELECT b.b0, b.b1, b.b2, b.n,
          ($M - ${fd("e.sse", fd("e.sst", M))})::BIGINT AS r2_ppm
        FROM b, e)
      SELECT * FROM (
        SELECT 'b0_micro' AS term, b0::BIGINT AS value FROM m
        UNION ALL SELECT 'b1_micro', b1::BIGINT FROM m
        UNION ALL SELECT 'b2_micro', b2::BIGINT FROM m
        UNION ALL SELECT 'n_rows', n::BIGINT FROM m
        UNION ALL SELECT 'r2_ppm', r2_ppm FROM m) ORDER BY term"""
  }

  // ---- q387: four boosted stumps on the returnflag probe ---------------------
  // The nonlinear escalation of q378's linear probe: if boosting can't
  // find a split with real gain either, the features are certified
  // signal-free at stump resolution.
  private def q387(s: SparkSession, d: String): DataFrame =
    gbStumps(Tables.lineitem(s, d), (col("l_returnflag") === "R").cast("long"),
      Seq("qty_bucket" -> expr("CAST(l_quantity AS BIGINT) div 10"),
        "disc_pct" -> expr("CAST(round(l_discount*100) AS BIGINT)"),
        "tax_pct" -> expr("CAST(round(l_tax*100) AS BIGINT)")),
      rounds = 4)
  private val q387Sql = gbStumpsSql(
    """SELECT (l_returnflag='R')::BIGINT AS y,
        (l_quantity::BIGINT)//10 AS x0, round(l_discount*100)::BIGINT AS x1,
        round(l_tax*100)::BIGINT AS x2 FROM lineitem""",
    Seq("qty_bucket", "disc_pct", "tax_pct"), rounds = 4)

  // ---- q384: leakage-safe priority→status target encoding audit --------------
  private def q384(s: SparkSession, d: String): DataFrame =
    looTargetEncode(Tables.orders(s, d), col("o_orderpriority"),
      (col("o_orderstatus") === "F").cast("long"))
  private val q384Sql =
    """WITH b AS (
        SELECT o_orderpriority AS cat, (o_orderstatus='F')::BIGINT AS y
        FROM orders),
      c AS (SELECT cat, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
        FROM b GROUP BY cat),
      g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s FROM b),
      enc AS (
        SELECT b.cat, b.y,
          CASE WHEN c.n > 1 THEN ((c.s - b.y) * 1000000 // (c.n - 1))::BIGINT
            ELSE (g.s * 1000000 // g.n)::BIGINT END AS enc_micro
        FROM b JOIN c USING (cat), g)
      SELECT cat, y, count(*)::BIGINT AS n, any_value(enc_micro) AS enc_micro
      FROM enc GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q385: which lineitem columns carry returnflag signal? -----------------
  private def q385(s: SparkSession, d: String): DataFrame =
    miRanking(Tables.lineitem(s, d), (col("l_returnflag") === "R").cast("long"),
      Seq("qty_bucket" -> expr("CAST(l_quantity AS BIGINT) div 10"),
        "disc_pct" -> expr("CAST(round(l_discount*100) AS BIGINT)"),
        "tax_pct" -> expr("CAST(round(l_tax*100) AS BIGINT)")))
  private val q385Sql =
    """WITH f AS (
        SELECT unnest(['qty_bucket','disc_pct','tax_pct']) AS feature,
          unnest([(l_quantity::BIGINT)//10, round(l_discount*100)::BIGINT,
                  round(l_tax*100)::BIGINT]) AS x,
          (l_returnflag='R')::BIGINT AS y
        FROM lineitem),
      nxy AS (SELECT feature, x, y, count(*)::BIGINT AS nxy
        FROM f GROUP BY 1, 2, 3),
      nx AS (SELECT feature, x, sum(nxy)::BIGINT AS nx FROM nxy GROUP BY 1, 2),
      ny AS (SELECT feature, y, sum(nxy)::BIGINT AS ny FROM nxy GROUP BY 1, 2),
      nn AS (SELECT feature, sum(nxy)::BIGINT AS n FROM nxy GROUP BY 1)
      SELECT feature,
        sum(nxy * (floor(ln(nxy)*1e6+0.5)::BIGINT + floor(ln(n)*1e6+0.5)::BIGINT
          - floor(ln(nx)*1e6+0.5)::BIGINT
          - floor(ln(ny)*1e6+0.5)::BIGINT))::BIGINT AS mi_q
      FROM nxy JOIN nx USING (feature, x) JOIN ny USING (feature, y)
        JOIN nn USING (feature)
      GROUP BY feature ORDER BY mi_q DESC, feature"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q378_logistic_fit", q378, Some(q378Sql)),
    QueryDef("q379_naive_bayes", q379, Some(q379Sql)),
    QueryDef("q382_ols_cramer", q382, Some(q382Sql)),
    QueryDef("q387_gb_stumps", q387, Some(q387Sql)),
    QueryDef("q389_poisson_fit", q389, Some(q389Sql)),
    QueryDef("q398_bradley_terry", q398, Some(q398Sql)),
    QueryDef("q406_ipw_ate", q406, Some(q406Sql)),
    QueryDef("q412_ridge_path", q412, Some(q412Sql)),
    QueryDef("q415_gcomp_ate", q415, Some(q415Sql)),
    QueryDef("q419_psm_att", q419, Some(q419Sql)),
    QueryDef("q384_target_encode", q384, Some(q384Sql)),
    QueryDef("q385_mi_ranking", q385, Some(q385Sql)))
}
