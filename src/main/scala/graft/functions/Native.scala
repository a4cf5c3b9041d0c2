package graft.functions

import org.apache.spark.sql.SparkSession

/** Registration of the engine's native Catalyst expressions as SQL
  * functions. Idempotent per session; the session factory (GraftSession)
  * and the SparkEntry.queries wrappers call this, so user code can rely
  * on `graft_cosine` resolving in both the Column API (via call_function)
  * and raw SQL. The as-of planner strategy is not registered here:
  * `AsOfJoin.leftAsOfNative` registers it itself.
  */
object Native {
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine",
      exprs => {
        require(exprs.length == 2, "graft_cosine(a, b) takes two arrays")
        CosineSimilarity(exprs.head, exprs(1))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash",
      exprs => {
        require(exprs.length == 2,
          "graft_minhash(tokens, numHashes) takes an array and an int literal")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_minhash numHashes must be an int literal, got $other")
        }
        MinHashSignature(exprs.head, n)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_simhash",
      exprs => {
        require(exprs.length == 1, "graft_simhash(tokens) takes one array")
        SimHashSignature(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2sq",
      exprs => {
        require(exprs.length == 1, "graft_l2sq(vec) takes one array")
        L2SquaredNorm(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_quantize8",
      exprs => {
        require(exprs.length == 1, "graft_quantize8(vec) takes one array")
        QuantizeInt8(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc",
      exprs => {
        require(exprs.length == 1, "graft_nfc(s) takes one string")
        NfcNormalize(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pav",
      exprs => {
        require(exprs.length == 1,
          "graft_pav(blocks) takes one array<struct<x, n, s>>")
        IsotonicPav(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hilbert2",
      exprs => {
        require(exprs.length == 2,
          "graft_hilbert2(x, y) takes two bigints")
        HilbertIndex2(exprs.head, exprs(1))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_jaro_winkler",
      exprs => {
        require(exprs.length == 2,
          "graft_jaro_winkler(a, b) takes two strings")
        JaroWinklerSim(exprs.head, exprs(1))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l2dist",
      exprs => {
        require(exprs.length == 2, "graft_l2dist(a, b) takes two arrays")
        L2SquaredDist(exprs.head, exprs(1))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_doti",
      exprs => {
        require(exprs.length == 2, "graft_doti(a, b) takes two bigint arrays")
        DotProductInt(exprs.head, exprs(1))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_polyhash",
      exprs => {
        require(exprs.length == 1, "graft_polyhash(s) takes one string")
        PolyHash(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_ngrams",
      exprs => {
        require(exprs.length == 3,
          "graft_ngrams(tokens, n, distinct) takes an array and two literals")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_ngrams n must be an int literal, got $other")
        }
        val d = exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_ngrams distinct must be a boolean literal, got $other")
        }
        WordNGrams(exprs.head, n, d)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_token_hits",
      exprs => {
        require(exprs.length == 2,
          "graft_token_hits(tokens, words) takes an array and a literal word array")
        val words = exprs(1) match {
          case e if e.foldable &&
              e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
            val a = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            (0 until a.numElements()).map(a.getUTF8String)
          case other => throw new IllegalArgumentException(
            s"graft_token_hits words must be a foldable string array, got $other")
        }
        TokenHits(exprs.head, words)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_keep_tiles",
      exprs => {
        require(exprs.length == 2,
          "graft_keep_tiles(tiles, hotHashes) takes an array and a literal bigint array")
        val hot = exprs(1) match {
          case e if e.foldable &&
              e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
            val a = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            a.toLongArray().toSeq
          case other => throw new IllegalArgumentException(
            s"graft_keep_tiles hotHashes must be a foldable bigint array, got $other")
        }
        KeepCoolTiles(exprs.head, hot)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_repetition",
      exprs => {
        require(exprs.length == 2,
          "graft_repetition(tokens, n) takes an array and an int literal")
        val n = exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_repetition n must be an int literal, got $other")
        }
        RepetitionRatioExpr(exprs.head, n)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_winnow",
      exprs => {
        require(exprs.length == 3,
          "graft_winnow(tokens, k, w) takes an array and two int literals")
        def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
          e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"graft_winnow expects int literals, got $other")
          }
        WinnowFingerprints(exprs.head, intLit(exprs(1)), intLit(exprs(2)))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_token_stats",
      exprs => {
        require(exprs.length == 1, "graft_token_stats(tokens) takes one array")
        TokenDiversity(exprs.head)
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash_bands",
      exprs => {
        require(exprs.length == 3,
          "graft_minhash_bands(tokens, numHashes, bandRows) takes an array and two int literals")
        def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
          e match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"graft_minhash_bands expects int literals, got $other")
          }
        MinHashBands(exprs.head, intLit(exprs(1)), intLit(exprs(2)))
      },
      "built-in")
  }
}
