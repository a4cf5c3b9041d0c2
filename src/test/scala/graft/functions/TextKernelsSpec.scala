package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextKernelsSpec extends SparkSpec {
  import spark.implicits._
  import TextFunctions._

  /** The exploded groupBy formulation of `PipelineOps.repetitionRatio` —
    * the reference semantics its kernel must reproduce.
    */
  private def repetitionRatioRelational(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(ngrams(col("toks"), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("rep_ratio"))

  test("polyhash kernel equals the aggregate/split built-ins form on the corpus") {
    val bad = Tables.documents(spark, sf)
      .select(polyHash($"text").as("k"), polyHashHof($"text").as("h"))
      .filter($"k" =!= $"h")
    assert(bad.count() === 0)
  }

  test("polyhash handles empty strings and multibyte code points") {
    val rows = Seq("", "a", "héllo", "世界", "x😀y")
      .toDF("s").select(polyHash($"s"), polyHashHof($"s")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    assert(rows(0).getLong(0) === 0L) // empty string folds to the seed
  }

  test("ngrams kernel equals the transform/sequence built-ins form (multiset + distinct)") {
    val toks = Tables.documents(spark, sf)
      .select(tokens($"text").as("toks")).filter(size($"toks") >= 3)
    val bad = toks.select(
        ngrams($"toks", 3).as("k"), ngramsHof($"toks", 3).as("h"),
        distinctNgrams($"toks", 3).as("kd"),
        array_distinct(ngramsHof($"toks", 3)).as("hd"))
      .filter($"k" =!= $"h" || $"kd" =!= $"hd")
    assert(bad.count() === 0)
  }

  test("ngrams kernel: order, duplicates, and below-n inputs") {
    val r = Seq(Tuple1(Seq("a", "b", "a", "b"))).toDF("toks")
      .select(ngrams($"toks", 2).as("m"), distinctNgrams($"toks", 2).as("d"),
        ngrams($"toks", 5).as("short"))
      .head()
    assert(r.getSeq[String](0) === Seq("a b", "b a", "a b"))
    assert(r.getSeq[String](1) === Seq("a b", "b a")) // first-occurrence order
    assert(r.getSeq[String](2) === Seq.empty)
  }

  test("token-stats kernel equals the explode/groupBy relational form") {
    val rel = Tables.documents(spark, sf)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").count()
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("d"), sum($"count").as("t"),
        sum($"count" * $"count").as("s"))
    val ker = Tables.documents(spark, sf)
      .select($"doc_id",
        call_function("graft_token_stats", tokens($"text")).as("st"))
      .select($"doc_id", element_at($"st", 1).as("d"),
        element_at($"st", 2).as("t"), element_at($"st", 3).as("s"))
    assert(ker.exceptAll(rel).count() === 0 &&
      rel.exceptAll(ker).count() === 0)
  }

  test("token-stats kernel skips null slots and handles the empty array") {
    val r = Seq(
        (1L, Seq[String]("a", null, "a", "b")),
        (2L, Seq.empty[String]))
      .toDF("id", "toks")
      .select($"id", call_function("graft_token_stats", $"toks").as("s"))
      .orderBy($"id").as[(Long, Seq[Long])].collect()
    assert(r(0)._2 === Seq(2L, 3L, 5L)) // {a:2, b:1}: 2 distinct, 3 total, 4+1
    assert(r(1)._2 === Seq(0L, 0L, 0L))
  }

  test("winnow kernel: guarantee, short docs, rightmost ties, determinism") {
    def picks(text: String): Seq[(Long, Long)] =
      graft.operators.Dedup.winnowFingerprints(
          Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
        .select($"pos", $"fp").as[(Long, Long)].collect().toSeq

    // Winnowing guarantee: two docs sharing a token run of length
    // >= k + w - 1 = 6 share at least one fingerprint.
    val a = picks("p q r SHARED RUN OF six common tokens HERE x y z")
    val b = picks("different prefix words SHARED RUN OF six common tokens HERE")
    assert(a.map(_._2).toSet.intersect(b.map(_._2).toSet).nonEmpty)

    // Shorter than one full window (m < w): exactly one global pick.
    assert(picks("a b c d e").size === 1)   // 3 grams < w=4
    // Below k tokens: no grams, no picks.
    assert(picks("a b").isEmpty)

    // Rightmost tie: identical windows -> the LAST minimal gram is picked.
    val t = picks("a a a a a a a a")        // all grams equal
    assert(t.map(_._1) === t.map(_._1).sorted)
    assert(t.head._1 === 3L)                // first window picks pos 3 (rightmost)

    // Deterministic across invocations.
    assert(picks("x y z w v u t s") === picks("x y z w v u t s"))
  }

  test("token-hits kernel equals the filter/array_contains built-ins form") {
    val words = Seq("the", "a", "of", "and", "to")
    val hof = size(filter(tokens($"text"), t =>
      array_contains(array(words.map(lit): _*), t)))
    val bad = Tables.documents(spark, sf)
      .select(tokenHits(tokens($"text"), words).as("k"), hof.as("h"))
      .filter($"k" =!= $"h")
    assert(bad.count() === 0)
    // multiset counting (duplicates count) and empty-set behavior
    val r = Seq("the the a x").toDF("text")
      .select(tokenHits(tokens($"text"), words),
        tokenHits(tokens($"text"), Seq.empty)).head()
    assert(r.getInt(0) === 3)
    assert(r.getInt(1) === 0)
  }

  test("repetition kernel equals the exploded groupBy formulation") {
    val docs = Tables.documents(spark, sf)
    val k = graft.operators.PipelineOps
      .repetitionRatio(docs, "doc_id", "text", 3)
    val rel = repetitionRatioRelational(docs, "doc_id", "text", 3)
    assert(k.count() === rel.count())
    val bad = k.as("k").join(rel.as("r"), "doc_id")
      .filter($"k.rep_ratio" =!= $"r.rep_ratio")
    assert(bad.count() === 0)
  }

  test("repetition kernel: repeated windows, all-distinct, and below-n inputs") {
    val r = Seq(Tuple1(Seq("x", "y", "x", "y", "x")),
        Tuple1(Seq("a", "b", "c", "d")), Tuple1(Seq("a", "b")))
      .toDF("toks")
      .select(repetitionRatio($"toks", 3)).collect()
    assert(r(0).getDouble(0) === 2.0 / 3) // windows x·y·x, y·x·y, x·y·x → max 2 of 3
    assert(r(1).getDouble(0) === 0.5)     // 2 windows, each once → 1/2
    assert(r(2).isNullAt(0))
  }
}
