package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("gopherFilter trips each rule independently and ANDs them into keep") {
    // One doc per failure mode, plus one passing doc. Defaults overridden
    // to small bounds so the fixtures stay readable.
    val pass = "the quick brown foxes jumped over a lazily sleeping dog"
    val tooShort = "the a of"
    val longWords = "extraordinarily the incomprehensibilities a gesticulating"
    val repetitive = "the the the the the a spam spam spam spam"
    val noStops = "quick brown foxes jumped over lazily sleeping dogs"
    val df = Seq(
      (1L, pass), (2L, tooShort), (3L, longWords), (4L, repetitive),
      (5L, noStops)).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(df, "doc_id", "text",
        minWords = 5, maxWords = 20, minWordLen = 2.0, maxWordLen = 6.0,
        maxTopTokenRatio = 0.3, minStopHits = 2)
      .select("doc_id", "ok_words", "ok_wlen", "ok_rep", "ok_stop", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, true, true, true, true, true)))
    assert(got(2L)._2 === false && got(2L)._6 === false)   // under minWords
    assert(got(3L)._3 === false && got(3L)._6 === false)   // words too long
    assert(got(4L)._4 === false && got(4L)._6 === false)   // top token 50%
    assert(got(5L)._5 === false && got(5L)._6 === false)   // no stopwords
  }

  test("kneserNeyPerplexity: hand-computed NLL incl. the unseen-context backoff") {
    // md5 split: ids 1..5 hash to train, 6 to test (first hex >= '4' / < '4').
    // Train bigrams: (a,b)x2, (b,a), (a,c), (b,b) -> T=4 types, ntr=5,
    // ctx a:(n=3,n1u=2) b:(n=2,n1u=2); cont counts b:2, a:1, c:1; V=3+1;
    // T+V=8. Test doc "a b z c":
    //  (a,b) seen:   num = max(4*2-3,0)*8 + 3*2*(2+1) = 58, den = 4*3*8 = 96
    //  (b,z) seen-ctx unseen-w: num = 3*2*(0+1) = 6,    den = 4*2*8 = 64
    //  (z,c) UNSEEN ctx (backoff): num = 1+1 = 2,       den = 8
    // avg_nll = (ln(96/58) + ln(64/6) + ln(8/2) quantized) div 3 = 1419108.
    val df = Seq(
      (1L, "a b a c"), (2L, "a b"), (3L, "b b"), (6L, "a b z c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.kneserNeyPerplexity(df, col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((5L, 3L, 1L, 1419108L)))
  }

  test("looSourcePerplexity: a unique source hurts when dropped, a duplicated one doesn't") {
    // md5 split: docs 6 and 19 are held out, the rest train.
    // Sources A and B carry identical text (mutually redundant); C is the
    // only source covering the q/r vocabulary that C's held-out doc needs.
    // Dropping C must cost strictly more NLL than dropping A or B.
    val docs = Seq(
      (1L, "A", "a b c d e f g"), (2L, "A", "a b c d e f g"),
      (3L, "B", "a b c d e f g"), (4L, "B", "a b c d e f g"),
      (5L, "C", "q r q r q r q r q"),
      (6L, "A", "a b"), (19L, "C", "q r q r q r q"))
      .toDF("doc_id", "src", "text")
    val got = TextAnalysis.looSourcePerplexity(docs, col("doc_id"),
        col("text"), col("src"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("C")._4 > got("A")._4 && got("C")._4 > got("B")._4)
    assert(got("C")._4 > 0L)
    // Redundant twins barely matter and match each other exactly.
    assert(got("A")._4 === got("B")._4)
    // Additive identity: LOO train size = total minus the source's own.
    assert(got("C")._2 === 24L) // 4 shared docs x 6 bigrams; C's 8 removed
  }

  test("wordpieceApply: longest-match-first, ## continuation, [UNK] fallbacks") {
    val docs = Seq((1L, "unhappy unhappily zebra cat xx unhappy"))
      .toDF("doc_id", "text")
    val head = Seq("un", "u", "c", "cat", "z")     // no generic fallbacks
    val cont = Seq("happy", "happi", "ly", "h", "ebra", "x")
    val got = TextAnalysis.wordpieceApply(docs, "text", head, cont,
        maxPieces = 5)
      .as[(String, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // Longest match wins: "un ##happy", not "u ##..." or "un ##happi".
    assert(got("unhappy") === (("un ##happy", 2L)))
    // Greedy is NOT optimal lookahead: after "un ##happy" nothing covers
    // "ily"? No: "unhappily" -> un + happi? happy? greedy takes the
    // LONGEST at each step: "happy" fails (next is 'i'), so ##happi + ##ly.
    assert(got("unhappily") === (("un ##happi ##ly", 3L)))
    assert(got("zebra") === (("z ##ebra", 2L)))
    assert(got("cat") === (("cat", 1L)))         // whole-word head piece
    assert(got("xx")._1 === "[UNK]")             // 'x' is no HEAD piece
    assert(got("xx")._2 === -1L)
    assert(got("unhappy")._2 === 2L)
    // freq rides the collapse: "unhappy" appeared twice.
    val freqs = TextAnalysis.wordpieceApply(docs, "text", head, cont)
      .as[(String, Long, String, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(freqs("unhappy") === 2L)
  }

  test("normalizeText canonicalizes case, control whitespace, and runs") {
    val df = Seq(
      (1L, "  Hello\tWorld  "),          // indent + tab + trailing spaces
      (2L, "one  two\n three\r\nfour"),  // runs + LF + CRLF
      (3L, "already clean"))             // untouched
      .toDF("doc_id", "text")
    val got = TextAnalysis.normalizeText(df, "text")
      .select("doc_id", "norm", "changed")
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(got(0) === ((1L, "hello world", true)))
    assert(got(1) === ((2L, "one two three four", true)))
    assert(got(2) === ((3L, "already clean", false)))
  }

  test("normalizeText is idempotent and shuffle-free") {
    val df = Seq((1L, "  A\tB  ")).toDF("doc_id", "text")
    val once = TextAnalysis.normalizeText(df, "text")
      .select(col("doc_id"), col("norm").as("text"))
    val twice = TextAnalysis.normalizeText(once, "text")
      .select("norm").as[String].collect()
    assert(twice === Array("a b"))
    val plan = TextAnalysis.normalizeText(
        graft.Tables.documents(spark, sf), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"normalization must not shuffle:\n${plan.take(1500)}")
  }

  test("tokenDiversity is zero-shuffle and agrees with hand counts") {
    val df = Seq((1L, "a b a"), (2L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDiversity(df, "doc_id", "text")
      .orderBy("doc_id")
      .select("distinct_tokens", "total_tokens", "sum_sq", "ttr", "simpson")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got(0) === ((2L, 3L, 5L, 0.666667, 0.555556)))
    assert(got(1) === ((1L, 1L, 1L, 1.0, 1.0)))
    val plan = TextAnalysis.tokenDiversity(
        graft.Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"diversity must not shuffle:\n${plan.take(1500)}")
  }

  test("tfIdfTop ranks rare terms over ubiquitous ones, heap matching hand scores") {
    // "rare" appears in one doc, "common" in all three; within doc 1,
    // rare (tf=1, df=1, score=1*3/1=3) must outrank common (tf=2,
    // df=3, score=2*3/3=2).
    val df = Seq(
      (1L, "common rare common"),
      (2L, "common other"),
      (3L, "common other"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTop(df, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, Int, String, Long, Long, Double)].collect()
    assert(got.take(2) === Array(
      (1L, 1, "rare", 1L, 1L, 3.0),
      (1L, 2, "common", 2L, 3L, 2.0)))
    // docs 2/3: other (1*3/2=1.5) over common (1*3/3=1.0)
    assert(got.filter(_._1 == 2L) === Array(
      (2L, 1, "other", 1L, 2L, 1.5),
      (2L, 2, "common", 1L, 3L, 1.0)))
  }

  test("tfIdfTop breaks score ties in UTF-8 byte order, as DuckDB does") {
    // Both terms score 1*1/1 = 1.0. UTF-8 bytes put U+FF21 (EF BC A1)
    // before U+1F600 (F0 9F 98 80); UTF-16 code units put the emoji's
    // high surrogate (D83D) first, which String.compareTo would follow.
    val df = Seq((1L, "\uD83D\uDE00 \uFF21")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTop(df, "doc_id", "text", k = 1)
      .select("term").as[String].collect()
    assert(got === Array("\uFF21"))
  }

  test("vocabCoverage marks exactly the tokens outside the top-k vocab as OOV") {
    // corpus counts: a=3, b=2, c=1 -> vocab of 2 is {a, b}; c is OOV.
    val df = Seq((1L, "a b c"), (2L, "a a b")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(df, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(got === Array(
      (1L, 3L, 1L, 0.333333),
      (2L, 3L, 0L, 0.0)))
    // The membership probe must broadcast the vocab, never shuffle tokens.
    val plan = TextAnalysis.vocabCoverage(df, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab probe should be a broadcast join:\n${plan.take(1500)}")
  }

  test("chunkDocuments windows tokens with overlap, short final chunk, no shuffle") {
    val df = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .orderBy("chunk_idx")
      .as[(Long, Int, String, Long)].collect()
    assert(got === Array(
      (1L, 0, "t1 t2 t3 t4", 4L),
      (1L, 1, "t4 t5 t6 t7", 4L),   // t4 repeats: 1-token overlap
      (1L, 2, "t7 t8 t9 t10", 4L),
      (1L, 3, "t10", 1L)))          // short tail chunk
    val plan = TextAnalysis.chunkDocuments(df, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must be map-side only:\n${plan.take(1200)}")
  }

  test("gopherFilter is a single-pass map-side plan with no exchange") {
    val plan = TextAnalysis.gopherFilter(
        graft.Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"rule filter must not shuffle:\n${plan.take(1500)}")
  }

  test("bpePairCounts weights pairs by word frequency with deterministic ties") {
    // "ab" twice, "abc" once: (a,b) = 2+1, (b,c) = 1; "x" too short.
    val docs = Seq((1L, "ab abc x"), (2L, "ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(docs, "text", topK = 10)
      .as[(String, String, Long)].collect()
    assert(got === Array(("a", "b", 3L), ("b", "c", 1L)))
  }

  test("bm25TopDocs: tf raises, length normalizes, heap matches the closed form") {
    val df = Seq(
      (1L, "join join scan"),
      (2L, "join filter"),
      (3L, "scan scan scan filter"),
      (4L, "join scan scan scan"))
      .toDF("doc_id", "text")
    // corpus: N=4 docs, L=13 tokens, df(join)=3
    def score(tf: Long, dl: Long): Double = {
      val num = (22L * tf * 13L * 4L).toDouble
      val den = ((10L * 13L * tf + 3L * 13L + 9L * dl * 4L) * 3L).toDouble
      math.floor(num / den * 1e6 + 0.5) / 1e6
    }
    val got = TextAnalysis.bm25TopDocs(df, "doc_id", "text",
        terms = Seq("join"), k = 4)
      .orderBy($"rank")
      .as[(String, Int, Long, Long, Long, Long, Double)].collect()
    assert(got === Array(
      ("join", 1, 1L, 2L, 3L, 3L, score(2, 3)), // highest tf wins
      ("join", 2, 2L, 1L, 2L, 3L, score(1, 2)), // equal tf: shorter doc…
      ("join", 3, 4L, 1L, 4L, 3L, score(1, 4)))) // …outranks the longer
  }

  test("bpeApply encodes with ranked merges, chained pairs, and run fixpoints") {
    val docs = Seq((1L, "filter small window stream aaaa aaa"))
      .toDF("doc_id", "text")
    val merges = Seq("e" -> "r", "t" -> "er", "s" -> "t", "l" -> "l",
      "i" -> "n", "o" -> "w", "a" -> "a")
    val got = TextAnalysis.bpeApply(docs, "text", merges)
      .select($"w", $"encoded", $"n_symbols")
      .as[(String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("filter") === (("f i l ter", 4L))) // (e,r) then (t,er) chains
    assert(got("small") === (("s m a ll", 4L))) // same-letter pair
    assert(got("window") === (("w in d ow", 4L))) // two independent merges
    assert(got("stream") === (("st r e a m", 5L)))
    assert(got("aaaa") === (("aa aa", 2L))) // even run fully collapses
    assert(got("aaa") === (("aa a", 2L))) // odd run leaves the tail
    // passes=4 is already this corpus's fixpoint
    val p5 = TextAnalysis.bpeApply(docs, "text", merges, passes = 5)
    val p4 = TextAnalysis.bpeApply(docs, "text", merges)
    assert(p4.except(p5).isEmpty && p5.except(p4).isEmpty,
      "encoding must be stable once each merge reaches its fixpoint")
  }

  test("pmiPairs ranks an exclusive pair above a popular-but-independent one") {
    // x,y co-occur in BOTH their docs (exclusive attraction); p,q are in
    // every doc (co-occurrence fully predicted by popularity -> PMI 0
    // ... ln(2*4/(4*4)) < 0 actually NEGATIVE). Hand values:
    // pmi(x,y) = lnq(2)+lnq(4)-lnq(2)-lnq(2) = ln 2 = 693147.
    // pmi(p,q) = lnq(4)+lnq(4)-lnq(4)-lnq(4) = 0.
    val docs = Seq((1L, "x y p q"), (2L, "x y p q"), (3L, "p q a b"),
      (4L, "p q a b")).toDF("doc_id", "text")
    val got = TextAnalysis.pmiPairs(docs, "doc_id", "text",
        vocabSize = 10, minCount = 2, topK = 20)
      .as[(String, String, Long, Long)].collect()
    // (a,b) ties (x,y) at ln 2 and wins the lexicographic tiebreak
    assert(got.take(2) === Array(("a", "b", 2L, 693147L),
      ("x", "y", 2L, 693147L)))
    assert(got.map(r => (r._1, r._2, r._4)).contains(("p", "q", 0L)))
  }

  test("bpeTrain learns the hand-computable merge sequence and stops when dry") {
    // Corpus: "abab" x3, "ab" x2. Round 1 pairs: (a,b) = 2*3 + 1*2 = 8,
    // (b,a) = 3. Round 2 over {" ab ab ", " ab "}: (ab,ab) = 3. Round 3:
    // every word is a single symbol -> trainer must stop early at 2
    // merges even though 5 were requested.
    val docs = Seq((1L, "abab abab ab"), (2L, "abab ab"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, "text", numMerges = 5)
      .as[(Long, String, String, Long)].collect()
    assert(got === Array((1L, "a", "b", 8L), (2L, "ab", "ab", 3L)))
    // feeding the learned list into bpeApply reproduces full merging
    val enc = TextAnalysis.bpeApply(docs, "text",
        Seq("a" -> "b", "ab" -> "ab"))
      .select($"w", $"n_symbols").as[(String, Long)].collect().toMap
    assert(enc === Map("abab" -> 1L, "ab" -> 1L))
  }

  test("termClassChi2 matches the hand-computed 2x2 tables and tiebreak") {
    val docs = Seq(
      (1L, "apple banana", "en"), (2L, "apple cherry", "en"),
      (3L, "banana cherry", "de"), (4L, "cherry date", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.termClassChi2(docs, "doc_id", "text",
        col("lang") === "en", k = 4)
      .as[(String, Long, Long, Double)].collect()
    // apple: a=2,b=0 -> chi2 = 4*(4)^2/16 = 4.0 (class-exclusive term)
    // cherry a=1,b=2 and date a=0,b=1 both 16/12; term string breaks the tie
    // banana a=1,b=1 -> independent -> 0
    assert(got === Array(
      ("apple", 2L, 0L, 4.0),
      ("cherry", 1L, 2L, 1.333333),
      ("date", 0L, 1L, 1.333333),
      ("banana", 1L, 1L, 0.0)))
  }

  test("nfc kernel composes decomposed sequences and is idempotent") {
    val comb = "\u0301" // combining acute
    val pre = "\u00e9" // precomposed e-acute
    val df = Seq("e" + comb, pre, "plain ascii", "").toDF("t")
    val got = df.select(
        graft.functions.TextFunctions.nfc($"t").as("n"),
        length($"t").as("lr"), length(graft.functions.TextFunctions.nfc($"t")).as("ln"))
      .as[(String, Int, Int)].collect()
    assert(got(0) === ((pre, 2, 1)), "decomposed must compose to U+00E9")
    assert(got(1) === ((pre, 1, 1)), "precomposed is NFC-invariant")
    assert(got(2)._2 === got(2)._3, "ASCII untouched")
    // idempotent: nfc(nfc(x)) == nfc(x)
    val twice = df.select(graft.functions.TextFunctions.nfc(
      graft.functions.TextFunctions.nfc($"t"))).as[String].collect()
    assert(twice(0) === pre)
  }

  test("risingTerms ranks by exact cross-multiplied share growth") {
    val docs = Seq((1L, "old old"), (2L, "new new old"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.risingTerms(docs, "doc_id", "text", k = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // pivot = 1: half A = {doc 1}, half B = {doc 2}; n1=2, n2=3.
    // rise(new) = 2*2 - 0*3 = 4; rise(old) = 1*2 - 2*3 = -4.
    assert(got === Array(
      ("new", 0L, 2L, 4L, 0L, 666666L),
      ("old", 2L, 1L, -4L, 1000000L, 333333L)))
  }

  test("hapaxProfile counts once-only terms per slice") {
    val docs = Seq(("s1", "a a b"), ("s2", "x y"))
      .toDF("src", "text")
    val got = TextAnalysis.hapaxProfile(docs, "src", "text")
      .orderBy("src").as[(String, Long, Long, Long, Long)].collect()
    assert(got === Array(
      ("s1", 2L, 3L, 1L, 500000L), // b is hapax, a is not
      ("s2", 2L, 2L, 2L, 1000000L)))
  }

  test("docNovelty credits an n-gram only to its first document") {
    val docs = Seq((0L, "a b c d"), (1L, "a b c x"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.docNovelty(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (0L, 2L, 2L, 1000000L), // "a b c", "b c d" both new
      (1L, 2L, 1L, 500000L), // only "b c x" is new
      (2L, 2L, 0L, 0L))) // pure repetition
  }

  test("vocabGrowth counts each term at its first checkpoint only") {
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "d"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, "doc_id", "text",
        checkpoint = 2)
      .orderBy("docs_seen").as[(Long, Long, Long)].collect()
    // a,b first in doc 0; c in doc 1 -> checkpoint 2 has 3 new terms;
    // d in doc 2 -> checkpoint 4 adds 1; cumulative 3, 4.
    assert(got === Array((2L, 3L, 3L), (4L, 1L, 4L)))
    // n=3: docs shorter than the n-gram order contribute nothing.
    val tri = TextAnalysis.vocabGrowth(
        Seq((0L, "x y z w"), (1L, "p q")).toDF("doc_id", "text"),
        "doc_id", "text", checkpoint = 10, n = 3)
      .as[(Long, Long, Long)].collect()
    assert(tri === Array((10L, 2L, 2L))) // "x y z", "y z w"
  }
  test("prefixIndex ranks completions by corpus frequency with capped lists") {
    val df = Seq("apple apple apple apricot apex banana banana band")
      .toDF("text")
    val got = TextAnalysis.prefixIndex(df, "text", 3, 3, 2)
      .orderBy($"prefix", $"rank")
      .as[(String, Long, String, Long)].collect()
    val ap = got.filter(_._1 == "app")
    assert(ap.toSeq === Seq(("app", 1L, "apple", 3L)))
    val apx = got.filter(_._1 == "ape")
    assert(apx.toSeq === Seq(("ape", 1L, "apex", 1L)))
    val ban = got.filter(_._1 == "ban")
    assert(ban.toSeq === Seq(("ban", 1L, "banana", 2L), ("ban", 2L, "band", 1L)))
    // k caps every list
    assert(got.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("langIdMargin separates confident predictions from ties") {
    val docs = Seq(
      (1L, "der hund und die katze ist nicht mit der maus"), // clearly de
      (2L, "the el la le of"),                               // 4-way near-tie
      (3L, "\u4e2d\u6587 text here")                       // CJK short-circuit
    ).toDF("doc_id", "text")
    val got = TextAnalysis.langIdMargin(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
    assert(got(0).getAs[String]("predicted") === "de")
    assert(got(0).getAs[Long]("margin") >= 2L
      && got(0).getAs[Boolean]("confident"))
    assert(!got(1).getAs[Boolean]("confident"),
      s"a near-tie must flag low confidence: ${got(1)}")
    assert(got(2).getAs[String]("predicted") === "zh")
    assert(got(2).isNullAt(got(2).fieldIndex("margin"))
      && got(2).getAs[Boolean]("confident"))
  }

  test("encodingAudit flags multibyte, replacement, shouting, and blob docs") {
    import spark.implicits._
    val docs = Seq(
      ("clean", "a normal document here"),
      ("multi", "café au lait"),
      ("repl", "broken � feed"),
      ("caps", "THIS IS VERY LOUD text"),
      ("blob", "x aHROcHM6Ly9leGFtcGxlLmNvbS92ZXJ5L2xvbmcvcGF0aA token"))
      .toDF("source", "text")
    val got = TextAnalysis.encodingAudit(docs,
        org.apache.spark.sql.functions.col("source"), "text")
      .orderBy(org.apache.spark.sql.functions.col("source"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got("clean") === ((0L, 0L, 0L, 0L)))
    assert(got("multi")._1 === 1L)
    assert(got("repl")._2 === 1L)
    assert(got("caps")._3 === 1L) // 4 of 5 tokens fully uppercase
    assert(got("blob")._4 === 1L)
  }

  test("langIdQuality computes exact per-class precision/recall/F1") {
    import spark.implicits._
    // Two English docs (both predicted en), one German doc written with
    // no stopwords at all -> falls through to 'en': de has recall 0 and
    // null precision (nothing predicted de); en has precision 2/3.
    val docs = Seq(
      ("en", "the cat is on the mat"),
      ("en", "it is a good day"),
      ("de", "Katzen Hunde Tiere")).toDF("lang", "text")
    val got = TextAnalysis.langIdQuality(docs, "lang", "text")
      .orderBy(org.apache.spark.sql.functions.col("lang"))
      .as[(String, Long, Long, Long, Option[Long], Long, Option[Long])]
      .collect()
    assert(got === Array(
      ("de", 1L, 0L, 0L, None, 0L, None),
      ("en", 2L, 2L, 3L, Some(666666L), 1000000L, Some(799999L))))
  }

  test("vocabCoverageCurve reports exact cumulative mass at each size") {
    import spark.implicits._
    // "a" x 6, "b" x 3, "c" x 1 across docs: top-1 covers 6/10, top-2
    // covers 9/10, top-8 (> vocab) covers everything.
    val docs = Seq("a a a b", "a a a b b c").toDF("text")
    val got = TextAnalysis.vocabCoverageCurve(docs, "text", Seq(1L, 2L, 8L))
      .orderBy(org.apache.spark.sql.functions.col("vocab_size"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 3L, 10L, 6L, 600000L),
      (2L, 3L, 10L, 9L, 900000L),
      (8L, 3L, 10L, 10L, 1000000L)))
  }

  test("readability counts sentences, words, vowel-group syllables exactly") {
    val df = Seq(
      (1L, "he ate a pie! it was easy. ok"),
      (2L, "tsk tsk"), // no vowels: syllable floor 1 per word
      (3L, "unpunctuated fragment counts as one sentence"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
    def scores(s: Long, w: Long, sy: Long) = {
      val ws = w.toDouble / s.toDouble
      val sw = sy.toDouble / w.toDouble
      (math.floor((206.835 - 1.015 * ws - 84.6 * sw) * 1e6 + 0.5) / 1e6 + 0.0,
        math.floor((0.39 * ws + 11.8 * sw - 15.59) * 1e6 + 0.5) / 1e6 + 0.0)
    }
    // doc 1: 3 sentences; 8 space-tokens; syllables
    // he(1) ate(2) a(1) pie!(1) it(1) was(1) easy.(2) ok(1) = 10.
    val (f1, g1) = scores(3, 8, 10)
    assert(got(0) === ((1L, 3L, 8L, 10L, f1, g1)))
    // doc 2: 1 sentence, 2 words, floor-1 syllables each.
    val (f2, g2) = scores(1, 2, 2)
    assert(got(1) === ((2L, 1L, 2L, 2L, f2, g2)))
    // doc 3: no terminal punctuation -> one sentence; 6 words;
    // unpunctuated(4: u,u,ua,e) fragment(2) counts(1: ou) as(1)
    // one(2: o,e) sentence(3: e,e,e) = 13.
    val (f3, g3) = scores(1, 6, 13)
    assert(got(2) === ((3L, 1L, 6L, 13L, f3, g3)))
  }

  test("textRankKeywords ranks the co-occurrence hub first, deterministically") {
    // "b" neighbors every other word; the spokes only touch "b".
    val df = Seq("a b", "c b", "d b", "e b").toDF("text")
    def run() = TextAnalysis.textRankKeywords(df, "text",
      maxEdges = 100, iterations = 3, k = 5)
      .as[(String, Long)].collect()
    val got = run()
    assert(got.head._1 === "b")
    assert(got.head._2 > got(1)._2, "hub must strictly out-rank spokes")
    assert(got.map(_._1).sorted === Array("a", "b", "c", "d", "e"))
    assert(got === run(), "rank table must be deterministic")
  }

}
