package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contamination finds cross-split shared n-grams and nothing else") {
    val df = Seq(
      (1L, "a b c d e f"),      // train
      (2L, "z y x w v u"),      // train, disjoint
      (10L, "a b c d e zzz"),   // eval: shares 5-grams? "a b c d e" only
      (20L, "q r s t u v")      // eval, disjoint
    ).toDF("doc_id", "text")
    val got = PipelineOps.contamination(df, "doc_id", "text",
        col("doc_id") >= 10, n = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 10L, 1L))) // exactly one shared 5-gram
  }

  test("hashed-gram and broadcast-eval contamination equal the string-join form") {
    val docs = graft.Tables.documents(spark, sf)
    def run(hashGrams: Boolean, broadcastEval: Boolean) =
      PipelineOps.contamination(docs, "doc_id", "text",
          col("doc_id") % 10 === 7, n = 5,
          hashGrams = hashGrams, broadcastEval = broadcastEval)
        .as[(Long, Long, Long)].collect().toSet
    val base = run(hashGrams = false, broadcastEval = false)
    assert(base.nonEmpty)
    assert(run(hashGrams = true, broadcastEval = false) === base)
    assert(run(hashGrams = true, broadcastEval = true) === base)
  }

  test("broadcast-eval contamination broadcasts the eval side (plan pin)") {
    val docs = graft.Tables.documents(spark, sf)
    val p = PipelineOps.contamination(docs, "doc_id", "text",
        col("doc_id") % 10 === 7, n = 5,
        hashGrams = true, broadcastEval = true)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"eval side should broadcast:\n${p.take(1500)}")
  }

  test("hash sample predicate is deterministic and near the target rate") {
    val df = spark.range(10000).toDF("id")
    val n1 = df.filter(PipelineOps.hashSamplePredicate(col("id"), 51)).count()
    val n2 = df.filter(PipelineOps.hashSamplePredicate(col("id"), 51)).count()
    assert(n1 === n2)                        // rerun-stable
    assert(n1 > 1500 && n1 < 2500)           // ~19.9% of 10k
  }

  test("repetitionRatio is 1.0 for pure repetition, 1/n for all-distinct") {
    val df = Seq(
      (1L, "x y x y x y x y"),   // every trigram window equals one of 2 grams
      (2L, "a b c d e")          // 3 distinct trigrams, each once
    ).toDF("doc_id", "text")
    val got = PipelineOps.repetitionRatio(df, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(got(0)._2 === 0.5)      // "x y x" appears 3 of 6 windows
    assert(got(1)._2 === 0.333333) // 1/3 rounded to 6dp
  }

  test("quantizeEmbeddings bounds q8 in [-127, 127] and norms match") {
    val df = Seq((1L, Array(3f, -4f))).toDF("vec_id", "embedding")
    val row = PipelineOps.quantizeEmbeddings(df, "vec_id", "embedding").head()
    assert(row.getDouble(1) === 5.0)                  // l2 norm
    val q = row.getSeq[Long](2)
    assert(q === Seq(95L, -127L))                     // floor(3/4*127), floor(-4/4*127)
  }

  test("kmeansAssign puts every vector with its nearest centroid") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1f, 0f)), (200L, Array(0f, 1f)))
      .toDF("centroid_id", "cent")
    val got = PipelineOps.kmeansAssign(vecs, cents,
        "vec_id", "embedding", "centroid_id", "cent")
      .orderBy("centroid_id")
      .select("centroid_id", "n_members").as[(Long, Long)].collect()
    assert(got === Array((100L, 2L), (200L, 2L)))
  }

  test("scrubPii redacts urls, emails, and phones and counts matches") {
    val df = Seq(
      (1L, "see https://a.io/x and mail bob@x.org or +1 555-0099 now"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val rows = PipelineOps.scrubPii(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows(0).getLong(1) === 1L && rows(0).getLong(2) === 1L &&
      rows(0).getLong(3) === 1L)
    assert(rows(0).getString(4) ===
      "see <URL> and mail <EMAIL> or <PHONE> now")
    assert(rows(1).getString(4) === "nothing here")
    assert(rows(1).getLong(1) === 0L)
  }

  test("scrubPii audit counts equal the replacements actually made") {
    // The email lives INSIDE the URL: the URL replace consumes it, so no
    // <EMAIL> token is ever written — and n_emails must be 0, not 1
    // (counts are taken on the text each stage actually matches against).
    val df = Seq((1L, "visit https://ex.com/a@b.com now"))
      .toDF("doc_id", "text")
    val r = PipelineOps.scrubPii(df, "doc_id", "text").collect()(0)
    assert(r.getString(4) === "visit <URL> now")
    assert(r.getLong(1) === 1L, "one URL redacted")
    assert(r.getLong(2) === 0L, "no email was redacted, so none counted")
  }

  test("packSequences chunks each shard's ordered docs into budget-token bins") {
    // 4 docs of 3 tokens each in one shard, budget 5:
    // cum_before = 0,3,6,9 → bins 0,0,1,1
    val df = Seq(
      (1L, "a b c", "s1"), (2L, "d e f", "s1"),
      (3L, "g h i", "s1"), (4L, "j k l", "s1"),
      (5L, "m n", "s2")).toDF("doc_id", "text", "shard")
    val got = PipelineOps.packSequences(df, "doc_id", "text", "shard", budget = 5)
      .orderBy("shard", "bin")
      .as[(String, Long, Long, Long)].collect()
    assert(got === Array(("s1", 0L, 2L, 6L), ("s1", 1L, 2L, 6L),
      ("s2", 0L, 1L, 2L)))
  }

  test("topNgrams orders by count desc then gram asc") {
    val df = Seq("b b", "b b", "a a", "a a", "c c").toDF("text")
    val got = PipelineOps.topNgrams(df, "text", n = 2, k = 2)
      .as[(String, Long)].collect()
    assert(got === Array(("a a", 2L), ("b b", 2L))) // tie broken by gram
  }

  test("bigramLmScore averages corpus-trained conditional bigram probabilities") {
    // Corpus bigrams: doc1 = [a b, b a, a b], doc2 = [a c].
    // Counts: C(a b)=2, C(b a)=1, C(a c)=1; prefixes C(a·)=3, C(b·)=1.
    // doc1 = avg(2/3, 1/1, 2/3) = 7/9; doc2 = avg(1/3).
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    val got = PipelineOps.bigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((1L, 3L, 0.777778), (2L, 1L, 0.333333)))
    // doc3 has no bigram and must be absent, not scored as null/zero
  }

  test("bigramLmScore broadcasts both count tables onto the bigram stream") {
    val plan = PipelineOps.bigramLmScore(
        graft.Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"both stat lookups should broadcast:\n${plan.take(2000)}")
  }

  test("mixtureWeights downsamples over-budget groups and never upsamples") {
    // tokens per group: a=30, b=10, c=2 → total 42, target 14.
    val df = Seq(
      ("a", "t " * 29 + "t"), ("b", "t " * 9 + "t"), ("c", "t t"))
      .toDF("source", "text")
    val got = PipelineOps.mixtureWeights(df, "source",
        size(split(col("text"), " ")).cast("long"))
      .orderBy("source")
      .select("source", "weight", "sampled_tokens")
      .as[(String, Double, Double)].collect()
    assert(got(0) === (("a", 0.466667, 14.0)))  // 14/30 capped group
    assert(got(1) === (("b", 1.0, 10.0)))       // under budget: kept whole
    assert(got(2) === (("c", 1.0, 2.0)))
  }

  test("mixtureSample keeps everything for under-budget groups and is rerun-stable") {
    // tokens: a=30, b=10, c=2 -> target 14 -> a downsampled, b/c whole.
    val df = (1L to 30L).map(i => (s"d$i", "a", "t")).toDF("k", "source", "text")
      .union((31L to 40L).map(i => (s"d$i", "b", "t")).toDF("k", "source", "text"))
      .union(Seq(("d41", "c", "t"), ("d42", "c", "t")).toDF("k", "source", "text"))
    def run() = PipelineOps.mixtureSample(df, "source", "k",
        size(split(col("text"), " ")).cast("long"))
      .orderBy("source")
      .as[(String, Long, Long, Int)].collect().toSeq
    val got = run()
    assert(got === run())                              // deterministic
    assert(got(1) === (("b", 10L, 10L, 256)))          // whole group kept
    assert(got(2) === (("c", 2L, 2L, 256)))
    val (s, total, kept, rate) = (got(0)._1, got(0)._2, got(0)._3, got(0)._4)
    assert(s === "a" && total === 30L && rate === 119) // floor(14/30*256)
    assert(kept < total, "over-budget group must actually drop rows")
  }

  test("sampleExactPerGroup draws exactly min(k, |group|) rows, matching the window form") {
    val df = graft.Tables.documents(spark, sf)
    val k = 7
    val got = PipelineOps.sampleExactPerGroup(df, "lang", "doc_id", k)
    // Quota: exactly min(k, group size) per group.
    val sizes = df.groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    val quota = got.groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    assert(quota === sizes.map { case (g, n) => g -> math.min(k.toLong, n) })
    // Same rows as a driver-side sort by (md5 draw, key) per group.
    def md5Hex(id: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ref = df.select(col("lang"), col("doc_id")).as[(String, Long)]
      .collect().toSeq.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.map(_._2).sortBy(id => (md5Hex(id), id)).take(k)
          .zipWithIndex.map { case (id, i) => (g, i + 1, id) }
      }
    assert(got.as[(String, Int, Long)].collect().toSet === ref.toSet)
  }

  test("resolveLabels picks the majority, breaking ties to the smallest label") {
    val votes = Seq(
      (1L, "cat"), (1L, "cat"), (1L, "dog"),           // clear majority
      (2L, "b"), (2L, "a"),                            // tie -> "a"
      (3L, "x"))                                       // unanimous single
      .toDF("item", "vote")
    val got = PipelineOps.resolveLabels(votes, "item", "vote")
      .orderBy("item")
      .as[(Long, String, Long, Long, Double)].collect()
    assert(got === Array(
      (1L, "cat", 2L, 3L, 0.666667),
      (2L, "a", 1L, 2L, 0.5),
      (3L, "x", 1L, 1L, 1.0)))
    // Argmax is the partial-aggregated min(struct) — never a window sort.
    val plan = PipelineOps.resolveLabels(votes, "item", "vote")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window sort:\n$plan")
  }

  test("splitAssign is exhaustive, disjoint, near-weight, and growth-stable") {
    val df = (0L until 2000L).toDF("k")
    val assigned = df.withColumn("split",
      PipelineOps.splitAssign(col("k"),
        Seq("train" -> 205, "val" -> 25, "test" -> 26)))
    val counts = assigned.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum === 2000L, "every row gets exactly one split")
    assert(counts.keySet === Set("train", "val", "test"))
    assert(math.abs(counts("train") - 2000 * 205 / 256.0) < 100)
    // growth stability: the same key keeps its split in a bigger corpus
    val bigger = (0L until 4000L).toDF("k").withColumn("split",
      PipelineOps.splitAssign(col("k"),
        Seq("train" -> 205, "val" -> 25, "test" -> 26)))
    val joined = assigned.as("a")
      .join(bigger.as("b"), col("a.k") === col("b.k"))
      .filter(col("a.split") =!= col("b.split"))
    assert(joined.count() === 0, "assignments must not change as data grows")
  }

  test("the sampler predicate and split assignment agree on the same draw") {
    // hashSamplePredicate(key, t) must keep EXACTLY the keys that
    // splitAssign puts in the first bucket of (t, 256-t) — both claim to
    // read the same md5 draw, and a divergence would silently break the
    // "sampled subset of train never overlaps test" composition.
    val df = (0L until 1000L).toDF("k")
    val t = 64
    val both = df.select(col("k"),
      PipelineOps.hashSamplePredicate(col("k"), t).as("sampled"),
      (PipelineOps.splitAssign(col("k"),
        Seq("a" -> t, "b" -> (256 - t))) === "a").as("first_bucket"))
    assert(both.filter(col("sampled") =!= col("first_bucket")).count() === 0)
    assert(both.filter(col("sampled")).count() > 0, "threshold must select rows")
  }

  test("centroidUpdate means each dimension exactly, in one exchange") {
    val df = Seq(
      (0, Seq(1.0f, 3.0f)), (0, Seq(3.0f, 5.0f)), // centroid (2, 4)
      (1, Seq(10.0f, 0.0f)))                      // singleton cluster
      .toDF("label", "embedding")
    val got = PipelineOps.centroidUpdate(df, "label", "embedding")
      .orderBy("label", "pos")
      .as[(Int, Int, Double, Long)].collect()
    assert(got === Array(
      (0, 0, 2.0, 2L), (0, 1, 4.0, 2L),
      (1, 0, 10.0, 1L), (1, 1, 0.0, 1L)))
    // One exchange total: the explode is map-side and the (cluster, pos)
    // aggregation partial-aggregates below its single shuffle.
    val plan = PipelineOps.centroidUpdate(df, "label", "embedding")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most one exchange:\n${plan.take(1500)}")
  }

  test("mixtureWeights scans the corpus once and broadcasts the grand total") {
    val docs = graft.Tables.documents(spark, sf)
    val plan = PipelineOps.mixtureWeights(docs, "source",
        size(split(col("text"), " ")).cast("long"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"grand total should broadcast onto the per-group rows:\n${plan.take(1500)}")
  }

  test("decontaminate drops exactly the documents contamination reports") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    val evalPred = col("doc_id") % 10 === 7
    val reported = PipelineOps.contamination(docs, "doc_id", "text",
        evalPred, n = 5)
      .select($"train_id").distinct().as[Long].collect().toSet
    val kept = PipelineOps.decontaminate(docs, "doc_id", "text",
        evalPred, n = 5)
      .select($"doc_id").as[Long].collect().toSet
    val train = docs.filter(!evalPred).select($"doc_id").as[Long].collect().toSet
    assert(kept === train -- reported)
    assert(reported.subsetOf(train))
    // A high minShared bar keeps weakly-overlapping docs.
    val lenient = PipelineOps.decontaminate(docs, "doc_id", "text",
        evalPred, n = 5, minShared = Long.MaxValue)
      .select($"doc_id").as[Long].collect().toSet
    assert(lenient === train)
  }

  test("weightedSamplePredicate: empty at 0, total at 65536, monotone, near-rate") {
    import spark.implicits._
    val keys = (0L until 4096L).toDF("k")
    def kept(t: Int): Set[Long] = keys
      .filter(PipelineOps.weightedSamplePredicate($"k", lit(t)))
      .as[Long].collect().toSet
    assert(kept(0).isEmpty)
    assert(kept(65536).size === 4096)
    val (low, mid, high) = (kept(16384), kept(32768), kept(49152))
    // raising a row's weight can only ADD it to the sample, never evict
    assert(low.subsetOf(mid) && mid.subsetOf(high))
    // keep rate tracks threshold/65536 (md5 uniformity, ±4% at n=4096)
    assert(math.abs(mid.size / 4096.0 - 0.5) < 0.04, s"got ${mid.size}")
    // per-row weights: a zero-weight row never survives beside kept ones
    val rows = Seq((1L, 0), (2L, 65536), (3L, 65536)).toDF("k", "w")
    val got = rows.filter(PipelineOps.weightedSamplePredicate($"k", $"w"))
      .select($"k").as[Long].collect().toSet
    assert(got === Set(2L, 3L))
  }

  test("budgetSelect keeps whole best-first docs within budget, any partitioning") {
    import spark.implicits._
    // quality order: 4 (q9,n3) → 2 (q8,n4) → 1 (q5,n5) → 3 (q2,n6)
    val docs = Seq((1L, 5L, 5L), (2L, 8L, 4L), (3L, 2L, 6L), (4L, 9L, 3L))
      .toDF("doc_id", "q", "n")
    def sel(budget: Long, parts: Int) =
      PipelineOps.budgetSelect(docs, "doc_id", $"q", $"n", budget, parts)
        .as[(Long, Long, Long, Long)].collect().sortBy(_._4)
    // 12 fits exactly 4+2+1 (3+4+5); the next doc would straddle
    assert(sel(12, 3) === Array((4L, 9L, 3L, 3L), (2L, 8L, 4L, 7L),
      (1L, 5L, 5L, 12L)))
    // 11: doc 1 straddles (cum would be 12) and is EXCLUDED, as is all after
    assert(sel(11, 3) === Array((4L, 9L, 3L, 3L), (2L, 8L, 4L, 7L)))
    // smaller than the best doc: nothing fits
    assert(sel(2, 3).isEmpty)
    // partitioning-independent: over- and under-partitioned runs agree
    assert(sel(12, 1) === sel(12, 3) && sel(12, 7) === sel(12, 3))
    // fixture corpus: equals the single-task window formulation
    val corpus = graft.Tables.documents(spark, sf)
      .select($"doc_id",
        size(array_distinct(split($"text", " "))).cast("long").as("q"),
        size(split($"text", " ")).cast("long").as("n"))
    val dist = PipelineOps.budgetSelect(corpus, "doc_id", $"q", $"n", 10000L)
    import org.apache.spark.sql.expressions.Window
    val win = corpus.withColumn("cum_tokens",
        sum($"n").over(Window.orderBy($"q".desc, $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"cum_tokens" <= 10000L)
      .select($"doc_id", $"q".as("quality"), $"n".as("n_tokens"),
        $"cum_tokens")
    assert(dist.except(win).isEmpty && win.except(dist).isEmpty,
      "two-pass sweep must equal the window formulation")
    // ordering rides a RANGE exchange; nothing funnels to one task
    // (pinned on the pre-checkpoint ordering stage: localCheckpoint hides
    // the exchange from the downstream plan)
    val plan = PipelineOps.budgetRanked(corpus, "doc_id", $"q", $"n", 32)
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"expected range exchange:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"single-task stage leaked into the sweep:\n$plan")
  }

  test("spanCorrupt round-trips, collapses runs, and tracks the mask rate") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf).select($"doc_id", $"text")
    val got = PipelineOps.spanCorrupt(docs, "doc_id", "text", 9830)
      .as[(Long, String, String, Long, Long)].collect()
    val orig = docs.as[(Long, String)].collect().toMap
    assert(got.length === orig.size)
    var masked = 0L
    var total = 0L
    got.foreach { case (id, input, target, nMasked, nSpans) =>
      // parse "<extra_id_0> a b <extra_id_1> c" into span texts
      val spans = "<extra_id_(\\d+)> ?".r.split(target).drop(1)
      assert(spans.length === nSpans,
        s"doc $id: target must carry one span per sentinel")
      // substituting spans back for sentinels reproduces the original
      val rebuilt = input.split(' ').flatMap { t =>
        if (t.startsWith("<extra_id_"))
          spans(t.stripPrefix("<extra_id_").stripSuffix(">").toInt)
            .trim.split(' ')
        else Array(t)
      }.mkString(" ")
      assert(rebuilt === orig(id), s"doc $id fails the round trip")
      assert(nSpans <= nMasked, s"doc $id: more spans than masked tokens")
      masked += nMasked
      total += orig(id).split(' ').length
    }
    // 9830/65536 ≈ 15% — the md5 draw should land near it at corpus size
    val rate = masked.toDouble / total
    assert(rate > 0.12 && rate < 0.18, s"mask rate $rate far from 15%")
    // deterministic: a rerun is bit-identical
    val again = PipelineOps.spanCorrupt(docs, "doc_id", "text", 9830)
      .as[(Long, String, String, Long, Long)].collect()
    assert(got.sortBy(_._1) === again.sortBy(_._1))
  }

  test("quantileNormalize maps each group to a uniform 0..1e6 scale, ties shared") {
    val df = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 20L),
      ("g", 4L, 40L), ("g", 5L, 50L), ("h", 6L, 999L)).toDF("s", "id", "sc")
    val got = PipelineOps.quantileNormalize(df, "s", "sc")
      .select($"id", $"pct_micro").orderBy($"id").as[(Long, Long)].collect()
    // group g (n=5): ranks 1, 2, 2, 4, 5 → (r-1)/4 micro; singleton h → 0.
    assert(got === Array((1L, 0L), (2L, 250000L), (3L, 250000L),
      (4L, 750000L), (5L, 1000000L), (6L, 0L)))
  }

  test("htEstimate recovers the exact total when every threshold is 65536") {
    val df = (1 to 50).map(i => ("g", i.toLong, 100L + i)).toDF("s", "id", "m")
    val got = PipelineOps.htEstimate(df, "s", $"id", $"m", lit(65536L))
      .as[(String, Long, Long, Long, Long, Long)].head()
    // p = 1 everywhere: every row kept, weight 1 → estimate == truth.
    val truth = (1 to 50).map(100L + _).sum
    assert(got === (("g", 50L, truth, 50L, truth, 0L)))
  }

  test("htEstimate lands near the truth under genuine per-row sampling") {
    val df = (1 to 2000).map(i => ("g", i.toLong, 50L + i % 100))
      .toDF("s", "id", "m")
    val (_, _, truth, nSampled, est, errMicro) =
      PipelineOps.htEstimate(df, "s", $"id", $"m", lit(32768L))
        .as[(String, Long, Long, Long, Long, Long)].head()
    assert(nSampled > 800 && nSampled < 1200, s"~half kept, got $nSampled")
    assert(est > 0 && math.abs(est - truth) * 1000000L / truth === errMicro)
    assert(errMicro < 100000L, s"HT estimate within 10%, got $errMicro micro")
  }

  test("semanticContamination flags only above-threshold nearest neighbors") {
    val mk = (id: Long, v: Seq[Float]) => (id, v)
    val evalSet = Seq(mk(1L, Seq(1f, 0f)), mk(2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val train = Seq(mk(10L, Seq(1f, 0.01f)), mk(11L, Seq(-1f, 0f)),
      mk(12L, Seq(0.3f, 0.3f))).toDF("vec_id", "embedding")
    val got = PipelineOps.semanticContamination(
        evalSet, train, "vec_id", "embedding", tau = 0.9)
      .orderBy($"eval_id")
      .select($"eval_id", $"nearest_train_id", $"contaminated")
      .as[(Long, Long, Boolean)].collect()
    // eval 1 ~ train 10 (cos ~ 1): contaminated; eval 2's best is train 12
    // (cos ~ 0.707) below tau: reported, not flagged.
    assert(got === Array((1L, 10L, true), (2L, 12L, false)))
  }

  test("sourceOverlap computes pairwise vocab Jaccard; hashing changes nothing") {
    val docs = Seq(("s1", "a b"), ("s2", "b c"), ("s3", "a b"))
      .toDF("src", "text")
    val got = PipelineOps.sourceOverlap(docs, "src", "text")
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      ("s1", "s2", 2L, 2L, 1L, 333333L, 500000L),
      ("s1", "s3", 2L, 2L, 2L, 1000000L, 1000000L),
      ("s2", "s3", 2L, 2L, 1L, 333333L, 500000L)))
    val unhashed = PipelineOps.sourceOverlap(docs, "src", "text",
        hashTerms = false)
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(unhashed === got)
  }

  test("apportion is exact Hamilton: floors + largest remainders, sums to budget") {
    val df = Seq(("a", 5L), ("b", 3L), ("c", 1L)).toDF("g", "wt")
    // quotas 50/9, 30/9, 10/9 -> floors (5,3,1)=9, one leftover unit to
    // the largest remainder (a: 5/9).
    val got = PipelineOps.apportion(df, "g", "wt", budget = 10L)
      .orderBy("g").as[(String, Long, Long)].collect()
    assert(got === Array(("a", 5L, 6L), ("b", 3L, 3L), ("c", 1L, 1L)))
    assert(got.map(_._3).sum === 10L)
    // Remainder ties break to the LOWEST stratum id.
    val tie = PipelineOps.apportion(
        Seq(("x", 1L), ("y", 1L)).toDF("g", "wt"), "g", "wt", budget = 3L)
      .orderBy("g").as[(String, Long, Long)].collect()
    assert(tie === Array(("x", 1L, 2L), ("y", 1L, 1L)))
  }

  test("lengthCapPlan lands exactly on the budget inside a linear stretch") {
    val docs = Seq(10L, 20L, 30L, 100L).toDF("len")
    // total = 160, budget 1/2 = 80: f(20) = 70, slack 10 over 2 docs
    // -> cap 25; sum(min(len, 25)) = 10+20+25+25 = 80, exactly b.
    val got = PipelineOps.lengthCapPlan(docs, "len", 1L, 2L)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(got === ((25L, 4L, 160L, 80L, 2L, 80L)))
    // A full budget keeps everything: cap = max length, nothing cut.
    val full = PipelineOps.lengthCapPlan(docs, "len", 1L, 1L)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(full === ((100L, 4L, 160L, 160L, 0L, 160L)))
    // Infeasible budget (below n*min_len at the first breakpoint): no row.
    assert(PipelineOps.lengthCapPlan(docs, "len", 1L, 10L).count() === 0L)
  }

  test("sourceQuota keeps the best `cap` per key with the oracle tiebreak") {
    val docs = Seq(
      ("s1", 100L, 1L), ("s1", 50L, 3L), ("s1", 50L, 2L), ("s1", 10L, 4L),
      ("s2", 7L, 9L))
      .toDF("src", "chars", "id")
    val got = PipelineOps.sourceQuota(docs, "src", "chars", "id", cap = 2)
      .orderBy("src")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // s1 keeps (100, id 1) and the 50-tie's LOWER id 2 -> 150 chars kept.
    assert(got(0) === (("s1", 4L, 2L, 2L, 150L, 210L)))
    // Below-cap keys keep everything.
    assert(got(1) === (("s2", 1L, 1L, 0L, 7L, 7L)))
  }
  test("neymanAllocation sends the budget to the noisy stratum, sums exactly") {
    // "flat": constant 10 (zero variance, weight 0); "wild": alternating
    // 0/1000 (huge variance); "mild": alternating 10/12.
    val rows = (0 until 400).flatMap { i =>
      Seq(("flat", 10.0), ("wild", if (i % 2 == 0) 0.0 else 1000.0),
        ("mild", if (i % 2 == 0) 0.10 else 0.12))
    }
    val df = rows.toDF("g", "v")
    val alloc = PipelineOps.neymanAllocation(df, "g", col("v") * 100, 1000L)
      .orderBy($"g").collect()
    val byG = alloc.map(r => r.getString(0) ->
      (r.getAs[Long]("weight"), r.getAs[Long]("alloc"))).toMap
    assert(byG("flat")._1 === 0L && byG("flat")._2 === 0L,
      "zero-variance stratum draws nothing")
    assert(byG("wild")._2 > byG("mild")._2,
      s"variance must dominate the split: $byG")
    assert(alloc.map(_.getAs[Long]("alloc")).sum === 1000L,
      "largest-remainder allocation must sum to the budget exactly")
  }

  test("effectiveSampleSize is n for uniform weights, collapses under concentration") {
    val df = Seq(
      ("uniform", 10L), ("uniform", 10L), ("uniform", 10L), ("uniform", 10L),
      ("spiky", 97L), ("spiky", 1L), ("spiky", 1L), ("spiky", 1L),
      ("zero", 0L), ("zero", 0L)).toDF("g", "w")
    val got = PipelineOps.effectiveSampleSize(df, "g", col("w"))
      .orderBy(col("g"))
      .as[(String, Long, Long, Long, Option[Long], Option[Long])].collect()
    // spiky: (100)²·1000 / (9409+3) = 10000000 div 9412 = 1062 -> ~1.06
    assert(got(0) === (("spiky", 4L, 100L, 9412L, Some(1062L), Some(265500L))))
    // uniform: (40)²·1000/400 = 4000 -> ESS = 4 = n, ratio = 1.0
    assert(got(1) === (("uniform", 4L, 40L, 400L, Some(4000L), Some(1000000L))))
    assert(got(2) === (("zero", 2L, 0L, 0L, None, None)))
  }

  test("rakeToUniform matches a driver-side BigInt mirror of the update") {
    // Skewed 2x2 corpus: row a and col x dominate. The mirror below
    // replays the EXACT integer update (same truncation points), so
    // equality is bit-for-bit, not approximate.
    val rows = Seq.fill(6)(("a", "x")) ++ Seq.fill(2)(("a", "y")) ++
      Seq.fill(1)(("b", "x")) ++ Seq.fill(3)(("b", "y"))
    val df = rows.toDF("r0", "c0")
    val got = PipelineOps.rakeToUniform(df, col("r0"), col("c0"), rounds = 4)
      .orderBy($"r", $"c").as[(String, String, Long, Long)].collect()

    var cells = Map(("a", "x") -> (6L, BigInt(1000000)),
      ("a", "y") -> (2L, BigInt(1000000)),
      ("b", "x") -> (1L, BigInt(1000000)),
      ("b", "y") -> (3L, BigInt(1000000)))
    val t = BigInt(500000)
    def scale(key: ((String, String)) => String): Unit = {
      val m = cells.groupBy { case (k, _) => key(k) }
        .map { case (g, cs) =>
          g -> cs.map { case (_, (n, w)) => BigInt(n) * w }.sum }
      val mm = m.values.sum
      cells = cells.map { case (k, (n, w)) =>
        k -> (n, (w * t * mm) / (BigInt(1000000) * m(key(k)).max(1))) }
    }
    for (_ <- 1 to 4) { scale(_._1); scale(_._2) }
    val want = cells.toSeq.sortBy { case ((r, c), _) => (r, c) }
      .map { case ((r, c), (n, w)) => (r, c, n, w.toLong) }
    assert(got.toSeq === want)

    // And the raked margins actually flattened: row-a share within 1% of
    // 50% despite the 8:4 input skew.
    val aMass = want.filter(_._1 == "a").map(x => x._3 * x._4).sum
    val total = want.map(x => x._3 * x._4).sum
    assert(math.abs(aMass.toDouble / total - 0.5) < 0.01)
  }

}
