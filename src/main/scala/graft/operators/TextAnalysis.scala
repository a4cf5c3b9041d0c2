package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import FixedPoint.{bin6, fd}

/** Text-analysis operators over the `documents` table (SURVEY.md §2.6 /
  * north-star surface): token counting, quality scoring, language ID,
  * document fingerprinting. All are single-pass, per-row computations built
  * from codegen'd built-ins — at 100 TB they run map-side with zero shuffle
  * except the final (small) aggregation, and the parquet scan prunes to the
  * referenced columns only.
  *
  * Each query has an exact DuckDB oracle; the primitives are chosen for
  * bitwise cross-engine parity (see functions.TextFunctions scaladoc).
  */
object TextAnalysis {

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) composed from
    * this library's own integer-micro [[Graph.pagerank]]: adjacent-token
    * co-occurrence edges, canonicalized and capped to the `maxEdges`
    * strongest (count-desc, then lexicographic — fully deterministic),
    * symmetrized, ranked for `iterations` damped rounds, top `k` words
    * by rank. The corpus-level "what is this corpus about" extractor
    * beside q87's per-doc TF-IDF terms.
    *
    * Scale design: one bigram explode with an immediate map-side grouped
    * count (vocab²-bounded, in practice vocab-sized); the cap bounds
    * everything downstream, so the rank iterations run on a ≤ maxEdges
    * projection exactly like the co-sale graph family. Words ride the
    * iterations as xxhash64 ids (8-byte shuffle keys, the q124/q150
    * convention — a collision would merge two words' neighborhoods;
    * at 2⁻⁶⁴ per pair that is a documented non-event) and join back to
    * strings only for the k output rows.
    */
  def textRankKeywords(df: DataFrame, textCol: String, maxEdges: Int,
      iterations: Int, k: Int): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bi = toks
      .select(explode(expr(
        """transform(sequence(0, size(tk) - 2),
           i -> named_struct('x', tk[i], 'y', tk[i + 1]))""")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
    val top = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("a"), col("b")).limit(maxEdges)
      .localCheckpoint() // stats-ok: one-shot capped edge list
    val words = top.select(col("a").as("w"))
      .union(top.select(col("b").as("w"))).distinct()
      .select(col("w"), xxhash64(col("w")).as("wid"))
      .localCheckpoint() // stats-ok: one-shot word-id map
    val e = top
      .join(words.select(col("w").as("a"), col("wid").as("sa")), "a")
      .join(words.select(col("w").as("b"), col("wid").as("sb")), "b")
      .select(col("sa"), col("sb"))
    val und = e.union(e.select(col("sb").as("sa"), col("sa").as("sb")))
    Graph.pagerank(und, "sa", "sb", iterations)
      .join(words.select(col("wid").as("node_id"), col("w")), "node_id")
      .select(col("w").as("word"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("word"))
      .limit(k)
  }

  // ---- q318: what is the documents corpus about? ------------------------------
  private def q318(s: SparkSession, d: String): DataFrame =
    textRankKeywords(Tables.documents(s, d), "text",
      maxEdges = 3000, iterations = 3, k = 20)
  private val q318Sql =
    """WITH toks AS (
         SELECT string_split(text, ' ') AS tk FROM documents
         WHERE len(string_split(text, ' ')) >= 2),
       bi AS (
         SELECT unnest(list_transform(range(1, len(tk)),
           i -> struct_pack(x := tk[i], y := tk[i + 1]))) AS p
         FROM toks),
       cw AS (
         SELECT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b,
           count(*) AS c
         FROM bi WHERE p.x != p.y GROUP BY 1, 2),
       top AS (SELECT a, b FROM cw ORDER BY c DESC, a, b LIMIT 3000),
       e AS (SELECT a AS s, b AS t FROM top
             UNION ALL SELECT b, a FROM top),
       deg AS (SELECT s AS id, count(*)::BIGINT AS dg FROM e GROUP BY 1),
       r0 AS (SELECT id, 1000000::BIGINT AS r FROM deg),
       r1 AS (SELECT e.t AS id,
                (150000 + (85 * sum(r.r // deg.dg)) // 100)::BIGINT AS r
              FROM e JOIN r0 r ON r.id = e.s JOIN deg ON deg.id = e.s
              GROUP BY 1),
       r2 AS (SELECT e.t AS id,
                (150000 + (85 * sum(r.r // deg.dg)) // 100)::BIGINT AS r
              FROM e JOIN r1 r ON r.id = e.s JOIN deg ON deg.id = e.s
              GROUP BY 1),
       r3 AS (SELECT e.t AS id,
                (150000 + (85 * sum(r.r // deg.dg)) // 100)::BIGINT AS r
              FROM e JOIN r2 r ON r.id = e.s JOIN deg ON deg.id = e.s
              GROUP BY 1)
       SELECT id AS word, r AS rank_micro FROM r3
       ORDER BY rank_micro DESC, word LIMIT 20"""

  // ---- q21: token statistics per language ----------------------------------
  // Whitespace tokens + BPE-ish subword count + char lengths, aggregated.
  private def q21(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        size(tokens(col("text"))).as("n_tok"),
        bpeTokenCount(col("text")).as("n_bpe"),
        length(col("text")).as("n_char"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens_total"),
        round(avg(col("n_tok")), 4).as("tokens_avg"),
        sum(col("n_bpe")).as("bpe_total"),
        round(avg(col("n_char")), 4).as("chars_avg"))
      .orderBy(col("lang"))
  private val q21Sql =
    """SELECT lang, count(*) AS n_docs,
       sum(len(string_split(text, ' ')))::BIGINT AS tokens_total,
       round(avg(len(string_split(text, ' '))), 4) AS tokens_avg,
       sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S')))::BIGINT AS bpe_total,
       round(avg(length(text)), 4) AS chars_avg
       FROM documents GROUP BY lang ORDER BY lang"""

  /** English stopword profile used by the quality score. */
  private val enStops =
    Seq("the", "a", "of", "and", "to", "is", "in", "that", "it", "as")

  // ---- q22: per-document quality score --------------------------------------
  // score = 0.5*stopword_ratio + 0.3*min(n_tok/100,1) + 0.2*min(avg_wlen/10,1)
  // — the standard length/stopword heuristics; all-double arithmetic in the
  // same order as the oracle so bucket boundaries agree bitwise.
  private def q22(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    // native TokenHits kernel: hash-set probe per token, not a lambda +
    // linear array scan per token
    val nStop = tokenHits(toks, enStops).cast("double")
    val stopRatio = nStop / nTok
    val avgWlen = (length(col("text")).cast("double") - (nTok - 1d)) / nTok
    val score = stopRatio * 0.5 + least(nTok / 100d, lit(1d)) * 0.3 +
      least(avgWlen / 10d, lit(1d)) * 0.2
    Tables.documents(s, d)
      .select(col("doc_id"), size(toks).as("n_tok"),
        round(stopRatio, 6).as("stop_ratio"),
        round(score, 6).as("quality"),
        when(score >= 0.5, "high").when(score >= 0.3, "mid")
          .otherwise("low").as("bucket"))
      .orderBy(col("doc_id"))
  }
  private val q22Sql =
    """SELECT doc_id, len(string_split(text, ' '))::INT AS n_tok,
       round(stop_n / tok_n, 6) AS stop_ratio,
       round(stop_n / tok_n * 0.5 + least(tok_n / 100, 1) * 0.3
             + least((length(text) - (tok_n - 1)) / tok_n / 10, 1) * 0.2, 6)
         AS quality,
       CASE WHEN stop_n / tok_n * 0.5 + least(tok_n / 100, 1) * 0.3
                 + least((length(text) - (tok_n - 1)) / tok_n / 10, 1) * 0.2 >= 0.5
            THEN 'high'
            WHEN stop_n / tok_n * 0.5 + least(tok_n / 100, 1) * 0.3
                 + least((length(text) - (tok_n - 1)) / tok_n / 10, 1) * 0.2 >= 0.3
            THEN 'mid' ELSE 'low' END AS bucket
       FROM (SELECT doc_id, text,
               len(string_split(text, ' '))::DOUBLE AS tok_n,
               len(list_filter(string_split(text, ' '), t -> list_contains(
                 ['the','a','of','and','to','is','in','that','it','as'], t)))::DOUBLE
                 AS stop_n
             FROM documents) t
       ORDER BY doc_id"""

  /** Distinctive-stopword profiles for the n-gram language-ID heuristic. */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "que", "un", "una", "por"),
    "fr" -> Seq("le", "les", "et", "est", "dans", "pour", "une", "avec", "sur", "pas"),
    "en" -> enStops)

  // ---- q23: language identification ------------------------------------------
  // CJK codepoint check first, then argmax over per-language stopword hit
  // counts with a fixed priority order (de > es > fr > en on ties). Output is
  // the confusion matrix against the fixture's lang column.
  private def q23(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    def hits(words: Seq[String]) = tokenHits(toks, words)
    val sDe = hits(langProfiles.find(_._1 == "de").get._2)
    val sEs = hits(langProfiles.find(_._1 == "es").get._2)
    val sFr = hits(langProfiles.find(_._1 == "fr").get._2)
    val sEn = hits(langProfiles.find(_._1 == "en").get._2)
    val pred = when(col("text").rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(sDe > greatest(sEs, sFr, sEn), "de")
      .when(sEs > greatest(sFr, sEn), "es")
      .when(sFr > sEn, "fr")
      .otherwise("en")
    Tables.documents(s, d)
      .select(col("lang"), pred.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }
  private val q23Sql =
    """SELECT lang, CASE
         WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
         WHEN s_de > greatest(s_es, s_fr, s_en) THEN 'de'
         WHEN s_es > greatest(s_fr, s_en) THEN 'es'
         WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS predicted,
       count(*) AS n
       FROM (SELECT lang, text,
         len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','den'], t))) AS s_de,
         len(list_filter(string_split(text,' '), t -> list_contains(['el','la','los','las','es','y','que','un','una','por'], t))) AS s_es,
         len(list_filter(string_split(text,' '), t -> list_contains(['le','les','et','est','dans','pour','une','avec','sur','pas'], t))) AS s_fr,
         len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to','is','in','that','it','as'], t))) AS s_en
         FROM documents) t
       GROUP BY lang, predicted ORDER BY lang, predicted"""

  /** Encoding/casing anomaly audit per source: how many documents carry
    * multi-byte (non-ASCII) content, U+FFFD replacement characters (the
    * smoking gun of a mis-decoded feed), shouting-heavy text (≥ 20% of
    * tokens fully uppercase), or absurdly long tokens (> 30 chars — the
    * base64/URL-blob tell). The triage table a corpus-ingest on-call
    * reads before anything touches a tokenizer. All doc-level booleans
    * from per-row expressions; multi-byte detection is the regex-free
    * octet_length > char_length identity, bit-identical on both engines.
    *
    * Scale design: one map pass, one partial-aggregated groupBy to
    * |sources| rows. (The two token-level checks run interpreted HOF
    * lambdas — acceptable in an audit path run once per ingest, and the
    * [[graft.functions.TokenHits]] kernel pattern is the documented
    * upgrade if an audit ever becomes a hot path.)
    */
  def encodingAudit(df: DataFrame, sourceCol: Column,
      textColName: String): DataFrame = {
    val textCol = col(textColName)
    val toks = split(textCol, " ")
    val capsShare = expr(
      s"""(size(filter(split($textColName, ' '),
          t -> t = upper(t) AND t != lower(t))) * 1000000L)
        div greatest(size(split($textColName, ' ')), 1)""")
    df.select(sourceCol.as("source"),
        (octet_length(textCol) > length(textCol)).as("multibyte"),
        contains(textCol, lit("�")).as("replacement"),
        (capsShare >= 200000L).as("caps_heavy"),
        (array_max(transform(toks, t => length(t))) > 30).as("long_token"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("multibyte"), 1)).as("n_multibyte"),
        count(when(col("replacement"), 1)).as("n_replacement"),
        count(when(col("caps_heavy"), 1)).as("n_caps_heavy"),
        count(when(col("long_token"), 1)).as("n_long_token"))
  }

  // ---- q307: which sources need a decoding/cleaning pass? ---------------------
  private def q307(s: SparkSession, d: String): DataFrame =
    encodingAudit(Tables.documents(s, d), col("source"), "text")
      .orderBy(col("source"))
  private val q307Sql =
    """SELECT source, count(*)::BIGINT AS n_docs,
       count(CASE WHEN strlen(text) > length(text) THEN 1 END)::BIGINT
         AS n_multibyte,
       count(CASE WHEN contains(text, chr(65533)) THEN 1 END)::BIGINT
         AS n_replacement,
       count(CASE WHEN
           (len(list_filter(string_split(text, ' '),
             t -> t = upper(t) AND t != lower(t))) * 1000000)
           // greatest(len(string_split(text, ' ')), 1) >= 200000
         THEN 1 END)::BIGINT AS n_caps_heavy,
       count(CASE WHEN
           list_max(list_transform(string_split(text, ' '),
             t -> length(t))) > 30
         THEN 1 END)::BIGINT AS n_long_token
       FROM documents GROUP BY source ORDER BY source"""

  /** Per-class precision / recall / F1 of the language heuristic against
    * the declared labels — the q23 confusion matrix rolled up to the
    * numbers a pipeline actually gates on ("drop languages below 80%
    * precision"). Exact micro algebra: p = tp·10⁶ div (tp+fp),
    * r = tp·10⁶ div (tp+fn), F1 = 2·p·r div (p+r); classes with no
    * predictions (or no docs) report null instead of a fake zero.
    *
    * Scale design: everything derives from the |langs|²-sized confusion
    * collapse — one corpus pass, then metadata-sized joins.
    */
  def langIdQuality(df: DataFrame, labelCol: String,
      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    def hits(lang: String) =
      tokenHits(toks, langProfiles.find(_._1 == lang).get._2)
    val sDe = hits("de"); val sEs = hits("es")
    val sFr = hits("fr"); val sEn = hits("en")
    val pred = when(col(textCol).rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(sDe > greatest(sEs, sFr, sEn), "de")
      .when(sEs > greatest(sFr, sEn), "es")
      .when(sFr > sEn, "fr")
      .otherwise("en")
    val conf = df.select(col(labelCol).as("lang"), pred.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
    val langTot = conf.groupBy(col("lang")).agg(sum(col("n")).as("n_docs"))
    val predTot = conf.groupBy(col("predicted"))
      .agg(sum(col("n")).as("n_pred"))
    val tp = conf.filter(col("lang") === col("predicted"))
      .select(col("lang"), col("n").as("tp"))
    langTot
      .join(tp, Seq("lang"), "left")
      .join(predTot.withColumnRenamed("predicted", "lang"), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .withColumn("precision_micro",
        when(col("n_pred") > 0, expr("(tp * 1000000L) div n_pred"))
          .otherwise(lit(null).cast("long")))
      .withColumn("recall_micro", expr("(tp * 1000000L) div n_docs"))
      .withColumn("f1_micro",
        when(col("precision_micro").isNotNull
            && col("precision_micro") + col("recall_micro") > 0,
          expr("(2L * precision_micro * recall_micro) div (precision_micro + recall_micro)"))
          .otherwise(lit(null).cast("long")))
  }

  // ---- q291: which languages can the heuristic be trusted on? -----------------
  private def q291(s: SparkSession, d: String): DataFrame =
    langIdQuality(Tables.documents(s, d), "lang", "text")
      .orderBy(col("lang"))
  private val q291Sql =
    """WITH conf AS (
         SELECT lang, CASE
           WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
           WHEN s_de > greatest(s_es, s_fr, s_en) THEN 'de'
           WHEN s_es > greatest(s_fr, s_en) THEN 'es'
           WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS predicted,
           count(*)::BIGINT AS n
         FROM (SELECT lang, text,
           len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','den'], t))) AS s_de,
           len(list_filter(string_split(text,' '), t -> list_contains(['el','la','los','las','es','y','que','un','una','por'], t))) AS s_es,
           len(list_filter(string_split(text,' '), t -> list_contains(['le','les','et','est','dans','pour','une','avec','sur','pas'], t))) AS s_fr,
           len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to','is','in','that','it','as'], t))) AS s_en
           FROM documents) t
         GROUP BY lang, predicted),
       lt AS (SELECT lang, sum(n)::BIGINT AS n_docs FROM conf GROUP BY 1),
       pt AS (SELECT predicted, sum(n)::BIGINT AS n_pred FROM conf GROUP BY 1),
       tp AS (SELECT lang, n AS tp FROM conf WHERE lang = predicted),
       base AS (
         SELECT lt.lang, lt.n_docs, coalesce(tp.tp, 0)::BIGINT AS tp,
           coalesce(pt.n_pred, 0)::BIGINT AS n_pred
         FROM lt LEFT JOIN tp ON lt.lang = tp.lang
           LEFT JOIN pt ON lt.lang = pt.predicted),
       m AS (
         SELECT lang, n_docs, tp, n_pred,
           CASE WHEN n_pred > 0 THEN (tp * 1000000) // n_pred
             ELSE NULL END::BIGINT AS precision_micro,
           ((tp * 1000000) // n_docs)::BIGINT AS recall_micro
         FROM base)
       SELECT lang, n_docs, tp, n_pred, precision_micro, recall_micro,
         CASE WHEN precision_micro IS NOT NULL
             AND precision_micro + recall_micro > 0
           THEN (2 * precision_micro * recall_micro)
             // (precision_micro + recall_micro)
           ELSE NULL END::BIGINT AS f1_micro
       FROM m ORDER BY lang"""

  /** Language-ID confidence margin: beside q23's argmax prediction, the
    * gap between the best and second-best profile scores — the
    * mixed-language / too-short-to-tell detector (a monolingual doc
    * separates its profiles; code-switched or template text ties them).
    * Low-margin docs are the ones a pipeline routes to a heavier
    * classifier instead of trusting the heuristic.
    *
    * Same zero-shuffle per-row kernels as [[q23]] (TokenHits per
    * profile); best/second via one sorted 4-array per row. CJK docs
    * short-circuit to 'zh' with a null margin (the codepoint check is
    * not score-based).
    */
  def langIdMargin(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    def hits(lang: String) =
      tokenHits(toks, langProfiles.find(_._1 == lang).get._2)
    val scores = sort_array(array(hits("de"), hits("es"), hits("fr"),
      hits("en")))
    val sDe = hits("de"); val sEs = hits("es")
    val sFr = hits("fr"); val sEn = hits("en")
    val pred = when(col(textCol).rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(sDe > greatest(sEs, sFr, sEn), "de")
      .when(sEs > greatest(sFr, sEn), "es")
      .when(sFr > sEn, "fr")
      .otherwise("en")
    df.select(col(idCol), pred.as("predicted"),
        when(pred === "zh", lit(null).cast("long"))
          .otherwise((element_at(scores, 4) - element_at(scores, 3))
            .cast("long")).as("margin"))
      .withColumn("confident",
        col("predicted") === "zh" || col("margin") >= 2)
  }

  // ---- q258: how trustworthy is the language heuristic, per language? ---------
  private def q258(s: SparkSession, d: String): DataFrame =
    langIdMargin(Tables.documents(s, d), "doc_id", "text")
      .groupBy(col("predicted"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(!col("confident"), 1)).as("n_low_margin"),
        coalesce(sum(col("margin")), lit(0L)).as("margin_total"))
      .withColumn("low_margin_micro",
        expr("n_low_margin * 1000000L div n_docs"))
      .orderBy(col("predicted"))
  private val q258Sql =
    """WITH scored AS (
         SELECT doc_id,
           CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             WHEN s_de > greatest(s_es, s_fr, s_en) THEN 'de'
             WHEN s_es > greatest(s_fr, s_en) THEN 'es'
             WHEN s_fr > s_en THEN 'fr' ELSE 'en' END AS predicted,
           list_sort([s_de, s_es, s_fr, s_en]) AS ss
         FROM (SELECT doc_id, text,
           len(list_filter(string_split(text,' '), t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','den'], t))) AS s_de,
           len(list_filter(string_split(text,' '), t -> list_contains(['el','la','los','las','es','y','que','un','una','por'], t))) AS s_es,
           len(list_filter(string_split(text,' '), t -> list_contains(['le','les','et','est','dans','pour','une','avec','sur','pas'], t))) AS s_fr,
           len(list_filter(string_split(text,' '), t -> list_contains(['the','a','of','and','to','is','in','that','it','as'], t))) AS s_en
           FROM documents) t),
       m AS (
         SELECT predicted,
           CASE WHEN predicted = 'zh' THEN NULL
             ELSE (ss[4] - ss[3])::BIGINT END AS margin,
           (predicted = 'zh' OR (ss[4] - ss[3]) >= 2) AS confident
         FROM scored)
       SELECT predicted, count(*)::BIGINT AS n_docs,
         count(*) FILTER (WHERE NOT confident)::BIGINT AS n_low_margin,
         coalesce(sum(margin), 0)::BIGINT AS margin_total,
         (count(*) FILTER (WHERE NOT confident) * 1000000
           // count(*))::BIGINT AS low_margin_micro
       FROM m GROUP BY predicted ORDER BY predicted"""

  /** Gopher-style rule-based document filter: each heuristic is emitted as
    * its own boolean alongside the final `keep`, so a pipeline can both
    * filter and audit per-rule rejection rates in one pass. Rules follow
    * the published Gopher/C4 recipe shapes (word-count bounds, mean word
    * length bounds, max single-token frequency, minimum stopword hits) with
    * thresholds parameterized — the defaults here are tuned to the fixture
    * corpus so every rule discriminates.
    *
    * Scale: single map-side pass over pruned (id, text) columns — zero
    * shuffle, all codegen'd built-ins plus the native repetition/token-hit
    * kernels; at 100 TB this is scan-bound.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 20, maxWords: Int = 85,
      minWordLen: Double = 4.3, maxWordLen: Double = 4.75,
      maxTopTokenRatio: Double = 0.125,
      stopwords: Seq[String] = enStops, minStopHits: Int = 2): DataFrame = {
    val toks = tokens(col(textCol))
    val nW = size(toks).cast("double")
    val meanWlen = (length(col(textCol)).cast("double") - (nW - 1d)) / nW
    val topRatio = repetitionRatio(toks, 1)
    val stopHits = tokenHits(toks, stopwords)
    val okWords = nW >= minWords && nW <= maxWords
    val okWlen = meanWlen >= minWordLen && meanWlen <= maxWordLen
    val okRep = topRatio <= maxTopTokenRatio
    val okStop = stopHits >= minStopHits
    df.select(col(idCol),
      nW.cast("int").as("n_words"),
      round(meanWlen, 6).as("mean_wlen"),
      round(topRatio, 6).as("top_ratio"),
      stopHits.as("stop_hits"),
      okWords.as("ok_words"), okWlen.as("ok_wlen"),
      okRep.as("ok_rep"), okStop.as("ok_stop"),
      (okWords && okWlen && okRep && okStop).as("keep"))
  }

  // ---- q61: Gopher rule filter ------------------------------------------------
  private def q61(s: SparkSession, d: String): DataFrame =
    gopherFilter(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  private val q61Sql =
    """WITH f AS (
         SELECT doc_id, string_split(text, ' ') AS toks,
           len(string_split(text, ' '))::DOUBLE AS nw,
           length(text)::DOUBLE AS nc
         FROM documents),
       m AS (
         SELECT doc_id, nw, (nc - (nw - 1)) / nw AS mean_wlen,
           list_max(list_transform(list_distinct(toks),
             d -> len(list_filter(toks, x -> x = d))))::DOUBLE / nw AS top_ratio,
           len(list_filter(toks, t -> list_contains(
             ['the','a','of','and','to','is','in','that','it','as'], t)))::INT
             AS stop_hits
         FROM f)
       SELECT doc_id, nw::INT AS n_words,
         round(mean_wlen, 6) AS mean_wlen,
         round(top_ratio, 6) AS top_ratio, stop_hits,
         nw >= 20 AND nw <= 85 AS ok_words,
         mean_wlen >= 4.3 AND mean_wlen <= 4.75 AS ok_wlen,
         top_ratio <= 0.125 AS ok_rep,
         stop_hits >= 2 AS ok_stop,
         nw >= 20 AND nw <= 85 AND mean_wlen >= 4.3 AND mean_wlen <= 4.75
           AND top_ratio <= 0.125 AND stop_hits >= 2 AS keep
       FROM m ORDER BY doc_id"""

  /** Flesch reading-ease and Flesch–Kincaid grade per document — the
    * classic readability pair (Kincaid et al. 1975), a standard cheap
    * quality-scoring signal next to [[gopherFilter]]'s rules. Sentences
    * split on `[.!?]+` runs (non-blank pieces, floor 1 so fragments
    * without terminal punctuation still score); words split on single
    * spaces (the [[gopherFilter]] contract); syllables per word via the
    * vowel-group heuristic — count of `[aeiouy]+` runs in the
    * lowercased word, floor 1.
    *
    * Exactness: the three counts are exact integers on both engines
    * (RE2/Java-portable regex subset); the two scores are then a fixed
    * dag of correctly-rounded double ops over those integers —
    * bit-identical cross-engine — floored to 6 places half-up with the
    * house bin6 idiom (no engine round() involved), −0.0-canonicalized.
    *
    * Scale: pure map-side codegen'd string work fused into the scan —
    * zero shuffle, no UDFs; at 100 TB this is scan-bound like
    * [[normalizeText]].
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nSent = greatest(lit(1L), size(filter(
      split(t, "[.!?]+"), s => length(trim(s)) > 0)).cast("long"))
    val nWords = size(split(t, " ")).cast("long")
    val nSyll = expr(s"""aggregate(
      transform(split($textCol, ' '),
        w -> cast(greatest(1, regexp_count(lower(w), '[aeiouy]+')) as bigint)),
      0L, (a, x) -> a + x)""")
    val ws = col("n_words").cast("double") / col("n_sentences").cast("double")
    val sw = col("n_syllables").cast("double") / col("n_words").cast("double")
    df.select(col(idCol), nSent.as("n_sentences"), nWords.as("n_words"),
        nSyll.as("n_syllables"))
      .select(col(idCol), col("n_sentences"), col("n_words"),
        col("n_syllables"),
        (bin6(lit(206.835) - lit(1.015) * ws - lit(84.6) * sw) + lit(0.0))
          .as("flesch_ease"),
        (bin6(lit(0.39) * ws + lit(11.8) * sw - lit(15.59)) + lit(0.0))
          .as("fk_grade"))
  }

  // ---- q365: readability scores over the corpus --------------------------------
  private def q365(s: SparkSession, d: String): DataFrame =
    readability(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  private val q365Sql =
    """WITH c AS (
         SELECT doc_id,
           greatest(1, len(list_filter(regexp_split_to_array(text, '[.!?]+'),
             s -> length(trim(s)) > 0)))::BIGINT AS n_sentences,
           len(string_split(text, ' '))::BIGINT AS n_words,
           list_sum(list_transform(string_split(text, ' '),
             w -> greatest(1, len(regexp_extract_all(lower(w),
               '[aeiouy]+')))))::BIGINT AS n_syllables
         FROM documents)
       SELECT doc_id, n_sentences, n_words, n_syllables,
         floor((206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
           - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE)) * 1e6 + 0.5)
           / 1e6 + 0.0 AS flesch_ease,
         floor((0.39 * (n_words::DOUBLE / n_sentences::DOUBLE)
           + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE) - 15.59)
           * 1e6 + 0.5) / 1e6 + 0.0 AS fk_grade
       FROM c ORDER BY doc_id"""

  /** Canonical text normalization — the step every dedup/quality pipeline
    * runs FIRST, so that hashing and n-gram stages see one spelling of each
    * document: lowercase, control whitespace (tab/newline/CR) to spaces,
    * collapse space runs, trim. Appends a `norm` column plus a `changed`
    * audit boolean.
    *
    * Scale: pure map-side codegen'd string work (lower/regexp_replace/trim),
    * zero shuffle; at 100 TB this is scan-bound and pipelines into whatever
    * consumes `norm` (fingerprint, minhash, exact-dedup md5) in the same
    * whole-stage codegen span. The regex subset ([\t\n\r], ' +') is
    * RE2/Java-portable, so cross-engine parity is exact.
    */
  def normalizeText(df: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[\\t\\n\\r]", " "), " +", " "))
    df.withColumn("norm", norm)
      .withColumn("changed", col("norm") =!= col(textCol))
  }

  // ---- q73: text normalization ------------------------------------------------
  // The fixture corpus is already clean (lowercase, single-spaced), so the
  // query first dirties it deterministically by doc_id — uppercase+indent,
  // tabs for spaces, doubled spaces + trailing newline, or untouched — then
  // asserts the normalizer restores the canonical form (matches_clean).
  private def q73(s: SparkSession, d: String): DataFrame = {
    val m = col("doc_id") % 4
    val dirty = when(m === 0, concat(lit("  "), upper(col("text"))))
      .when(m === 1, regexp_replace(col("text"), " ", "\t"))
      .when(m === 2, concat(regexp_replace(col("text"), " ", "  "), lit("\n")))
      .otherwise(col("text"))
    normalizeText(
        Tables.documents(s, d).select(col("doc_id"), col("text"),
          dirty.as("raw")),
        "raw")
      .select(col("doc_id"), col("changed"),
        length(col("norm")).cast("long").as("norm_len"),
        md5(col("norm")).as("norm_hash"),
        (col("norm") === col("text")).as("matches_clean"))
      .orderBy(col("doc_id"))
  }
  private val q73Sql =
    """WITH dirty AS (
         SELECT doc_id, text,
           CASE WHEN doc_id % 4 = 0 THEN '  ' || upper(text)
                WHEN doc_id % 4 = 1 THEN replace(text, ' ', chr(9))
                WHEN doc_id % 4 = 2 THEN replace(text, ' ', '  ') || chr(10)
                ELSE text END AS raw
         FROM documents),
       n AS (
         SELECT doc_id, text, raw,
           trim(regexp_replace(regexp_replace(lower(raw),
             '[\t\n\r]', ' ', 'g'), ' +', ' ', 'g')) AS norm
         FROM dirty)
       SELECT doc_id, norm <> raw AS changed,
         length(norm)::BIGINT AS norm_len, md5(norm) AS norm_hash,
         norm = text AS matches_clean
       FROM n ORDER BY doc_id"""

  /** Lexical diversity per document: type-token ratio (distinct/total) and
    * Simpson concentration (Σc²/total²) — the vocabulary-richness quality
    * signals used beside [[gopherFilter]]'s rules. Entropy would carry the
    * same information but `ln` is not cross-engine bit-stable; the Simpson
    * index is rational arithmetic over exact integer counts, so parity is
    * exact (the ratios are rounded only at the very end).
    *
    * Scale design: the sufficient statistics come from the
    * [[graft.functions.TokenDiversity]] native kernel — one compiled pass
    * per row, zero shuffle. The relational formulation (explode →
    * groupBy(doc, token) → groupBy(doc)) shuffles every token occurrence
    * of the corpus twice; TextKernelsSpec pins that both agree.
    */
  def tokenDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        call_function("graft_token_stats", tokens(col(textCol))).as("s"))
      .select(col(idCol),
        element_at(col("s"), 1).as("distinct_tokens"),
        element_at(col("s"), 2).as("total_tokens"),
        element_at(col("s"), 3).as("sum_sq"))
      .withColumn("ttr",
        round(col("distinct_tokens") / col("total_tokens"), 6))
      .withColumn("simpson",
        round(col("sum_sq") / (col("total_tokens") * col("total_tokens")), 6))

  // ---- q77: lexical diversity -------------------------------------------------
  private def q77(s: SparkSession, d: String): DataFrame =
    tokenDiversity(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  private val q77Sql =
    """WITH t AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
       s AS (
         SELECT doc_id, count(*)::BIGINT AS distinct_tokens,
           sum(c)::BIGINT AS total_tokens, sum(c * c)::BIGINT AS sum_sq
         FROM c GROUP BY 1)
       SELECT doc_id, distinct_tokens, total_tokens, sum_sq,
         round(distinct_tokens / total_tokens, 6) AS ttr,
         round(sum_sq / (total_tokens * total_tokens), 6) AS simpson
       FROM s ORDER BY doc_id"""

  // ---- q24: document fingerprint (rolling hash) -------------------------------
  // Per-document 31-bit polynomial hash of the full character stream — the
  // cheap exact-dedup / shard-routing key. Pure map-side.
  private def q24(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), polyHash(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  private val q24Sql =
    """SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT,
           list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
         (acc, c) -> (acc * 131 + c) % 2147483647) AS fingerprint
       FROM documents ORDER BY doc_id"""

  /** Top-k characteristic terms per document by TF-IDF (rational variant:
    * score = tf · N / doc_freq). The classic "what is this document about"
    * / keyword-extraction operator. The usual `ln(N/df)` damping is
    * deliberately NOT applied: `ln` is not bit-stable across engines'
    * libms, while integer tf·N with one double division is — and a
    * monotone transform of 1/df does not change per-document term
    * RANKINGS, only the score scale (document it, don't break the oracle).
    *
    * Scale design: token occurrences collapse to (doc, term, tf) with
    * map-side partials in the first shuffle; document frequency is a
    * second aggregation of that already-collapsed relation (vocab-sized
    * output). The df join exchanges the collapsed tf relation by term —
    * never raw token occurrences — and the corpus size joins as a
    * broadcast single row. Final per-doc ranking is `row_number() <= k`
    * over (score desc, term asc): its Partial `WindowGroupLimit` keeps k
    * rows per doc per map partition below the exchange, never a
    * document's full vocabulary. Terms tie-break in UTF-8 byte order, as
    * in the DuckDB oracle.
    */
  def tfIdfTop(df: DataFrame, idCol: String, textCol: String, k: Int,
      docFilter: Column = lit(true)): DataFrame = {
    val tf = df
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.filter(docFilter)
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id").cast("long").as("doc_id"), col("term"), col("tf"),
        col("doc_freq"),
        round(col("tf").cast("double") * col("n_docs") / col("doc_freq"), 6)
          .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("doc_freq"), col("score"))
  }

  // ---- q87: TF-IDF top terms per document ------------------------------------
  // df/N computed over the whole corpus; top terms emitted for doc_id < 100.
  private def q87(s: SparkSession, d: String): DataFrame =
    tfIdfTop(Tables.documents(s, d), "doc_id", "text", k = 3,
        docFilter = col("doc_id") < 100)
      .orderBy(col("doc_id"), col("rank"))
  private val q87Sql =
    """WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (
         SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       dfreq AS (
         SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (
         SELECT doc_id, term, tf, doc_freq,
           round(tf::DOUBLE * n_docs / doc_freq, 6) AS score
         FROM tf JOIN dfreq USING (term) CROSS JOIN n
         WHERE doc_id < 100),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY doc_id
           ORDER BY score DESC, term) AS rank
         FROM scored)
       SELECT doc_id, rank::INT AS rank, term, tf, doc_freq, score
       FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""

  /** Vocabulary coverage / out-of-vocabulary rate per document, against
    * the corpus's own top-`vocabSize` tokens — the pre-training check
    * that a tokenizer's vocab (or a frozen embedding table) covers the
    * corpus, and the filter for documents that are mostly OOV noise.
    *
    * Scale design: the vocabulary is built by a map-side partial-
    * aggregated token count (corpus collapses to vocab cardinality before
    * the shuffle) and a small top-k sort; the membership probe is a
    * BROADCAST left join — the token stream itself is never shuffled for
    * the lookup, and the per-doc aggregation partials below its exchange.
    * Vocab boundary ties break (count desc, token asc) identically in
    * both engines, so the selected vocabulary is deterministic.
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_v").isNull, 1)).as("n_oov"),
        round(count(when(col("in_v").isNull, 1)).cast("double")
          / count(lit(1)), 6).as("oov_rate"))
  }

  /** Corpus-level vocabulary coverage CURVE: at each candidate vocab
    * size, the share of all token occurrences the top-S tokens (by
    * frequency, ties on token) cover — the tokenizer-sizing table
    * ("32k tokens covers 97.2%, 64k buys 1.1% more"), where [[vocabCoverage]]
    * scores DOCS against one fixed vocab. The frequency ranking and the
    * cumulative mass both ride [[DistributedPrefix.cumSums]] (range
    * partition + seeded per-partition windows — NO single-task global
    * sort even though token frequencies are near-all-distinct at corpus
    * scale).
    *
    * Scale design: one token-count collapse (vocab-sized), the two-pass
    * prefix sum over it, then |sizes| metadata-sized aggregates against
    * one broadcast totals row.
    */
  def vocabCoverageCurve(df: DataFrame, textCol: String,
      sizes: Seq[Long]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), "sizes must be >= 1")
    val counts = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("one", lit(1L))
    val ranked = DistributedPrefix.cumSums(counts, Nil,
      Seq(col("c").desc, col("tok")), Seq("c", "one"))
    val totals = broadcast(counts.agg(sum(col("c")).as("tokens_total"),
      count(lit(1)).as("n_vocab")))
    sizes.map { sz =>
      ranked.filter(col("cum_one") <= sz)
        .agg(coalesce(max(col("cum_c")), lit(0L)).as("tokens_covered"))
        .select(lit(sz).as("vocab_size"), col("tokens_covered"))
    }.reduce(_.unionAll(_))
      .crossJoin(totals)
      .select(col("vocab_size"), col("n_vocab"), col("tokens_total"),
        col("tokens_covered"),
        expr("(tokens_covered * 1000000L) div tokens_total")
          .as("coverage_micro"))
  }

  // ---- q280: how big a vocabulary does this corpus need? ----------------------
  private def q280(s: SparkSession, d: String): DataFrame =
    vocabCoverageCurve(Tables.documents(s, d), "text",
        Seq(100L, 1000L, 10000L))
      .orderBy(col("vocab_size"))
  private val q280Sql =
    """WITH toks AS (
         SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       counts AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY 1),
       ranked AS (
         SELECT tok, c,
           sum(c) OVER (ORDER BY c DESC, tok) AS cum_c,
           row_number() OVER (ORDER BY c DESC, tok) AS rn
         FROM counts),
       tot AS (
         SELECT sum(c)::BIGINT AS tokens_total, count(*)::BIGINT AS n_vocab
         FROM counts),
       u AS (SELECT 100::BIGINT AS vocab_size
             UNION ALL SELECT 1000 UNION ALL SELECT 10000)
       SELECT u.vocab_size, t.n_vocab, t.tokens_total,
         coalesce((SELECT max(cum_c) FROM ranked
           WHERE rn <= u.vocab_size), 0)::BIGINT AS tokens_covered,
         (coalesce((SELECT max(cum_c) FROM ranked
           WHERE rn <= u.vocab_size), 0) * 1000000
           // t.tokens_total)::BIGINT AS coverage_micro
       FROM u, tot t ORDER BY u.vocab_size"""

  // ---- q91: vocabulary coverage / OOV rate ------------------------------------
  private def q91(s: SparkSession, d: String): DataFrame =
    vocabCoverage(Tables.documents(s, d), "doc_id", "text", vocabSize = 200)
      .orderBy(col("doc_id"))
  private val q91Sql =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       vocab AS (
         SELECT tok FROM (
           SELECT tok, count(*) AS c,
             row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
           FROM toks GROUP BY tok)
         WHERE rn <= 200)
       SELECT doc_id, count(*) AS n_tokens,
         count(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
         round(count(*) FILTER (WHERE v.tok IS NULL) / count(*)::DOUBLE, 6)
           AS oov_rate
       FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       GROUP BY doc_id ORDER BY doc_id"""

  /** Fixed-size token chunking with overlap — the retrieval/embedding
    * prep step (chunk long documents into `chunkTokens`-token windows
    * advancing by `chunkTokens - overlapTokens`). Chunk starts are every
    * multiple of the step below the document's token count, so the final
    * chunk may be short; `overlap` tokens are repeated between adjacent
    * chunks for boundary-context continuity.
    *
    * Scale design: pure map-side — tokenize once per row, explode the
    * (tiny) start-offset array, slice the token window per start; zero
    * shuffle, pipelines straight into an embedding stage. Chunk identity
    * is (doc_id, chunk_idx), deterministic.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlapTokens
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0),
          greatest(size(col("toks")) - 1, lit(0)), lit(step))).as("start"))
      .select(col(idCol),
        (col("start") / step).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkTokens)))
          .as("chunk"),
        least(lit(chunkTokens), size(col("toks")) - col("start"))
          .cast("long").as("n_tokens"))
  }

  // ---- q98: overlapping token chunking ----------------------------------------
  private def q98(s: SparkSession, d: String): DataFrame =
    chunkDocuments(Tables.documents(s, d).filter(col("doc_id") < 50),
        "doc_id", "text", chunkTokens = 40, overlapTokens = 10)
      .orderBy(col("doc_id"), col("chunk_idx"))
  private val q98Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents
         WHERE doc_id < 50),
       starts AS (
         SELECT doc_id, t, unnest(range(0, len(t), 30)) AS start
         FROM toks)
       SELECT doc_id, (start // 30)::INT AS chunk_idx,
         array_to_string(list_slice(t, start + 1, start + 40), ' ') AS chunk,
         least(40, len(t) - start)::BIGINT AS n_tokens
       FROM starts ORDER BY doc_id, chunk_idx"""

  /** Pairwise token co-occurrence above a support threshold — the
    * market-basket / "terms that travel together" miner, restricted to
    * the corpus's `vocabSize` most frequent tokens so the pair space is
    * bounded by construction (C(v, 2), not C(distinct-tokens, 2)).
    *
    * Scale design: the vocab is a broadcast semi-join filter (the token
    * stream never shuffles for it); per-document distinct membership
    * collapses map-side; the pair join runs on the (doc, vocab-token)
    * relation — bounded per doc by v — and orders pairs (a < b) so each
    * pair counts once. Support counting partial-aggregates to ≤ C(v, 2)
    * rows before the final exchange.
    */
  def cooccurrence(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, minCount: Long): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"))
    val member = toks.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok")).distinct()
    member.select(col("doc_id"), col("tok").as("a"))
      .join(member.select(col("doc_id"), col("tok").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minCount)
  }

  /** Pointwise mutual information over document-level co-occurrence —
    * [[cooccurrence]] counts "terms that travel together", PMI asks
    * whether they travel together MORE THAN THEIR POPULARITY predicts
    * (the word2vec-era association score; Levy & Goldberg 2014 showed
    * SGNS embeddings factorize exactly this matrix). Exact integer
    * micros via the ln(a/b) = ln a − ln b trick ([[Supervised.miRanking]]
    * discipline): pmi_q = lnq(n_ab) + lnq(D) − lnq(n_a) − lnq(n_b),
    * every logarithm on an INTEGER argument.
    *
    * Scale: the pair space is vocab-bounded (the cooccurrence
    * contract); the marginals are one dimension-sized aggregate
    * broadcast onto the pair relation.
    */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, minCount: Long, topK: Int): DataFrame = {
    require(topK >= 1, "pmiPairs needs topK >= 1")
    val lnq = (c: Column) => floor(log(c.cast("double")) * lit(1e6) +
      lit(0.5)).cast("long")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"))
    val member = toks.join(broadcast(vocab), "tok")
      .select(col("doc_id"), col("tok")).distinct()
    val marg = member.groupBy(col("tok")).agg(count(lit(1)).as("nd"))
    val docs = df.agg(countDistinct(col(idCol)).as("dd"))
    member.select(col("doc_id"), col("tok").as("a"))
      .join(member.select(col("doc_id"), col("tok").as("b")), "doc_id")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minCount)
      .join(broadcast(marg.select(col("tok").as("a"), col("nd").as("na"))),
        Seq("a"))
      .join(broadcast(marg.select(col("tok").as("b"), col("nd").as("nb"))),
        Seq("b"))
      .crossJoin(broadcast(docs))
      .select(col("a"), col("b"), col("n_docs"),
        (lnq(col("n_docs")) + lnq(col("dd")) - lnq(col("na")) -
          lnq(col("nb"))).as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("a"), col("b"))
      .limit(topK)
  }

  // ---- q391: which frequent terms attract beyond popularity? -----------------
  private def q391(s: SparkSession, d: String): DataFrame =
    pmiPairs(Tables.documents(s, d), "doc_id", "text",
      vocabSize = 30, minCount = 50, topK = 25)
  private val q391Sql =
    """WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      vocab AS (
        SELECT tok FROM (
          SELECT tok, count(*) AS c,
            row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
          FROM toks GROUP BY tok)
        WHERE rn <= 30),
      member AS (
        SELECT DISTINCT doc_id, tok FROM toks
        WHERE tok IN (SELECT tok FROM vocab)),
      marg AS (SELECT tok, count(*)::BIGINT AS nd FROM member GROUP BY tok),
      dd AS (SELECT count(DISTINCT doc_id)::BIGINT AS dd FROM documents),
      pairs AS (
        SELECT m1.tok AS a, m2.tok AS b, count(*)::BIGINT AS n_docs
        FROM member m1 JOIN member m2 ON m1.doc_id = m2.doc_id
          AND m1.tok < m2.tok
        GROUP BY 1, 2 HAVING count(*) >= 50)
      SELECT a, b, n_docs,
        (floor(ln(n_docs)*1e6+0.5)::BIGINT + floor(ln(dd)*1e6+0.5)::BIGINT
          - floor(ln(na.nd)*1e6+0.5)::BIGINT
          - floor(ln(nb.nd)*1e6+0.5)::BIGINT) AS pmi_q
      FROM pairs JOIN marg na ON na.tok = a JOIN marg nb ON nb.tok = b, dd
      ORDER BY pmi_q DESC, a, b LIMIT 25"""

  // ---- q108: frequent token co-occurrence --------------------------------------
  private def q108(s: SparkSession, d: String): DataFrame =
    cooccurrence(Tables.documents(s, d), "doc_id", "text",
        vocabSize = 30, minCount = 318)
      .orderBy(col("a"), col("b"))
  private val q108Sql =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       vocab AS (
         SELECT tok FROM (
           SELECT tok, count(*) AS c,
             row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
           FROM toks GROUP BY tok)
         WHERE rn <= 30),
       member AS (
         SELECT DISTINCT doc_id, tok FROM toks
         WHERE tok IN (SELECT tok FROM vocab))
       SELECT m1.tok AS a, m2.tok AS b, count(*) AS n_docs
       FROM member m1 JOIN member m2
         ON m1.doc_id = m2.doc_id AND m1.tok < m2.tok
       GROUP BY 1, 2 HAVING count(*) >= 318
       ORDER BY a, b"""

  /** One BPE (byte-pair-encoding) training step, distributed: count
    * adjacent symbol pairs across the corpus weighted by word frequency
    * and emit the top merge candidates — the inner loop of tokenizer
    * training (Sennrich et al., ACL'16, public literature), which a
    * driver loop repeats after applying each merge. This exercises the
    * expensive distributed part; the merge application rewrites a
    * vocab-sized table, not the corpus.
    *
    * Scale: words collapse to (word, freq) with map-side partials FIRST —
    * pair counting then runs over the |vocab|-sized word table, not the
    * corpus token stream (the corpus-sized explode this avoids is the
    * difference between touching every token occurrence and every
    * distinct word). Pair keys are 2 characters; the final top-k is a
    * TakeOrdered over ≤ |alphabet|² rows.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), col("w"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("freq"),
        col("w").substr(col("i"), lit(1)).as("left_sym"),
        col("w").substr(col("i") + 1, lit(1)).as("right_sym"))
      .groupBy(col("left_sym"), col("right_sym"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(topK)
  }

  // ---- q130: BPE merge-candidate step --------------------------------------------
  // Top 20 adjacent character pairs by frequency-weighted count, the
  // deterministic (count desc, pair asc) merge ranking.
  private def q130(s: SparkSession, d: String): DataFrame =
    bpePairCounts(Tables.documents(s, d), "text", topK = 20)
  private val q130Sql =
    """WITH words AS (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         WHERE length(w) >= 2 GROUP BY w),
       p AS (
         SELECT substring(w, i, 1) AS left_sym,
           substring(w, i + 1, 1) AS right_sym, freq
         FROM words, unnest(range(1, length(w))) AS u(i))
       SELECT left_sym, right_sym, sum(freq)::BIGINT AS pair_count
       FROM p GROUP BY 1, 2
       ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20"""

  /** BPE tokenizer APPLY step: encode the vocabulary with a learned merge
    * list — the counterpart of [[bpePairCounts]] (which ranks merge
    * candidates; iterating count→merge is BPE training, Sennrich et al.
    * 2016). Symbols are space-delimited; each merge (l, r) rewrites
    * " l r " → " lr " over the delimiter-wrapped sequence, applied
    * `passes` times to reach the merge's fixpoint (a single scan resumes
    * AFTER its replacement, so a run of k adjacent occurrences converges
    * in ≤ ⌈k/2⌉+1 scans; 4 covers any real word). Scan-and-resume
    * semantics are identical in Spark, DuckDB, and java.lang.String — so
    * both engines produce byte-identical encodings; they diverge from
    * strict leftmost-greedy BPE only on ODD-length same-symbol runs
    * ("aaaaa" with (a,a) → aa·a·aa vs greedy aa·aa·a — same symbol
    * count, different split; document, don't chase).
    *
    * Scale design: the corpus collapses to the distinct-word vocabulary
    * FIRST (map-side partials on the word groupBy — same shape as
    * bpePairCounts), so the merge chain — pure codegen'd string ops, no
    * UDF — runs over vocab-sized data no matter the corpus size.
    * Encoding the token STREAM instead is the same expression applied
    * map-side, or a broadcast join of this vocab→encoding table.
    */
  def bpeApply(df: DataFrame, textCol: String, merges: Seq[(String, String)],
      passes: Int = 4): DataFrame = {
    require(merges.nonEmpty, "bpeApply needs at least one merge")
    require(passes >= 1, "bpeApply needs at least one pass")
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val spaced = concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "))
    val encoded = merges.foldLeft(spaced) { case (acc, (l, r)) =>
      (1 to passes).foldLeft(acc) { (c, _) =>
        replace(c, lit(s" $l $r "), lit(s" $l$r ")) }
    }
    words.select(col("w"), col("freq"), trim(encoded).as("encoded"))
      .withColumn("n_symbols",
        (length(col("encoded"))
          - length(replace(col("encoded"), lit(" "), lit(""))) + 1)
          .cast("long"))
  }

  /** Full BPE TRAINING loop (Sennrich et al. 2016): T rounds of "count
    * adjacent symbol pairs over the current encoding, merge the most
    * frequent" — the composition of [[bpePairCounts]] (one ranking step)
    * and [[bpeApply]] (a fixed merge list) into the real tokenizer
    * learner. Ties break (count desc, pair asc); merge application uses
    * bpeApply's scan-and-resume replace chain, so a learned list fed
    * back into [[bpeApply]] reproduces the training encoding byte for
    * byte.
    *
    * Determinism: the merge list lives on the driver; each round is ONE
    * aggregation over the VOCABULARY (argmax collected, exact integer
    * counts), so the learned tokenizer is independent of partitioning
    * and engine. The oracle re-derives each round's argmax as an
    * ORDER BY cnt DESC, l, r LIMIT 1 CTE and replays the same replaces.
    *
    * Scale: the corpus collapses to (distinct word, freq) ONCE (map-side
    * partials); all T rounds run over that vocabulary-sized relation —
    * the standard trick that makes BPE training corpus-size-independent
    * after one pass. Round t re-applies the full t-merge chain to the
    * persisted base encoding (T² string scans over the vocab — bounded,
    * and cheaper than checkpointing vocab states at these sizes).
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
      passes: Int = 4): DataFrame = {
    require(numMerges >= 1 && passes >= 1,
      "bpeTrain needs numMerges >= 1 and passes >= 1")
    val s = df.sparkSession
    import s.implicits._
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("s"))
      .persist()
    try {
      var merges = Vector.empty[(String, String, Long)]
      var dry = false
      for (_ <- 1 to numMerges if !dry) {
        val enc = merges.foldLeft(col("s")) { case (acc, (l, r, _)) =>
          (1 to passes).foldLeft(acc) { (c, _) =>
            replace(c, lit(s" $l $r "), lit(s" $l$r ")) }
        }
        val best = words.select(col("freq"), split(trim(enc), " ").as("a"))
          .filter(size(col("a")) >= 2) // sequence(1,0) would run BACKWARD
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(a) - 1)," +
              " i -> struct(a[i - 1] AS l, a[i] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect().headOption
        best match {
          case Some(b) => merges :+= ((b.getString(0), b.getString(1),
            b.getLong(2)))
          case None => dry = true // every word fully merged: stop early
        }
      }
      s.createDataset(merges.zipWithIndex.map { case ((l, r, c), i) =>
        ((i + 1).toLong, l, r, c)
      }).toDF("rank", "left_sym", "right_sym", "pair_count")
        .orderBy("rank")
    } finally words.unpersist()
  }

  /** Generated unrolled oracle for [[bpeTrain]]: per round a (pair-count,
    * pick, re-encode) CTE triple re-deriving the same argmax.
    */
  private def bpeTrainSql(numMerges: Int, passes: Int): String = {
    val levels = scala.collection.mutable.ArrayBuffer(
      """w AS MATERIALIZED (
        SELECT w, count(*)::BIGINT AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w)""",
      """e0 AS MATERIALIZED (
        SELECT freq, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s
        FROM w)""")
    for (t <- 1 to numMerges) {
      val p = s"e${t - 1}"
      levels += s"""pc$t AS MATERIALIZED (
        SELECT a[i] AS l, a[i+1] AS r, sum(freq)::BIGINT AS cnt
        FROM (SELECT freq, string_split(trim(s), ' ') AS a FROM $p),
          unnest(range(1, len(a))) AS u(i)
        GROUP BY 1, 2)"""
      levels += s"""pk$t AS MATERIALIZED (
        SELECT l, r, cnt FROM pc$t ORDER BY cnt DESC, l, r LIMIT 1)"""
      val chain = (1 to passes).foldLeft("s") { (c, _) =>
        s"replace($c, ' ' || p.l || ' ' || p.r || ' '," +
          s" ' ' || p.l || p.r || ' ')"
      }
      levels += s"""e$t AS MATERIALIZED (
        SELECT freq, $chain AS s FROM $p, pk$t p)"""
    }
    s"""WITH ${levels.mkString(",\n")}
      SELECT * FROM (${(1 to numMerges).map(t =>
        s"SELECT $t::BIGINT AS rank, l AS left_sym, r AS right_sym," +
          s" cnt AS pair_count FROM pk$t").mkString("\n UNION ALL ")})
      ORDER BY rank"""
  }

  // ---- q388: learn the corpus's first eight BPE merges ------------------------
  private def q388(s: SparkSession, d: String): DataFrame =
    bpeTrain(Tables.documents(s, d), "text", numMerges = 8)
  private val q388Sql = bpeTrainSql(numMerges = 8, passes = 4)

  // ---- q147: BPE encode with a fixed merge list ------------------------------
  // Six merges in rank order, including a chained pair (e,r)→(t,er) and a
  // same-letter pair (l,l); the oracle replays the identical replace
  // chain, generated from the same merge list.
  private val q147Merges = Seq("e" -> "r", "t" -> "er", "s" -> "t",
    "l" -> "l", "i" -> "n", "o" -> "w")
  private def q147(s: SparkSession, d: String): DataFrame =
    bpeApply(Tables.documents(s, d), "text", q147Merges)
      .orderBy(col("freq").desc, col("w"))
  private val q147Sql = {
    val chain = q147Merges.foldLeft("s0") { case (acc, (l, r)) =>
      (1 to 4).foldLeft(acc) { (c, _) => s"replace($c, ' $l $r ', ' $l$r ')" }
    }
    s"""WITH words AS (
         SELECT w, count(*) AS freq FROM (
           SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         GROUP BY w),
       sp AS (
         SELECT w, freq,
           ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s0
         FROM words),
       enc AS (SELECT w, freq, trim($chain) AS encoded FROM sp)
       SELECT w, freq, encoded,
         (length(encoded) - length(replace(encoded, ' ', '')) + 1)::BIGINT
           AS n_symbols
       FROM enc ORDER BY freq DESC, w"""
  }

  /** One collapsed (term, doc, tf) posting awaiting the per-term fold. */
  final case class TermPosting(term: String, doc_id: Long, tf: Long)

  /** Per-term index entry: exact document/collection frequencies plus the
    * posting list CAPPED at `maxN` lowest doc ids. The cap and the exact
    * counts ride in ONE buffer so truncation never skews the statistics.
    */
  final case class PostingBuf(postings: Seq[TermPosting], doc_freq: Long,
      coll_freq: Long)

  private class PostingsAgg(maxN: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        TermPosting, PostingBuf, PostingBuf] {
    private val ord: Ordering[TermPosting] = Ordering.by(_.doc_id)
    override def zero: PostingBuf = PostingBuf(Vector.empty, 0L, 0L)
    override def reduce(b: PostingBuf, a: TermPosting): PostingBuf = {
      val kept =
        if (b.postings.length == maxN && ord.compare(a, b.postings.last) >= 0)
          b.postings // common case at scale: doc id beyond the keepers
        else ((b.postings :+ a).sorted(ord)).take(maxN)
      PostingBuf(kept, b.doc_freq + 1, b.coll_freq + a.tf)
    }
    override def merge(b1: PostingBuf, b2: PostingBuf): PostingBuf =
      PostingBuf((b1.postings ++ b2.postings).sorted(ord).take(maxN),
        b1.doc_freq + b2.doc_freq, b1.coll_freq + b2.coll_freq)
    override def finish(r: PostingBuf): PostingBuf = r
    override def bufferEncoder: Encoder[PostingBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[PostingBuf] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Build an inverted index over the corpus: per term, the exact document
    * frequency, collection frequency, and the posting list (doc id + term
    * frequency) capped at `maxPostings` lowest doc ids — the
    * retrieval-side data structure for sparse/BM25-style search and the
    * corpus statistic tokenizer and filtering work read. Postings are
    * emitted as a `doc:tf` CSV string (scalar, oracle-hashable).
    *
    * Scale design: token occurrences collapse to (term, doc, tf) with
    * map-side partials in the first shuffle; the per-term fold is a single
    * custom Aggregator whose buffer carries the capped posting heap AND
    * the exact df/cf totals — ONE pass over the collapsed relation, k
    * postings per term per map partial crossing the wire (the two-query
    * formulation — heap + relational totals joined on term — would read
    * the tf relation twice). A full (uncapped) posting list is a
    * `collect_list` away, but an unbounded per-term list is exactly the
    * hot-key blowup a 100-TB index build must not ship through one task.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxPostings: Int): DataFrame = {
    require(maxPostings > 0, "maxPostings must be positive")
    val s = df.sparkSession
    import s.implicits._
    val tf = df
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .as[TermPosting]
    val agg = new PostingsAgg(maxPostings).toColumn
    tf.groupByKey(_.term)
      .agg(agg.name("entry"))
      .select(col("key").as("term"),
        col("entry.doc_freq").as("doc_freq"),
        col("entry.coll_freq").as("coll_freq"),
        concat_ws(",", transform(col("entry.postings"),
          p => concat_ws(":", p.getField("doc_id"), p.getField("tf"))))
          .as("postings"))
  }

  // ---- q139: inverted index --------------------------------------------------
  // Full corpus index, posting lists capped at the 10 lowest doc ids.
  private def q139(s: SparkSession, d: String): DataFrame =
    invertedIndex(Tables.documents(s, d), "doc_id", "text", maxPostings = 10)
      .orderBy(col("term"))
  private val q139Sql =
    """WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (
         SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
       SELECT term, count(*)::BIGINT AS doc_freq, sum(tf)::BIGINT AS coll_freq,
         array_to_string(list_slice(
           list(doc_id || ':' || tf ORDER BY doc_id), 1, 10), ',') AS postings
       FROM tf GROUP BY term ORDER BY term"""

  /** BM25 retrieval scoring: for each query term, the top-`k` documents by
    * the Okapi BM25 term weight -- the standard lexical ranking function
    * (Robertson & Zaragoza, "The Probabilistic Relevance Framework",
    * 2009), and the scorer the q139 inverted index exists to serve.
    *
    * Cross-engine determinism: with k1 = 6/5 and b = 3/4 the weight
    *   idf * tf(k1+1) / (tf + k1(1-b+b*dl/avgdl))
    * reduces (avgdl = L/N; rational idf = N/df per the q87 convention --
    * the usual log damping is not bit-stable across libms, and a monotone
    * per-term transform cannot change per-term document RANKINGS) to
    *   22*tf*L*N / ((10*L*tf + 3*L + 9*dl*N) * df)
    * -- an exact BIGINT numerator and denominator, ONE double division,
    * then the binary-deterministic floor(x*1e6+0.5)/1e6 rounding. No
    * float accumulates anywhere, so both engines see bit-identical
    * scores. (BIGINT headroom: tf*L*N is ~10^12 at sf0.1; for larger
    * corpora rescale L and N to thousands or move the products to
    * DECIMAL(38,0) -- the ranking is scale-invariant.)
    *
    * Scale design: doc lengths come from the token-array SIZE — pure
    * map-side arithmetic, no explode — so the corpus-wide (doc, term)
    * relation never materializes; the only exploded-and-aggregated token
    * rows are the |terms| query terms' (the term filter sits under the
    * collapse). Those narrow qtf rows join the length relation on the
    * doc_id exchange; doc-frequency (<=|terms| rows) and the corpus
    * totals (1 row) come back as broadcasts. Final ranking is
    * `row_number() <= k` over (score desc, doc_id asc): its Partial
    * `WindowGroupLimit` keeps k rows per term per map partition below the
    * exchange, never a term's full posting set.
    */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopDocs needs at least one query term")
    // doc length = token count: computed MAP-SIDE from the array length,
    // so the corpus-wide (doc, term) relation never materializes — the
    // only exploded/aggregated token rows are the |terms| query terms'
    // (the filter sits below the explode's aggregation).
    val dl = df.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val tot = dl.agg(sum(col("dl")).as("l"), count(lit(1)).as("n"))
    val qtf = df
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = qtf.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    qtf.join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .join(broadcast(dfreq), "term")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("doc_freq"),
        bin6((lit(22) * col("tf") * col("l") * col("n")).cast("double")
            / ((lit(10) * col("l") * col("tf") + lit(3) * col("l")
                + lit(9) * col("dl") * col("n")) * col("doc_freq")))
          .as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("dl"),
        col("doc_freq"), col("score"))
  }

  // ---- q145: BM25 top documents per query term -------------------------------
  // Three query terms from the fixture vocabulary; top-5 docs each.
  private def q145(s: SparkSession, d: String): DataFrame =
    bm25TopDocs(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("join", "filter", "window"), k = 5)
      .orderBy(col("term"), col("rank"))
  private val q145Sql =
    """WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       tf AS (
         SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       tot AS (SELECT sum(dl)::BIGINT AS l, count(*)::BIGINT AS n FROM dl),
       qtf AS (SELECT * FROM tf WHERE term IN ('join', 'filter', 'window')),
       dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM qtf GROUP BY 1),
       scored AS (
         SELECT term, doc_id, tf, dl, doc_freq,
           floor((22 * tf * l * n)::DOUBLE
               / ((10 * l * tf + 3 * l + 9 * dl * n) * doc_freq)
               * 1e6 + 0.5) / 1e6 AS score
         FROM qtf JOIN dl USING (doc_id) CROSS JOIN tot
           JOIN dfreq USING (term)),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY term
           ORDER BY score DESC, doc_id) AS rank
         FROM scored)
       SELECT term, rank::INT AS rank, doc_id, tf, dl, doc_freq, score
       FROM ranked WHERE rank <= 5 ORDER BY term, rank"""

  /** χ² term–class association: which terms are most over/under-
    * represented in one document class vs the rest? The feature-selection
    * and "what distinguishes this slice" diagnostic run after language-ID
    * or a topic classifier splits a corpus. Per term the 2×2 contingency
    * table over doc-level presence gives
    *   χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))
    * with a/b = class/rest docs containing the term and c/d their
    * complements.
    *
    * Cross-engine determinism: counts are exact BIGINTs; numerator
    * N·(ad−bc)² and denominator df·(N−df)·n⁺·n⁻ stay integer (safe
    * through ~10⁵ docs; beyond that, promote the factor chain to doubles
    * in a fixed order — each * is correctly rounded, so the chain stays
    * bit-stable). The output value is ONE division + bin6, and the
    * top-k ORDER BY uses the un-rounded division (bit-identical both
    * engines) with the term string as unique tiebreaker.
    *
    * Scale design: the corpus-sized (doc, term) presence relation is
    * deduplicated and counted on 8-byte xxhash64 keys — term STRINGS
    * never ride a corpus-sized shuffle (the q124/exactDedup convention).
    * Strings reappear only via the vocab-sized (hash → term) map, whose
    * distinct() collapses map-side to per-partition vocabulary before
    * its exchange. Totals are a broadcast single row. Hash collisions
    * would merge two terms' counts — at 64 bits, negligible below ~10⁹
    * distinct terms.
    */
  def termClassChi2(docs: DataFrame, idCol: String, textCol: String,
      classPred: Column, k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      classPred.as("ic"),
      explode(split(col(textCol), " ")).as("term"))
    val presence = toks
      .select(col("doc_id"), col("ic"), xxhash64(col("term")).as("h"))
      .distinct()
    val counts = presence.groupBy(col("h")).agg(
      count(when(col("ic"), 1)).as("a"),
      count(when(!col("ic"), 1)).as("b"))
    val vocab = toks.select(xxhash64(col("term")).as("h"), col("term"))
      .distinct()
    val tot = docs.agg(
      count(when(classPred, 1)).as("npos"),
      count(when(!classPred, 1)).as("nneg"))
    val adbc = col("a") * (col("nneg") - col("b")) -
      col("b") * (col("npos") - col("a"))
    val num = (col("npos") + col("nneg")) * adbc * adbc
    val den = (col("a") + col("b")) *
      (col("npos") + col("nneg") - col("a") - col("b")) *
      col("npos") * col("nneg")
    counts.crossJoin(broadcast(tot))
      .withColumn("num", num).withColumn("den", den)
      .where(col("den") > 0)
      .join(vocab, "h")
      .select(col("term"), col("a").as("df_class"), col("b").as("df_rest"),
        bin6(col("num").cast("double") / col("den")).as("chi2"),
        (col("num").cast("double") / col("den")).as("chi2x"))
      .orderBy(col("chi2x").desc, col("term"))
      .limit(k)
      .drop("chi2x")
  }

  // ---- q155: chi-square term-class association --------------------------------
  // The 30 terms most associated (either direction) with lang='en' vs
  // the rest of the corpus. The oracle replays the same integer 2×2
  // algebra directly on term strings.
  private def q155(s: SparkSession, d: String): DataFrame =
    termClassChi2(Tables.documents(s, d), "doc_id", "text",
      col("lang") === "en", k = 30)
  private val q155Sql =
    """WITH pairs AS (
         SELECT doc_id, (lang = 'en') AS ic,
           unnest(string_split(text, ' ')) AS term
         FROM documents),
       dt AS (SELECT DISTINCT doc_id, ic, term FROM pairs),
       cnt AS (
         SELECT term,
           count(*) FILTER (WHERE ic)::BIGINT AS a,
           count(*) FILTER (WHERE NOT ic)::BIGINT AS b
         FROM dt GROUP BY 1),
       tot AS (
         SELECT count(*) FILTER (WHERE lang = 'en')::BIGINT AS npos,
           count(*) FILTER (WHERE lang <> 'en')::BIGINT AS nneg
         FROM documents),
       sc AS (
         SELECT term, a, b,
           (npos + nneg) * (a * (nneg - b) - b * (npos - a))
             * (a * (nneg - b) - b * (npos - a)) AS num,
           (a + b) * (npos + nneg - a - b) * npos * nneg AS den
         FROM cnt CROSS JOIN tot)
       SELECT term, a AS df_class, b AS df_rest,
         floor(num::DOUBLE / den * 1e6 + 0.5) / 1e6 AS chi2
       FROM sc WHERE den > 0
       ORDER BY num::DOUBLE / den DESC, term
       LIMIT 30"""

  /** U+0301 combining acute (the decomposed accent) and U+00E9
    * precomposed e-acute. Single-quoted literals so the Scala compiler
    * resolves the escapes; both are interpolated into the oracle SQL as
    * raw UTF-8 (triple-quoted strings leave `\\u` unprocessed).
    */
  private val CombiningAcute = "\u0301"
  private val PrecomposedE = "\u00e9"

  /** q186: Unicode NFC canonical normalization (native
    * [[graft.functions.NfcNormalize]] kernel vs DuckDB's
    * `nfc_normalize` \u2014 both implement UAX #15, so the produced code
    * point sequences must match exactly). The fixture corpus is ASCII
    * (NFC-invariant), so the query appends a DECOMPOSED sequence
    * (" e" + combining acute U+0301) to every third document and the
    * PRECOMPOSED " \u00e9" (U+00E9) to the next third \u2014 the engine must
    * collapse the decomposed form (3 code points \u2192 2) and leave the
    * precomposed one alone, which only a genuine normalizer does.
    * Zero-shuffle map work; at ingest this runs inside the scan stage
    * ahead of every hashing operator.
    */
  private def q186(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.nfc
    val suffix = when(col("doc_id") % 3 === 0, lit(" e" + CombiningAcute))
      .when(col("doc_id") % 3 === 1, lit(" " + PrecomposedE))
      .otherwise(lit(""))
    Tables.documents(s, d)
      .select(col("doc_id"), concat(col("text"), suffix).as("aug"))
      .select(col("doc_id"), length(col("aug")).cast("long").as("len_raw"),
        length(nfc(col("aug"))).cast("long").as("len_nfc"))
      .withColumn("canon_collapsed", col("len_nfc") < col("len_raw"))
      .orderBy(col("doc_id"))
  }
  // def, not val: declared after `defs`, which captures it at object init.
  private def q186Sql =
    s"""WITH a AS (
         SELECT doc_id,
           text || CASE WHEN doc_id % 3 = 0 THEN ' e$CombiningAcute'
                        WHEN doc_id % 3 = 1 THEN ' $PrecomposedE'
                        ELSE '' END AS aug
         FROM documents)
       SELECT doc_id, length(aug) AS len_raw,
         length(nfc_normalize(aug)) AS len_nfc,
         (length(nfc_normalize(aug)) < length(aug)) AS canon_collapsed
       FROM a ORDER BY doc_id"""

  /** Vocabulary growth curve (Heap's-law empirics): cumulative distinct
    * terms after every `checkpoint`-doc prefix of the corpus, in doc-id
    * order — the "how fast does new vocabulary arrive" curve that sizes
    * tokenizer vocabularies and predicts dedup yield (a flattening curve
    * means the tail is repetition, not novelty).
    *
    * The trick that makes it one pass: a term's contribution to every
    * prefix is fully determined by its FIRST document — so collapse to
    * (term → min(doc_id)), bucket those first-occurrences into
    * checkpoints, and prefix-sum the per-checkpoint new-term counts.
    * No growing-prefix distinct-count ever runs. Exact integers
    * throughout.
    *
    * Scale: one (term, doc) distinct + min aggregation (vocab-sized,
    * hashable terms), one count per checkpoint, one cumulative window
    * over the |corpus|/checkpoint-row relation.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      checkpoint: Int = 100, n: Int = 1): DataFrame = {
    require(checkpoint >= 1, "checkpoint must be >= 1")
    require(n >= 1, "n-gram order must be >= 1")
    val terms =
      if (n == 1) tokens(col(textCol))
      else distinctNgrams(tokens(col(textCol)), n)
    val src =
      if (n == 1) df
      else df.filter(size(tokens(col(textCol))) >= n)
    val first = src
      .select(col(idCol).cast("long").as("doc_id"),
        explode(terms).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
    val perCk = first
      .select((expr(s"first_doc div ${checkpoint}L") * checkpoint
        + checkpoint).as("docs_seen"))
      .groupBy(col("docs_seen"))
      .agg(count(lit(1)).as("new_terms"))
    val w = Window.orderBy(col("docs_seen"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perCk.select(col("docs_seen"), col("new_terms"),
      sum(col("new_terms")).over(w).as("vocab_cum"))
  }

  /** Hapax legomena profile per corpus slice: distinct terms, terms
    * occurring exactly once, and the hapax share — the classic
    * vocabulary-quality signal (a natural corpus runs ~40-60% hapax;
    * template/boilerplate output collapses it, OCR noise or spam
    * inflates it). Pairs with [[vocabGrowth]]: growth says how fast new
    * vocabulary arrives, hapax says how much of it never recurs.
    *
    * Exact integers; the corpus collapses to (slice, term, tf) with
    * map-side partials — vocab-sized, the q150 discipline — and terms
    * never reach the output, so 8-byte hashed keys carry the shuffle.
    */
  def hapaxProfile(df: DataFrame, sliceCol: String,
      textCol: String): DataFrame = {
    val tf = df.select(col(sliceCol).as("s"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("s"), xxhash64(col("tok")).as("t"))
      .groupBy(col("s"), col("t"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("s"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_tokens"),
        count(when(col("tf") === 1, 1)).as("n_hapax"))
      .select(col("s").as(sliceCol), col("n_terms"), col("n_tokens"),
        col("n_hapax"),
        expr("n_hapax * 1000000L div n_terms").as("hapax_micro"))
  }

  // ---- q221: hapax share per language ------------------------------------------
  private def q221(s: SparkSession, d: String): DataFrame =
    hapaxProfile(Tables.documents(s, d), "lang", "text")
      .orderBy(col("lang"))
  private val q221Sql =
    """WITH tf AS (
         SELECT lang AS s, term, count(*)::BIGINT AS tf FROM (
           SELECT lang, unnest(string_split(text, ' ')) AS term
           FROM documents) t
         GROUP BY 1, 2)
       SELECT s AS lang, count(*)::BIGINT AS n_terms,
         sum(tf)::BIGINT AS n_tokens,
         count(*) FILTER (WHERE tf = 1)::BIGINT AS n_hapax,
         (count(*) FILTER (WHERE tf = 1) * 1000000 // count(*))::BIGINT
           AS hapax_micro
       FROM tf GROUP BY s ORDER BY lang"""

  /** Rising terms between the first and second half of the corpus (by
    * doc-id order): the k terms whose token share grew most — the
    * "what's trending into the new crawl" screen. Ranking is the EXACT
    * integer cross-multiplied share difference c₂·n₁ − c₁·n₂ (never a
    * float ratio), ties to the lexicographically smaller term, so both
    * engines pick the identical list. Terms DO reach the output here,
    * so the shuffle carries strings — vocab-sized, the q155 discipline.
    */
  def risingTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 15): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val pivot = df.agg((max(col(idCol)) / 2).cast("long").as("pivot"))
    val toks = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .crossJoin(broadcast(pivot))
      .select(col("term"), (col("doc_id") <= col("pivot")).as("in_a"))
    val counts = toks.groupBy(col("term"))
      .agg(count(when(col("in_a"), 1)).as("c1"),
        count(when(!col("in_a"), 1)).as("c2"))
    val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    counts.crossJoin(broadcast(tot))
      .select(col("term"), col("c1"), col("c2"),
        (col("c2") * col("n1") - col("c1") * col("n2")).as("rise_x"),
        expr("c1 * 1000000L div n1").as("share1_micro"),
        expr("c2 * 1000000L div n2").as("share2_micro"))
      .orderBy(col("rise_x").desc, col("term"))
      .limit(k)
  }

  // ---- q239: which vocabulary is rising into the corpus's second half? --------
  private def q239(s: SparkSession, d: String): DataFrame =
    risingTerms(Tables.documents(s, d), "doc_id", "text")
  private val q239Sql =
    """WITH pv AS (SELECT max(doc_id) // 2 AS p FROM documents),
       toks AS (
         SELECT term, (doc_id <= p) AS in_a FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents) t, pv),
       counts AS (
         SELECT term, count(*) FILTER (WHERE in_a)::BIGINT AS c1,
           count(*) FILTER (WHERE NOT in_a)::BIGINT AS c2
         FROM toks GROUP BY term),
       tot AS (
         SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM counts)
       SELECT term, c1, c2,
         (c2 * n1 - c1 * n2)::BIGINT AS rise_x,
         (c1 * 1000000 // n1)::BIGINT AS share1_micro,
         (c2 * 1000000 // n2)::BIGINT AS share2_micro
       FROM counts, tot
       ORDER BY rise_x DESC, term LIMIT 15"""

  /** Per-document novelty: the fraction of a document's distinct n-grams
    * whose corpus-wide FIRST occurrence is this document (in doc-id
    * order) — the doc-granular reading of [[vocabGrowth]]'s curve, and a
    * direct curation signal: low-novelty late documents are repetition
    * (dedup candidates), high-novelty ones carry new material.
    *
    * Exact integers end to end (counts + one micro floor). Scale: the
    * same vocab-sized (term → min doc) collapse as vocabGrowth, joined
    * back to the per-(doc, term) distinct relation on the hashed term —
    * two corpus-vocab-sized exchanges, no pair join, no window.
    */
  def docNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, "n-gram order must be >= 1")
    val terms =
      if (n == 1) tokens(col(textCol))
      else distinctNgrams(tokens(col(textCol)), n)
    val src = if (n == 1) df
      else df.filter(size(tokens(col(textCol))) >= n)
    val dt = src.select(col(idCol).cast("long").as("doc_id"),
        explode(terms).as("term"))
      .select(col("doc_id"), xxhash64(col("term")).as("t"))
      .distinct()
    val first = dt.groupBy(col("t")).agg(min(col("doc_id")).as("first_doc"))
    dt.join(first, Seq("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000L div n_grams").as("novelty_micro"))
  }

  // ---- q213: trigram novelty per document -------------------------------------
  private def q213(s: SparkSession, d: String): DataFrame =
    docNovelty(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  private val q213Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         WHERE len(string_split(text, ' ')) >= 3),
       dt AS (
         SELECT DISTINCT doc_id, term FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS term
           FROM toks) t),
       first AS (
         SELECT term, min(doc_id) AS first_doc FROM dt GROUP BY term)
       SELECT dt.doc_id, count(*)::BIGINT AS n_grams,
         count(*) FILTER (WHERE first_doc = dt.doc_id)::BIGINT AS n_novel,
         (count(*) FILTER (WHERE first_doc = dt.doc_id) * 1000000
           // count(*))::BIGINT AS novelty_micro
       FROM dt JOIN first ON dt.term = first.term
       GROUP BY dt.doc_id ORDER BY dt.doc_id"""

  // ---- q211: trigram vocabulary growth every 100 documents --------------------
  // Word TRIGRAMS, not unigrams: the fixture's unigram vocabulary
  // saturates inside the first checkpoint (31 terms), while the trigram
  // space keeps yielding novelty — the regime where the curve earns its
  // keep.
  private def q211(s: SparkSession, d: String): DataFrame =
    vocabGrowth(Tables.documents(s, d), "doc_id", "text", n = 3)
      .orderBy(col("docs_seen"))
  private val q211Sql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         WHERE len(string_split(text, ' ')) >= 3),
       first AS (
         SELECT term, min(doc_id)::BIGINT AS first_doc FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS term
           FROM toks) t
         GROUP BY term),
       ck AS (
         SELECT (first_doc // 100) * 100 + 100 AS docs_seen,
           count(*)::BIGINT AS new_terms
         FROM first GROUP BY 1)
       SELECT docs_seen, new_terms,
         sum(new_terms) OVER (ORDER BY docs_seen
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS vocab_cum
       FROM ck ORDER BY docs_seen"""

  /** Prefix → top-k completion index (autocomplete / query-suggest
    * prep): for every token prefix of length `minLen..maxLen`, the k
    * most frequent full tokens extending it, ranked (count DESC, token
    * ASC — deterministic). The retrieval-prep sibling of the q139
    * inverted index, capped the same way: no prefix's posting list
    * outgrows k.
    *
    * Scale: the corpus collapses to the (token → count) vocab FIRST
    * (map-side partials — the q130 discipline), prefixes fan out ≤
    * maxLen−minLen+1 rows per TERM (vocab-sized, never corpus-sized),
    * and the rank window partitions by prefix, whose completion lists
    * are vocab-bounded. Output ≤ |prefixes|·k rows.
    */
  def prefixIndex(df: DataFrame, textCol: String, minLen: Int, maxLen: Int,
      k: Int): DataFrame = {
    require(minLen >= 1 && maxLen >= minLen && k >= 1, "bad prefix bounds")
    val vocab = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= minLen)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val pre = vocab
      .select(col("tok"), col("n"),
        explode(sequence(lit(minLen),
          least(length(col("tok")), lit(maxLen)))).as("pl"))
      .select(col("tok").substr(lit(1), col("pl")).as("prefix"),
        col("tok"), col("n"))
    val w = Window.partitionBy(col("prefix"))
      .orderBy(col("n").desc, col("tok"))
    pre.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("prefix"), col("rank").cast("long").as("rank"),
        col("tok").as("completion"), col("n").as("n_occurrences"))
  }

  // ---- q255: autocomplete index over the document vocabulary ------------------
  // 3..4-char prefixes, top-3 completions each: the index a suggest
  // service serves, built from vocab-sized work only.
  private def q255(s: SparkSession, d: String): DataFrame =
    prefixIndex(Tables.documents(s, d), "text", minLen = 3, maxLen = 4,
        k = 3)
      .orderBy(col("prefix"), col("rank"))
  private val q255Sql =
    """WITH vocab AS (
         SELECT tok, count(*)::BIGINT AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         WHERE length(tok) >= 3 GROUP BY tok),
       pre AS (
         SELECT substr(tok, 1, pl) AS prefix, tok, n
         FROM vocab, unnest(range(3, least(length(tok), 4) + 1)) AS t(pl)),
       ranked AS (
         SELECT prefix, tok, n,
           row_number() OVER (PARTITION BY prefix
             ORDER BY n DESC, tok) AS rank
         FROM pre)
       SELECT prefix, rank::BIGINT AS rank, tok AS completion,
         n AS n_occurrences
       FROM ranked WHERE rank <= 3
       ORDER BY prefix, rank"""

  /** WordPiece tokenization (greedy longest-match-first, Devlin et al.
    * 2019 / the original Schuster–Nakajima scheme) against a FIXED
    * vocabulary — the inference-side companion to [[bpeTrain]]/
    * [[bpeApply]]: head pieces match at word start, continuation
    * (`##`) pieces after it, always taking the LONGEST match; a
    * position with no match (or a word needing more than `maxPieces`
    * pieces) renders `[UNK]`, the standard behavior.
    *
    * Execution shape: the corpus collapses to (distinct word, freq)
    * once, then the greedy walk is UNROLLED as `maxPieces` pure-column
    * steps (each a longest-first CASE over per-length literal piece
    * sets) — no UDF, no loop job, the whole tokenizer inside one
    * whole-stage-codegen projection. The oracle replays the identical
    * unrolled steps as generated CTEs, so encodings match byte for
    * byte.
    */
  def wordpieceApply(df: DataFrame, textCol: String,
      headVocab: Seq[String], contVocab: Seq[String],
      maxPieces: Int = 12): DataFrame = {
    require(headVocab.nonEmpty && contVocab.nonEmpty &&
      (headVocab ++ contVocab).forall(p => p.nonEmpty && !p.contains("'")),
      "wordpieceApply needs non-empty, quote-free vocab pieces")
    require(maxPieces >= 1 && maxPieces <= 32, "1 <= maxPieces <= 32")
    def arr(ps: Seq[String]) = ps.map(p => s"'$p'").mkString(", ")
    // Longest-first match length at column p$i (0 = no match).
    def matchSql(i: Int, contains: (String, String) => String): String = {
      def cases(v: Seq[String], guard: String) =
        v.groupBy(_.length).toSeq.sortBy(-_._1).map { case (l, ps) =>
          s"WHEN $guard ${contains(arr(ps), s"substr(w, p$i, $l)")}" +
            s" THEN $l"
        }.mkString(" ")
      s"CASE ${cases(headVocab, s"p$i = 1 AND")} " +
        s"${cases(contVocab, s"p$i > 1 AND")} ELSE 0 END"
    }
    // One unrolled greedy step: emits l$i, then the updated state.
    def stepCols(i: Int, contains: (String, String) => String)
        : Seq[(String, String)] = {
      val active = s"(NOT unk AND p$i <= length(w))"
      Seq(
        s"l$i" -> matchSql(i, contains),
        "np" -> s"CASE WHEN $active AND l$i > 0 THEN np + 1 ELSE np END",
        "enc" -> (s"CASE WHEN $active AND l$i > 0 THEN enc || " +
          s"(CASE WHEN p$i = 1 THEN '' ELSE ' ##' END) || " +
          s"substr(w, p$i, l$i) ELSE enc END"),
        "unk" -> s"(unk OR ($active AND l$i = 0))",
        s"p${i + 1}" -> s"CASE WHEN l$i > 0 THEN p$i + l$i ELSE p$i END")
    }
    val sparkContains = (a: String, v: String) =>
      s"array_contains(array($a), $v)"
    var cur = df.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("p1", lit(1))
      .withColumn("np", lit(0L))
      .withColumn("enc", lit(""))
      .withColumn("unk", length(col("w")) === 0)
    for (i <- 1 to maxPieces; (name, sql) <- stepCols(i, sparkContains))
      cur = cur.withColumn(name, expr(sql))
    cur.select(col("w"), col("freq"),
        when(col("unk") || col(s"p${maxPieces + 1}") <= length(col("w")),
          lit("[UNK]")).otherwise(col("enc")).as("encoded"),
        when(col("unk") || col(s"p${maxPieces + 1}") <= length(col("w")),
          lit(-1L)).otherwise(col("np")).as("n_pieces"))
      .orderBy(col("freq").desc, col("w"))
  }

  /** Generated oracle for [[wordpieceApply]] — the identical unrolled
    * steps as a CTE chain (list_contains in DuckDB spelling).
    */
  private def wordpieceApplySql(headVocab: Seq[String],
      contVocab: Seq[String], maxPieces: Int): String = {
    def arr(ps: Seq[String]) = ps.map(p => s"'$p'").mkString(", ")
    val contains = (a: String, v: String) => s"list_contains([$a], $v)"
    def matchSql(i: Int): String = {
      def cases(v: Seq[String], guard: String) =
        v.groupBy(_.length).toSeq.sortBy(-_._1).map { case (l, ps) =>
          s"WHEN $guard ${contains(arr(ps), s"substr(w, p$i, $l)")}" +
            s" THEN $l"
        }.mkString(" ")
      s"CASE ${cases(headVocab, s"p$i = 1 AND")} " +
        s"${cases(contVocab, s"p$i > 1 AND")} ELSE 0 END"
    }
    val levels = scala.collection.mutable.ArrayBuffer(
      """s0 AS (
        SELECT w, count(*)::BIGINT AS freq, 1 AS p1, 0::BIGINT AS np,
          '' AS enc, length(w) = 0 AS unk
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w)""")
    for (i <- 1 to maxPieces) {
      val active = s"(NOT unk AND p$i <= length(w))"
      levels += s"""s$i AS (
        SELECT w, freq,
          CASE WHEN $active AND l$i > 0 THEN np + 1 ELSE np END AS np,
          CASE WHEN $active AND l$i > 0 THEN enc ||
            (CASE WHEN p$i = 1 THEN '' ELSE ' ##' END) ||
            substr(w, p$i, l$i) ELSE enc END AS enc,
          (unk OR ($active AND l$i = 0)) AS unk,
          CASE WHEN l$i > 0 THEN p$i + l$i ELSE p$i END AS p${i + 1}
        FROM (SELECT *, ${matchSql(i)} AS l$i FROM s${i - 1}))"""
    }
    s"""WITH ${levels.mkString(",\n")}
      SELECT w, freq,
        CASE WHEN unk OR p${maxPieces + 1} <= length(w)
          THEN '[UNK]' ELSE enc END AS encoded,
        (CASE WHEN unk OR p${maxPieces + 1} <= length(w)
          THEN -1 ELSE np END)::BIGINT AS n_pieces
      FROM s$maxPieces ORDER BY freq DESC, w"""
  }

  /** The q413 fixture vocabulary: every lowercase letter as both a head
    * and a continuation piece (full coverage fallback) plus the
    * frequent multi-char pieces of the corpus domain vocabulary.
    */
  private val WpHead: Seq[String] =
    (('a' to 'z').map(_.toString)) ++ Seq(
      "jo", "ha", "sc", "col", "fil", "str", "win", "qu", "ta", "me",
      "or", "va", "li", "ba", "cu", "gr", "sp", "du", "the", "data",
      "row", "key", "agg", "part", "sort", "fast", "slow", "small", "big")
  private val WpCont: Seq[String] =
    (('a' to 'z').map(_.toString)) ++ Seq(
      "in", "sh", "an", "umn", "ter", "eam", "dow", "ery", "ble", "ow",
      "ne", "ta", "lue", "rge", "der", "up", "rt", "tch", "all", "ata",
      "stomer", "oup", "ark", "ector")

  // ---- q413: WordPiece-encode the corpus vocabulary ----------------------------
  private def q413(s: SparkSession, d: String): DataFrame =
    wordpieceApply(Tables.documents(s, d), "text", WpHead, WpCont)
  private val q413Sql = wordpieceApplySql(WpHead, WpCont, maxPieces = 12)

  /** Interpolated Kneser–Ney bigram perplexity on a held-out split — the
    * standard LM smoothing read beside [[Analytics.markovPerplexity]]'s
    * add-one baseline (reference exposes per-record scoring hooks only;
    * held-out NLL is the canonical corpus-quality probe a training
    * pipeline runs before shipping data to a tokenizer/LM stage).
    *
    * Math, exact end to end: discount d = 3/4, so for a TRAIN-seen
    * context u the interpolated probability is one integer rational
    *   P(w|u) = [max(4c(u,w)−3, 0)·(T+V) + 3·N1+(u·)·(N1+(·w)+1)]
    *            / [4·n(u)·(T+V)]
    * where n(u) = Σ_w c(u,w), N1+(u·) = distinct continuations of u,
    * N1+(·w) = distinct contexts of w (the continuation count), T =
    * distinct train bigram types and V = distinct train next-tokens + 1
    * (the +1s give add-one mass to unseen continuations, so the unigram
    * level is itself a proper subprobability with OOV headroom). An
    * UNSEEN context backs off to the continuation level alone:
    * P = (N1+(·w)+1)/(T+V). Both branches are ln of an integer ratio —
    * quantized with the shared floor(ln·1e6+0.5) table — so the NLL sum
    * is exact-integer cross-engine. Output: train/test bigram counts,
    * the backoff count, and avg NLL in micro-nats.
    *
    * Scale: one token explode (map-side), one doc-partitioned window for
    * the lag, then every model relation is vocabulary-bounded and
    * broadcast into the single test-scoring pass. Magnitude contract:
    * 4·n(u)·(T+V) must stay under 2^63 — at larger corpora widen the
    * products to DECIMAL(38,0) (the ratios are scale-invariant).
    */
  def kneserNeyPerplexity(docs: DataFrame, idCol: Column, textCol: Column,
      testHexLt: String = "4"): DataFrame = {
    require(testHexLt.length == 1, "testHexLt is one hex char")
    val lnq = (c: Column) => floor(log(c.cast("double")) * lit(1e6) +
      lit(0.5)).cast("long")
    val toks = docs.select(idCol.as("doc"), textCol.as("text"))
      .select(col("doc"), posexplode(split(col("text"), " ")).as(Seq("p", "w")))
    val win = Window.partitionBy("doc").orderBy("p")
    val bg = toks.withColumn("prev", lag(col("w"), 1).over(win))
      .filter(col("prev").isNotNull)
      .withColumn("test",
        substring(md5(col("doc").cast("string").cast("binary")), 1, 1)
          < lit(testHexLt))
      .select(col("prev"), col("w").as("next"), col("test"))
    val tr = bg.filter(!col("test")).groupBy("prev", "next")
      .agg(count(lit(1)).as("c"))
    val ctx = tr.groupBy("prev")
      .agg(sum("c").as("n"), count(lit(1)).as("n1u"))
    val cw = tr.groupBy("next").agg(count(lit(1)).as("n1w"))
    val tot = tr.agg(count(lit(1)).as("t"),
      sum("c").as("n_train_bigrams"))
    val vv = tr.agg((countDistinct("next") + 1).as("v"))
    val tv = col("t") + col("v")
    val num = when(col("n").isNotNull,
      greatest(lit(4L) * coalesce(col("c"), lit(0L)) - 3, lit(0L)) * tv +
        lit(3L) * col("n1u") * (coalesce(col("n1w"), lit(0L)) + 1))
      .otherwise(coalesce(col("n1w"), lit(0L)) + 1)
    val den = when(col("n").isNotNull, lit(4L) * col("n") * tv).otherwise(tv)
    bg.filter(col("test"))
      .join(broadcast(tr), Seq("prev", "next"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .join(broadcast(cw), Seq("next"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(vv))
      .select((lnq(den) - lnq(num)).as("nll"),
        when(col("n").isNull, 1L).otherwise(0L).as("bo"),
        col("n_train_bigrams"))
      .agg(first("n_train_bigrams").as("n_train_bigrams"),
        count(lit(1)).as("n_test_bigrams"),
        sum("bo").as("n_backoff"),
        expr("sum(nll) div count(1)").as("avg_nll_micro"))
  }

  /** Leave-one-source-out language-model perplexity — the data-VALUATION
    * read on a mixed corpus: for every source, score the SAME held-out
    * bigrams under the add-one bigram model trained on all OTHER
    * sources, and report the NLL delta against the full-corpus model. A
    * positive delta means the source was carrying mass the rest of the
    * corpus cannot replace (dropping it hurts); ~zero means redundant.
    * The curation loop's "which source earns its tokens" table, built
    * the same way the ablation would be run — minus the 20 retrainings.
    *
    * One counting pass: add-one bigram counts are ADDITIVE, so every
    * leave-one-out model is (total − per-source) arithmetic over the
    * (source, prev, next) collapse — no per-source retraining.
    * Vocabulary shrinks correctly too: a next-token exclusive to the
    * dropped source leaves V. All lnq-quantized integer ratios (the
    * [[Analytics.markovPerplexity]] discipline); the scoring pass is
    * test-bigrams × |sources|, every model relation vocabulary-bounded
    * and broadcast.
    */
  def looSourcePerplexity(docs: DataFrame, idCol: Column, textCol: Column,
      sourceCol: Column, testHexLt: String = "4"): DataFrame = {
    require(testHexLt.length == 1, "testHexLt is one hex char")
    val lnq = (c: Column) => floor(log(c.cast("double")) * lit(1e6) +
      lit(0.5)).cast("long")
    val toks = docs.select(idCol.as("doc"), sourceCol.as("src"),
        textCol.as("text"))
      .select(col("doc"), col("src"),
        posexplode(split(col("text"), " ")).as(Seq("p", "w")))
    val win = Window.partitionBy("doc").orderBy("p")
    val bg = toks.withColumn("prev", lag(col("w"), 1).over(win))
      .filter(col("prev").isNotNull)
      .withColumn("test",
        substring(md5(col("doc").cast("string").cast("binary")), 1, 1)
          < lit(testHexLt))
      .select(col("src"), col("prev"), col("w").as("next"), col("test"))
    val trs = bg.filter(!col("test")).groupBy("src", "prev", "next")
      .agg(count(lit(1)).as("c"))
    val tot = trs.groupBy("prev", "next").agg(sum("c").as("ct"))
    val rowTot = tot.groupBy("prev").agg(sum("ct").as("nt"))
    val rowSrc = trs.groupBy("src", "prev").agg(sum("c").as("ns"))
    val nextTot = tot.groupBy("next").agg(sum("ct").as("cnt_n"))
    val nextSrc = trs.groupBy("src", "next").agg(sum("c").as("cnt_ns"))
    // V under LOO(s): total distinct nexts minus those EXCLUSIVE to s.
    val vLoo = nextSrc.join(nextTot, Seq("next"))
      .groupBy("src")
      .agg(sum(when(col("cnt_ns") === col("cnt_n"), 1L).otherwise(0L))
        .as("n_excl"))
      .crossJoin(broadcast(tot.agg(countDistinct("next").as("vt"),
        sum("ct").as("n_train_total"))))
      .select(col("src"), (col("vt") - col("n_excl")).as("v_loo"),
        col("n_train_total"))
    val srcN = trs.groupBy("src").agg(sum("c").as("n_src"))
    // Full-model baseline NLL on the held-out set (the q401 formula).
    val vt = tot.agg(countDistinct("next").as("vt"))
    val full = bg.filter(col("test"))
      .join(broadcast(tot), Seq("prev", "next"), "left")
      .join(broadcast(rowTot), Seq("prev"), "left")
      .crossJoin(broadcast(vt))
      .select((lnq(coalesce(col("ct"), lit(0L)) + 1) -
        lnq(coalesce(col("nt"), lit(0L)) + col("vt"))).as("lp"))
      .agg(expr("(-sum(lp)) div count(1)").as("full_nll"))
    // Score every held-out bigram under every LOO model in one pass.
    val scored = bg.filter(col("test")).select(col("prev"), col("next"))
      .crossJoin(broadcast(srcN.select(col("src"))))
      .join(broadcast(tot), Seq("prev", "next"), "left")
      .join(broadcast(trs), Seq("src", "prev", "next"), "left")
      .join(broadcast(rowTot), Seq("prev"), "left")
      .join(broadcast(rowSrc), Seq("src", "prev"), "left")
      .join(broadcast(vLoo), Seq("src"))
      .select(col("src"), col("n_train_total"),
        (lnq(coalesce(col("ct"), lit(0L)) -
          coalesce(col("c"), lit(0L)) + 1) -
          lnq(coalesce(col("nt"), lit(0L)) -
            coalesce(col("ns"), lit(0L)) + col("v_loo"))).as("lp"))
      .groupBy("src")
      .agg(first("n_train_total").as("n_train_total"),
        expr("(-sum(lp)) div count(1)").as("loo_nll"))
    scored.join(broadcast(srcN), Seq("src"))
      .crossJoin(broadcast(full))
      .select(col("src").as("source"),
        (col("n_train_total") - col("n_src")).as("n_train_bigrams_loo"),
        col("loo_nll").as("avg_nll_loo_micro"),
        (col("loo_nll") - col("full_nll")).as("delta_vs_full_micro"))
      .orderBy(col("delta_vs_full_micro").desc, col("source"))
  }

  // ---- q410: which source earns its tokens? ------------------------------------
  private def q410(s: SparkSession, d: String): DataFrame =
    looSourcePerplexity(Tables.documents(s, d), col("doc_id"), col("text"),
      col("source"))
  private val q410Sql = {
    s"""WITH toks AS (
        SELECT doc_id, source AS src,
          substr(md5(doc_id::VARCHAR), 1, 1) < '4' AS test,
          string_split(text, ' ') AS tk FROM documents),
      bg AS (
        SELECT src, test, b.p AS prev, b.n AS next FROM (
          SELECT src, test, unnest(list_transform(range(1, len(tk)),
            i -> struct_pack(p := tk[i], n := tk[i + 1]))) AS b
          FROM toks WHERE len(tk) >= 2)),
      trs AS (SELECT src, prev, next, count(*)::BIGINT AS c FROM bg
        WHERE NOT test GROUP BY 1, 2, 3),
      tot AS (SELECT prev, next, sum(c)::BIGINT AS ct FROM trs
        GROUP BY 1, 2),
      rowtot AS (SELECT prev, sum(ct)::BIGINT AS nt FROM tot GROUP BY 1),
      rowsrc AS (SELECT src, prev, sum(c)::BIGINT AS ns FROM trs
        GROUP BY 1, 2),
      nexttot AS (SELECT next, sum(ct)::BIGINT AS cnt_n FROM tot
        GROUP BY 1),
      nextsrc AS (SELECT src, next, sum(c)::BIGINT AS cnt_ns FROM trs
        GROUP BY 1, 2),
      gl AS (SELECT count(DISTINCT next)::BIGINT AS vt,
        sum(ct)::BIGINT AS n_train_total FROM tot),
      vloo AS (
        SELECT ns.src, gl.vt - sum(CASE WHEN ns.cnt_ns = nt.cnt_n
            THEN 1 ELSE 0 END)::BIGINT AS v_loo,
          any_value(gl.n_train_total) AS n_train_total
        FROM nextsrc ns JOIN nexttot nt ON nt.next = ns.next, gl
        GROUP BY ns.src, gl.vt),
      srcn AS (SELECT src, sum(c)::BIGINT AS n_src FROM trs GROUP BY 1),
      tb AS (SELECT prev, next FROM bg WHERE test),
      fullm AS (
        SELECT ${fd("-sum(floor(ln(coalesce(t.ct, 0) + 1)*1e6 + 0.5)::BIGINT" +
          " - floor(ln(coalesce(r.nt, 0) + gl.vt)*1e6 + 0.5)::BIGINT)",
          "count(*)")}::BIGINT AS full_nll
        FROM tb LEFT JOIN tot t ON t.prev = tb.prev AND t.next = tb.next
          LEFT JOIN rowtot r ON r.prev = tb.prev, gl),
      sc AS (
        SELECT s.src, v.n_train_total,
          floor(ln(coalesce(t.ct, 0) - coalesce(x.c, 0) + 1)*1e6
            + 0.5)::BIGINT
          - floor(ln(coalesce(r.nt, 0) - coalesce(rs.ns, 0) + v.v_loo)*1e6
            + 0.5)::BIGINT AS lp
        FROM tb CROSS JOIN srcn s
        LEFT JOIN tot t ON t.prev = tb.prev AND t.next = tb.next
        LEFT JOIN trs x ON x.src = s.src AND x.prev = tb.prev
          AND x.next = tb.next
        LEFT JOIN rowtot r ON r.prev = tb.prev
        LEFT JOIN rowsrc rs ON rs.src = s.src AND rs.prev = tb.prev
        JOIN vloo v ON v.src = s.src),
      agg AS (
        SELECT src, any_value(n_train_total) AS n_train_total,
          ${fd("-sum(lp)", "count(*)")}::BIGINT AS loo_nll
        FROM sc GROUP BY src)
      SELECT a.src AS source,
        (a.n_train_total - s.n_src)::BIGINT AS n_train_bigrams_loo,
        a.loo_nll AS avg_nll_loo_micro,
        (a.loo_nll - f.full_nll)::BIGINT AS delta_vs_full_micro
      FROM agg a JOIN srcn s ON s.src = a.src, fullm f
      ORDER BY delta_vs_full_micro DESC, source"""
  }

  // ---- q403: does proper smoothing beat add-one on held-out documents? --------
  // The same hash split discipline as q401; avg_nll in micro-nats is
  // directly comparable across smoothing schemes on this corpus.
  private def q403(s: SparkSession, d: String): DataFrame =
    kneserNeyPerplexity(Tables.documents(s, d), col("doc_id"), col("text"))
  private val q403Sql = {
    s"""WITH toks AS (
        SELECT doc_id, substr(md5(doc_id::VARCHAR), 1, 1) < '4' AS test,
          string_split(text, ' ') AS tk FROM documents),
      bg AS (
        SELECT test, b.p AS prev, b.n AS next FROM (
          SELECT test, unnest(list_transform(range(1, len(tk)),
            i -> struct_pack(p := tk[i], n := tk[i + 1]))) AS b
          FROM toks WHERE len(tk) >= 2)),
      tr AS (SELECT prev, next, count(*)::BIGINT AS c FROM bg
        WHERE NOT test GROUP BY 1, 2),
      ctx AS (SELECT prev, sum(c)::BIGINT AS n, count(*)::BIGINT AS n1u
        FROM tr GROUP BY 1),
      cw AS (SELECT next, count(*)::BIGINT AS n1w FROM tr GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT AS t, sum(c)::BIGINT AS ntr FROM tr),
      vv AS (SELECT (count(DISTINCT next) + 1)::BIGINT AS v FROM tr),
      sc AS (
        SELECT CASE WHEN x.n IS NULL THEN coalesce(w.n1w, 0) + 1
            ELSE greatest(4*coalesce(t.c, 0) - 3, 0)*(tot.t + vv.v)
              + 3*x.n1u*(coalesce(w.n1w, 0) + 1) END AS num,
          CASE WHEN x.n IS NULL THEN tot.t + vv.v
            ELSE 4*x.n*(tot.t + vv.v) END AS den,
          CASE WHEN x.n IS NULL THEN 1 ELSE 0 END AS bo
        FROM bg b LEFT JOIN tr t ON t.prev = b.prev AND t.next = b.next
          LEFT JOIN ctx x ON x.prev = b.prev
          LEFT JOIN cw w ON w.next = b.next, tot, vv
        WHERE b.test)
      SELECT (SELECT ntr FROM tot) AS n_train_bigrams,
        count(*)::BIGINT AS n_test_bigrams,
        sum(bo)::BIGINT AS n_backoff,
        ${fd("sum(floor(ln(den)*1e6 + 0.5)::BIGINT" +
          " - floor(ln(num)*1e6 + 0.5)::BIGINT)", "count(*)")}::BIGINT
          AS avg_nll_micro
      FROM sc"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q403_kneser_ney", q403, Some(q403Sql)),
    QueryDef("q410_loo_source_ppl", q410, Some(q410Sql)),
    QueryDef("q413_wordpiece", q413, Some(q413Sql)),
    QueryDef("q255_prefix_index", q255, Some(q255Sql)),
    QueryDef("q258_langid_margin", q258, Some(q258Sql)),
    QueryDef("q211_vocab_growth", q211, Some(q211Sql)),
    QueryDef("q213_doc_novelty", q213, Some(q213Sql)),
    QueryDef("q221_hapax_profile", q221, Some(q221Sql)),
    QueryDef("q239_rising_terms", q239, Some(q239Sql)),
    QueryDef("q21_token_stats", q21, Some(q21Sql)),
    QueryDef("q318_textrank", q318, Some(q318Sql)),
    QueryDef("q155_term_class_chi2", q155, Some(q155Sql)),
    QueryDef("q22_quality_score", q22, Some(q22Sql)),
    QueryDef("q23_lang_id", q23, Some(q23Sql)),
    QueryDef("q291_langid_quality", q291, Some(q291Sql)),
    QueryDef("q307_encoding_audit", q307, Some(q307Sql)),
    QueryDef("q24_fingerprint", q24, Some(q24Sql)),
    QueryDef("q61_gopher_filter", q61, Some(q61Sql)),
    QueryDef("q365_readability", q365, Some(q365Sql)),
    QueryDef("q73_normalize_text", q73, Some(q73Sql)),
    QueryDef("q77_lexical_diversity", q77, Some(q77Sql)),
    QueryDef("q87_tfidf_top_terms", q87, Some(q87Sql)),
    QueryDef("q91_vocab_coverage", q91, Some(q91Sql)),
    QueryDef("q280_vocab_curve", q280, Some(q280Sql)),
    QueryDef("q98_chunk_documents", q98, Some(q98Sql)),
    QueryDef("q108_cooccurrence", q108, Some(q108Sql)),
    QueryDef("q391_pmi_pairs", q391, Some(q391Sql)),
    QueryDef("q130_bpe_pair_step", q130, Some(q130Sql)),
    QueryDef("q139_inverted_index", q139, Some(q139Sql)),
    QueryDef("q145_bm25_topdocs", q145, Some(q145Sql)),
    QueryDef("q147_bpe_apply", q147, Some(q147Sql)),
    QueryDef("q388_bpe_train", q388, Some(q388Sql)),
    QueryDef("q186_nfc_normalize", q186, Some(q186Sql)))
}
