package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim.ckptNoStats
import graft.functions.TextFunctions._

/** Deduplication operators over text / embedding tables (SURVEY.md §2.6):
  * exact (hash-groupBy), exact n-gram Jaccard, MinHash+LSH near-dup, SimHash
  * near-dup, and embedding-cosine near-dup. Each is a parameterized
  * library function (any DataFrame / column names) plus a fixture-bound
  * QueryDef exercising it against the DuckDB oracle.
  *
  * Scale design notes (the point of each variant):
  *  - exact: one shuffle on a 128-bit content hash — the cheapest dedup at
  *    any scale; never shuffles the text itself, only (hash, id).
  *  - exact Jaccard: the quadratic-ish ground truth (gram-join blows up on
  *    ultra-frequent grams); kept as the oracle-shaped baseline. At 100 TB
  *    you run the LSH variant instead — same output, near-linear cost.
  *  - MinHash-LSH: shingle → 64 minhashes → 16 bands × 4 rows → candidates
  *    from the band-bucket join → exact-Jaccard verify of candidates only.
  *    Shuffles are on fixed-width band keys (not text); candidate count
  *    ~ true-dup count, so verify cost tracks output size. Miss probability
  *    for a 0.9-Jaccard pair: (1 - 0.9^4)^16 ≈ 4e-8.
  *  - SimHash: 32-bit signature computed by the native per-row kernel
  *    (zero-shuffle map work); pairs at hamming ≤ 3 found via the
  *    pigeonhole band join (4 × 8-bit chunks — distance ≤ 3 forces one
  *    equal chunk), so no all-pairs cross join, and the band join is EXACT.
  *  - cosine: brute pair join at test SF; the scale path is the IVF variant
  *    in Similarity (bucket by nearest seed, join within bucket).
  *
  * Hash primitives feeding ORACLE-visible values are the cross-engine
  * deterministic ones from TextFunctions; LSH/MinHash internals use native
  * xxhash64 (signatures never meet the oracle, which verifies the
  * exact-measure OUTPUT).
  */
object Dedup {

  /** Jaccard threshold for near-dup (fixture dups sit at >= 0.9, background
    * pairs at <= 0.07, so recall at 0.5 is exact).
    */
  private[operators] val JaccardThreshold = 0.5

  /** MinHash parameters: 64 permutations in 16 bands of 4 rows. */
  private val NumHashes = 64
  private val BandRows = 4
  private val NumBands = NumHashes / BandRows

  // ===========================================================================
  // Library API — parameterized operators
  // ===========================================================================

  /** Exact dedup by content hash: one row per distinct `textCol` value with
    * the minimum id as keeper and the copy count. Only (hash, id) shuffles.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))

  /** Exploded (doc_id, g) distinct-trigram rows. NOTE: explode the trigram
    * expression directly — materializing it as a named array column first
    * measured ~2x slower (the optimizer stops collapsing the projection
    * into the Generate).
    */
  private def gramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(trigrams(col("toks"))).as("g"))

  /** Exact Jaccard for candidate (d1 < d2) pairs over exploded gram rows.
    * (Measured alternative — joining the candidates against per-doc gram
    * ARRAYS and using array_intersect — was ~2.5x slower end-to-end: the
    * wide array rows defeat the narrow-shuffle plan this form gets.)
    */
  private def verifyJaccard(cands: DataFrame, grams: DataFrame): DataFrame = {
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val g1 = grams.select(col("doc_id").as("d1"), col("g"))
    val g2 = grams.select(col("doc_id").as("d2r"), col("g").as("g2"))
    cands
      .join(g1, "d1").join(g2, col("d2") === col("d2r") && col("g") === col("g2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
  }

  /** Exact n-gram-Jaccard near-dup pairs (the ground-truth formulation:
    * all-pairs via the gram equi-join — use [[minhashLshPairs]] at scale).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = gramRows(df, idCol, textCol)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = grams.select(col("doc_id").as("d1"), col("g"))
    val b = grams.select(col("doc_id").as("d2"), col("g"))
    a.join(b, a("g") === b("g") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
  }

  /** MinHash+LSH near-dup pairs, exact-verified: same output as
    * [[jaccardPairs]] (up to a ~1e-8 per-pair LSH miss probability),
    * near-linear cost.
    *
    * Signature stage is the native one-pass [[graft.functions.MinHashSignature]]
    * kernel: 64 mins per document computed in a single compiled per-row
    * loop — embarrassingly parallel map work, NO corpus-wide gram explode
    * and NO (doc_id, h) shuffle. (The previous explode + 64-min-aggregate
    * formulation shuffled every gram in the corpus and measured ~3x slower
    * end-to-end at sf0.1; the per-doc higher-order-function fold was 10x
    * slower still — Spark HOF lambdas are interpreted per element.)
    *
    * Only band keys (16 fixed-width rows per doc) shuffle for the candidate
    * self-join, and the exact-Jaccard verify re-derives grams ONLY for
    * candidate documents (broadcast semi-join on the tiny candidate id
    * set) — so verify cost tracks output size, not corpus size.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Band keys fused into the native kernel (signature + banding in one
    // per-row pass); each key carries its band index, so the candidate
    // join is on the single key column.
    val bands = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(minhashBands(col("toks"), NumHashes, BandRows)).as("key"))
    // Self-join as SHUFFLE hash join, not broadcast: both sides then need
    // the identical hashpartitioning(key) exchange, which ReuseExchange
    // computes ONCE — a broadcast build side would recompute the whole
    // signature scan a second time. (Also the right physical join at
    // 100 TB, where neither side is broadcastable.)
    val cands = bands.as("x").join(bands.hint("shuffle_hash").as("y"),
        col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
      // The candidate set is consumed 5x downstream (id-set broadcast,
      // intersection join, two size joins) — materialize it once. It is
      // tiny by construction (~ true-dup count), so this is the classic
      // iterative-algorithm localCheckpoint, not a big-data cache.
      .localCheckpoint(false) // stats-ok: one-shot candidate set (tiny; see comment)
    val candIds = cands.select(col("d1").as("cid"))
      .union(cands.select(col("d2"))).distinct()
    val candGrams = gramRows(
      df.join(broadcast(candIds), col(idCol) === col("cid"), "left_semi"),
      idCol, textCol)
      // Likewise: verify needs candidate grams 3x (g1, g2, sizes); without
      // this the corpus scan (semi-join-filtered, but still a scan) runs
      // per consumer.
      .localCheckpoint(false) // stats-ok: one-shot candidate grams
    verifyJaccard(cands, candGrams)
  }

  /** SimHash signature bits per id (32-bit, token-vote construction) — the
    * native one-pass [[graft.functions.SimHashSignature]] kernel: the whole
    * signature is compiled map work, ZERO shuffle. (The relational vote
    * formulation it replaces, kept below as [[simhashVotes]], exploded 32
    * vote rows per token OCCURRENCE and shuffled them twice — a
    * corpus-sized x32 exchange, the one scale-killer in the dedup suite.)
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      simhashSig(tokens(col(textCol))).as("simhash"))
      // null signature = nothing voted (null text / no tokens); the vote
      // pipeline emits no row for such documents, so neither do we
      .where(col("simhash").isNotNull)

  /** The exploded token-vote formulation of [[simhash]] — reference
    * semantics the kernel must reproduce bit-for-bit (SimHashSpec asserts
    * equality). Not for production use: shuffles (doc_id, j) for every
    * token occurrence x 32 bits.
    */
  def simhashVotes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val th = tok.withColumn("h", polyHash(col("t")))
    val votes = th
      .select(col("doc_id"), explode(sequence(lit(0), lit(31))).as("j"), col("h"))
      .withColumn("w", (expr("shiftright(h, j)") % 2) * 2 - 1)
      .groupBy(col("doc_id"), col("j")).agg(sum(col("w")).as("v"))
    votes.groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, expr("shiftleft(cast(1 as bigint), j)"))
        .otherwise(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs at hamming <= maxHamming (requires
    * maxHamming <= 3 for the 4-chunk pigeonhole join to stay exact).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole join is exact only for <= 3")
    val sh = simhash(df, idCol, textCol)
    val chunks = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("k"))
      .withColumn("chunk", expr("shiftright(simhash, k * 8)") % 256)
    val cands = chunks.as("x").join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("x.simhash").as("s1"),
        col("y.doc_id").as("d2"), col("y.simhash").as("s2"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming").cast("long").as("hamming"))
  }

  /** Banded Hamming near-dup pairs over PRECOMPUTED integer fingerprints
    * — the generic pigeonhole join [[simhashPairs]] hard-codes for its
    * 32-bit signature, parameterized for any packed hash (the
    * [[Media.imageDHashes]] 56-bit perceptual hash is the motivating
    * consumer, q351): split each hash into `bands` chunks of `bandBits`,
    * join on (band index, chunk) equality, verify exact Hamming in the
    * projection. EXACT for maxHamming < bands — at most maxHamming
    * differing bits cannot touch every band, so every qualifying pair
    * shares a band (pigeonhole) and the candidate join finds it; the
    * Hamming filter discards everything else, so output ≡ the all-pairs
    * relation the oracle computes.
    *
    * Scale shape: the only shuffles are on fixed-width (band, chunk)
    * keys — `bands` rows per document, never a corpus cross join; the
    * candidate distinct is bounded by band-collision counts (the
    * MinHash-LSH discipline at [[minhashLshPairs]]).
    *
    * Input contract: ONE row per id. The first-equal-band emit is
    * per-ROW-pair, so duplicate id rows emit duplicate (d1, d2) pairs
    * (where a pair-stream distinct would have collapsed them) —
    * dedupe ids upstream if the input can repeat them.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      bands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 63,
      "bands * bandBits must fit a positive BIGINT")
    require(maxHamming >= 0 && maxHamming < bands,
      "pigeonhole band join is exact only for maxHamming < bands")
    val mask = (1L << bandBits) - 1
    val chunks = hashes.select(col(idCol).as("doc_id"), col(hashCol).as("h"),
        explode(sequence(lit(0), lit(bands - 1))).as("k"))
      .withColumn("chunk", expr(s"shiftright(h, k * $bandBits) & $mask"))
    // Dedup pairs that collide in several bands WITHOUT a distinct():
    // a qualifying pair is emitted only at its FIRST equal band (which
    // exists by the pigeonhole argument), a pure row expression — the
    // banded join output flows straight to the result with no
    // pair-stream shuffle. On clustered inputs (near-identical hashes
    // collide in most bands) the old distinct() shuffled the entire
    // pre-filter join output, bands× the survivor count.
    chunks.as("x").join(chunks.as("y"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("x.h").as("h1"),
        col("y.doc_id").as("d2"), col("y.h").as("h2"), col("x.k").as("k"))
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      // Unrolled when-chain (bands is a small constant) keeps the whole
      // join stage inside codegen — a lambda here would interpret it.
      .filter(col("k") === (0 until bands).foldRight(lit(bands): Column) {
        (j, rest) =>
          when(expr(s"(shiftright(h1 ^ h2, ${j * bandBits}) & $mask) = 0"),
            lit(j)).otherwise(rest)
      })
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Banded Hamming admission INDEX over a batch corpus — the
    * broadcastable artifact [[hammingAdmit]] filters a stream with: one
    * row per (band k, chunk) key holding the sorted full hashes of the
    * corpus rows whose band k equals that chunk. Built by one grouped
    * pass; bands rows per corpus row, fixed-width keys.
    */
  def hammingIndex(hashes: DataFrame, idCol: String, hashCol: String,
      bands: Int, bandBits: Int): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 63,
      "bands * bandBits must fit a positive BIGINT")
    val mask = (1L << bandBits) - 1
    hashes.select(col(hashCol).as("h"),
        explode(sequence(lit(0), lit(bands - 1))).as("k"))
      .withColumn("chunk", expr(s"shiftright(h, k * $bandBits) & $mask"))
      .groupBy(col("k"), col("chunk"))
      .agg(sort_array(collect_set(col("h"))).as("hs"))
  }

  /** Zero-state streaming near-dup ADMISSION — the online half of the
    * dedup pipeline (r10 verdict Next #9): each incoming row is admitted
    * iff NO batch-indexed hash lies within `maxHamming` of its hash.
    * EXACT for maxHamming < bands by the [[hammingPairs]] pigeonhole:
    * a qualifying near-dup shares at least one band with the incoming
    * hash, so probing the `bands` bucket lists of a [[hammingIndex]]
    * finds every offender. The probe is one broadcast LEFT equi-join
    * per band (1:≤1 — the index is grouped per key, so the row count
    * never changes) plus a row-local exists() over the bucket arrays —
    * no shuffle, no aggregation, no state; on a stream every join is
    * stream-static and stateless, so decisions are identical on batch
    * and streaming frames (spec: bit-equal across a checkpoint restart).
    * The hstScore broadcast-route discipline applied to admission.
    *
    * Returns the input plus an `admitted` BOOLEAN column (keep the
    * rejects observable; filter on it to enforce). The index and the
    * incoming rows must be disjoint corpora — an id present in both
    * simply rejects itself, which is the admission semantics anyway.
    *
    * Scale contract: the index side is BROADCAST — size it as the
    * curated reference set (the canonical corpus after dedup), not an
    * unbounded raw corpus. When the reference set itself outgrows
    * broadcast, run admission batch-side as the banded shuffle join
    * ([[hammingPairs]] between incoming and reference) — the same
    * pigeonhole, exchanged instead of replicated.
    */
  def hammingAdmit(df: DataFrame, hashCol: String, index: DataFrame,
      bands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 63,
      "bands * bandBits must fit a positive BIGINT")
    require(maxHamming >= 0 && maxHamming < bands,
      "pigeonhole admission is exact only for maxHamming < bands")
    val mask = (1L << bandBits) - 1
    val in = df.columns.map(col)
    // Materialize the index ONCE before splitting it into per-band
    // broadcast sides — each band's join filters the index plan, so an
    // ungrouped index derivation (the [[hammingIndex]] explode+groupBy)
    // would otherwise re-execute `bands` times per query (and per
    // micro-batch in [[hammingAdmissionSink]]). Skipped when the caller
    // already checkpointed it (ADVICE r11).
    val mat =
      if (org.apache.spark.sql.graftshim.GraftShim.isMaterialized(index))
        index
      else index.localCheckpoint(false) // stats-ok: one-shot index build
    var cur = df
    for (k <- 0 until bands) {
      val idx = mat.filter(col("k") === k)
        .select(col("chunk").as(s"ck_$k"), col("hs").as(s"hs_$k"))
      cur = cur.join(broadcast(idx),
        expr(s"shiftright($hashCol, ${k * bandBits}) & $mask") ===
          col(s"ck_$k"), "left")
    }
    val dup = (0 until bands).map { k =>
      coalesce(
        exists(col(s"hs_$k"),
          x => bit_count(col(hashCol).bitwiseXOR(x)) <= lit(maxHamming)),
        lit(false))
    }.reduce(_ || _)
    cur.select(in :+ (!dup).as("admitted"): _*)
  }

  /** SELF-MAINTAINING streaming admission — the online dedup pipeline
    * composed end to end: each micro-batch decides against the index of
    * reference ∪ previously-ADMITTED stream rows, writes its admitted
    * rows to `outDir/batch=<id>`, and the NEXT batch's index includes
    * them — so a later near-dup of an admitted stream row is rejected,
    * not just near-dups of the static reference. Semantics are
    * BATCH-GRANULAR greedy admission: rows within one micro-batch are
    * decided against the prior state only (two mutual near-dups arriving
    * together are both admitted; the next arrival of either's
    * neighborhood is rejected) — the deterministic micro-batch analog of
    * per-record greedy admission, spec-pinned against a batch-by-batch
    * fold of [[hammingAdmit]].
    *
    * The index is MAINTAINED, not rebuilt (r11 verdict Next #2): batch N
    * probes the compacted index persisted at `outDir/_index/upto=<M>`
    * (the largest M < N) and folds ONLY its own admitted Δ in — a
    * union-merge per (band, chunk) key over index rows, whose count is
    * bounded by `bands · 2^bandBits` REGARDLESS of how many rows were
    * ever admitted. Per-trigger reads are therefore |Δ| + |index rows|;
    * the raw reference and the accumulated `batch=<id>` parquet are
    * never re-read after batch 0 (the old sink re-listed, re-read, and
    * re-aggregated reference + every admitted directory every trigger —
    * O(B²) cumulative over a long-lived stream). The reference relation
    * is indexed exactly once, when no prior compaction exists.
    *
    * Exactly-once across restarts WITHOUT engine state: the SINK IS THE
    * STATE. Each batch writes mode-overwrite into its own `batch=<id>`
    * and `_index/upto=<id>` directories; a replayed batch after a crash
    * reads the same prior compaction (strictly `upto < batchId`, so its
    * own half-written fold is invisible) and overwrites both outputs —
    * idempotent because [[hammingIndex]] and the merge are deterministic
    * (sorted, distinct arrays). Compactions older than the immediately
    * prior one are deleted — the engine can only ever replay the LAST
    * batch, which reads exactly that one.
    *
    * `outDir` and `checkpointDir` live and die as a PAIR: the sink
    * refuses to start batch 0 over an outDir holding another run's
    * admitted directories (a fresh checkpoint would silently inherit —
    * and pollute — the old run's admitted set otherwise; ADVICE r11).
    */
  def hammingAdmissionSink(incoming: DataFrame, idCol: String,
      hashCol: String, reference: DataFrame, outDir: String,
      checkpointDir: String, bands: Int, bandBits: Int,
      maxHamming: Int): org.apache.spark.sql.streaming.StreamingQuery =
    maintainedAdmissionSink("hammingAdmissionSink", incoming, reference,
      outDir, checkpointDir)(
      buildIndex = df => hammingIndex(df.select(col(idCol), col(hashCol)),
        idCol, hashCol, bands, bandBits),
      admit = (batch, idx) =>
        hammingAdmit(batch, hashCol, idx, bands, bandBits, maxHamming),
      mergeIndex = u => u.groupBy(col("k"), col("chunk"))
        .agg(array_sort(array_distinct(flatten(collect_list(col("hs")))))
          .as("hs")))

  /** The maintained-index sink skeleton shared by [[hammingAdmissionSink]]
    * and [[cosineAdmissionSink]] — everything that makes sink-is-the-state
    * admission exactly-once and Δ-bounded, independent of the signature
    * family:
    *
    *  - batch N probes the compacted index persisted at
    *    `outDir/_index/upto=<M>` (largest M < N) and folds ONLY its own
    *    admitted Δ back in via `mergeIndex` — per-trigger reads are
    *    |Δ| + |index rows|; the raw reference and accumulated `batch=<id>`
    *    parquet are never re-read after batch 0;
    *  - each batch writes mode-overwrite into its own `batch=<id>` and
    *    `_index/upto=<id>` directories, so a crash-replayed batch (which
    *    reads strictly `upto < batchId` — its own half-written fold is
    *    invisible) overwrites both outputs idempotently, provided
    *    `buildIndex`/`mergeIndex` are deterministic (sorted, distinct);
    *  - compactions older than the immediately prior one are deleted (the
    *    engine can only ever replay the LAST batch);
    *  - `outDir` and `checkpointDir` live and die as a PAIR: batch 0
    *    refuses an outDir holding another run's admitted directories, and
    *    a resume refuses an outDir with admitted batches but no
    *    compaction (strict `batch=`/`upto=` + digits name matches — a
    *    stray directory merely CONTAINING the marker is ignored).
    */
  private def maintainedAdmissionSink(sinkName: String, incoming: DataFrame,
      reference: DataFrame, outDir: String, checkpointDir: String)(
      buildIndex: DataFrame => DataFrame,
      admit: (DataFrame, DataFrame) => DataFrame,
      mergeIndex: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(outDir)
        val indexRoot = new org.apache.hadoop.fs.Path(root, "_index")
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val batchRe = "batch=(\\d+)".r
        val uptoRe = "upto=(\\d+)".r
        if (batchId == 0L && fs.exists(root)) {
          val stale = fs.listStatus(root).filter(_.isDirectory)
            .map(_.getPath.getName)
            .collect { case batchRe(n) if n.toLong != 0L => n }
          require(stale.isEmpty,
            s"$sinkName: fresh run (batch 0) over an outDir " +
              s"holding admitted directories from another run " +
              s"(batch=${stale.mkString(",")}) — outDir and " +
              "checkpointDir must be created and cleared as a pair")
        }
        val prior =
          if (!fs.exists(indexRoot)) None
          else fs.listStatus(indexRoot).filter(_.isDirectory)
            .flatMap(st => st.getPath.getName match {
              // A replayed batch must not read its OWN previous fold.
              case uptoRe(n) if n.toLong < batchId =>
                Some((n.toLong, st.getPath.toString))
              case _ => None
            }).sortBy(_._1).lastOption
        // A resumed stream (batchId > 0) with admitted directories but
        // no compaction is an outDir from the pre-maintained-index
        // format (or a manually deleted _index) — refusing beats
        // silently deciding against the reference alone.
        if (prior.isEmpty && batchId > 0L && fs.exists(root)) {
          val admittedBefore = fs.listStatus(root).filter(_.isDirectory)
            .map(_.getPath.getName)
            .collect { case batchRe(n) if n.toLong < batchId => n }
          require(admittedBefore.isEmpty,
            s"$sinkName: resumed at batch $batchId but " +
              s"$outDir/_index holds no compaction — the outDir " +
              "predates the maintained-index format; restart with a " +
              "fresh outDir + checkpointDir pair")
        }
        // One scan serves both the probe and the fold (the admit
        // routes skip their defensive checkpoint on a materialized index).
        val priorIdx = prior
          .map { case (_, p) => s.read.parquet(p) }
          .getOrElse(buildIndex(reference))
          .localCheckpoint(false) // stats-ok: one-shot per trigger (state flows through parquet, not the plan)
        val admitted = admit(batch, priorIdx)
          .filter(col("admitted")).drop("admitted")
          .localCheckpoint(false) // stats-ok: reused by the sink write AND the index fold
        admitted.write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
        mergeIndex(priorIdx.unionByName(buildIndex(admitted)))
          .write.mode("overwrite")
          .parquet(s"$outDir/_index/upto=$batchId")
        prior.foreach { case (m, _) =>
          fs.listStatus(indexRoot).filter(_.isDirectory)
            .foreach(st => st.getPath.getName match {
              case uptoRe(n) if n.toLong < m => fs.delete(st.getPath, true)
              case _ => ()
            })
        }
      }
      .start()

  /** Embedding near-dup: pairs with cosine >= threshold (brute pair join;
    * use [[cosinePairsIvf]] at scale).
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("v1"), col(vecCol).as("e1"))
    val b = df.select(col(idCol).as("v2"), col(vecCol).as("e2"))
    a.join(b, col("v1") < col("v2"))
      .withColumn("c", cosine(col("e1"), col("e2")))
      .filter(col("c") >= threshold)
      .select(col("v1"), col("v2"), (round(col("c"), 6) + lit(0.0)).as("cos_sim"))
  }

  /** IVF-bucketed embedding near-dup — the scale path for [[cosinePairs]]:
    * assign every vector to its nearest seed (broadcast + partial-agg
    * argmax, Similarity.ivfAssign), then pair-join WITHIN clusters only.
    * Cost drops from O(N²) to O(N²/K) pair evaluations and the join
    * shuffles on the cluster key; recall covers same-cluster neighbors
    * (raise K probes or union multiple seed sets to grow it — standard IVF
    * levers; the output is always a subset of the brute-force pairs,
    * asserted by DedupSpec).
    */
  def cosinePairsIvf(df: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val assigned = Similarity.ivfAssign(df, seeds, idCol, vecCol)
    val a = assigned.select(col("cluster"), col(idCol).as("v1"), col(vecCol).as("e1"))
    val b = assigned.select(col("cluster"), col(idCol).as("v2"), col(vecCol).as("e2"))
    a.join(b, Seq("cluster"))
      .filter(col("v1") < col("v2"))
      .withColumn("c", cosine(col("e1"), col("e2")))
      .filter(col("c") >= threshold)
      .select(col("v1"), col("v2"), (round(col("c"), 6) + lit(0.0)).as("cos_sim"))
  }

  /** IVF-bucketed embedding ADMISSION INDEX over a reference corpus — the
    * embedding analog of [[hammingIndex]]: every reference vector is
    * assigned to its nearest seed centroid (Similarity.ivfAssign: broadcast
    * + partial-agg argmax) and the bucket contents are grouped into one
    * sorted array per cluster, `(cluster, vs: array<struct<i, v>>)`. The
    * grouped shape makes [[cosineAdmit]]'s probe a 1:≤1 broadcast equi-join
    * per probe slot (row count never changes) and the sink fold a
    * union-merge per cluster key whose row count is bounded by the seed
    * count K regardless of how many rows were ever admitted. Arrays are
    * sorted by member id (unique), so rebuilding the index over the same
    * rows is bit-deterministic — the property the crash-replay idempotence
    * of [[cosineAdmissionSink]] rests on.
    */
  def cosineIndex(reference: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    Similarity.ivfAssign(reference, seeds, idCol, vecCol)
      .groupBy(col("cluster"))
      .agg(sort_array(collect_list(struct(col(idCol).as("i"),
        col(vecCol).as("v")))).as("vs"))

  /** Streaming embedding ADMISSION — the cosine half of [[hammingAdmit]]
    * (r11 verdict Next #4): each incoming vector is admitted iff NO
    * reference vector among its `nprobe` nearest IVF buckets has cosine
    * similarity >= `threshold`. Row-locally it scores the broadcast seed
    * array (one-row cross join; K structs), sorts, keeps the `nprobe`
    * best cluster ids, then probes the grouped [[cosineIndex]] with one
    * broadcast LEFT 1:≤1 equi-join per probe slot and a row-local
    * exists() over the bucket arrays — no shuffle, no aggregation, no
    * state; on a stream every join is stream-static and stateless, so
    * decisions are identical on batch and streaming frames.
    *
    * EXACT when nprobe >= K (the buckets partition the reference, so
    * probing all of them checks every reference vector — the registered
    * query's configuration, pinned against a brute DuckDB oracle);
    * approximate below that with standard IVF recall semantics (a true
    * neighbor assigned to a non-probed cell is missed — raise nprobe to
    * recover, at nprobe/K of the exact probe cost). Rejections are
    * one-sided: a probed near neighbor always rejects, so admission
    * errors only ever ADMIT a near-dup, never drop a unique row.
    *
    * Scale contract: index and seeds are BROADCAST — size the reference
    * as the curated corpus, not an unbounded raw one (the
    * [[hammingAdmit]] contract). The probe joins share one materialized
    * index plan, so Spark's exchange reuse ships a single broadcast; the
    * per-slot split only partitions the lookup keys.
    */
  def cosineAdmit(df: DataFrame, vecCol: String, index: DataFrame,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      threshold: Double, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val in = df.columns.map(col)
    // Materialize the index ONCE before splitting it into per-slot
    // broadcast sides (same reasoning as hammingAdmit; skipped when the
    // caller — e.g. the sink — already checkpointed it).
    val mat =
      if (org.apache.spark.sql.graftshim.GraftShim.isMaterialized(index))
        index
      else index.localCheckpoint(false) // stats-ok: one-shot index build
    val sarr = seeds.agg(sort_array(collect_list(struct(
      col(seedIdCol).as("sid"), col(seedVecCol).as("se")))).as("sarr"))
    // Probe list per row: cosine vs every seed, best nprobe cluster ids
    // (descending score, ties to the lowest seed id — ivfAssign's order).
    var cur = df.crossJoin(broadcast(sarr))
      .withColumn("__probes",
        slice(array_sort(transform(col("sarr"), s => struct(
          (-cosine(col(vecCol), s("se"))).as("nc"), s("sid").as("sid")))),
          1, nprobe))
      .drop("sarr")
    for (k <- 0 until nprobe) {
      val idx = mat.select(col("cluster").as(s"cl_$k"), col("vs").as(s"vs_$k"))
      // get() is 0-based and null-safe: when the corpus has fewer than
      // nprobe clusters the missing slots join nothing and drop out of
      // the OR via the coalesce below.
      cur = cur.join(broadcast(idx),
        get(col("__probes"), lit(k))("sid") === col(s"cl_$k"), "left")
    }
    val dup = (0 until nprobe).map { k =>
      coalesce(
        exists(col(s"vs_$k"),
          x => cosine(col(vecCol), x("v")) >= lit(threshold)),
        lit(false))
    }.reduce(_ || _)
    cur.select(in :+ (!dup).as("admitted"): _*)
  }

  /** SELF-MAINTAINING streaming embedding admission — [[cosineAdmit]]
    * composed through the [[maintainedAdmissionSink]] skeleton: each
    * micro-batch decides against reference ∪ previously-ADMITTED vectors,
    * writes its admitted rows to `outDir/batch=<id>`, and folds ONLY its
    * own Δ into the compacted per-cluster index at `outDir/_index` —
    * batch-granular greedy admission with exactly-once restart semantics
    * (the sink is the state), per-trigger reads bounded by |Δ| + K index
    * rows. Admitted Δ vectors are assigned by the SAME seed set, so the
    * index stays a partition of reference ∪ admitted and the
    * nprobe >= K exactness of [[cosineAdmit]] is preserved across folds.
    * `seeds` must be deterministic across triggers and restarts (it is
    * re-evaluated per trigger — read it from storage, not from a
    * nondeterministic computation).
    */
  def cosineAdmissionSink(incoming: DataFrame, idCol: String,
      vecCol: String, reference: DataFrame, seeds: DataFrame,
      outDir: String, checkpointDir: String, threshold: Double,
      nprobe: Int): org.apache.spark.sql.streaming.StreamingQuery =
    maintainedAdmissionSink("cosineAdmissionSink", incoming, reference,
      outDir, checkpointDir)(
      buildIndex = df => cosineIndex(df.select(col(idCol), col(vecCol)),
        seeds, idCol, vecCol),
      admit = (batch, idx) =>
        cosineAdmit(batch, vecCol, idx, seeds, idCol, vecCol,
          threshold, nprobe),
      mergeIndex = u => u.groupBy(col("cluster"))
        .agg(array_sort(array_distinct(flatten(collect_list(col("vs")))))
          .as("vs")))

  /** Transitive duplicate clusters over an undirected near-dup pair list:
    * every document that shares a chain of pairs lands in one cluster,
    * labeled by the minimum member id (which doubles as the keeper). The
    * step that turns pairwise dedup output into drop/keep decisions.
    *
    * Algorithm: hash-to-min label propagation WITH adaptive pointer
    * doubling — each iteration (a) joins the edge list against current
    * labels and takes the per-node minimum; from round 3 on it also
    * (b) shortcuts every label to its label's label (one join against a
    * renamed copy; labels are node ids so the lookup always hits). The
    * shortcut squares the propagation reach, so convergence is
    * O(log diameter) rounds instead of O(diameter) — near-cliques
    * (duplicate clusters) finish in 1-2 plain rounds and never pay for
    * the shortcut, while chain-shaped components (spatial eps-graphs,
    * long near-dup chains) no longer degenerate to one round per hop.
    * Each round is a bounded number of shuffle joins + a
    * partial-aggregated min, localCheckpoint'ed so the plan (and
    * lineage) stays flat. The driver-side loop holds only a changed-row
    * COUNT, never data.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 100): DataFrame = {
    // Materialize the pair pipeline ONCE before the symmetric union —
    // otherwise the union's two branches each recompute the (often
    // expensive: banded joins, LSH) upstream pair plan in the same job.
    val pr = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true) // stats-ok: one-shot pair materialization before the symmetric union
    val edges = pr
      .union(pr.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(false) // stats-ok: loop INPUT, not round state
    // Loop-round checkpoints must NOT inherit origin stats: a
    // checkpointed self-join squares the size estimate every round
    // (see GraftShim.dropOriginStats), which hangs planning after ~20
    // rounds. The one-shot edges/pr checkpoints above are harmless.
    var labels = ckptNoStats(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var changed = 1L
    var iters = 0
    // Cleanup discipline: a throw (the non-convergence guard) must not
    // strand checkpoints in block storage — a driver catching the error
    // to retry with a tighter threshold would accumulate them. The final
    // labels relation is the RESULT and stays checkpointed.
    try {
      while (changed > 0) {
        iters += 1
        require(iters <= maxIters,
          s"label propagation did not converge in $maxIters rounds: with " +
            "pointer doubling that means a component of diameter >= " +
            "2^maxIters — pathological input (e.g. a threshold low " +
            "enough to chain the whole corpus); tighten the pairing " +
            "threshold")
        // Checkpoint the propagate step before the shortcut self-join:
        // the agg materializes once (not twice via exchange reuse), and
        // the join sees a flat LogicalRDD (a self-joined Union trips
        // Catalyst's constraint rewrite).
        // The change-count is FUSED into the propagate aggregation: the
        // labels branch of the union tags each node's previous label as
        // `old` (min over the group recovers it — every node appears in
        // that branch exactly once, and min skips the edge branch's
        // nulls), so convergence needs no |V|⨝|V| join against the
        // previous round — just a filter over the round's own output.
        // shuffle_hash on the |V|-sized label relation: the checkpoint
        // leaves carry no stats (deliberately), which would otherwise
        // sort the |E|-sized edge stream EVERY round under the default
        // sort-merge choice (guide §3.1 — hash join when one side is
        // per-partition buildable; the label table is node-sized).
        val labelT = labels.schema("label").dataType
        val stepped = ckptNoStats(edges.join(labels.hint("shuffle_hash"),
            col("dst") === col("node"))
          .select(col("src").as("node"), col("label"),
            lit(null).cast(labelT).as("old"))
          .union(labels.select(col("node"), col("label"),
            col("label").as("old")))
          .groupBy(col("node")).agg(min(col("label")).as("label"),
            min(col("old")).as("old")))
        // Near-cliques converge in 1-2 plain rounds; only a component
        // still unconverged after that (a chain) pays for the shortcuts.
        // Two chained label-of-label joins quadruple the reach per round
        // (reach^4), so a diameter-d component closes in ~log4(d) + 2
        // rounds; each shortcut is one tiny join on the label relation.
        var freed = List.empty[DataFrame]
        var cur = stepped
        if (iters > 2) {
          for (_ <- 1 to 2) {
            val lk = cur.select(col("node").as("ln"), col("label").as("ll"))
            val nxt = ckptNoStats(cur.join(lk.hint("shuffle_hash"),
                col("label") === col("ln"))
              .select(col("node"), col("ll").as("label"), col("old")))
            freed ::= cur
            cur = nxt
          }
        }
        val prop = cur
        changed = prop.filter(col("label") =!= col("old")).count()
        // The count() above materialized prop's checkpoint, so the
        // previous round's label blocks (and the intermediate propagate
        // step) are unreachable — free them eagerly (a long loop would
        // otherwise hold O(rounds) corpus-sized cached relations).
        labels.unpersist()
        freed.foreach(_.unpersist())
        labels = prop
      }
    } catch {
      case e: Throwable => labels.unpersist(); throw e
    } finally { edges.unpersist(); pr.unpersist() }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The LSH BAND INDEX of a corpus — the carried artifact of
    * incremental text dedup: one (key, doc_id) row per band key (16
    * fixed-width rows per document, the [[minhashLshPairs]] banding).
    * [[minhashLshPairsIncrement]] probes an append batch against it.
    */
  def lshBandIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(minhashBands(col("toks"), NumHashes, BandRows)).as("key"))

  /** The near-dup pairs an APPEND batch adds to a corpus — incremental
    * [[minhashLshPairs]] (the production steady state: new documents
    * arrive, existing documents' pairs never change, so
    * pairs(base ∪ Δ) = pairs(base) ∪ THIS). Δ band keys equi-join the
    * carried [[lshBandIndex]] (plus Δ's own keys, for Δ-Δ dups) — work
    * scales with Δ's band collisions, never the corpus; the exact-
    * Jaccard verify re-derives grams only for candidate documents via a
    * broadcast semi-join on `corpus` (a pruned keyed fetch, the one
    * base access). Δ ids must be fresh; `corpus` must be base ∪ Δ.
    */
  def minhashLshPairsIncrement(bandIndex: DataFrame, corpus: DataFrame,
      delta: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dBands = ckptNoStats(lshBandIndex(delta, idCol, textCol))
    val allBands = bandIndex.unionByName(dBands)
    // Shuffle-hash with Δ as the (small) build side; the index streams.
    val cands = dBands.hint("shuffle_hash").as("x")
      .join(allBands.as("y"),
        col("x.key") === col("y.key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
      .distinct()
      .localCheckpoint(false) // stats-ok: one-shot delta candidate set
    val candIds = cands.select(col("d1").as("cid"))
      .union(cands.select(col("d2"))).distinct()
    val candGrams = gramRows(
      corpus.join(broadcast(candIds), col(idCol) === col("cid"),
        "left_semi"),
      idCol, textCol)
      .localCheckpoint(false) // stats-ok: one-shot candidate grams
    verifyJaccard(cands, candGrams)
  }

  /** Fold a batch of NEW pairs into a [[dedupClusters]] labeling —
    * incremental connected components (the dbscanGridIncrement label-
    * graph discipline, minus the density machinery): reps = each
    * touched id's current label (itself if unlabeled), the new pairs
    * close transitively over the BOUNDED rep graph, and remaps apply
    * label-keyed. Labels only ever DECREASE (the merged component's
    * label is the min over member ids — old labels ARE member mins), so
    * untouched rows stay valid. BIT-IDENTICAL to
    * dedupClusters(pairs(base) ∪ newPairs) when newPairs is exactly
    * what [[minhashLshPairsIncrement]] returns (spec-pinned).
    */
  def dedupClustersIncrement(labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val lab = ckptNoStats(labels)
    val pr = newPairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(true) // stats-ok: one-shot delta (isEmpty probe + reuse)
    if (pr.isEmpty) return lab
    val ids = pr.select(col("a").as("doc_id"))
      .union(pr.select(col("b"))).distinct()
    val reps = ckptNoStats(ids.join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep")))
    val repEdges = pr
      .join(reps.select(col("doc_id").as("a"), col("rep").as("r1")),
        Seq("a"))
      .join(reps.select(col("doc_id").as("b"), col("rep").as("r2")),
        Seq("b"))
      .select(col("r1"), col("r2"))
      .unionByName(reps.select(col("rep").as("r1"), col("rep").as("r2")))
    val repMap = ckptNoStats(dedupClusters(repEdges, "r1", "r2")
      .select(col("doc_id").as("rep"), col("cluster_id").as("newlab")))
    val remappedOld = lab
      .join(broadcast(repMap), lab("cluster_id") === repMap("rep"), "left")
      .select(lab("doc_id"),
        coalesce(col("newlab"), lab("cluster_id")).as("cluster_id"))
    val fresh = reps.join(lab, Seq("doc_id"), "left_anti")
      .join(broadcast(repMap), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("newlab"), col("rep")).as("cluster_id"))
    remappedOld.unionByName(fresh)
  }

  /** Fold a DELETE batch out of a [[dedupClusters]] labeling — the
    * delete twin of [[dedupClustersIncrement]] (retention pipelines
    * remove documents). Removing a document removes exactly the pairs
    * incident to it, so only the clusters that CONTAINED a deleted
    * member can change (split, shrink, relabel, or dissolve); all other
    * rows pass through untouched. Touched clusters resolve by LOCALIZED
    * recompute: the remaining members' carried band keys
    * ([[lshBandIndex]]) self-join for candidates (a member can never
    * pair with a non-member — a verified cross pair would have merged
    * the clusters originally), the exact-Jaccard verify re-derives
    * grams only for candidates, and the re-clustered labels replace the
    * touched rows. Members left with no surviving pair drop out of the
    * labeling, exactly as in a full recompute. Delete ids absent from
    * the labeling (never-paired or unknown docs) are harmless no-ops on
    * it — drop them from the carried band index with an anti-join.
    * BIT-IDENTICAL to dedupClusters over the survivors' pairs
    * (spec-pinned).
    */
  def dedupClustersDelete(labels: DataFrame, bandIndex: DataFrame,
      corpus: DataFrame, deleteIds: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val lab = ckptNoStats(labels)
    val del = deleteIds.select(col(idCol).cast("long").as("doc_id"))
      .distinct().localCheckpoint(true) // stats-ok: one-shot delta (isEmpty probe + reuse)
    if (del.isEmpty) return lab
    val touched = ckptNoStats(lab.join(del, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct())
    val members = ckptNoStats(lab
      .join(broadcast(touched), Seq("cluster_id"), "left_semi")
      .join(del, Seq("doc_id"), "left_anti")
      .select(col("doc_id")))
    val mBands =
      ckptNoStats(bandIndex.join(members, Seq("doc_id"), "left_semi"))
    val cands = mBands.as("x")
      .join(mBands.hint("shuffle_hash").as("y"),
        col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
      .localCheckpoint(false) // stats-ok: one-shot delta candidate set
    val candIds = cands.select(col("d1").as("cid"))
      .union(cands.select(col("d2"))).distinct()
    val candGrams = gramRows(
      corpus.join(broadcast(candIds), col(idCol) === col("cid"),
        "left_semi"),
      idCol, textCol)
      .localCheckpoint(false) // stats-ok: one-shot candidate grams
    val relabeled = dedupClusters(verifyJaccard(cands, candGrams),
      "d1", "d2")
    lab.join(broadcast(touched), Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(relabeled.select(col("doc_id"), col("cluster_id")))
  }

  /** Cross-group duplication matrix: for every unordered pair of groups
    * (sources, dumps, snapshots …), how many near-duplicate document pairs
    * connect them — the standard corpus-curation report for deciding which
    * source overlaps which. `pairs` is any near-dup pair list (e.g.
    * [[minhashLshPairs]]); `dims` maps document id → group.
    *
    * Scale: the pair list is duplicate-count-sized and joins `dims` on the
    * 8-byte id (two hash joins shuffling ids+group strings only, never
    * text); the final matrix is |groups|² at most — tiny.
    */
  def dupMatrix(pairs: DataFrame, aCol: String, bCol: String,
      dims: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val ga = dims.select(col(idCol).as("__a"), col(groupCol).as("__ga"))
    val gb = dims.select(col(idCol).as("__b"), col(groupCol).as("__gb"))
    pairs.select(col(aCol).as("__a"), col(bCol).as("__b"))
      .join(ga, "__a").join(gb, "__b")
      .groupBy(least(col("__ga"), col("__gb")).as("source_a"),
        greatest(col("__ga"), col("__gb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-cluster keeper election by QUALITY rather than id: for each
    * multi-document cluster, the member with the highest `scoreCol`
    * (ties → lowest id) — what a production dedup actually keeps (the
    * longest / highest-quality duplicate), with membership stats for the
    * curation report.
    *
    * Scale: one partial-aggregated `max(struct(score, -id))` per cluster —
    * the argmax collapses map-side to one row per (partition, cluster),
    * never window-sorting cluster members.
    */
  def dedupKeepBest(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 100): DataFrame = {
    val clusters = dedupClusters(pairs, aCol, bCol, maxIters)
    df.select(col(idCol).as("doc_id"), col(scoreCol).as("__score"))
      .join(clusters, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("__score"), (-col("doc_id")).as("__nid"))).as("__b"))
      .select(col("cluster_id"), col("n_members"),
        (-col("__b.__nid")).as("keeper_id"),
        col("__b.__score").as("keeper_score"))
  }

  /** The corpus with near-duplicates collapsed: for every transitive
    * cluster in `pairs`, only the representative (minimum id) survives;
    * documents in no pair pass through untouched. The standard final step
    * of a dedup pipeline — [[dedupClusters]] decides, this applies.
    *
    * Scale: the non-representative id set is duplicate-count-sized (can be
    * a large fraction of the corpus), so it is removed with a left-anti
    * equi-join on the 8-byte id — one corpus shuffle of ids, never text.
    */
  def dropDuplicatesTransitive(df: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 100): DataFrame = {
    val losers = dedupClusters(pairs, aCol, bCol, maxIters)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__loser_id"))
    df.join(losers, col(idCol) === col("__loser_id"), "left_anti")
  }

  /** Incremental near-dup: LSH-found, exact-verified pairs where at least
    * one member is from `inc` — the corpus REFRESH path. A production
    * pipeline dedups the base corpus once; when an increment arrives, only
    * pairs touching the increment are new information, and base×base must
    * not be re-paired (it is the quadratic bulk).
    *
    * Scale: the increment's band keys probe the full corpus' band keys, so
    * the candidate space is |inc|-driven, not |corpus|²: a base document
    * that shares no band with any new document never leaves the signature
    * stage. In production the base's band keys are the PERSISTED output of
    * the previous run (a (doc_id, key) table this function would read
    * instead of recomputing — the signature stage is deterministic, so the
    * two are identical); only the increment computes signatures fresh.
    * Verify re-derives grams only for candidate docs, as in
    * [[minhashLshPairs]]. Output matches `minhashLshPairs(base ∪ inc)`
    * restricted to pairs with a member in `inc` (DedupSpec pins it).
    */
  def incrementalNearDupPairs(base: DataFrame, inc: DataFrame,
      idCol: String, textCol: String): DataFrame =
    minhashLshPairsIncrement(
      lshBandIndex(base, idCol, textCol),
      base.select(col(idCol), col(textCol))
        .union(inc.select(col(idCol), col(textCol))),
      inc, idCol, textCol)

  /** Containment (asymmetric-Jaccard) near-dup pairs: |A∩B| / |A| per
    * direction — how much of each document's distinct-trigram set appears
    * in the other. Catches near-SUBSET duplication (an excerpt, a quoted
    * passage, a document embedded in a larger one) that symmetric Jaccard
    * misses by design: a short doc fully contained in a long one has
    * jaccard ≈ |A|/|B| (arbitrarily small) but containment 1.0.
    *
    * Emits (d1 < d2) pairs where EITHER direction reaches `threshold`,
    * with both directed containments.
    *
    * Scale: same narrow gram-equi-join shape as [[jaccardPairs]] — the
    * oracle-shaped ground truth. MinHash-LSH is NOT a valid prefilter here
    * (band agreement estimates symmetric Jaccard, which contained-short
    * docs fail); the scale prefilter for containment is winnowed
    * fingerprint overlap ([[winnowOverlapPairs]] — shared-substring-driven
    * and length-asymmetric by construction), with this exact measure as
    * the verify stage over its candidates.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val grams = gramRows(df, idCol, textCol)
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = grams.select(col("doc_id").as("d1"), col("g"))
    val b = grams.select(col("doc_id").as("d2"), col("g"))
    a.join(b, a("g") === b("g") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(greatest(col("inter") / col("n1"), col("inter") / col("n2"))
        >= threshold)
      .select(col("d1"), col("d2"),
        round(col("inter") / col("n1"), 6).as("c_1_in_2"),
        round(col("inter") / col("n2"), 6).as("c_2_in_1"))
  }

  /** Asymmetric set-containment pairs over an ARBITRARY (key, item)
    * relation — [[containmentPairs]] generalized away from text grams so
    * any fingerprint family can ride it (the q355 video near-dup feeds
    * per-frame dHashes; keys are documents, items are frame hashes).
    * Items are DISTINCT per key; the intersection comes from an
    * item-equality join (the only shuffle keys are item values — never a
    * key cross join, candidate count bounded by item collisions);
    * containment_micro = |A∩B|·10⁶ div min(|A|,|B|), exact BIGINT.
    */
  def itemContainmentPairs(items: DataFrame, keyCol: String,
      itemCol: String): DataFrame = {
    val d = items.select(col(keyCol).as("k"), col(itemCol).as("it")).distinct()
    val sizes = d.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val a = d.select(col("k").as("d1"), col("it"))
    val b = d.select(col("k").as("d2"), col("it"))
    a.join(b, a("it") === b("it") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("k").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("k").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("inter"),
        expr("inter * 1000000L div least(n1, n2)").as("containment_micro"))
  }

  /** Semantic deduplication over an embedding column (the SemDeDup shape,
    * Abbas et al. 2023, public literature): cluster vectors to their
    * nearest seed (IVF), find same-cluster pairs above the cosine
    * threshold, close them transitively, keep one representative per
    * cluster of near-identical meaning. Catches paraphrase/translation
    * duplicates that every TEXT measure (hash, Jaccard, SimHash,
    * winnowing) misses by construction.
    *
    * Pure composition of verified stages — [[Similarity.ivfAssign]]
    * (broadcast seeds, argmax assign), [[cosinePairsIvf]] (pair join
    * within clusters only, O(N²/K)), [[dedupClusters]] (min-label
    * propagation), [[dropDuplicatesTransitive]] (anti-join on 8-byte
    * loser ids) — so its scale shape is exactly theirs.
    */
  def semanticDedup(df: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame =
    dropDuplicatesTransitive(df, idCol,
      cosinePairsIvf(df, seeds, idCol, vecCol, threshold), "v1", "v2")

  /** Prefix-filtered EXACT Jaccard near-dup pairs — the all-pairs /
    * PPJoin family (Bayardo et al. WWW'07, Xiao et al. WWW'08, public
    * literature): identical output to [[jaccardPairs]] at ANY scale (no
    * LSH miss probability), without the naive gram join's hot-gram blowup.
    *
    * Order every document's distinct grams by global rarity (document
    * frequency, gram as tiebreak); a doc with n grams keeps only its
    * first n - ceil(t·n) + 1 grams as its PREFIX. Prefix-filtering lemma:
    * jac(A,B) >= t implies |A∩B| >= ceil(t·|A|) and >= ceil(t·|B|), and
    * the globally-smallest shared gram must then sit inside BOTH prefixes
    * (pigeonhole on the rarity order) — so the prefix self-join loses no
    * true pair, and the existing exact verify discards false candidates.
    *
    * Scale: the candidate join runs on the RAREST grams — ultra-frequent
    * boilerplate grams sort last and fall outside prefixes, exactly the
    * keys that blow up the naive join's buckets. Cost is two gram-stream
    * shuffles the LSH path doesn't pay (the df join on gram, the per-doc
    * rarity sort), in exchange for exactness: this is the path when a
    * missed duplicate has real cost; [[minhashLshPairs]] when ~1e-8/pair
    * miss probability is acceptable and signatures can be precomputed.
    *
    * Verify is a per-pair sorted-array intersection, NOT the relational
    * gram re-join [[verifyJaccard]] uses: prefix candidates are chancy
    * (any two docs sharing one semi-rare gram pair up, so |cands| can be
    * 1000× the true-dup count), and the re-join multiplies |cands| ×
    * grams-per-doc into a shuffle 50× the gram stream. The array form
    * costs one row per CANDIDATE (two hash joins carrying each doc's
    * gram array once). Candidates are pruned BEFORE the pair distinct by
    * the PPJoin length and positional bounds (both derived from
    * jac >= t, so exactness is untouched — measured 430k → 131k matches
    * at sf0.1), and the whole operator is one lazily-planned query: the
    * corpus scan and every shared exchange deduplicate at runtime via
    * AQE stage reuse (verified: one parquet scan end to end).
    * LSH keeps the re-join verify: its candidates ≈ true dups, where the
    * narrow join wins.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Grams shuffle as 8-byte xxhash64 keys from the first exchange on —
    // the same never-shuffle-text convention as exactDedup's md5. Every
    // downstream step (df count, rarity order, prefix join, verify
    // intersection) is gram-IDENTITY work, not gram-CONTENT work, so any
    // injective-in-practice key serves; collision probability per doc
    // pair is ~|grams|²/2⁶⁴. The rarity tiebreak is the hash (a global
    // total order is all the prefix lemma needs).
    // The gram stream checkpoints ALREADY PARTITIONED on the gram hash:
    // the document-frequency aggregation and the df-attach join are then
    // both exchange-free (co-partitioned on g), so the stream crosses the
    // wire exactly twice end to end — once here, once for the doc-keyed
    // collapse below.
    val grams = gramRows(df, idCol, textCol)
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
      .repartition(col("g"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // ONE doc-keyed collapse carrying (df, gram) structs: the sorted gram
    // array, the count, and the rarity-ordered prefix all derive MAP-SIDE
    // from it — this fuses what used to be a row_number window (shuffle +
    // sort on the gram stream) plus a second doc-keyed groupBy into a
    // single exchange of the gram stream.
    val byDoc = grams.hint("shuffle_hash").join(dfreq, "g")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("g"))).as("fg"))
      .withColumn("n", size(col("fg")).cast("long"))
      // Materialized ONCE (lazily, on first use): three consumers below
      // (both prefix sides + the verify's gram arrays) otherwise each
      // re-run the collect_list FINAL merge and its downstream Generate —
      // exchange reuse dedupes the scan and the partial agg, but
      // everything above the reused exchange still executes per branch.
      .localCheckpoint(false) // stats-ok: one-shot doc-gram materialization, not loop state
    val docGrams = byDoc.select(col("doc_id"),
      sort_array(transform(col("fg"), x => x("g"))).as("gs"), col("n"))
    // Prefix with POSITION: struct order = (df, gram) = the rarity order.
    val pref = byDoc
      .select(col("doc_id"), col("n"),
        posexplode(slice(array_sort(col("fg")), lit(1),
          (col("n").cast("double") - ceil(lit(JaccardThreshold) * col("n"))
            + 1).cast("int"))))
      .select(col("doc_id"), col("n"),
        (col("pos") + 1).cast("long").as("rn"), col("col.g").as("g"))
    // Micro-threshold bounds with floor/ceil split so both prunes are
    // provably WEAKER than jac >= t (no float-edge false negatives).
    val tLo = math.floor(JaccardThreshold * 1000000).toLong
    val tHi = math.ceil(JaccardThreshold * 1000000).toLong
    val cands = pref.as("a").join(pref.hint("shuffle_hash").as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      // length prune: jac >= t implies min(n1,n2) >= t*max(n1,n2)
      .filter(least(col("a.n"), col("b.n")) * lit(1000000L)
        >= lit(tLo) * greatest(col("a.n"), col("b.n")))
      // positional prune (PPJoin): grams after position rn are the most
      // this match can still contribute; jac >= t needs intersection
      // >= t/(1+t)*(n1+n2), and the pair's FIRST common prefix gram
      // always satisfies the bound, so keeping any-passing rows is exact.
      .filter((lit(1L) + least(col("a.n") - col("a.rn"),
          col("b.n") - col("b.rn"))) * lit(1000000L + tHi)
        >= lit(tLo) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cands
      .join(docGrams.select(col("doc_id").as("d1"), col("gs").as("g1"),
        col("n").as("n1")), "d1")
      .join(docGrams.select(col("doc_id").as("d2"), col("gs").as("g2"),
        col("n").as("n2")), "d2")
      .withColumn("inter", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jac", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= JaccardThreshold)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
  }

  /** Edit-distance similarity join: (d1 < d2) pairs whose `strCol` values
    * are within levenshtein distance `maxDist`, with the distance — the
    * fuzzy-match primitive for record linkage / key reconciliation.
    *
    * Candidate generation is partition-signature blocking (the PassJoin
    * scheme, Li et al., PVLDB 5(3), public literature): split each string
    * into maxDist+1 segments — if edit(r, s) <= maxDist then at least one
    * segment of r occurs VERBATIM in s (each edit op can destroy at most
    * one segment — pigeonhole), at a start offset shifted by at most
    * maxDist. So candidates come from an equi-join on (source length,
    * segment index, substring) — short fixed keys, never a cross join —
    * and only candidates pay a levenshtein verify.
    *
    * A corpus-constant prefix (one URL host, "Customer#…" keys) would make
    * every segment containing it a degenerate blocking key, so the
    * corpus-wide longest common prefix is stripped first. LCP(corpus) =
    * LCP(lexicographic min, max) — one aggregation, one 2-string row to
    * the driver (benign). Safe: equal leading characters can always be
    * aligned to each other in an optimal alignment, so removing a shared
    * prefix preserves every pairwise edit distance exactly.
    *
    * Strings shorter than maxDist+1 after the strip are excluded from
    * pairing (their pigeonhole would have an empty segment; real keys are
    * longer than the edit budget — documented precondition, spec'd).
    * NULL strings never pair.
    *
    * At 100 TB: segment keys shuffle (short substrings + two ints), and
    * the verify strategy ADAPTS to the stripped core length. SHORT cores
    * (avg ≤ [[InlineVerifyMaxAvgCore]] chars — reconciliation keys,
    * names) ride along with their segments and verify INLINE in the
    * segment join's projection: no candidate-pair relation is ever
    * materialized or shuffled, which is decisive on dense keyspaces
    * where low-entropy segments over-generate candidates by 30×+ (the
    * q123 fixture). LONG cores (documents) would bloat the segment
    * shuffle ~(d+1)+(2d+1)²-fold, so they keep the id-keyed plan:
    * candidate (d1, d2) pairs distinct first, then two joins carry each
    * string exactly once. Both paths are output-identical (spec-pinned).
    * On a dense keyspace no blocking can beat output size; the win shows
    * on realistic corpora where matches are rare.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1 (use exactDedup for 0)")
    val d = maxDist
    val strs0 = df.select(col(idCol).as("sid"), col(strCol).as("str"))
      .filter(col("str").isNotNull)
    val mm = strs0.agg(min(col("str")).as("lo"), max(col("str")).as("hi"),
        avg(length(col("str"))).as("avg_len"))
      .collect()(0)
    val lcp =
      if (mm.isNullAt(0)) 0
      else mm.getString(0).zip(mm.getString(1))
        .takeWhile { case (x, y) => x == y }.length
    val avgCore = (if (mm.isNullAt(2)) 0.0 else mm.getDouble(2)) - lcp
    val strs = strs0
      .withColumn("core", expr(s"substring(str, ${lcp + 1})"))
      .withColumn("len", length(col("core")))
      .filter(col("len") >= d + 1)
    // Even segment boundaries for a source string of length lr:
    // segment i spans [start(i), start(i+1)) with start(i) =
    // ceil(i*lr/(d+1))+1 — every segment non-empty when lr >= d+1, and
    // the LONGER segments come FIRST. The pigeonhole (some segment of r
    // occurs verbatim in s within a ±d shift) holds for ANY agreed
    // (d+1)-partition, so this is purely a blocking-selectivity choice:
    // the corpus-LCP strip only removes the exactly-common prefix, and
    // key corpora keep their remaining low-entropy characters at the
    // FRONT (zero padding, date/version prefixes) — giving the front
    // segment the extra characters puts more entropy into the weakest
    // blocking key. Measured on the q123 fixture: 18.4M -> 6.3M
    // candidate verifies (2.9x) for identical output.
    def segStart(lr: Column, i: Column): Column =
      floor((i.cast("long") * lr + d) / (d + 1)).cast("int") + 1
    val inline = avgCore <= InlineVerifyMaxAvgCore
    val segCols =
      if (inline) Seq(col("rid"), col("rcore"), col("lr"), col("i"))
      else Seq(col("rid"), col("lr"), col("i"))
    val segs = strs
      .select(col("sid").as("rid"), col("core").as("rcore"),
        col("len").as("lr"), explode(sequence(lit(0), lit(d))).as("i"))
      .withColumn("p", segStart(col("lr"), col("i")))
      .withColumn("ln", segStart(col("lr"), col("i") + lit(1)) - col("p"))
      .select(segCols :+ col("rcore").substr(col("p"), col("ln")).as("seg"): _*)
    // Probe side: for every string s, every source length lr within ±d,
    // every segment index, every start shift within ±d — a bounded
    // (2d+1)·(d+1)·(2d+1) fan-out per string.
    val probes = strs
      .select(col("sid").as("pid"), col("core").as("pcore"),
        col("len").as("ls"), explode(sequence(lit(-d), lit(d))).as("dl"))
      .withColumn("lr", col("ls") + col("dl"))
      .filter(col("lr") >= d + 1)
      .select(col("pid"), col("pcore"), col("ls"), col("lr"),
        explode(sequence(lit(0), lit(d))).as("i"))
      .withColumn("p", segStart(col("lr"), col("i")))
      .withColumn("ln", segStart(col("lr"), col("i") + lit(1)) - col("p"))
      .select(col("pid"), col("pcore"), col("ls"), col("lr"), col("i"),
        col("p"), col("ln"), explode(sequence(lit(-d), lit(d))).as("sh"))
      .withColumn("ps", col("p") + col("sh"))
      .filter(col("ps") >= 1 && col("ps") + col("ln") - lit(1) <= col("ls"))
      .select((if (inline) Seq(col("pid"), col("pcore"))
        else Seq(col("pid"))) ++ Seq(col("lr"), col("i"),
        col("pcore").substr(col("ps"), col("ln")).as("seg")): _*)
    // Verify on the LCP-stripped cores (distance-preserving — the prefix
    // is common to every string) with the BANDED levenshtein: the
    // threshold form computes an O(d·n) diagonal band per pair instead of
    // the O(n²) full matrix, and returns -1 past the bound.
    if (inline) {
      // Short cores verify straight off the segment join's projection —
      // no candidate relation, no pair shuffle, no verify joins. A pair
      // matching several (segment, shift) slots recomputes a cheap
      // O(d·len) band per slot (bounded by (d+1)·(2d+1)); the final
      // distinct runs on true matches only — output-sized, not
      // candidate-sized.
      segs.hint("shuffle_hash")
        .join(probes, Seq("lr", "i", "seg"))
        .filter(col("rid") =!= col("pid"))
        .withColumn("dist", levenshtein(col("rcore"), col("pcore"), d))
        .filter(col("dist") >= 0 && col("dist") <= d)
        .select(least(col("rid"), col("pid")).as("d1"),
          greatest(col("rid"), col("pid")).as("d2"),
          col("dist").cast("long").as("dist"))
        .distinct()
    } else {
      val cands = segs.hint("shuffle_hash")
        .join(probes, Seq("lr", "i", "seg"))
        .filter(col("rid") =!= col("pid"))
        .select(least(col("rid"), col("pid")).as("d1"),
          greatest(col("rid"), col("pid")).as("d2"))
        .distinct()
      val s1 = strs.select(col("sid").as("d1"), col("core").as("__s1"))
      val s2 = strs.select(col("sid").as("d2"), col("core").as("__s2"))
      cands.join(s1, "d1").join(s2, "d2")
        .withColumn("dist", levenshtein(col("__s1"), col("__s2"), d))
        .filter(col("dist") >= 0 && col("dist") <= d)
        .select(col("d1"), col("d2"), col("dist").cast("long").as("dist"))
    }
  }

  /** Average LCP-stripped core length at or below which
    * [[editDistancePairs]] verifies inline in the segment join: a core
    * this short costs less to carry through the segment shuffle than
    * the 16-byte candidate pairs it would otherwise fan out into.
    */
  val InlineVerifyMaxAvgCore: Double = 48.0

  /** Sorted-neighborhood blocking report: records sort by the string
    * (ties on id — deterministic), every pair within `window` RANKS
    * becomes a candidate, candidates verify with the banded levenshtein,
    * and the found pairs score against [[editDistancePairs]]' exact
    * ground truth — the classic record-linkage blocking method beside
    * PassJoin's segment scheme, with its recall measured instead of
    * assumed ([[blockingQuality]]'s lesson: blocking must be audited).
    *
    * Scale: ranks come from [[Layout.denseIds]]' two-pass range
    * partition (no single-task sort); the candidate fan-out is exactly
    * n·(window−1) — linear, the method's selling point — and each
    * candidate pays one O(d·len) banded verify. One summary row.
    */
  def sortedNeighborhoodReport(df: DataFrame, idCol: String, strCol: String,
      window: Int, maxDist: Int = 1,
      truthPairs: Option[DataFrame] = None): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val strs = df.select(col(idCol).as("sid"), col(strCol).as("str"))
      .filter(col("str").isNotNull)
    val ranked = Layout.denseIds(strs, Seq("str", "sid"), numPartitions = 32)
    val probe = ranked
      .select(col("sid").as("aid"), col("str").as("astr"),
        explode(sequence(lit(1), lit(window - 1))).as("d"), col("row_id"))
      .select(col("aid"), col("astr"), (col("row_id") + col("d")).as("rid2"))
    val found = probe
      .join(ranked.select(col("sid").as("bid"), col("str").as("bstr"),
        col("row_id").as("rid2")), Seq("rid2"))
      .withColumn("dist", levenshtein(col("astr"), col("bstr"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .filter(col("aid") =!= col("bid"))
      .select(least(col("aid"), col("bid")).as("d1"),
        greatest(col("aid"), col("bid")).as("d2"))
      .distinct()
    val truth = truthPairs
      .getOrElse(editDistancePairs(df, idCol, strCol, maxDist))
      .select(col("d1"), col("d2"))
    found.agg(count(lit(1)).as("n_found"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(lit(window).cast("long").as("window"), col("n_true"),
        col("n_found"),
        when(col("n_true") === 0, lit(null).cast("long"))
          .otherwise(expr("n_found * 1000000L div n_true"))
          .as("completeness_micro"))
  }

  /** Medoid election per near-dup cluster: the member with the highest
    * total Jaccard similarity to its fellow members — the most CENTRAL
    * representative, where [[dedupKeepBest]] elects by an external score
    * (longest/best) and the default keeps the lowest id. Central
    * representatives matter when the cluster is a paraphrase family: the
    * medoid is the least-divergent exemplar to keep or to label.
    *
    * Exact algebra: within-cluster pairwise Jaccard in integer micros
    * over 8-byte hashed trigram keys (the q124/q150 discipline), summed
    * per member; argmax via max(struct(sum, −id)) — lowest id on ties;
    * members with zero overlap against everyone stand at 0. Scale:
    * pairwise work is per-cluster quadratic BOUNDED BY CLUSTER SIZE
    * (near-dup clusters are small by construction — a corpus-sized
    * cluster means the threshold, not the medoid, is wrong), and the
    * gram join carries (cluster, hash) keys only.
    */
  def dedupMedoids(df: DataFrame, idCol: String, textCol: String,
      pairs: Option[DataFrame] = None): DataFrame = {
    val clusters = dedupClusters(
      pairs.getOrElse(minhashLshPairs(df, idCol, textCol)), "d1", "d2")
    val grams = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(trigrams(col("toks"))).as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val cg = clusters.join(grams, Seq("doc_id"))
      .select(col("cluster_id").as("cid"), col("doc_id"), col("g"))
    val inter = cg.as("a")
      .join(cg.as("b"),
        col("a.cid") === col("b.cid") && col("a.g") === col("b.g") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.cid").as("cid"), col("a.doc_id").as("da"),
        col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    val sims = inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("cid"), col("da"), col("db"),
        expr("i * 1000000L div (na + nb - i)").as("sim"))
    val contrib = sims.select(col("cid"), col("da").as("doc_id"), col("sim"))
      .unionAll(sims.select(col("cid"), col("db").as("doc_id"), col("sim")))
      .groupBy(col("cid"), col("doc_id")).agg(sum(col("sim")).as("s"))
    clusters
      .join(contrib.select(col("cid").as("cluster_id"), col("doc_id"),
        col("s")), Seq("cluster_id", "doc_id"), "left")
      .select(col("cluster_id"), col("doc_id"),
        coalesce(col("s"), lit(0L)).as("s"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("s"), (-col("doc_id")).as("negid"), col("doc_id")))
          .as("b"))
      .select(col("cluster_id"), col("n_members"),
        col("b.doc_id").as("medoid_id"), col("b.s").as("medoid_sim_micro"))
  }

  // ---- q256: most-central exemplar of every duplicate cluster -----------------
  private def q256(s: SparkSession, d: String): DataFrame =
    dedupMedoids(Tables.documents(s, d), "doc_id", "text",
        pairs = Some(lshPairsOf(s, d)))
      .orderBy(col("cluster_id"))
  private def q256Sql =
    s"""WITH RECURSIVE ${jaccardCtes()},
       $dupCte,
       $closureCtes,
       clusters AS (
         SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         FROM reach GROUP BY a),
       cg AS (
         SELECT c.cluster_id AS cid, g.doc_id, g.g
         FROM clusters c JOIN grams g USING (doc_id)),
       inter AS (
         SELECT a.cid, a.doc_id AS da, b.doc_id AS db,
           count(*)::BIGINT AS i
         FROM cg a JOIN cg b
           ON a.cid = b.cid AND a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3),
       sims AS (
         SELECT i.cid, i.da, i.db,
           (i.i * 1000000 // (sa.n + sb.n - i.i))::BIGINT AS sim
         FROM inter i
         JOIN sizes sa ON i.da = sa.doc_id
         JOIN sizes sb ON i.db = sb.doc_id),
       contrib AS (
         SELECT cid, doc_id, sum(sim)::BIGINT AS s FROM (
           SELECT cid, da AS doc_id, sim FROM sims
           UNION ALL SELECT cid, db, sim FROM sims)
         GROUP BY 1, 2),
       scored AS (
         SELECT c.cluster_id, c.doc_id, coalesce(ct.s, 0)::BIGINT AS s
         FROM clusters c LEFT JOIN contrib ct
           ON c.cluster_id = ct.cid AND c.doc_id = ct.doc_id),
       ranked AS (
         SELECT cluster_id, doc_id, s,
           row_number() OVER (PARTITION BY cluster_id
             ORDER BY s DESC, doc_id) AS rn
         FROM scored)
       SELECT cluster_id, count(*)::BIGINT AS n_members,
         max(CASE WHEN rn = 1 THEN doc_id END)::BIGINT AS medoid_id,
         max(CASE WHEN rn = 1 THEN s END)::BIGINT AS medoid_sim_micro
       FROM ranked GROUP BY cluster_id ORDER BY cluster_id"""

  // ---- q254: sorted-neighborhood recall on the customer names -----------------
  // A rank-window of 10 over the sorted names: cheap (linear candidates)
  // but provably partial on this dense keyspace — the report measures
  // exactly how partial, against the PassJoin exact pair list.
  /** The exact edit-distance pair list over the customer names — the
    * reference artifact q254's blocking report scores against, derived
    * once per (session, dir); q123 keeps deriving it live (its cost IS
    * the documented exactness tax the bench reports).
    */
  private def editPairsOf(s: SparkSession, d: String): DataFrame =
    Materialized.of(s, d, "edit_pairs_customer") {
      editDistancePairs(Tables.customer(s, d), "c_custkey", "c_name", 1)
    }

  private def q254(s: SparkSession, d: String): DataFrame =
    sortedNeighborhoodReport(Tables.customer(s, d), "c_custkey", "c_name",
      window = 10, truthPairs = Some(editPairsOf(s, d)))
  private val q254Sql =
    """WITH ranked AS (
         SELECT c_custkey AS sid, c_name AS str,
           row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rid
         FROM customer WHERE c_name IS NOT NULL),
       found AS (
         SELECT DISTINCT least(a.sid, b.sid) AS d1,
           greatest(a.sid, b.sid) AS d2
         FROM ranked a JOIN ranked b
           ON b.rid - a.rid BETWEEN 1 AND 9
         WHERE a.sid <> b.sid AND levenshtein(a.str, b.str) <= 1),
       truth AS (
         SELECT a.c_custkey AS d1, b.c_custkey AS d2
         FROM customer a JOIN customer b
           ON a.c_custkey < b.c_custkey
          AND abs(length(a.c_name) - length(b.c_name)) <= 1
         WHERE levenshtein(a.c_name, b.c_name) <= 1)
       SELECT 10::BIGINT AS window,
         (SELECT count(*) FROM truth)::BIGINT AS n_true,
         (SELECT count(*) FROM found)::BIGINT AS n_found,
         CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
           ELSE ((SELECT count(*) FROM found) * 1000000
             // (SELECT count(*) FROM truth)) END::BIGINT
           AS completeness_micro"""

  // ===========================================================================
  // Oracle-bound query exercises
  // ===========================================================================

  /** Shared oracle CTE chain: toks → distinct 3-grams → sizes → candidate
    * pairs with intersection counts. Every Jaccard-derived oracle (q26/q27
    * pairs, q60 clusters, q64 matrix) interpolates this ONE fragment so a
    * gram-construction or threshold change cannot silently diverge them.
    * `src` lets a caller run the chain over a derived relation (q122's
    * corpus-plus-excerpts) instead of the raw table.
    */
  private[operators] def jaccardCtes(src: String = "documents"): String =
    s"""toks AS (
         SELECT doc_id, string_split(text, ' ') AS tokens FROM $src
         WHERE len(string_split(text, ' ')) >= 3),
       grams AS (
         SELECT DISTINCT doc_id, g FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 1),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS g
           FROM toks)),
       sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       pair AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2)"""

  /** The `dup` CTE on top of [[jaccardCtes]]: pairs at >= the threshold. */
  private[operators] val dupCte =
    s"""dup AS (
         SELECT d1, d2 FROM pair
         JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold)"""

  /** Transitive closure over [[dupCte]]'s pairs (recursive; the WITH must
    * be `WITH RECURSIVE`): symmetrized `edges` + `reach` = every ordered
    * (a, reachable b). Shared by the cluster (q60) and kept-corpus (q67)
    * oracles so the closure definition cannot silently diverge.
    */
  private[operators] val closureCtes =
    """edges AS (SELECT d1 AS a, d2 AS b FROM dup
                 UNION SELECT d2, d1 FROM dup),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)"""

  // Shared oracle body: exact distinct-3-gram Jaccard pairs >= threshold.
  private val exactJaccardSql =
    s"""WITH ${jaccardCtes()}
       SELECT d1, d2,
         round(inter / (s1.n + s2.n - inter), 6) AS jaccard
       FROM pair JOIN sizes s1 ON d1 = s1.doc_id
                 JOIN sizes s2 ON d2 = s2.doc_id
       WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold
       ORDER BY d1, d2"""

  /** Threshold sensitivity sweep over a similarity pair list: at each
    * candidate threshold, how many pairs survive and how many documents
    * they touch — the tuning table read before committing a dedup run
    * (a cliff between 0.7 and 0.8 means the corpus has a paraphrase band
    * there; a flat curve means the threshold hardly matters). Pure
    * arithmetic over the ALREADY-verified pair list — the sweep costs
    * |pairs|·|thresholds|, never a re-verification.
    */
  def thresholdSweep(pairs: DataFrame, simCol: String,
      thresholdsMicro: Seq[Long]): DataFrame = {
    require(thresholdsMicro.nonEmpty, "need at least one threshold")
    val t = pairs.sparkSession.createDataFrame(
      thresholdsMicro.map(Tuple1(_))).toDF("threshold_micro")
    val withM = pairs.select(col("d1"), col("d2"),
      floor(col(simCol) * lit(1e6) + lit(0.5)).cast("long").as("sm"))
    val hit = broadcast(t).join(withM, col("sm") >= col("threshold_micro"))
    val nPairs = hit.groupBy(col("threshold_micro"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("threshold_micro"),
        explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy(col("threshold_micro"))
      .agg(countDistinct(col("doc")).as("n_docs_affected"))
    nPairs.join(nDocs, Seq("threshold_micro"))
      .unionByName(
        // Thresholds no pair reaches still report (zero pairs/docs).
        broadcast(t)
          .join(withM.groupBy().agg(max(col("sm")).as("mx")),
            col("threshold_micro") > coalesce(col("mx"),
              lit(Long.MinValue)))
          .select(col("threshold_micro"), lit(0L).as("n_pairs"),
            lit(0L).as("n_docs_affected")))
  }

  // ---- q257: where should the dedup threshold sit? ----------------------------
  private def q257(s: SparkSession, d: String): DataFrame =
    thresholdSweep(lshPairsOf(s, d), "jaccard",
        Seq(500000L, 600000L, 700000L, 800000L, 900000L))
      .orderBy(col("threshold_micro"))
  private def q257Sql =
    s"""WITH ${jaccardCtes()},
       pl AS (
         SELECT d1, d2,
           floor(round(inter / (s1.n + s2.n - inter), 6) * 1000000
             + 0.5)::BIGINT AS sm
         FROM pair JOIN sizes s1 ON d1 = s1.doc_id
                   JOIN sizes s2 ON d2 = s2.doc_id
         WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold),
       th AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
                AS threshold_micro),
       hit AS (
         SELECT th.threshold_micro, pl.d1, pl.d2
         FROM th JOIN pl ON pl.sm >= th.threshold_micro),
       np AS (
         SELECT threshold_micro, count(*)::BIGINT AS n_pairs
         FROM hit GROUP BY 1),
       nd AS (
         SELECT threshold_micro, count(DISTINCT doc)::BIGINT
           AS n_docs_affected
         FROM (SELECT threshold_micro, unnest([d1, d2]) AS doc FROM hit)
         GROUP BY 1)
       SELECT np.threshold_micro::BIGINT AS threshold_micro, np.n_pairs,
         nd.n_docs_affected
       FROM np JOIN nd USING (threshold_micro)
       UNION ALL
       SELECT th.threshold_micro::BIGINT, 0::BIGINT, 0::BIGINT
       FROM th
       WHERE th.threshold_micro >
         coalesce((SELECT max(sm) FROM pl), -9223372036854775807)
       ORDER BY threshold_micro"""

  /** Blocking-quality report for record linkage: given a blocking key,
    * the reduction ratio (how much of the all-pairs space the blocking
    * avoids) and pair completeness (what share of TRUE duplicate pairs
    * land in the same block and are therefore findable) — the two
    * numbers every entity-resolution blocking scheme is tuned between.
    * Truth = exact content duplicates (the q25 md5 families).
    *
    * Exact integer pair algebra: candidates = Σ C(block, 2), truth =
    * Σ C(md5 family, 2), found = Σ C((md5, block) family, 2) — every
    * term from one aggregation over group sizes, never materializing a
    * pair. Scale: three grouped counts with map-side partials; the text
    * never shuffles (md5 + block key only).
    */
  def blockingQuality(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column): DataFrame = {
    val base = df.select(col(idCol).as("id"), md5(col(textCol)).as("h"),
      blockKey.as("b"))
    def pairSum: Column = coalesce(sum(expr("cnt * (cnt - 1) div 2")), lit(0L))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val cand = base.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .agg(pairSum.as("n_candidate_pairs"))
    val truth = base.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .agg(pairSum.as("n_true_pairs"))
    val found = base.groupBy(col("h"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .agg(pairSum.as("n_found_pairs"))
    nDocs.crossJoin(cand).crossJoin(truth).crossJoin(found)
      .select(col("n_docs"), col("n_true_pairs"),
        col("n_candidate_pairs"), col("n_found_pairs"),
        expr("""(n_docs * (n_docs - 1) div 2 - n_candidate_pairs)
             * 1000000L div (n_docs * (n_docs - 1) div 2)""")
          .as("reduction_micro"),
        when(col("n_true_pairs") === 0, lit(null).cast("long"))
          .otherwise(expr("n_found_pairs * 1000000L div n_true_pairs"))
          .as("completeness_micro"))
  }

  // ---- q226: is (source, length-band) a good blocking key? --------------------
  // The fixture's verdict is NO: its exact duplicates cross sources, so
  // completeness lands at 0 while reduction is ~99% — exactly the
  // failure mode (great reduction, zero recall) this report exists to
  // catch before a linkage run trusts its blocks.
  private def q226(s: SparkSession, d: String): DataFrame =
    blockingQuality(Tables.documents(s, d), "doc_id", "text",
      concat_ws("|", col("source"), expr("n_chars div 100")))
  private val q226Sql =
    """WITH base AS (
         SELECT doc_id, md5(text) AS h,
           source || '|' || (n_chars // 100)::VARCHAR AS b
         FROM documents),
       nd AS (SELECT count(*)::BIGINT AS n_docs FROM base),
       cand AS (
         SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT
           AS n_candidate_pairs
         FROM (SELECT count(*)::BIGINT AS cnt FROM base GROUP BY b)),
       tr AS (
         SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT
           AS n_true_pairs
         FROM (SELECT count(*)::BIGINT AS cnt FROM base GROUP BY h)),
       fnd AS (
         SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT
           AS n_found_pairs
         FROM (SELECT count(*)::BIGINT AS cnt FROM base GROUP BY h, b))
       SELECT n_docs, n_true_pairs, n_candidate_pairs, n_found_pairs,
         ((n_docs * (n_docs - 1) // 2 - n_candidate_pairs) * 1000000
           // (n_docs * (n_docs - 1) // 2))::BIGINT AS reduction_micro,
         CASE WHEN n_true_pairs = 0 THEN NULL
           ELSE n_found_pairs * 1000000 // n_true_pairs END::BIGINT
           AS completeness_micro
       FROM nd, cand, tr, fnd"""

  /** Fellegi–Sunter agreement weights for record linkage: for each
    * comparison field, the m-probability (P(field agrees | pair is a true
    * match)), the u-probability (P(field agrees | pair is a non-match
    * drawn from the blocked candidate space)), and their ratio — the
    * per-field evidence weight a probabilistic linker sums before
    * thresholding (Fellegi & Sunter 1969). All probabilities as exact
    * micro fractions.
    *
    * Scale design — neither side materializes the quadratic pair space:
    *  - m-side: the verified match-pair list is output-sized (it IS the
    *    dedup result); joined twice against the corpus with the pair list
    *    broadcast, so the corpus never shuffles for it.
    *  - u-side: agreement counts among blocked pairs come from pure
    *    group-size algebra — Σ C(n,2) over (block), (block, field) and
    *    the match-side corrections — three grouped counts with map-side
    *    partials, pairs never enumerated (the [[blockingQuality]] trick).
    */
  def linkageWeights(df: DataFrame, idCol: String, matchPairs: DataFrame,
      blockKey: Column, fields: Seq[(String, Column)]): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val base = df.select(
      (col(idCol).as("id") +: blockKey.as("b") +:
        fields.map { case (n, c) => c.as(s"f_$n") }): _*)
    def pairSum: Column =
      coalesce(sum(expr("cnt * (cnt - 1) div 2")), lit(0L))
    val blocked = base.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      .agg(pairSum.as("blocked_pairs"))
    val side1 = base.select(
      (col("id").as("d1") +: col("b").as("b1") +:
        fields.map { case (n, _) => col(s"f_$n").as(s"f1_$n") }): _*)
    val side2 = base.select(
      (col("id").as("d2") +: col("b").as("b2") +:
        fields.map { case (n, _) => col(s"f_$n").as(s"f2_$n") }): _*)
    val mp = matchPairs.select(col("d1"), col("d2"))
    val matched = broadcast(mp).join(side1, "d1").join(side2, "d2")
    fields.map { case (name, _) =>
      val agree = col(s"f1_$name") === col(s"f2_$name")
      val inBlock = col("b1") === col("b2")
      val mSide = matched.agg(
        count(lit(1)).as("n_match"),
        sum(when(agree, 1L).otherwise(0L)).as("agree_match"),
        sum(when(inBlock, 1L).otherwise(0L)).as("n_match_blocked"),
        sum(when(inBlock && agree, 1L).otherwise(0L))
          .as("agree_match_blocked"))
      val agreeBlocked = base.groupBy(col("b"), col(s"f_$name"))
        .agg(count(lit(1)).as("cnt")).agg(pairSum.as("agree_blocked"))
      mSide.crossJoin(broadcast(agreeBlocked)).crossJoin(broadcast(blocked))
        .select(lit(name).as("field"), col("n_match"), col("agree_match"),
          when(col("n_match") > 0,
            expr("agree_match * 1000000L div n_match"))
            .otherwise(lit(null).cast("long")).as("m_micro"),
          when(col("blocked_pairs") - col("n_match_blocked") > 0,
            expr("""(agree_blocked - agree_match_blocked) * 1000000L
                 div (blocked_pairs - n_match_blocked)"""))
            .otherwise(lit(null).cast("long")).as("u_micro"))
        .withColumn("weight_ratio_micro",
          when(col("m_micro").isNotNull && col("u_micro").isNotNull,
            expr("m_micro * 1000000L div greatest(u_micro, 1L)"))
            .otherwise(lit(null).cast("long")))
    }.reduce(_ unionByName _)
  }

  // ---- q311: which fields carry linkage evidence? -----------------------------
  // Truth = the verified near-dup pair list (LSH-found, exact-Jaccard-
  // verified — the [[lshPairsOf]] materialization); blocks = 100-char
  // length bands. The fixture's verdict: source carries almost no weight
  // (near-dups cross sources by construction), the 16-char prefix is
  // decisive.
  private def q311(s: SparkSession, d: String): DataFrame =
    linkageWeights(Tables.documents(s, d), "doc_id", lshPairsOf(s, d),
      expr("n_chars div 100"),
      Seq("source" -> col("source"), "lang" -> col("lang"),
        "prefix16" -> substring(col("text"), 1, 16)))
      .orderBy(col("field"))
  private val q311Sql =
    s"""WITH ${jaccardCtes()}, $dupCte,
       base AS (
         SELECT doc_id AS id, n_chars // 100 AS b, source AS f_source,
           lang AS f_lang, left(text, 16) AS f_prefix16
         FROM documents),
       blocked AS (
         SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT
           AS blocked_pairs
         FROM (SELECT count(*)::BIGINT AS cnt FROM base GROUP BY b)),
       m AS (
         SELECT p.d1, p.d2, a.b AS b1, c.b AS b2,
           a.f_source AS s1, c.f_source AS s2,
           a.f_lang AS l1, c.f_lang AS l2,
           a.f_prefix16 AS x1, c.f_prefix16 AS x2
         FROM dup p JOIN base a ON p.d1 = a.id JOIN base c ON p.d2 = c.id),
       stats AS (
         SELECT 'source' AS field, count(*)::BIGINT AS n_match,
           sum(CASE WHEN s1 = s2 THEN 1 ELSE 0 END)::BIGINT AS agree_match,
           sum(CASE WHEN b1 = b2 THEN 1 ELSE 0 END)::BIGINT AS nmb,
           sum(CASE WHEN b1 = b2 AND s1 = s2 THEN 1 ELSE 0 END)::BIGINT
             AS amb,
           (SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT FROM
             (SELECT count(*)::BIGINT AS cnt FROM base GROUP BY b, f_source))
             AS agree_blocked
         FROM m
         UNION ALL
         SELECT 'lang', count(*)::BIGINT,
           sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN b1 = b2 THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN b1 = b2 AND l1 = l2 THEN 1 ELSE 0 END)::BIGINT,
           (SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT FROM
             (SELECT count(*)::BIGINT AS cnt FROM base GROUP BY b, f_lang))
         FROM m
         UNION ALL
         SELECT 'prefix16', count(*)::BIGINT,
           sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN b1 = b2 THEN 1 ELSE 0 END)::BIGINT,
           sum(CASE WHEN b1 = b2 AND x1 = x2 THEN 1 ELSE 0 END)::BIGINT,
           (SELECT coalesce(sum(cnt * (cnt - 1) // 2), 0)::BIGINT FROM
             (SELECT count(*)::BIGINT AS cnt FROM base
              GROUP BY b, f_prefix16))
         FROM m)
       SELECT field, n_match, agree_match,
         CASE WHEN n_match > 0 THEN agree_match * 1000000 // n_match
           ELSE NULL END::BIGINT AS m_micro,
         CASE WHEN blocked_pairs - nmb > 0
           THEN (agree_blocked - amb) * 1000000 // (blocked_pairs - nmb)
           ELSE NULL END::BIGINT AS u_micro,
         CASE WHEN n_match > 0 AND blocked_pairs - nmb > 0
           THEN (agree_match * 1000000 // n_match) * 1000000
             // greatest((agree_blocked - amb) * 1000000
               // (blocked_pairs - nmb), 1)
           ELSE NULL END::BIGINT AS weight_ratio_micro
       FROM stats, blocked ORDER BY field"""

  /** Near-dup EVIDENCE report: for each flagged pair, the count of
    * shared trigram shingles and the longest CONTIGUOUS shared token
    * span — the "show me why these two matched" forensic a human (or a
    * takedown pipeline) reads before acting on a similarity score. A
    * pair with jaccard 0.8 from one long quoted block and one with 0.8
    * from scattered boilerplate look identical to the score; the span
    * length separates them.
    *
    * Method: positioned gram matches between the two sides fall on
    * diagonals (p1 − p2 constant) exactly when the underlying tokens
    * align; the longest run of consecutive positions on one diagonal is
    * the classic gaps-and-islands count (rn-difference grouping), and a
    * run of k consecutive trigrams spans k + 2 tokens.
    *
    * Scale design: gram-with-position rows are derived ONLY for
    * documents in the pair list (broadcast semi-join on the tiny id
    * set — the q27 verify discipline), so cost tracks the output pair
    * list, not the corpus; every window is partitioned by
    * (pair, diagonal).
    */
  def dupEvidence(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("d1"), col("d2"))
    val ids = p.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    val gp = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .filter(size(col("toks")) >= 3)
      // the ORDERED multiset kernel — positions must index the token
      // stream, which the distinct form (first-occurrence order) breaks
      .select(col("doc_id"), posexplode(ngrams(col("toks"), 3)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("g"))
    val matches = broadcast(p)
      .join(gp.select(col("doc_id").as("d1"), col("pos").as("p1"),
        col("g")), "d1")
      .join(gp.select(col("doc_id").as("d2r"), col("pos").as("p2"),
        col("g").as("g2")),
        col("d2") === col("d2r") && col("g") === col("g2"))
      .select(col("d1"), col("d2"), col("p1"), col("p2"), col("g"))
    val shared = matches.groupBy(col("d1"), col("d2"))
      .agg(countDistinct(col("g")).as("n_shared_grams"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("p1"))
    val longest = matches
      .select(col("d1"), col("d2"), (col("p1") - col("p2")).as("diag"),
        col("p1")).distinct()
      .withColumn("grp", col("p1") - row_number().over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("d1"), col("d2"))
      .agg(max(col("run")).as("longest_run"))
    shared.join(longest, Seq("d1", "d2"))
      .select(col("d1"), col("d2"), col("n_shared_grams"),
        (col("longest_run") + 2).as("span_tokens"))
  }

  // ---- q321: why did these pairs match? ---------------------------------------
  private def q321(s: SparkSession, d: String): DataFrame =
    dupEvidence(Tables.documents(s, d), "doc_id", "text", lshPairsOf(s, d))
      .orderBy(col("d1"), col("d2"))
  private val q321Sql =
    s"""WITH ${jaccardCtes()}, $dupCte,
       gp0 AS (
         SELECT doc_id, unnest(list_transform(range(1, len(tokens) - 1),
           i -> struct_pack(pos := i, g := tokens[i] || ' ' || tokens[i+1]
             || ' ' || tokens[i+2]))) AS pg
         FROM toks),
       gp AS (SELECT doc_id, pg.pos::BIGINT AS pos, pg.g AS g FROM gp0),
       m AS (
         SELECT p.d1, p.d2, a.pos AS p1, b.pos AS p2, a.g
         FROM dup p
         JOIN gp a ON a.doc_id = p.d1
         JOIN gp b ON b.doc_id = p.d2 AND a.g = b.g),
       sh AS (
         SELECT d1, d2, count(DISTINCT g)::BIGINT AS n_shared_grams
         FROM m GROUP BY 1, 2),
       dj AS (SELECT DISTINCT d1, d2, p1 - p2 AS diag, p1 FROM m),
       runs AS (
         SELECT d1, d2, diag,
           p1 - row_number() OVER (PARTITION BY d1, d2, diag
             ORDER BY p1) AS grp
         FROM dj),
       rl AS (
         SELECT d1, d2, max(cnt)::BIGINT AS longest_run FROM (
           SELECT d1, d2, diag, grp, count(*) AS cnt
           FROM runs GROUP BY 1, 2, 3, 4)
         GROUP BY 1, 2)
       SELECT sh.d1, sh.d2, n_shared_grams,
         (longest_run + 2)::BIGINT AS span_tokens
       FROM sh JOIN rl ON sh.d1 = rl.d1 AND sh.d2 = rl.d2
       ORDER BY sh.d1, sh.d2"""

  /** End-to-end Fellegi–Sunter entity resolution: block → score field
    * agreements with caller-supplied evidence weights (e.g. read off a
    * [[linkageWeights]] run) → accept pairs at the threshold →
    * transitively cluster ([[dedupClusters]]) → report resolved
    * entities with their member counts. The composition capstone of
    * the linkage tier: q311 ESTIMATES the weights, this SPENDS them.
    *
    * Oversized blocks (> `maxBlockSize`) are dropped whole — a block
    * key that fails to discriminate is a non-answer, not a candidate
    * set (the standard blocking discipline; deterministic on both
    * engines).
    *
    * Scale design: candidate pairs exist only within capped blocks
    * (Σ min(|block|, cap)² bound); scoring is a per-pair expression,
    * no second corpus pass; clustering runs on the accepted-pair list,
    * which is resolution-output-sized.
    */
  def resolveEntities(df: DataFrame, idCol: String, blockKey: Column,
      fields: Seq[(String, Column, Long)], thresholdMicro: Long,
      maxBlockSize: Int = 256): DataFrame = {
    require(fields.nonEmpty, "need at least one weighted field")
    val base = df.select(
      (col(idCol).as("id") +: blockKey.as("b") +:
        fields.map { case (n, c, _) => c.as(s"f_$n") }): _*)
    val keptBlocks = base.groupBy(col("b")).agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= maxBlockSize).select(col("b"))
    val kept = base.join(keptBlocks, Seq("b"), "left_semi")
    val l = kept.select(
      (col("id").as("d1") +: col("b") +:
        fields.map { case (n, _, _) => col(s"f_$n").as(s"a_$n") }): _*)
    val r = kept.select(
      (col("id").as("d2") +: col("b") +:
        fields.map { case (n, _, _) => col(s"f_$n").as(s"b_$n") }): _*)
    val score = fields.map { case (n, _, w) =>
      when(col(s"a_$n") === col(s"b_$n"), lit(w)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val accepted = l.join(r, Seq("b")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), score.as("score_micro"))
      .filter(col("score_micro") >= thresholdMicro)
    dedupClusters(accepted, "d1", "d2")
      .groupBy(col("cluster_id").as("entity_id"))
      .agg(count(lit(1)).as("n_members"))
  }

  // ---- q331: resolve prefix-blocked document entities -------------------------
  // Blocks = 8-char text prefix (discriminative at every fixture scale);
  // evidence weights follow the q311 verdict (the 16-char prefix is
  // decisive, length band and language corroborate); threshold demands
  // prefix16 PLUS at least one corroborator.
  private def q331(s: SparkSession, d: String): DataFrame =
    resolveEntities(Tables.documents(s, d), "doc_id",
      substring(col("text"), 1, 8),
      Seq(("prefix16", substring(col("text"), 1, 16), 700000L),
        ("band", expr("n_chars div 100"), 200000L),
        ("lang", col("lang"), 100000L)),
      thresholdMicro = 800000L)
      .orderBy(col("entity_id"))
  private val q331Sql =
    s"""WITH RECURSIVE base AS (
         SELECT doc_id AS id, left(text, 8) AS b,
           left(text, 16) AS f_p, n_chars // 100 AS f_b, lang AS f_l
         FROM documents),
       kb AS (SELECT b FROM base GROUP BY b HAVING count(*) <= 256),
       kept AS (SELECT base.* FROM base JOIN kb USING (b)),
       dup AS (
         SELECT x.id AS d1, y.id AS d2
         FROM kept x JOIN kept y ON x.b = y.b AND x.id < y.id
         WHERE (CASE WHEN x.f_p = y.f_p THEN 700000 ELSE 0 END
           + CASE WHEN x.f_b = y.f_b THEN 200000 ELSE 0 END
           + CASE WHEN x.f_l = y.f_l THEN 100000 ELSE 0 END) >= 800000),
       $closureCtes,
       lab AS (
         SELECT a AS id, least(a, min(b)) AS ent FROM reach GROUP BY a)
       SELECT ent AS entity_id, count(*)::BIGINT AS n_members
       FROM lab GROUP BY 1 ORDER BY entity_id"""

  private def q25(s: SparkSession, d: String): DataFrame =
    exactDedup(Tables.documents(s, d), "doc_id", "text").orderBy(col("keeper"))
  private val q25Sql =
    """SELECT min(doc_id) AS keeper, count(*) AS n_copies
       FROM documents GROUP BY md5(text) ORDER BY keeper"""

  /** The fixture documents table's LSH near-dup pair list, derived ONCE
    * per (session, dir) via [[Materialized]] — seven oracle queries
    * (q27/q60/q64/q67/q70/q120 + q166's component input) consume this
    * identical projection; in production the pair list is a persisted
    * dedup artifact, not a per-query recompute.
    */
  private[operators] def lshPairsOf(s: SparkSession, d: String): DataFrame =
    lshPairsContent(Tables.documents(s, d), "doc_id", "text")

  /** Content-keyed LSH-pair materialization shared by the Dataset routes
    * (above) AND the `graft_dedup_clusters` TVF: the key is the resolved
    * input relation's canonical plan, so the TVF's view-name argument
    * and `Tables.documents` reach the SAME handle without tying
    * correctness to view-registry residency ([[Materialized.ofContent]]).
    */
  private[operators] def lshPairsContent(input: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Materialized.ofContent(input, s"lsh_pairs:$idCol:$textCol") { t =>
      minhashLshPairs(t, idCol, textCol)
    }

  private def q26(s: SparkSession, d: String): DataFrame =
    jaccardPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("d1"), col("d2"))

  private def q27(s: SparkSession, d: String): DataFrame =
    lshPairsOf(s, d)
      .orderBy(col("d1"), col("d2"))

  private def q28(s: SparkSession, d: String): DataFrame =
    simhashPairs(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("d1"), col("d2"))
  // The simhash signature CTEs (th → votes → sh) shared by the q28 pair
  // oracle and the q434 admission oracle.
  private val simhashShCtes =
    """th AS (
         SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
             list_transform(string_split(t, ''), c -> ord(c)::BIGINT)),
           (acc, c) -> (acc * 131 + c) % 2147483647) AS h
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
       votes AS (
         SELECT doc_id, r.range AS j,
           sum(((h >> r.range) & 1) * 2 - 1) AS v
         FROM th, range(0, 32) r GROUP BY 1, 2),
       sh AS MATERIALIZED (
         SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)
           AS simhash
         FROM votes GROUP BY doc_id)"""

  private[operators] val q28Sql =
    s"""WITH $simhashShCtes
       SELECT a.doc_id AS d1, b.doc_id AS d2,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       ORDER BY d1, d2"""

  // ---- q434: streaming near-dup admission, decided in batch ---------------------
  // Index = simhashes of doc_id < 300 (4 bands x 8 bits); incoming =
  // the rest; admitted iff no indexed signature within Hamming 3. The
  // oracle is the PLAIN definition (all-pairs check) — banding is exact
  // for maxHamming < bands, so the pigeonhole route must agree on every
  // decision.
  private def q434(s: SparkSession, d: String): DataFrame = {
    val sh = simhash(Tables.documents(s, d), "doc_id", "text")
    hammingAdmit(sh.filter(col("doc_id") >= 300), "simhash",
        hammingIndex(sh.filter(col("doc_id") < 300), "doc_id", "simhash",
          bands = 4, bandBits = 8),
        bands = 4, bandBits = 8, maxHamming = 3)
      .select(col("doc_id"), col("admitted").cast("long").as("admitted"))
      .orderBy(col("doc_id"))
  }
  private[operators] val q434Sql =
    s"""WITH $simhashShCtes
       SELECT i.doc_id,
         CASE WHEN count(b.doc_id) = 0 THEN 1 ELSE 0 END::BIGINT AS admitted
       FROM sh i LEFT JOIN sh b
         ON b.doc_id < 300 AND bit_count(xor(i.simhash, b.simhash)) <= 3
       WHERE i.doc_id >= 300
       GROUP BY i.doc_id ORDER BY i.doc_id"""

  /** Cosine threshold for embedding near-dup (fixture max pair ≈ 0.51). */
  private val CosineThreshold = 0.4

  // ---- q441: streaming embedding admission, decided in batch ------------------
  // Reference = vec_id < 250 bucketed by the 16 seed centroids
  // (vec_id < 16); incoming = the rest; admitted iff no reference vector
  // at cosine >= 0.4. nprobe = K = 16, so every bucket is probed and the
  // IVF route must agree with the PLAIN all-pairs oracle on every
  // decision (the exactness half of the recall contract).
  private def q441(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val seeds = e.filter(col("vec_id") < 16)
    cosineAdmit(e.filter(col("vec_id") >= 250), "embedding",
        cosineIndex(e.filter(col("vec_id") < 250), seeds,
          "vec_id", "embedding"),
        seeds, "vec_id", "embedding", CosineThreshold, nprobe = 16)
      .select(col("vec_id"), col("admitted").cast("long").as("admitted"))
      .orderBy(col("vec_id"))
  }
  private val q441Sql =
    """SELECT i.vec_id,
         CASE WHEN count(b.vec_id) = 0 THEN 1 ELSE 0 END::BIGINT AS admitted
       FROM embeddings i LEFT JOIN embeddings b
         ON b.vec_id < 250
         AND list_sum(list_transform(range(1, len(i.embedding) + 1),
             k -> i.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(i.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
           >= 0.4
       WHERE i.vec_id >= 250
       GROUP BY i.vec_id ORDER BY i.vec_id"""

  private def q29(s: SparkSession, d: String): DataFrame =
    cosinePairs(Tables.embeddings(s, d), "vec_id", "embedding", CosineThreshold)
      .orderBy(col("v1"), col("v2"))
  private val q29Sql =
    """WITH c AS (
         SELECT a.vec_id AS v1, b.vec_id AS v2,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS cs
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
       SELECT v1, v2, round(cs, 6) + 0.0 AS cos_sim FROM c
       WHERE cs >= 0.4 ORDER BY v1, v2"""

  private def q56(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    cosinePairsIvf(e, e.filter(col("vec_id") < 16), "vec_id", "embedding",
        CosineThreshold)
      .orderBy(col("v1"), col("v2"))
  }
  /** q56's CTE chain (ends at `pairs(v1, v2, c)` — IVF-assigned same-
    * cluster cosine pairs), shared with the q133 semantic-dedup oracle.
    */
  private val ivfPairCtes =
    """cos AS (
         SELECT a.vec_id, a.embedding, s.vec_id AS seed_id,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * s.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS sc
         FROM embeddings a JOIN embeddings s ON s.vec_id < 16),
       assigned AS (
         SELECT vec_id, embedding, seed_id AS cluster FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY sc DESC, seed_id) AS arn FROM cos) t
         WHERE arn = 1),
       pairs AS (
         SELECT a.vec_id AS v1, b.vec_id AS v2,
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             k -> a.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
             AS c
         FROM assigned a JOIN assigned b
           ON a.cluster = b.cluster AND a.vec_id < b.vec_id)"""

  private val q56Sql =
    s"""WITH $ivfPairCtes
       SELECT v1, v2, round(c, 6) + 0.0 AS cos_sim FROM pairs
       WHERE c >= 0.4 ORDER BY v1, v2"""

  private def q60(s: SparkSession, d: String): DataFrame =
    dedupClusters(lshPairsOf(s, d), "d1", "d2")
      .orderBy(col("doc_id"))

  // ---- q437: the q60 clusters after a DELETE batch ----------------------------
  // Full-corpus labels, doc_id >= 300 deleted: touched clusters
  // re-resolve from their survivors' carried band keys — the oracle is
  // the clustering recomputed from scratch on the surviving documents.
  private def q437(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupClustersDelete(
      dedupClusters(lshPairsOf(s, d), "d1", "d2"),
      lshBandIndex(docs, "doc_id", "text"), docs,
      docs.filter(col("doc_id") >= 300).select(col("doc_id")),
      "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val q437Sql =
    s"""WITH RECURSIVE ${jaccardCtes(
        "(SELECT * FROM documents WHERE doc_id < 300) live")},
       $dupCte,
       $closureCtes
       SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       FROM reach GROUP BY a ORDER BY doc_id"""

  // ---- q435: the q60 clusters maintained INCREMENTALLY ------------------------
  // Base labeling on doc_id < 300, the rest appended: Δ probes the
  // carried band index for its new pairs, the label graph folds them in
  // — shares q60's oracle verbatim: the maintained clustering must
  // equal the full recompute.
  private def q435(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.filter(col("doc_id") < 300)
    val baseLabels = dedupClusters(
      minhashLshPairs(base, "doc_id", "text"), "d1", "d2")
    val newPairs = minhashLshPairsIncrement(
      lshBandIndex(base, "doc_id", "text"), docs,
      docs.filter(col("doc_id") >= 300), "doc_id", "text")
    dedupClustersIncrement(baseLabels, newPairs, "d1", "d2")
      .orderBy(col("doc_id"))
  }

  /** Duplicate-cluster SIZE distribution — the shape the one-row q120
    * summary can't show: is duplication a few giant template families or
    * a long tail of near-identical pairs? Emits (size, n_clusters) for
    * every multi-doc cluster plus the size-1 row counting documents in
    * no cluster at all, so Σ size·n_clusters = |corpus| and the
    * histogram is a complete partition of the corpus.
    *
    * Scale design: cluster sizes collapse from the (doc, cluster)
    * assignment map-side; the singleton row is two metadata-sized counts.
    */
  def clusterSizeHistogram(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nClustered = clusters.agg(count(lit(1)).as("n_clustered"))
    val singletons = nDocs.crossJoin(nClustered)
      .filter(col("n_docs") > col("n_clustered"))
      .select(lit(1L).as("size"),
        (col("n_docs") - col("n_clustered")).as("n_clusters"))
    sizes.unionAll(singletons)
  }

  // ---- q289: is duplication template families or a pair tail? -----------------
  private def q289(s: SparkSession, d: String): DataFrame =
    clusterSizeHistogram(Tables.documents(s, d), "doc_id",
        dedupClusters(lshPairsOf(s, d), "d1", "d2"))
      .orderBy(col("size"))
  private val q289Sql =
    s"""WITH RECURSIVE ${jaccardCtes()},
       $dupCte,
       $closureCtes,
       clusters AS (
         SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         FROM reach GROUP BY a),
       csz AS (
         SELECT cluster_id, count(*)::BIGINT AS size
         FROM clusters GROUP BY 1),
       hist AS (
         SELECT size, count(*)::BIGINT AS n_clusters
         FROM csz GROUP BY size),
       single AS (
         SELECT 1::BIGINT AS size,
           ((SELECT count(*) FROM documents)
             - (SELECT count(*) FROM clusters))::BIGINT AS n_clusters)
       SELECT size, n_clusters FROM hist
       UNION ALL
       SELECT size, n_clusters FROM single WHERE n_clusters > 0
       ORDER BY size"""
  // Oracle: exact-Jaccard pairs (== the LSH output, q26/q27 share it),
  // closed transitively with a recursive CTE, min reachable id per node.
  private[operators] val q60Sql =
    s"""WITH RECURSIVE ${jaccardCtes()},
       $dupCte,
       $closureCtes
       SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       FROM reach GROUP BY a ORDER BY doc_id"""

  private def q64(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dupMatrix(lshPairsOf(s, d), "d1", "d2",
        docs, "doc_id", "source")
      .orderBy(col("source_a"), col("source_b"))
  }
  // Oracle: exact-Jaccard pairs (== the LSH output at this threshold),
  // joined to each side's source, aggregated per unordered source pair.
  private val q64Sql =
    s"""WITH ${jaccardCtes()},
       $dupCte,
       d AS (SELECT doc_id, source FROM documents)
       SELECT least(a.source, b.source) AS source_a,
         greatest(a.source, b.source) AS source_b, count(*) AS n_pairs
       FROM dup JOIN d a ON d1 = a.doc_id JOIN d b ON d2 = b.doc_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // The whole dedup pipeline end-to-end: LSH pairs → transitive clusters →
  // representative-kept corpus. Emits the kept ids (with source so the
  // oracle exercises the carried payload too).
  private def q67(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dropDuplicatesTransitive(docs.select(col("doc_id"), col("source")),
        "doc_id", lshPairsOf(s, d), "d1", "d2")
      .orderBy(col("doc_id"))
  }
  private val q67Sql =
    s"""WITH RECURSIVE ${jaccardCtes()},
       $dupCte,
       $closureCtes,
       losers AS (
         SELECT a AS doc_id FROM reach GROUP BY a
         HAVING least(a, min(b)) <> a)
       SELECT doc_id, source FROM documents
       WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       ORDER BY doc_id"""

  // Quality-keeper election per near-dup cluster: keep the LONGEST member
  // (ties → lowest id), with cluster size — the curation report row.
  private def q70(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepBest(docs, "doc_id", "n_chars",
        lshPairsOf(s, d), "d1", "d2")
      .orderBy(col("cluster_id"))
  }
  private val q70Sql =
    s"""WITH RECURSIVE ${jaccardCtes()},
       $dupCte,
       $closureCtes,
       clusters AS (
         SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         FROM reach GROUP BY a),
       ranked AS (
         SELECT c.cluster_id, d.doc_id, d.n_chars,
           row_number() OVER (PARTITION BY c.cluster_id
             ORDER BY d.n_chars DESC, d.doc_id) AS rn
         FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
       SELECT cluster_id, count(*) AS n_members,
         max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
         max(CASE WHEN rn = 1 THEN n_chars END) AS keeper_score
       FROM ranked GROUP BY cluster_id ORDER BY cluster_id"""

  /** Winnowing (MOSS) fingerprints: per document, the positions + hashes
    * selected by sliding a window of `w` consecutive word-`k`-gram
    * polyhashes and keeping each window's minimum (rightmost on ties).
    * Guarantees every shared token run of length >= k + w - 1 contributes
    * at least one SHARED fingerprint between two documents — the
    * substring-level (partial-overlap) dedup primitive that whole-document
    * MinHash cannot provide.
    *
    * Scale design: selection is the [[graft.functions.WinnowFingerprints]]
    * native kernel — one compiled pass per row (monotonic deque, O(grams)),
    * zero shuffle; density ~2/(w+1) means the exploded output is a small
    * fraction of the gram stream, and overlap detection joins on 8-byte
    * (fp) keys only — the text never shuffles.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    df.select(col(idCol),
        explode(call_function("graft_winnow",
          tokens(col(textCol)), lit(k), lit(w))).as("enc"))
      .select(col(idCol),
        shiftright(col("enc"), 31).as("pos"),
        (col("enc").bitwiseAND(lit(0x7FFFFFFFL))).as("fp"))

  // ---- q78: winnowing fingerprints --------------------------------------------
  // Exploded (doc_id, pos, fp) selections over the full corpus; the oracle
  // recomputes gram polyhashes with list_reduce (q24's construction) and
  // the rightmost-min window selection via an order-encoding min key
  // (h * 2^20 + (2^20-1-pos): smallest hash wins, ties -> largest pos).
  private def q78(s: SparkSession, d: String): DataFrame =
    winnowFingerprints(Tables.documents(s, d), "doc_id", "text", k = 3, w = 4)
      .orderBy(col("doc_id"), col("pos"))
  /** Winnow selection CTEs (ends with `pick(doc_id, pos, fp)`), shared by
    * q78 (raw selections) and q80 (overlap pairs).
    */
  private val winnowCtes =
    """toks AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (
         SELECT doc_id, i,
           list_reduce(list_prepend(0::BIGINT,
               list_transform(string_split(
                 t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3], ''),
                 c -> ord(c)::BIGINT)),
             (acc, c) -> (acc * 131 + c) % 2147483647) AS h,
           len(t) - 2 AS m
         FROM toks, unnest(range(0, len(t) - 2)) AS u(i)
         WHERE len(t) >= 3),
       keys AS (
         SELECT doc_id, i, m, h * 1048576 + (1048575 - i) AS key FROM g),
       sel AS (
         SELECT doc_id, i AS j, m,
           min(key) OVER (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS k
         FROM keys),
       pick AS (
         SELECT DISTINCT doc_id,
           (1048575 - (k % 1048576))::BIGINT AS pos,
           (k // 1048576)::BIGINT AS fp
         FROM sel WHERE j <= greatest(0, m - 4))"""
  private val q78Sql =
    s"WITH $winnowCtes SELECT doc_id, pos, fp FROM pick ORDER BY doc_id, pos"

  /** Partial-overlap (substring-level) near-dup pairs: documents sharing at
    * least `minShared` winnowed fingerprints, with the shared count — the
    * MOSS report row. Catches copied PASSAGES between otherwise-different
    * documents, which whole-document MinHash misses by design.
    *
    * Scale design: after the per-row native selection, only distinct
    * (doc_id, fp) longs survive — density ~2/(w+1) of the gram stream — and
    * the self-join shuffles 8-byte fp keys, never text. Ultra-frequent
    * fingerprints (boilerplate) are the skew hazard at 100 TB: `maxDocFreq`
    * drops any fp seen in more than that many documents BEFORE the join
    * (MOSS does the same), capping every bucket's pair fan-out.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val fps0 = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val fps =
      if (maxDocFreq == Int.MaxValue) fps0
      else {
        val hot = fps0.groupBy(col("fp"))
          .agg(count(lit(1)).as("df")).filter(col("df") > maxDocFreq)
          .select(col("fp"))
        fps0.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    fps.as("a").join(fps.as("b"),
        col(s"a.fp") === col(s"b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ---- q80: winnow overlap pairs ----------------------------------------------
  private def q80(s: SparkSession, d: String): DataFrame =
    winnowOverlapPairs(Tables.documents(s, d), "doc_id", "text",
        k = 3, w = 4, minShared = 2)
      .orderBy(col("d1"), col("d2"))
  private val q80Sql =
    s"""WITH $winnowCtes,
       f AS (SELECT DISTINCT doc_id, fp FROM pick)
       SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2"""

  /** Cross-document repeated-span REMOVAL plan — the training-data
    * dedup workhorse (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): for every document, the TOKEN
    * ranges that duplicate a passage first seen in an earlier document,
    * merged into maximal spans ready to cut. Policy: the fingerprint's
    * owner is the LOWEST doc_id that selected it (first occurrence
    * wins — owners keep their text; every later holder cuts). Each
    * selected fingerprint in a non-owner doc marks its k-gram's token
    * range `[pos, pos + k - 1]`; overlapping or ADJACENT marks merge
    * (contiguous duplicated text is one span). Output: (doc_id,
    * span_start, span_end, n_tokens), token-indexed, owner docs and
    * clean docs absent.
    *
    * Winnowing's guarantee makes the recall floor concrete: two docs
    * sharing >= w + k - 1 contiguous tokens select at least one common
    * fingerprint inside the shared window, so every long-enough copied
    * passage yields a cut in the later doc. Short overlaps (< k tokens)
    * are invisible by construction — the right trade for corpus dedup.
    *
    * Scale design: after the per-row native winnow selection, only
    * (doc_id, pos, fp) longs flow; ownership is one groupBy on the
    * 8-byte fp key; the mark join shuffles fp keys, never text; the
    * span merge is a per-document window (bounded by doc length).
    * `maxDocFreq` is the skew lever: a fingerprint selected by more
    * than that many docs (site boilerplate at 100 TB) caps its
    * fan-out — note the trade: capped fps are NOT cut, so boilerplate
    * removal wants a dedicated upstream pass, not this operator.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val pick = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("doc_id"), col("pos"), col("fp")).distinct()
    val fps =
      if (maxDocFreq == Int.MaxValue) pick
      else {
        val hot = pick.select(col("doc_id"), col("fp")).distinct()
          .groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq).select(col("fp"))
        pick.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    val owner = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("owner"))
    val marks = fps.join(owner, Seq("fp"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(k - 1)).as("e"))
      .distinct()
    val W = org.apache.spark.sql.expressions.Window
    val byPos = W.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val prevMaxE = max(col("e"))
      .over(byPos.rowsBetween(W.unboundedPreceding, -1))
    val islands = marks
      .withColumn("brk",
        when(col("s") > coalesce(prevMaxE, lit(-2L)) + 1, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(W.unboundedPreceding, W.currentRow)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  // ---- q367: cross-document span dedup ------------------------------------------
  private def q367(s: SparkSession, d: String): DataFrame =
    dedupSpans(Tables.documents(s, d), "doc_id", "text", k = 3, w = 4)
      .orderBy(col("doc_id"), col("span_start"))
  private val q367Sql =
    s"""WITH $winnowCtes,
       owner AS (SELECT fp, min(doc_id) AS owner FROM pick GROUP BY fp),
       dm AS (
         SELECT DISTINCT p.doc_id, p.pos AS s, p.pos + 2 AS e
         FROM pick p JOIN owner o ON p.fp = o.fp AND p.doc_id > o.owner),
       flag AS (
         SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
               ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS brk
         FROM dm),
       isl AS (
         SELECT doc_id, s, e,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM flag)
       SELECT doc_id, min(s)::BIGINT AS span_start,
         max(e)::BIGINT AS span_end,
         (max(e) - min(s) + 1)::BIGINT AS n_tokens
       FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start"""

  /** Apply [[dedupSpans]]' cut plan and EMIT THE DEDUPED CORPUS — the
    * step that turns the span report into training data: every doc's
    * tokens outside its cut ranges, rejoined, with before/after token
    * counts (the byte-savings readout). Docs with no spans pass through
    * intact. Span semantics are [[dedupSpans]]': inclusive token
    * ranges; any span relation with (doc_id, span_start, span_end)
    * works, so a curator can edit the plan before applying it.
    *
    * Scale design: the span relation is tiny (dup passages only); the
    * cut itself is ONE expression over the doc's token array after a
    * left join on doc_id — map-side per doc, no explode, the text
    * shuffles once to meet its (bounded) span list.
    */
  def applySpanCuts(df: DataFrame, spans: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"),
        expr("cast(array() as array<struct<s: bigint, e: bigint>>)")))
      .withColumn("keep", expr("""filter(sequence(0, size(toks) - 1),
          i -> !exists(sp, r -> i >= r.s and i <= r.e))"""))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("keep"))).cast("long")
          .as("n_tokens_cut"),
        expr("array_join(transform(keep," +
          " i -> element_at(toks, cast(i + 1 as int))), ' ')")
          .as("clean_text"))
  }

  // ---- q370: the deduped corpus (q367's spans applied) -------------------------
  private def q370(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    applySpanCuts(docs, dedupSpans(docs, "doc_id", "text", k = 3, w = 4),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val q370Sql =
    s"""WITH $winnowCtes,
       owner AS (SELECT fp, min(doc_id) AS owner FROM pick GROUP BY fp),
       dm AS (
         SELECT DISTINCT p.doc_id, p.pos AS s, p.pos + 2 AS e
         FROM pick p JOIN owner o ON p.fp = o.fp AND p.doc_id > o.owner),
       flag AS (
         SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
               ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
             THEN 1 ELSE 0 END AS brk
         FROM dm),
       isl AS (
         SELECT doc_id, s, e,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM flag),
       spans AS (
         SELECT doc_id, min(s) AS ss, max(e) AS se
         FROM isl GROUP BY doc_id, island),
       sp AS (
         SELECT doc_id, list(struct_pack(s := ss, e := se)) AS sp
         FROM spans GROUP BY doc_id),
       base AS (
         SELECT d.doc_id, string_split(d.text, ' ') AS toks,
           coalesce(c.sp, []::STRUCT(s BIGINT, e BIGINT)[]) AS sp
         FROM documents d LEFT JOIN sp c USING (doc_id)),
       kept AS (
         SELECT doc_id, toks,
           list_filter(range(0, len(toks)), i ->
             len(list_filter(sp, r -> i >= r.s AND i <= r.e)) = 0) AS keep
         FROM base)
       SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         (len(toks) - len(keep))::BIGINT AS n_tokens_cut,
         array_to_string(list_transform(keep, i -> toks[(i + 1)::INT]), ' ')
           AS clean_text
       FROM kept ORDER BY doc_id"""

  /** Near-dup pairs that CROSS a train/valid/test split boundary — the
    * data-leakage audit every eval pipeline needs before trusting a
    * held-out number: a test doc with a near-duplicate in train is a
    * leaked answer, and a random split of a dedup-dirty corpus GUARANTEES
    * such pairs (near-dups land in different splits with probability
    * 1 − Σwᵢ²). Pairs come from [[minhashLshPairs]] (or any (d1, d2)
    * relation via `pairs`); splits are [[PipelineOps.splitAssign]]'s
    * hash draw — a PURE function of the id, so the labeling is zero
    * joins, computed directly on the pair columns. Output: one row per
    * unordered split pair (split_a ≤ split_b lexicographically) with the
    * pair count and the leak flag (split_a ≠ split_b).
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
      weights256: Seq[(String, Int)],
      pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs.getOrElse(minhashLshPairs(df, idCol, textCol))
      .select(col("d1"), col("d2"))
    val sa = PipelineOps.splitAssign(col("d1"), weights256)
    val sb = PipelineOps.splitAssign(col("d2"), weights256)
    p.select(least(sa, sb).as("split_a"), greatest(sa, sb).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leak", col("split_a") =!= col("split_b"))
  }

  // ---- q371: split-leakage audit over the q27 near-dup relation ----------------
  // q110's 205/25/26 split shares; the oracle reuses the exact-Jaccard
  // dup chain (the q27 discipline) and labels d1/d2 with the same md5
  // draw (cuts at 0xcd and 0xe6).
  private def q371(s: SparkSession, d: String): DataFrame =
    splitLeakage(Tables.documents(s, d), "doc_id", "text",
        Seq("train" -> 205, "val" -> 25, "test" -> 26),
        pairs = Some(lshPairsOf(s, d)))
      .orderBy(col("split_a"), col("split_b"))
  private val q371Sql =
    s"""WITH ${jaccardCtes()},
       $dupCte,
       lab AS (
         SELECT
           CASE WHEN substr(md5(d1::VARCHAR), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(d1::VARCHAR), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS s1,
           CASE WHEN substr(md5(d2::VARCHAR), 1, 2) < 'cd' THEN 'train'
                WHEN substr(md5(d2::VARCHAR), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS s2
         FROM dup)
       SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b,
         count(*)::BIGINT AS n_pairs,
         least(s1, s2) != greatest(s1, s2) AS leak
       FROM lab GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q120: corpus dedup health summary ---------------------------------------
  // The one-row executive report a curation run opens with: document
  // count, exact-duplicate volume and rate, and verified near-dup pair
  // count — each number produced by the operator that owns it
  // (exactDedup, minhashLshPairs) so the summary can never drift from
  // the detailed reports. The oracle recomputes all three independently
  // (distinct md5 + the shared Jaccard CTE chain).
  private def q120(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    exactDedup(docs, "doc_id", "text")
      .agg(count(lit(1)).as("n_content_groups"),
        sum(col("n_copies")).as("n_docs"),
        sum(col("n_copies") - 1).as("n_exact_dups"))
      .crossJoin(broadcast(lshPairsOf(s, d)
        .agg(count(lit(1)).as("n_near_dup_pairs"))))
      .select(col("n_docs"), col("n_content_groups"), col("n_exact_dups"),
        col("n_near_dup_pairs"),
        round(col("n_exact_dups").cast("double") / col("n_docs"), 6)
          .as("exact_dup_rate"))
  }
  private val q120Sql =
    s"""WITH ${jaccardCtes()},
       $dupCte,
       e AS (
         SELECT count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_content_groups
         FROM documents)
       SELECT n_docs, n_content_groups,
         (n_docs - n_content_groups)::BIGINT AS n_exact_dups,
         (SELECT count(*) FROM dup)::BIGINT AS n_near_dup_pairs,
         round((n_docs - n_content_groups)::DOUBLE / n_docs, 6)
           AS exact_dup_rate
       FROM e"""

  // ---- q133: semantic dedup (embedding-space representative keeping) -----------
  // Same IVF geometry and threshold as q56; the oracle closes q56's pair
  // list with the recursive CTE and keeps non-losers — the embedding-
  // space mirror of q67's text-space pipeline.
  private def q133(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    semanticDedup(e, e.filter(col("vec_id") < 16),
        "vec_id", "embedding", CosineThreshold)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }
  private val q133Sql =
    s"""WITH RECURSIVE $ivfPairCtes,
       dup AS (SELECT v1, v2 FROM pairs WHERE c >= $CosineThreshold),
       edges AS (SELECT v1 AS a, v2 AS b FROM dup
                 UNION SELECT v2, v1 FROM dup),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a),
       losers AS (
         SELECT a AS vec_id FROM reach GROUP BY a
         HAVING least(a, min(b)) <> a)
       SELECT vec_id FROM embeddings
       WHERE vec_id NOT IN (SELECT vec_id FROM losers)
       ORDER BY vec_id"""

  // ---- q121: incremental near-dup (corpus refresh path) ------------------------
  // Base = doc_id < 400 (the already-deduped corpus), increment = the 100
  // newest docs; output = verified near-dup pairs touching the increment.
  // Increment membership is an id suffix here, so "at least one new
  // member" reduces to d2 >= 400 in the oracle (d2 is the pair maximum).
  private def q121(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalNearDupPairs(docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400), "doc_id", "text")
      .orderBy(col("d1"), col("d2"))
  }
  private val q121Sql =
    s"""WITH ${jaccardCtes()}
       SELECT d1, d2,
         round(inter / (s1.n + s2.n - inter), 6) AS jaccard
       FROM pair JOIN sizes s1 ON d1 = s1.doc_id
                 JOIN sizes s2 ON d2 = s2.doc_id
       WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold
         AND d2 >= 400
       ORDER BY d1, d2"""

  // ---- q122: containment (asymmetric) overlap ----------------------------------
  // The corpus plus deterministic EXCERPTS (first half of each doc_id<20
  // document's tokens, id + 1000): an excerpt's trigram set is a subset
  // of its source's, so (source, excerpt) pairs surface at containment
  // 1.0 while their symmetric Jaccard sits near 0.5 — the asymmetry is
  // exercised on real rows, not just in theory.
  private def q122(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val excerpts = Tables.documents(s, d).filter(col("doc_id") < 20)
      .select((col("doc_id") + 1000).as("doc_id"),
        array_join(slice(tokens(col("text")), lit(1),
          (size(tokens(col("text"))) / 2).cast("int")), " ").as("text"))
    containmentPairs(docs.union(excerpts), "doc_id", "text", 0.8)
      .orderBy(col("d1"), col("d2"))
  }
  private val q122Sql =
    s"""WITH docs2 AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000,
           array_to_string(list_slice(string_split(text, ' '), 1,
             len(string_split(text, ' ')) // 2), ' ')
         FROM documents WHERE doc_id < 20),
       ${jaccardCtes("docs2")}
       SELECT d1, d2,
         round(inter / s1.n, 6) AS c_1_in_2,
         round(inter / s2.n, 6) AS c_2_in_1
       FROM pair JOIN sizes s1 ON d1 = s1.doc_id
                 JOIN sizes s2 ON d2 = s2.doc_id
       WHERE greatest(inter / s1.n, inter / s2.n) >= 0.8
       ORDER BY d1, d2"""

  // ---- q124: prefix-filtered exact Jaccard (the third of the trio) -------------
  // q26 is the brute ground truth, q27 the approximate scale path; q124 is
  // the EXACT scale path — all three share one oracle, so the equivalence
  // is checked by the driver every round, not just claimed.
  private def q124(s: SparkSession, d: String): DataFrame =
    jaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("d1"), col("d2"))

  // ---- q123: edit-distance similarity join (record linkage) --------------------
  // Customer names at levenshtein <= 1 — zero-padded sequential keys, the
  // dense worst case (19.5k true pairs among 1500 names at sf0.01);
  // PassJoin blocking + exact verify must reproduce the brute-force
  // oracle exactly, including the corpus-prefix strip.
  private def q123(s: SparkSession, d: String): DataFrame =
    editDistancePairs(Tables.customer(s, d), "c_custkey", "c_name",
        maxDist = 1)
      .orderBy(col("d1"), col("d2"))
  private val q123Sql =
    """SELECT a.c_custkey AS d1, b.c_custkey AS d2,
         levenshtein(a.c_name, b.c_name)::BIGINT AS dist
       FROM customer a JOIN customer b
         ON a.c_custkey < b.c_custkey
        AND abs(length(a.c_name) - length(b.c_name)) <= 1
       WHERE levenshtein(a.c_name, b.c_name) <= 1
       ORDER BY d1, d2"""

  /** Corpus-level boilerplate-span removal (the C4 "repeated line" rule,
    * tile form): segment each document into fixed `tileWords`-word tiles,
    * count every tile's occurrences ACROSS the corpus, and rewrite each
    * document keeping only tiles seen at most `maxOccurrences` times —
    * headers, footers, navigation chrome, and license blocks repeat
    * verbatim across pages and vanish; unique prose survives. This is the
    * sub-document complement of whole-doc dedup: it edits documents
    * instead of dropping them.
    *
    * Scale design: the ONLY exchange is the tile-hash count (8-byte
    * xxhash64 keys, map-side partials). The hot set (tiles over the
    * threshold) is by definition small — boilerplate is few DISTINCT
    * strings repeated many times — and ships to executors inside the
    * codegen'd [[graft.functions.KeepCoolTiles]] kernel, so the rewrite
    * is map-side: each document re-derives its tiles, probes a HASH SET
    * (O(1) per tile — the array_contains form this replaced scanned the
    * hot array linearly per probe), and reassembles in place. The corpus
    * is never shuffled, not even once (an explode → anti-join → groupBy
    * reassembly would shuffle it twice). If the hot set ever outgrows
    * task-binary shipping, fall back to the explode + anti-join form.
    *
    * All input columns pass through unchanged; `n_tiles`, `n_kept`, and
    * `clean_text` are appended (so the rewrite composes into pipelines
    * without a re-join).
    */
  def removeBoilerplateTiles(df: DataFrame, idCol: String, textCol: String,
      tileWords: Int, maxOccurrences: Long): DataFrame = {
    require(tileWords > 0, "tileWords must be positive")
    require(maxOccurrences > 0, "maxOccurrences must be positive")
    val w = tileWords
    def tilesOf(text: Column): Column = {
      val toks = tokens(text)
      val nTiles = greatest(ceil(size(toks) / lit(w.toDouble)).cast("int"),
        lit(1))
      transform(sequence(lit(0), nTiles - 1),
        i => concat_ws(" ", slice(toks, i * w + 1, lit(w))))
    }
    // Hot hashes to the driver: small by definition (boilerplate is few
    // DISTINCT strings repeated many times) — the same metadata-sized
    // collect class as editDistancePairs' corpus min/max.
    val hotHashes: Seq[Long] = df
      .select(explode(tilesOf(col(textCol))).as("tile"))
      .groupBy(xxhash64(col("tile")).as("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxOccurrences)
      .select(col("h"))
      .collect().map(_.getLong(0)).toSeq
    val tilesArr = tilesOf(col(textCol))
    val kept = graft.functions.TextFunctions.keepCoolTiles(tilesArr, hotHashes)
    val passThrough = df.columns.map(col).toSeq
    df.select(passThrough ++ Seq(
        size(tilesArr).cast("long").as("n_tiles"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", kept).as("clean_text")): _*)
  }

  // ---- q140: boilerplate tile removal ------------------------------------------
  // Strict threshold (keep only globally-unique 8-word tiles): the
  // fixture's exact-duplicate documents shed their shared tiles from both
  // copies, unique prose is untouched.
  private def q140(s: SparkSession, d: String): DataFrame =
    removeBoilerplateTiles(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "doc_id", "text", tileWords = 8, maxOccurrences = 1)
      .select(col("doc_id"), col("n_tiles"), col("n_kept"), col("clean_text"))
      .orderBy(col("doc_id"))
  private val q140Sql =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       tiles AS (
         SELECT doc_id, i,
           array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') AS tile
         FROM t, unnest(range(0,
           greatest(ceil(len(toks) / 8.0)::BIGINT, 1))) AS u(i)),
       counts AS (SELECT tile, count(*) AS n FROM tiles GROUP BY 1),
       flags AS (
         SELECT doc_id, i, tile, n <= 1 AS keep
         FROM tiles JOIN counts USING (tile))
       SELECT doc_id, count(*)::BIGINT AS n_tiles,
         sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         coalesce(string_agg(CASE WHEN keep THEN tile END, ' ' ORDER BY i),
           '') AS clean_text
       FROM flags GROUP BY doc_id ORDER BY doc_id"""

  /** LSH acceptance report: the dedup analog of Similarity.recallReport —
    * compare the MinHash-LSH pair list against the exact Jaccard join and
    * report true / found / missed / spurious counts in one row. Run it on
    * a sample before a production dedup to validate banding parameters
    * (bands × rows set the S-curve; pairs barely over the threshold are
    * the ones a weak configuration drops). `n_extra` is zero by
    * construction — the LSH verify stage admits only true pairs — so a
    * nonzero value is a regression alarm, not a tuning signal.
    *
    * Scale: both inputs are pair lists (output-sized, ≈ duplicate count,
    * orders of magnitude smaller than the corpus); the comparison is one
    * full-outer join on the pair key.
    */
  def lshMissReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exact = jaccardPairsPrefix(df, idCol, textCol)
      .select(col("d1"), col("d2"), lit(1).as("t"))
    val lsh = minhashLshPairs(df, idCol, textCol)
      .select(col("d1"), col("d2"), lit(1).as("f"))
    exact.join(lsh, Seq("d1", "d2"), "full_outer")
      .agg(count(col("t")).as("n_true"), count(col("f")).as("n_lsh"),
        count(when(col("t").isNotNull && col("f").isNull, 1)).as("n_missed"),
        count(when(col("f").isNotNull && col("t").isNull, 1)).as("n_extra"))
  }

  /** LSH banding-parameter planner: for each candidate (bands, rows)
    * layout and each representative Jaccard similarity, the probability
    * that a pair at that similarity becomes an LSH candidate —
    * 1 − (1 − s^r)^b, the S-curve every MinHash deployment is tuned on
    * BEFORE touching data (where q142 measures the deployed layout
    * after the fact). Computed in exact fixed-point micro arithmetic:
    * powers are the iterated floor recurrence x ← (x·s_micro) div 10⁶,
    * a convention both engines replay digit-identically (pow() would be
    * libm-dependent); the curve's decisions are threshold comparisons,
    * which the ≤ b+r flooring steps cannot flip at the table's
    * resolution. Emits candidate_micro plus the at/below-threshold
    * classification a tuner reads off.
    *
    * Driver-side closed form by design — this is a |bs·rs·sims|-cell
    * PLANNER table (no corpus involved), broadcast next to the job it
    * configures.
    */
  def lshBandingCurve(s: org.apache.spark.sql.SparkSession,
      layouts: Seq[(Int, Int)], simMicros: Seq[Long]): DataFrame = {
    require(layouts.nonEmpty && simMicros.nonEmpty)
    def powFloor(base: Long, n: Int): Long = {
      var x = 1000000L
      var i = 0
      while (i < n) { x = x * base / 1000000L; i += 1 }
      x
    }
    import s.implicits._
    (for {
      (b, r) <- layouts
      sm <- simMicros
    } yield {
      val pBand = powFloor(sm, r)
      val missAll = powFloor(1000000L - pBand, b)
      (b.toLong, r.toLong, sm, pBand, 1000000L - missAll)
    }).toDF("bands", "rows_per_band", "sim_micro", "band_hit_micro",
      "candidate_micro")
  }

  // ---- q301: which (b, r) layout catches 0.8-similar pairs but not 0.5? -------
  private def q301(s: SparkSession, d: String): DataFrame =
    lshBandingCurve(s,
        Seq((16, 1), (8, 2), (4, 4), (2, 8)),
        Seq(300000L, 500000L, 700000L, 800000L, 900000L))
      .orderBy(col("bands"), col("rows_per_band"), col("sim_micro"))
  private val q301Sql = {
    // The identical floor recurrence, unrolled as nested SQL arithmetic.
    def pow(expr0: String, base: String, n: Int): String =
      (1 to n).foldLeft(expr0)((e, _) => s"(($e * $base) // 1000000)")
    val rows = for {
      (b, r) <- Seq((16, 1), (8, 2), (4, 4), (2, 8))
      sm <- Seq(300000L, 500000L, 700000L, 800000L, 900000L)
    } yield {
      val pBand = pow("1000000::BIGINT", s"($sm::BIGINT)", r)
      val missAll = pow("1000000::BIGINT", s"(1000000::BIGINT - $pBand)", b)
      s"""SELECT $b::BIGINT AS bands, $r::BIGINT AS rows_per_band,
        $sm::BIGINT AS sim_micro, ($pBand)::BIGINT AS band_hit_micro,
        (1000000 - $missAll)::BIGINT AS candidate_micro"""
    }
    s"""SELECT * FROM (${rows.mkString("\nUNION ALL\n")})
       ORDER BY bands, rows_per_band, sim_micro"""
  }

  // ---- q142: LSH acceptance report ---------------------------------------------
  // At this fixture the duplicate pairs sit far above the banding
  // S-curve's soft region, so the hashable expectation is exact parity;
  // near-threshold corpora are what the report exists to measure.
  private def q142(s: SparkSession, d: String): DataFrame =
    lshMissReport(Tables.documents(s, d), "doc_id", "text")
  private val q142Sql =
    s"""WITH ${jaccardCtes()},
       truth AS (
         SELECT d1, d2 FROM pair
         JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE inter / (s1.n + s2.n - inter) >= $JaccardThreshold)
       SELECT count(*)::BIGINT AS n_true, count(*)::BIGINT AS n_lsh,
         0::BIGINT AS n_missed, 0::BIGINT AS n_extra
       FROM truth"""

  /** Prefix-blocked Jaro–Winkler fuzzy pairs over a name column — the
    * Fellegi–Sunter comparator pass for SHORT IDENTITY STRINGS (names,
    * brands, addresses), where a shared prefix outweighs a mid-string
    * typo: distinct names only, equi-join on the first `blockChars`
    * characters (never all-pairs — JW ≥ ~0.8 forces a long common
    * prefix, so first-char blocking has near-perfect recall by the
    * metric's own construction), scored by the native codegen'd
    * [[graft.functions.JaroWinklerSim]] kernel and reported in micros
    * (floor(jw·10⁶ + 0.5), bit-identical to DuckDB's
    * `jaro_winkler_similarity`).
    *
    * Scale: the name DOMAIN (not the corpus) enters the self-join —
    * dimension-sized after the distinct — and the block key is a
    * fixed-width shuffle key; per-block work is |block|², the standard
    * blocking trade the `q226_blocking_quality` audit measures.
    */
  def jaroWinklerPairs(df: DataFrame, nameCol: Column, blockChars: Int,
      minMicro: Long): DataFrame = {
    require(blockChars >= 1, "jaroWinklerPairs needs blockChars >= 1")
    val names = df.select(nameCol.as("n")).distinct()
      .withColumn("blk", substring(col("n"), 1, blockChars))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.n") < col("b.n"))
      .select(col("a.n").as("n1"), col("b.n").as("n2"),
        floor(jaroWinkler(col("a.n"), col("b.n")) * lit(1e6) + lit(0.5))
          .cast("long").as("jw_micro"))
      .filter(col("jw_micro") >= minMicro)
      .orderBy(col("jw_micro").desc, col("n1"), col("n2"))
  }

  // ---- q386: which part names are one typo apart? -----------------------------
  private def q386(s: SparkSession, d: String): DataFrame =
    jaroWinklerPairs(Tables.part(s, d), col("p_name"), blockChars = 1,
      minMicro = 820000L)
  private val q386Sql =
    """WITH n AS (SELECT DISTINCT p_name AS nm FROM part),
      p AS (
        SELECT a.nm AS n1, b.nm AS n2,
          floor(jaro_winkler_similarity(a.nm, b.nm)*1e6 + 0.5)::BIGINT
            AS jw_micro
        FROM n a JOIN n b
          ON substr(a.nm, 1, 1) = substr(b.nm, 1, 1) AND a.nm < b.nm)
      SELECT n1, n2, jw_micro FROM p WHERE jw_micro >= 820000
      ORDER BY jw_micro DESC, n1, n2"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q386_jw_pairs", q386, Some(q386Sql)),
    QueryDef("q25_exact_dedup", q25, Some(q25Sql)),
    QueryDef("q226_blocking_quality", q226, Some(q226Sql)),
    QueryDef("q254_sorted_neighborhood", q254, Some(q254Sql)),
    QueryDef("q256_dedup_medoids", q256, Some(q256Sql)),
    QueryDef("q257_threshold_sweep", q257, Some(q257Sql)),
    QueryDef("q26_ngram_jaccard", q26, Some(exactJaccardSql)),
    QueryDef("q27_minhash_lsh", q27, Some(exactJaccardSql), headline = true),
    QueryDef("q28_simhash", q28, Some(q28Sql)),
    QueryDef("q434_hamming_admission", q434, Some(q434Sql)),
    QueryDef("q441_cosine_admission", q441, Some(q441Sql)),
    QueryDef("q29_embedding_neardup", q29, Some(q29Sql)),
    QueryDef("q56_embedding_neardup_ivf", q56, Some(q56Sql)),
    QueryDef("q60_dedup_clusters", q60, Some(q60Sql)),
    QueryDef("q435_dedup_increment", q435, Some(q60Sql)),
    QueryDef("q437_dedup_delete", q437, Some(q437Sql)),
    QueryDef("q289_cluster_histogram", q289, Some(q289Sql)),
    QueryDef("q64_dup_matrix", q64, Some(q64Sql)),
    QueryDef("q67_dedup_keep", q67, Some(q67Sql)),
    QueryDef("q70_dedup_keep_best", q70, Some(q70Sql)),
    QueryDef("q78_winnow_fingerprints", q78, Some(q78Sql)),
    QueryDef("q367_dedup_spans", q367, Some(q367Sql)),
    QueryDef("q370_deduped_corpus", q370, Some(q370Sql)),
    QueryDef("q371_split_leakage", q371, Some(q371Sql)),
    QueryDef("q80_winnow_overlap", q80, Some(q80Sql)),
    QueryDef("q120_dedup_summary", q120, Some(q120Sql)),
    QueryDef("q121_incremental_dedup", q121, Some(q121Sql)),
    QueryDef("q122_containment", q122, Some(q122Sql)),
    QueryDef("q123_editdist_join", q123, Some(q123Sql), headline = true),
    QueryDef("q124_jaccard_prefix", q124, Some(exactJaccardSql), headline = true),
    QueryDef("q133_semantic_dedup", q133, Some(q133Sql)),
    QueryDef("q140_boilerplate_tiles", q140, Some(q140Sql)),
    QueryDef("q142_lsh_miss_report", q142, Some(q142Sql)),
    QueryDef("q301_lsh_curve", q301, Some(q301Sql)),
    QueryDef("q311_linkage_weights", q311, Some(q311Sql)),
    QueryDef("q321_dup_evidence", q321, Some(q321Sql)),
    QueryDef("q331_resolve_entities", q331, Some(q331Sql)))
}
