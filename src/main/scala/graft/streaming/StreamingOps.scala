package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.types._

/** Streaming analytics over the record stream (SURVEY.md §2.5 streaming row,
  * M5): payload decode, event-time windows with watermarks, streaming dedup.
  *
  * All of these operate on an unbounded `Dataset[Record]` from
  * `Consumer.source` and are engine-native (Structured Streaming state
  * store, watermark eviction) — nothing here materializes the stream.
  */
object StreamingOps {

  /** Payload schema of the replay source's JSON envelope. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StructType(Seq(StructField("k", IntegerType))))))

  /** Attach per-batch data-quality metrics to a decoded stream via
    * `Dataset.observe`: record count, null-payload count, and value sum
    * are computed INSIDE the running query (no second pass, no action)
    * and surface on every `StreamingQueryProgress.observedMetrics` under
    * `name` — the metrics side of the monitoring story that
    * [[Consumer.lagReport]] covers for offsets. Alert wiring reads the
    * progress events; the stream itself is returned unchanged.
    */
  def observed(decoded: DataFrame, name: String = "graft"): DataFrame =
    decoded.observe(name,
      count(lit(1)).as("n_records"),
      count(when(col("event_id").isNull, 1)).as("n_null_ids"),
      sum(col("value")).as("value_sum"))

  /** Decode opaque payload bytes into typed event columns (the reference
    * delegated this to user code — Main.scala:22 `utf8String`; here it is
    * `cast(string)` + `from_json`, SURVEY.md §1.4).
    */
  def decode(records: Dataset[Record]): DataFrame =
    records
      .withColumn("event", from_json(col("data").cast("string"), payloadSchema))
      // subSequenceNumber rides along: under KPL aggregation it is the
      // only tie-breaker within a shared sequence number (Record.scala's
      // ordering contract) — dropping it would make downstream
      // order/dedup by (shardId, sequenceNumber) ambiguous.
      .select(col("shardId"), col("sequenceNumber"), col("subSequenceNumber"),
        col("approximateArrivalTimestamp").as("arrival"),
        col("event.*"))
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** Tumbling event-time counts with late-data eviction. */
  def tumblingCounts(decoded: DataFrame, window_ : String, watermark: String): DataFrame =
    decoded
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))

  /** Session windows per user with the given inactivity gap. */
  def sessionCounts(decoded: DataFrame, gap: String, watermark: String): DataFrame =
    decoded
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))

  /** Streaming exact dedup bounded by the watermark — the engine-native
    * form of exact dedup for unbounded input (state is evicted once the
    * watermark passes, so state size tracks the dedup horizon, not the
    * stream length).
    */
  def dedupWithinWatermark(decoded: DataFrame, watermark: String): DataFrame =
    decoded.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Data circuit breaker: run a decoded stream into a sink, but FAIL the
    * query the moment any micro-batch violates a data-quality rule — the
    * streaming form of the [[graft.operators.Profile.expectRowRules]]
    * gate, wired to the engine's kill switch (a thrown foreachBatch error
    * stops the query; committed offsets make the restart resume exactly
    * at the poisoned batch, so nothing bad was ever published and nothing
    * good is lost). `rules` map rule names to VIOLATION predicates.
    *
    * The check is one aggregation pass over the in-memory batch (all
    * rules at once) before the write — per-trigger cost is a scan of the
    * batch, not of any table.
    */
  def gatedWrite(decoded: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)],
      checkpointLocation: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    decoded.writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bad = graft.operators.Profile.expectRowRules(batch, rules)
          .filter(col("n_violations") > 0)
          .select(col("rule"), col("n_violations"))
          .collect()
        if (bad.nonEmpty)
          throw new IllegalStateException(
            s"data gate tripped in batch $batchId: " +
              bad.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))
        write(batch, batchId)
        ()
      }
      .start()

  /** Streaming NEAR-duplicate filter: documents whose SimHash signature
    * was already seen inside the watermark horizon are dropped — the
    * streaming counterpart of the batch signature dedup, for ingest
    * pipelines that must reject re-crawled boilerplate before it lands.
    * Signature-exact by design (honest labeling: docs must collide on
    * the full 32-bit simhash — near-identical text; the hamming≤3 band
    * join of the batch path has no bounded-state streaming equivalent,
    * so this is the deliberately-conservative streaming tier, with the
    * batch pass as the periodic full-strength sweep).
    *
    * State is keyed by the 4-byte signature and evicted at the
    * watermark, so memory is bounded by the dedup horizon, not history.
    */
  def dedupNearBySignature(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String): DataFrame =
    docs.withColumn("sig",
        graft.functions.TextFunctions.simhashSig(
          graft.functions.TextFunctions.tokens(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("sig")

  /** Stream-static enrichment join: every micro-batch of the stream is
    * joined against a static dimension. The dimension is broadcast — on a
    * cluster each executor holds one copy and the stream never shuffles,
    * which is the only join shape that keeps per-trigger latency flat as
    * the stream scales. No watermark needed: the static side never changes
    * within a query run (restart the query to pick up a new snapshot).
    */
  def enrichWithStatic(decoded: DataFrame, dim: DataFrame,
      joinKey: String): DataFrame =
    decoded.join(broadcast(dim), Seq(joinKey), "left")

  /** Stream-stream interval join with watermarks (SURVEY.md §2.5 joins row):
    * each purchase joined to the same user's clicks in the hour before it.
    * Both sides are watermarked so the join state is bounded — Spark evicts
    * buffered rows once the watermark passes the interval bound, which is
    * what keeps state finite on an unbounded stream (the 100 TB property).
    */
  def clickAttribution(decoded: DataFrame, watermark: String): DataFrame = {
    val purchases = decoded
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val clicks = decoded
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("click_id"), col("c_ts"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase emits, with
    * click columns null when no click preceded it in the window — the
    * "unattributed conversion" feed the inner form cannot produce.
    *
    * Outer semantics under watermarks: a match emits as soon as both rows
    * meet; an UNMATCHED purchase emits (null-padded) only once the
    * watermark passes its join window — before that the engine cannot
    * prove no matching click is still in flight. Rows still inside the
    * horizon when a bounded drain shuts down stay unemitted: not-yet-
    * provably-unmatched is the correct streaming answer, and the spec
    * pins exactly this (streamed unmatched ⊆ batch unmatched; matched
    * set identical to the batch join).
    */
  def clickAttributionOuter(decoded: DataFrame, watermark: String): DataFrame = {
    val purchases = decoded
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val clicks = decoded
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"),
        "left_outer")
      .select(col("purchase_id"), col("user_id"), col("click_id"), col("c_ts"))
  }

  /** A closed user session emitted by [[sessionizeStateful]]. Times are
    * epoch MICROseconds (java.sql.Timestamp construction would truncate to
    * millis; convert with timestamp_micros when a timestamp is wanted).
    */
  final case class UserSession(
      user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, value_sum: Double)

  /** Internal per-user state of [[sessionizeStateful]] (public: the state
    * encoder's generated code must reach the accessors).
    */
  final case class SessionState(
      startUs: Long, lastUs: Long, n: Long, valueSum: Double)

  /** Custom keyed state: per-user sessionization with an inactivity gap,
    * via `flatMapGroupsWithState` + event-time timeout — the general
    * stateful-operator surface the reference left entirely to user code on
    * the stream (SURVEY.md §2.5 streaming row). A session closes (and is
    * emitted) when the watermark passes its last event + gap; state is one
    * small record per active user, evicted on timeout, so state size tracks
    * ACTIVE users, not stream length — the property that matters at 100 TB.
    *
    * Semantics match the batch `session_window(ts, gap)` aggregation, which
    * is what the spec asserts.
    */
  def sessionizeStateful(decoded: DataFrame, gapMinutes: Int): Dataset[UserSession] = {
    import decoded.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    decoded
      .withWatermark("ts", s"$gapMinutes minutes")
      // ts stays in the projection so the watermark column reaches the
      // stateful operator (event-time timeout requires it downstream).
      .select(col("user_id").as[Long], col("ts_us").as[Long],
        col("value").as[Double], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, events, state: GroupState[SessionState]) =>
          def toSession(s: SessionState) = UserSession(
            user, s.startUs, s.lastUs, s.n, s.valueSum)
          if (state.hasTimedOut) {
            val out = state.getOption.map(toSession).toSeq
            state.remove()
            out.iterator
          } else {
            // Fold this batch's events (sorted — micro-batches are unordered
            // within a group) into open sessions, emitting any that closed.
            val sorted = events.map(e => (e._1, e._2, e._3)).toSeq
              .sortBy(e => (e._2, e._3))
            var open = state.getOption
            val closed = Seq.newBuilder[UserSession]
            sorted.foreach { case (_, tsUs, v) =>
              open match {
                // strict <: session_window merges while next < last + gap.
                // A cross-batch out-of-order event (above the watermark) can
                // precede the open session's start — extend startUs backwards
                // so the emitted bounds match the batch session_window form.
                // Events BELOW the watermark never reach here (engine drops
                // them before the stateful operator) — documented divergence
                // from an unbounded-state batch recomputation.
                case Some(s) if tsUs - s.lastUs < gapUs =>
                  open = Some(SessionState(math.min(s.startUs, tsUs),
                    math.max(s.lastUs, tsUs), s.n + 1, s.valueSum + v))
                case Some(s) =>
                  closed += toSession(s)
                  open = Some(SessionState(tsUs, tsUs, 1, v))
                case None =>
                  open = Some(SessionState(tsUs, tsUs, 1, v))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Close via watermark: timeout fires once event time passes
              // last activity + gap.
              state.setTimeoutTimestamp((s.lastUs + gapUs) / 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** One shard's Misra-Gries sketch state: bounded candidate counts, the
    * cumulative subtracted error, and how many batches it has absorbed.
    */
  final case class HHState(entries: Map[String, Long], subtracted: Long,
      batches: Long)

  /** One candidate emission: after `batches` micro-batches, `key`'s true
    * count within this shard lies in [est_min, est_max].
    */
  final case class HHCandidate(shard: Int, batches: Long, key: String,
      est_min: Long, est_max: Long)

  /** Streaming heavy hitters: a persistent Misra-Gries sketch maintained
    * across micro-batches with `transformWithState` — the streaming form
    * of the batch q113 aggregator (same guarantee: any key with true
    * frequency > N/(capacity+1) is always among the candidates; true
    * counts bracketed by [est_min, est_max]). Each batch re-emits every
    * shard's current candidates stamped with the batch index — the live
    * "top keys so far" dashboard feed.
    *
    * Scale shape: state is SHARDED by key-hash into `shards` parallel
    * sketches (a global single-key state would funnel the stream through
    * one task). Keys route consistently, so each shard's sketch carries
    * the full MG guarantee over ITS substream, and a globally heavy key
    * is at least as heavy in its own shard — the shard-candidate union
    * is a superset of the global heavy hitters. The consumer merges
    * shards×capacity rows (tiny). Per-batch memory per shard is the
    * batch's distinct-key count in that shard (folded from an iterator,
    * never materialized as rows); persistent state is capacity-bounded.
    *
    * Chaining note: a per-key streaming pre-aggregation BEFORE the
    * stateful stage would collapse input to distinct keys per batch, but
    * Spark disallows an update-mode aggregate upstream of another
    * stateful operator — the shard fold inside the processor is the
    * supported form. Requires the RocksDB state store provider (as
    * [[sessionizeTws]]).
    */
  def heavyHittersStream(keyed: DataFrame, keyCol: String, capacity: Int,
      shards: Int = 8): Dataset[HHCandidate] = {
    require(capacity > 0 && shards > 0, "capacity and shards must be positive")
    import keyed.sparkSession.implicits._

    class HHProcessor extends StatefulProcessor[Int, (Int, String), HHCandidate] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[HHState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[HHState](
          "hh", Encoders.product[HHState], TTLConfig.NONE)

      override def handleInputRows(
          shard: Int,
          rows: Iterator[(Int, String)],
          timerValues: TimerValues): Iterator[HHCandidate] = {
        val prev = Option(state.get()).getOrElse(HHState(Map.empty, 0L, 0L))
        val m = scala.collection.mutable.Map.empty[String, Long]
        prev.entries.foreach { case (k, v) => m(k) = v }
        rows.foreach { case (_, k) => m(k) = m.getOrElse(k, 0L) + 1L }
        // Mergeable MG reduction (Agarwal et al., "Mergeable Summaries",
        // public literature): subtract the (capacity+1)-th largest count
        // from every entry and drop the non-positive — at most `capacity`
        // survive, and the cumulative subtraction bounds every key's
        // undercount (so true <= est_min + subtracted, incl. absent keys).
        var subtracted = prev.subtracted
        if (m.size > capacity) {
          val cut = m.values.toIndexedSeq.sorted.apply(m.size - capacity - 1)
          subtracted += cut
          m.filterInPlace((_, v) => v > cut)
          m.mapValuesInPlace((_, v) => v - cut)
        }
        val next = HHState(m.toMap, subtracted, prev.batches + 1)
        state.update(next)
        next.entries.toSeq.sortBy { case (k, v) => (-v, k) }.iterator
          .map { case (k, v) =>
            HHCandidate(shard, next.batches, k, v, v + next.subtracted)
          }
      }
    }

    keyed
      .select(pmod(xxhash64(col(keyCol)), lit(shards)).cast("int").as("shard"),
        col(keyCol).cast("string").as("k"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .transformWithState(new HHProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Persistent per-bin state of the streaming quantile sketch. */
  final case class BinState(n: Long, batches: Long)

  /** One emitted bin update: the bin's NEW cumulative count (latest per
    * (e, sub) IS the live sketch — an idempotent upsert feed). */
  final case class BinUpdate(e: Int, sub: Int, rep: Long, n: Long,
      batches: Long)

  /** STREAMING quantile sketch: the [[graft.operators.Sketches.ddBins]]
    * log-binned histogram maintained as transformWithState state — one
    * persistent counter per (octave, sub-bin) key, additive folds per
    * micro-batch, emissions only for bins a batch touched. The latest
    * emission per bin is the live sketch; any consumer reads a quantile
    * from it with the q248 cumulative rule at whatever moment it likes —
    * the streaming answer to "what is P99 of this value right now"
    * without ever storing the stream. Mirrors [[heavyHittersStream]]'s
    * architecture: bounded keys (≤ 63·2^subBits bins — the natural
    * shards), RocksDB-backed state, checkpoint-resumable, at-least-once
    * emissions absorbed by upsert-by-bin idempotence.
    */
  def quantileSketchStream(values: DataFrame, valueCol: String,
      subBits: Int): Dataset[BinUpdate] = {
    require(subBits >= 1 && subBits <= 8, "subBits in [1, 8]")
    val s2 = 1L << subBits
    import values.sparkSession.implicits._

    class BinProcessor
        extends StatefulProcessor[(Int, Int), (Int, Int, Long), BinUpdate] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[BinState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[BinState](
          "bin", Encoders.product[BinState], TTLConfig.NONE)

      override def handleInputRows(
          key: (Int, Int),
          rows: Iterator[(Int, Int, Long)],
          timerValues: TimerValues): Iterator[BinUpdate] = {
        val prev = Option(state.get()).getOrElse(BinState(0L, 0L))
        var add = 0L
        rows.foreach(r => add += r._3)
        val next = BinState(prev.n + add, prev.batches + 1)
        state.update(next)
        val (e, sub) = key
        val rep = ((s2 + sub) * (1L << e)) / s2
        Iterator.single(BinUpdate(e, sub, rep, next.n, next.batches))
      }
    }

    values.select(col(valueCol).cast("long").as("v"))
      .filter(col("v") >= 1L)
      .select(expr("cast(length(bin(v)) - 1 as int)").as("e"),
        expr(s"""cast((v * ${s2}L)
          div shiftleft(1L, length(bin(v)) - 1) - ${s2}L as int)""").as("sub"),
        lit(1L).as("c"))
      .as[(Int, Int, Long)]
      .groupByKey(r => (r._1, r._2))
      .transformWithState(new BinProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Persistent per-key state of the streaming current view: the winning
    * (ord, tie) version and its payload. */
  final case class KvState(ord: Long, tie: Long, payload: String)

  /** One change-feed emission: the key's NEW current version. */
  final case class KvUpdate(key: Long, ord: Long, tie: Long, payload: String)

  /** Streaming materialized-view maintenance: the streaming form of
    * `Profile.latestPerKey` / `cdcApply`. Each key's current version
    * ((ord, tie) max, payload) lives in the state store; a batch's rows
    * fold into it and the operator emits ONLY keys whose current version
    * changed — a change feed downstream sinks upsert by key. Out-of-order
    * and replayed rows are absorbed silently (no emission), which makes
    * the feed idempotent under at-least-once delivery.
    *
    * Scale shape: state is one row per key, partitioned by key hash
    * across tasks; a batch's input folds per key from an iterator (the
    * map-side equivalent of latestPerKey's partial max(struct)), so
    * per-batch work is O(batch) and per-batch emissions are bounded by
    * the batch's distinct keys. Requires the RocksDB state store
    * provider (as [[sessionizeTws]]) and restart-resumes from the
    * checkpoint — the view is durable, not per-run.
    */
  def latestPerKeyStream(changes: DataFrame, keyCol: String, ordCol: String,
      tieCol: String, payloadCol: String): Dataset[KvUpdate] = {
    import changes.sparkSession.implicits._

    class LatestProcessor
        extends StatefulProcessor[Long, (Long, Long, Long, String), KvUpdate] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[KvState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[KvState](
          "latest", Encoders.product[KvState], TTLConfig.NONE)

      override def handleInputRows(
          key: Long,
          rows: Iterator[(Long, Long, Long, String)],
          timerValues: TimerValues): Iterator[KvUpdate] = {
        val prev = Option(state.get())
        val best = rows.foldLeft(prev) { (acc, r) =>
          val cand = KvState(r._2, r._3, r._4)
          acc match {
            case Some(s)
              if s.ord > cand.ord || (s.ord == cand.ord && s.tie >= cand.tie)
              => acc
            case _ => Some(cand)
          }
        }
        best match {
          case Some(b) if !prev.contains(b) =>
            state.update(b)
            Iterator.single(KvUpdate(key, b.ord, b.tie, b.payload))
          case _ => Iterator.empty
        }
      }
    }

    changes
      .select(col(keyCol).cast("long"), col(ordCol).cast("long"),
        col(tieCol).cast("long"), col(payloadCol).cast("string"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new LatestProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Persistent per-register HLL state. */
  final case class HllRegState(mj: Long, batches: Long)

  /** One streaming HLL register emission: the register's CURRENT max-ρ. */
  final case class HllRegUpdate(j: Long, mj: Long, batches: Long)

  /** Streaming HyperLogLog registers: the live distinct-count sketch of
    * everything that ever arrived, in m registers of transformWithState
    * state — the streaming form of [[graft.operators.Sketches.hllRegisters]],
    * sharing its EXACT per-row hash derivation (`hllObserved`), so the
    * latest emission per register is bit-identical to the batch registers
    * of the union of all batches (spec-pinned), and a batch
    * `hllEstimate` read off the live registers is the batch estimate.
    * Registers are max-mergeable, so state never grows beyond m rows —
    * the sketch answers "how many distinct users ever" with O(m) state
    * where exact streaming distinct is unbounded.
    *
    * Scale shape: each micro-batch's rows collapse to ≤ m register
    * partials map-side before touching state (groupByKey on j); state is
    * m rows total, partitioned by register hash. RocksDB-backed,
    * checkpoint-resumable.
    */
  def hllStream(records: DataFrame, keyCol: String, m: Int): Dataset[HllRegUpdate] = {
    import records.sparkSession.implicits._

    class RegProcessor
        extends StatefulProcessor[Long, (Long, Long), HllRegUpdate] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[HllRegState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[HllRegState](
          "reg", Encoders.product[HllRegState], TTLConfig.NONE)

      override def handleInputRows(
          key: Long,
          rows: Iterator[(Long, Long)],
          timerValues: TimerValues): Iterator[HllRegUpdate] = {
        val prev = Option(state.get()).getOrElse(HllRegState(0L, 0L))
        var mj = prev.mj
        rows.foreach(r => if (r._2 > mj) mj = r._2)
        val next = HllRegState(mj, prev.batches + 1)
        state.update(next)
        Iterator.single(HllRegUpdate(key, next.mj, next.batches))
      }
    }

    graft.operators.Sketches.hllObserved(records, keyCol, m)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RegProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Per-key first-occurrence marker for [[dedupStream]]: how many
    * duplicates this key has absorbed since its survivor was emitted. */
  final case class SeenState(dupes: Long)

  /** One surviving record from the streaming dedup. */
  final case class DedupSurvivor(key: String, payload: String)

  /** Streaming exact deduplication with bounded state — the streaming
    * form of [[graft.operators.Dedup.exactDedup]]: the FIRST record of
    * each key (in arrival order) is emitted, every later record with the
    * same key is absorbed silently. With `ttl = None` the seen-set is
    * exact forever (state grows with distinct keys — the batch-dedup
    * guarantee, streaming). With a TTL the state store expires idle keys
    * after that processing-time horizon: memory stays bounded by the
    * keys active inside the window, at the documented cost that a
    * duplicate arriving AFTER its key expired re-emits — the standard
    * horizon-exact contract every at-scale streaming dedup (including
    * `dropDuplicatesWithinWatermark`) makes, here with the horizon as an
    * explicit parameter instead of a watermark side-effect.
    *
    * The key is the caller's content hash (md5/minhash of the payload —
    * the [[graft.operators.Dedup]] convention), so state per key is one
    * small row regardless of payload size. State lives in the RocksDB
    * store, partitioned by key hash; restart resumes the seen-set from
    * the checkpoint, so exactly-once sinks never see a replayed
    * survivor twice.
    */
  def dedupStream(records: DataFrame, keyCol: String, payloadCol: String,
      ttl: Option[java.time.Duration] = None): Dataset[DedupSurvivor] = {
    import records.sparkSession.implicits._
    val ttlConf = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)

    class DedupProcessor
        extends StatefulProcessor[String, (String, String), DedupSurvivor] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[SeenState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[SeenState](
          "seen", Encoders.product[SeenState], ttlConf)

      override def handleInputRows(
          key: String,
          rows: Iterator[(String, String)],
          timerValues: TimerValues): Iterator[DedupSurvivor] = {
        val prev = Option(state.get())
        val first = rows.next()
        var dupes = prev.map(_.dupes).getOrElse(0L)
        dupes += rows.size + (if (prev.isDefined) 1L else 0L)
        state.update(SeenState(dupes))
        if (prev.isEmpty) Iterator.single(DedupSurvivor(key, first._2))
        else Iterator.empty
      }
    }

    records
      .select(col(keyCol).cast("string"), col(payloadCol).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(new DedupProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-key prequential-conformal state: running model (n, Σy) plus the
    * FIFO calibration buffer of the last `calN` residuals. */
  final case class ConfScoreState(n: Long, s: Long, buf: Seq[Long])

  /** One scored event: its residual against the pre-update model, the
    * conformal p in micro, and the calibration size that priced it. */
  final case class ConformalScore(key: Long, ord: Long, y: Long, r: Long,
      p_micro: Long, n_cal: Long)

  /** Streaming PREQUENTIAL conformal anomaly scores — the streaming form
    * of [[graft.operators.Profile.conformalFdrOutliers]]' p-value: every
    * event is scored against the state BEFORE it (Dawid's prequential
    * discipline — the model never sees the row it prices), with
    *   ŷ = truncated mean of all prior values,
    *   r = |y − ŷ|,
    *   p = (1 + #{last calN residuals ≥ r}) / (n_buf + 1)  (micro),
    * then folds the row in (running sums + FIFO residual buffer). Small
    * p = "this event does not look like this key's recent past" — the
    * alerting primitive with a distribution-free guarantee: under
    * exchangeability p is super-uniform, so alerting at p ≤ α fires at
    * rate ≤ α per event, no thresholds to tune per key.
    *
    * Determinism contract: rows are folded in `ordCol` order WITHIN each
    * (key, batch); across batches the source must deliver each key
    * in order (the sharded replay source's per-shard guarantee with
    * key-consistent sharding). The first event of a key prices at
    * p = 10⁶ with r = 0 (empty model — the honest uninformative score).
    *
    * Scale shape: state is one row per key — two longs plus a
    * calN-bounded buffer — in the RocksDB store, partitioned by key
    * hash; per-batch work is O(batch · calN) map-side. Exact integer
    * arithmetic end to end (the batch operator's algebra), so a batch
    * mirror replaying the same order reproduces every score bit-for-bit
    * — pinned by the stream ≡ batch spec.
    */
  def conformalScoreStream(decoded: DataFrame, keyCol: String,
      ordCol: String, valueCol: String, calN: Int): Dataset[ConformalScore] = {
    require(calN >= 1, "calN must be >= 1")
    import decoded.sparkSession.implicits._

    class ScoreProcessor
        extends StatefulProcessor[Long, (Long, Long, Long), ConformalScore] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[ConfScoreState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[ConfScoreState](
          "conf", Encoders.product[ConfScoreState], TTLConfig.NONE)

      override def handleInputRows(
          key: Long,
          rows: Iterator[(Long, Long, Long)],
          timerValues: TimerValues): Iterator[ConformalScore] = {
        var st = Option(state.get()).getOrElse(
          ConfScoreState(0L, 0L, Vector.empty))
        val out = rows.toVector.sortBy(_._2).map { case (_, ord, y) =>
          val yhat =
            if (st.n == 0L) y
            else st.s / st.n
          val r = math.abs(y - yhat)
          val nBuf = st.buf.size.toLong
          val p = (1L + st.buf.count(_ >= r)) * 1000000L / (nBuf + 1L)
          st = ConfScoreState(st.n + 1L, st.s + y,
            (st.buf :+ r).takeRight(calN))
          ConformalScore(key, ord, y, r, p, nBuf)
        }
        state.update(st)
        out.iterator
      }
    }

    decoded
      .select(col(keyCol).cast("long"), col(ordCol).cast("long"),
        col(valueCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new ScoreProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** The Spark-4-native form of [[sessionizeStateful]] using the
    * transformWithState StatefulProcessor API (typed ValueState + event-time
    * timers). Requires the RocksDB state store provider:
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
    * Same output contract as sessionizeStateful.
    */
  def sessionizeTws(decoded: DataFrame, gapMinutes: Int): Dataset[UserSession] = {
    import decoded.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    class SessionProcessor extends StatefulProcessor[Long, (Long, Long, Double, java.sql.Timestamp), UserSession] {
      @transient private var state: org.apache.spark.sql.streaming.ValueState[SessionState] = _

      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[SessionState](
          "session", Encoders.product[SessionState], TTLConfig.NONE)

      private def toSession(user: Long, s: SessionState) =
        UserSession(user, s.startUs, s.lastUs, s.n, s.valueSum)

      override def handleInputRows(
          key: Long,
          rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
          timerValues: TimerValues): Iterator[UserSession] = {
        val sorted = rows.map(e => (e._2, e._3)).toSeq.sorted
        var open = Option(state.get())
        val closed = Seq.newBuilder[UserSession]
        sorted.foreach { case (tsUs, v) =>
          open match {
            // Same out-of-order merge rule as sessionizeStateful: extend
            // startUs backwards for above-watermark stragglers.
            case Some(s) if tsUs - s.lastUs < gapUs =>
              open = Some(SessionState(math.min(s.startUs, tsUs),
                math.max(s.lastUs, tsUs), s.n + 1, s.valueSum + v))
            case Some(s) =>
              closed += toSession(key, s)
              open = Some(SessionState(tsUs, tsUs, 1, v))
            case None =>
              open = Some(SessionState(tsUs, tsUs, 1, v))
          }
        }
        open.foreach { s =>
          state.update(s)
          getHandle.registerTimer((s.lastUs + gapUs) / 1000)
        }
        closed.result().iterator
      }

      override def handleExpiredTimer(
          key: Long,
          timerValues: TimerValues,
          expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[UserSession] = {
        val out = Option(state.get())
          .filter(s => (s.lastUs + gapUs) / 1000 <= expiredTimerInfo.getExpiryTimeInMs)
          .map(toSession(key, _))
        if (out.isDefined) state.clear()
        out.iterator
      }
    }

    decoded
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id").as[Long], col("ts_us").as[Long],
        col("value").as[Double], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
