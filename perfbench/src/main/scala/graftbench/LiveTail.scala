package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.replay.ShardPositions
import graft.streaming.{Consumer, ConsumerConfig, StreamingOps}

object LiveTail {
  val Shards = 4
  val TriggerMs = 250L
  /** Triggers run before timing starts: the backlog the generator built
    * while the JVM started, then steady state with warm codegen. */
  val WarmTriggers = 12
  val Watermark = "1 minute"

  /** What the benchmark keeps of one progress event. */
  final case class Progress(batchId: Long, rows: Long, triggerStartMs: Long,
      durations: Map[String, Long], endOffset: Option[String],
      stateRows: Long, stateCommitMs: Long, stateMemory: Long,
      dedupDropped: Long, watermarkDropped: Long, lag: Option[Long])
}

/** Open loop: the generator process serves a stream whose per-shard counts
  * grow with the clock at a fixed rate, whatever the consumer does. The
  * consumer runs `commitFlow -> decode -> dedupWithinWatermark ->
  * foreachBatch` on a processing-time trigger. A record's latency runs
  * from its creation stamp (`ts_us`, the time the schedule made it due)
  * to the end of the sink write that emitted it, so a stall counts
  * against every record that waited behind it.
  */
final class LiveTail(ctx: Ctx, base: String) {
  import ctx._
  import LiveTail._

  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val emitted = new ConcurrentHashMap[Long, Array[Long]]()
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val tracedLatencies = mutable.ArrayBuffer.empty[Double]
  /** Creation stamps timed: [window._1, window._2), of which those at or
    * after `tracedFrom` ran with the tracing listeners attached. */
  @volatile private var window = (Long.MaxValue, Long.MaxValue)
  @volatile private var tracedFrom = Long.MaxValue
  @volatile private var query: StreamingQuery = _
  private val probe = if (trace.enabled) Some(new Probe(spark, trace)) else None

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        ops.map(f).sum
      val lag =
        if (Trace.nowUs() < tracedFrom || query == null) None
        else Consumer.lagReport(query).find(_.batchId == p.batchId).map(_.totalLag)
      progress.add(Progress(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.sources.headOption.flatMap(s => Option(s.endOffset)),
        opSum(_.numRowsTotal), opSum(_.commitTimeMs), opSum(_.memoryUsedBytes),
        opSum(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.longValue).getOrElse(0L)),
        opSum(_.numRowsDroppedByWatermark), lag))
    }
  }

  private def sink(batch: DataFrame, batchId: Long): Unit = {
    val rows = batch.select(col("event_id"), col("ts_us")).collect()
    val doneUs = Trace.nowUs()
    emitted.put(batchId, rows.map(_.getLong(0)))
    val (w0, w1) = window
    val from = tracedFrom
    latencies.synchronized {
      rows.foreach { r =>
        val ts = r.getLong(1)
        if (ts >= w0 && ts < w1)
          (if (ts >= from) tracedLatencies else latencies) += (doneUs - ts) / 1000.0
      }
    }
  }

  private def awaitProgress(timeoutS: Double)(done: Seq[Progress] => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!done(progress.asScala.toSeq)) {
      query.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, "live tail: consumer did not progress")
      Thread.sleep(20)
    }
  }

  def run(): Map[String, Any] = {
    implicit val s: SparkSession = spark
    spark.streams.addListener(listener)
    val records = Consumer.commitFlow(Consumer.source(ConsumerConfig(
      streamPath = s"$out/live", appName = "graftbench-live", numShards = Shards,
      controlPlaneUrl = Some(s"$base/topology"),
      dataPlaneUrl = Some(s"$base/records"))))
    val deduped = StreamingOps.dedupWithinWatermark(StreamingOps.decode(records), Watermark)
    val gc0 = Harness.gcSeconds()
    query = deduped.writeStream
      .option("checkpointLocation", s"$out/live-checkpoint")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .start()
    awaitProgress(120)(_.count(_.rows > 0) >= WarmTriggers)
    val warmEndUs = Trace.nowUs()
    val windowEndUs = warmEndUs + (seconds * 1e6).toLong
    window = (warmEndUs, windowEndUs)
    // A traced run times the first half of the window untraced and the
    // second half traced; the difference is the tracing overhead.
    probe.foreach { pr =>
      val mid = (warmEndUs + windowEndUs) / 2
      Thread.sleep(math.max(0L, (mid - Trace.nowUs()) / 1000L))
      pr.attach()
      tracedFrom = mid
    }
    Thread.sleep(math.max(0L, (windowEndUs - Trace.nowUs()) / 1000L))
    // The first trigger that starts after the window has closed plans
    // every record due inside it; once its progress arrives, all of them
    // have been emitted and committed.
    awaitProgress(60)(_.exists(_.triggerStartMs * 1000L > windowEndUs))
    query.stop()
    val gcS = Harness.gcSeconds() - gc0
    org.apache.spark.BusShim.drain(spark.sparkContext) // every progress event is in
    probe.foreach(_.detach())
    spark.streams.removeListener(listener)
    val heap = Harness.heapLiveMb(spark)

    val all = progress.asScala.toSeq.sortBy(_.batchId)
    val last = all.filter(_.endOffset.isDefined).last
    val frontier = ShardPositions.parse(last.endOffset.get).positions
    val ids = emitted.asScala.filter(_._1 <= last.batchId).values.flatten.toSeq
    all.filter(_.triggerStartMs * 1000L >= tracedFrom).foreach(traceTrigger)
    val runId = query.runId.toString
    val measured = all.filter(p => p.triggerStartMs * 1000L >= warmEndUs &&
      p.triggerStartMs * 1000L <= windowEndUs)
    Map("warm_end_us" -> warmEndUs, "window_end_us" -> windowEndUs,
      "latencies_ms" -> latencies.synchronized(latencies.toList),
      "traced_latencies_ms" -> latencies.synchronized(tracedLatencies.toList),
      "traced_from_us" -> math.min(tracedFrom, windowEndUs),
      "heap_live_mb" -> heap, "gc_s" -> gcS,
      "trigger_ms" -> TriggerMs,
      "frontier" -> (0 until Shards).map(i => frontier.getOrElse(i, 0L)),
      "emitted_ids" -> ids.sorted,
      "dedup_dropped_rows" -> all.filter(_.batchId <= last.batchId).map(_.dedupDropped).sum,
      "rows_dropped_by_watermark" -> all.map(_.watermarkDropped).sum,
      "triggers" -> measured.map { p =>
        Map("batch" -> p.batchId, "rows" -> p.rows, "durations_ms" -> p.durations,
          "traced" -> (p.triggerStartMs * 1000L >= tracedFrom),
          "state_rows_total" -> p.stateRows, "state_commit_ms" -> p.stateCommitMs,
          "state_memory_bytes" -> p.stateMemory, "lag_records" -> p.lag)
      },
      "traced_task_s" -> probe.map(_.stats(runId).taskMs / 1000.0).getOrElse(0.0))
  }

  /** A trigger span with the engine-reported phases as children, laid out
    * in the order the micro-batch runs them. */
  private def traceTrigger(p: Progress): Unit = {
    val id = trace.nextId()
    val start = p.triggerStartMs * 1000L
    val total = p.durations.getOrElse("triggerExecution", 0L) * 1000L
    trace.add(Span(id, 0L, s"trigger${p.batchId}", "stream.trigger",
      s"trigger ${p.batchId}", start, start + total))
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
      "commitOffsets").foreach { phase =>
      p.durations.get(phase).foreach { ms =>
        trace.add(Span(trace.nextId(), id, s"trigger${p.batchId}", "stream.phase",
          phase, t, t + ms * 1000L))
        t += ms * 1000L
      }
    }
  }
}
