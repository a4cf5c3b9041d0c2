package graft.sources.replay

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.{SortedMap, SortedSet}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.Record

/** A DataSource V2 source with Kinesis consumer semantics, backed by a
  * parquet event file replayed as N shards (SURVEY.md §2.1-S1/S3/S4, M2).
  *
  * Reference behaviors re-expressed on the Spark engine:
  *  - per-shard strict ordering, unordered across shards
  *    (reference Consumer.scala:39-40 MergeHub) → one `InputPartition` per
  *    shard; a streaming DataFrame is the union of its partitions;
  *  - demand-driven fetch / backpressure (RecordProcessorFactoryImpl.scala:21)
  *    → `SupportsAdmissionControl` with `maxRecordsPerTrigger`;
  *  - initial positions trim-horizon / latest / at-timestamp
  *    (Consumer.scala:125-143) → `startingPosition` option;
  *  - contiguous-prefix checkpointing (ShardCheckpointTrackerActor.scala:86)
  *    → the engine's offset log: an `Offset` here is a per-shard frontier
  *    position, which IS the longest processed prefix.
  *
  * The file backend is the offline test double for the real service (zero
  * egress — no AWS). A production provider would implement the same
  * partition-per-shard / frontier-offset contract against the service API;
  * everything driver-side (offsets, planning, admission control) is the
  * scale-relevant part and is identical in both cases. The per-JVM record
  * cache makes executor reads O(1) after first touch; at 100 TB you would
  * never replay from one file — shards stream independently, which is what
  * the partition readers model.
  *
  * Options: `path` (parquet file/dir), `shards` (default 4), `startingPosition`
  * (trim_horizon | latest | at_timestamp), `startingTimestampMs`,
  * `maxRecordsPerTrigger` (per-trigger total across shards), `deliveryMode`
  * (at_least_once default | at_most_once — eager commit: a failed batch's
  * records are dropped, not redelivered), `reshardAtMs`
  * (simulate a shard split at that epoch-millis instant: each of the N
  * shards seals at the split and hands off to two children — the
  * reference's shardEnded lifecycle, RecordProcessorImpl.scala:102-113;
  * children replay only after their parent's seal is committed),
  * `mergeAtMs` (simulate the inverse reshard: shard pairs (j, j+N/2) seal
  * at the instant and merge into one child N+j, which waits for BOTH
  * parents' committed seals — KCL's merge lease-sync semantics; requires
  * an even shard count, mutually exclusive with reshardAtMs),
  * `aggregation` (KPL producer aggregation factor K: runs of K consecutive
  * user records share one sequence number with subSequenceNumber 0..K-1 —
  * checkpoints are sub-sequence-granular, the ExtendedSequenceNumber
  * semantics of reference Record.scala:22),
  * `controlPlaneUrl` (RUNTIME topology discovery: shard count and any
  * reshard instant come from `GET <url>` — fetched at construction and
  * re-polled once per trigger until a reshard is announced — instead of
  * the `shards`/`reshardAtMs`/`mergeAtMs` options, which are then
  * ignored. This is the reference's worker-learns-from-stream-metadata
  * behavior, RecordProcessorImpl.scala:102-113; see [[ControlPlane]]).
  */
class ShardedReplayProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sharded-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    ReplayConfig.fromOptions(options) // fail fast on bad options at load()
    Record.schema
  }
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardedReplayTable
}

final class ShardedReplayTable extends Table with SupportsRead {
  override def name(): String = "sharded-replay"
  override def schema(): StructType = Record.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShardedReplayScan(ReplayConfig.fromOptions(options))
}

final case class ReplayConfig(
    path: String,
    numShards: Int,
    startingPosition: String,
    startingTimestampMs: Long,
    maxRecordsPerTrigger: Option[Long],
    reshardAtMicros: Option[Long],
    deliveryMode: String = "at_least_once",
    aggregation: Int = 1,
    mergeAtMicros: Option[Long] = None,
    controlPlaneUrl: Option[String] = None,
    dataPlaneUrl: Option[String] = None,
    leaseUrl: Option[String] = None) {
  require(reshardAtMicros.isEmpty || mergeAtMicros.isEmpty,
    "reshardAtMs (split) and mergeAtMs are mutually exclusive")
  require(dataPlaneUrl.isEmpty || controlPlaneUrl.isDefined,
    "dataPlaneUrl needs controlPlaneUrl: shard counts come from topology")
  require(mergeAtMicros.isEmpty || numShards % 2 == 0,
    s"mergeAtMs pairs shards, so the shard count must be even (got $numShards)")
  def atMostOnce: Boolean = deliveryMode == "at_most_once"
  def resharded: Boolean = reshardAtMicros.isDefined || mergeAtMicros.isDefined
  /** Shard-id universe: parents 0..N-1, plus children after a reshard —
    * a split adds 2N children (parent i → children N+i and 2N+i), a merge
    * adds N/2 (parents j and j+N/2 → child N+j).
    */
  def universeSize: Int =
    if (reshardAtMicros.isDefined) 3 * numShards
    else if (mergeAtMicros.isDefined) numShards + numShards / 2
    else numShards
  /** Parents of a child shard id. Split lineage: child N+j ← parent j%N
    * (hash routing userId%2N refines userId%N, so each parent's key space
    * is exactly the union of its two children's). Merge lineage: child
    * N+j ← parents j and j+N/2 (userId%N == j or j+N/2 ⟺
    * userId%(N/2) == j, so the child's key space is exactly its two
    * parents' union).
    */
  def parentsOf(shard: Int): Seq[Int] =
    if (shard < numShards) Nil
    else if (reshardAtMicros.isDefined) Seq((shard - numShards) % numShards)
    else if (mergeAtMicros.isDefined)
      Seq(shard - numShards, shard - numShards + numShards / 2)
    else Nil
  def lineage: SortedMap[Int, Seq[Int]] =
    SortedMap.from((numShards until universeSize).map(c => c -> parentsOf(c)))

  /** This config with its topology replaced by a control-plane answer —
    * the DISCOVERED counterpart of the `shards`/`reshardAtMs`/`mergeAtMs`
    * options (which are ignored when `controlPlaneUrl` is set). The case
    * class invariants re-run on copy, so a nonsensical service answer
    * (split + merge, odd merge count) fails loudly here.
    */
  def withTopology(t: ControlPlane.Topology): ReplayConfig =
    copy(numShards = t.numShards,
      reshardAtMicros = t.reshardAtMs.map(_ * 1000L),
      mergeAtMicros = t.mergeAtMs.map(_ * 1000L))
}

object ReplayConfig {
  def fromOptions(o: CaseInsensitiveStringMap): ReplayConfig = {
    require(o.containsKey("path"), "sharded-replay requires a 'path' option")
    val pos = o.getOrDefault("startingPosition", "trim_horizon").toLowerCase
    require(Seq("trim_horizon", "latest", "at_timestamp").contains(pos),
      s"unknown startingPosition '$pos'")
    ReplayConfig(
      path = o.get("path"),
      numShards = o.getInt("shards", 4),
      startingPosition = pos,
      startingTimestampMs = o.getLong("startingTimestampMs", 0L),
      maxRecordsPerTrigger =
        Option(o.get("maxRecordsPerTrigger")).map(_.toLong),
      reshardAtMicros =
        Option(o.get("reshardAtMs")).map(_.toLong * 1000L),
      deliveryMode = {
        val m = o.getOrDefault("deliveryMode", "at_least_once").toLowerCase
        require(Seq("at_least_once", "at_most_once").contains(m),
          s"unknown deliveryMode '$m'")
        m
      },
      aggregation = {
        val a = o.getInt("aggregation", 1)
        require(a >= 1, s"aggregation must be >= 1, got $a")
        a
      },
      mergeAtMicros =
        Option(o.get("mergeAtMs")).map(_.toLong * 1000L),
      controlPlaneUrl = Option(o.get("controlPlaneUrl")),
      dataPlaneUrl = Option(o.get("dataPlaneUrl")),
      leaseUrl = Option(o.get("leaseUrl")))
  }
}

/** Hadoop `Configuration` is not java-serializable; this carries it to
  * executors via its Writable form, so partition readers open the store
  * with the SESSION's fs settings (spark.hadoop.* credentials, custom
  * schemes) instead of a bare default conf.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  /** Broadcast the active session's Hadoop conf — call on the DRIVER
    * thread that owns the query (scan construction / query start), where
    * the active session is guaranteed. Broadcasting serializes the conf
    * ONCE per query instead of once per input partition per micro-batch
    * (Configuration.write emits every property — tens of KB). Returns
    * null when no session exists (bare unit-test contexts; Spark 4 throws
    * SparkException from `active`, not IllegalStateException, hence the
    * NonFatal catch) — readers then fall back to a default conf.
    */
  def broadcastFromActiveSession(): Broadcast[SerializableHadoopConf] =
    try {
      val s = org.apache.spark.sql.SparkSession.active
      s.sparkContext.broadcast(
        new SerializableHadoopConf(s.sessionState.newHadoopConf()))
    } catch { case scala.util.control.NonFatal(_) => null }

  /** The conf carried by `b`, or a default conf when none was broadcast. */
  def resolve(b: Broadcast[SerializableHadoopConf]): Configuration =
    if (b == null) new Configuration() else b.value.value
}

final class ShardedReplayScan(raw: ReplayConfig) extends ScanBuilder with Scan {
  // Batch reads resolve the control-plane topology ONCE at scan
  // construction (a batch has no triggers to re-poll on); the micro-batch
  // stream keeps the URL and re-polls per trigger until announcement.
  private val conf = raw.controlPlaneUrl match {
    case Some(u) => raw.withTopology(ControlPlane.fetch(u))
    case None => raw
  }
  // Captured HERE (driver, query-planning thread, active session set) —
  // resolving SparkSession.active lazily on the stream-execution thread
  // could see a different or no session.
  private val hconf = SerializableHadoopConf.broadcastFromActiveSession()
  override def build(): Scan = this
  override def readSchema(): StructType = Record.schema
  override def toBatch: Batch = new ShardedReplayBatch(conf, hconf)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardedReplayMicroBatchStream(conf, checkpointLocation, hconf)
}

/** Offset = per-shard frontier: records [0, position) are committed. The
  * JSON form is the engine-checkpoint analog of the reference's
  * DynamoDB (shard → highest contiguous sequence number) table.
  *
  * Two wire formats:
  *  - v1 `{"0":5,...}` — plain frontier map (pre-reshard streams; kept so
  *    existing checkpoints parse unchanged);
  *  - v2 `{"v":2,"pos":{...},"sealed":[...],"lineage":{"child":parent}}`
  *    — after a reshard the offset additionally carries which parent
  *    shards are SEALED (fully consumed, will never produce again — the
  *    reference's shardEnded checkpoint, RecordProcessorImpl.scala:102-113)
  *    and the child→parent(s) lineage that gates child consumption. A
  *    split child has one parent (written as a bare int — the original v2
  *    wire form, kept byte-identical); a merge child has two (written as
  *    an array `[p1,p2]`); the parser accepts both. The reshard INSTANT
  *    (`"at":micros`) is also recorded: lineage alone cannot distinguish
  *    a split at T1 from one at T2, and a changed instant relocates
  *    records between parents and children — silent replay/loss that the
  *    restart validation rejects by comparing instants. Absent on
  *    offsets written before the field existed (then unverifiable).
  */
final case class ShardPositions(
    positions: SortedMap[Int, Long],
    sealedShards: SortedSet[Int] = SortedSet.empty,
    lineage: SortedMap[Int, Seq[Int]] = SortedMap.empty,
    reshardAtMicros: Option[Long] = None) extends Offset {
  override def json(): String =
    if (sealedShards.isEmpty && lineage.isEmpty)
      positions.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    else {
      val pos = positions.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val sl = sealedShards.mkString("[", ",", "]")
      val lin = lineage.map {
        case (c, Seq(p)) => s""""$c":$p"""
        case (c, ps) => s""""$c":${ps.mkString("[", ",", "]")}"""
      }.mkString("{", ",", "}")
      // Note: adding "at" changes the serialized form, and the engine
      // compares offsets by JSON equality — the first restart of a
      // DRAINED pre-"at" v2 checkpoint plans one spurious empty batch
      // (zero partitions, position-identical marker) before converging.
      // Deliberate: one no-op batch is a fair price for instant
      // validation.
      val at = reshardAtMicros.map(t => s""","at":$t""").getOrElse("")
      s"""{"v":2,"pos":$pos,"sealed":$sl,"lineage":$lin$at}"""
    }
  def apply(shard: Int): Long = positions.getOrElse(shard, 0L)
  /** First-generation shard count the checkpoint was written against. */
  def gen0: Int = positions.size - lineage.size
}

object ShardPositions {
  def parse(json: String): ShardPositions = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def longs(v: JValue): SortedMap[Int, Long] = v match {
      case JObject(fields) => SortedMap.from(fields.map {
        case (k, JInt(x)) => k.toInt -> x.toLong
        case (k, JLong(x)) => k.toInt -> x
        case (k, x) => sys.error(s"bad offset field $k=$x")
      })
      case other => sys.error(s"bad offset json $other")
    }
    def int(v: JValue): Int = v match {
      case JInt(x) => x.toInt
      case JLong(x) => x.toInt
      case x => sys.error(s"bad int $x")
    }
    JsonMethods.parse(json) match {
      case o @ JObject(fields) if fields.exists(_._1 == "v") =>
        val m = fields.toMap
        ShardPositions(
          positions = longs(m("pos")),
          sealedShards = SortedSet.from(m("sealed") match {
            case JArray(xs) => xs.map(int)
            case x => sys.error(s"bad sealed list $x")
          }),
          lineage = m("lineage") match {
            case JObject(fs) => SortedMap.from(fs.map {
              case (c, JArray(ps)) => c.toInt -> ps.map(int)
              case (c, p) => c.toInt -> Seq(int(p))
            })
            case x => sys.error(s"bad lineage $x")
          },
          reshardAtMicros = m.get("at").map {
            case JInt(x) => x.toLong
            case JLong(x) => x
            case x => sys.error(s"bad reshard instant $x")
          })
      case other => ShardPositions(longs(other))
    }
  }
  def zeros(n: Int): ShardPositions =
    ShardPositions(SortedMap.from((0 until n).map(_ -> 0L)))
}

/** Pure admission-control arithmetic, exposed for property tests: advances
  * `current` toward `counts` by at most `maxRows` total, spreading the
  * budget round-robin so no shard starves (the KCL analog: every shard
  * consumer gets demand).
  */
object AdmissionPlanner {
  /** Parent-before-child gating: caps each child shard's visible frontier
    * at its current position until EVERY parent's COMMITTED position has
    * reached that parent's end — so child records land in strictly later
    * batches than the parents' seals (the reference's shardEnded ordering;
    * for a merge child, KCL likewise waits for both parents' leases to
    * close). Pure; property-tested together with [[advance]].
    */
  def gate(current: ShardPositions, counts: Array[Long],
      parentsOf: Int => Seq[Int]): Array[Long] = {
    val eligible = counts.clone()
    var i = 0
    while (i < counts.length) {
      if (parentsOf(i).exists(p => current(p) < counts(p)))
        eligible(i) = current(i)
      i += 1
    }
    eligible
  }

  def advance(current: ShardPositions, counts: Array[Long], maxRows: Option[Long]): ShardPositions = {
    val n = counts.length
    val backlog = (0 until n).map(i => math.max(0L, counts(i) - current(i)))
    val take = maxRows match {
      case None => backlog
      case Some(budget) =>
        // Round-robin: give each shard an equal slice, then redistribute
        // leftover to shards that still have backlog (two passes suffice
        // for the per-trigger granularity we need).
        val base = budget / n
        val first = backlog.map(b => math.min(b, base))
        var left = budget - first.sum
        val extra = backlog.zip(first).map { case (b, f) =>
          val e = math.min(b - f, left); left -= e; e
        }
        first.zip(extra).map { case (f, e) => f + e }
    }
    ShardPositions(SortedMap.from((0 until n).map(i => i -> (current(i) + take(i)))))
  }
}

final class ShardedReplayMicroBatchStream(
    conf: ReplayConfig, checkpointLocation: String,
    hconf: Broadcast[SerializableHadoopConf] =
      SerializableHadoopConf.broadcastFromActiveSession())
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Effective config: the user options, with topology (shard count +
    * reshard instant) overridden by the control plane when one is
    * configured. Swapped at most once per stream lifetime — from
    * no-reshard to an announced reshard — on the driver's trigger thread;
    * all planning state below reads through it.
    */
  @volatile private var eff: ReplayConfig = conf.controlPlaneUrl match {
    case Some(u) => conf.withTopology(ControlPlane.fetch(u))
    case None => conf
  }

  // Shard contents keyed by the effective config (a discovery swap
  // invalidates; ShardStore's two-level cache makes recomputes share the
  // underlying parquet read).
  private var cachedFor: ReplayConfig = null
  private var cachedShards: Array[Array[ShardStore.Ev]] = null
  private def shards: Array[Array[ShardStore.Ev]] = synchronized {
    val e = eff
    if (cachedFor ne e) {
      cachedShards = ShardStore.shards(e.path, e.numShards, e.reshardAtMicros,
        e.mergeAtMicros, SerializableHadoopConf.resolve(hconf))
      cachedFor = e
    }
    cachedShards
  }

  /** Data-plane mode: per-shard latest positions come from the service's
    * topology answer (the DescribeStream shape) and refresh each trigger —
    * a LIVE stream's counts grow between polls. File mode derives them
    * from the local store.
    */
  @volatile private var serviceCounts: Option[Array[Long]] =
    if (conf.dataPlaneUrl.isEmpty) None
    else Some(countsFromService(
      ControlPlane.fetch(conf.controlPlaneUrl.get)))
  private def countsFromService(t: ControlPlane.Topology): Array[Long] = {
    val c = t.counts.getOrElse(sys.error(
      "data-plane mode needs per-shard counts in the topology answer"))
    require(c.length == eff.universeSize || c.length == eff.numShards,
      s"topology counts cover ${c.length} shards, universe is ${eff.universeSize}")
    // pre-announcement answers may cover only the parents; children are
    // empty until the reshard exists.
    c.toArray.padTo(eff.universeSize, 0L)
  }
  private def counts: Array[Long] =
    serviceCounts.getOrElse(shards.map(_.length.toLong))

  /** This worker's lease: the shard subset it advances (None = owns the
    * whole stream). RE-POLLED each trigger (like the topology): a
    * reassignment between triggers is the consumer-group rebalance —
    * shards LEAVING the lease simply stop advancing (the reference's
    * leaseLost: this worker's committed positions stay put and the new
    * owner's checkpoint takes over), and shards ACQUIRED mid-stream come
    * with a handoff FLOOR (the previous owner's last committed position,
    * served by the lease table — see [[ControlPlane.Lease]]) below which
    * this worker never reads. A reshard keeps families together,
    * enforced below.
    */
  @volatile private var lease: Option[ControlPlane.Lease] =
    eff.leaseUrl.map(fetchValidatedLease)
  private def fetchValidatedLease(u: String): ControlPlane.Lease = {
    val o = ControlPlane.fetchLease(u)
    // A reshard family (parents + their children) must live in ONE
    // worker's lease: a child owned without its parents could never see
    // their seals commit (they live in another worker's checkpoint).
    (eff.numShards until eff.universeSize).foreach { child =>
      require(o.shards.contains(child) ==
          eff.parentsOf(child).forall(o.shards.contains),
        s"lease must assign shard families together: child $child with " +
          s"parents ${eff.parentsOf(child)} vs assignment ${o.shards}")
    }
    o
  }

  /** Positions lifted to the lease's handoff floors: a shard acquired
    * from another worker starts at that worker's final committed
    * position, not at this checkpoint's (never-advanced) zero. Max-lift
    * is idempotent and monotone, so re-applying it to offsets that
    * already advanced past the floor is a no-op.
    */
  private def liftToFloors(pos: SortedMap[Int, Long]): SortedMap[Int, Long] =
    lease.map(_.floors).filter(_.nonEmpty) match {
      case Some(f) => SortedMap.from(pos.map { case (i, v) =>
        i -> math.max(v, f.getOrElse(i, 0L)) })
      case None => pos
    }

  // Trigger.AvailableNow: snapshot the frontier once; per-batch read limits
  // still apply, so the drain takes several admission-bounded batches.
  @volatile private var availableNowCap: Option[Array[Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(counts.clone())
  private def frontier: Array[Long] = availableNowCap.getOrElse(counts)

  /** Re-attach seal + lineage metadata to a bare frontier. A parent is
    * sealed once its position reaches its end: a resharded stream's
    * parents are closed — they will never produce again (the reference's
    * shardEnded condition).
    */
  private def decorate(pos: SortedMap[Int, Long]): ShardPositions =
    if (!eff.resharded) ShardPositions(pos)
    else ShardPositions(pos,
      sealedShards = SortedSet.from(
        (0 until eff.numShards).filter(i => pos.getOrElse(i, 0L) >= counts(i))),
      lineage = eff.lineage,
      reshardAtMicros = eff.reshardAtMicros.orElse(eff.mergeAtMicros))

  override def initialOffset(): Offset = eff.startingPosition match {
    case "trim_horizon" => decorate(
      SortedMap.from((0 until eff.universeSize).map(_ -> 0L)))
    case "latest" =>
      decorate(SortedMap.from(counts.indices.map(i => i -> counts(i))))
    case "at_timestamp" =>
      val t = eff.startingTimestampMs * 1000L // micros
      eff.dataPlaneUrl match {
        case Some(u) =>
          // Per-shard timestamp scan over the wire — the
          // GetShardIterator(AT_TIMESTAMP) shape; no local store access.
          decorate(SortedMap.from((0 until eff.universeSize).map { i =>
            i -> ControlPlane.fetchTimestampPosition(u, i, t)
          }))
        case None =>
          decorate(SortedMap.from(shards.indices.map { i =>
            i -> shards(i).count(_.tsMicros < t).toLong
          }))
      }
  }

  override def getDefaultReadLimit: ReadLimit =
    eff.maxRecordsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // Runtime discovery: until a reshard has been announced, re-poll the
    // control plane each trigger (the reference worker learns shardEnded
    // from service metadata the same way). Once announced, the topology
    // is pinned — into `eff` here and into every subsequent offset's
    // "at" field — so later polls are unnecessary and later service
    // changes cannot silently relocate records (normalize() rejects a
    // checkpoint/instant mismatch instead).
    for (u <- eff.controlPlaneUrl
         if !eff.resharded || eff.dataPlaneUrl.isDefined) {
      val t = ControlPlane.fetch(u)
      if (t.announced && !eff.resharded) {
        eff = eff.withTopology(t)
        // An AvailableNow drain snapshot taken pre-announcement covers
        // only the old universe — refresh it so the drain includes the
        // newly-visible children (what "available now" now means).
        if (availableNowCap.isDefined) availableNowCap = Some(counts.clone())
      }
      // Live counts: in data-plane mode the service's positions ARE the
      // stream frontier target; refresh every trigger.
      if (eff.dataPlaneUrl.isDefined) serviceCounts = Some(countsFromService(t))
    }
    // Consumer-group rebalance: the lease table may have reassigned
    // shards since the last trigger — poll it alongside the topology.
    for (u <- eff.leaseUrl) lease = Some(fetchValidatedLease(u))
    val cur = normalize(start.asInstanceOf[ShardPositions])
    // Parent-before-child ordering (the shardEnded contract): a child
    // shard admits no records until its parent's frontier has reached the
    // seal in a COMMITTED offset — child data lands in strictly later
    // batches than the last parent batch, never beside it.
    val eligible = AdmissionPlanner.gate(cur, frontier, eff.parentsOf)
    // Lease restriction: shards this worker does not own never advance —
    // their committed positions stay wherever the checkpoint has them,
    // and the owning worker's checkpoint tracks their real progress.
    for (o <- lease) {
      var i = 0
      while (i < eligible.length) {
        if (!o.shards.contains(i)) eligible(i) = cur(i)
        i += 1
      }
    }
    val adv = limit match {
      case _: ReadAllAvailable => AdmissionPlanner.advance(cur, eligible, None)
      case r: ReadMaxRows => AdmissionPlanner.advance(cur, eligible, Some(r.maxRows()))
      case _ => AdmissionPlanner.advance(cur, eligible, None)
    }
    decorate(adv.positions)
  }

  override def reportLatestOffset(): Offset =
    decorate(SortedMap.from(counts.indices.map(i => i -> counts(i))))

  /** Checkpoint validation + offset-format evolution.
    *
    * A checkpoint written against a DIFFERENT first-generation shard count
    * is still rejected (silent remap would replay or drop: hash routing
    * changed). A v1 checkpoint (no children) restarting against a
    * resharded stream is VALID history — the stream split after the
    * checkpoint was taken: parent prefixes are identical in both layouts
    * (pre-split records sort first), so parent positions carry over and
    * children start at 0 — provided no parent had consumed past the split
    * point (impossible in a real stream: those records went to children).
    */
  private def normalize(s: ShardPositions): ShardPositions = {
    require(s.gen0 == eff.numShards,
      s"checkpoint has ${s.gen0} first-generation shards but source is " +
        s"configured with ${eff.numShards}; changing the shard count of a " +
        "checkpointed stream is not supported — resharding is expressed by " +
        "the reshardAtMs option, which keeps the original count and adds " +
        "child shards")
    if (!eff.resharded) {
      require(s.lineage.isEmpty,
        "checkpoint records a resharded stream but the source has no " +
          "reshardAtMs/mergeAtMs configured; restore the reshard option")
      // Handoff floors apply to BOTH offset math (latestOffset) and batch
      // planning (planInputPartitions) — each normalizes through here, so
      // an acquired shard's range starts at the previous owner's
      // committed position on every path.
      decorate(liftToFloors(s.positions))
    } else {
      require(s.lineage.isEmpty || s.lineage == eff.lineage,
        s"checkpoint lineage ${s.lineage} does not match the configured " +
          s"reshard's ${eff.lineage}: the reshard kind (split vs merge) " +
          "or geometry changed")
      // Lineage alone cannot see a changed INSTANT (same geometry, records
      // relocated between parents and children = silent replay/loss): the
      // recorded instant must equal the configured one. Offsets that never
      // recorded one (v1, or evolved before the field existed) are
      // unverifiable and accepted.
      val confAt = eff.reshardAtMicros.orElse(eff.mergeAtMicros)
      s.reshardAtMicros.foreach { at =>
        require(confAt.contains(at),
          s"checkpoint records a reshard at ${at}us but the source is " +
            s"configured with ${confAt.map(_ + "us").getOrElse("none")}: " +
            "moving the reshard instant relocates records between parents " +
            "and children, which would replay or lose data")
      }
      (0 until eff.numShards).foreach { i =>
        require(s(i) <= counts(i),
          s"parent shard $i position ${s(i)} exceeds its sealed length " +
            s"${counts(i)}: the checkpoint consumed records past the " +
            "configured split point, so this reshard option does not " +
            "describe this stream's history")
      }
      // AFTER the position-bound check (so a moved split point gets the
      // targeted message above, not this one): a v2 seal list
      // contradicting its own positions means the checkpoint is
      // internally corrupt — derive and compare.
      if (s.lineage.nonEmpty) {
        val derived = SortedSet.from(
          (0 until eff.numShards).filter(i => s(i) >= counts(i)))
        require(s.sealedShards == derived,
          s"checkpoint seal list ${s.sealedShards} contradicts its " +
            s"positions (expected $derived)")
      }
      decorate(liftToFloors(SortedMap.from(
        (0 until eff.universeSize).map(i => i -> s(i)))))
    }
  }

  // ---- at-most-once (eager commit) -----------------------------------------
  // The reference selects at-most-once by placing commitFlow BEFORE the
  // processing stage (README.md:44-45, CommitGraphStages.scala:16-17):
  // a record's checkpoint advances before its processing, so a crash loses
  // in-flight records instead of redelivering them. The engine analog:
  // persist the PLANNED frontier in a source-owned marker next to the
  // checkpoint before any task runs. On recovery the engine replans the
  // failed batch from its offset log — and the source then serves an empty
  // range for everything at or below the marker. (The marker goes through
  // the engine's checkpoint manager like the offset log: an atomic create
  // that writes a temp file and renames it over the marker, failing the
  // batch if it cannot; a crash between rename and task launch degrades
  // to redelivery of ONE batch, the same window the reference has between
  // checkpoint call and record handoff.)
  private lazy val markerPath =
    new Path(checkpointLocation, "graft-eager-commit.json")
  // The session's Hadoop conf (captured at scan construction on the
  // query's own driver thread), not a bare new Configuration(): checkpoint
  // dirs on object stores / HDFS carry credentials and fs settings in
  // spark.hadoop.* that a default conf lacks. The engine creates the
  // source's checkpoint dir only when it writes source metadata, so the
  // marker creates it, as Spark's own logs do.
  private lazy val markerFm = {
    val fm = CheckpointFileManager.create(
      markerPath.getParent, SerializableHadoopConf.resolve(hconf))
    fm.mkdirs(markerPath.getParent)
    fm
  }

  private def readMarker(): Option[ShardPositions] =
    if (!markerFm.exists(markerPath)) None
    else {
      val in = markerFm.open(markerPath)
      try Some(ShardPositions.parse(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)))
      finally in.close()
    }

  /** The planned frontier left by previous incarnations of this query —
    * records at or below it were handed to a (possibly failed) prior run
    * and must not be served again. Snapshotted once per stream instance.
    */
  private lazy val plannedByPriorRuns: Option[ShardPositions] =
    readMarker().map(normalize)

  private def writeMarker(p: ShardPositions): Unit = {
    val out = markerFm.createAtomic(markerPath, overwriteIfPossible = true)
    try {
      out.write(p.json().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    } catch { case e: Throwable => out.cancel(); throw e }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = normalize(start.asInstanceOf[ShardPositions])
    val e = end.asInstanceOf[ShardPositions]
    val s =
      if (!eff.atMostOnce) s0
      else {
        // Serve only ranges beyond the frontier PREVIOUS runs planned
        // (snapshotted once at stream init: a batch this run plans may be
        // re-planned by the engine within the run — that is the same
        // delivery and must yield the same rows), then eagerly advance the
        // marker to this batch's end — commit before process.
        val merged = SortedMap.from(s0.positions.map { case (i, v) =>
          i -> math.max(v, plannedByPriorRuns.map(_(i)).getOrElse(0L))
        })
        writeMarker(decorate(SortedMap.from(merged.map { case (i, v) =>
          i -> math.max(v, e(i))
        })))
        decorate(merged)
      }
    counts.indices.collect {
      case i if e(i) > s(i) =>
        ReplayInputPartition(eff.path, eff.numShards, eff.reshardAtMicros,
          i, s(i), e(i), eff.aggregation, eff.mergeAtMicros, hconf,
          eff.dataPlaneUrl)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = ReplayReaderFactory
  override def deserializeOffset(json: String): Offset = ShardPositions.parse(json)
  override def commit(end: Offset): Unit = () // engine-managed (commit log)
  override def stop(): Unit = ()
}

final class ShardedReplayBatch(
    conf: ReplayConfig,
    hconf: Broadcast[SerializableHadoopConf] =
      SerializableHadoopConf.broadcastFromActiveSession())
    extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val counts: Array[Long] = conf.dataPlaneUrl match {
      case Some(_) =>
        val t = ControlPlane.fetch(conf.controlPlaneUrl.get)
        t.counts.getOrElse(sys.error(
          "data-plane mode needs per-shard counts in the topology answer"))
          .toArray.padTo(conf.universeSize, 0L)
      case None =>
        ShardStore.shards(conf.path, conf.numShards, conf.reshardAtMicros,
          conf.mergeAtMicros, SerializableHadoopConf.resolve(hconf))
          .map(_.length.toLong)
    }
    counts.indices.map { i =>
      ReplayInputPartition(conf.path, conf.numShards, conf.reshardAtMicros,
        i, 0L, counts(i), conf.aggregation, conf.mergeAtMicros,
        hconf, conf.dataPlaneUrl)
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = ReplayReaderFactory
}

final case class ReplayInputPartition(
    path: String, numShards: Int, reshardAtMicros: Option[Long],
    shard: Int, from: Long, until: Long, aggregation: Int = 1,
    mergeAtMicros: Option[Long] = None,
    hconf: Broadcast[SerializableHadoopConf] =
      SerializableHadoopConf.broadcastFromActiveSession(),
    dataPlaneUrl: Option[String] = None)
  extends InputPartition

object ReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ReplayInputPartition]
    if (p.dataPlaneUrl.isDefined) new DataPlanePartitionReader(p)
    else new ReplayPartitionReader(p)
  }
}

/** Executor-side data-plane reader: pages the assigned range
  * [from, until) from the record service in bounded chunks — the
  * GetRecords client shape (bounded pages resumed by position, no local
  * file access, one reader per shard range). The envelope construction is
  * byte-identical to the file reader's, so the two backends are
  * interchangeable behind the same offsets.
  */
final class DataPlanePartitionReader(p: ReplayInputPartition)
    extends PartitionReader[InternalRow] {
  private val PageSize = 1000
  private var pos = p.from - 1
  private var page: Seq[ControlPlane.WireRecord] = Nil
  private var pageIdx = -1

  override def next(): Boolean = {
    pos += 1
    if (pos >= p.until) return false
    pageIdx += 1
    if (pageIdx >= page.length) {
      page = ControlPlane.fetchRecords(
        p.dataPlaneUrl.get, p.shard, pos, p.until, PageSize)
      require(page.nonEmpty,
        s"data plane returned no records for shard ${p.shard} " +
          s"range [$pos, ${p.until}) — service and offsets disagree")
      pageIdx = 0
    }
    require(page(pageIdx).pos == pos,
      s"data plane returned position ${page(pageIdx).pos}, expected $pos")
    true
  }

  override def get(): InternalRow = {
    val r = page(pageIdx)
    InternalRow(
      UTF8String.fromString(r.key),
      r.payload,
      UTF8String.fromString("%020d".format(pos / p.aggregation)),
      pos % p.aggregation,
      UTF8String.fromString("shardId-%012d".format(p.shard)),
      r.tsMicros)
  }

  override def close(): Unit = ()
}

final class ReplayPartitionReader(p: ReplayInputPartition)
    extends PartitionReader[InternalRow] {
  private val rows = ShardStore.shards(
    p.path, p.numShards, p.reshardAtMicros, p.mergeAtMicros,
    SerializableHadoopConf.resolve(p.hconf))(p.shard)
  private var pos = p.from - 1

  override def next(): Boolean = { pos += 1; pos < p.until }

  override def get(): InternalRow = {
    val ev = rows(pos.toInt)
    // Envelope fields in Record.schema order; payload is the event as a
    // deterministic JSON document (opaque bytes to the engine, decoded
    // downstream with from_json — reference Main.scala:22 utf8String).
    //
    // KPL aggregation (`aggregation` = K > 1): each run of K consecutive
    // user records forms one wire record — they share a sequence number
    // and carry subSequenceNumber 0..K-1, the ExtendedSequenceNumber pair
    // KCL checkpoints at (reference Record.scala:22,
    // ShardCheckpointTrackerActor.scala:52). Offsets stay in USER-record
    // units, so a batch boundary may land mid-aggregate and restart
    // resumes at the exact sub-record — sub-sequence-granular
    // checkpointing, not whole-wire-record.
    InternalRow(
      UTF8String.fromString(ev.userId.toString),
      ev.payloadJson.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      UTF8String.fromString("%020d".format(pos / p.aggregation)),
      pos % p.aggregation,
      UTF8String.fromString("shardId-%012d".format(p.shard)),
      ev.tsMicros)
  }

  override def close(): Unit = ()
}

/** Per-JVM shard cache for the replay backend. Records are hash-routed to
  * shards by partition key (userId — the Kinesis partition-key analog) and
  * ordered by (arrival time, event id) within a shard.
  */
object ShardStore {
  final case class Ev(
      eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String) {
    def payloadJson: String =
      s"""{"event_id":$eventId,"ts_us":$tsMicros,"user_id":$userId,""" +
        s""""event_type":${ShardStore.jsonString(eventType)},""" +
        s""""value":${ShardStore.jsonNumber(value)},"props":$props}"""
  }

  /** JSON string literal with full escaping — the payload must stay valid
    * JSON for any event_type value (from_json downstream returns null rows
    * on malformed documents, silently corrupting the replayed stream).
    */
  def jsonString(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** NaN/Infinity are not valid JSON numbers — emit null (what from_json
    * would produce for them anyway, but without poisoning the whole row).
    */
  def jsonNumber(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  // Two-level cache: the parquet read is once per PATH (the expensive,
  // data-sized part, shared by every layout variant); each (shards,
  // reshard, merge) layout is derived from that one shared array — a JVM
  // touching several layouts of the same file (tests do; a driver
  // reconfiguring shard count would) neither re-reads the file nor holds
  // duplicate copies of the event set.
  private val eventsCache = new ConcurrentHashMap[String, Array[Ev]]()
  private val cache =
    new ConcurrentHashMap[(String, Int, Option[Long], Option[Long]), Array[Array[Ev]]]()

  def shards(path: String, numShards: Int,
      reshardAtMicros: Option[Long] = None,
      mergeAtMicros: Option[Long] = None,
      hconf: Configuration = new Configuration()): Array[Array[Ev]] =
    cache.computeIfAbsent((path, numShards, reshardAtMicros, mergeAtMicros),
      { case (p, n, r, m) => load(p, n, r, m, hconf) })

  /** Shard layout. Without a reshard: N shards, userId % N. With a SPLIT
    * at T: records before T live in the (now sealed) parents 0..N-1 routed
    * userId % N; records at/after T live in children N..3N-1 routed
    * userId % 2N (child id N+j). Because userId%N == (userId%2N)%N, each
    * parent's key space is exactly its two children's union. With a MERGE
    * at T: post-T records live in children N..N+N/2-1 routed userId%(N/2)
    * (child id N+j ← parents j and j+N/2). In both layouts a parent's
    * record array is the same pre-T prefix it had in the un-resharded
    * layout (arrival order sorts pre-T first) — which is what makes v1→v2
    * checkpoint evolution exact.
    */
  private def load(path: String, numShards: Int,
      reshardAtMicros: Option[Long],
      mergeAtMicros: Option[Long],
      hconf: Configuration): Array[Array[Ev]] = {
    val evs = eventsCache.computeIfAbsent(path, p => loadEvents(p, hconf))
    val splitAt = reshardAtMicros.orElse(mergeAtMicros)
    splitAt match {
      case None =>
        val byShard = evs.groupBy(e => math.floorMod(e.userId, numShards.toLong).toInt)
        (0 until numShards).map { i =>
          byShard.getOrElse(i, Array.empty[Ev]).sortBy(e => (e.tsMicros, e.eventId))
        }.toArray
      case Some(t) =>
        val (pre, post) = evs.partition(_.tsMicros < t)
        val parents = pre.groupBy(e => math.floorMod(e.userId, numShards.toLong).toInt)
        val childMod =
          if (reshardAtMicros.isDefined) 2L * numShards else numShards / 2L
        val children =
          post.groupBy(e => math.floorMod(e.userId, childMod).toInt)
        ((0 until numShards).map(i => parents.getOrElse(i, Array.empty[Ev])) ++
          (0 until childMod.toInt).map(j => children.getOrElse(j, Array.empty[Ev])))
          .map(_.sortBy(e => (e.tsMicros, e.eventId)))
          .toArray
    }
  }

  private def loadEvents(path: String, hconf: Configuration): Array[Ev] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      else Array(root)
    files.iterator.flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f).withConf(hconf).build()
      // ts unit varies by fixture generation: TIMESTAMP(NANOS|MICROS|MILLIS)
      // annotation, or a bare INT64 of nanos. Resolved from the first row's
      // schema so replay stays exact against any of them.
      var toMicros: Long => Long = null
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        if (toMicros == null) toMicros = tsUnitToMicros(g.getType.getType("ts"))
        Ev(
          eventId = g.getLong("event_id", 0),
          tsMicros = toMicros(g.getLong("ts", 0)),
          userId = g.getLong("user_id", 0),
          eventType = g.getString("event_type", 0),
          value = g.getDouble("value", 0),
          props = g.getString("props", 0))
      }.toArray.iterator // drain fully before closing the reader
      finally reader.close()
    }.toArray
  }

  private def tsUnitToMicros(t: org.apache.parquet.schema.Type): Long => Long = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import LogicalTypeAnnotation.TimeUnit
    t.getLogicalTypeAnnotation match {
      case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        ts.getUnit match {
          case TimeUnit.NANOS  => v => v / 1000L
          case TimeUnit.MILLIS => v => v * 1000L
          case _               => v => v
        }
      case _ => v => v / 1000L // unannotated INT64: fixture nanos
    }
  }
}
