package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec

/** A checkpointed stateful query's steady triggers write the offset log,
  * the commit log and the state-store deltas without starting a process,
  * and the checkpoint they leave (with its `.crc` sidecars) restarts the
  * query exactly once.
  */
class CheckpointForkSpec extends SparkSpec {
  import spark.implicits._

  private val eventsPath = s"$sf/events.parquet"
  private implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  // Two copies of the stream at different rates, so the second copy of an
  // id often arrives triggers after the first, across the restart too; the
  // 60-day watermark spans the whole 30-day fixture, so nothing is late.
  private def doubled(): DataFrame = {
    def copy(perTrigger: Long) = StreamingOps.decode(Consumer.source(
      ConsumerConfig(eventsPath, numShards = 4,
        maxRecordsPerTrigger = Some(perTrigger))))
    StreamingOps.dedupWithinWatermark(copy(50).union(copy(30)), "60 days")
  }

  // Keyed by batch id: a batch replayed after the stop overwrites its own
  // entry, the idempotent-sink contract of foreachBatch.
  private val emitted = new ConcurrentHashMap[Long, Seq[Long]]()

  private def start(ckpt: String, trigger: Trigger): StreamingQuery =
    doubled().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        emitted.put(batchId, df.select(col("event_id")).as[Long].collect().toSeq)
        ()
      }.start()

  private def awaitBatches(q: StreamingQuery, n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.recentProgress.count(_.numInputRows > 0) < n) {
      assert(q.isActive && System.currentTimeMillis() < deadline,
        s"query stopped or timed out before $n data batches: ${q.exception}")
      Thread.sleep(20)
    }
  }

  private def hadoopLocalFsForks(events: Seq[RecordedEvent]) =
    events.filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName
        .startsWith("org.apache.hadoop.fs.RawLocalFileSystem"))))

  test("steady checkpointed triggers start no process; the checkpoint restarts exactly once") {
    val ckpt = Files.createTempDirectory("ckpt_forks")
    val q1 = start(ckpt.toString, Trigger.ProcessingTime(0L))
    awaitBatches(q1, 2)
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val before = q1.recentProgress.count(_.numInputRows > 0)
    awaitBatches(q1, before + 5)
    // One process of our own proves the recording sees process starts.
    new ProcessBuilder("true").start().waitFor()
    recording.stop()
    q1.stop()
    val jfr = Files.createTempFile("forks", ".jfr")
    recording.dump(jfr)
    recording.close()
    val events = RecordingFile.readAllEvents(jfr).asScala.toSeq
    assert(events.nonEmpty, "the recording saw no process start at all")
    val forks = hadoopLocalFsForks(events)
    assert(forks.isEmpty, s"${forks.size} of ${events.size} process starts " +
      s"came from RawLocalFileSystem, e.g.\n${forks.headOption.getOrElse("")}")

    val q2 = start(ckpt.toString, Trigger.AvailableNow())
    assert(q2.awaitTermination(120000) && q2.exception.isEmpty, q2.exception)
    val ids = emitted.values.asScala.toSeq.flatten
    val total = graft.Tables.events(spark, sf).count()
    assert(ids.size === total, "every id emitted once")
    assert(ids.distinct.size === total)

    def crcs(sub: String): Seq[JPath] =
      Files.walk(ckpt.resolve(sub)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".crc")).toSeq
    for (sub <- Seq("offsets", "commits", "state"))
      assert(crcs(sub).nonEmpty, s"no .crc sidecar under $sub/")
  }
}
