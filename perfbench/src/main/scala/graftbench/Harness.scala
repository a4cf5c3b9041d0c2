package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side. It runs one workload against the shipped
  * engine and writes what it measured to `<out>/result.json` (and, when
  * tracing, `<out>/spans.jsonl`). Statistics, correctness verdicts and
  * the printed result are the Python runner's job (perfbench/run.py).
  *
  * Arguments, as `--key value` pairs:
  *   --workload pipeline_mix | live_tail
  *   --out <output dir>   --seconds <window>   --seed <n>   --trace 0|1
  *   --data <fixture dir> (pipeline_mix)   --live <generator url> (live_tail)
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")
    Files.createDirectories(Paths.get(out))
    val trace = new Trace(opt.getOrElse("trace", "0") == "1")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.local(nproc)
    val sessionUs = Trace.nowUs()
    val ctx = Ctx(spark, opt.getOrElse("data", ""), out, opt("seconds").toDouble,
      opt("seed").toLong, trace)
    val body: Map[String, Any] = opt("workload") match {
      case "pipeline_mix" => new PipelineMix(ctx).run()
      case "live_tail" => new LiveTail(ctx, opt("live")).run()
      case w => sys.error(s"unknown workload $w")
    }
    val env = Map(
      "session_ready_us" -> sessionUs,
      "jvm_start_us" -> ManagementFactory.getRuntimeMXBean.getStartTime * 1000L,
      "nproc" -> nproc,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"))
    Files.writeString(Paths.get(out, "result.json"), Json(env ++ body))
    if (trace.enabled) trace.write(Paths.get(out, "spans.jsonl").toString)
    spark.stop()
  }

  /** Used heap, in MB, after full collections — what the run keeps live.
    * The listener bus is drained first, so events still queued behind a
    * loaded machine do not count; the pause between collections lets
    * Spark's ContextCleaner drop the shuffle, broadcast and checkpoint
    * blocks the first one unreferenced. */
  def heapLiveMb(spark: SparkSession): Double = {
    org.apache.spark.BusShim.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(500)
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Total JVM collection time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

/** What every workload gets: the session, its fixture directory,
  * its output directory, the window length, the seed and the tracer. */
final case class Ctx(spark: SparkSession, data: String, out: String,
    seconds: Double, seed: Long, trace: Trace)
