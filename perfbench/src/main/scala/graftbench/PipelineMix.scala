package graftbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.{QueryDef, SparkEntry, Tables}
import graft.functions.{JaroWinklerUtil, MinHashUtil, SimHashUtil, TextKernelUtil, VectorOpsUtil}

object PipelineMix {
  /** Kernel-, blocking-join- and loop-bound pipeline operators, plus the
    * as-of join (q19) that exercises the engine's own planner strategy. */
  val Queries: Seq[String] = Seq("q27_minhash_lsh", "q30_cosine_topk",
    "q123_editdist_join", "q124_jaccard_prefix", "q159_pagerank",
    "q404_dbscan", "q243_sql_dedup_clusters", "q19_asof_join")
}

/** A closed loop with one client: passes over the mix, each query written
  * to the noop sink, in a seeded order per pass.
  *
  * Set-up runs one pass that writes each result for the oracle check; it
  * also loads the fixtures and warms the JIT and codegen caches. Timed
  * passes start while they are expected to end inside the `seconds`
  * window; at least one runs (two in a traced run, which alternates
  * passes with the listeners off and on to measure what tracing costs).
  */
final class PipelineMix(ctx: Ctx) {
  import ctx._

  private val names = PipelineMix.Queries
  private val defs: Seq[QueryDef] = names.map(n =>
    SparkEntry.allDefs.find(_.name == n).getOrElse(sys.error(s"no query $n")))
  private val errors = mutable.LinkedHashMap.empty[String, String]

  private def guarded(q: QueryDef)(body: => Unit): Unit =
    try body
    catch { case e: Throwable =>
      errors.getOrElseUpdate(q.name, s"${e.getClass.getName}: ${e.getMessage}"
        .linesIterator.nextOption().getOrElse(""))
    }

  private def noop(q: QueryDef): Unit =
    q.fn(spark, data).write.format("noop").mode("overwrite").save()

  def run(): Map[String, Any] = {
    val probe = if (trace.enabled) Some(new Probe(spark, trace)) else None
    // A traced run also counts the set-up pass's joins: it is the pass that
    // builds the candidate sets the engine caches by content (q27, q243).
    probe.foreach(_.attach())
    val setupJoinRows = defs.map { q =>
      val group = s"setup:${q.name}"
      spark.sparkContext.setJobGroup(group, group)
      probe.foreach(_.current = group)
      guarded(q) {
        q.fn(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/results/${q.name}")
      }
      spark.sparkContext.clearJobGroup()
      probe.foreach(_ => org.apache.spark.BusShim.drain(spark.sparkContext))
      q.name -> probe.map(_.stats(group).maxJoinRows).getOrElse(0L)
    }.toMap
    probe.foreach(_.detach())
    val warmEndUs = Trace.nowUs()

    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val walls = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val minPasses = if (trace.enabled) 2 else 1
    while (passes.size < minPasses || elapsed + median(walls.toSeq) <= seconds) {
      val p = passes.size
      // Which of the two kinds goes first alternates with the seed.
      val traced = probe.isDefined && (p + seed) % 2 == 1
      if (traced) probe.get.attach()
      val gc0 = Harness.gcSeconds()
      val passId = s"pass$p"
      val passSpan = trace.nextId()
      val passStart = Trace.nowUs()
      val perQuery = rng.shuffle(defs).map { q =>
        val group = s"$passId:${q.name}"
        spark.sparkContext.setJobGroup(group, group)
        val qSpan = trace.nextId()
        probe.foreach { pr =>
          pr.current = group; pr.parentOf(group) = qSpan; pr.traceOf(group) = passId
        }
        val s0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        if (traced)
          trace.span(passId, passSpan, "operators", q.name, qSpan)(guarded(q)(noop(q)))
        else guarded(q)(noop(q))
        val wall = (System.nanoTime() - n0) / 1e9
        val s1 = System.currentTimeMillis()
        spark.sparkContext.clearJobGroup()
        q.name -> (if (!traced) Map[String, Any]("wall_s" -> wall) else {
          org.apache.spark.BusShim.drain(spark.sparkContext)
          val st = probe.get.stats(group)
          Map[String, Any]("wall_s" -> wall, "task_s" -> st.taskMs / 1000.0,
            "plan_s" -> st.planNs / 1e9, "jobs" -> st.jobs, "stages" -> st.stages,
            "shuffle_write_bytes" -> st.shuffleWriteBytes,
            "spill_bytes" -> st.spillBytes, "max_join_rows" -> st.maxJoinRows,
            "asof_matched_rows" -> st.asofMatched,
            "idle_s" -> probe.get.idleMs(group, s0, s1) / 1000.0)
        })
      }
      val wall = perQuery.map(_._2("wall_s").asInstanceOf[Double]).sum
      if (traced) {
        trace.add(Span(passSpan, 0L, passId, "bench", passId, passStart, Trace.nowUs()))
        probe.get.detach()
      }
      walls += wall
      passes += Map("traced" -> traced, "wall_s" -> wall,
        "gc_s" -> (Harness.gcSeconds() - gc0), "queries" -> perQuery.toMap)
    }
    val heap = Harness.heapLiveMb(spark)
    Map("workload_queries" -> names, "warm_end_us" -> warmEndUs,
      "errors" -> errors, "oracle" -> defs.flatMap(q => q.oracle.map(q.name -> _)).toMap,
      "passes" -> passes, "heap_live_mb" -> heap,
      "setup_max_join_rows" -> setupJoinRows,
      "kernels" -> (if (trace.enabled) kernels() else Map.empty[String, Double]))
  }

  /** Nanoseconds per direct call of the engine's kernels over fixture rows,
    * as the median of five timed sweeps, each recorded as a span. */
  private def kernels(): Map[String, Double] = {
    val docs = Tables.documents(spark, data).select("text").limit(2000)
      .collect().map(r => tokens(r.getString(0)))
    val names = Tables.customer(spark, data).select("c_name").limit(2000)
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs = Tables.embeddings(spark, data).select("embedding").limit(2000)
      .collect().map(r => UnsafeArrayData.fromPrimitiveArray(
        r.getSeq[Float](0).toArray): ArrayData)
    def time(name: String, calls: Int)(sweep: => Unit): (String, Double) = {
      val ns = (1 to 5).map { i =>
        val n0 = System.nanoTime()
        trace.span(s"kernel:$name:$i", 0L, "functions", name)(sweep)
        (System.nanoTime() - n0).toDouble / calls
      }.sorted
      name -> ns(2)
    }
    val out = Seq(
      time("minhash_ns", docs.length) {
        docs.foreach(t => sink += Option(MinHashUtil.signature(t, 64)).map(_.length).getOrElse(0))
      },
      time("simhash_ns", docs.length) {
        docs.foreach(t => sink += SimHashUtil.signature(t).longValue)
      },
      time("jaro_winkler_ns", names.length - 1) {
        names.sliding(2).foreach(p => sink += (JaroWinklerUtil.jw(p(0), p(1)) * 100).toLong)
      },
      time("l2sq_ns", vecs.length) {
        vecs.foreach(v => sink += VectorOpsUtil.l2sq(v, true).longValue)
      },
      time("ngrams_ns", docs.length) {
        docs.foreach(t => sink += TextKernelUtil.ngrams(t, 3, true).numElements())
      })
    out.toMap
  }

  /** Folds every kernel result in, so the JIT cannot drop the calls. */
  @volatile private var sink = 0L

  private def tokens(text: String): ArrayData =
    new GenericArrayData(text.split(' ').map(UTF8String.fromString).toArray[Any])
}
