package graft

import org.apache.spark.sql.graftshim.GraftShim

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":…,"value":N,"unit":"sec","queries":{…}}.
  *
  * Each query is fully executed into the noop sink — unlike count(), noop
  * materializes every output column, so projection-heavy queries can't be
  * pruned down to a row count. Times include scan+shuffle+agg — what a
  * cluster would spend — not JVM/session startup (one warm-up first).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // Sum of executorRunTime across all tasks, sampled around each pass:
    // the additive "task_time_sec" readout that separates task-side
    // scaling from the driver-planning floor (a core-count change moves
    // wall only where task time dominates — at small SFs it mostly does
    // not, which is a property of the fixture, not an ignored $CPUS).
    // The listener bus is async; each pass drains it (outside the
    // wall-clock timing) before the next pass samples the counter.
    val taskMillis = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            taskMillis.addAndGet(t.taskMetrics.executorRunTime)
      })

    // Per-query isolated warm-up (JIT + codegen caches + parquet footers
    // hot IMMEDIATELY before timing — a global warm sweep lets six other
    // queries churn the caches in between and was the prime suspect in a
    // 2.5x round-over-round swing on q19), then three timed passes taking
    // the minimum — steady-state timing robust to scheduler noise on a
    // shared machine; a cluster amortizes compilation the same way.
    // A failed query must not masquerade as a fast one: record the error
    // and surface it in the JSON.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val taskSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def once(q: QueryDef): Double = {
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        errors.getOrElseUpdate(q.name,
          Option(e.getMessage).flatMap(_.linesIterator.nextOption())
            .getOrElse(e.getClass.getName))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftShim.drainListenerBus(spark) // not part of the timed pass
      wall
    }
    // A timed pass that also records the pass's task time; the reported
    // task_time_sec per query is the MINIMUM across timed passes — the
    // same quiet-pass selection the wall metric uses.
    def onceTracked(q: QueryDef): Double = {
      val m0 = taskMillis.get()
      val wall = once(q)
      val dt = (taskMillis.get() - m0) / 1e3
      taskSec.updateWith(q.name) {
        case Some(prev) => Some(math.min(prev, dt))
        case None => Some(dt)
      }
      wall
    }

    // Optional arg: "all" times the ENTIRE query surface (the per-round
    // full-bench artifact — catches regressions in heavy operators the
    // headline set never times), or comma-separated name prefixes for a
    // picked subset (dev tool). The driver invokes with no args.
    val picked = args.headOption match {
      case Some("all") => SparkEntry.allDefs
      case Some(names) =>
        val want = names.split(',').toSeq
        SparkEntry.allDefs.filter(q => want.exists(q.name.startsWith))
      case None => SparkEntry.headlines
    }
    // Per-pass times + machine load go into the artifact so a
    // contaminated run is identifiable from the JSON alone: min-of-3
    // defends against a transient spike, but when the machine is loaded
    // for the whole window all three passes inflate together — visible
    // as high pass variance and/or a high loadavg, without rerunning.
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").head.toDouble
      catch { case _: Throwable => -1.0 }
    // Two sweeps over the whole list, the second in REVERSE order, each
    // query re-warmed immediately before its timings: machine load grows
    // monotonically through a long sweep (r9: loadavg 0.99 -> 4.91), so
    // back-to-back min-of-3 systematically inflates whatever registered
    // last; the reverse sweep gives every query one head-of-run-shaped
    // measurement and min-of-3 picks the quiet one.
    // Quiet-start gate INSIDE the timing harness: a shell-level wait
    // releases before sbt + JVM spin-up add their own load (r11 gate
    // run 2 started its sweep at loadavg 3.49 despite the outer wait),
    // so when SPARK_GRAFT_QUIET_LOAD is set the bench itself waits —
    // after session startup, immediately before the first warm pass —
    // until loadavg drops under the limit (capped so a stuck background
    // process can't wedge the gate). Unset = no wait (dev runs).
    sys.env.get("SPARK_GRAFT_QUIET_LOAD").map(_.toDouble).foreach { lim =>
      val maxWait =
        sys.env.getOrElse("SPARK_GRAFT_QUIET_MAX_SECONDS", "600").toInt
      val deadline = System.nanoTime() + maxWait * 1000000000L
      while (loadavg() >= lim && System.nanoTime() < deadline)
        Thread.sleep(5000)
    }
    val loadBefore = loadavg()
    val t1 = picked.map { q =>
      once(q) // isolated warm pass
      q.name -> Seq(onceTracked(q), onceTracked(q))
    }.toMap
    val loadMid = loadavg()
    val results = picked.reverse.map { q =>
      once(q) // re-warm: the forward sweep's caches are long gone
      q.name -> (t1(q.name) :+ onceTracked(q))
    }.reverse
    val loadAfter = loadavg()
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v.min }
      .mkString("{", ",", "}")
    val passes = results
      .map { case (k, v) => jstr(k) + ":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val taskJson = results
      .map { case (k, _) => jstr(k) + ":" + taskSec.getOrElse(k, 0.0) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2.min).sum else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"task_time_sec":$taskJson,"loadavg_before":$loadBefore,"loadavg_mid":$loadMid,"loadavg_after":$loadAfter,"errors":$errJson,"sf":${jstr(sfDir)}}""")
    spark.stop()
  }
}
