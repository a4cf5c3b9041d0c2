package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress audit (dev tooling; not part of the driver's bench
  * contract — that is [[Bench]]): replicates the sf0.1 fixtures REP×
  * with remapped ids into a temp dir, times a battery of registered
  * queries at ×1 and ×REP in one warm session, and prints ONE JSON line
  * with per-item times, the wall-time scaling exponent
  * log(tN/t1)/log(REP), and the peak driver heap during the ×REP run.
  * Every 100-TB claim in SURVEY/VERDICT so far is a plan-shape argument;
  * this main turns the top registered queries' scaling into a measured
  * artifact (bench/SCALEBENCH_r12.json).
  *
  * Replication semantics (copy r of REP, r = 0 byte-identical):
  *  - key domains offset by r·(max+1), referentially consistent across
  *    customer/orders/lineitem/supplier/part, so joins scale without
  *    fan-out artifacts;
  *  - customer names regenerated from the REMAPPED key in the fixture's
  *    Customer#%09d format — otherwise 10 byte-identical copies of each
  *    name turn the edit-distance join's output quadratic in REP (a
  *    fixture artifact, not an engine property);
  *  - document text tokens suffixed "~r" per copy — copies are
  *    gram-disjoint, so near-dup relations scale as REP independent
  *    corpora instead of exploding REP² cross-copy duplicate pairs;
  *  - region/nation (5/25-row dimensions) kept as-is;
  *  - events ids offset, ts rewritten as INT64 nanos (the loader's
  *    fallback unit — TIMESTAMP(NANOS) cannot be written back natively).
  *
  * Id-CAPPED queries (q404/q432/q353 fix their domain with vec_id/doc_id
  * predicates so their brute oracles stay bounded) are timed too: their
  * caps hold on the scaled dir by construction (copies land above the
  * cap), so their measured exponent reads the SCAN-side scaling the
  * pushed filter leaves behind — near-flat is the pass condition. The
  * clustering operator itself is scale-stressed separately as
  * op_dbscan_grid: dbscanGrid over REP spatially-translated copies of
  * the q404 point set (disjoint eps-grids — same local density, REP×
  * the points, the honest "more corpus, same distribution" shape).
  *
  * Env: SPARK_GRAFT_SF_DIR (base fixtures), SPARK_GRAFT_SCALE_REP
  * (default 10); cores as in [[GraftSession.local]].
  */
object ScaleBench {
  private def loadavg: Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_SCALE_REP", "10").toInt
    require(rep >= 2, "SPARK_GRAFT_SCALE_REP must be >= 2")
    val spark = GraftSession.local()
    val la0 = loadavg

    // ---- build the ×REP fixture dir (untimed) ------------------------
    // SPARK_GRAFT_SCALE_KEEP=<dir>: build (and keep) the scaled fixtures
    // there instead of a deleted-at-exit temp dir — so PlanDump can be
    // pointed at the ×REP inputs (e.g. the q09 WindowGroupLimit check).
    val keepDir = sys.env.get("SPARK_GRAFT_SCALE_KEEP")
    val outDir = keepDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_scale").toString)
    def keySpan(df: DataFrame, c: String): Long = {
      val row = df.agg(max(col(c))).head
      require(!row.isNullAt(0),
        s"keySpan($c): empty table or all-null key — bad fixture dir?")
      val m = row.getLong(0)
      require(m >= 0L, s"keySpan($c): negative max key $m would make " +
        "replica key domains overlap")
      m + 1L
    }
    val r = explode(expr(s"sequence(0, ${rep - 1})")).as("r")
    def off(c: String, span: Long) = (col(c) + col("r") * lit(span)).as(c)

    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val part = Tables.part(spark, sfDir)
    val ords = Tables.orders(spark, sfDir)
    val line = Tables.lineitem(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)
    val evts = Tables.events(spark, sfDir)
    val (ck, sk, pk, ok, dk, vk, ek) = (
      keySpan(cust, "c_custkey"), keySpan(supp, "s_suppkey"),
      keySpan(part, "p_partkey"), keySpan(ords, "o_orderkey"),
      keySpan(docs, "doc_id"), keySpan(embs, "vec_id"),
      keySpan(evts, "event_id"))

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.coalesce(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    write(cust.select(col("*"), r)
      .select(off("c_custkey", ck),
        format_string("Customer#%09d", col("c_custkey") + col("r") * ck)
          .as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 2)
    write(supp.select(col("*"), r)
      .select(off("s_suppkey", sk), col("s_name"), col("s_nationkey"),
        col("s_acctbal")), "supplier", 1)
    write(part.select(col("*"), r)
      .select(off("p_partkey", pk), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")), "part", 2)
    write(ords.select(col("*"), r)
      .select(off("o_orderkey", ok), off("o_custkey", ck),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")), "orders", 4)
    write(line.select(col("*"), r)
      .select(off("l_orderkey", ok), off("l_partkey", pk),
        off("l_suppkey", sk), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 8)
    write(docs.select(col("*"), r)
      .select(off("doc_id", dk),
        when(col("r") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("r"))), " ")).as("text"),
        col("lang"), col("source"), col("n_chars")), "documents", 4)
    write(embs.select(col("*"), r)
      .select(off("vec_id", vk), col("embedding"), col("label")),
      "embeddings", 2)
    // events: user_id is deliberately NOT offset, so the REP copies
    // share the user domain — event-family exponents (q09 windows, q19
    // as-of) therefore measure PER-USER DENSITY scaling (xREP events per
    // user), not REP independent user populations. Documented rather
    // than changed (ADVICE r12): the window/as-of work is keyed on
    // user_id, so more rows per key is the harsher (skew-shaped) test.
    write(evts.select(col("*"), r)
      .select(off("event_id", ek),
        expr("unix_micros(ts) * 1000").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")),
      "events", 4)
    // region/nation: bounded dimensions, copied as-is.
    write(Tables.region(spark, sfDir), "region", 1)
    write(Tables.nation(spark, sfDir), "nation", 1)

    // ---- timing harness ----------------------------------------------
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakMb: Long = heapPools.map(_.getPeakUsage.getUsed).sum / (1 << 20)

    def time(fn: => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val registered = Seq(
      "q01_pricing_summary", "q03_top_orders", "q05_star_join",
      "q09_window_topk", "q19_asof_join", "q123_editdist_join",
      "q124_jaccard_prefix", "q159_pagerank", "q298_fd_discovery",
      "q400_cox_ph2", "q410_loo_source_ppl",
      // id-capped (pushed-filter pruning keeps these near-flat):
      "q404_dbscan", "q432_closeness_pivot_audit",
      "q353_image_dup_clusters")
    // Operator-level scale stress: REP spatially-translated copies of the
    // q404 point set — disjoint eps-grids, same local density.
    def dbscanPoints(d: String, copies: Int): DataFrame =
      Tables.embeddings(spark, d).filter(col("vec_id") < 1024)
        .select(col("vec_id"), col("embedding"),
          explode(expr(s"sequence(0, ${copies - 1})")).as("t"))
        .select((col("vec_id") + col("t") * 1024L).as("vec_id"),
          (col("embedding").getItem(0) + col("t") * 4.0).as("px"),
          col("embedding").getItem(1).as("py"))
    def opDbscan(d: String, copies: Int): DataFrame =
      operators.Similarity.dbscanGrid(dbscanPoints(d, copies), "vec_id",
        col("px"), col("py"), epsMicro = 20000L, minPts = 5)

    val items = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def run(name: String, at1: => DataFrame, atN: => DataFrame): Unit = {
      time(at1) // warm (plans, codegen, parquet footers)
      // min-of-3 on both sides: this box shows ~20 s contention spikes
      // that poison a min-of-2 (a q124 ×1 read 22.6 s against its
      // same-session min-of-3 of 4.1 s).
      val t1 = Seq(time(at1), time(at1), time(at1)).min
      resetPeak()
      val tN = Seq(time(atN), time(atN), time(atN)).min
      val exp = math.log(tN / t1) / math.log(rep.toDouble)
      items(name) = f""""$name":{"t1":$t1%.3f,"tN":$tN%.3f,""" +
        f""""exponent":$exp%.3f,"peak_heap_mb":$peakMb}"""
      System.err.println(s"[scale] $name ×1=$t1 ×$rep=$tN exp=$exp")
    }
    registered.foreach { n =>
      val fn = SparkEntry.queries(n)
      run(n, fn(spark, sfDir), fn(spark, outDir))
    }
    run("op_dbscan_grid", opDbscan(sfDir, 1), opDbscan(sfDir, rep))

    println(s"""{"metric":"scalebench","rep":$rep,""" +
      s""""items":{${items.values.mkString(",")}},""" +
      s""""loadavg_before":$la0,"loadavg_after":$loadavg,""" +
      s""""sf":"$sfDir","scaled_dir_rows_lineitem":${rep * 600000L}}""")
    spark.stop()
    if (keepDir.isEmpty)
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(outDir))
      catch { case _: Throwable => () }
  }
}
