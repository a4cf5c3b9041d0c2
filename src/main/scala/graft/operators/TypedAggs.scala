package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed custom aggregation surface (SURVEY.md §2.5 UDF/UDAF row).
  *
  * `TopK` is an `Aggregator[IN, BUF, OUT]` bounded heap: each partition
  * keeps at most k rows per group during the map-side partial, so the
  * shuffle carries k rows per (partition, group) instead of the full
  * group. It is q34's typed-Aggregator demonstration only. Operators
  * rank top-k per key with `row_number() <= k`, whose Partial
  * `WindowGroupLimit` gives the same bound below the exchange. q34's
  * output is identical to that window formulation (q09), the oracle.
  */
object TypedAggs {

  /** Generic bounded top-k heap: keeps the `ord`-least k elements. Each
    * map-side partial holds at most k rows per (partition, group), so the
    * shuffle carries k rows per partition per group instead of the whole
    * group. Scala `Ordering` and the captured lambda are serializable, so
    * instances ship to executors as-is.
    */
  class BoundedTopK[T](k: Int, ord: Ordering[T])(
      implicit tt: scala.reflect.runtime.universe.TypeTag[T])
      extends Aggregator[T, Seq[T], Seq[T]] {
    override def zero: Seq[T] = Vector.empty
    override def reduce(b: Seq[T], a: T): Seq[T] =
      // common case at scale: the row doesn't beat the current worst keeper
      if (b.length == k && ord.compare(a, b.last) >= 0) b
      else ((b :+ a).sorted(ord)).take(k)
    override def merge(b1: Seq[T], b2: Seq[T]): Seq[T] =
      (b1 ++ b2).sorted(ord).take(k)
    override def finish(r: Seq[T]): Seq[T] = r
    override def bufferEncoder: Encoder[Seq[T]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[T]] = ExpressionEncoder()
  }

  /** Misra–Gries heavy-hitters summary: at most k counters plus the exact
    * total item count (which rides along so the threshold pass needs no
    * second scan).
    */
  final case class MgSummary(counts: Map[String, Long], total: Long)

  /** Misra–Gries frequent-items sketch over a string stream. The buffer
    * holds at most k counters; stored counts undercount true frequency by
    * at most total/(k+1), and the undercount bound survives merging
    * (Agarwal et al., "Mergeable Summaries", PODS 2012) — so every item
    * with true frequency > total/(k+1) is GUARANTEED to be among the
    * candidates. That guarantee is what makes a sketch usable under an
    * exact oracle: filter the corpus to the candidate set (tiny, broadcast
    * into the scan), count exactly, and keep items above a threshold
    * coarser than the sketch error — the result is the exact answer set,
    * independent of partitioning or merge order.
    *
    * The scale property: a plain groupBy-count heavy-hitters query
    * shuffles one row per DISTINCT token (billions at corpus scale); this
    * pass shuffles k counters per map partition, and the follow-up exact
    * count filters to ≤ k tokens BEFORE its shuffle.
    *
    * Decrement-all is O(k) but fires at most total/k times (each firing
    * removes k count mass, each row adds 1), so the pass stays O(total).
    */
  class MisraGries(k: Int)
      extends Aggregator[String, MgSummary, (Seq[String], Long)] {
    override def zero: MgSummary = MgSummary(Map.empty, 0L)
    override def reduce(b: MgSummary, tok: String): MgSummary = {
      val m = b.counts
      val m2 = m.get(tok) match {
        case Some(c) => m.updated(tok, c + 1)
        case None if m.size < k => m.updated(tok, 1L)
        case None => m.collect { case (t, c) if c > 1 => t -> (c - 1) }
      }
      MgSummary(m2, b.total + 1)
    }
    override def merge(b1: MgSummary, b2: MgSummary): MgSummary = {
      val sum = (b1.counts.keySet ++ b2.counts.keySet).iterator
        .map(t => t -> (b1.counts.getOrElse(t, 0L) + b2.counts.getOrElse(t, 0L)))
        .toMap
      val pruned =
        if (sum.size <= k) sum
        else {
          // Subtract the (k+1)th-largest count from all; ties with the cut
          // drop too, so at most k survive and the error bound still holds.
          val cut = sum.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
          sum.collect { case (t, c) if c > cut => t -> (c - cut) }
        }
      MgSummary(pruned, b1.total + b2.total)
    }
    override def finish(b: MgSummary): (Seq[String], Long) =
      (b.counts.keys.toSeq.sorted, b.total)
    override def bufferEncoder: Encoder[MgSummary] = ExpressionEncoder()
    override def outputEncoder: Encoder[(Seq[String], Long)] = ExpressionEncoder()
  }

  final case class LiRow(
      l_suppkey: Long, l_orderkey: Long, l_linenumber: Int, l_extendedprice: Double)

  /** Bounded top-k by (l_extendedprice desc, l_orderkey, l_linenumber). */
  final class TopK(k: Int) extends BoundedTopK[LiRow](k,
    Ordering.by((r: LiRow) => (-r.l_extendedprice, r.l_orderkey, r.l_linenumber.toLong)))

  // ---- q34: per-supplier top-3 via the typed bounded-heap aggregator ---------
  // Same answer as q09 (the window/row_number formulation) — asserted by
  // sharing q09's oracle SQL.
  private def q34(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .as[LiRow]
    val top = new TopK(3).toColumn
    li.groupByKey(_.l_suppkey)
      .agg(top.name("top"))
      .flatMap { case (_, rows) => rows.zipWithIndex.map { case (r, i) => (r, i + 1) } }
      .select(col("_1.l_suppkey").as("l_suppkey"),
        col("_1.l_orderkey").as("l_orderkey"),
        col("_1.l_linenumber").as("l_linenumber"),
        col("_1.l_extendedprice").as("l_extendedprice"),
        col("_2").cast("int").as("rn"))
      .orderBy(col("l_suppkey"), col("rn"))
  }
  private val q34Sql =
    """SELECT * FROM (
         SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
           row_number() OVER (PARTITION BY l_suppkey
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)::INT AS rn
         FROM lineitem) t
       WHERE rn <= 3 ORDER BY l_suppkey, rn"""

  // ---- q35: pivot (orders: priority columns per year) ------------------------
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def q35(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"))
      .pivot("o_orderpriority", Priorities)
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("y"))
  private val q35Sql =
    """SELECT year(o_orderdate)::INT AS y,
       round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2) AS "1-URGENT",
       round(sum(o_totalprice) FILTER (o_orderpriority = '2-HIGH'), 2) AS "2-HIGH",
       round(sum(o_totalprice) FILTER (o_orderpriority = '3-MEDIUM'), 2) AS "3-MEDIUM",
       round(sum(o_totalprice) FILTER (o_orderpriority = '4-NOT SPECIFIED'), 2) AS "4-NOT SPECIFIED",
       round(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2) AS "5-LOW"
       FROM orders GROUP BY y ORDER BY y"""

  // ---- q36: approximate distinct (HLL) ---------------------------------------
  // An approximate aggregate can't hash-match an exact oracle directly, so
  // the query emits the EXACT distinct count plus a `within_bound` boolean
  // that moves the ±5% accuracy assertion INTO the row — the oracle emits
  // literal true, so the row is fully hashable and the accuracy property is
  // oracle-checked every round (TypedAggsSpec asserts it too).
  private def q36(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("exact_customers"),
        approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
      .select(col("o_orderstatus"), col("exact_customers"),
        (abs(col("approx") - col("exact_customers")) <=
          col("exact_customers") * 0.05).as("within_bound"))
      .orderBy(col("o_orderstatus"))
  private val q36Sql =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_customers,
         true AS within_bound
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---- q83: sketch-verified heavy hitters ------------------------------------
  // Tokens occurring in more than 1/200th of the corpus. Pass 1 is the
  // Misra-Gries sketch (k=400 counters per partial, guarantee covers any
  // f > total/401 so the 1/200 threshold is safely inside it) and yields
  // candidates + exact total in ONE scan; pass 2 exact-counts ONLY the
  // candidate tokens (the IN-set filter reaches the scan, so the shuffle
  // carries k tokens' worth of rows, not the corpus vocabulary). The
  // collect between passes is one summary row of ≤ k strings — the
  // standard sketch-to-driver handoff, not a data collect. Thresholding
  // uses integer cross-multiplication so both engines compare exactly.
  private def q83(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
    val (cands, total) =
      toks.as[String].select(new MisraGries(400).toColumn).head()
    toks.filter(col("token").isInCollection(cands))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * 200 > lit(total))
      .orderBy(col("token"))
  }
  private val q83Sql =
    """WITH toks AS (
         SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       SELECT token, count(*) AS n_occurrences
       FROM toks GROUP BY token
       HAVING count(*) * 200 > (SELECT count(*) FROM toks)
       ORDER BY token"""

  // ---- q113: per-group heavy hitters (keyed sketch) ----------------------------
  // The Misra-Gries pass run PER GROUP via groupByKey.agg — the keyed form
  // a "top terms per language/source" report needs at corpus scale: one
  // bounded sketch per (partition, group) merges to one per group, then
  // the exact-count verify (q83's pattern) filters each group's candidates
  // against ITS total, so the final rows are exact per group. Oracle:
  // plain per-group counts with a correlated HAVING threshold.
  private def q113(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    val mg = new MisraGries(200).toColumn
    val perLang = toks.as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(mg.name("sketch"))
      .select(col("key").as("lang"), col("sketch._1").as("cands"),
        col("sketch._2").as("lang_total"))
    toks.join(perLang, "lang")
      .filter(array_contains(col("cands"), col("token")))
      .groupBy(col("lang"), col("token"), col("lang_total"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * 100 > col("lang_total"))
      .select(col("lang"), col("token"), col("n_occurrences"))
      .orderBy(col("lang"), col("token"))
  }
  private val q113Sql =
    """WITH toks AS (
         SELECT lang, unnest(string_split(text, ' ')) AS token
         FROM documents),
       totals AS (SELECT lang, count(*) AS t FROM toks GROUP BY 1)
       SELECT toks.lang, token, count(*) AS n_occurrences
       FROM toks JOIN totals ON toks.lang = totals.lang
       GROUP BY toks.lang, token, t
       HAVING count(*) * 100 > t
       ORDER BY toks.lang, token"""

  // ---- q105: typed cogroup ----------------------------------------------------
  // KeyValueGroupedDataset.cogroup — the typed per-key escape hatch for
  // logic no relational operator expresses (custom merges, per-key state
  // machines over two inputs). Here the per-key function is a verifiable
  // stand-in (count both sides), so the DuckDB oracle — a full outer
  // join of two aggregates — pins the cogroup plumbing: every key from
  // EITHER side appears exactly once with both iterators presented.
  //
  // Scale: both sides shuffle once on the key (CoGroup plans two
  // exchanges, one per input); the per-key closure streams its
  // iterators, so memory is O(1) per key unless the closure buffers.
  private def q105(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select(col("user_id")).as[Long]
      .groupByKey(identity)
    val ord = Tables.orders(s, d).select(col("o_custkey")).as[Long]
      .groupByKey(identity)
    ev.cogroup(ord) { (k, evs, ords) =>
        Iterator.single((k, evs.size.toLong, ords.size.toLong))
      }
      .select(col("_1").as("user_id"), col("_2").as("n_events"),
        col("_3").as("n_orders"))
      .orderBy(col("user_id"))
  }
  private val q105Sql =
    """SELECT coalesce(e.user_id, o.o_custkey) AS user_id,
         coalesce(ne, 0)::BIGINT AS n_events,
         coalesce(no, 0)::BIGINT AS n_orders
       FROM (SELECT user_id, count(*) AS ne FROM events GROUP BY 1) e
       FULL OUTER JOIN
         (SELECT o_custkey, count(*) AS no FROM orders GROUP BY 1) o
         ON e.user_id = o.o_custkey
       ORDER BY user_id"""

  /** Longest strictly-increasing run of `valCol` per key, in
    * (ordCol, tieCol) order — the demonstration query for the SECONDARY
    * SORT escape hatch: `flatMapSortedGroups` hands each key's rows as an
    * iterator already sorted by the engine (sorted on the shuffle files,
    * never materialized per group), so order-dependent per-key logic that
    * no aggregate/window expresses cleanly runs in O(1) memory per group.
    * Contrast with the window form (the oracle): gaps-and-islands needs
    * two window passes plus an aggregation; the sorted fold is one pass.
    *
    * Scale: one exchange on the key; the per-key sort rides the shuffle
    * spill machinery (same cost class as any window over the key), and
    * the fold state is two counters — a million-row key costs nothing
    * beyond its scan.
    */
  def longestIncreasingRun(df: DataFrame, keyCol: String, ordCol: String,
      tieCol: String, valCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(keyCol).cast("long").as("__k"),
        col(ordCol).cast("long").as("__o"),
        col(tieCol).cast("long").as("__t"),
        col(valCol).cast("double").as("__v"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      // sort exprs resolve against the child's columns, not the tuple
      .flatMapSortedGroups(col("__o"), col("__t")) { (key, rows) =>
        var best = 0L
        var cur = 0L
        var prev = Double.NaN
        rows.foreach { r =>
          cur = if (cur > 0 && r._4 > prev) cur + 1 else 1
          if (cur > best) best = cur
          prev = r._4
        }
        Iterator.single((key, best))
      }
      .select(col("_1").as(keyCol), col("_2").as("longest_run"))
  }

  // ---- q144: longest increasing run (secondary-sort fold) --------------------
  // Per user: the longest strictly-increasing stretch of event values in
  // time order. Oracle = the classic two-window gaps-and-islands.
  private def q144(s: SparkSession, d: String): DataFrame =
    longestIncreasingRun(Tables.events(s, d), "user_id", "ts", "event_id",
        "value")
      .orderBy(col("user_id"))
  private val q144Sql =
    """WITH s AS (
         SELECT user_id, ts, event_id, value,
           CASE WHEN value > lag(value) OVER w THEN 0 ELSE 1 END AS brk
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       r AS (
         SELECT user_id, sum(brk) OVER w2 AS grp
         FROM s
         WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
       runs AS (
         SELECT user_id, grp, count(*) AS len FROM r GROUP BY 1, 2)
       SELECT user_id, max(len)::BIGINT AS longest_run
       FROM runs GROUP BY user_id ORDER BY user_id"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q34_topk_aggregator", q34, Some(q34Sql)),
    QueryDef("q35_pivot", q35, Some(q35Sql)),
    QueryDef("q36_approx_distinct", q36, Some(q36Sql)),
    QueryDef("q83_heavy_hitters", q83, Some(q83Sql)),
    QueryDef("q105_typed_cogroup", q105, Some(q105Sql)),
    QueryDef("q113_grouped_heavy_hitters", q113, Some(q113Sql)),
    QueryDef("q144_longest_run", q144, Some(q144Sql)))
}
