package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("retention buckets distinct users by cohort day and whole-week offset") {
    val e = Seq(
      // user 1: first touch day 1, returns day 8 (week 1) and day 9 (week 1
      // again — must count once)
      (1L, "2024-01-01"), (1L, "2024-01-08"), (1L, "2024-01-09"),
      // user 2: same cohort day, never returns
      (2L, "2024-01-01"),
      // user 3: later cohort, returns within week 0
      (3L, "2024-01-03"), (3L, "2024-01-04"))
      .toDF("user_id", "day")
      .select(col("user_id"), col("day").cast("timestamp").as("ts"))
    val got = Analytics.retention(e, "user_id", "ts")
      .orderBy("cohort_day", "bucket_offset")
      .select(col("cohort_day").cast("string"), col("bucket_offset"),
        col("users"))
      .as[(String, Long, Long)].collect()
    assert(got === Array(
      ("2024-01-01", 0L, 2L),
      ("2024-01-01", 1L, 1L),
      ("2024-01-03", 0L, 1L)))
  }

  test("retention plans as aggregate + join, not a window sort") {
    val e = Seq((1L, "2024-01-01")).toDF("user_id", "day")
      .select(col("user_id"), col("day").cast("timestamp").as("ts"))
    val plan = Analytics.retention(e, "user_id", "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window sort:\n$plan")
  }

  test("gapFillDaily densifies each key's span and forward-fills values") {
    // key a: days 1,2,5 observed (two rows on day 2); b: single day.
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 10.0),
      (1L, "2024-01-02 09:00:00", 20.0),
      (1L, "2024-01-02 11:00:00", 40.0),
      (1L, "2024-01-05 08:00:00", 5.0),
      (2L, "2024-02-10 12:00:00", 7.0))
      .toDF("user_id", "ts", "value")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
    val got = Analytics.gapFillDaily(e, "user_id", "ts", "value")
      .orderBy("k", "day")
      .select(col("k"), col("day").cast("string"), col("n_obs"),
        col("filled_avg"))
      .as[(Long, String, Long, Double)].collect()
    assert(got === Array(
      (1L, "2024-01-01", 1L, 10.0),
      (1L, "2024-01-02", 2L, 30.0), // avg of 20 and 40
      (1L, "2024-01-03", 0L, 30.0), // gap: carried forward
      (1L, "2024-01-04", 0L, 30.0),
      (1L, "2024-01-05", 1L, 5.0),
      (2L, "2024-02-10", 1L, 7.0)))
  }

  test("winsorize clips exactly the tail rows and averages the clamped values") {
    // group g: 1..20. p05 = 1.95, p95 = 19.05 (linear interpolation);
    // only 1 and 20 clip; avg = (1.95 + (2+..+19) + 19.05)/20 = 10.5.
    val df = (1 to 20).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val got = Analytics.winsorize(df, "grp", "v", 0.05, 0.95)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(got === Array(("g", 20L, 1L, 1L, 10.5)))
  }

  test("timeWeightedAvg weights by holding time and merges simultaneous points") {
    // u1: v=10 held 10s, then two SIMULTANEOUS points at +10s (15, 25 ->
    // mean 20) held 20s, then a terminal point (weight 0).
    // twap = (10*10 + 20*20) / 30 = 16.666667. u2: single point -> null.
    val e = Seq(
      (1L, "2024-01-01 00:00:00", 10.0),
      (1L, "2024-01-01 00:00:10", 15.0),
      (1L, "2024-01-01 00:00:10", 25.0),
      (1L, "2024-01-01 00:00:30", 99.0),
      (2L, "2024-01-01 00:00:00", 42.0))
      .toDF("user_id", "ts", "value")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
    val got = Analytics.timeWeightedAvg(e, "user_id", "ts", "value")
      .orderBy("user_id")
      .as[(Long, Long, Option[Double])].collect()
    assert(got === Array(
      (1L, 3L, Some(16.666667)),
      (2L, 1L, None)))
  }

  test("linearTrend recovers exact slope/intercept and nulls degenerate keys") {
    val df = Seq(
      (1L, 0.0, 1.0), (1L, 1.0, 3.0), (1L, 2.0, 5.0), // y = 2x + 1 exactly
      (2L, 5.0, 9.0))                                 // single point
      .toDF("k", "x", "y")
    val got = Analytics.linearTrend(df, "k", col("x"), col("y"))
      .orderBy("k")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
    assert(got === Array(
      (1L, 3L, Some(2.0), Some(1.0)),
      (2L, 1L, None, None)))
    val plan = Analytics.linearTrend(df, "k", col("x"), col("y"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"OLS must be one aggregation:\n$plan")
  }

  test("transitionMatrix counts ordered steps with deterministic tie-break") {
    // u1: a -> b -> b ; u2: a -> c. From 'a': b (p=.5), c (p=.5).
    // The two u1 events at t=2 order by the tie id (3 before 4), so the
    // chain is a,b,b - never a,b,a.
    val e = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 3L, "b"), (1L, 2L, 4L, "b"),
      (2L, 1L, 5L, "a"), (2L, 2L, 6L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.transitionMatrix(e, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("state", "next_state")
      .as[(String, String, Long, Double)].collect()
    assert(got === Array(
      ("a", "b", 1L, 0.5),
      ("a", "c", 1L, 0.5),
      ("b", "b", 1L, 1.0)))
  }

  test("concurrency sweep equals the global window form; ends release before starts") {
    // intervals: [1,5) [2,4) [4,6) — at t=4 one ends (-1) before one
    // starts (+1), so peak concurrency is 2, never 3.
    val iv = Seq((1L, 5L), (2L, 4L), (4L, 6L)).toDF("s", "e")
    val got = Analytics.concurrency(iv, "s", "e", partitions = 3)
      .orderBy("t", "delta", "concurrent")
      .as[(Long, Int, Long)].collect()
    assert(got === Array(
      (1L, 1, 1L),   // [1 opens
      (2L, 1, 2L),   // [2 opens -> 2 in flight
      (4L, -1, 1L),  // [2,4) closes FIRST at t=4
      (4L, 1, 2L),   // then [4,6) opens
      (5L, -1, 1L),
      (6L, -1, 0L))) // all closed
    assert(got.map(_._3).max === 2L, "half-open semantics cap the peak at 2")
    // the two-pass sweep must equal the single-task window formulation
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("t"), col("delta"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = iv.select(col("s").as("t"), lit(1).as("delta"))
      .unionAll(iv.select(col("e").as("t"), lit(-1).as("delta")))
      .withColumn("concurrent", sum(col("delta")).over(w))
      .as[(Long, Int, Long)].collect().sortBy(r => (r._1, r._2, r._3))
    assert(got.toSeq === naive.toSeq)
  }

  test("gapFillInterpolate draws the straight line between observations") {
    // key 1: observed day1=10, day2=30, day5=6 → days 3,4 interpolate the
    // 30→6 segment at 1/3 and 2/3; key 2: single day passes through.
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 10.0),
      (1L, "2024-01-02 09:00:00", 20.0),
      (1L, "2024-01-02 11:00:00", 40.0),
      (1L, "2024-01-05 08:00:00", 6.0),
      (2L, "2024-02-10 12:00:00", 7.0))
      .toDF("user_id", "ts", "value")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
    val got = Analytics.gapFillInterpolate(e, "user_id", "ts", "value")
      .orderBy("k", "day")
      .select(col("k"), col("day").cast("string"), col("n_obs"),
        col("interp_avg"))
      .as[(Long, String, Long, Double)].collect()
    assert(got === Array(
      (1L, "2024-01-01", 1L, 10.0),
      (1L, "2024-01-02", 2L, 30.0), // avg of 20 and 40
      (1L, "2024-01-03", 0L, 22.0), // 30 + (6-30)·1/3
      (1L, "2024-01-04", 0L, 14.0), // 30 + (6-30)·2/3
      (1L, "2024-01-05", 1L, 6.0),
      (2L, "2024-02-10", 1L, 7.0)))
  }

  test("percentileNoSort equals the sort-based exact percentile") {
    // Fixture column, tiny cutover so the narrowing loop actually runs.
    val li = graft.Tables.lineitem(spark, sf)
    val got = Analytics.percentileNoSort(li, "l_extendedprice",
        Seq(0.0, 0.25, 0.5, 0.75, 1.0), buckets = 16, cutover = 8)
      .orderBy("p").as[(Double, Double)].collect()
    val want = li.agg(expr(
        "percentile(l_extendedprice, array(0.0D, 0.25D, 0.5D, 0.75D, 1.0D))"))
      .collect()(0).getSeq[Double](0)
    got.zip(want).foreach { case ((p, g), w) =>
      assert(math.abs(g - w) < 1e-6, s"p=$p: $g vs $w")
    }

    // Duplicate flood: the median of many equal values must return that
    // value even though no range can split the duplicates.
    val dup = (Seq.fill(1000)(7.5) ++ Seq(1.0, 99.0)).toDF("x")
    val med = Analytics.percentileNoSort(dup, "x", Seq(0.5),
        buckets = 4, cutover = 2)
      .as[(Double, Double)].collect()(0)._2
    assert(med === 7.5)

    // Interpolation between two values: median of {1, 2} is 1.5.
    val two = Seq(1.0, 2.0).toDF("x")
    assert(Analytics.percentileNoSort(two, "x", Seq(0.5))
      .as[(Double, Double)].collect()(0)._2 === 1.5)
  }

  test("gapFillDaily never window-sorts the raw events, only the daily spine") {
    val e = Seq((1L, "2024-01-01 10:00:00", 1.0))
      .toDF("user_id", "ts", "value")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
    val df = Analytics.gapFillDaily(e, "user_id", "ts", "value")
    val plan = df.queryExecution.optimizedPlan.toString
    // The aggregate must sit BELOW the window in the plan tree: the window
    // input is the joined spine (|key × days| rows), not raw events.
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("Aggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected Window over the aggregated spine:\n$plan")
  }

  test("madProfile flags only the far outlier and survives a robust baseline") {
    // Nine values near 10 plus one at 1000: median 10, MAD 1 — the
    // mean/stddev z-score would be dragged by the outlier; MAD is not.
    val df = (Seq(8.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 1000.0))
      .map(("g", _)).toDF("g", "v")
    val got = Analytics.madProfile(df, "g", "v", k = 3)
      .as[(String, Long, Double, Double, Long)].head()
    assert(got === (("g", 10L, 10.0, 1.0, 1L)))
  }

  test("associationRules computes hand-checked support/confidence/lift") {
    // baskets: 1:{a,b}, 2:{a,b}, 3:{a}, 4:{b} → N=4, n_a=3, n_b=3, n_ab=2.
    val df = Seq((1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "b"),
      (1, "a")) // duplicate membership must not double-count
      .toDF("basket", "item")
    val got = Analytics.associationRules(df, "basket", "item")
      .orderBy($"a", $"b")
      .select($"a", $"b", $"n_ab", $"support_micro", $"conf_micro", $"lift_micro")
      .as[(String, String, Long, Long, Long, Long)].collect()
    // support = 2/4, conf = 2/3, lift = (2/3)/(3/4) = 8/9 (two-floor form:
    // (666666 * 4) div 3 = 888888).
    assert(got === Array(
      ("a", "b", 2L, 500000L, 666666L, 888888L),
      ("b", "a", 2L, 500000L, 666666L, 888888L)))
  }

  test("topKWithTies keeps every row tying the k-th value") {
    val df = Seq(("s", 5), ("s", 5), ("s", 4), ("s", 4), ("s", 3), ("t", 1))
      .toDF("g", "v")
    val got = Analytics.topKWithTies(df, "g", "v", k = 2)
      .select($"g", $"v", $"rnk").orderBy($"g", $"rnk", $"v")
      .as[(String, Int, Int)].collect()
    // group s: both 5s rank 1, both 4s rank 3 — EXCLUDED (rank > 2)? No:
    // rank() gives 5,5 -> 1 and 4,4 -> 3, so k=2 keeps only the two 5s;
    // group t: its single row ranks 1.
    assert(got === Array(("s", 5, 1), ("s", 5, 1), ("t", 1, 1)))
  }

  test("abcClassify bands cumulative shares with integer boundaries") {
    // measures 70, 20, 8, 2 (total 100): cum shares 70/90/98/100% →
    // A (≤80), B (≤95), C, C.
    val df = Seq(("w", 70L), ("x", 20L), ("y", 8L), ("z", 2L)).toDF("g", "m")
    val got = Analytics.abcClassify(df, "g", $"m")
      .orderBy($"g").as[(String, Long, Long, String)].collect()
    assert(got === Array(
      ("w", 70L, 700000L, "A"), ("x", 20L, 900000L, "B"),
      ("y", 8L, 980000L, "C"), ("z", 2L, 1000000L, "C")))
  }

  test("cusum closed form equals the sequential max(0, s + d) recurrence") {
    // One key, values chosen to exercise reset-to-zero and drift: the
    // window form P_t - min(0, min P_j) must equal the loop.
    val vals = Seq(10.0, 9.0, 8.5, 11.0, 12.0, 13.5, 13.0, 15.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("k", "ts", "v")
    val got = Analytics.cusum(df, "k", "ts", "v", "ts", thresholdCenti = 300L)
      .orderBy($"ts").select($"s_centi").as[Long].collect()
    val vc = vals.map(v => math.floor(v * 100 + 0.5).toLong)
    val expected = vc.scanLeft(0L) { (s, x) =>
      math.max(0L, s + (x - vc.head)) }.tail
    assert(got === expected.toArray)
  }

  test("eventSequences counts time-ordered paths regardless of row order") {
    // user 1: a->b->c->b (rows given shuffled); user 2: a->b->c.
    val rows = Seq(
      (1L, 3L, 30L, "c"), (1L, 1L, 10L, "a"), (1L, 4L, 40L, "b"),
      (1L, 2L, 20L, "b"), (2L, 5L, 11L, "a"), (2L, 6L, 21L, "b"),
      (2L, 7L, 31L, "c"))
      .toDF("u", "id", "ts", "et")
    val got = Analytics.eventSequences(rows, "u", "ts", "id", "et", n = 3, k = 10)
      .as[(String, Long)].collect()
    assert(got === Array(("a b c", 2L), ("b c b", 1L)))
  }

  test("seasonalProfile uses convention-free epoch arithmetic (0 = Monday)") {
    // 1970-01-05 was a Monday: epoch day 4 -> dow (4+3)%7 = 0.
    val df = Seq(
      (java.sql.Timestamp.from(java.time.Instant.parse("1970-01-05T13:30:00Z")), 2.0),
      (java.sql.Timestamp.from(java.time.Instant.parse("1970-01-11T00:10:00Z")), 3.0))
      .toDF("ts", "value")
    val got = Analytics.seasonalProfile(df, "ts", "value")
      .orderBy($"dow", $"hour").as[(Long, Long, Long, Double)].collect()
    assert(got === Array((0L, 13L, 1L, 2.0), (6L, 0L, 1L, 3.0)))
  }

  test("autocorrelation finds +1 on a trend and -1 on an alternation") {
    val trend = (0 until 10).map(i => ("up", i.toLong, 1.0 + i))
    val alt = (0 until 10).map(i => ("alt", i.toLong, if (i % 2 == 0) 1.0 else 5.0))
    val df = (trend ++ alt).toDF("k", "ts", "v")
    val got = Analytics.autocorrelation(df, "k", $"ts", $"v", lagK = 1)
      .orderBy($"k").as[(String, Long, Double)].collect()
    assert(got === Array(("alt", 9L, -1.0), ("up", 9L, 1.0)))
  }

  test("changePoint splits a step series at the step, exact segment means") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Three days at 1.00/day then three at 5.00/day: split after day 3.
    val rows = (1 to 3).map(i => ("a", ts(f"2024-01-0$i 10:00:00"), 1.0)) ++
      (4 to 6).map(i => ("a", ts(f"2024-01-0$i 10:00:00"), 5.0))
    val got = Analytics.changePoint(rows.toDF("k", "ts", "v"), "k", "ts", "v")
      .as[(String, Long, java.sql.Date, Double, Long, Long)].head()
    assert(got._1 === "a" && got._2 === 6L)
    assert(got._3.toString === "2024-01-03")
    // d1 = 300*3 - 1500*3 = -3600; gain = 3600^2 / (3*3*6) = 240000.
    assert(got._4 === 240000.0)
    assert(got._5 === 100L * 1000000L && got._6 === 500L * 1000000L)
  }

  test("seasonalNaiveBacktest scores a perfect weekly pattern at 0") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 08:00:00")
    // 14 days of a strict period-7 pattern: seasonal error 0; naive-1
    // error = 6 unit steps (100 cents each) + the 600-cent wrap drop.
    val rows = (1 to 14).map(i => ("a", ts(i), (i % 7 + 1).toDouble))
    val got = Analytics.seasonalNaiveBacktest(rows.toDF("k", "ts", "v"),
        "k", "ts", "v")
      .as[(String, Long, Long, Long, Option[Long])].head()
    assert(got === (("a", 7L, 0L, 1200L, Some(0L))))
    // A constant series has zero naive error -> null, not div-by-zero.
    val const = (1 to 10).map(i => ("c", ts(i), 2.0))
    val gc = Analytics.seasonalNaiveBacktest(const.toDF("k", "ts", "v"),
        "k", "ts", "v")
      .as[(String, Long, Long, Long, Option[Long])].head()
    assert(gc._5 === None)
  }

  test("touchAttribution picks first/last touch with id tiebreaks and keeps orphans") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      // user 1: two clicks inside the window (one ts tie pair), purchase
      (1L, ts("2024-01-10 10:00:00"), 100L, "click"),
      (1L, ts("2024-01-10 10:00:00"), 101L, "click"), // ts tie with 100
      (1L, ts("2024-01-12 09:00:00"), 102L, "click"),
      (1L, ts("2024-01-12 10:00:00"), 103L, "purchase"),
      // user 2: click outside the 7-day lookback -> orphan conversion
      (2L, ts("2024-01-01 10:00:00"), 200L, "click"),
      (2L, ts("2024-01-12 10:00:00"), 201L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.touchAttribution(e, "user_id", "ts", "event_id",
        col("event_type") === "click", col("event_type") === "purchase")
      .orderBy("conversion_id")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(got === Array(
      (1L, 103L, 3L, Some(100L), Some(102L)),
      (2L, 201L, 0L, None, None)))
  }

  test("cohortLtv accumulates revenue by months since first activity") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      (1L, ts("2024-01-05 00:00:00"), 10.0),
      (1L, ts("2024-01-20 00:00:00"), 5.0),
      (1L, ts("2024-03-02 00:00:00"), 2.0),
      (2L, ts("2024-02-10 00:00:00"), 1.0))
      .toDF("cust", "ts", "amt")
    val got = Analytics.cohortLtv(orders, "cust", "ts", "amt")
      .orderBy("cohort", "month_offset")
      .as[(java.sql.Date, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1.toString, r._2, r._3, r._4, r._5)) === Array(
      ("2024-01-01", 0L, 1L, 1500L, 1500L),
      ("2024-01-01", 2L, 1L, 200L, 1700L),
      ("2024-02-01", 0L, 1L, 100L, 100L)))
  }

  test("otsuThreshold splits a bimodal distribution at the valley") {
    val df = Seq(1L, 1L, 2L, 10L, 10L, 11L).map(("a", _)).toDF("g", "v")
    val got = Analytics.otsuThreshold(df, "g", "v")
      .as[(String, Long, Long, Long, Long, Long)].head()
    // gains: split@1 -> 420.5, split@2 -> 729 (max), split@10 -> 192.2
    assert(got === (("a", 2L, 3L, 3L, 1333333L, 10333333L)))
  }

  test("burstiness is -1 for a metronome and null for degenerate keys") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // Metronome: equal gaps -> sigma 0 -> B = (0-mu)/(0+mu) = -1.
    val metro = (0L to 5L).map(i => ("m", ts(i * 60)))
    // Bursty: gaps {1, 1, 598}: mean 200, sd 281.4 -> B = 0.169139.
    val burst = Seq(0L, 1L, 2L, 600L).map(s => ("b", ts(s)))
    // Degenerate: all events in the same second -> every gap 0 -> null.
    val zero = Seq(("z", ts(10)), ("z", ts(10)))
    val got = Analytics.burstiness(
        (metro ++ burst ++ zero).toDF("k", "ts"), "k", "ts")
      .orderBy("k").as[(String, Long, Option[Double])].collect()
    assert(got(0) === (("b", 3L, Some(0.169139))))
    assert(got(1) === (("m", 5L, Some(-1.0))))
    assert(got(2) === (("z", 1L, None)))
  }

  test("conversionLatency reports exact nearest-rank percentiles of delay") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Two conversions: delays 60s and 3600s from their LAST click.
    val e = Seq(
      (1L, ts("2024-01-10 09:00:00"), 100L, "click"),
      (1L, ts("2024-01-10 09:59:00"), 101L, "click"),
      (1L, ts("2024-01-10 10:00:00"), 102L, "purchase"),
      (2L, ts("2024-01-10 09:00:00"), 200L, "click"),
      (2L, ts("2024-01-10 10:00:00"), 201L, "purchase"),
      // orphan conversion (no click in window): excluded from delays
      (3L, ts("2024-01-10 10:00:00"), 301L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.conversionLatency(e, "user_id", "ts", "event_id",
        col("event_type") === "click", col("event_type") === "purchase")
      .as[(Long, Long, Long, Long)].head()
    // ranks over {60, 3600}: p50 -> first cum>=1 -> 60; p90/p99 -> 3600.
    assert(got === ((2L, 60L, 3600L, 3600L)))
  }

  test("yoyGrowth compares same-calendar-month only, null without a base") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val rows = Seq(
      ("a", ts("2023-01-10"), 1.0), ("a", ts("2024-01-15"), 1.5),
      // 2024-03 has no 2023-03 base -> null growth, NOT compared
      // against the adjacent 2023-01 month.
      ("a", ts("2024-03-01"), 9.0))
      .toDF("k", "ts", "amt")
    val got = Analytics.yoyGrowth(rows, "k", "ts", "amt")
      .orderBy("mth")
      .select($"mth".cast("string"), $"rev", $"rev_prior", $"yoy_micro")
      .as[(String, Long, Option[Long], Option[Long])].collect()
    assert(got === Array(
      ("2023-01-01", 100L, None, None),
      ("2024-01-01", 150L, Some(100L), Some(500000L)),
      ("2024-03-01", 900L, None, None)))
  }

  test("dailyMadAlerts flags only the out-of-band day, robust to the spike") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 08:00:00")
    // Six steady days at 1.00 plus one 50.00 spike: median 100 cents,
    // MAD 0... make deviations nonzero: values 1,1,2,2,3,3 + spike 50.
    val rows = Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 50.0).zipWithIndex
      .map { case (v, i) => ("a", ts(i + 1), v) }
    val got = Analytics.dailyMadAlerts(rows.toDF("k", "ts", "v"),
        "k", "ts", "v")
      .as[(String, Long, Long, Long, Long)].head()
    // daily cents: 100,100,200,200,300,300,5000. median=200 (2cum>=n at
    // 200), adevs: 100,100,0,0,100,100,4800 -> MAD=100; only 4800 > 300.
    assert(got === (("a", 7L, 200L, 100L, 1L)))
  }

  test("decileTable: uniform 1..10 yields d_k = k exactly") {
    val df = (1L to 10L).map(("a", _)).toDF("g", "v")
    val got = Analytics.decileTable(df, "g", col("v"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long)].head()
    assert(got === (("a", 10L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)))
  }

  test("dauWau rolls a 7-day distinct window; stickiness is DAU/WAU") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    val e = Seq(
      (1L, ts(1)), (2L, ts(1)), // day 1: users 1,2
      (1L, ts(5)), // day 5: user 1 again
      (3L, ts(10))) // day 10: user 3 only; window excludes days 1-3
      .toDF("u", "ts")
    val got = Analytics.dauWau(e, "u", "ts")
      .orderBy("day")
      .select($"day".cast("string"), $"dau", $"wau", $"stickiness_micro")
      .as[(String, Long, Long, Long)].collect()
    assert(got === Array(
      ("2024-01-01", 2L, 2L, 1000000L),
      ("2024-01-05", 1L, 2L, 500000L), // users 1,2 within the week
      ("2024-01-10", 1L, 2L, 500000L))) // users 1 (day 5) and 3
  }

  test("bounceRate sessionizes on the gap and counts single-event sessions") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      // user 1 day 1: two events 10 min apart = ONE session (no bounce),
      // then one event 2h later = bounce.
      (1L, ts("2024-01-01 09:00:00"), 1L),
      (1L, ts("2024-01-01 09:10:00"), 2L),
      (1L, ts("2024-01-01 11:30:00"), 3L),
      // user 2: single event = bounce on day 2.
      (2L, ts("2024-01-02 10:00:00"), 4L))
      .toDF("u", "ts", "eid")
    val got = Analytics.bounceRate(e, "u", "ts", "eid")
      .orderBy("day")
      .select($"day".cast("string"), $"n_sessions", $"n_bounces",
        $"bounce_micro")
      .as[(String, Long, Long, Long)].collect()
    assert(got === Array(
      ("2024-01-01", 2L, 1L, 500000L),
      ("2024-01-02", 1L, 1L, 1000000L)))
  }

  test("sessionConversion rates only shopping sessions, per start day") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      // session 1 (day 1): click then purchase -> converted
      (1L, ts("2024-01-01 09:00:00"), 1L, "click"),
      (1L, ts("2024-01-01 09:05:00"), 2L, "purchase"),
      // session 2 (day 1, after gap): click only -> not converted
      (1L, ts("2024-01-01 12:00:00"), 3L, "click"),
      // session 3 (day 2): view only -> NOT a shopping session, excluded
      (2L, ts("2024-01-02 10:00:00"), 4L, "view"))
      .toDF("u", "ts", "eid", "et")
    val got = Analytics.sessionConversion(e, "u", "ts", "eid",
        col("et") === "click", col("et") === "purchase")
      .orderBy("day")
      .select($"day".cast("string"), $"n_shopping_sessions",
        $"n_converted", $"conversion_micro")
      .as[(String, Long, Long, Long)].collect()
    assert(got === Array(("2024-01-01", 2L, 1L, 500000L)))
  }

  test("newVsReturning credits each user's first day once") {
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    val e = Seq((1L, ts(1)), (2L, ts(1)), (1L, ts(2)), (3L, ts(2)),
      (1L, ts(2))) // duplicate (user, day) must not double count
      .toDF("u", "ts")
    val got = Analytics.newVsReturning(e, "u", "ts")
      .orderBy("day")
      .select($"day".cast("string"), $"dau", $"n_new", $"n_returning",
        $"new_share_micro")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got === Array(
      ("2024-01-01", 2L, 2L, 0L, 1000000L),
      ("2024-01-02", 2L, 1L, 1L, 500000L)))
  }

  test("rfmSegments scores quintiles with inverted recency") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // Five customers with strictly increasing recency/frequency/monetary
    // profiles: customer 5 is most recent AND most frequent AND biggest
    // -> segment (5,5,5); customer 1 the opposite -> (1,1,1).
    val orders = (1 to 5).flatMap { c =>
      (1 to c).map { i =>
        (c.toLong, ts(f"2024-0$c%01d-01"), c * 10.0)
      }
    }.toDF("cust", "ts", "amt")
    val got = Analytics.rfmSegments(orders, "cust", "ts", "amt")
      .orderBy("r_score", "f_score", "m_score")
      .as[(Int, Int, Int, Long, Long, Long)].collect()
    assert(got.length === 5)
    assert(got.head === ((1, 1, 1, 1L, 1L, 1000L)))
    assert(got.last === ((5, 5, 5, 1L, 5L, 25000L)))
    // Every customer lands in exactly one segment.
    assert(got.map(_._4).sum === 5L)
  }

  test("weightedMedian follows the mass, not the row count") {
    val df = Seq(
      // g=a: nine-tenths of the weight sits at v=100 -> weighted median
      // is 100 even though the count median is tiny.
      ("a", 1L, 1L), ("a", 100L, 9L),
      // g=b: exact half at the first value -> 2*cumw == totw picks it.
      ("b", 1L, 5L), ("b", 2L, 5L))
      .toDF("g", "v", "wt")
    val got = Analytics.weightedMedian(df, "g", "v", "wt")
      .orderBy("g").as[(String, Long, Long)].collect()
    assert(got === Array(("a", 100L, 10L), ("b", 1L, 10L)))
  }

  test("decayedSum halves weight per day, caps age, stays exact BIGINT") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e = Seq(
      // key 1: 1.00 today + 2.00 yesterday -> 100*2^20 + 200*2^19
      (1L, ts("2024-01-30 12:00:00"), 1.0),
      (1L, ts("2024-01-29 23:59:59"), 2.0),
      // key 2: a 40-day-old event must cap at age 20 (scaled weight 1)
      (2L, ts("2023-12-21 00:00:00"), 3.0))
      .toDF("k", "ts", "v")
    val got = Analytics.decayedSum(e, "k", "ts", "v")
      .orderBy($"k").as[(Long, Long, Long, Long)].collect()
    assert(got(0) === ((1L, 2L, 100L * 1048576L + 200L * 524288L, 200L)))
    assert(got(1) === ((2L, 1L, 300L, 0L)))
  }
  test("theilSen recovers the trend an outlier day would drag off OLS") {
    import java.sql.Timestamp
    // 20 days at slope 100 cents/day, plus one 10000x spike on day 10.
    val rows = (0 until 20).map { d =>
      val v = if (d == 10) 1000000.0 else 10.0 + d * 1.0
      ("k1", Timestamp.valueOf(f"2024-01-${d + 1}%02d 00:00:00"), v)
    }
    val df = rows.toDF("k", "ts", "v")
    val got = Analytics.theilSen(df, "k", "ts", "v").head()
    // true slope: 1.00/day = 100 cents/day = 100000000 micro-cents/day
    assert(got.getAs[Long]("slope_micro") === 100000000L,
      s"median slope must shrug off the spike: $got")
    assert(got.getAs[Long]("n_pairs") === 190L)
    // a single-day key emits nothing (no pairs)
    val one = Analytics.theilSen(
      Seq(("solo", Timestamp.valueOf("2024-01-01 00:00:00"), 5.0))
        .toDF("k", "ts", "v"), "k", "ts", "v")
    assert(one.count() === 0L)
  }

  test("frequentTriples counts basket support with the per-basket cap") {
    // Baskets 1 and 2 both hold {10, 20, 30}; basket 3 holds {10, 20, 40}.
    val b = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (2L, 30L), (2L, 10L), // in-basket dupe ignored
      (3L, 10L), (3L, 20L), (3L, 40L)).toDF("c", "i")
    val got = Analytics.frequentTriples(b, "c", "i", 12, minSupport = 2L)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((10L, 20L, 30L, 2L)))
    // cap = 3 drops item 40 from basket 3 (ids 10 < 20 < 40 -> all kept;
    // use a basket where the cap bites: basket 4 = {1, 2, 3, 10, 20, 30}
    // capped at 3 keeps {1, 2, 3} only, so (10, 20, 30) stays at 2.
    val b2 = b.union(Seq((4L, 1L), (4L, 2L), (4L, 3L), (4L, 10L),
      (4L, 20L), (4L, 30L)).toDF("c", "i"))
    val capped = Analytics.frequentTriples(b2, "c", "i", 3, minSupport = 2L)
      .as[(Long, Long, Long, Long)].collect()
    assert(capped === Array((10L, 20L, 30L, 2L)))
  }

  test("seasonalIndex is exactly 1.0 on flat data and scales a hot month") {
    // January days at 100 cents/day, February days at 300 cents/day.
    val rows = Seq(0L, 1L, 2L).map(d => (d * 86400 + 10, 1.0)) ++ // Jan
      Seq(31L, 32L, 33L).map(d => (d * 86400 + 10, 3.0)) // Feb
    val df = rows.toDF("t", "value")
      .select(timestamp_seconds(col("t")).as("ts"), col("value"))
    val got = Analytics.seasonalIndex(df, "ts", col("value"))
      .orderBy(col("month")).as[(Long, Long, Long, Option[Long])].collect()
    // overall mean = 1200/6 = 200; Jan mean 100 -> 0.5; Feb 300 -> 1.5.
    assert(got === Array(
      (1L, 3L, 300L, Some(500000L)),
      (2L, 3L, 900L, Some(1500000L))))
  }

  test("fanoutHistogram shares tile keys and rows exactly") {
    val df = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("k")
    val got = graft.operators.Profile.fanoutHistogram(df, col("k"))
      .orderBy(col("size")).as[(Long, Long, Long, Long)].collect()
    // sizes: {3:1 key, 2:1, 1:1}; rows 6 total.
    assert(got === Array(
      (1L, 1L, 333333L, 166666L),
      (2L, 1L, 333333L, 333333L),
      (3L, 1L, 333333L, 500000L)))
  }

  test("leadLagProfile peaks at the constructed one-day lead") {
    // Series B is exactly series A shifted one day later, so the lag=+1
    // alignment is a perfect match and carries the largest covariance.
    val rows =
      Seq((0L, "a", 1.0), (1L, "a", 2.0), (2L, "a", 3.0),
        (1L, "b", 1.0), (2L, "b", 2.0), (3L, "b", 3.0))
    val df = rows.toDF("d", "et", "value")
      .select(timestamp_seconds(col("d") * 86400 + 100).as("ts"),
        col("et"), col("value"))
    val got = Analytics.leadLagProfile(df, "ts", col("et"), col("value"),
        "a", "b", maxLag = 1)
      .orderBy(col("lag"))
      .select(col("lag"), col("n_days"), col("cov_num"))
      .as[(Long, Long, Long)].collect()
    assert(got === Array((-1L, 1L, 0L), (0L, 2L, 10000L), (1L, 3L, 60000L)))
  }

  test("asofStalenessProfile buckets staleness and the unmatched class") {
    val rows = Seq(
      (1000L, Some(999L)), // exactly 1 s: boundary lands in lt_10s
      (5000L, Some(4970L)), // 30 s -> lt_1m
      (90000L, Some(82800L)), // 7200 s -> ge_1h
      (700L, None: Option[Long])) // unmatched
    val df = rows.toDF("lt_s", "rt_s")
      .select(timestamp_seconds(col("lt_s")).as("lt"),
        timestamp_seconds(col("rt_s")).as("rt"))
    val got = Analytics.asofStalenessProfile(df, col("lt"), col("rt"))
      .orderBy(col("ord"))
      .select(col("ord"), col("bucket"), col("n"), col("share_micro"),
        col("max_stale_us"))
      .as[(Long, String, Long, Long, Option[Long])].collect()
    assert(got === Array(
      (1L, "lt_10s", 1L, 250000L, Some(1000000L)),
      (2L, "lt_1m", 1L, 250000L, Some(30000000L)),
      (5L, "ge_1h", 1L, 250000L, Some(7200000000L)),
      (6L, "unmatched", 1L, 250000L, None)))
  }

  test("diffInDiff computes the four cell means and their difference") {
    // treated: pre {1,3} -> 200e6, post {5} -> 500e6;
    // control: pre {2} -> 200e6, post {3} -> 300e6. DiD = 300e6 - 100e6.
    val df = Seq((true, false, 1.0), (true, false, 3.0), (true, true, 5.0),
      (false, false, 2.0), (false, true, 3.0)).toDF("t", "p", "v")
    val got = Analytics.diffInDiff(df, col("t"), col("p"), col("v"))
      .select($"n_tp", $"m_tp_micro", $"m_t0_micro", $"m_cp_micro",
        $"m_c0_micro", $"did_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 500000000L, 200000000L, 300000000L,
      200000000L, 200000000L)))
  }

  test("cuped removes the pre-period component from the raw diff") {
    // y = 2x + 500·treated exactly; pooled theta works out to 3, so the
    // raw 700e6 diff adjusts by theta * (mx_t - mx_c) = 3 * 100e6.
    val rows = Seq(
      (1L, false, 1.0, 2.0), (2L, false, 3.0, 6.0),
      (3L, true, 2.0, 9.0), (4L, true, 4.0, 13.0))
    val df = rows.flatMap { case (u, t, xv, yv) =>
      Seq((u, t, true, xv), (u, t, false, yv)) }
      .toDF("u", "t", "pre", "v")
    val got = Analytics.cuped(df, col("u"), col("t"), col("pre"), col("v"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array((4L, 2L, 3000000L, 700000000L, 400000000L)))
  }

  test("reorderPoints computes zero-day-aware moments and the z*sigma*sqrt(L) stock") {
    // Group a sells on both global days (100, 300 qc): sigma = 100.
    // Group b sells 200 qc on day 1 ONLY — day 2 counts as zero demand
    // (global divisor), so its variance is NOT zero: var = (2*40000 -
    // 40000)/4 -> sigma = 100.
    val df = Seq(("a", 0, 1.0), ("a", 1, 3.0), ("b", 0, 2.0))
      .toDF("g0", "d0", "q")
      .select(col("g0"), expr("date_add(date'2020-01-01', d0)").as("day"),
        col("q"))
    val got = Analytics.reorderPoints(df, col("g0"), col("day"), col("q"),
      leadTimeDays = 7, z = 1.65)
      .orderBy(col("g"))
      .as[(String, Long, Long, Long, Double, Double, Double)].collect()
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val saf = r6(1.65 * math.sqrt(7.0) * 100.0)
    assert(got === Array(
      ("a", 2L, 400L, 200000L, 100.0, saf, r6(1400.0 + 1.65 * math.sqrt(7.0) * 100.0)),
      ("b", 2L, 200L, 100000L, 100.0, saf, r6(700.0 + 1.65 * math.sqrt(7.0) * 100.0))))
  }

  test("calendar spine: leap-year count, epoch dow, weekend flags") {
    val cal = Analytics.calendar(spark, "2024-01-01", "2024-12-31")
    assert(cal.count() === 366L) // leap year
    val jan1 = cal.filter(col("day") === expr("date'2024-01-01'"))
      .select($"dow_monday0", $"is_weekend").as[(Long, Boolean)].head()
    assert(jan1 === ((0L, false))) // 2024-01-01 was a Monday
    val weekends = cal.filter($"is_weekend").count()
    assert(weekends === 104L) // 52 full weekends in 2024
  }

  test("interpQuantiles reproduces the numpy type-7 values exactly") {
    // numpy.quantile([1,2,3,4], [.25,.5,.75,.9]) = [1.75, 2.5, 3.25, 3.7]
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0))
      .toDF("g0", "v")
    val got = Analytics.interpQuantiles(df, col("g0"), col("v"),
      Seq(25, 50, 75, 90))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got === Array(("a", 4L, 175000000L, 250000000L, 325000000L,
      370000000L)))
  }

  test("logRank accumulates hypergeometric O-E and variance exactly") {
    // g1: death at 2, censored at 4; g2: deaths at 2 and 3.
    // t=2: e1 = 2·2/4 = 1e6, v = 16e6/48 = 333333;
    // t=3: e1 = 1·1/2 = 5e5, v = 1e6/4 = 250000.
    // O=1, E=1.5e6, V=583333 -> chi2 = (5e5)²//583333 = 428571.
    val df = Seq((2L, true, true), (4L, false, true),
      (2L, true, false), (3L, true, false)).toDF("dur", "ev", "g1")
    val got = Analytics.logRank(df, col("dur"), col("ev"), col("g1"))
      .as[(Long, Long, Long, Option[Long])].collect()
    assert(got === Array((1L, 1500000L, 583333L, Some(428571L))))
  }

  test("kaplanMeier matches the textbook product-limit on mixed censoring") {
    // durations: deaths at t=2 (x2) and t=5; censored at 3 and 6.
    // S(2) = 3/5 = 0.6; S(5) = 0.6 * 1/2 = 0.3; censoring shrinks the
    // risk set (5 -> 2 at t=5) without adding death rows.
    val df = Seq((2L, true), (2L, true), (3L, false), (5L, true),
      (6L, false)).toDF("dur", "ev")
    for (quant <- Seq(true, false)) {
      val got = Analytics.kaplanMeier(df, col("dur"), col("ev"), quant)
        .orderBy(col("t"))
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(got === Array(
        (2L, 5L, 2L, 400000L, 600000L),
        (5L, 2L, 1L, 500000L, 300000L)), s"quantized=$quant")
    }
  }

  test("yuleWalkerAr2 pins the hand-folded coefficients per group") {
    // "alt" flips 1,2,1,2,1,2 -> strong NEGATIVE lag-1 echo
    // (phi1 = -810e6/891 = -909091); "fib" trends -> positive phi1.
    // Values verified by hand against the unscaled-deviation algebra.
    val rows = Seq(1L, 2L, 1L, 2L, 1L, 2L).zipWithIndex.map { case (y, p) =>
      ("alt", p.toLong, y) } ++
      Seq(1L, 2L, 3L, 5L, 8L, 13L).zipWithIndex.map { case (y, p) =>
        ("fib", p.toLong, y) }
    val df = rows.toDF("g", "p", "y")
    val got = Analytics.yuleWalkerAr2(df, "g", col("p"), col("y"))
      .as[(String, Long, Long)].collect()
    assert(got === Array(("alt", -909091L, -90910L),
      ("fib", 497580L, -184840L)))
  }

  test("coxFit recovers the hazard direction and converges") {
    // High-x subjects fail EARLY (x=2 at t=1,2; x=0 at t=5,6 or
    // censored): the log-hazard slope must come out positive, and with
    // 8 Newton steps the score at the last update must be ~0 micros.
    val df = Seq((1L, true, 2L), (2L, true, 2L), (2L, true, 2L),
      (5L, true, 0L), (6L, true, 0L), (7L, false, 0L), (8L, false, 0L))
      .toDF("dur", "ev", "x")
    val got = Analytics.coxFit(df, col("dur"), col("ev"), Seq("" -> col("x")),
      8)
      .as[(String, Long)].collect().toMap
    assert(got("beta_micro") > 500000L, got.toString)
    assert(math.abs(got("score_residual_micro")) < 2000L, got.toString)
    assert(got("n_events") === 5L && got("n_subjects") === 7L)
  }

  test("markovPerplexity scores a deterministic chain near zero and unseen contexts by the smoother") {
    // Train keys (md5 first hex >= '4') walk a->b->a->b...; test keys
    // walk the same chain. With V=2 and heavy counts, each test bigram's
    // nll = ln((n+2)/(c+1)) is small; an all-unseen test state would pay
    // ln(V) exactly. Deterministic split: user 1 hashes to test.
    def walk(u: Long, n: Int): Seq[(Long, Long, Long, String)] =
      (0 until n).map(i => (u, i.toLong, i.toLong,
        if (i % 2 == 0) "a" else "b"))
    // md5("1") = 'c4...' (train), md5("3") = 'ec...' (train),
    // md5("0") = 'cf...' (train), md5("2") = 'd3...' -> need a test key:
    // md5("5") = 'e4...'; md5("6") = '16...' -> TEST.
    val rows = (walk(1L, 40) ++ walk(3L, 40) ++ walk(6L, 20))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Analytics.markovPerplexity(rows, col("user_id"),
        Seq(col("ts"), col("event_id")), col("event_type"))
      .as[(Long, Long, Long)].head()
    assert(got._1 === 78L, got.toString) // 2 x 39 train bigrams
    assert(got._2 === 19L, got.toString)
    // chain bigrams: c = 39 or 40 within n = 39/40, V = 2:
    // nll = ln((n+2)/(c+1)) = ln(41/40) or ln(42/40) ~ 25k-49k micro
    assert(got._3 > 10000L && got._3 < 60000L, got.toString)
  }

  test("trimmedMean drops exactly the rank tails and averages the rest") {
    // g: values 0..9 (cents), trim 100 permille -> drop rank 1 and 10:
    // keep 1..8 -> mean = 4.5 cents = 45000 micro.
    val df = (0 until 10).map(i => ("g", i.toLong, i.toLong))
      .toDF("g", "k", "c")
    val got = Analytics.trimmedMean(df, col("g"), col("k"), col("c"),
        trimPerMille = 100)
      .as[(String, Long, Long, Long)].collect()
    assert(got === Array(("g", 10L, 8L, 45000L)))
    // outlier robustness: a huge tail value must not move the estimate
    val dirty = (df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq :+ (("g", 99L, 1000000L))).toDF("g", "k", "c")
    val rob = Analytics.trimmedMean(dirty, col("g"), col("k"), col("c"),
        trimPerMille = 100)
      .as[(String, Long, Long, Long)].head()
    assert(rob._4 === 50000L, rob.toString) // keep 2..10 -> mean 5 cents
  }

  test("coxFit with two covariates adjusts away a confounded covariate") {
    // x1 drives the hazard (high x1 fails early); x2 is pure noise,
    // orthogonal to failure order. The 2x2 Newton solve must give x1 a
    // clearly positive slope and keep |beta2| well below it, with both
    // score residuals ~0 at convergence.
    val df = Seq(
      (1L, true, 2L, 1L), (2L, true, 2L, 0L), (2L, true, 2L, 1L),
      (5L, true, 0L, 0L), (6L, true, 0L, 1L), (7L, false, 0L, 0L),
      (8L, false, 0L, 1L)).toDF("dur", "ev", "x1", "x2")
    val got = Analytics.coxFit(df, col("dur"), col("ev"),
        Seq("1" -> col("x1"), "2" -> col("x2")), iters = 8)
      .as[(String, Long)].collect().toMap
    assert(got("beta1_micro") > 500000L, got.toString)
    assert(math.abs(got("beta2_micro")) < got("beta1_micro") / 2, got.toString)
    assert(math.abs(got("score1_residual_micro")) < 5000L, got.toString)
    assert(math.abs(got("score2_residual_micro")) < 5000L, got.toString)
  }

  test("coxFit with two covariates is exact fixed-point: partitioning cannot move a bit") {
    val df = (0 until 60).map(i => ((i % 9 + 1).toLong, i % 4 != 0,
      (i % 5).toLong, (i % 3).toLong)).toDF("dur", "ev", "x1", "x2")
    val xs = Seq("1" -> col("x1"), "2" -> col("x2"))
    val a = Analytics.coxFit(df, col("dur"), col("ev"), xs, 5).collect()
    val b = Analytics.coxFit(df.repartition(13), col("dur"), col("ev"), xs,
      5).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("coxFit is exact fixed-point: partitioning cannot move a bit") {
    val df = (0 until 60).map(i =>
      ((i % 9 + 1).toLong, i % 4 != 0, (i % 5).toLong)).toDF("dur", "ev", "x")
    val xs = Seq("" -> col("x"))
    val a = Analytics.coxFit(df, col("dur"), col("ev"), xs, 5).collect()
    val b = Analytics.coxFit(df.repartition(13), col("dur"), col("ev"), xs,
      5).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("priceVolumeBridge reconciles delta = price + volume + residue") {
    // g1: period 1 sells 10 units for 1000c (p=100); period 2 sells
    // 20 units for 2400c (p=120). price effect = 2400 - 1000*20/10 = 400,
    // volume effect = 1000*(20-10)/10 = 1000, delta = 1400, residue 0.
    val rows = Seq(
      ("g1", true, 1000L, 10L), ("g1", false, 2400L, 20L),
      ("g2", true, 500L, 5L)) // missing period 2 -> null effects
      .toDF("g", "p1", "r", "q")
    val got = Analytics.priceVolumeBridge(rows, col("g"), col("p1"),
        col("r"), col("q"))
      .orderBy(col("g")).collect()
    val g1 = got(0)
    assert((g1.getAs[Long]("delta"), g1.getAs[Long]("price_effect"),
      g1.getAs[Long]("volume_effect"), g1.getAs[Long]("residue"))
      === ((1400L, 400L, 1000L, 0L)))
    assert(got(1).isNullAt(got(1).fieldIndex("price_effect")))
    // flooring residue reconciles by construction on awkward ratios
    val odd = Seq(("h", true, 1000L, 3L), ("h", false, 1999L, 7L))
      .toDF("g", "p1", "r", "q")
    val h = Analytics.priceVolumeBridge(odd, col("g"), col("p1"),
      col("r"), col("q")).head()
    assert(h.getAs[Long]("delta") === h.getAs[Long]("price_effect")
      + h.getAs[Long]("volume_effect") + h.getAs[Long]("residue"))
  }

  test("audienceOverlap and captureRecapture compute exact set algebra") {
    val ev = Seq(
      ("click", 1L), ("click", 2L), ("click", 3L),
      ("buy", 2L), ("buy", 3L), ("buy", 4L),
      ("view", 9L)).toDF("seg", "u")
    val ov = Analytics.audienceOverlap(ev, col("seg"), col("u"))
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._6).toMap
    // click {1,2,3} vs buy {2,3,4}: 2 of 4 -> 500000; view disjoint.
    assert(ov(("buy", "click")) === 500000L)
    assert(!ov.contains(("buy", "view")) && !ov.contains(("click", "view")))

    // capture-recapture: n1 = 4, n2 = 3, m = 2 -> (5*4) div 3 - 1 = 5.
    val obs = Seq((1L, true), (2L, true), (3L, true), (4L, true),
      (3L, false), (4L, false), (5L, false)).toDF("u", "first")
    val cr = Analytics.captureRecapture(obs, col("u"),
        col("first"), !col("first"))
      .as[(Long, Long, Long, Option[Long])].head()
    assert(cr === ((4L, 3L, 2L, Some(5L))))
  }

  test("dayOverDayOverlap pairs each day with yesterday exactly") {
    // day 0: {1,2}; day 1: {2,3}; day 2: {9} (disjoint from day 1).
    val rows = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 9L))
      .map { case (d, u) => (d * 86400 + 10, u) }
    val df = rows.toDF("t", "u")
      .select(timestamp_seconds(col("t")).as("ts"), col("u"))
    val got = Analytics.dayOverDayOverlap(df, "ts", col("u"))
      .orderBy(col("day_id")).as[(Long, Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 2L, 2L, 1L, 333333L), // {1,2} vs {2,3}: 1 of 3
      (2L, 2L, 1L, 0L, 0L)))
  }

  test("anomalyConsensus: a planted spike day gets all three votes") {
    // 30 steady days of ~100 cents total, one 100x day.
    val rows = (0 until 30).flatMap { d =>
      Seq((d.toLong * 86400 + 10, 0.5), (d.toLong * 86400 + 20, 0.5))
    } ++ Seq((30L * 86400 + 10, 100.0))
    val df = rows.toDF("t", "value")
      .select(timestamp_seconds(col("t")).as("ts"), col("value"))
    val got = Analytics.anomalyConsensus(df, "ts", col("value"))
      .as[(Long, Long, Boolean, Boolean, Boolean, Long)].collect()
    assert(got.length === 1, s"only the spike day flags: ${got.toSeq}")
    assert(got.head === ((30L, 10000L, true, true, true, 3L)))
  }

  test("sequenceGaps finds exactly the missing runs, including across partitions") {
    val ids = ((1L to 10L) ++ (14L to 20L) ++ Seq(25L)).toDF("id")
    val got = Profile.sequenceGaps(ids, col("id"), partitions = 4)
      .orderBy(col("gap_start")).as[(Long, Long, Long)].collect()
    assert(got === Array((11L, 13L, 3L), (21L, 24L, 4L)))
    // duplicates cannot fake continuity
    val dup = Seq(1L, 2L, 2L, 2L, 5L).toDF("id")
    val got2 = Profile.sequenceGaps(dup, col("id"), partitions = 3)
      .as[(Long, Long, Long)].collect()
    assert(got2 === Array((3L, 4L, 2L)))
  }

  test("abcXyz grades volume and variability independently") {
    // Totals: big_spiky 40, big_steady 40, small 5. Pareto (ties on
    // name): spiky 470588 A, steady 941176 B, small C.
    // Variability: steady 10x4 -> 0 (X); spiky 37,1,1,1 -> 2430000 (Z);
    // small single-period -> 0 (X).
    val rows =
      (1 to 4).map(p => ("big_steady", p.toLong, 10L)) ++
        Seq(("big_spiky", 1L, 37L), ("big_spiky", 2L, 1L),
          ("big_spiky", 3L, 1L), ("big_spiky", 4L, 1L),
          ("small", 1L, 5L))
    val got = Analytics.abcXyz(rows.toDF("g", "p", "q"), "g", col("q"), col("p"))
      .orderBy(col("g"))
      .collect().map(r => (r.getString(0), r.getAs[String]("abc_class"),
        r.getAs[Long]("var_ratio_micro"), r.getAs[String]("xyz_class"),
        r.getAs[String]("combined")))
    assert(got === Array(
      ("big_spiky", "A", 2430000L, "Z", "AZ"),
      ("big_steady", "B", 0L, "X", "BX"),
      ("small", "C", 0L, "X", "CX")))
  }

  test("rollingCorr tracks the window's exact sign and nulls degenerate frames") {
    // key a: y = x -> corr 1 once n >= 2; day 0 alone -> null.
    // key b: y = -x -> corr -1.
    val rows = Seq(
      ("a", 0L, 1L, 1L), ("a", 1L, 2L, 2L), ("a", 2L, 3L, 3L),
      ("b", 0L, 1L, 3L), ("b", 1L, 2L, 2L), ("b", 2L, 3L, 1L))
      .toDF("k", "day", "x", "y")
    val got = Analytics.rollingCorr(rows, "k", col("day"), col("x"), col("y"), 30)
      .orderBy(col("k"), col("day_id"))
      .as[(String, Long, Long, Option[Double])].collect()
    assert(got === Array(
      ("a", 0L, 1L, None), ("a", 1L, 2L, Some(1.0)), ("a", 2L, 3L, Some(1.0)),
      ("b", 0L, 1L, None), ("b", 1L, 2L, Some(-1.0)), ("b", 2L, 3L, Some(-1.0))))
    // the RANGE frame drops days beyond the window: with windowDays = 2,
    // day 2 sees only days 1-2.
    val short = Analytics.rollingCorr(rows, "k", col("day"), col("x"), col("y"), 2)
      .filter(col("day_id") === 2)
      .as[(String, Long, Long, Option[Double])].collect()
    assert(short.forall(_._3 === 2L))
  }

  test("iqrOutliers flags exactly the rows outside the Tukey fences") {
    // 1..8 plus a 100 spike: n=9, q1 = min v with cum*4 >= 9 -> v=3,
    // q3 = min v with cum*4 >= 27 -> v=7; iqr=4, fences 3-6=-3 / 7+6=13;
    // only the spike is outside.
    val df = ((1L to 8L) :+ 100L).map(("a", _)).toDF("g", "v")
    val got = Analytics.iqrOutliers(df, "g", col("v"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got === (("a", 9L, 3L, 7L, -3L, 13L, 1L, 111111L)))
  }

  test("topKWithOthers rolls the unranked tail into one exact remainder row") {
    val df = (Seq.fill(5)(("a", 1L)) ++ Seq.fill(3)(("a", 2L)) ++
      Seq.fill(2)(("a", 3L)) ++ Seq.fill(1)(("a", 4L)) ++
      Seq.fill(1)(("a", 5L)) ++ Seq.fill(2)(("b", 9L))).toDF("g", "u")
    val got = Analytics.topKWithOthers(df, "g", col("u"), 3)
      .orderBy(col("g"), col("rank"))
      .as[(String, Long, String, Long)].collect()
    assert(got === Array(
      ("a", 1L, "1", 5L), ("a", 2L, "2", 3L), ("a", 3L, "3", 2L),
      ("a", 4L, "OTHERS", 2L), // 4 and 5, one row each
      ("b", 1L, "9", 2L))) // no tail -> no OTHERS row
  }

  test("quantileTreatmentEffect reads the planted per-decile shift") {
    // control: values 1..100; treatment: 1..100 shifted +10 above 50 —
    // low deciles identical, high deciles show the shift.
    val rows = (1 to 100).map(v => ("c", v.toLong)) ++
      (1 to 100).map(v => ("t", if (v > 50) v + 10L else v.toLong))
    val got = Analytics.quantileTreatmentEffect(rows.toDF("g", "v"),
        col("g"), "t", "c", col("v"))
      .orderBy(col("decile"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length === 9)
    assert(got.forall(r => r._2 === 100L && r._3 === 100L))
    // decile 2 (value 20) untouched; decile 9 (value 90) shifted +10.
    assert(got(1) === ((2L, 100L, 100L, 20L, 20L, 0L)))
    assert(got(8) === ((9L, 100L, 100L, 100L, 90L, 10L)))
  }

  test("loadProfile buckets epoch microseconds into hour-of-week cells") {
    // 1970-01-05 (Monday, epoch day 4) 01:00 twice, 1970-01-08
    // (Thursday) 23:00 once.
    val mon1am = 4L * 86400 + 3600
    val thu11pm = 7L * 86400 + 23 * 3600
    val df = Seq(mon1am, mon1am + 60, thu11pm).toDF("t")
      .select(timestamp_seconds(col("t")).as("ts"))
    val got = Analytics.loadProfile(df, "ts")
      .orderBy(col("dow"), col("hour"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (0L, 1L, 2L, 666666L), // Monday 01h, 2 of 3 events
      (3L, 23L, 1L, 333333L))) // Thursday 23h
  }

  test("mannKendall: S, tie-corrected variance, and z match hand folds") {
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-03-${i}%02d 12:00:00")
    // Strictly rising 4 days: S = 6, var18 = 4·3·13 = 156,
    // z = (6−1)/√(156/18).
    val up = Seq(("k", day(1), 1.0), ("k", day(2), 2.0),
      ("k", day(3), 3.0), ("k", day(4), 4.0)).toDF("k", "ts", "v")
    val u = Analytics.mannKendall(up, "k", "ts", col("v"))
      .as[(String, Long, Long, Long, Option[Double])].head()
    assert(u._2 === 4L && u._3 === 6L && u._4 === 156L)
    assert(u._5 === Some(BigDecimal(5.0 / math.sqrt(156.0 / 18.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // Tied pair then a rise: S = 2, var18 = 66 − 18 = 48.
    val tied = Seq(("k", day(1), 5.0), ("k", day(2), 5.0),
      ("k", day(3), 9.0)).toDF("k", "ts", "v")
    val t = Analytics.mannKendall(tied, "k", "ts", col("v"))
      .as[(String, Long, Long, Long, Option[Double])].head()
    assert(t._3 === 2L && t._4 === 48L)
    // A single-day key has no pairs — dropped, not divided by zero.
    val one = Seq(("k", day(1), 5.0)).toDF("k", "ts", "v")
    assert(Analytics.mannKendall(one, "k", "ts", col("v")).count() === 0L)
  }

  test("durbinWatson: trend ≈ 1, oscillation ≈ 3, constant series null") {
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-03-${i}%02d 12:00:00")
    val trend = Seq(("k", day(1), 1.0), ("k", day(2), 2.0),
      ("k", day(3), 3.0)).toDF("k", "ts", "v")
    val tr = Analytics.durbinWatson(trend, "k", "ts", col("v"))
      .select($"k", $"dw_micro").as[(String, Option[Long])].head()
    assert(tr === (("k", Some(1000000L))))
    val osc = Seq(("k", day(1), 1.0), ("k", day(2), 3.0),
      ("k", day(3), 1.0), ("k", day(4), 3.0)).toDF("k", "ts", "v")
    val os = Analytics.durbinWatson(osc, "k", "ts", col("v"))
      .select($"dw_micro").as[Option[Long]].head()
    assert(os === Some(3000000L))
    val const = Seq(("k", day(1), 2.0), ("k", day(2), 2.0))
      .toDF("k", "ts", "v")
    val c = Analytics.durbinWatson(const, "k", "ts", col("v"))
      .select($"dw_micro").as[Option[Long]].head()
    assert(c === None)
  }

}
