package graft.operators

import graft.SparkSpec
import java.sql.Timestamp

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("leftAsOf matches most recent right row at-or-before left time") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 11:00:00")),
      (3L, "u2", ts("2024-01-01 10:30:00")),
      (4L, "u3", ts("2024-01-01 09:00:00"))  // no right rows for u3
    ).toDF("id", "user", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 09:30:00"), 100L),
      ("u1", ts("2024-01-01 10:30:00"), 101L),
      ("u2", ts("2024-01-01 10:30:00"), 200L), // equal time -> matches
      ("u2", ts("2024-01-01 11:00:00"), 201L)
    ).toDF("user", "t", "payload")

    val got = AsOfJoin.leftAsOf(left, right, Seq("user"), "t", "t", Seq("payload"))
      .select($"id", $"payload").as[(Long, Option[Long])].collect().toMap

    assert(got === Map(
      1L -> Some(100L),  // 09:30 is latest <= 10:00
      2L -> Some(101L),  // 10:30 is latest <= 11:00
      3L -> Some(200L),  // equal timestamp matches
      4L -> None))       // no right row for u3
  }

  test("tolerance nulls matches outside the bound, boundary inclusive") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")), // match 30 min back: boundary, kept
      (2L, "u1", ts("2024-01-01 11:00:00")), // match 90 min back: nulled
      (3L, "u2", ts("2024-01-01 10:30:00")), // exact-time match: kept
      (4L, "u3", ts("2024-01-01 09:00:00"))  // no match at all: still null
    ).toDF("id", "user", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 09:30:00"), 100L),
      ("u2", ts("2024-01-01 10:30:00"), 200L)
    ).toDF("user", "t", "payload")
    val got = AsOfJoin.leftAsOf(left, right, Seq("user"), "t", "t",
        Seq("payload"),
        tolerance = Some(org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES")))
      .select($"id", $"payload").as[(Long, Option[Long])].collect().toMap
    assert(got === Map(
      1L -> Some(100L), 2L -> None, 3L -> Some(200L), 4L -> None))
    // Without the bound, row 2 matches — the mask is the only difference.
    val free = AsOfJoin.leftAsOf(left, right, Seq("user"), "t", "t",
        Seq("payload"))
      .select($"id", $"payload").as[(Long, Option[Long])].collect().toMap
    assert(free(2L) === Some(100L))
  }

  test("forward direction matches the earliest right row at-or-after left time") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 11:00:00")),  // nothing after -> null
      (3L, "u2", ts("2024-01-01 10:30:00"))   // equal time -> matches
    ).toDF("id", "user", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 09:30:00"), 100L),
      ("u1", ts("2024-01-01 10:30:00"), 101L),
      ("u2", ts("2024-01-01 10:30:00"), 200L)
    ).toDF("user", "t", "payload")
    val got = AsOfJoin.leftAsOf(left, right, Seq("user"), "t", "t",
        Seq("payload"), direction = "forward")
      .select($"id", $"payload").as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> Some(101L), 2L -> None, 3L -> Some(200L)))
  }

  test("nearest direction picks the closer side and breaks ties backward") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),  // back 20min vs fwd 10min -> fwd
      (2L, "u1", ts("2024-01-01 10:20:00")),  // back 10min vs fwd -> back... (10:10 is 10 before, 10:40 is 20 after)
      (3L, "u1", ts("2024-01-01 10:25:00")),  // back 15 vs fwd 15 -> tie -> back
      (4L, "u2", ts("2024-01-01 10:00:00")),  // only future rows
      (5L, "u3", ts("2024-01-01 10:00:00"))   // only past rows
    ).toDF("id", "user", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 09:40:00"), 1L),
      ("u1", ts("2024-01-01 10:10:00"), 2L),
      ("u1", ts("2024-01-01 10:40:00"), 3L),
      ("u2", ts("2024-01-01 10:30:00"), 4L),
      ("u3", ts("2024-01-01 09:30:00"), 5L)
    ).toDF("user", "t", "payload")
    val got = AsOfJoin.leftAsOf(left, right, Seq("user"), "t", "t",
        Seq("payload"), direction = "nearest")
      .select($"id", $"payload").as[(Long, Option[Long])].collect().toMap
    assert(got === Map(
      1L -> Some(2L),  // 10:10 (10 min fwd) beats 09:40 (20 min back)
      2L -> Some(2L),  // 10:10 (10 min back) beats 10:40 (20 min fwd)
      3L -> Some(2L),  // 15-min tie -> backward wins
      4L -> Some(4L),  // backward null -> forward
      5L -> Some(5L))) // forward null -> backward
  }
}
