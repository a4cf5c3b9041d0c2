package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shared rounding rules of [[FixedPoint]], checked directly rather
  * than through whole-query oracles.
  */
class FixedPointSpec extends SparkSpec {
  import spark.implicits._
  import FixedPoint.{bin6, floorDiv}

  private val rnd = new scala.util.Random(20240610L)

  /** Column floorDiv of every (a, b) row, read back as a long. */
  private def columnFloors(rows: Seq[(String, String)], tpe: String) =
    rows.toDF("a", "b")
      .select(floorDiv(col("a").cast(tpe), col("b").cast(tpe)))
      .as[Long].collect().toSeq

  test("BigInt floorDiv is Math.floorDiv for either sign of the divisor") {
    val pairs = Seq.fill(2000)(
      (rnd.nextLong() >> rnd.nextInt(63), rnd.nextLong() >> rnd.nextInt(63)))
      .filter(_._2 != 0) ++
      Seq((7L, 2L), (-7L, 2L), (7L, -2L), (-7L, -2L), (-6L, 3L), (0L, -5L))
    pairs.foreach { case (a, b) =>
      assert(floorDiv(BigInt(a), BigInt(b)) === BigInt(Math.floorDiv(a, b)),
        s"floorDiv($a, $b)")
    }
  }

  test("Column floorDiv equals BigInt floorDiv for b > 0 (long operands)") {
    val pairs = Seq.fill(500) {
      val b = 1L + rnd.nextInt(1 << 20)
      ((rnd.nextLong() >> 14), b)
    } ++ Seq((-1L, 1L), (-1L, 7L), (-14L, 7L), (-15L, 7L), (0L, 3L),
      (13L, 7L), (-1000000L, 1000000L), (-1000001L, 1000000L))
    val got = columnFloors(pairs.map { case (a, b) => (a.toString, b.toString) },
      "long")
    assert(got === pairs.map { case (a, b) =>
      floorDiv(BigInt(a), BigInt(b)).toLong })
  }

  test("Column floorDiv equals BigInt floorDiv for b > 0 (decimal(38,0))") {
    // Numerators past 2^63, as in the widened weighted sums; quotients
    // stay inside a long.
    val pairs = Seq.fill(500) {
      val b = BigInt(1L + (rnd.nextLong() >>> 4))
      val q = BigInt(rnd.nextLong() >> 20)
      (q * b + BigInt(rnd.nextLong() >>> 1) % b, b)
    } ++ Seq((BigInt(-1), BigInt(1)), (BigInt(-1), BigInt(10).pow(18)),
      (-BigInt(10).pow(30), BigInt(10).pow(18)),
      (-BigInt(10).pow(30) - 1, BigInt(10).pow(18)))
    assert(pairs.exists(_._1 < 0) && pairs.exists(_._1.bitLength > 63))
    val got = columnFloors(pairs.map { case (a, b) =>
      (a.toString, b.toString) }, "decimal(38,0)")
    assert(got === pairs.map { case (a, b) => floorDiv(a, b).toLong })
  }

  test("bin6 rounds half up at the ±0.5e-6 boundaries") {
    // x whose x·1e6 is exactly n + 0.5 in double arithmetic: a tie at six
    // decimals. Half up sends +x to n + 1 and −x to −n.
    val ties = (0 until 4000).map(n => (n, (n + 0.5) / 1e6))
      .filter { case (n, x) => x * 1e6 == n + 0.5 }
    assert(ties.size > 1000)
    val xs = ties.flatMap { case (_, x) => Seq(x, -x, Math.nextDown(x),
      Math.nextUp(-x)) }
    val got = xs.toDF("x").select(col("x"), bin6(col("x")))
      .as[(Double, Double)].collect().toMap
    ties.foreach { case (n, x) =>
      assert(got(x) === (n + 1) / 1e6, s"bin6($x)")
      assert(got(-x) === -n / 1e6, s"bin6(${-x})")
    }
    // Every input, tie or not, gets exactly the IEEE formula.
    xs.foreach(x => assert(got(x) === math.floor(x * 1e6 + 0.5) / 1e6))
    assert(Seq[Option[Double]](None).toDF("x").select(bin6(col("x")))
      .head().isNullAt(0))
  }
}
