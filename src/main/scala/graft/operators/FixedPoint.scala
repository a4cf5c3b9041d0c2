package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The two rounding rules every fixed-point operator rounds with, the
  * oracle's spelling of the first, and the one exact linear solve the
  * regression fits share ([[cramer]]). Operators keep their state in exact
  * integers and round at one site, so a query gives the same bits as its
  * DuckDB oracle under any partitioning — and a recomputed partition
  * gives the same bits as the lost one.
  *
  * Truncation needs no helper: Spark's `div` and DuckDB's `//` both
  * truncate toward zero for either sign of either operand (−7 div 2 =
  * −7 // 2 = −3), so a truncating division is a plain `div`.
  *
  * Floor division: adding −1 to `div` when the remainder is negative
  * makes it a floor. The Column form and [[fd]] assume a positive
  * divisor (for b < 0 they are not a floor), and parity needs the two
  * to agree, so neither is "fixed" alone. The BigInt form and [[fdH]]
  * are true floors for either sign.
  *
  * `bin6`: round half up to 6 decimals, floor(x·1e6 + 0.5)/1e6, as plain
  * IEEE ops written the same way in the oracle SQL, so bit-identical
  * inputs give bit-identical outputs. Library `round()` is not stable
  * across engines on half boundaries: Spark rounds the value's shortest
  * decimal form, DuckDB the binary double, and an exact .xxxxxx5 (common
  * for small-denominator rationals) flips between them. Valid for
  * |x| < 2^63/1e6 ≈ 9.2e12; NULL passes through.
  */
private[operators] object FixedPoint {

  /** floor(a / b) for b > 0, as a long. */
  def floorDiv(a: Column, b: Column): Column =
    (call_function("div", a, b) +
      when((a % b) < 0, -1L).otherwise(0L)).cast("long")

  /** floor(a / b) for either sign of b. */
  def floorDiv(a: BigInt, b: BigInt): BigInt = {
    val (q, rem) = a /% b
    if (rem.signum != 0 && rem.signum != b.signum) q - 1 else q
  }

  /** Cramer's rule for a·x = b over exact integers: det(a), and for each
    * column j the determinant of a with column j replaced by b, so
    * x_j = d_j / det. Callers floor the ratios to their own scale and
    * guard det themselves. Laplace expansion, for the small k of the
    * regression fits.
    */
  def cramer(a: Seq[Seq[BigInt]], b: Seq[BigInt]): (BigInt, Seq[BigInt]) = {
    def det(m: Seq[Seq[BigInt]]): BigInt =
      if (m.isEmpty) BigInt(1)
      else m.head.indices.map { j =>
        val minor = det(m.tail.map(r => r.patch(j, Nil, 1)))
        if (j % 2 == 0) m.head(j) * minor else -m.head(j) * minor
      }.sum
    (det(a), a.indices.map(j =>
      det(a.zip(b).map { case (r, bi) => r.updated(j, bi) })))
  }

  /** x rounded half up to 6 decimals. */
  def bin6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Oracle-side floor division for b > 0, in DuckDB spelling. */
  def fd(a: String, b: String): String =
    s"(($a)//($b) + (case when ($a) % ($b) < 0 then -1 else 0 end))"

  /** Oracle-side floor division for either sign of b. */
  def fdH(a: String, b: String): String =
    s"(($a)//($b) + (CASE WHEN ($a) % ($b) != 0 AND" +
      s" sign(($a) % ($b)) != sign($b) THEN -1 ELSE 0 END))"
}
