package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep that keeps the rounding rules in one place. Operators
  * round with `operators.FixedPoint` (floor division and `bin6`); a local
  * copy can drift from the oracle's spelling without any single query
  * noticing. Outside `FixedPoint.scala`, `src/main` may hold no
  * remainder-sign floor correction, no `/%` floor and no local rounding
  * helper under one of the names the copies used to carry. A plain
  * `div` on operands known to be non-negative is a floor already and is
  * not flagged.
  *
  * Nor may it hold a "sign-split" division, `sign(a) * (abs(a) div b)`
  * or `(case when a < 0 then -1L else 1L end) * (abs(a) div b)`: `div`
  * truncates toward zero already, so the split only adds a rule, and
  * the DOUBLE `sign()` loses bits above 2^53. The oracle's DuckDB
  * spelling (`//`) is reference text and is not flagged.
  *
  * Nor may it expand a determinant by hand: a `det…` value built from a
  * difference of products is Cramer's rule written out again, and
  * `FixedPoint.cramer` is its one home. The oracle SQL's `AS det` text
  * is reference text and is not flagged; a `det` that is not a
  * determinant (a detrended frame) has no product difference.
  *
  * The same walk keeps top-k ranking to one mechanism: operators rank
  * with `row_number() <= k`, and `TypedAggs.BoundedTopK` stays only as
  * the typed-Aggregator demonstration inside `TypedAggs.scala`.
  */
class FixedPointSweepSpec extends AnyFunSuite {

  private val patterns = Seq(
    "remainder-sign floor correction" ->
      """(?s)%[^%]{0,160}?\)\s*<\s*0\s*,\s*-1L""".r,
    "BigInt /% floor" -> """/%""".r,
    "sign-split division" ->
      ("""(?is)(\bsign(?:um)?\(|\bthen\s+-1L?\b[^/]{0,20}?\belse\s+1L?\s+end\b)""" +
        """[^/]{0,200}?\babs\([^/]{0,200}?\bdiv\b""").r,
    "hand-expanded determinant" ->
      """\b(?:val|var)\s+det\w*\b[^=\n]*=[^"\n]*\*[^"\n]*-""".r,
    "local rounding helper" ->
      """\bdef\s+(bin6|binRound6|fdC|fdc|fdiv|fdB|fdL|fdH|floorDivSql)\b""".r)

  private def sources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sweep must run from the repo root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    walk(root)
  }

  test("floor division and bin6 live only in FixedPoint") {
    val hits = sources.filterNot(_.getName == "FixedPoint.scala")
      .sortBy(_.getPath).flatMap { f =>
        val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        // Comment lines become blank so matches keep their line numbers.
        // A line opening with `*` is code unless a block comment is open:
        // SQL text continues with `* (abs(..) div ..)` lines.
        var inBlock = false
        val code = lines.map { l =>
          val t = l.trim
          val comment = inBlock || t.startsWith("//") || t.startsWith("/*")
          if (t.startsWith("/*")) inBlock = !t.contains("*/")
          else if (inBlock && t.contains("*/")) inBlock = false
          if (comment) "" else l
        }.mkString("\n")
        for {
          (what, re) <- patterns
          m <- re.findAllMatchIn(code)
        } yield {
          val line = code.substring(0, m.start).count(_ == '\n') + 1
          s"${f.getPath}:$line: $what"
        }
      }
    if (hits.nonEmpty)
      fail("fixed-point rules outside operators.FixedPoint (use " +
        "FixedPoint.floorDiv, FixedPoint.bin6 or FixedPoint.cramer, or a " +
        s"plain div to truncate):\n  ${hits.mkString("\n  ")}")
  }

  test("BoundedTopK lives only in TypedAggs") {
    val hits = sources.filterNot(_.getName == "TypedAggs.scala")
      .sortBy(_.getPath).flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex
          .collect { case (l, i) if l.contains("BoundedTopK") =>
            s"${f.getPath}:${i + 1}" }
          .toVector
      }
    if (hits.nonEmpty)
      fail("BoundedTopK outside TypedAggs (rank with row_number() <= k):\n  " +
        hits.mkString("\n  "))
  }
}
