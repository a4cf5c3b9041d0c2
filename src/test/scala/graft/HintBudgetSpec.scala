package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep that ratchets the hand-placed `shuffle_hash` join hints
  * in `src/main`. Loop checkpoints drop their statistics on purpose
  * (`GraftShim.ckptNoStats`), so a join over one starts from a guessed
  * size; adaptive execution then re-plans it from the measured size of
  * each shuffle stage and picks a broadcast or hash join unaided. A hint
  * earns its place only where a final-plan dump (`PlanDump`) or a plan
  * test shows the unhinted join doing worse, and its comment names that
  * evidence. A change that removes hints lowers `budget`; a hint added
  * without raising it, with that evidence, fails here.
  */
class HintBudgetSpec extends AnyFunSuite {

  private val budget = 2
  private val hint = """.hint("shuffle_hash")"""

  test(s"src/main holds at most $budget shuffle_hash hints") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sweep must run from the repo root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val perFile = walk(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8").mkString
      f.getPath -> src.sliding(hint.length).count(_ == hint)
    }.filter(_._2 > 0).sortBy(_._1)
    val total = perFile.map(_._2).sum
    assert(total <= budget,
      s"$total shuffle_hash hints in src/main, budget $budget:\n  " +
        perFile.map { case (p, n) => s"$p: $n" }.mkString("\n  "))
  }
}
