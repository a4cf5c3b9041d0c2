package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep for the checkpoint-stats discipline (r11 verdict
  * Next #7). A `localCheckpoint` carries the ORIGIN plan's statistics
  * onto the new leaf; inside a state→state loop those stats compound
  * round over round (a self-join SQUARES the size estimate, so after
  * ~20 rounds Catalyst's stats visitor multiplies million-bit
  * BigIntegers on the driver and planning hangs — the dedupClusters
  * incident). The repo-wide convention, stated on
  * `GraftShim.ckptNoStats`:
  *
  *  - loop checkpoints (state feeding the next round) call
  *    `GraftShim.ckptNoStats` / `dropOriginStats` directly — operator
  *    modules keep no local copies of the helper;
  *  - one-shot checkpoints (input materialization, shared candidate
  *    sets, cache entries) MAY keep origin stats — they are the real
  *    input's and inform join strategy — and mark the site
  *    `// stats-ok: <reason>` so this sweep records the adjudication.
  *
  * The sweep fails on any `.localCheckpoint(` call site in `src/main`
  * that is neither wrapped (the wrapper call appearing within the four
  * preceding lines covers multi-line expressions) nor marked. A new
  * iterative operator therefore cannot reintroduce the hazard by
  * forgetting the second half of the idiom — it trips this spec until
  * the author either routes through `ckptNoStats` or writes down why
  * origin stats are safe at that site.
  */
class CheckpointDisciplineSpec extends AnyFunSuite {

  // Only the shim's own names are acceptance tokens: a wrapper call site
  // contains no `.localCheckpoint(` (so it never reaches this check), and
  // a locally defined helper would have to visibly reach one of these two
  // in its body — which keeps a `def ckpt(df) = df.localCheckpoint()`
  // from slipping through on its name alone.
  private val wrappers = Seq("ckptNoStats", "dropOriginStats")

  test("every localCheckpoint site is stats-dropped or adjudicated stats-ok") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"sweep must run from the repo root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val violations = walk(root)
      // The shim DEFINES the wrappers; its own localCheckpoint calls are
      // the canonical implementation, not call sites.
      .filterNot(_.getName == "GraftShim.scala")
      .flatMap { f =>
        val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
        lines.zipWithIndex.collect {
          case (line, i)
              if line.contains(".localCheckpoint(") &&
                !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
            val window = lines.slice(math.max(0, i - 4), i + 1)
            val wrapped = window.exists(w => wrappers.exists(w.contains))
            val marked = lines.slice(math.max(0, i - 2), i + 1)
              .exists(_.contains("// stats-ok:"))
            if (wrapped || marked) None else Some(s"${f.getPath}:${i + 1}")
          case _ => None
        }.flatten
      }
    assert(violations.isEmpty,
      s"bare localCheckpoint sites (route through GraftShim.ckptNoStats " +
        s"for loop state, or mark `// stats-ok: <reason>` for one-shot " +
        s"materialization):\n  ${violations.mkString("\n  ")}")
  }

  test("local ckpt helpers delegate to the shim (no hand-rolled stats drop)") {
    // Checkpoint call sites reach GraftShim — none may reimplement the
    // LogicalRDD surgery that `dropOriginStats` owns.
    val root = new java.io.File("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    val offenders = walk(root).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8").mkString
      src.contains("new org.apache.spark.sql.execution.LogicalRDD")
    }
    assert(offenders.isEmpty,
      s"LogicalRDD reconstruction outside GraftShim: ${offenders.map(_.getPath)}")
  }
}
