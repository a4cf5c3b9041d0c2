package graft

import java.nio.file.{Files, Paths}

/** Dev tool (not driver contract): dump `explain("formatted")` for named
  * queries into <outDir>/<name>_<suffix>.txt — the before/after plan
  * evidence committed under plans/rNN/.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> " +
          "<name>[,<name>...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.split(',').foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
