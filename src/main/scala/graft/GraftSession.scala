package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine — the one place a `SparkSession` is
  * built, so every main, test and benchmark runs the same config.
  *
  * Local mode is a single JVM with N executor threads; on a real cluster the
  * same settings apply per-executor. Shuffle partitions default to the local
  * core count (not Spark's 200) — at 100 TB scale this is overridden to
  * ~2-3x total cluster cores; AQE (on by Spark's default) coalesces small
  * partitions either way. The core count defaults to `SPARK_GRAFT_CPUS`
  * when set, otherwise to the JVM's available processors.
  */
object GraftSession {
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
              .getOrElse(Runtime.getRuntime.availableProcessors()),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.Native.register(spark)
    operators.SqlRegistry.register(spark)
    spark
  }
}
