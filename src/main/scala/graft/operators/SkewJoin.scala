package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Manual key-salting for skewed equi-joins (SURVEY.md §4 / scale notes).
  *
  * AQE's skew-join handling splits oversized SORT-MERGE partitions at
  * runtime and is the first line of defense (on by Spark's default).
  * Salting remains the tool for the cases AQE can't rewrite — skewed
  * aggregation keys feeding a join, or a hot key whose rows must spread
  * across MORE executors than one partition split allows.
  *
  * Mechanics: the big side gets a deterministic salt in [0, salts) hashed
  * from its entire row, widening the hot key into `salts` distinct shuffle
  * keys; the small side is replicated `salts` times (explode of a literal
  * range) so every (key, salt) bucket finds its match. Join output is
  * row-identical to the unsalted join — verified by the spec.
  */
object SkewJoin {

  /** Inner equi-join of `big` and `small` on `key`, with the big side's hot
    * keys spread over `salts` shuffle partitions.
    */
  def saltedInner(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    // Deterministic salt from the whole big row (no rand(): replays and
    // retries must route a row identically).
    val bigCols: Array[Column] = big.columns.map(col)
    val salted = big.withColumn("_salt", pmod(xxhash64(bigCols: _*), lit(salts)))
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    salted.join(replicated, Seq(key, "_salt"), "inner").drop("_salt")
  }
}
