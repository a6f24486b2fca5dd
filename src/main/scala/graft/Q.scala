package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator query: a Spark implementation plus (when the
  * semantics are SQL-expressible) a DuckDB oracle over the same parquet
  * tables. Column names MUST match between the two — the driver sorts
  * columns by name before hashing values. Results must be deterministic:
  * canonical ORDER BY on both sides, doubles rounded on both sides.
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def defs: Seq[Q]

  /** `x` rounded to `scale` decimals half-up, like SQL ROUND (DuckDB and
    * Spark round ties away from zero), NOT Math.rint's half-even: a value
    * computed in Scala must round exactly like its oracle's ROUND. */
  protected final def halfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
}
