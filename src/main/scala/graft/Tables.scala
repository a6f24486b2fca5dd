package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * The reference reads typed key-value records via per-job InputFormats
  * (`core/src/main/java/org/apache/hama/bsp/SequenceFileInputFormat.java:28`);
  * here every table is a parquet scan whose schema Catalyst knows statically,
  * so column pruning + predicate pushdown reach the file scan for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A table scan pre-partitioned by `key` to one partition per shuffle
    * slot — the knob for CPU-BOUND map stages (regex/tokenize/md5/decode):
    * AQE sizes post-shuffle partitions by BYTES, and raw input is tiny
    * next to ~100× per-row CPU behind it, so a single-row-group parquet
    * file otherwise runs the whole stage as one task. The key clustering
    * is reused by downstream per-key aggregates/windows, so the exchange
    * replaces the one they would run rather than adding a net shuffle. */
  def cpuPartitioned(spark: SparkSession, sfDir: String, name: String, key: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    apply(spark, sfDir, name).repartition(n, org.apache.spark.sql.functions.col(key))
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS) which Spark only reads as long
    // (spark.sql.legacy.parquet.nanosAsLong); surface it as timestamp_ntz at
    // microsecond precision — the same truncation DuckDB applies to nanos.
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integer DIV, not double /: ns epochs (~1.7e18) overflow double mantissa
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))
    else df
  }
}
