package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.TimestampType
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cpus = "4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0: String = "/root/testdata/sf0.001"

  /** Write `df` as ONE parquet file at `dir/name`. */
  def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val stage = s"${GraftSession.tempDirCleanedOnExit("txlog-stage")}/out"
    df.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(dir))
    Files.move(part.toPath, Paths.get(dir, name))
  }

  /** Land one events file per batch in `dir`, each batch a list of
    * (user_id, value) events, with increasing modification times so a
    * `maxFilesPerTrigger = 1` stream takes them in order. */
  def landEvents(dir: String, batches: Seq[Seq[(Option[Long], Double)]]): Unit = {
    val schema = streaming.Streams.eventsFileSchema(TimestampType)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    batches.zipWithIndex.foreach { case (evs, b) =>
      val rows = evs.zipWithIndex.map { case ((u, v), i) =>
        Row(b * 1000L + i, ts, u.map(Long.box).orNull, "view", v, "{}") }
      val name = f"batch$b%03d.parquet"
      writeFile(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), dir, name)
      Files.setLastModifiedTime(Paths.get(dir, name), FileTime.fromMillis(1000000L * (b + 1)))
    }
  }
}
