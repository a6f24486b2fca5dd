package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]], driven by thunks that count their calls: a hit runs none, a
  * miss runs one, and a memo that cannot see its tables stores nothing. */
class MemoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** a data dir whose table `t` is one file of `bytes` — the memo only
    * lists a table, it never reads it */
  private def dataDir(bytes: String): Path = {
    val d = GraftSession.tempDirCleanedOnExit("memo-spec")
    Files.createDirectories(d.resolve("t.parquet"))
    rewrite(d, bytes)
    d
  }

  private def rewrite(d: Path, bytes: String): Path =
    Files.write(d.resolve("t.parquet").resolve("part-0"), bytes.getBytes("UTF-8"))

  private def counting[V](n: AtomicInteger, v: V): V = { n.incrementAndGet(); v }

  test("a second call on the same data is a hit") {
    val d = dataDir("abc").toString
    val n = new AtomicInteger
    assert(Memo(spark, "hit", d, "t")(counting(n, 1)) == 1)
    assert(Memo(spark, "hit", d, "t")(counting(n, 2)) == 1)
    val f = Memo.frame(spark, "hit-frame", d, "t")(counting(n, spark.range(5).toDF()))
    val g = Memo.frame(spark, "hit-frame", d, "t")(counting(n, spark.range(7).toDF()))
    assert(g.collect().toSeq == f.collect().toSeq && g.count() == 5)
    assert(n.get == 2)
  }

  test("rewriting a table at the same path is a miss, also at the same size") {
    val dir = dataDir("abc")
    val d = dir.toString
    val n = new AtomicInteger
    assert(Memo(spark, "rewrite", d, "t")(counting(n, "v1")) == "v1")
    val before = Files.getLastModifiedTime(dir.resolve("t.parquet/part-0"))
    // same size, and an mtime under one millisecond later: only a
    // nanosecond mtime tells the two files apart
    val part = rewrite(dir, "xyz")
    Files.setLastModifiedTime(part,
      FileTime.from(before.to(TimeUnit.NANOSECONDS) + 1000L, TimeUnit.NANOSECONDS))
    assert(Memo(spark, "rewrite", d, "t")(counting(n, "v2")) == "v2")
    assert(Memo(spark, "rewrite", d, "t")(counting(n, "v3")) == "v2")
    assert(n.get == 2)
  }

  test("a missing table path stores nothing") {
    val d = dataDir("abc").toString
    val n = new AtomicInteger
    assert(Memo.fingerprint(spark, d, Seq("absent")).isEmpty)
    assert(Memo(spark, "missing", d, "absent")(counting(n, 1)) == 1)
    assert(Memo(spark, "missing", d, "absent")(counting(n, 2)) == 2)
    assert(n.get == 2)
  }

  test("a file:-qualified dir sees a rewrite") {
    val dir = dataDir("abc")
    val d = dir.toUri.toString.stripSuffix("/")
    assert(d.startsWith("file:"))
    val n = new AtomicInteger
    assert(Memo(spark, "uri", d, "t")(counting(n, "v1")) == "v1")
    assert(Memo(spark, "uri", d, "t")(counting(n, "v2")) == "v1")
    rewrite(dir, "abcd")
    assert(Memo(spark, "uri", d, "t")(counting(n, "v3")) == "v3")
    assert(n.get == 2)
  }

  test("a frame over the cap stays distributed and is not stored") {
    val d = dataDir("abc").toString
    val n = new AtomicInteger
    def big() = Memo.frame(spark, "big", d, "t")(
      counting(n, spark.range(Memo.capRows + 1L).toDF()))
    assert(big().count() == Memo.capRows + 1L)
    assert(big().count() == Memo.capRows + 1L)
    assert(n.get == 2)
  }

  test("a compute that calls the memo for another tag does not throw") {
    val d = dataDir("abc").toString
    val n = new AtomicInteger
    def outer() = Memo(spark, "outer", d, "t")(
      counting(n, Memo(spark, "inner", d, "t")(counting(n, 1)) + 1))
    assert(outer() == 2 && outer() == 2)
    assert(n.get == 2)
  }

  test("q_ml_pca sees embeddings rewritten in place: vectors x2, eigval x4") {
    val dir = GraftSession.tempDirCleanedOnExit("memo-pca")
    Files.list(java.nio.file.Paths.get(TestSpark.sf0))
      .forEach(f => Files.copy(f, dir.resolve(f.getFileName)): Unit)
    val d = dir.toString
    def eigval() =
      SparkEntry.queries("q_ml_pca")(spark, d).select("eigval").head().getDouble(0)
    val e1 = eigval()
    val emb = dir.resolve("embeddings.parquet")
    val scaled = dir.resolve("embeddings-x2")
    spark.read.parquet(emb.toString)
      .withColumn("embedding", expr("transform(embedding, x -> x + x)"))
      .write.parquet(scaled.toString)
    Files.delete(emb)
    Files.move(scaled, emb)
    val e2 = eigval()
    assert(e1 > 0 && math.abs(e2 - 4 * e1) < 1e-5, s"eigval $e1 -> $e2")
  }
}
