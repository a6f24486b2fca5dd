package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The heavy-hitters row's completeness rests on the Misra-Gries
  * superset guarantee; the oracle hash-match proves it on the sf corpus,
  * this spec proves it on adversarial skew the testdata doesn't have. */
class HeavyHittersSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("declared row equals the brute group-by on the sf corpus") {
    val got = SparkEntry.queries("q_text_heavy_hitters")(spark, TestSpark.sf0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val tk = Tables(spark, TestSpark.sf0, "documents")
      .select(explode(operators.TextExprs.toks(col("text"))).as("tok"))
    val total = tk.count()
    val want = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 200 > total)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty, "sf corpus must have a zipf head")
  }

  test("zipf skew with a long adversarial tail: no heavy hitter is lost") {
    // 40k tail tokens cycling through partitions try to evict the 5
    // genuinely heavy tokens from the per-partition counter maps
    val rows = (0 until 50000).map { i =>
      if (i % 10 < 5) s"heavy${i % 10}" else s"tail${i % 40000}"
    }
    val docsDf = rows.grouped(50).map(_.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
    val tk = docsDf.select(explode(operators.TextExprs.toks(col("text"))).as("tok"))
      .repartition(8)
    val total = tk.count()
    val truth = tk.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 200 > total)
      .collect().map(_.getString(0)).toSet
    assert(truth == (0 until 5).map(i => s"heavy$i").toSet)
    // the row's own sketch, over this corpus
    val cands = tk.as[String].mapPartitions(operators.TextAnalysis.misraGries(_))
      .collect().toSet
    // the k = 512 bound holds: a sketch that never evicts would keep
    // each partition's ~5,000 distinct tail tokens
    val perPartition = tk.as[String]
      .mapPartitions(it => Iterator(operators.TextAnalysis.misraGries(it).size))
      .collect()
    assert(perPartition.length == 8 && perPartition.forall(_ <= 512),
      s"candidates per partition: ${perPartition.mkString(",")}")
    assert(truth.subsetOf(cands), s"MG lost ${truth.diff(cands)}")
  }
}
