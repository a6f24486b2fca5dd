package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The containment join's asymmetric prefix filter must be COMPLETE:
  * candidates are a superset of every true |A∩B|/min >= t pair, and the
  * full row equals the brute-force gram-gram pipeline — including on a
  * skewed corpus where one hot gram is shared by every document (the
  * exact shape the filter exists to bound). */
class ContainmentPrefixSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // hashed grams — the production element type (the verify kernel
  // requires the (h1, h2) pair arrays); brute() joins on the same
  // hash-equality the pipeline uses, so truth and candidates share one
  // gram representation
  private def grams(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      explode(functions.TextHash.ngramHashes(
        operators.TextExprs.toks(col("text")), 3)).as("gram"))

  /** brute-force containment pairs (the pre-r7 plan, kept as truth) */
  private def brute(g: DataFrame, t: Double): DataFrame = {
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    g.as("a").join(g.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("cont", round(col("i") * 1.0 / least(col("na"), col("nb")), 6))
      .filter(col("cont") >= t)
  }

  /** String grams, independent of the gram-hash kernel. */
  private def stringGrams(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      explode(functions.TextHash.distinctNGrams(
        operators.TextExprs.toks(col("text")), 3)).as("gram"))

  /** Seeded corpus with (a) a boilerplate sentence in EVERY doc — one
    * hot gram family shared by all n docs — and (b) injected subset
    * duplication: every 7th doc is a shorter doc's text wrapped in
    * fresh padding, a true containment pair the filter must keep. */
  private def skewedCorpus(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val boiler = "terms of service apply to all content"
    val base = (0 until n).map { i =>
      val body = Seq.fill(8 + rnd.nextInt(20))(s"w${rnd.nextInt(400)}").mkString(" ")
      (i.toLong, s"$boiler $body")
    }
    val wrapped = base.filter(_._1 % 7 == 0).map { case (id, text) =>
      val pad = Seq.fill(3)(s"p${rnd.nextInt(50)}").mkString(" ")
      (id + 100000L, s"$pad $text $pad")
    }
    (base ++ wrapped).toDF("doc_id", "text")
  }

  test("containment row equals the brute-force pipeline on the sf corpus") {
    val got = SparkEntry.queries("q_dedup_containment")(spark, TestSpark.sf0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val g = grams(Tables(spark, TestSpark.sf0, "documents"))
    val want = brute(g, 0.8)
      .select(
        when(col("na") < col("nb"), col("doc_a"))
          .when(col("nb") < col("na"), col("doc_b"))
          .otherwise(least(col("doc_a"), col("doc_b"))).as("contained"),
        when(col("na") < col("nb"), col("doc_b"))
          .when(col("nb") < col("na"), col("doc_a"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("container"),
        col("i"), col("cont"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("prefix candidates have zero false negatives on a hot-gram corpus") {
    val g = grams(skewedCorpus(150, seed = 41)).localCheckpoint()
    val truth = brute(g, 0.8).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = operators.Dedup.containmentCandidates(g, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus must contain injected containment pairs")
    assert(truth.subsetOf(cand))
    // and the full pipeline agrees with brute truth end-to-end
    val got = operators.Dedup.containmentPairs(g, 0.8)
      .select("contained", "container").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val orient = brute(g, 0.8)
      .select(
        when(col("na") < col("nb"), col("doc_a"))
          .when(col("nb") < col("na"), col("doc_b"))
          .otherwise(least(col("doc_a"), col("doc_b"))).as("contained"),
        when(col("na") < col("nb"), col("doc_b"))
          .when(col("nb") < col("na"), col("doc_a"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("container"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == orient)
  }

  test("hot shared grams do not fan out: candidates stay near the true pairs") {
    // every one of the 150 base docs shares the boilerplate grams; a raw
    // gram-gram join would emit C(150+,2) > 11k candidate pairs from that
    // family alone. The prefix filter must keep candidates within a small
    // multiple of the true pair count, because hot grams sort LAST in the
    // global (df, gram) order and fall out of every prefix.
    val g = grams(skewedCorpus(150, seed = 42)).localCheckpoint()
    val nTrue = brute(g, 0.8).count()
    val nCand = operators.Dedup.containmentCandidates(g, 0.8).count()
    val nDocs = g.select("doc_id").distinct().count()
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(nCand < allPairs / 10,
      s"candidates $nCand should be far below all-pairs $allPairs")
    assert(nCand <= math.max(50L, nTrue * 20),
      s"candidates $nCand should stay near true pairs $nTrue")
  }

  test("hashed pipeline equals brute force on string grams") {
    // truth built on the gram strings themselves, so a hash kernel that
    // merged or dropped grams would show here as a pair-set difference
    val docsDf = skewedCorpus(150, seed = 43)
    val truth = brute(stringGrams(docsDf), 0.8).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = operators.Dedup.containmentPairs(grams(docsDf).localCheckpoint(), 0.8)
      .select(least(col("contained"), col("container")),
        greatest(col("contained"), col("container")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus must contain injected containment pairs")
    assert(got == truth)
  }
}
