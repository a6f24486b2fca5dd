package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextHash, VecOps}

class GraftExtensionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("SQL names resolve and match the Column API on real documents") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Tables(spark, TestSpark.sf0, "documents").limit(50)
      .select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0).as("toks"))
      .cache()
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, minhash_sig(toks, 3, 8) AS mh, simhash_sig(toks) AS sh,
                distinct_ngrams(toks, 2) AS ng
         FROM ext_docs ORDER BY doc_id""").collect()
    val viaCol = docs.select(col("doc_id"),
        TextHash.minhashSig(col("toks"), 3, 8).as("mh"),
        TextHash.simhashSig(col("toks")).as("sh"),
        TextHash.distinctNGrams(col("toks"), 2).as("ng"))
      .orderBy("doc_id").collect()
    assert(viaSql.length == 50)
    viaSql.zip(viaCol).foreach { case (a, b) => assert(a == b) }
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").as[Double].head()
    assert(dot == 11.0)
    val cos = spark.sql(
      "SELECT vec_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c").as[Double].head()
    assert(cos == 0.0)
    docs.unpersist()
  }

  test("DESCRIBE FUNCTION vec_dot states the common-prefix and null-element rules") {
    GraftFunctions.register(spark)
    val usage = spark.sql("DESCRIBE FUNCTION vec_dot").collect().map(_.getString(0))
      .mkString("\n")
    assert(usage.contains("COMMON PREFIX") && usage.contains("null elements count as 0"),
      usage)
  }

  test("non-literal hash knobs fail loudly at analysis, not silently at run") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array('a','b'), 3, CAST(rand() * 8 AS INT))")
        .collect()
    }
    assert(e.getMessage.contains("num_hashes") || e.getMessage.contains("literal"),
      s"unexpected error: ${e.getMessage}")
  }

  test("GraftExtensions injects at session build time (withExtensions path)") {
    val base = TestSpark.spark // ensure context exists before we clear sessions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base)
      val r = s2.sql(
        "SELECT vec_dot(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS d").collect()
      assert(r(0).getDouble(0) == 23.0)
      // the extension carries ALL descriptors, not just vec_dot
      assert(s2.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_sig")))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("VecDotCastElision removes array<double> casts under vec_dot, same result") {
    import graft.functions.VecOps
    val emb = Tables(spark, TestSpark.sf0, "embeddings").limit(30)
      .select(col("vec_id"), col("embedding"))
    val tidy = emb.select(col("vec_id"),
      VecOps.vecDot(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("d"))
    // the session rule (injected via GraftExtensions) must strip both casts
    val dots = tidy.queryExecution.optimizedPlan
      .collect { case n => n.expressions.flatMap(_.collect {
        case d: graft.functions.VecDot => d
      }) }.flatten
    assert(dots.nonEmpty)
    dots.foreach { d =>
      assert(!d.left.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast] &&
        !d.right.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast],
        s"cast not elided: $d")
    }
    // and the rewrite is bit-identical to the uncast spelling
    val raw = emb.select(col("vec_id"),
      VecOps.vecDot(col("embedding"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    tidy.collect().foreach(r => assert(r.getDouble(1) == raw(r.getLong(0))))
  }

  test("vec_cosine SQL name equals the Column-API cosine on embeddings") {
    GraftFunctions.register(spark)
    val emb = Tables(spark, TestSpark.sf0, "embeddings").limit(20)
      .select(col("vec_id"), col("embedding")).cache()
    emb.createOrReplaceTempView("ext_emb")
    val viaSql = spark.sql(
      """SELECT a.vec_id, ROUND(vec_cosine(a.embedding, b.embedding), 9) AS c
         FROM ext_emb a JOIN ext_emb b ON b.vec_id = a.vec_id + 1
         ORDER BY a.vec_id""").collect()
    val b = emb.select(col("vec_id").as("vid2"), col("embedding").as("emb2"))
    val viaCol = emb.join(b, col("vid2") === col("vec_id") + 1)
      .select(col("vec_id"),
        round(VecOps.cosine(col("embedding"), col("emb2")), 9).as("c"))
      .orderBy("vec_id").collect()
    assert(viaSql.nonEmpty)
    viaSql.zip(viaCol).foreach { case (x, y) => assert(x == y) }
    emb.unpersist()
  }

  test("hamming_bits SQL name matches the Column API") {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq((0, "010101", "011001"), (1, "1111", "0000")).toDF("i", "a", "b")
      .createOrReplaceTempView("hb")
    val sql = spark.sql("SELECT i, hamming_bits(a, b) AS h FROM hb ORDER BY i")
      .collect().map(_.getLong(1)).toSeq
    assert(sql === Seq(2L, 4L))
    spark.catalog.dropTempView("hb")
  }

  test("morton2 SQL name matches the driver interleave; bits must be a literal in range") {
    val spark = TestSpark.spark
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(43)
    val rows = (1 to 200).map(_ =>
      (rnd.nextInt(1 << 9).toLong, rnd.nextInt(1 << 9).toLong))
    rows.toDF("x", "y").createOrReplaceTempView("mz")
    val got = spark.sql("SELECT x, y, morton2(x, y, 9) AS z FROM mz")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) === graft.streaming.Zorder.interleave(x, y, 9))
    }
    val e1 = intercept[Exception](spark.sql("SELECT morton2(1, 2, 99)").collect())
    assert(e1.getMessage.contains("bits must be in [1,31]"))
    val e2 = intercept[Exception](
      spark.sql("SELECT morton2(x, y, CAST(x AS INT)) FROM mz").collect())
    assert(e2.getMessage.contains("literal INT"))
    spark.catalog.dropTempView("mz")
  }

  test("spark.graft.* session confs: validated defaults, overrides, loud failures") {
    // VERDICT r13 #6 — the scale knobs are session confs; the
    // literal-knob discipline applies: bad values fail at READ time
    val spark = TestSpark.spark
    SparkSession.setActiveSession(spark)
    val stateKey = "spark.graft.stream.stateBytesPerPartition"
    def clear(): Unit = {
      spark.conf.unset(stateKey)
      spark.conf.unset("spark.graft.pipes.reopenSpillBytes")
    }
    clear()
    try {
      assert(GraftConf.streamStateBytesPerPartition === (64L << 20))
      assert(GraftConf.reopenSpillBytes ===
        graft.operators.WorkerPool.defaultReopenSpillBytes)
      spark.conf.set(stateKey, "7")
      spark.conf.set("spark.graft.pipes.reopenSpillBytes", "0")
      assert(GraftConf.streamStateBytesPerPartition === 7L)
      assert(GraftConf.reopenSpillBytes === 0L)
      spark.conf.set(stateKey, "0")
      val e1 = intercept[IllegalArgumentException](GraftConf.streamStateBytesPerPartition)
      assert(e1.getMessage.contains("stateBytesPerPartition"))
      spark.conf.set("spark.graft.pipes.reopenSpillBytes", "lots")
      val e2 = intercept[IllegalArgumentException](GraftConf.reopenSpillBytes)
      assert(e2.getMessage.contains("must be a long"))
    } finally clear()
  }
}
