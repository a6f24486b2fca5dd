package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** ML / numeric operators (SURVEY.md §2.6), re-expressed as declarative
  * aggregation pipelines. All iterative trainers use the reference's
  * master-coordination shape: partial aggregates flow to the driver (O(k)
  * scalars — the analogue of CenterMessage / gradient messages to the
  * master peer), the driver updates the model, and the next superstep
  * broadcasts it back via literals. Data never leaves the executors.
  *
  * Determinism: fixed initial models, fixed iteration counts, model values
  * re-rounded each step on BOTH sides so double noise cannot flip an
  * argmin assignment.
  */
object ML extends QueryModule {

  // ---- K-means (Lloyd), 3 assignment rounds, 3 fixed centers -------------
  // ml/src/main/java/org/apache/hama/ml/kmeans/KMeansBSP.java:130-305
  // (assignCenters / updateCenters with Euclidean distance,
  //  ml/.../distance/EuclidianDistance.java:22-45)
  private val centers0 = Seq((0L, 920.0, 20.0), (1L, 950.0, 50.0), (2L, 980.0, 80.0))
  private val kmeansIters = 3 // assignments; centers update after each but the last

  private def kmeansPts(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "part").select(
      col("p_partkey").as("id"),
      col("p_retailprice").as("x"),
      (col("p_size").cast("double") * 2.0).as("y"))

  private def kmeansAssign(pts: DataFrame, cen: Seq[(Long, Double, Double)]): DataFrame = {
    val cenDf = pts.sparkSession.createDataFrame(cen).toDF("c", "cx", "cy")
    val dist = (col("x") - col("cx")) * (col("x") - col("cx")) +
      (col("y") - col("cy")) * (col("y") - col("cy"))
    val w = Window.partitionBy(col("id")).orderBy(dist, col("c"))
    pts.crossJoin(broadcast(cenDf))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("x"), col("y"), col("c"))
  }

  private def kmeans(s: SparkSession, d: String): DataFrame = {
    val pts = kmeansPts(s, d).cache()
    var cen = centers0
    var assign = kmeansAssign(pts, cen)
    for (_ <- 1 until kmeansIters) {
      // O(k) collect to driver = CenterMessage to master, re-broadcast next step
      cen = assign.groupBy("c")
        .agg(round(avg("x"), 6).as("cx"), round(avg("y"), 6).as("cy"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assign = kmeansAssign(pts, cen)
    }
    // eager O(k)-row checkpoint so the SF-scaled point cache is dropped
    // here, not leaked until the harness clearCache (ADVICE r1 hygiene)
    val out = assign.groupBy("c")
      .agg(count(lit(1)).as("cnt"), round(avg("x"), 4).as("cx"), round(avg("y"), 4).as("cy"))
      .orderBy("c")
      .localCheckpoint()
    pts.unpersist()
    out
  }

  private val kmeansSql: String = {
    val cenVals = centers0.map { case (c, x, y) => s"($c, $x, $y)" }.mkString(", ")
    val assigns = (0 until kmeansIters).map { i =>
      s"""a$i AS (SELECT p.id, p.x, p.y, c.c FROM pts p CROSS JOIN cen$i c
         QUALIFY ROW_NUMBER() OVER (PARTITION BY p.id
           ORDER BY (p.x-c.cx)*(p.x-c.cx) + (p.y-c.cy)*(p.y-c.cy), c.c) = 1)"""
    }
    val updates = (1 until kmeansIters).map { i =>
      s"""cen$i AS (SELECT c, ROUND(AVG(x), 6) AS cx, ROUND(AVG(y), 6) AS cy
         FROM a${i - 1} GROUP BY c)"""
    }
    val ctes = assigns.init.zip(updates).flatMap { case (a, u) => Seq(a, u) } :+ assigns.last
    s"""WITH pts AS (SELECT p_partkey AS id, p_retailprice AS x,
         CAST(p_size AS DOUBLE) * 2.0 AS y FROM part),
       cen0(c, cx, cy) AS (VALUES $cenVals),
       ${ctes.mkString(",\n")}
       SELECT c, COUNT(*) AS cnt, ROUND(AVG(x), 4) AS cx, ROUND(AVG(y), 4) AS cy
       FROM a${kmeansIters - 1} GROUP BY c ORDER BY c"""
  }

  // ---- d-dimensional vector k-means on the embeddings corpus -------------
  // The 2-D query above keeps the reference's x/y demo shape; this is the
  // real KMeansBSP capability: arbitrary-dimension DoubleVector points
  // (ml/src/main/java/org/apache/hama/ml/kmeans/KMeansBSP.java:130-305)
  // with the distance measure a plug point
  // (ml/.../distance/EuclidianDistance.java:22-45, CosineDistance.java:22-56).

  /** pluggable distance — the reference's DistanceMeasurer seam */
  sealed trait VecMeasure
  case object Euclidean extends VecMeasure
  case object Cosine extends VecMeasure

  /** One assignment pass: centers ride as LITERAL arrays (the O(k·d)
    * master broadcast, CenterMessage's analogue), distances are native
    * codegen'd VecDot compositions, argmin is an array_min over
    * (dist, center) structs — per-row work only, ZERO shuffle. Distances
    * round at 6 so the oracle's independently-summed doubles agree. */
  def assignVec(emb: DataFrame, cen: Seq[(Long, Seq[Double])],
      measure: VecMeasure): DataFrame = {
    import graft.functions.VecOps
    val dists = cen.map { case (c, cv) =>
      val d = measure match {
        case Euclidean =>
          // |v|² − 2·v·c + |c|² ; |c|² is a driver-side constant
          val cc = cv.map(x => x * x).sum
          VecOps.vecDot(col("v"), col("v")) -
            lit(2.0) * VecOps.vecDot(col("v"), typedLit(cv)) + lit(cc)
        case Cosine => lit(1.0) - VecOps.cosine(col("v"), typedLit(cv))
      }
      struct(round(d, 6).as("d"), lit(c).as("c"))
    }
    emb.withColumn("c", array_min(array(dists: _*)).getField("c"))
  }

  /** Lloyd iterations: assign (zero-shuffle) → element-wise-mean center
    * update (ONE partial-aggregated shuffle via the typed VecMeanAgg
    * Aggregator, then an O(k·d) collect — the master-collect shape shared
    * by every trainer in this module). Center means round at 4 decimals on
    * both engines, same residual-boundary posture as q_sim_ivf_trained.
    * Returns (final assignment, final centers). */
  def vectorKmeans(emb: DataFrame, seeds: Seq[(Long, Seq[Double])], iters: Int,
      measure: VecMeasure): (DataFrame, Seq[(Long, Seq[Double])]) = {
    val dim = seeds.head._2.length
    val mean = graft.functions.VecMeanAgg.vecMean(dim)
    var cen = seeds
    var assign: DataFrame = emb
    for (_ <- 1 to iters) {
      assign = assignVec(emb, cen, measure)
      cen = assign.groupBy("c")
        .agg(mean(col("v")).as("cv"))
        .select(col("c"), transform(col("cv"), x => round(x, 4)).as("cv"))
        .collect().map(r =>
          (r.getLong(0), r.getSeq[Double](1).toIndexedSeq: Seq[Double]))
        .sortBy(_._1).toSeq
    }
    (assign, cen)
  }

  private def kmeansVec(s: SparkSession, d: String,
      measure: VecMeasure = Euclidean): DataFrame = {
    import s.implicits._
    val emb = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val seeds = emb.filter(col("vec_id") < 4).as[(Long, Seq[Double])]
      .collect().sortBy(_._1).toSeq
    kmeansVecOut(emb, seeds, measure)
  }

  /** shared Lloyd run + result shape for the vector-kmeans rows: cluster
    * count, member-id checksum (pins the full assignment), centroid norm
    * (pins the centers). Unpersists `emb` once the O(k)-row result is
    * materialized. */
  private def kmeansVecOut(emb: DataFrame, seeds: Seq[(Long, Seq[Double])],
      measure: VecMeasure): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val (assign, cen) = vectorKmeans(emb, seeds, iters = 2, measure)
    // per-cluster count + member-id checksum (pins the full assignment) +
    // rounded centroid norm (pins the centers)
    val norms = cen.map { case (c, cv) =>
      (c, halfUp(math.sqrt(cv.map(x => x * x).sum), 4))
    }
    val out = assign.groupBy("c")
      .agg(count(lit(1)).as("cnt"), sum("vec_id").as("id_sum"))
      .join(norms.toDF("c", "c_norm"), "c")
      .select(col("c"), col("cnt"), col("id_sum"), col("c_norm"))
      .orderBy("c")
      .localCheckpoint() // eager O(k)-row result; frees the vector cache now
    emb.unpersist()
    out
  }

  /** Oracle half of [[kmeansVec]]: identical Lloyd unroll, distance CTE
    * chosen by measure — Euclidean states |v|²−2v·c+|c|², cosine states
    * 1 − v·c/(‖v‖‖c‖), both rounded at 6 like the engine side
    * (ml/.../distance/CosineDistance.java:22-56 semantics). */
  private def kmeansDistCte(measure: VecMeasure)(cenCte: String, n: Int): String = {
    val dd = measure match {
      case Euclidean =>
        "ROUND(SUM(e.ev * e.ev) - 2 * SUM(e.ev * c.cv) + SUM(c.cv * c.cv), 6)"
      case Cosine =>
        "ROUND(1 - SUM(e.ev * c.cv) / (SQRT(SUM(e.ev * e.ev)) * SQRT(SUM(c.cv * c.cv))), 6)"
    }
    s"""d$n AS (SELECT e.vec_id, c.c, $dd AS dd
         FROM e JOIN $cenCte c USING (pos) GROUP BY e.vec_id, c.c),
       a$n AS (SELECT vec_id, c FROM d$n
         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd, c) = 1)"""
  }

  /** Lloyd unroll from `cen0` to the count/id-checksum/norm readout —
    * shared by the fixed-seed and farthest-seeded oracles. */
  private def kmeansVecBodySql(measure: VecMeasure): String = {
    val distCte = kmeansDistCte(measure) _
    s"""${distCte("cen0", 1)},
       cen1 AS (SELECT a1.c, e.pos, ROUND(AVG(e.ev), 4) AS cv
         FROM e JOIN a1 USING (vec_id) GROUP BY a1.c, e.pos),
       ${distCte("cen1", 2)},
       cen2 AS (SELECT a2.c, e.pos, ROUND(AVG(e.ev), 4) AS cv
         FROM e JOIN a2 USING (vec_id) GROUP BY a2.c, e.pos)
       SELECT s.c, s.cnt, s.id_sum, n.c_norm
       FROM (SELECT c, COUNT(*) AS cnt, CAST(SUM(vec_id) AS BIGINT) AS id_sum
             FROM a2 GROUP BY c) s
       JOIN (SELECT c, ROUND(SQRT(SUM(cv * cv)), 4) AS c_norm
             FROM cen2 GROUP BY c) n USING (c)
       ORDER BY c"""
  }

  private def kmeansVecSql(measure: VecMeasure = Euclidean): String =
    s"""WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS ev,
           CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos FROM embeddings),
         cen0 AS (SELECT vec_id AS c, pos, ev AS cv FROM e WHERE vec_id < 4),
         ${kmeansVecBodySql(measure)}"""

  /** farthest-first seeds feeding the same Lloyd unroll: the chain picks
    * the 4 seed ids, `seedmap` renumbers them 0..3 in selection order,
    * `cen0` pulls their element rows. */
  private def seededKmeansSql: String =
    s"""WITH ${farthestChainSql("f")},
       e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS ev,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos FROM embeddings),
       seedmap(c, svid) AS (
         SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         UNION ALL SELECT 1, (SELECT vec_id FROM fs2)
         UNION ALL SELECT 2, (SELECT vec_id FROM fs3)
         UNION ALL SELECT 3, (SELECT vec_id FROM fs4)),
       cen0 AS (SELECT sm.c, e.pos, e.ev AS cv
         FROM e JOIN seedmap sm ON e.vec_id = sm.svid),
       ${kmeansVecBodySql(Euclidean)}"""

  // ---- Gradient-descent regression, 3 fixed iterations -------------------
  // ml/src/main/java/org/apache/hama/ml/regression/GradientDescentBSP.java:82-257
  // (per-peer partial cost & derivatives summed after sync; master updates θ)
  private def gdData(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem").select(
      (col("l_quantity") / 50.0).as("x"),
      (col("l_extendedprice") / 100000.0).as("y"))

  /** the 3-step GD loop on cached data → round-9 (th0, th1). */
  private def linregThetas(data: DataFrame, m: Double): (Double, Double) = {
    var (th0, th1) = (0.0, 0.0)
    for (_ <- 1 to 3) {
      val err = lit(th0) + lit(th1) * col("x") - col("y")
      val r = data.agg(sum(err).as("g0"), sum(err * col("x")).as("g1")).collect()(0)
      th0 = halfUp(th0 - 0.5 * r.getDouble(0) / m, 9)
      th1 = halfUp(th1 - 0.5 * r.getDouble(1) / m, 9)
    }
    (th0, th1)
  }

  private def linreg(s: SparkSession, d: String): DataFrame = {
    val data = gdData(s, d).cache()
    val m = data.count().toDouble
    val (th0, th1) = linregThetas(data, m)
    val err = lit(th0) + lit(th1) * col("x") - col("y")
    val out = data.agg(round(sum(err * err) / (2 * m), 6).as("cost"))
      .select(round(lit(th0), 6).as("th0"), round(lit(th1), 6).as("th1"), col("cost"))
      .localCheckpoint() // eager 1-row result; frees the SF-scaled cache now
    data.unpersist()
    out
  }

  /** REGRESSION EVALUATION of the fitted line: R², MAE, RMSE over the
    * training relation — the readout that says whether the line is
    * worth deploying, beside the raw cost the training row emits. Same
    * round-9 theta lattice; metrics are single aggregates rounded at 6
    * (SST's mean enters as an exact sub-aggregate in both engines). */
  private def linregMetrics(s: SparkSession, d: String): DataFrame = {
    val data = gdData(s, d).cache()
    val m = data.count().toDouble
    val (th0, th1) = linregThetas(data, m)
    val err = lit(th0) + lit(th1) * col("x") - col("y")
    val ybar = data.agg(avg("y")).head.getDouble(0)
    val out = data.agg(
        round(lit(1.0) - sum(err * err) /
          sum((col("y") - ybar) * (col("y") - ybar)), 6).as("r2"),
        round(avg(abs(err)), 6).as("mae"),
        round(sqrt(avg(err * err)), 6).as("rmse"))
      .localCheckpoint()
    data.unpersist()
    out
  }

  private val linregMetricsSql: String = {
    val steps = (0 until 3).map { i =>
      s"""t${i + 1} AS (SELECT
         ROUND(th0 - 0.5 * SUM(th0 + th1 * x - y) / COUNT(*), 9) AS th0,
         ROUND(th1 - 0.5 * SUM((th0 + th1 * x - y) * x) / COUNT(*), 9) AS th1
         FROM d CROSS JOIN t$i GROUP BY th0, th1)"""
    }.mkString(",\n")
    s"""WITH d AS (SELECT l_quantity / 50.0 AS x, l_extendedprice / 100000.0 AS y
         FROM lineitem),
       t0 AS (SELECT 0.0 AS th0, 0.0 AS th1),
       $steps,
       st AS (SELECT AVG(y) AS ybar FROM d)
       SELECT ROUND(1.0 - SUM((th0 + th1 * x - y) * (th0 + th1 * x - y))
                / SUM((y - ybar) * (y - ybar)), 6) AS r2,
         ROUND(AVG(ABS(th0 + th1 * x - y)), 6) AS mae,
         ROUND(SQRT(AVG((th0 + th1 * x - y) * (th0 + th1 * x - y))), 6) AS rmse
       FROM d CROSS JOIN t3 CROSS JOIN st GROUP BY th0, th1, ybar"""
  }

  private val linregSql: String = {
    val steps = (0 until 3).map { i =>
      s"""t${i + 1} AS (SELECT
         ROUND(th0 - 0.5 * SUM(th0 + th1 * x - y) / COUNT(*), 9) AS th0,
         ROUND(th1 - 0.5 * SUM((th0 + th1 * x - y) * x) / COUNT(*), 9) AS th1
         FROM d CROSS JOIN t$i GROUP BY th0, th1)"""
    }.mkString(",\n")
    s"""WITH d AS (SELECT l_quantity / 50.0 AS x, l_extendedprice / 100000.0 AS y
         FROM lineitem),
       t0 AS (SELECT 0.0 AS th0, 0.0 AS th1),
       $steps
       SELECT ROUND(th0, 6) AS th0, ROUND(th1, 6) AS th1,
              ROUND(SUM((th0 + th1 * x - y) * (th0 + th1 * x - y)) / (2 * COUNT(*)), 6) AS cost
       FROM d CROSS JOIN t3 GROUP BY th0, th1"""
  }

  /** Two-component 1-D GAUSSIAN MIXTURE fit by EM — the soft-assignment
    * counterpart of [[kmeans]]'s hard Lloyd loop, over the log document
    * length (the classic bimodal curation feature). Each EM round is ONE
    * aggregation job: the E-step responsibilities are a row-local
    * expression (two Gaussian densities + a ratio), the M-step collects
    * the six weighted sums (O(1) driver data, the [[linregThetas]]
    * discipline), and parameters re-enter the next round through the
    * round-9 lattice so both engines walk the identical parameter
    * sequence. Variances use the E[x²]−E[x]² identity so mean and
    * variance come from the same pass. 2 rounds unrolled in the oracle. */
  private def gmm(s: SparkSession, d: String): DataFrame = {
    val xs = Tables(s, d, "documents")
      .select(log(lit(1.0) + length(col("text")).cast("double")).as("x"))
      .cache()
    var (p, mu1, v1, mu2, v2) = (0.5, 3.0, 1.0, 6.0, 1.0)
    // N(x; mu, v) with the exact operation order the oracle SQL uses
    def pdf(mu: Double, v: Double) =
      exp(-((col("x") - mu) * (col("x") - mu)) / lit(2 * v)) /
        lit(math.sqrt(2 * math.Pi * v))
    def weighted = xs.select(col("x"),
      (lit(p) * pdf(mu1, v1)).as("w1"),
      (lit(1 - p) * pdf(mu2, v2)).as("w2"))
    for (_ <- 1 to 2) {
      val r = weighted
        .select(col("x"), (col("w1") / (col("w1") + col("w2"))).as("g"))
        .agg(sum("g").as("sg"), sum(col("g") * col("x")).as("sgx"),
          sum(col("g") * col("x") * col("x")).as("sgx2"),
          sum(lit(1.0) - col("g")).as("sh"),
          sum((lit(1.0) - col("g")) * col("x")).as("shx"),
          sum((lit(1.0) - col("g")) * col("x") * col("x")).as("shx2"),
          count(lit(1)).cast("double").as("n"))
        .collect()(0)
      val (sg, sgx, sgx2) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      val (sh, shx, shx2, n) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      p = halfUp(sg / n, 9)
      mu1 = halfUp(sgx / sg, 9); v1 = halfUp(sgx2 / sg - (sgx / sg) * (sgx / sg), 9)
      mu2 = halfUp(shx / sh, 9); v2 = halfUp(shx2 / sh - (shx / sh) * (shx / sh), 9)
    }
    val out = weighted
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(avg(log(col("w1") + col("w2"))), 6).as("avg_ll"))
      .select(col("n_docs"), round(lit(p), 6).as("pi1"),
        round(lit(mu1), 6).as("mu1"), round(lit(v1), 6).as("v1"),
        round(lit(mu2), 6).as("mu2"), round(lit(v2), 6).as("v2"),
        col("avg_ll"))
      .localCheckpoint() // eager 1-row result; frees the doc-length cache
    xs.unpersist()
    out
  }

  private val gmmSql: String = {
    def eStep(k: Int, params: String) =
      s"""e$k AS (SELECT x,
           pi1 * (exp(-((x - mu1) * (x - mu1)) / (2 * v1)) / sqrt(2 * pi() * v1)) AS w1,
           (1 - pi1) * (exp(-((x - mu2) * (x - mu2)) / (2 * v2)) / sqrt(2 * pi() * v2)) AS w2
         FROM x CROSS JOIN $params)"""
    val steps = (0 until 2).map { i =>
      s"""${eStep(i + 1, s"p$i")},
         g${i + 1} AS (SELECT x, w1 / (w1 + w2) AS g FROM e${i + 1}),
         a${i + 1} AS (SELECT SUM(g) AS sg, SUM(g * x) AS sgx,
             SUM(g * x * x) AS sgx2, SUM(1.0 - g) AS sh,
             SUM((1.0 - g) * x) AS shx, SUM((1.0 - g) * x * x) AS shx2,
             CAST(COUNT(*) AS DOUBLE) AS n FROM g${i + 1}),
         p${i + 1} AS (SELECT ROUND(sg / n, 9) AS pi1,
             ROUND(sgx / sg, 9) AS mu1,
             ROUND(sgx2 / sg - (sgx / sg) * (sgx / sg), 9) AS v1,
             ROUND(shx / sh, 9) AS mu2,
             ROUND(shx2 / sh - (shx / sh) * (shx / sh), 9) AS v2
           FROM a${i + 1})"""
    }.mkString(",\n")
    s"""WITH x AS (SELECT ln(1.0 + CAST(length(text) AS DOUBLE)) AS x
         FROM documents),
       p0 AS (SELECT 0.5 AS pi1, 3.0 AS mu1, 1.0 AS v1, 6.0 AS mu2, 1.0 AS v2),
       $steps,
       ${eStep(3, "p2")}
       SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(MIN(pi1), 6) AS pi1, ROUND(MIN(mu1), 6) AS mu1,
         ROUND(MIN(v1), 6) AS v1, ROUND(MIN(mu2), 6) AS mu2,
         ROUND(MIN(v2), 6) AS v2,
         ROUND(AVG(ln(w1 + w2)), 6) AS avg_ll
       FROM e3 CROSS JOIN p2"""
  }

  // Logistic regression: sigmoid hypothesis + same GD loop
  // (ml/.../regression/LogisticRegressionModel.java:28-96)
  private def logregData(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem").select(
      (col("l_quantity") / 50.0 - 0.5).as("x"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))

  private def logreg(s: SparkSession, d: String): DataFrame = {
    val data = logregData(s, d).cache()
    val m = data.count().toDouble
    var (th0, th1) = (0.0, 0.0)
    for (_ <- 1 to 3) {
      val h = lit(1.0) / (lit(1.0) + exp(-(lit(th0) + lit(th1) * col("x"))))
      val r = data.agg(sum(h - col("y")).as("g0"), sum((h - col("y")) * col("x")).as("g1")).collect()(0)
      th0 = halfUp(th0 - 1.0 * r.getDouble(0) / m, 9)
      th1 = halfUp(th1 - 1.0 * r.getDouble(1) / m, 9)
    }
    data.unpersist() // result below is literal-only; cache is done
    s.range(1).select(round(lit(th0), 6).as("th0"), round(lit(th1), 6).as("th1"))
  }

  private val logregSql: String = {
    val steps = (0 until 3).map { i =>
      s"""t${i + 1} AS (SELECT
         ROUND(th0 - 1.0 * SUM(1.0 / (1.0 + EXP(-(th0 + th1 * x))) - y) / COUNT(*), 9) AS th0,
         ROUND(th1 - 1.0 * SUM((1.0 / (1.0 + EXP(-(th0 + th1 * x))) - y) * x) / COUNT(*), 9) AS th1
         FROM d CROSS JOIN t$i GROUP BY th0, th1)"""
    }.mkString(",\n")
    s"""WITH d AS (SELECT l_quantity / 50.0 - 0.5 AS x,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y FROM lineitem),
       t0 AS (SELECT 0.0 AS th0, 0.0 AS th1),
       $steps
       SELECT ROUND(th0, 6) AS th0, ROUND(th1, 6) AS th1 FROM t3"""
  }

  // ---- Collaborative filtering (OnlineCF capability) ---------------------
  // ml/src/main/java/org/apache/hama/ml/recommendation/cf/OnlineCF.java:59-220
  // trains RANK-K user/item factor vectors (CONF_MATRIX_RANK; incremental
  // per-rating updates synced by message rounds, OnlineTrainBSP.java:106-330).
  // The same capability re-expressed distributed-first is rank-k alternating
  // least squares: each half-step solves per-entity ridge normal equations
  // from ONE join + ONE shuffle agg — fully data-parallel, no factor ever
  // touches the driver. Declared at k=2 where the k×k solve has a closed
  // form both Spark and the SQL oracle state identically (general k swaps
  // in a per-row Gaussian-elimination expression; the join/agg dataflow —
  // the part that matters at scale — is unchanged). Fixed 2 sweeps +
  // per-step rounding makes it [exact] against the unrolled oracle, and MAE
  // is scored on a HELD-OUT (u+i)%5=0 test split, mirroring the train/test
  // protocol of `ml/src/test/.../recommendation/TestOnlineCF.java:37-120`.
  private val cfU = 30 // user-id modulus
  private val cfI = 20 // item-id modulus
  private val cfLambda = 0.1 // ridge term keeping the 2x2 solve non-singular

  /** (u, i, rt, is_test): derived ratings with the held-out split flag */
  private def cfRatings(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .groupBy((col("o_custkey") % cfU).as("u"), (col("o_orderkey") % cfI).as("i"))
      .agg(avg(col("o_orderkey") % 5 + 1).as("rt"))
      .withColumn("is_test", (col("u") + col("i")) % 5 === 0)

  /** rank-2 factor tables (u2, v2) after two unrolled ALS sweeps */
  private def cfFactors(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val r = cfRatings(s, d).cache()
    val train = r.filter(!col("is_test"))
    // deterministic symmetry-breaking init (the reference seeds randomly;
    // an oracle needs both engines to agree on the start point)
    val v0 = train.select("i").distinct()
      .select(col("i"), lit(1.0).as("f1"), (lit(0.1) + (col("i") % 7) / 10.0).as("f2"))
    // one ALS half-step: per-entity 2x2 ridge normal equations, closed form
    def solve(grouped: DataFrame, key: String): DataFrame = grouped
      .groupBy(key)
      .agg(
        (sum(col("f1") * col("f1")) + cfLambda).as("a11"),
        sum(col("f1") * col("f2")).as("a12"),
        (sum(col("f2") * col("f2")) + cfLambda).as("a22"),
        sum(col("rt") * col("f1")).as("b1"),
        sum(col("rt") * col("f2")).as("b2"))
      .select(col(key),
        round((col("a22") * col("b1") - col("a12") * col("b2")) /
          (col("a11") * col("a22") - col("a12") * col("a12")), 9).as("f1"),
        round((col("a11") * col("b2") - col("a12") * col("b1")) /
          (col("a11") * col("a22") - col("a12") * col("a12")), 9).as("f2"))
    def uStep(v: DataFrame): DataFrame = solve(train.join(v, "i"), "u")
    def vStep(u: DataFrame): DataFrame = solve(train.join(u, "u"), "i")
    val u1 = uStep(v0); val v1 = vStep(u1)
    val u2 = uStep(v1); val v2 = vStep(u2)
    (r, u2, v2)
  }

  private def cf(s: SparkSession, d: String): DataFrame = {
    val (r, u2, v2) = cfFactors(s, d)
    val out = r.filter(col("is_test"))
      .join(u2.withColumnRenamed("f1", "uf1").withColumnRenamed("f2", "uf2"), "u")
      .join(v2.withColumnRenamed("f1", "vf1").withColumnRenamed("f2", "vf2"), "i")
      .agg(round(avg(abs(col("rt") - (col("uf1") * col("vf1") + col("uf2") * col("vf2")))), 6)
        .as("mae"), count(lit(1)).as("n"))
      .localCheckpoint() // eager 1-row result; drop the ratings cache now
    r.unpersist()
    out
  }

  /** top-3 unrated (in train) items per user by estimated preference —
    * the `estimatePreference` / `getMostPreferredItems` surface
    * (ml/.../recommendation/cf/OnlineCF.java:392-447). Full user×item
    * scoring is bounded by the item catalog (broadcast side); at corpus
    * scale the top-N would route through the ANN path in Similarity. */
  private def cfRecommend(s: SparkSession, d: String): DataFrame = {
    val (r, u2, v2) = cfFactors(s, d)
    val train = r.filter(!col("is_test"))
    val scored = u2.withColumnRenamed("f1", "uf1").withColumnRenamed("f2", "uf2")
      .crossJoin(broadcast(v2.withColumnRenamed("f1", "vf1").withColumnRenamed("f2", "vf2")))
      .join(train.select("u", "i"), Seq("u", "i"), "left_anti")
      .select(col("u"), col("i"),
        round(col("uf1") * col("vf1") + col("uf2") * col("vf2"), 6).as("score"))
    val out = scored
      .withColumn("rec_rank",
        row_number().over(Window.partitionBy("u").orderBy(desc("score"), asc("i"))).cast("long"))
      .filter(col("rec_rank") <= 3)
      .orderBy("u", "rec_rank")
      .localCheckpoint() // eager O(users×3) result; drop the ratings cache
    r.unpersist()
    out
  }

  /** item-item co-rating cosine similarity — the ItemSimilarity surface
    * (ml/.../recommendation/ItemSimilarity.java); pairs are generated per
    * co-rating USER (never catalog×catalog), so the join is bounded by
    * Σ_u (#items rated by u)² — the standard co-occurrence shape. */
  private def cfItemSim(s: SparkSession, d: String): DataFrame = {
    val r = cfRatings(s, d).cache()
    val nrm = r.groupBy("i").agg(sqrt(sum(col("rt") * col("rt"))).as("nrm"))
    val out = r.as("a").join(r.as("b"), col("a.u") === col("b.u") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("i_a"), col("b.i").as("i_b"))
      .agg(sum(col("a.rt") * col("b.rt")).as("dot"))
      .join(nrm.as("na"), col("i_a") === col("na.i"))
      .join(nrm.as("nb"), col("i_b") === col("nb.i"))
      .select(col("i_a"), col("i_b"),
        round(col("dot") / (col("na.nrm") * col("nb.nrm")), 6).as("cos_sim"))
      .orderBy("i_a", "i_b")
      .localCheckpoint() // eager O(item-pairs) result; drop the ratings cache
    r.unpersist()
    out
  }

  /** user-user co-rating cosine similarity + top-3 most-similar users —
    * the UserSimilarity surface (ml/.../recommendation/UserSimilarity.java:31
    * `calculateUserSimilarity`, :39 `getMostSimilarUsers`). Pairs are
    * generated per co-rated ITEM (never user×user), so the join is bounded
    * by Σ_i (#users rating i)²; the symmetric expansion + window gives each
    * user their ranked peer list without a second shuffle over raw ratings. */
  private def cfUserSim(s: SparkSession, d: String): DataFrame = {
    val r = cfRatings(s, d).cache()
    val nrm = r.groupBy("u").agg(sqrt(sum(col("rt") * col("rt"))).as("nrm"))
    val sims = r.as("a").join(r.as("b"), col("a.i") === col("b.i") && col("a.u") < col("b.u"))
      .groupBy(col("a.u").as("u_a"), col("b.u").as("u_b"))
      .agg(sum(col("a.rt") * col("b.rt")).as("dot"))
      .join(nrm.as("na"), col("u_a") === col("na.u"))
      .join(nrm.as("nb"), col("u_b") === col("nb.u"))
      .select(col("u_a"), col("u_b"),
        round(col("dot") / (col("na.nrm") * col("nb.nrm")), 6).as("cos_sim"))
    val out = sims.select(col("u_a").as("u"), col("u_b").as("peer"), col("cos_sim"))
      .union(sims.select(col("u_b").as("u"), col("u_a").as("peer"), col("cos_sim")))
      .withColumn("sim_rank",
        row_number().over(Window.partitionBy("u").orderBy(desc("cos_sim"), asc("peer"))).cast("long"))
      .filter(col("sim_rank") <= 3)
      .orderBy("u", "sim_rank")
      .localCheckpoint() // eager O(users×3) result; drop the ratings cache
    r.unpersist()
    out
  }

  private val cfRatingsSql =
    s"""r AS (SELECT o_custkey % $cfU AS u, o_orderkey % $cfI AS i,
         AVG(o_orderkey % 5 + 1) AS rt,
         ((o_custkey % $cfU) + (o_orderkey % $cfI)) % 5 = 0 AS is_test
         FROM orders GROUP BY 1, 2)"""

  private val cfFactorsSql: String = {
    def solve(key: String, other: String, src: String) =
      s"""(SELECT $key,
            ROUND((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 9) AS f1,
            ROUND((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 9) AS f2 FROM (
           SELECT t.$key,
             SUM(f.f1 * f.f1) + $cfLambda AS a11, SUM(f.f1 * f.f2) AS a12,
             SUM(f.f2 * f.f2) + $cfLambda AS a22,
             SUM(t.rt * f.f1) AS b1, SUM(t.rt * f.f2) AS b2
           FROM train t JOIN $src f ON t.$other = f.$other GROUP BY t.$key) s)"""
    s"""$cfRatingsSql,
       train AS (SELECT u, i, rt FROM r WHERE NOT is_test),
       v0 AS (SELECT DISTINCT i, 1.0 AS f1, 0.1 + (i % 7) / 10.0 AS f2 FROM train),
       u1 AS ${solve("u", "i", "v0")},
       v1 AS ${solve("i", "u", "u1")},
       u2 AS ${solve("u", "i", "v1")},
       v2 AS ${solve("i", "u", "u2")}"""
  }

  private val cfSql: String =
    s"""WITH $cfFactorsSql
       SELECT ROUND(AVG(ABS(r.rt - (u2.f1 * v2.f1 + u2.f2 * v2.f2))), 6) AS mae,
              COUNT(*) AS n
       FROM r JOIN u2 ON r.u = u2.u JOIN v2 ON r.i = v2.i WHERE r.is_test"""

  /** factor chain + top-3 recommendation CTEs ending in recs(u, i,
    * score, rec_rank) — shared by the recommend row and its held-out
    * hit-rate eval so the two cannot drift. */
  private val cfRecommendCtes: String =
    s"""$cfFactorsSql,
       scored AS (SELECT u2.u, v2.i,
           ROUND(u2.f1 * v2.f1 + u2.f2 * v2.f2, 6) AS score
         FROM u2 CROSS JOIN v2
         WHERE NOT EXISTS (SELECT 1 FROM train t WHERE t.u = u2.u AND t.i = v2.i)),
       ranked AS (SELECT u, i, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, i) AS BIGINT) AS rec_rank
         FROM scored),
       recs AS (SELECT u, i, score, rec_rank FROM ranked WHERE rec_rank <= 3)"""

  private val cfRecommendSql: String =
    s"""WITH $cfRecommendCtes
       SELECT u, i, score, rec_rank FROM recs ORDER BY u, rec_rank"""

  private val cfHitrateSql: String =
    s"""WITH $cfRecommendCtes,
       test AS (SELECT u, i FROM r WHERE is_test)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN recs.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         ROUND(AVG(CASE WHEN recs.i IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS hit_rate
       FROM test LEFT JOIN recs ON test.u = recs.u AND test.i = recs.i"""

  private val cfItemSimSql: String =
    s"""WITH $cfRatingsSql,
       nrm AS (SELECT i, SQRT(SUM(rt * rt)) AS nrm FROM r GROUP BY i),
       dots AS (SELECT a.i AS i_a, b.i AS i_b, SUM(a.rt * b.rt) AS dot
         FROM r a JOIN r b ON a.u = b.u AND a.i < b.i GROUP BY 1, 2)
       SELECT i_a, i_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
       FROM dots JOIN nrm na ON i_a = na.i JOIN nrm nb ON i_b = nb.i
       ORDER BY i_a, i_b"""

  private val cfUserSimSql: String =
    s"""WITH $cfRatingsSql,
       nrm AS (SELECT u, SQRT(SUM(rt * rt)) AS nrm FROM r GROUP BY u),
       sims AS (SELECT d.u_a, d.u_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
         FROM (SELECT a.u AS u_a, b.u AS u_b, SUM(a.rt * b.rt) AS dot
               FROM r a JOIN r b ON a.i = b.i AND a.u < b.u GROUP BY 1, 2) d
         JOIN nrm na ON d.u_a = na.u JOIN nrm nb ON d.u_b = nb.u),
       sym AS (SELECT u_a AS u, u_b AS peer, cos_sim FROM sims
               UNION ALL SELECT u_b, u_a, cos_sim FROM sims),
       ranked AS (SELECT u, peer, cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY cos_sim DESC, peer) AS BIGINT) AS sim_rank
         FROM sym)
       SELECT u, peer, cos_sim, sim_rank FROM ranked WHERE sim_rank <= 3
       ORDER BY u, sim_rank"""

  override val defs: Seq[Q] = Seq(

    // k-NN classification over the labeled embeddings — the natural
    // companion of the similarity family the reference lacks entirely:
    // 5 nearest candidates by cosine (broadcast queries, codegen'd dots,
    // partial top-k in the rank window), majority label vote, ties to the
    // smaller label. At corpus scale the brute-force stage swaps for any
    // declared ANN row (IVF/PQ) without touching the vote.
    // NEAREST-CENTROID classification (Rocchio): per-label centroids from
    // one (label, pos) mean aggregate (rounded at 4 — a value that feeds
    // another rounded compare, the IVF trained-quantizer discipline),
    // then every vector classifies to its max-dot centroid (round-6
    // dots, ties to the smaller label) and the readout is the per-class
    // confusion-style accuracy row. Centroids are O(labels × dims) —
    // broadcast; the classify pass is one scan however large the corpus.
    Q("q_ml_nearest_centroid",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding").cast("array<double>").as("v"))
        val cent = emb.select(col("label"), posexplode(col("v")))
          .groupBy(col("label").as("clabel"), col("pos"))
          .agg(round(avg(col("col")), 4).as("cv"))
          .groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
        val scored = emb.crossJoin(broadcast(cent))
          .withColumn("dot", round(graft.functions.VecOps.vecDot(col("v"), col("cvec")), 6))
        val wBest = Window.partitionBy(col("vec_id"))
          .orderBy(desc("dot"), asc("clabel"))
        scored.withColumn("rn", row_number().over(wBest))
          .filter(col("rn") === 1)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("clabel") === col("label"), 1L).otherwise(0L)).as("n_correct"))
          .select(col("label"), col("n"), col("n_correct"),
            round(col("n_correct") * 1.0 / col("n"), 6).as("accuracy"))
          .orderBy("label")
      },
      Some(s"""WITH ${Similarity.eSql},
              lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
              cent AS (SELECT l.label AS clabel, e.pos, ROUND(AVG(e.ev), 4) AS cv
                FROM e JOIN lb l USING (vec_id) GROUP BY 1, 2),
              dots AS (SELECT e.vec_id, c.clabel, ROUND(SUM(e.ev * c.cv), 6) AS dot
                FROM e JOIN cent c ON c.pos = e.pos GROUP BY e.vec_id, c.clabel),
              best AS (SELECT vec_id, clabel FROM dots
                QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                  ORDER BY dot DESC, clabel) = 1)
              SELECT l.label, COUNT(*) AS n,
                CAST(SUM(CASE WHEN b.clabel = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                ROUND(SUM(CASE WHEN b.clabel = l.label THEN 1 ELSE 0 END) * 1.0
                  / COUNT(*), 6) AS accuracy
              FROM lb l JOIN best b USING (vec_id)
              GROUP BY l.label ORDER BY l.label""")),

    // SIMPLIFIED SILHOUETTE per label cluster: a(i) = distance to the
    // own-label centroid, b(i) = distance to the nearest OTHER centroid,
    // s(i) = (b−a)/max(a,b) — the O(n·k) silhouette variant (the full
    // pairwise version is O(n²) and has no 100 TB posture; this one is
    // one broadcast of k centroids + one scan). Distances round at 6
    // before the min/ratio, centroid means at 4 (the shared quantizer
    // discipline), so both engines rank and ratio the same lattice.
    Q("q_ml_silhouette",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding").cast("array<double>").as("v"))
        val cent = emb.select(col("label"), posexplode(col("v")))
          .groupBy(col("label").as("clabel"), col("pos"))
          .agg(round(avg(col("col")), 4).as("cv"))
          .groupBy("clabel")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            x => x.getField("cv")).as("cvec"))
        val dists = emb.crossJoin(broadcast(cent))
          .withColumn("dist", round(sqrt(
            expr("aggregate(zip_with(v, cvec, (a, b) -> (a - b) * (a - b)), " +
              "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")), 6))
        val ab = dists.groupBy(col("vec_id"), col("label"))
          .agg(max(when(col("clabel") === col("label"), col("dist"))).as("a"),
            min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
        ab.withColumn("sil",
            round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), round(avg("sil"), 6).as("mean_silhouette"))
          .orderBy("label")
      },
      Some(s"""WITH ${Similarity.eSql},
              lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
              cent AS (SELECT l.label AS clabel, e.pos, ROUND(AVG(e.ev), 4) AS cv
                FROM e JOIN lb l USING (vec_id) GROUP BY 1, 2),
              dst AS (SELECT e.vec_id, c.clabel,
                  ROUND(SQRT(SUM((e.ev - c.cv) * (e.ev - c.cv))), 6) AS dist
                FROM e JOIN cent c ON c.pos = e.pos GROUP BY e.vec_id, c.clabel),
              ab AS (SELECT d.vec_id, l.label,
                  MAX(CASE WHEN d.clabel = l.label THEN d.dist END) AS a,
                  MIN(CASE WHEN d.clabel <> l.label THEN d.dist END) AS b
                FROM dst d JOIN lb l USING (vec_id) GROUP BY 1, 2),
              sil AS (SELECT label,
                  ROUND((b - a) / GREATEST(a, b), 6) AS sil FROM ab)
              SELECT label, COUNT(*) AS n, ROUND(AVG(sil), 6) AS mean_silhouette
              FROM sil GROUP BY label ORDER BY label""")),

    Q("q_ml_knn",
      (s, d) => {
        // rank the ONE shared brute-force cosine relation (Similarity
        // .bruteSims — the DataFrame twin of the bruteSimsSql oracle CTE),
        // then join labels per top-5 hit, mirroring the oracle's structure
        val wTop = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("cand_id"))
        val top5 = Similarity.bruteSims(s, d)
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 5).select("q_id", "cand_id")
        val labels = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val votes = top5.join(labels, col("cand_id") === col("vec_id"))
          .groupBy(col("q_id"), col("label"))
          .agg(count(lit(1)).as("votes"))
        val wVote = Window.partitionBy(col("q_id")).orderBy(desc("votes"), asc("label"))
        votes.withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .select(col("q_id"), col("label").as("pred_label"), col("votes"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${Similarity.eSql}, ${Similarity.bruteSimsSql},
              top5 AS (SELECT q_id, cand_id FROM bsims
                QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY sim DESC, cand_id) <= 5),
              votes AS (SELECT t.q_id, CAST(emb.label AS BIGINT) AS label,
                COUNT(*) AS votes
                FROM top5 t JOIN embeddings emb ON emb.vec_id = t.cand_id
                GROUP BY t.q_id, label)
              SELECT q_id, label AS pred_label, CAST(votes AS BIGINT) AS votes
              FROM votes
              QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY votes DESC, label) = 1
              ORDER BY q_id""")),

    Q("q_ml_kmeans", (s, d) => kmeans(s, d), Some(kmeansSql)),

    Q("q_ml_kmeans_vec", (s, d) => kmeansVec(s, d), Some(kmeansVecSql())),

    // same Lloyd loop through the DistanceMeasurer seam's OTHER measure —
    // the declared-query exercise of CosineDistance (VERDICT r3 item 7)
    Q("q_ml_kmeans_vec_cos", (s, d) => kmeansVec(s, d, Cosine),
      Some(kmeansVecSql(Cosine))),

    Q("q_ml_cf", (s, d) => cf(s, d), Some(cfSql)),

    Q("q_ml_cf_recommend", (s, d) => cfRecommend(s, d), Some(cfRecommendSql)),

    // RANKING eval of the recommender: hit-rate@3 on the held-out split —
    // did the held-out interaction appear in their top-3? The
    // measurement the MAE row cannot give (pointwise error says nothing
    // about ranking), composing the DECLARED recommend output against the
    // test ratings with one broadcast join + one 1-row aggregate.
    Q("q_ml_cf_hitrate",
      (s, d) => {
        val recs = graft.SparkEntry.queries("q_ml_cf_recommend")(s, d)
          .select(col("u"), col("i"), lit(1).as("rec_hit"))
        cfRatings(s, d).filter(col("is_test")).select("u", "i")
          .join(broadcast(recs), Seq("u", "i"), "left")
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("rec_hit").isNotNull, 1L).otherwise(0L)).as("hits"),
            round(avg(when(col("rec_hit").isNotNull, 1.0).otherwise(0.0)), 6)
              .as("hit_rate"))
      },
      Some(cfHitrateSql)),


    Q("q_ml_cf_item_sim", (s, d) => cfItemSim(s, d), Some(cfItemSimSql)),

    Q("q_ml_cf_user_sim", (s, d) => cfUserSim(s, d), Some(cfUserSimSql)),

    Q("q_ml_linreg", (s, d) => linreg(s, d), Some(linregSql)),
    Q("q_ml_linreg_metrics", (s, d) => linregMetrics(s, d), Some(linregMetricsSql)),

    Q("q_ml_logreg", (s, d) => logreg(s, d), Some(logregSql)),

    // two-component Gaussian mixture by EM over log doc length — the
    // soft-assignment counterpart of the Lloyd rows (see [[gmm]])
    Q("q_ml_gmm", (s, d) => gmm(s, d), Some(gmmSql)),

    // SpMV u = M·v: sparse rows × vector as exploded (i,j,v) equi-join + agg
    // (examples/src/main/java/org/apache/hama/examples/SpMV.java:91-137)
    Q("q_ml_spmv",
      (s, d) => {
        val m = Tables(s, d, "lineitem")
          .groupBy((col("l_orderkey") % 300).as("i"), (col("l_partkey") % 50).as("j"))
          .agg(sum("l_quantity").as("mv"))
        val v = Tables(s, d, "part")
          .groupBy((col("p_partkey") % 50).as("j"))
          .agg(round(sum("p_retailprice"), 6).as("vv"))
        m.join(broadcast(v), "j")
          .groupBy("i").agg(round(sum(col("mv") * col("vv")), 4).as("u"))
          .orderBy("i")
      },
      Some("""WITH m AS (SELECT l_orderkey % 300 AS i, l_partkey % 50 AS j,
                SUM(l_quantity) AS mv FROM lineitem GROUP BY i, j),
              v AS (SELECT p_partkey % 50 AS j, ROUND(SUM(p_retailprice), 6) AS vv
                FROM part GROUP BY j)
              SELECT m.i, ROUND(SUM(m.mv * v.vv), 4) AS u
              FROM m JOIN v ON m.j = v.j GROUP BY m.i ORDER BY i""")),

    // Distributed matrix × matrix on exploded (i,k,v)/(k,j,v) Datasets
    // (commons/.../math/DenseDoubleMatrix.java:30 multiply())
    Q("q_ml_matmul",
      (s, d) => {
        val a = Tables(s, d, "lineitem")
          .groupBy((col("l_orderkey") % 20).as("i"), (col("l_suppkey") % 10).as("k"))
          .agg(sum("l_quantity").as("av"))
        val b = Tables(s, d, "part")
          .groupBy((col("p_partkey") % 10).as("k"), (col("p_size") % 5).as("j"))
          .agg(round(sum("p_retailprice"), 6).as("bv"))
        a.join(broadcast(b), "k")
          .groupBy("i", "j").agg(round(sum(col("av") * col("bv")), 2).as("cv"))
          .orderBy("i", "j")
      },
      Some("""WITH a AS (SELECT l_orderkey % 20 AS i, l_suppkey % 10 AS k,
                SUM(l_quantity) AS av FROM lineitem GROUP BY i, k),
              b AS (SELECT p_partkey % 10 AS k, p_size % 5 AS j,
                ROUND(SUM(p_retailprice), 6) AS bv FROM part GROUP BY k, j)
              SELECT a.i, b.j, ROUND(SUM(a.av * b.bv), 2) AS cv
              FROM a JOIN b ON a.k = b.k GROUP BY a.i, b.j ORDER BY i, j""")),

    // Matrix algebra surface beyond multiply (commons/.../math/DoubleMatrix
    // .java:36-229: transpose, elementwise add, per-column max/min/sum):
    // B = A + Aᵀ on exploded (i,j,v) cells, then per-column stats of B.
    Q("q_ml_mat_colstats",
      (s, d) => {
        val a = Tables(s, d, "lineitem")
          .groupBy((col("l_orderkey") % 20).as("i"), (col("l_linenumber") % 5).as("j"))
          .agg(sum("l_quantity").as("v"))
        val t = a.select(col("j").as("i"), col("i").as("j"), col("v"))
        val b = a.select(col("i"), col("j"), col("v"))
          .unionAll(t)
          .groupBy("i", "j").agg(sum("v").as("v")) // A + Aᵀ (missing cells = 0)
        b.groupBy("j").agg(
          round(min("v"), 2).as("col_min"),
          round(max("v"), 2).as("col_max"),
          round(sum("v"), 2).as("col_sum"))
          .orderBy("j")
      },
      Some("""WITH a AS (SELECT l_orderkey % 20 AS i, l_linenumber % 5 AS j,
                SUM(l_quantity) AS v FROM lineitem GROUP BY i, j),
              b AS (SELECT i, j, SUM(v) AS v FROM (
                SELECT i, j, v FROM a UNION ALL SELECT j AS i, i AS j, v FROM a) t
                GROUP BY i, j)
              SELECT j, ROUND(MIN(v), 2) AS col_min, ROUND(MAX(v), 2) AS col_max,
                ROUND(SUM(v), 2) AS col_sum
              FROM b GROUP BY j ORDER BY j""")),

    // Euclidean + cosine distance between consecutive embedding vectors
    // (ml/.../distance/EuclidianDistance.java:22-45, CosineDistance.java:22-56)
    Q("q_ml_distance",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "ev")))
          .select(col("vec_id"), col("pos"), col("ev").cast("double").as("ev"))
        e.as("a").join(e.as("b"),
            col("b.vec_id") === col("a.vec_id") + 1 && col("a.pos") === col("b.pos"))
          .groupBy(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
          .agg(
            round(sqrt(sum(pow(col("a.ev") - col("b.ev"), 2))), 4).as("euclid"),
            round(lit(1.0) - sum(col("a.ev") * col("b.ev")) /
              (sqrt(sum(col("a.ev") * col("a.ev"))) * sqrt(sum(col("b.ev") * col("b.ev")))), 6)
              .as("cos_dist"))
          .orderBy("a_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS ev,
                generate_subscripts(embedding, 1) AS pos FROM embeddings)
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                ROUND(SQRT(SUM((a.ev - b.ev) * (a.ev - b.ev))), 4) AS euclid,
                ROUND(1.0 - SUM(a.ev * b.ev) /
                  (SQRT(SUM(a.ev * a.ev)) * SQRT(SUM(b.ev * b.ev))), 6) AS cos_dist
              FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 AND a.pos = b.pos
              GROUP BY a.vec_id, b.vec_id ORDER BY a_id""")),

    // Vector algebra surface over array<double> columns
    // (commons/.../math/DoubleVector.java:35-324: sum/min/max/dot/abs/sqrt)
    Q("q_ml_vector",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val dbl = transform(col("embedding"), x => x.cast("double"))
        emb.select(
          col("vec_id"),
          round(aggregate(dbl, lit(0.0), (acc, x) => acc + x), 4).as("vsum"),
          round(array_min(dbl), 4).as("vmin"),
          round(array_max(dbl), 4).as("vmax"),
          round(sqrt(aggregate(dbl, lit(0.0), (acc, x) => acc + x * x)), 4).as("norm"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS ev
                FROM embeddings)
              SELECT vec_id, ROUND(SUM(ev), 4) AS vsum, ROUND(MIN(ev), 4) AS vmin,
                ROUND(MAX(ev), 4) AS vmax, ROUND(SQRT(SUM(ev * ev)), 4) AS norm
              FROM e GROUP BY vec_id ORDER BY vec_id""")),

    // SPARSE vector algebra (commons/.../math/SparseDoubleVector.java:31-470,
    // NamedDoubleVector name = an ordinary key column here): the scalable
    // relational encoding is (idx, val) ROWS with absent = default 0 — the
    // same encoding q_ml_spmv uses for matrices. Two sparse vectors in a
    // 997-dim space built from supplier/customer balances; dot = inner join
    // (SUM skips null products), add = full-outer coalesce, nnz vs
    // dimension = getLength vs getDimension. One row out, all counts and
    // rounded doubles — at 100 TB this is one shuffle on idx, no explode.
    Q("q_ml_sparse_vector",
      (s, d) => {
        val dim = 997
        val va = Tables(s, d, "supplier")
          .groupBy((col("s_suppkey") % dim).as("idx"))
          .agg(round(sum("s_acctbal"), 2).as("av"))
        val vb = Tables(s, d, "customer")
          .groupBy((col("c_custkey") % dim).as("idx"))
          .agg(round(sum("c_acctbal"), 2).as("bv"))
        va.join(vb, Seq("idx"), "full_outer")
          .agg(
            count(col("av")).as("nnz_a"),
            count(col("bv")).as("nnz_b"),
            count(lit(1)).as("nnz_add"),
            count(when(col("av").isNotNull && col("bv").isNotNull, 1)).as("nnz_mul"),
            round(sum(col("av") * col("bv")), 2).as("dot"),
            round(sqrt(sum(pow(coalesce(col("av"), lit(0.0)) +
              coalesce(col("bv"), lit(0.0)), 2))), 2).as("add_norm"))
          .withColumn("dim", lit(dim.toLong))
      },
      Some("""WITH va AS (SELECT s_suppkey % 997 AS idx, ROUND(SUM(s_acctbal), 2) AS av
                FROM supplier GROUP BY idx),
              vb AS (SELECT c_custkey % 997 AS idx, ROUND(SUM(c_acctbal), 2) AS bv
                FROM customer GROUP BY idx)
              SELECT COUNT(av) AS nnz_a, COUNT(bv) AS nnz_b, COUNT(*) AS nnz_add,
                COUNT(CASE WHEN av IS NOT NULL AND bv IS NOT NULL THEN 1 END) AS nnz_mul,
                ROUND(SUM(av * bv), 2) AS dot,
                ROUND(SQRT(SUM(POWER(COALESCE(av, 0) + COALESCE(bv, 0), 2))), 2) AS add_norm,
                CAST(997 AS BIGINT) AS dim
              FROM va FULL OUTER JOIN vb ON va.idx = vb.idx""")),

    // Top principal component of the embedding corpus: one distributed
    // covariance pass (VecCovAgg — map-side-combined O(d²) buffers, the
    // ONLY O(n) stage) followed by a driver-local power iteration on the
    // collected d×d matrix — an O(iters·d²) loop on 4 KB of state, the
    // same master-collect posture as the k-means center update. The sign
    // is canonicalized (first non-negligible loading positive) so the
    // eigenvector is unique. The oracle unrolls the identical iteration
    // as chained CTEs over an exploded-element covariance.
    Q("q_ml_pca",
      (s, d) => {
        import s.implicits._
        val (v, lambda) = pcaComponent(s, d)
        v.zipWithIndex.toSeq.map { case (x, i) => (i.toLong, x, lambda) }
          .toDF("i", "loading", "eigval")
          .select(col("i"), round(col("loading"), 6).as("loading"),
            round(col("eigval"), 6).as("eigval"))
          .orderBy("i")
      },
      Some(pcaSql(PcaIters))),

    // Downstream use of the component: project every embedding onto the
    // top PC and report per-label projection statistics — the one-number
    // "does the leading axis separate the classes" readout. The component
    // is O(d) driver state broadcast into a codegen'd VecDot; the stats
    // are one hash aggregate over the corpus.
    Q("q_ml_pca_project",
      (s, d) => {
        val (v, _) = pcaComponent(s, d)
        val vLit = typedLit(v.toSeq)
        Tables(s, d, "embeddings")
          .select(col("label").cast("long").as("label"),
            graft.functions.VecOps.vecDot(col("embedding"), vLit).as("p"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(avg(col("p")), 6).as("mean_p"),
            round(stddev_pop(col("p")), 6).as("sd_p"))
          .orderBy("label")
      },
      Some(pcaProjectSql(PcaIters))),

    // Farthest-first k-center seeding over the embedding corpus — see
    // [[farthestSeeds]]; the oracle unrolls the identical selection.
    Q("q_ml_seeds", (s, d) => farthestSeeds(s, d), Some(farthestSeedsSql)),

    // The seeding COMPOSED with the trainer: the farthest-first seeds
    // (renumbered 0..3 in selection order) initialize the same 2-round
    // Lloyd loop as q_ml_kmeans_vec — seeding and clustering verified
    // end-to-end as ONE oracle-checked pipeline, not two disconnected
    // rows. Same determinism ladder throughout (round-6 distances,
    // round-4 center means).
    Q("q_ml_kmeans_seeded",
      (s, d) => {
        import s.implicits._
        val seedIds = farthestSeeds(s, d).collect().sortBy(_.getLong(0)).map(_.getLong(1))
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .cache()
        val byId = emb.filter(col("vec_id").isin(seedIds.map(Long.box): _*))
          .as[(Long, Seq[Double])].collect().toMap
        val seeds = seedIds.zipWithIndex
          .map { case (id, i) => i.toLong -> byId(id) }.toSeq
        kmeansVecOut(emb, seeds, Euclidean)
      },
      Some(seededKmeansSql)),

    // Closed-form ridge regression (2 features + intercept, lambda = 0.1):
    // ONE distributed pass computes the 9 normal-equation sums (an O(d²)
    // aggregate — the GradientDescentBSP master-collect posture without
    // the iteration), then Cramer's rule solves the 3×3 system (X'X+λI)θ
    // = X'y entirely inside the plan. Determinism: the sums are rounded
    // to 4 decimals on both sides (their parallel-reduction noise is
    // ~1e-11, far below the rounding step), and the THE SAME formula
    // strings are interpolated into the Spark selectExpr and the DuckDB
    // oracle — identical parse trees over identical doubles, so the
    // determinant arithmetic is bit-reproducible across engines.
    Q("q_ml_ridge",
      (s, d) => {
        val sums = Tables(s, d, "lineitem").select(
            (col("l_quantity") / 50.0).as("x1"),
            (col("l_discount") * 10.0).as("x2"),
            (col("l_extendedprice") / 100000.0).as("y"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            round(sum("x1"), 4).as("s1"), round(sum("x2"), 4).as("s2"),
            round(sum(col("x1") * col("x1")), 4).as("s11"),
            round(sum(col("x1") * col("x2")), 4).as("s12"),
            round(sum(col("x2") * col("x2")), 4).as("s22"),
            round(sum("y"), 4).as("sy"),
            round(sum(col("x1") * col("y")), 4).as("s1y"),
            round(sum(col("x2") * col("y")), 4).as("s2y"))
        sums.selectExpr(
          s"ROUND(($ridgeTh0) / ($ridgeDet), 6) AS th0",
          s"ROUND(($ridgeTh1) / ($ridgeDet), 6) AS th1",
          s"ROUND(($ridgeTh2) / ($ridgeDet), 6) AS th2")
      },
      Some(s"""WITH sums AS (SELECT
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 ROUND(SUM(x1), 4) AS s1, ROUND(SUM(x2), 4) AS s2,
                 ROUND(SUM(x1 * x1), 4) AS s11,
                 ROUND(SUM(x1 * x2), 4) AS s12,
                 ROUND(SUM(x2 * x2), 4) AS s22,
                 ROUND(SUM(y), 4) AS sy,
                 ROUND(SUM(x1 * y), 4) AS s1y,
                 ROUND(SUM(x2 * y), 4) AS s2y
                 FROM (SELECT l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
                       l_extendedprice / 100000.0 AS y FROM lineitem) t)
               SELECT ROUND(($ridgeTh0) / ($ridgeDet), 6) AS th0,
                 ROUND(($ridgeTh1) / ($ridgeDet), 6) AS th1,
                 ROUND(($ridgeTh2) / ($ridgeDet), 6) AS th2
               FROM sums""")),

    // K-MEANS ELBOW readout: total within-cluster inertia (sum of min
    // squared distances) for the first k farthest-first seeds, k = 1..4
    // — the model-selection curve beside the ridge path. Each k is one
    // broadcast-literal projection + one sum over the corpus (the
    // assignment scan, no Lloyd rounds), distances on the round-6 lattice
    // the seeding already defined, inertia rounded at 2. The oracle
    // reuses the selection chain's min-distance CTEs (m1=d1, m2, m3,
    // LEAST(m3, d4)).
    Q("q_ml_elbow",
      (s, d) => {
        import s.implicits._
        import graft.functions.VecOps
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .localCheckpoint()
        def vecOf(id: Long): Seq[Double] =
          emb.filter(col("vec_id") === id).head.getSeq[Double](1).toIndexedSeq
        val seedIds = farthestSeeds(s, d).collect().sortBy(_.getLong(0)).map(_.getLong(1))
        val seeds = seedIds.map(vecOf)
        val rows = (1 to seedK).map { k =>
          val dists = seeds.take(k).map { sv =>
            val cc = sv.map(x => x * x).sum
            round(VecOps.vecDot(col("v"), col("v")) -
              lit(2.0) * VecOps.vecDot(col("v"), typedLit(sv)) + lit(cc), 6)
          }
          val mind = if (dists.size == 1) dists.head else least(dists: _*)
          val inertia = emb.select(sum(mind).as("s")).head.getDouble(0)
          (k.toLong,
            halfUp(inertia, 2))
        }
        graft.plans.Iterate.release(emb)
        rows.toDF("k", "inertia").orderBy("k")
      },
      Some(s"""WITH ${farthestChainSql("")}
           SELECT * FROM (
             SELECT CAST(1 AS BIGINT) AS k, ROUND(SUM(d), 2) AS inertia FROM d1
             UNION ALL
             SELECT 2, ROUND(SUM(d), 2) FROM m2
             UNION ALL
             SELECT 3, ROUND(SUM(d), 2) FROM m3
             UNION ALL
             SELECT 4, ROUND(SUM(LEAST(m3.d, d4.d)), 2)
             FROM m3 JOIN d4 USING (vec_id)) u
           ORDER BY k""")),

    // 5-FOLD CROSS-VALIDATED ridge: a deterministic md5 fold key, ONE
    // grouped pass computing each fold's ten sums — and every fold's
    // TRAINING sums fall out as (total − fold) by linearity, so all five
    // leave-fold-out models AND their held-out SSEs come from that single
    // pass: distributed cross-validation with zero extra data scans, at
    // any corpus size. Fold sums round at 4, thetas at 6 before the
    // validation SSE (the ridge-path recipe), the fold key is the
    // portable hash-draw.
    Q("q_ml_ridge_cv",
      (s, d) => {
        val foldCol = expr("CAST(conv(substring(md5(concat(" +
          "CAST(l_orderkey AS STRING), '-', CAST(l_linenumber AS STRING))), 1, 4), 16, 10) AS INT) % 5")
        val folds = Tables(s, d, "lineitem")
          .select(foldCol.as("fold"),
            (col("l_quantity") / 50.0).as("x1"),
            (col("l_discount") * 10.0).as("x2"),
            (col("l_extendedprice") / 100000.0).as("y"))
          .groupBy("fold")
          .agg(count(lit(1)).cast("double").as("vn"),
            round(sum("x1"), 4).as("vs1"), round(sum("x2"), 4).as("vs2"),
            round(sum(col("x1") * col("x1")), 4).as("vs11"),
            round(sum(col("x1") * col("x2")), 4).as("vs12"),
            round(sum(col("x2") * col("x2")), 4).as("vs22"),
            round(sum("y"), 4).as("vsy"),
            round(sum(col("x1") * col("y")), 4).as("vs1y"),
            round(sum(col("x2") * col("y")), 4).as("vs2y"),
            round(sum(col("y") * col("y")), 4).as("vsyy"))
        val names = ridgeSumCols
        val cv = names.foldLeft(folds) { (df, nm) =>
          // train sums = total − this fold's sums; the window spans the
          // 5-row fold relation, not the data
          df.withColumn(nm,
            sum(col(s"v$nm")).over(Window.partitionBy(lit(1))) - col(s"v$nm"))
        }
        cv.selectExpr(
            Seq("fold") ++ names.map(nm => s"v$nm") ++ Seq(
              s"ROUND((${ridgeTh0L(ridgeLam)}) / (${ridgeDetL(ridgeLam)}), 6) AS th0",
              s"ROUND((${ridgeTh1L(ridgeLam)}) / (${ridgeDetL(ridgeLam)}), 6) AS th1",
              s"ROUND((${ridgeTh2L(ridgeLam)}) / (${ridgeDetL(ridgeLam)}), 6) AS th2"): _*)
          .selectExpr("fold", "th0", "th1", "th2",
            s"ROUND(${ridgeSseExprP("v")}, 4) AS val_sse")
          .orderBy("fold")
      },
      Some {
        val vCols = ridgeSumCols.map(nm => s"v$nm")
        val trainCols = ridgeSumCols
          .map(nm => s"SUM(v$nm) OVER () - v$nm AS $nm").mkString(", ")
        s"""WITH folds AS (SELECT
             CAST(CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
               CAST(l_linenumber AS VARCHAR)), 1, 4) AS BIGINT) AS INT) % 5 AS fold,
             CAST(COUNT(*) AS DOUBLE) AS vn,
             ROUND(SUM(x1), 4) AS vs1, ROUND(SUM(x2), 4) AS vs2,
             ROUND(SUM(x1 * x1), 4) AS vs11,
             ROUND(SUM(x1 * x2), 4) AS vs12,
             ROUND(SUM(x2 * x2), 4) AS vs22,
             ROUND(SUM(y), 4) AS vsy,
             ROUND(SUM(x1 * y), 4) AS vs1y,
             ROUND(SUM(x2 * y), 4) AS vs2y,
             ROUND(SUM(y * y), 4) AS vsyy
             FROM (SELECT l_orderkey, l_linenumber, l_quantity / 50.0 AS x1,
                   l_discount * 10.0 AS x2, l_extendedprice / 100000.0 AS y
                   FROM lineitem) t GROUP BY 1),
           cv AS (SELECT fold, ${vCols.mkString(", ")}, $trainCols FROM folds),
           m AS (SELECT fold, ${vCols.mkString(", ")},
             ROUND((${ridgeTh0L(ridgeLam)}) / (${ridgeDetL(ridgeLam)}), 6) AS th0,
             ROUND((${ridgeTh1L(ridgeLam)}) / (${ridgeDetL(ridgeLam)}), 6) AS th1,
             ROUND((${ridgeTh2L(ridgeLam)}) / (${ridgeDetL(ridgeLam)}), 6) AS th2
             FROM cv)
           SELECT fold, th0, th1, th2,
             ROUND(${ridgeSseExprP("v")}, 4) AS val_sse
           FROM m ORDER BY fold"""
      }),

    // RIDGE REGULARIZATION PATH: the closed-form solve evaluated for
    // lambda in {0.01, 0.1, 1, 10} — model selection from ONE data pass.
    // All four solutions and their training SSEs derive from the same
    // nine rounded sums (SSE = syy − 2θ'b + θ'Aθ needs no second scan),
    // so the path costs one aggregate regardless of grid size — the
    // hyperparameter sweep at 100 TB for the price of one query. Thetas
    // round at 6 BEFORE entering the SSE expression on both engines.
    Q("q_ml_ridge_path",
      (s, d) => {
        val sums = ridgeSums(s, d)
        val perLam = ridgeLambdas.map { lam =>
          sums.selectExpr(
            (ridgeSumCols :+ s"CAST($lam AS DOUBLE) AS lambda") ++ Seq(
              s"ROUND((${ridgeTh0L(lam)}) / (${ridgeDetL(lam)}), 6) AS th0",
              s"ROUND((${ridgeTh1L(lam)}) / (${ridgeDetL(lam)}), 6) AS th1",
              s"ROUND((${ridgeTh2L(lam)}) / (${ridgeDetL(lam)}), 6) AS th2"): _*)
        }.reduce(_ unionAll _)
        perLam.selectExpr("lambda", "th0", "th1", "th2",
            s"ROUND($ridgeSseExpr, 4) AS sse")
          .orderBy("lambda")
      },
      Some {
        val ls = ridgeLambdas.zipWithIndex.map { case (lam, i) =>
          s"""l$i AS (SELECT ${ridgeSumCols.mkString(", ")},
               CAST($lam AS DOUBLE) AS lambda,
               ROUND((${ridgeTh0L(lam)}) / (${ridgeDetL(lam)}), 6) AS th0,
               ROUND((${ridgeTh1L(lam)}) / (${ridgeDetL(lam)}), 6) AS th1,
               ROUND((${ridgeTh2L(lam)}) / (${ridgeDetL(lam)}), 6) AS th2
               FROM sums)"""
        }.mkString(",\n")
        val union = ridgeLambdas.indices.map(i => s"SELECT * FROM l$i").mkString(" UNION ALL ")
        s"""WITH sums AS ($ridgeSumsSql),
           $ls,
           u AS ($union)
           SELECT lambda, th0, th1, th2, ROUND($ridgeSseExpr, 4) AS sse
           FROM u ORDER BY lambda"""
      }),

    // DECISION-STUMP split evaluation: information gain of every
    // (feature, threshold) candidate for predicting the purchase label
    // from event-time features — the inner loop of any tree/boosting
    // trainer, emitted as the full evaluation TABLE (the argmax is the
    // caller's one-line fold; near-tie argmax across engines would be
    // FP-fragile, the table is not). Per feature: one (value, label)
    // count aggregate, one cumulative window over the O(distinct values)
    // relation — the raw events are scanned ONCE per feature regardless
    // of threshold count. Entropies share one expression string on both
    // engines; integer counts in, round-6 gain out.
    // GRADIENT-BOOSTED STUMPS (L2 boosting, 2 rounds): base prediction =
    // the global mean, then each round fits a regression stump to the
    // RESIDUALS — per (feature, threshold), one O(distinct values)
    // cumulative table gives every split's left/right residual sums, the
    // best split by round-6 score (sl²/nl + sr²/nr, ties to (feature,
    // threshold)) is an O(31)-row master-collect exactly like the GD
    // rows' gradients, and its round-6 leaf means join the model as
    // literals. Output: one row per round (split + leaves + train MSE
    // after applying it — GbtSpec pins the MSE monotone-decrease).
    // The oracle replays the identical selection with QUALIFY argmax on
    // the same rounded lattice. Scale: each round = one scan + one tiny
    // window; the model, like every ML row here, is O(rounds) on the
    // driver — never data.
    Q("q_ml_gbt",
      (s, d) => {
        import java.math.{BigDecimal => JBD, MathContext}
        def r6(x: Double): Double =
          new JBD(x, MathContext.DECIMAL64).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val ev = Tables(s, d, "events").select(
            expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000 % 24").as("hour"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 % 7").as("dow"),
            col("value").as("y"))
          .localCheckpoint() // scanned once per round + once per MSE
        val f0 = r6(ev.agg(avg("y")).head.getDouble(0))
        var model = List.empty[(String, Long, Double, Double)]
        def resid: org.apache.spark.sql.Column = model.foldLeft(col("y") - f0) {
          case (acc, (f, t, lv, rv)) =>
            acc - when(col(f) <= t, lv).otherwise(rv)
        }
        val rows = (1 to 2).map { rnd =>
          val withR = ev.withColumn("r", resid)
          val table = Seq("hour", "dow").map { f =>
            val cnt = withR.groupBy(col(f).as("v"))
              .agg(count(lit(1)).as("c"), sum("r").as("sr"))
            val w = Window.partitionBy(lit(1)).orderBy("v")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            cnt.select(lit(f).as("feature"), col("v"),
                sum("c").over(w).as("nl"), sum("sr").over(w).as("sl"),
                sum("c").over(Window.partitionBy(lit(1))).as("n"),
                sum("sr").over(Window.partitionBy(lit(1))).as("st"))
          }.reduce(_ unionAll _)
          val best = table
            .filter(col("nl") > 0 && col("n") - col("nl") > 0)
            .select(col("feature"), col("v"), col("nl"), (col("n") - col("nl")).as("nr"),
              col("sl"), (col("st") - col("sl")).as("sr2"),
              round(col("sl") * col("sl") / col("nl") +
                (col("st") - col("sl")) * (col("st") - col("sl")) /
                  (col("n") - col("nl")), 6).as("score"))
            .orderBy(desc("score"), asc("feature"), asc("v"))
            .head()
          val (f, t) = (best.getString(0), best.getLong(1))
          val lv = r6(best.getDouble(4) / best.getLong(2))
          val rv = r6(best.getDouble(5) / best.getLong(3))
          model = model :+ ((f, t, lv, rv))
          val mse = ev.withColumn("r", resid)
            .agg(round(avg(col("r") * col("r")), 6)).head.getDouble(0)
          (rnd.toLong, f, t, lv, rv, mse)
        }
        import s.implicits._
        rows.toDF("round", "feature", "threshold", "left_val", "right_val", "train_mse")
          .orderBy("round")
      },
      Some {
        def roundCtes(i: Int): String = {
          val rIn = s"r$i"
          s"""t$i AS (
               SELECT 'hour' AS feature, v,
                 SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
                 SUM(sr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS sl,
                 SUM(c) OVER () AS n, SUM(sr) OVER () AS st
               FROM (SELECT hour AS v, COUNT(*) AS c, SUM(r) AS sr FROM $rIn GROUP BY 1) ch
               UNION ALL
               SELECT 'dow' AS feature, v,
                 SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
                 SUM(sr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS sl,
                 SUM(c) OVER () AS n, SUM(sr) OVER () AS st
               FROM (SELECT dow AS v, COUNT(*) AS c, SUM(r) AS sr FROM $rIn GROUP BY 1) cd),
             b$i AS (SELECT feature, v, ROUND(sl / nl, 6) AS lv,
                 ROUND((st - sl) / (n - nl), 6) AS rv
               FROM (SELECT *, ROUND(sl * sl / nl + (st - sl) * (st - sl) / (n - nl), 6) AS score
                     FROM t$i WHERE nl > 0 AND n - nl > 0) g
               QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, feature, v) = 1),
             r${i + 1} AS (SELECT hour, dow,
                 r - CASE WHEN b$i.feature = 'hour'
                       THEN CASE WHEN hour <= b$i.v THEN b$i.lv ELSE b$i.rv END
                       ELSE CASE WHEN dow <= b$i.v THEN b$i.lv ELSE b$i.rv END
                     END AS r
               FROM $rIn CROSS JOIN b$i),
             m$i AS (SELECT ROUND(AVG(r * r), 6) AS mse FROM r${i + 1})"""
        }
        s"""WITH ev AS (SELECT
              CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hour,
              CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow,
              value AS y FROM events),
            f0 AS (SELECT ROUND(AVG(y), 6) AS f0 FROM ev),
            r1 AS (SELECT hour, dow, y - f0 AS r FROM ev CROSS JOIN f0),
            ${roundCtes(1)},
            ${roundCtes(2)}
            SELECT 1 AS round, feature, CAST(v AS BIGINT) AS threshold,
              lv AS left_val, rv AS right_val, (SELECT mse FROM m1) AS train_mse
            FROM b1
            UNION ALL
            SELECT 2, feature, CAST(v AS BIGINT), lv, rv, (SELECT mse FROM m2) FROM b2
            ORDER BY round"""
      }),

    Q("q_ml_stump",
      (s, d) => {
        val ev = Tables(s, d, "events").select(
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000 % 24").as("hour"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 % 7").as("dow"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val perFeature = Seq("hour", "dow").map { f =>
          val cnt = ev.groupBy(col(f).as("v"))
            .agg(sum("y").as("pos"), sum(lit(1L) - col("y")).as("neg"))
          val w = Window.partitionBy(lit(1)).orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          cnt.select(col("v"), sum("pos").over(w).as("pl"), sum("neg").over(w).as("nl"),
              sum("pos").over(Window.partitionBy(lit(1))).as("pt"),
              sum("neg").over(Window.partitionBy(lit(1))).as("nt"))
            .selectExpr(s"'$f' AS feature", "v AS threshold",
              "pl", "nl", "pt - pl AS pr", "nt - nl AS nr", "pt", "nt")
        }.reduce(_ unionAll _)
        perFeature.selectExpr("feature", "threshold",
            s"ROUND((${stumpH("pt", "nt")}) - " +
              s"((pl + nl) * 1.0 / (pt + nt)) * (${stumpH("pl", "nl")}) - " +
              s"((pr + nr) * 1.0 / (pt + nt)) * (${stumpH("pr", "nr")}), 6) AS gain")
          .orderBy("feature", "threshold")
      },
      Some {
        def feat(f: String, expr: String) =
          s"""SELECT '$f' AS feature, v AS threshold, pl, nl,
              pt - pl AS pr, nt - nl AS nr, pt, nt FROM (
                SELECT v,
                  SUM(pos) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl,
                  SUM(neg) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
                  SUM(pos) OVER () AS pt, SUM(neg) OVER () AS nt
                FROM (SELECT $expr AS v,
                        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS neg
                      FROM events GROUP BY 1) c) x"""
        s"""WITH u AS (
             ${feat("hour", "CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24")}
             UNION ALL
             ${feat("dow", "CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7")})
           SELECT feature, threshold,
             ROUND((${stumpH("pt", "nt")}) -
               ((pl + nl) * 1.0 / (pt + nt)) * (${stumpH("pl", "nl")}) -
               ((pr + nr) * 1.0 / (pt + nt)) * (${stumpH("pr", "nr")}), 6) AS gain
           FROM u ORDER BY feature, threshold"""
      }),

    // BAGGED RANDOM FOREST of stumps: 5 trees, each trained on a
    // Poisson(1)-weighted bootstrap of the event stream (the
    // q_agg_bootstrap weight trick — no resample materialization), each
    // picking its best (feature, threshold) split by weighted info gain
    // with the q_ml_stump cumulative-window scan. Bagging is the
    // variance-reduction ensemble beside q_ml_gbt's bias-reduction
    // boosting; at scale the whole forest is ONE explode + ONE windowed
    // aggregate — trees never train sequentially. Gains round at 6
    // before the per-tree argmax (ln may differ by an ulp across
    // engines); ties break (feature, threshold). Output = the trained
    // model: per tree its split and the majority class of each side.
    Q("q_ml_forest",
      (s, d) => forestModel(s, d).orderBy("tree"),
      Some(s"""WITH $forestCtesSql
              SELECT * FROM model ORDER BY tree""")),

    // FOREST INFERENCE: apply the 5 bagged stumps to every event and
    // majority-vote (>=3 of 5) — the serving half of q_ml_forest. One
    // broadcast of the O(trees) model against the stream + one
    // aggregate: accuracy and the full confusion counts.
    Q("q_ml_forest_acc",
      (s, d) => {
        val votes = forestFeatures(s, d)
          .crossJoin(broadcast(forestModel(s, d)))
          .select(col("event_id"), col("y"),
            when(when(col("feature") === "hour", col("hour"))
                .otherwise(col("dow")) <= col("threshold"),
              col("left_class")).otherwise(col("right_class")).as("vote"))
          .groupBy("event_id", "y")
          .agg((sum("vote") >= 3).cast("long").as("pred"))
        votes.agg(count(lit(1)).as("n"),
          round(avg((col("pred") === col("y")).cast("double")), 6).as("accuracy"),
          sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
          sum(when(col("pred") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"))
      },
      Some(s"""WITH $forestCtesSql,
              fev AS (SELECT event_id,
                CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hour,
                CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events),
              votes AS (SELECT fev.event_id, fev.y,
                CAST(SUM(CASE WHEN (CASE WHEN m.feature = 'hour' THEN fev.hour
                                         ELSE fev.dow END) <= m.threshold
                              THEN m.left_class ELSE m.right_class END) >= 3
                     AS BIGINT) AS pred
                FROM fev CROSS JOIN model m GROUP BY 1, 2)
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(AVG(CASE WHEN pred = y THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
                CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM votes""")),

    // Multinomial Naive Bayes language classifier: train token
    // distributions per lang on even doc_ids (Laplace +1 over the train
    // vocabulary), predict the held-out odd docs. The model is the
    // (vocab × langs) grid — O(V·L), built by one token aggregate and
    // joined to the test token stream on tok (a hash join that scales with
    // the corpus; the langs/prior sides are O(L) broadcasts). Scores are
    // rounded to 6 BEFORE the argmax (ln() may differ by an ulp per term
    // across engines; class margins are orders of magnitude larger), ties
    // broken by lang — the q_text_langid determinism pattern.
    Q("q_ml_nb",
      (s, d) => {
        val docsAll = Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
        naiveBayes(docsAll.filter(col("doc_id") % 2 === 0),
          docsAll.filter(col("doc_id") % 2 =!= 0))
      },
      Some(s"""$nbChainSql
           SELECT doc_id, lang AS pred_lang, score FROM scored
           QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1
           ORDER BY doc_id""")),

    // CONFUSION MATRIX of the Naive Bayes predictions against the actual
    // labels — the evaluation readout that closes the train/predict loop
    // (near-uniform off-diagonals here, since the testdata's labels are
    // random w.r.t. the text; the SHAPE of the computation is what a real
    // corpus reuses). One extra O(test) join + one tiny aggregate on top
    // of the classifier plan.
    Q("q_ml_nb_confusion",
      (s, d) => {
        val docsAll = Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
        naiveBayes(docsAll.filter(col("doc_id") % 2 === 0),
            docsAll.filter(col("doc_id") % 2 =!= 0))
          .join(docsAll.select(col("doc_id"), col("lang").as("actual")), Seq("doc_id"))
          .groupBy(col("actual"), col("pred_lang"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("actual", "pred_lang")
      },
      Some(s"""$nbChainSql,
           preds AS (SELECT doc_id, lang AS pred_lang FROM scored
             QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1)
           SELECT d.lang AS actual, p.pred_lang, COUNT(*) AS cnt
           FROM preds p JOIN documents d ON d.doc_id = p.doc_id
           GROUP BY 1, 2 ORDER BY 1, 2"""))
  )

  /** the Naive Bayes oracle chain through `scored` (doc × lang rounded
    * log-posteriors) — shared by the prediction and confusion-matrix
    * oracles. A def (not val): referenced from defs's initializer. */
  private def nbChainSql: String = {
    val toksSql = TextExprs.toksSql("text")
    s"""WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
       te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0),
       trt AS (SELECT lang, unnest($toksSql) AS tok FROM tr),
       counts AS (SELECT lang, tok, COUNT(*) AS c FROM trt GROUP BY 1, 2),
       totals AS (SELECT lang, SUM(c) AS tot FROM counts GROUP BY 1),
       vocab AS (SELECT DISTINCT tok FROM counts),
       vs AS (SELECT COUNT(*) AS v FROM vocab),
       nd AS (SELECT lang, COUNT(*) AS ndl FROM tr GROUP BY 1),
       ndt AS (SELECT COUNT(*) AS ndt FROM tr),
       prior AS (SELECT lang, ln(ndl) - ln(ndt) AS prior FROM nd CROSS JOIN ndt),
       grid AS (SELECT l.lang, v.tok,
           ln(COALESCE(c.c, 0) + 1) - ln(t.tot + vs.v) AS lp
         FROM vocab v CROSS JOIN (SELECT lang FROM nd) l
         LEFT JOIN counts c ON c.lang = l.lang AND c.tok = v.tok
         JOIN totals t ON t.lang = l.lang CROSS JOIN vs),
       tet AS (SELECT doc_id, unnest($toksSql) AS tok FROM te),
       sums AS (SELECT tet.doc_id, grid.lang, SUM(lp) AS slp
         FROM tet JOIN grid ON grid.tok = tet.tok GROUP BY 1, 2),
       scored AS MATERIALIZED (SELECT te.doc_id, p.lang,
           ROUND(p.prior + COALESCE(sm.slp, 0.0), 6) AS score
         FROM te CROSS JOIN prior p
         LEFT JOIN sums sm ON sm.doc_id = te.doc_id AND sm.lang = p.lang)"""
  }

  /** Farthest-first traversal (k-center / k-means‖-style seeding, the
    * deterministic cousin of k-means++): seed 1 is vec_id 0; each round
    * picks the point maximizing its min squared distance to the chosen
    * set (ties to the smaller id). Distances round at 6 on both engines
    * BEFORE the min/argmax, so the FP noise between the engine's
    * |v|²−2v·s+|s|² and the oracle's Σ(v−s)² cannot flip a selection.
    * O(k) corpus scans, each a broadcast-literal projection + a
    * TakeOrdered(1) — the k-means master-collect posture. */
  private def seedK = 4
  private def farthestSeeds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.VecOps
    val emb = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    def vecOf(id: Long): Seq[Double] =
      emb.filter(col("vec_id") === id).head.getSeq[Double](1).toIndexedSeq
    var seeds = Vector(vecOf(0L))
    val out = scala.collection.mutable.ArrayBuffer((1L, 0L, 0.0))
    for (r <- 2 to seedK) {
      val dists = seeds.map { sv =>
        val cc = sv.map(x => x * x).sum
        round(VecOps.vecDot(col("v"), col("v")) -
          lit(2.0) * VecOps.vecDot(col("v"), typedLit(sv)) + lit(cc), 6)
      }
      val mind = if (dists.size == 1) dists.head else least(dists: _*)
      val next = emb.withColumn("dmin", mind)
        .orderBy(desc("dmin"), asc("vec_id")).limit(1)
        .select("vec_id", "dmin").head
      seeds :+= vecOf(next.getLong(0))
      out += ((r.toLong, next.getLong(0), next.getDouble(1)))
    }
    graft.plans.Iterate.release(emb)
    out.toSeq.toDF("rank", "vec_id", "dist").orderBy("rank")
  }

  /** the farthest-first CTE chain (elems + `${p}d1`/`${p}s2`…`${p}s$k`),
    * name-prefixable so it composes into other oracles without CTE
    * collisions. Callers append their own final SELECT. */
  private def farthestChainSql(p: String): String = {
    val rounds = (2 to seedK).map { r =>
      val prev = if (r == 2) s"${p}d1" else s"${p}m${r - 1}"
      val dcte =
        s"""${p}d$r AS MATERIALIZED (SELECT a.vec_id,
             ROUND(SUM((a.x - b.x) * (a.x - b.x)), 6) AS d
             FROM elems a JOIN elems b ON a.i = b.i
               AND b.vec_id = (SELECT vec_id FROM ${p}s$r)
             GROUP BY a.vec_id)"""
      val scte =
        s"""${p}s$r AS MATERIALIZED (SELECT vec_id, d FROM $prev
             QUALIFY ROW_NUMBER() OVER (ORDER BY d DESC, vec_id) = 1)"""
      val mcte = if (r < seedK)
        Seq(s"""${p}m$r AS MATERIALIZED (SELECT $prev.vec_id, LEAST($prev.d, ${p}d$r.d) AS d
               FROM $prev JOIN ${p}d$r USING (vec_id))""")
      else Nil
      Seq(scte, dcte) ++ mcte
    }
    s"""elems AS MATERIALIZED (
         SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
         FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
       ${p}d1 AS MATERIALIZED (SELECT a.vec_id,
         ROUND(SUM((a.x - b.x) * (a.x - b.x)), 6) AS d
         FROM elems a JOIN elems b ON a.i = b.i AND b.vec_id = 0
         GROUP BY a.vec_id),
       ${rounds.flatten.mkString(",\n")}"""
  }

  private def farthestSeedsSql: String = {
    val selects = (2 to seedK)
      .map(r => s"SELECT CAST($r AS BIGINT) AS rank, vec_id, d AS dist FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH ${farthestChainSql("")}
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS vec_id, 0.0 AS dist
         UNION ALL $selects) u
       ORDER BY rank"""
  }

  /** Multinomial Naive Bayes (Laplace +1 over the train vocabulary):
    * train token distributions per `lang` from `train(lang, text)`,
    * score `test(doc_id, text)`, return (doc_id, pred_lang, score).
    * OOV test tokens are ignored; scores round at 6 before the argmax
    * (ties to the smaller lang). Extracted so specs can feed corpora
    * with real class signal — the testdata's lang labels are random. */
  def naiveBayes(train: DataFrame, test: DataFrame): DataFrame = {
    val trTok = train.select(col("lang"), explode(TextExprs.toks(col("text"))).as("tok"))
    val counts = trTok.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("lang").agg(sum("c").as("tot"))
    val vocab = counts.select("tok").distinct()
    val vs = vocab.agg(count(lit(1)).as("v"))
    val nd = train.groupBy("lang").agg(count(lit(1)).as("ndl"))
    val ndt = train.agg(count(lit(1)).as("ndt"))
    val prior = nd.crossJoin(broadcast(ndt))
      .select(col("lang"), (log(col("ndl")) - log(col("ndt"))).as("prior"))
    val grid = vocab.crossJoin(broadcast(nd.select("lang")))
      .join(counts, Seq("lang", "tok"), "left")
      .join(broadcast(totals), Seq("lang"))
      .crossJoin(broadcast(vs))
      .select(col("lang"), col("tok"),
        (log(coalesce(col("c"), lit(0L)) + 1) - log(col("tot") + col("v"))).as("lp"))
    val teTok = test.select(col("doc_id"), explode(TextExprs.toks(col("text"))).as("tok"))
    val sums = teTok.join(grid, Seq("tok")) // OOV tokens (absent from the train vocab) are ignored
      .groupBy("doc_id", "lang").agg(sum("lp").as("slp"))
    val scored = test.select("doc_id").crossJoin(broadcast(prior))
      .join(sums, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        round(col("prior") + coalesce(col("slp"), lit(0.0)), 6).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("lang"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("score"))
      .orderBy("doc_id")
  }

  // ---- ridge: Cramer's-rule formulas over the rounded normal-equation
  // sums, shared VERBATIM by the Spark selectExpr and the DuckDB oracle so
  // both engines evaluate the identical parse tree on identical doubles.
  // A = [[n+λ, s1, s2], [s1, s11+λ, s12], [s2, s12, s22+λ]], b = [sy, s1y, s2y].
  private def ridgeLam = "0.1"
  private def ridgeDetL(lam: String) =
    s"(n + $lam) * ((s11 + $lam) * (s22 + $lam) - s12 * s12)" +
      s" - s1 * (s1 * (s22 + $lam) - s12 * s2)" +
      s" + s2 * (s1 * s12 - (s11 + $lam) * s2)"
  private def ridgeTh0L(lam: String) =
    s"sy * ((s11 + $lam) * (s22 + $lam) - s12 * s12)" +
      s" - s1 * (s1y * (s22 + $lam) - s12 * s2y)" +
      s" + s2 * (s1y * s12 - (s11 + $lam) * s2y)"
  private def ridgeTh1L(lam: String) =
    s"(n + $lam) * (s1y * (s22 + $lam) - s12 * s2y)" +
      s" - sy * (s1 * (s22 + $lam) - s12 * s2)" +
      s" + s2 * (s1 * s2y - s1y * s2)"
  private def ridgeTh2L(lam: String) =
    s"(n + $lam) * ((s11 + $lam) * s2y - s1y * s12)" +
      s" - s1 * (s1 * s2y - s1y * s2)" +
      s" + sy * (s1 * s12 - (s11 + $lam) * s2)"
  /** two-class entropy from integer counts, 0·ln0 = 0 — one string,
    * both engines (a def: referenced from defs's initializer) */
  private def stumpH(a: String, b: String): String =
    s"CASE WHEN $a = 0 OR $b = 0 THEN 0.0" +
      s" ELSE ln($a + $b) - ($a * ln($a) + $b * ln($b)) / ($a + $b) END"

  /** (event_id, hour, dow, y) — the stump/forest feature relation.
    * (No cpuPartitioned here: at 5 replicas the md5 work is lighter
    * than the repartition shuffle it would buy — measured both ways;
    * q_agg_bootstrap at 32 replicas is the opposite case.) */
  private def forestFeatures(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events").select(
      col("event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000 % 24").as("hour"),
      expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 % 7").as("dow"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))

  /** Bagged stump forest TRAINING (shared by q_ml_forest and its
    * inference row): 5 Poisson(1)-bootstrap replicas (the q_agg_bootstrap
    * weight trick) × the q_ml_stump cumulative-window split scan, best
    * split per tree by round-6 weighted info gain. One explode + one
    * windowed aggregate — trees train in the same jobs, never
    * sequentially. */
  private def forestModel(s: SparkSession, d: String): DataFrame = {
    val ev = forestFeatures(s, d)
      .withColumn("tree", explode(sequence(lit(0), lit(4))))
      // u as its own column: one md5 per row, not one per CASE branch
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat_ws('-', event_id, tree)), 1, 8), 16, 10) AS BIGINT) / 4294967296.0"))
      .withColumn("w", expr(Relational.poissonCaseSql("u")))
    val perFeature = Seq("hour", "dow").map { f =>
      val cnt = ev.groupBy(col("tree"), col(f).as("v"))
        .agg(sum(col("w") * col("y")).as("pos"),
          sum(col("w") * (lit(1L) - col("y"))).as("neg"))
      val wOrd = Window.partitionBy("tree").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("tree")
      cnt.select(col("tree"), col("v"),
          sum("pos").over(wOrd).as("pl"), sum("neg").over(wOrd).as("nl"),
          sum("pos").over(wAll).as("pt"), sum("neg").over(wAll).as("nt"))
        .selectExpr("tree", s"'$f' AS feature", "v AS threshold",
          "pl", "nl", "pt - pl AS pr", "nt - nl AS nr", "pt", "nt")
    }.reduce(_ unionAll _)
    perFeature.selectExpr("tree", "feature", "threshold",
        s"ROUND((${stumpH("pt", "nt")}) - " +
          s"((pl + nl) * 1.0 / (pt + nt)) * (${stumpH("pl", "nl")}) - " +
          s"((pr + nr) * 1.0 / (pt + nt)) * (${stumpH("pr", "nr")}), 6) AS gain",
        "CAST(CASE WHEN pl >= nl THEN 1 ELSE 0 END AS BIGINT) AS left_class",
        "CAST(CASE WHEN pr >= nr THEN 1 ELSE 0 END AS BIGINT) AS right_class")
      .withColumn("rk", row_number().over(Window.partitionBy("tree")
        .orderBy(desc("gain"), asc("feature"), asc("threshold"))))
      .filter(col("rk") === 1).drop("rk")
  }

  /** DuckDB twin of [[forestModel]] as composable CTEs ending in `model`. */
  // lazy: declared after the Q list, which interpolates it at build time
  private lazy val forestCtesSql: String = {
    def feat(f: String, expr: String) =
      s"""SELECT tree, '$f' AS feature, v AS threshold, pl, nl,
          pt - pl AS pr, nt - nl AS nr, pt, nt FROM (
            SELECT tree, v,
              SUM(pos) OVER (PARTITION BY tree ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl,
              SUM(neg) OVER (PARTITION BY tree ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
              SUM(pos) OVER (PARTITION BY tree) AS pt,
              SUM(neg) OVER (PARTITION BY tree) AS nt
            FROM (SELECT tree, $expr AS v,
                    SUM(w * CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
                    SUM(w * CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS neg
                  FROM rep GROUP BY 1, 2) c) x"""
    s"""funi AS (SELECT event_id, ts, event_type, b AS tree,
          CAST('0x' || substring(md5(concat_ws('-', event_id, b)), 1, 8) AS BIGINT) / 4294967296.0 AS u
          FROM events CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS b) bb),
        rep AS (SELECT event_id, ts, event_type, tree,
          ${Relational.poissonCaseSql("u")} AS w FROM funi),
        u AS (
          ${feat("hour", "CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24")}
          UNION ALL
          ${feat("dow", "CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7")}),
        model AS (SELECT tree, feature, threshold,
          ROUND((${stumpH("pt", "nt")}) -
            ((pl + nl) * 1.0 / (pt + nt)) * (${stumpH("pl", "nl")}) -
            ((pr + nr) * 1.0 / (pt + nt)) * (${stumpH("pr", "nr")}), 6) AS gain,
          CAST(CASE WHEN pl >= nl THEN 1 ELSE 0 END AS BIGINT) AS left_class,
          CAST(CASE WHEN pr >= nr THEN 1 ELSE 0 END AS BIGINT) AS right_class
          FROM u
          QUALIFY ROW_NUMBER() OVER (PARTITION BY tree
            ORDER BY gain DESC, feature, threshold) = 1)"""
  }

  private def ridgeLambdas = Seq("0.01", "0.1", "1.0", "10.0")
  private def ridgeSumCols = Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y", "syy")

  /** SSE over a sum-set with column prefix `p` and the (already-rounded)
    * thetas: SSE = syy − 2θ'b + θ'Aθ — no data pass. Shared string both
    * sides; empty prefix = the training sums, "v" = a validation fold's. */
  private def ridgeSseExprP(p: String) =
    s"${p}syy - 2 * (th0 * ${p}sy + th1 * ${p}s1y + th2 * ${p}s2y)" +
      s" + (th0 * th0 * ${p}n + th1 * th1 * ${p}s11 + th2 * th2 * ${p}s22" +
      s" + 2 * th0 * th1 * ${p}s1 + 2 * th0 * th2 * ${p}s2 + 2 * th1 * th2 * ${p}s12)"

  private def ridgeSseExpr = ridgeSseExprP("")

  /** the ridge normal-equation sums (incl. syy), rounded at 4 */
  private def ridgeSumsSql =
    """SELECT
       CAST(COUNT(*) AS DOUBLE) AS n,
       ROUND(SUM(x1), 4) AS s1, ROUND(SUM(x2), 4) AS s2,
       ROUND(SUM(x1 * x1), 4) AS s11,
       ROUND(SUM(x1 * x2), 4) AS s12,
       ROUND(SUM(x2 * x2), 4) AS s22,
       ROUND(SUM(y), 4) AS sy,
       ROUND(SUM(x1 * y), 4) AS s1y,
       ROUND(SUM(x2 * y), 4) AS s2y,
       ROUND(SUM(y * y), 4) AS syy
       FROM (SELECT l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
             l_extendedprice / 100000.0 AS y FROM lineitem) t"""

  private def ridgeSums(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem").select(
        (col("l_quantity") / 50.0).as("x1"),
        (col("l_discount") * 10.0).as("x2"),
        (col("l_extendedprice") / 100000.0).as("y"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        round(sum("x1"), 4).as("s1"), round(sum("x2"), 4).as("s2"),
        round(sum(col("x1") * col("x1")), 4).as("s11"),
        round(sum(col("x1") * col("x2")), 4).as("s12"),
        round(sum(col("x2") * col("x2")), 4).as("s22"),
        round(sum("y"), 4).as("sy"),
        round(sum(col("x1") * col("y")), 4).as("s1y"),
        round(sum(col("x2") * col("y")), 4).as("s2y"),
        round(sum(col("y") * col("y")), 4).as("syy"))

  private def ridgeDet = ridgeDetL(ridgeLam)
  private def ridgeTh0 = ridgeTh0L(ridgeLam)
  private def ridgeTh1 = ridgeTh1L(ridgeLam)
  private def ridgeTh2 = ridgeTh2L(ridgeLam)

  /** shared by q_ml_pca / q_ml_pca_project: one distributed covariance
    * pass, then the driver-local power iteration; returns the
    * sign-canonicalized component and its eigenvalue. Memoized so
    * materializing both PCA rows in one session runs the O(n)
    * covariance pass once. */
  private def pcaComponent(s: SparkSession, d: String): (Array[Double], Double) =
    graft.Memo(s, "pca", d, "embeddings")(computePcaComponent(s, d))

  private def computePcaComponent(s: SparkSession, d: String): (Array[Double], Double) = {
    val dim = 64
    val cov = Tables(s, d, "embeddings")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(graft.functions.VecCovAgg.vecCov(dim)(col("v")).as("c"))
      .head.getSeq[Double](0).toArray
    var v = Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)
    var lambda = 0.0
    var it = 0
    while (it < PcaIters) {
      val w = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += cov(i * dim + j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      lambda = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lambda)
      it += 1
    }
    val k = v.indexWhere(x => math.abs(x) > 1e-6)
    val sgn = if (k >= 0 && v(k) < 0) -1.0 else 1.0
    (v.map(_ * sgn), lambda)
  }

  // a def, not a val: referenced from `defs`'s initializer above, which
  // runs before any later val fields would be assigned
  private def PcaIters: Int = 30

  private def pcaSql(iters: Int): String = {
    // every step MATERIALIZED too: v_t references w_t twice (value + norm
    // subquery), so inlining would expand the chain 2^iters-fold
    val steps = (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT cov.i AS i, SUM(cov.c * v${t - 1}.v) AS w
         FROM cov JOIN v${t - 1} ON v${t - 1}.i = cov.j GROUP BY cov.i),
         v$t AS MATERIALIZED (SELECT i, w / (SELECT SQRT(SUM(w * w)) FROM w$t) AS v FROM w$t)"""
    }.mkString(",\n")
    // MATERIALIZED: DuckDB otherwise inlines the CTE at each of the `iters`
    // references and re-opens the parquet scan every time (fd exhaustion)
    s"""WITH elems AS MATERIALIZED (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
          FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
        mu AS MATERIALIZED (SELECT i, AVG(x) AS m FROM elems GROUP BY i),
        cov AS MATERIALIZED (SELECT e1.i AS i, e2.i AS j, AVG(e1.x * e2.x) - m1.m * m2.m AS c
          FROM elems e1 JOIN elems e2 USING (vec_id)
          JOIN mu m1 ON m1.i = e1.i JOIN mu m2 ON m2.i = e2.i
          GROUP BY e1.i, e2.i, m1.m, m2.m),
        v0 AS (SELECT i, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS v FROM mu),
        $steps,
        sgn AS (SELECT CASE WHEN (SELECT v FROM v$iters
                  WHERE i = (SELECT MIN(i) FROM v$iters WHERE ABS(v) > 1e-6)) < 0
                THEN -1.0 ELSE 1.0 END AS s)
        SELECT CAST(v$iters.i - 1 AS BIGINT) AS i,
          ROUND(sgn.s * v$iters.v, 6) AS loading,
          ROUND((SELECT SQRT(SUM(w * w)) FROM w$iters), 6) AS eigval
        FROM v$iters, sgn ORDER BY i"""
  }

  /** same CTE chain as [[pcaSql]], finishing with the per-label stats of
    * every embedding's projection onto the sign-canonical component. */
  private def pcaProjectSql(iters: Int): String = {
    val base = pcaSql(iters)
    val cut = base.lastIndexOf("SELECT CAST(")
    base.substring(0, cut) +
      s""", vc AS MATERIALIZED (SELECT i, sgn.s * v AS v FROM v$iters, sgn),
         proj AS (SELECT e.vec_id, SUM(e.x * vc.v) AS p
                  FROM elems e JOIN vc ON vc.i = e.i GROUP BY e.vec_id)
         SELECT CAST(emb.label AS BIGINT) AS label, COUNT(*) AS n,
           ROUND(AVG(p), 6) AS mean_p, ROUND(STDDEV_POP(p), 6) AS sd_p
         FROM proj JOIN embeddings emb USING (vec_id)
         GROUP BY emb.label ORDER BY label"""
  }
}
