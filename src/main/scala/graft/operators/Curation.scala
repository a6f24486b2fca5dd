package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline: the composition the L4
  * operators exist for, as ONE declared dataflow —
  *
  *   near-dup clusters (MinHash → LSH pairs → label propagation, keep the
  *   canonical doc) → quality gate (character-class score) → deterministic
  *   hash sample → per-source funnel counts + surviving token volume.
  *
  * Everything is a join/filter/aggregate over the same bounded-key shapes
  * the individual queries use, so the whole funnel is one Spark job with
  * no driver-side loop; at 100 TB each stage keeps its own scale posture
  * (bucketed pair join, doc-keyed label rounds, scan-local scoring). The
  * funnel columns (n_docs ≥ n_dedup ≥ n_quality ≥ n_final) are what a
  * curation run reports to its operator.
  */
object Curation extends QueryModule {

  /** PSI value-band expression — ONE string, valid in both Spark SQL and
    * DuckDB, shared by the batch drift row and the streaming drift
    * monitor so the banding can never diverge between them. Clamped at
    * BOTH ends: an unclamped negative value would land outside the 0-9
    * grid, inflating totals while appearing in no band share — shares
    * would no longer sum to 1 and PSI would silently distort. */
  private[operators] val psiBandSql =
    "LEAST(GREATEST(CAST(FLOOR(value / 50) AS BIGINT), 0), 9)"

  private val qualityMin = 0.82 // ~median of the corpus quality score
  private val sampleHex = "c0" // 0xc0/0x100 = 75% keep rate after quality

  override val defs: Seq[Q] = Seq(

    // DATA-QUALITY AUDIT: a constraint report over the warehouse — key
    // uniqueness, referential integrity (anti-join counts), and range
    // rules — one (check, violations, pass) row per rule, the gate a
    // pipeline runs before trusting an upstream drop. Each check is one
    // scan + one aggregate (FKs are broadcast anti-joins against the
    // parent's key projection); the report is a UNION ALL of 1-row
    // relations, so the audit parallelizes per-check and adds no
    // cross-check shuffle at any scale.
    Q("q_pipeline_dq_audit",
      (s, d) => {
        def check(name: String, violations: org.apache.spark.sql.DataFrame) =
          violations.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("check"), col("n_violations"),
              (col("n_violations") === 0L).as("pass"))
        val cust = Tables(s, d, "customer")
        val ord = Tables(s, d, "orders")
        val li = Tables(s, d, "lineitem")
        val evs = Tables(s, d, "events")
        val dupKeys = cust.groupBy("c_custkey").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
        check("customer_key_unique", dupKeys)
          .unionByName(check("orders_custkey_fk",
            ord.join(broadcast(cust.select("c_custkey")),
              col("o_custkey") === col("c_custkey"), "left_anti")))
          .unionByName(check("lineitem_orderkey_fk",
            li.join(ord.select("o_orderkey"),
              col("l_orderkey") === col("o_orderkey"), "left_anti")))
          .unionByName(check("lineitem_qty_positive",
            li.filter(col("l_quantity") <= 0)))
          .unionByName(check("lineitem_discount_range",
            li.filter(col("l_discount") < 0 || col("l_discount") > 1)))
          .unionByName(check("events_value_valid",
            evs.filter(col("value").isNull || col("value") < 0)))
          .orderBy("check")
      },
      Some("""SELECT * FROM (
              SELECT 'customer_key_unique' AS check,
                CAST(COUNT(*) AS BIGINT) AS n_violations, COUNT(*) = 0 AS pass
              FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1)
              UNION ALL
              SELECT 'orders_custkey_fk', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
              FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
              UNION ALL
              SELECT 'lineitem_orderkey_fk', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
              FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
              UNION ALL
              SELECT 'lineitem_qty_positive', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
              FROM lineitem WHERE l_quantity <= 0
              UNION ALL
              SELECT 'lineitem_discount_range', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
              FROM lineitem WHERE l_discount < 0 OR l_discount > 1
              UNION ALL
              SELECT 'events_value_valid', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
              FROM events WHERE value IS NULL OR value < 0)
              ORDER BY "check" """)),

    // POPULATION-STABILITY drift monitor (PSI): per event_type, the
    // value distribution of the FIRST half of the time range (reference
    // window) vs the SECOND half (current), over 10 fixed value bands,
    // with Laplace-smoothed shares so an empty band cannot blow up the
    // log — PSI = Σ (p−q)·ln(p/q), the standard feature-drift gate
    // (> 0.1 = investigate). Two scans collapse to one: the window flag
    // is a projection, and the per-(type, window, band) counts are one
    // hash aggregate; the PSI fold runs on O(types × bands) rows. At
    // 100 TB the same plan holds — drift monitoring is a partial-agg
    // pass, never a sort.
    Q("q_agg_psi_drift",
      (s, d) => {
        val e = Tables(s, d, "events").select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").as("h"),
          expr(psiBandSql).as("band"))
        // integer midpoint both sides: DuckDB CAST(double AS BIGINT)
        // rounds while Spark truncates, so the halving must stay integral
        val mid = e.agg(expr("(MIN(h) + MAX(h)) DIV 2").as("hmid"))
        // O(types x 2 x bands) rows, referenced 5 times below (totals,
        // type grid, both window shares) - checkpoint once or every
        // reference re-expands to its own events scan (plan audit: 12
        // FileScans / 30 exchanges before the checkpoints)
        val counts = e.crossJoin(broadcast(mid))
          .withColumn("win", when(col("h") < col("hmid"), "ref").otherwise("cur"))
          .groupBy("event_type", "win", "band")
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val tot = counts.groupBy("event_type", "win").agg(sum("c").as("n"))
        val grid = counts.select("event_type").distinct()
          .crossJoin(s.range(10).select(col("id").as("band")))
        def share(w: String) = grid
          .join(counts.filter(col("win") === w).select(col("event_type"),
            col("band"), col("c")), Seq("event_type", "band"), "left")
          .join(tot.filter(col("win") === w).select(col("event_type"),
            col("n")), "event_type")
          .select(col("event_type"), col("band"),
            ((coalesce(col("c"), lit(0L)) + 0.5) / (col("n") + 5.0)).as(s"p_$w"),
            col("n").as(s"n_$w"))
        val out = share("ref").join(share("cur"), Seq("event_type", "band"))
          .groupBy("event_type")
          .agg(min("n_ref").as("n_ref"), min("n_cur").as("n_cur"),
            round(sum((col("p_ref") - col("p_cur")) *
              log(col("p_ref") / col("p_cur"))), 6).as("psi"))
          .select(col("event_type"), col("n_ref"), col("n_cur"), col("psi"),
            (col("psi") > 0.1).as("drifted"))
          .orderBy("event_type")
          .localCheckpoint()
        graft.plans.Iterate.release(counts)
        out
      },
      Some(s"""WITH e AS (SELECT event_type,
                CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                $psiBandSql AS band
                FROM events),
              mid AS (SELECT (MIN(h) + MAX(h)) // 2 AS hmid FROM e),
              winl AS (SELECT event_type, band,
                CASE WHEN h < hmid THEN 'ref' ELSE 'cur' END AS win
                FROM e CROSS JOIN mid),
              counts AS (SELECT event_type, win, band, COUNT(*) AS c
                FROM winl GROUP BY 1, 2, 3),
              tot AS (SELECT event_type, win, SUM(c) AS n
                FROM counts GROUP BY 1, 2),
              grid AS (SELECT DISTINCT event_type, b.band FROM counts
                CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS band) b),
              sref AS (SELECT g.event_type, g.band,
                  (COALESCE(c.c, 0) + 0.5) / (t.n + 5.0) AS p_ref, t.n AS n_ref
                FROM grid g
                LEFT JOIN counts c ON c.event_type = g.event_type
                  AND c.band = g.band AND c.win = 'ref'
                JOIN tot t ON t.event_type = g.event_type AND t.win = 'ref'),
              scur AS (SELECT g.event_type, g.band,
                  (COALESCE(c.c, 0) + 0.5) / (t.n + 5.0) AS p_cur, t.n AS n_cur
                FROM grid g
                LEFT JOIN counts c ON c.event_type = g.event_type
                  AND c.band = g.band AND c.win = 'cur'
                JOIN tot t ON t.event_type = g.event_type AND t.win = 'cur'),
              m AS (SELECT s1.event_type,
                  CAST(MIN(n_ref) AS BIGINT) AS n_ref,
                  CAST(MIN(n_cur) AS BIGINT) AS n_cur,
                  ROUND(SUM((p_ref - p_cur) * LN(p_ref / p_cur)), 6) AS psi
                FROM sref s1 JOIN scur s2
                  ON s1.event_type = s2.event_type AND s1.band = s2.band
                GROUP BY 1)
              SELECT event_type, n_ref, n_cur, psi, psi > 0.1 AS drifted
              FROM m ORDER BY event_type""")),

    Q("q_pipeline_curate",
      (s, d) => {
        val labels = Dedup.clusterLabels(s, d)
          .select(col("doc_id"), col("keep").as("kept_dedup"))
        // cpuPartitioned: the regex/tokenize scoring below is the CPU-bound
        // shape the explicit pre-partition exists for (see Tables); the
        // doc_id clustering also co-locates the labels join
        val staged = Tables.cpuPartitioned(s, d, "documents", "doc_id")
          .join(labels, "doc_id")
          .withColumn("q", TextExprs.qualityScore(col("text")))
          .withColumn("kept_quality", col("kept_dedup") && col("q") >= qualityMin)
          .withColumn("kept_sample", col("kept_quality") &&
            TextExprs.hashDraw(col("doc_id")) < lit(sampleHex))
          .withColumn("n_tokens", size(TextExprs.toks(col("text"))))
        staged.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(col("kept_dedup").cast("long")).as("n_dedup"),
            sum(col("kept_quality").cast("long")).as("n_quality"),
            sum(col("kept_sample").cast("long")).as("n_final"),
            sum(when(col("kept_sample"), col("n_tokens").cast("long")).otherwise(0L))
              .as("tokens_final"))
          .orderBy("source")
      },
      Some(s"""WITH ${Dedup.clustersSqlCtes},
            labels AS (SELECT v AS doc_id, v = lab AS kept_dedup FROM l3),
            staged AS (SELECT d.source, l.kept_dedup,
                ${TextExprs.qualityScoreSql("d.text")} AS q,
                ${TextExprs.hashDrawSql("d.doc_id")} AS draw,
                len(${TextExprs.toksSql("d.text")}) AS n_tokens
              FROM documents d JOIN labels l USING (doc_id)),
            flags AS (SELECT source, kept_dedup,
                kept_dedup AND q >= $qualityMin AS kept_quality,
                kept_dedup AND q >= $qualityMin AND draw < '$sampleHex' AS kept_sample,
                n_tokens
              FROM staged)
            SELECT source, COUNT(*) AS n_docs,
              CAST(SUM(CASE WHEN kept_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
              CAST(SUM(CASE WHEN kept_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
              CAST(SUM(CASE WHEN kept_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
              CAST(SUM(CASE WHEN kept_sample THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final
            FROM flags GROUP BY source ORDER BY source""")),

    // TRAINED quality filter, end-to-end: engineer per-doc features
    // (the shared character-class quality score + log-length), fit a
    // logistic classifier to a reference label (lang = 'en' — the
    // "target distribution" a curation filter is trained toward) by
    // 3 fixed GD steps, then SCORE AND FLAG every document with the
    // fitted model — train + inference over the corpus in one declared
    // dataflow. Each GD step is one aggregate (3 sums) with an O(1)
    // master-collect of the gradient, the q_ml_logreg protocol; scoring
    // is a scan-local projection with the weights as literals. At 100 TB
    // nothing but three 3-double gradients ever reaches the driver.
    Q("q_pipeline_quality_model",
      (s, d) => {
        val (th0, th1, th2) = trainedThetas(s, d)
        val p = lit(1.0) / (lit(1.0) +
          exp(-(lit(th0) + lit(th1) * col("x1") + lit(th2) * col("x2"))))
        qualityFeatures(s, d)
          .select(col("doc_id"), round(p, 6).as("score"), (p >= 0.5).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $qualityModelCtes
           SELECT doc_id, score, keep FROM scored ORDER BY doc_id""")),

    // Model EVALUATION: exact ROC-AUC of the trained quality score against
    // its training label, by the Mann-Whitney rank-sum with average ranks
    // for ties — the measurement a filter deployment reads before picking
    // a keep threshold. Computed from per-SCORE-GROUP counts (cumulative
    // window over distinct rounded scores, never a global per-row sort):
    // O(score grid) window rows at any corpus size. All intermediates are
    // dyadic rationals well under 2^53, so the double arithmetic is exact
    // and order-independent in both engines.
    // Model CALIBRATION: decile-binned reliability readout (n, mean
    // predicted score, observed positive fraction per bin) — with AUC,
    // the other half of the deploy decision: a filter can rank well and
    // still be miscalibrated at the chosen threshold. One join + one
    // hash agg over the declared scored output.
    Q("q_pipeline_quality_calibration",
      (s, d) => {
        val scored = graft.SparkEntry.queries("q_pipeline_quality_model")(s, d)
          .select(col("doc_id"), col("score"))
        val y = Tables(s, d, "documents")
          .select(col("doc_id"), when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        scored.join(y, "doc_id")
          .withColumn("bin", floor(col("score") * 10).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            round(avg(col("score")), 6).as("mean_score"),
            round(avg(col("y")), 6).as("frac_pos"))
          .orderBy("bin")
      },
      Some(s"""WITH $qualityModelCtes,
           cal AS (SELECT CAST(FLOOR(s.score * 10) AS BIGINT) AS bin, s.score, d.y
                   FROM scored s JOIN d USING (doc_id))
           SELECT bin, COUNT(*) AS n, ROUND(AVG(score), 6) AS mean_score,
             ROUND(AVG(y), 6) AS frac_pos
           FROM cal GROUP BY bin ORDER BY bin""")),

    Q("q_pipeline_quality_auc",
      (s, d) => {
        val scored = graft.SparkEntry.queries("q_pipeline_quality_model")(s, d)
          .select(col("doc_id"), col("score"))
        val y = Tables(s, d, "documents")
          .select(col("doc_id"), when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        val g = scored.join(y, "doc_id")
          .groupBy("score")
          .agg(count(lit(1)).cast("double").as("n"), sum("y").as("np_g"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("score")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val ranked = g.withColumn("arank",
          coalesce(sum("n").over(w), lit(0.0)) + (col("n") + 1.0) / 2.0)
        ranked.agg(
            sum(col("np_g") * col("arank")).as("rsum"),
            sum(col("np_g")).as("np"),
            sum(col("n") - col("np_g")).as("nn"))
          .select(col("np").cast("long").as("n_pos"), col("nn").cast("long").as("n_neg"),
            // degenerate single-class corpus: AUC is undefined — emit NULL
            // explicitly in BOTH engines (Spark's x/0 → NULL vs DuckDB's
            // IEEE inf would otherwise split the gate)
            when(col("np") * col("nn") > 0,
              round((col("rsum") - col("np") * (col("np") + 1.0) / 2.0) /
                (col("np") * col("nn")), 6)).as("auc"))
      },
      Some(s"""WITH $qualityModelCtes,
           lab AS (SELECT s.score, d.y FROM scored s JOIN d USING (doc_id)),
           g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS np_g
             FROM lab GROUP BY score),
           ranked AS (SELECT np_g, n,
             COALESCE(SUM(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (n + 1.0) / 2.0 AS arank
             FROM g),
           agg AS (SELECT SUM(np_g * arank) AS rsum, SUM(np_g) AS np,
             SUM(n - np_g) AS nn FROM ranked)
           SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
             CASE WHEN np * nn > 0
               THEN ROUND((rsum - np * (np + 1.0) / 2.0) / (np * nn), 6)
             END AS auc
           FROM agg""")),

    // AVERAGE PRECISION (PR-AUC) of the trained quality score against
    // the language label — the retrieval-style evaluator beside the
    // rank-statistic ROC AUC: AP = mean over positives of precision at
    // each positive's rank under (score DESC, doc_id) order. The global
    // ordered cumsum+rank runs through RangedRank (sixth consumer), so
    // no task ever holds the whole ranking — the ROC row's
    // score-group window is bounded by distinct scores, this one is
    // per-document and would otherwise be a single-task global window.
    // Degenerate all-negative corpus → NULL in both engines.
    Q("q_pipeline_quality_ap",
      (s, d) => {
        val scored = graft.SparkEntry.queries("q_pipeline_quality_model")(s, d)
          .select(col("doc_id"), col("score"))
        val y = Tables(s, d, "documents")
          .select(col("doc_id"), when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
        val lab = scored.join(y, "doc_id")
          .select(col("doc_id"), (-col("score")).as("negscore"), col("y"),
            lit(1L).as("one"))
        val ranked = RangedRank.withRunningTotals(lab, Seq.empty,
          Seq("negscore", "doc_id"), Seq("y" -> "tp", "one" -> "k"))
        ranked.agg(sum("y").as("np"),
            sum(when(col("y") === 1.0, col("tp") / col("k"))).as("apsum"))
          .select(col("np").cast("long").as("n_pos"),
            when(col("np") > 0, round(col("apsum") / col("np"), 6)).as("ap"))
      },
      Some(s"""WITH $qualityModelCtes,
           lab AS (SELECT s.doc_id, s.score, d.y FROM scored s JOIN d USING (doc_id)),
           r AS (SELECT y,
               SUM(y) OVER (ORDER BY score DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS tp,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS k
             FROM lab),
           agg AS (SELECT SUM(y) AS np,
               SUM(CASE WHEN y = 1 THEN tp * 1.0 / k END) AS apsum FROM r)
           SELECT CAST(np AS BIGINT) AS n_pos,
             CASE WHEN np > 0 THEN ROUND(apsum / np, 6) END AS ap
           FROM agg""")),

    // WEIGHT-OF-EVIDENCE / INFORMATION-VALUE binning: n_chars cut at its
    // exact quartiles (both engines use the same linear-interpolated
    // percentile, rounded at 6 so the bin boundaries are engine-exact),
    // label = lang == 'en'; per bin, WOE = ln of the smoothed good/bad
    // odds ratio and its IV term — the feature-screening scorecard that
    // says whether a candidate quality feature separates the classes at
    // all, BEFORE spending a training pass on it. One percentile
    // aggregate + one broadcast of 3 cuts + one grouped pass.
    Q("q_pipeline_woe",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        val cuts = docs.agg(
          round(expr("percentile(n_chars, 0.25)"), 6).as("c1"),
          round(expr("percentile(n_chars, 0.50)"), 6).as("c2"),
          round(expr("percentile(n_chars, 0.75)"), 6).as("c3"))
        val binned = docs.crossJoin(broadcast(cuts))
          .select(col("y"),
            when(col("n_chars") <= col("c1"), 0L)
              .when(col("n_chars") <= col("c2"), 1L)
              .when(col("n_chars") <= col("c3"), 2L)
              .otherwise(3L).as("bin"))
        val g = binned.groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("n_good"))
        val tot = g.agg(sum("n_good").as("tg"),
          sum(col("n") - col("n_good")).as("tb"))
        g.crossJoin(broadcast(tot))
          .select(col("bin"), col("n"), col("n_good"),
            (col("n") - col("n_good")).as("n_bad"),
            round(log(((col("n_good") + 0.5) / col("tg")) /
              ((col("n") - col("n_good") + 0.5) / col("tb"))), 6).as("woe"),
            round(((col("n_good") + 0.5) / col("tg") -
              (col("n") - col("n_good") + 0.5) / col("tb")) *
              log(((col("n_good") + 0.5) / col("tg")) /
                ((col("n") - col("n_good") + 0.5) / col("tb"))), 6).as("iv_term"))
          .orderBy("bin")
      },
      Some("""WITH docs AS (SELECT n_chars,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
              cuts AS (SELECT
                  ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars), 6) AS c1,
                  ROUND(percentile_cont(0.50) WITHIN GROUP (ORDER BY n_chars), 6) AS c2,
                  ROUND(percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars), 6) AS c3
                FROM docs),
              binned AS (SELECT y,
                  CAST(CASE WHEN n_chars <= c1 THEN 0
                       WHEN n_chars <= c2 THEN 1
                       WHEN n_chars <= c3 THEN 2
                       ELSE 3 END AS BIGINT) AS bin
                FROM docs CROSS JOIN cuts),
              g AS (SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_good
                FROM binned GROUP BY bin),
              tot AS (SELECT CAST(SUM(n_good) AS DOUBLE) AS tg,
                  CAST(SUM(n - n_good) AS DOUBLE) AS tb FROM g)
              SELECT bin, n, n_good, n - n_good AS n_bad,
                ROUND(LN(((n_good + 0.5) / tg) / ((n - n_good + 0.5) / tb)), 6) AS woe,
                ROUND(((n_good + 0.5) / tg - (n - n_good + 0.5) / tb) *
                  LN(((n_good + 0.5) / tg) / ((n - n_good + 0.5) / tb)), 6) AS iv_term
              FROM g CROSS JOIN tot ORDER BY bin"""))
  )

  /** Train + score SQL chain shared by the quality-model row and its AUC
    * evaluator (ends in `scored(doc_id, score, keep)`; `d` carries the
    * features + label). */
  /** (doc_id, x1, x2, y) feature relation for the quality model. */
  private def qualityFeatures(s: SparkSession, d: String) =
    Tables.cpuPartitioned(s, d, "documents", "doc_id")
      .select(col("doc_id"),
        TextExprs.qualityScore(col("text")).as("x1"),
        (log(lit(1.0) + col("n_chars")) / 10.0).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))

  /** Trained logistic weights: the model/AUC/calibration rows all
    * depend on the same 3-step GD train — one session pays the cache +
    * count + three gradient passes ONCE. Only 3 doubles are held on the
    * driver. */
  private def trainedThetas(s: SparkSession, d: String): (Double, Double, Double) =
    graft.Memo(s, "thetas", d, "documents") {
      val data = qualityFeatures(s, d).cache()
      val m = data.count().toDouble
      var (th0, th1, th2) = (0.0, 0.0, 0.0)
      for (_ <- 1 to 3) {
        val h = lit(1.0) / (lit(1.0) +
          exp(-(lit(th0) + lit(th1) * col("x1") + lit(th2) * col("x2"))))
        val r = data.agg(sum(h - col("y")).as("g0"),
          sum((h - col("y")) * col("x1")).as("g1"),
          sum((h - col("y")) * col("x2")).as("g2")).collect()(0)
        th0 = halfUp(th0 - r.getDouble(0) / m, 9)
        th1 = halfUp(th1 - r.getDouble(1) / m, 9)
        th2 = halfUp(th2 - r.getDouble(2) / m, 9)
      }
      data.unpersist()
      (th0, th1, th2)
    }

  private lazy val qualityModelCtes: String = {
    val feat = s"""d AS (SELECT doc_id,
      ${TextExprs.qualityScoreSql("text")} AS x1,
      LN(1.0 + n_chars) / 10.0 AS x2,
      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents)"""
    val steps = (0 until 3).map { i =>
      s"""t${i + 1} AS (SELECT
         ROUND(th0 - SUM(1.0 / (1.0 + EXP(-(th0 + th1 * x1 + th2 * x2))) - y) / COUNT(*), 9) AS th0,
         ROUND(th1 - SUM((1.0 / (1.0 + EXP(-(th0 + th1 * x1 + th2 * x2))) - y) * x1) / COUNT(*), 9) AS th1,
         ROUND(th2 - SUM((1.0 / (1.0 + EXP(-(th0 + th1 * x1 + th2 * x2))) - y) * x2) / COUNT(*), 9) AS th2
         FROM d CROSS JOIN t$i GROUP BY th0, th1, th2)"""
    }.mkString(",\n")
    s"""$feat,
       t0 AS (SELECT 0.0 AS th0, 0.0 AS th1, 0.0 AS th2),
       $steps,
       scored AS (SELECT doc_id,
         ROUND(1.0 / (1.0 + EXP(-(th0 + th1 * x1 + th2 * x2))), 6) AS score,
         1.0 / (1.0 + EXP(-(th0 + th1 * x1 + th2 * x2))) >= 0.5 AS keep
         FROM d CROSS JOIN t3)"""
  }
}
