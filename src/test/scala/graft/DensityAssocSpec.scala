package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariants for the density-clustering / association-rule / readability /
  * seasonal-forecast additions. */
class DensityAssocSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private def q(name: String) = SparkEntry.queries(name)(spark, TestSpark.sf0)

  test("DBSCAN roles partition the corpus; labels obey the min-label contract") {
    val rows = q("q_ml_dbscan").collect()
    val total = Tables(spark, TestSpark.sf0, "embeddings").count()
    assert(rows.length == total, "every vector gets exactly one role row")
    val byRole = rows.groupBy(_.getString(1)).map { case (k, v) => k -> v.length }
    assert(byRole.keySet.subsetOf(Set("core", "border", "noise")))
    val cores = rows.filter(_.getString(1) == "core")
    assert(cores.nonEmpty, "the gate data must produce core points")
    // cluster ids are themselves core vec_ids, and min-label propagation
    // can only ever DECREASE a label below the vertex's own id
    val coreIds = cores.map(_.getLong(0)).toSet
    rows.filter(!_.isNullAt(2)).foreach { r =>
      assert(coreIds.contains(r.getLong(2)),
        s"cluster ${r.getLong(2)} is not a core vec_id")
    }
    cores.foreach(r => assert(r.getLong(2) <= r.getLong(0),
      "a core's label cannot exceed its own id under min-label propagation"))
    // noise has no cluster; core/border always do
    rows.foreach { r =>
      if (r.getString(1) == "noise") assert(r.isNullAt(2))
      else assert(!r.isNullAt(2))
    }
    // every cluster label is its own canonical core (lab(lab) == lab)
    val labOf = cores.map(r => r.getLong(0) -> r.getLong(2)).toMap
    labOf.values.toSet.foreach((c: Long) =>
      assert(labOf(c) == c, s"cluster id $c is not self-canonical"))
  }

  test("association rules: bounded confidence, symmetric lift, Apriori consistency") {
    val rows = q("q_agg_assoc_rules").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (ante, cons) = (r.getString(0), r.getString(1))
      assert(ante != cons)
      assert(r.getLong(2) >= 40, "pair support below the declared floor")
      val conf = r.getDouble(3)
      assert(conf > 0.0 && conf <= 1.0)
      assert(r.getDouble(4) > 0.0, "lift must be positive")
    }
    // lift is symmetric in the pair: both orientations of a surviving
    // pair carry the same lift (they may rank apart, but values match)
    val lifts = rows.map(r => (Set(r.getString(0), r.getString(1)), r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    lifts.foreach { case (pair, ls) =>
      assert(ls.length == 1, s"asymmetric lift for $pair: $ls")
    }
  }

  test("triple mining: ordered itemsets above both level thresholds") {
    val rows = q("q_agg_assoc_triples").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (i1, i2, i3) = (r.getString(0), r.getString(1), r.getString(2))
      assert(i1 < i2 && i2 < i3, "canonical itemset order")
      assert(r.getLong(3) >= 15, "triple support below the declared floor")
      assert(r.getDouble(4) > 0.0)
    }
    // support is sorted descending with deterministic tie-break
    rows.map(_.getLong(3)).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => ()
    }
  }

  test("readability formulas reproduce hand-computed scores") {
    import spark.implicits._
    val df = Seq((0L, "The cat sat. The dog ran!")).toDF("doc_id", "text")
    df.createOrReplaceTempView("tmp_read")
    // 6 words, 2 sentences, vowel groups: e,a,a,e,o,a = 6
    val r = df.select(
      size(graft.operators.TextExprs.toks(col("text"))).as("w"),
      expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))").as("syl"))
      .collect()(0)
    assert(r.getInt(0) == 6 && r.getInt(1) == 6)
    val out = q("q_text_readability").collect()
    assert(out.length == Tables(spark, TestSpark.sf0, "documents").count())
    out.foreach { r =>
      val (w, s2, syl) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(syl <= w * 10, "syllable proxy exploded")
      val flesch = 206.835 - 1.015 * (w.toDouble / math.max(s2, 1)) -
        84.6 * (syl.toDouble / math.max(w, 1))
      assert(math.abs(r.getDouble(4) - flesch) < 1e-3,
        s"flesch drifted: ${r.getDouble(4)} vs $flesch")
    }
  }

  test("DBSCAN size readout conserves the clustered mass") {
    val roles = q("q_ml_dbscan").collect()
    val sizes = q("q_ml_dbscan_sizes").collect()
    val clustered = roles.count(!_.isNullAt(2))
    assert(sizes.map(_.getLong(1)).sum == clustered,
      "per-cluster totals must sum to the non-noise population")
    sizes.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        "total = core + border within every cluster")
      assert(r.getLong(2) >= 1, "a cluster with zero cores cannot exist")
    }
    // sizes are sorted descending
    sizes.map(_.getLong(1)).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => ()
    }
  }

  test("semantic decontamination covers every train vector exactly once") {
    val rows = q("q_dedup_decontaminate_semantic").collect()
    val total = Tables(spark, TestSpark.sf0, "embeddings")
      .filter(col("vec_id") >= 50).count()
    assert(rows.length == total, "one verdict per train vector — no misses")
    rows.foreach { r =>
      assert(r.getLong(2) < 50, "nearest_eval must come from the eval set")
      val sim = r.getDouble(1)
      assert(sim >= -1.0 - 1e-9 && sim <= 1.0 + 1e-9)
      assert(r.getBoolean(3) == (sim >= 0.30))
    }
  }

  test("markov backtest: accuracies bounded, predictions are observed types") {
    val rows = q("q_events_markov_acc").collect()
    assert(rows.nonEmpty)
    val types = Tables(spark, TestSpark.sf0, "events")
      .select("event_type").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { r =>
      assert(types.contains(r.getString(0)) && types.contains(r.getString(1)))
      val acc = r.getDouble(3)
      assert(acc >= 0.0 && acc <= 1.0)
      assert(r.getLong(2) > 0)
    }
  }

  test("DBSCAN purity eval conserves members and bounds purity") {
    val roles = q("q_ml_dbscan").collect()
    val ev = q("q_ml_dbscan_eval").collect()
    assert(ev.map(_.getLong(1)).sum == roles.count(!_.isNullAt(2)),
      "eval members must equal the clustered population")
    ev.foreach { r =>
      val purity = r.getDouble(3)
      assert(purity > 0.0 && purity <= 1.0)
      // majority fraction can never fall below 1/members (purity is
      // rounded at 6, so allow half an ulp of that grid)
      assert(purity >= 1.0 / r.getLong(1) - 5e-7)
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 9, "label outside testdata range")
    }
  }

  test("seasonal decomposition: non-negative components, r2 identity, grid ties out") {
    val r = q("q_events_seasonal_decomp").collect()(0)
    val (nh, vt, vh, vd, vr, r2) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(Seq(vt, vh, vd, vr).forall(_ >= 0.0))
    assert(math.abs(r2 - (1.0 - vr / vt)) < 1e-3)
    // ANOVA effects cannot explain more variance than exists
    assert(vh + vd <= vt + 1e-6)
    // the decomposition grid is the naive backtest's span plus its lag
    val n = q("q_events_forecast_naive").collect()(0).getLong(0)
    assert(nh == n + 24, s"grid $nh vs naive span $n + 24")
  }

  test("DQ audit: six checks, clean warehouse passes them all") {
    val rows = q("q_pipeline_dq_audit").collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(1) == 0L),
        "pass flag must mirror the violation count")
      assert(r.getBoolean(2), s"testdata violates ${r.getString(0)}")
    }
  }

  test("PSI drift: non-negative by construction, windows populated") {
    val rows = q("q_agg_psi_drift").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // each PSI term (p-q)ln(p/q) is >= 0, so the sum must be too
      assert(r.getDouble(3) >= -1e-9, s"negative PSI for ${r.getString(0)}")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0, "empty drift window")
      assert(r.getBoolean(4) == (r.getDouble(3) > 0.1))
    }
  }

  test("Jaccard link prediction: bounded scores over non-edges only") {
    val rows = q("q_graph_jaccard_linkpred").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "canonical pair order")
      val j = r.getDouble(3)
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
      assert(r.getLong(2) >= 1, "a ranked pair must share a neighbor")
    }
    rows.map(_.getDouble(3)).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ => ()
    }
  }

  test("CF hit-rate: bounded and consistent with its own counts") {
    val r = q("q_ml_cf_hitrate").collect()(0)
    val (n, hits, rate) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(n > 0 && hits >= 0 && hits <= n)
    assert(math.abs(rate - hits.toDouble / n) < 1e-5)
    // top-3 of a 20-item catalog: random guessing scores ~0.15, the
    // factor model must clear it decisively on the gate data
    assert(rate > 0.3, s"recommender no better than chance: $rate")
  }

  test("streaming drift monitor: uniform shipments do not drift, mass ties out") {
    val rows = q("q_stream_live_drift").collect()
    assert(rows.nonEmpty)
    val total = Tables(spark, TestSpark.sf0, "events").count()
    val perBatch = rows.groupBy(_.getLong(0)).view.mapValues(
      _.groupBy(_.getString(1)).map(_._2.head.getLong(2)).sum)
    assert(perBatch.values.sum == total,
      s"shipment sizes must sum to the corpus: ${perBatch.toMap}")
    rows.foreach { r =>
      assert(r.getDouble(3) >= -1e-9, "PSI is non-negative by construction")
      // a uniform mod-3 split of one distribution must NOT trip the gate
      assert(!r.getBoolean(4),
        s"false drift alarm: batch ${r.getLong(0)} type ${r.getString(1)} " +
          s"psi ${r.getDouble(3)}")
    }
  }

  test("decontamination ingest is idempotent under replay") {
    val out = GraftSession.tempDirCleanedOnExit("decontam-spec").toString + "/res"
    val eval = Tables(spark, TestSpark.sf0, "embeddings")
      .filter(col("vec_id") < 50)
    val staged = GraftSession.tempDirCleanedOnExit("decontam-spec-in").toString
    Tables(spark, TestSpark.sf0, "embeddings").filter(col("vec_id") >= 50)
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val first = graft.streaming.Streams.runDecontamIngest(spark, staged, eval, out)
    assert(first.nonEmpty && first.map(_._2).sum == 450)
    val before = graft.streaming.Streams.readMergeTable(spark, out).orderBy("vec_id").collect()
    // a full replay (fresh stream, same out dir) must skip every
    // committed batch: zero new stats, byte-identical verdicts
    val second = graft.streaming.Streams.runDecontamIngest(spark, staged, eval, out)
    assert(second.isEmpty, s"replay re-committed batches: $second")
    val after = graft.streaming.Streams.readMergeTable(spark, out).orderBy("vec_id").collect()
    assert(before.sameElements(after), "replay changed the verdict relation")
  }

  test("seasonal-EWMA backtest scores the same span as its in-row naive") {
    val r = q("q_events_forecast_sewma").collect()(0)
    val (n, maeS, maeN, rmse, skill) = (r.getLong(0), r.getDouble(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(n > 0)
    assert(rmse >= maeS - 1e-9, "RMSE dominates MAE by Jensen")
    assert(math.abs(skill - (1.0 - maeS / maeN)) < 1e-3)
    // the smoother must not lose to the baseline it averages over on the
    // gate data — if this ever flips, the weights (not the gate) changed
    assert(skill > 0.0, s"seasonal-EWMA lost to naive: skill=$skill")
  }
}
