package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-log analytics over the `events` table: cohort retention, event
  * transition matrices, exponentially-weighted moving averages, and
  * time-grid resampling with gap fill. These are the session/behavioral
  * queries a product-analytics user of the reference would run as chained
  * BSP aggregation jobs (`examples/src/main/java/org/apache/hama/examples/
  * CombineExample.java`-style per-key rollups); here each is one declarative
  * plan whose single shuffle lands on `user_id` and is reused by every
  * downstream window/aggregate.
  *
  * Scale posture: no query materializes per-user history on the driver;
  * windows and grids are per-user-bounded (the resample grid is bounded by
  * the observed time span, the EWMA by a fixed 10-row frame), so the widest
  * shuffle is one hash exchange of the raw events at any corpus size.
  */
object Analytics extends QueryModule {

  private def ev(s: SparkSession, d: String): DataFrame = Tables(s, d, "events")

  /** EWMA smoothing factor and frame length (last K events per user). */
  private val alpha = 0.3
  private val ewmaK = 10

  // identical double weights on both sides: Scala's Double.toString
  // round-trips, and DuckDB parses the decimal literal to the nearest
  // double — bit-identical weights, so left-assoc sums match exactly
  private val weights: Seq[Double] =
    (0 until ewmaK).map(j => math.pow(1.0 - alpha, j))

  override val defs: Seq[Q] = Seq(

    // KAPLAN-MEIER SURVIVAL: time from a user's first event to their
    // first 'purchase' (the event of interest), users who never
    // purchase RIGHT-CENSORED at their last observed event — the
    // standard product-limit estimator S(t) = Π (1 − dᵢ/nᵢ) over death
    // times, with S = 0 once a step consumes the whole risk set (the
    // LN(0) guard mirrors that in both engines). Scale shape: two
    // per-user aggregates + one left join reduce the log to O(users)
    // rows, then everything downstream — the risk-set reverse cumsum
    // and the running log-product — runs on O(distinct durations)
    // rows, bounded by the time horizon in hours, never by users or
    // events, so the unpartitioned windows hold a few hundred rows by
    // construction.
    Q("q_events_survival",
      (s, d) => {
        def hb(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          ((unix_timestamp(date_trunc("hour", b)) -
            unix_timestamp(date_trunc("hour", a))) / 3600).cast("long")
        val e = ev(s, d)
        val fa = e.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("tlast"))
        val fp = e.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("ts").as("tp"))
        val lab = fa.join(fp, Seq("user_id"), "left")
          .select(
            when(col("tp").isNotNull, hb(col("t0"), col("tp")))
              .otherwise(hb(col("t0"), col("tlast"))).as("dur"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("death"))
        val byt = lab.groupBy(col("dur").as("t"))
          .agg(count(lit(1)).as("n_total"), sum("death").as("n_death"))
        val wD = Window.orderBy(desc("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wA = Window.orderBy(asc("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byt.withColumn("n_risk", sum("n_total").over(wD))
          .filter(col("n_death") > 0)
          .withColumn("zero",
            max(when(col("n_death") >= col("n_risk"), 1).otherwise(0)).over(wA))
          .withColumn("lnsum", sum(log(
            when(col("n_death") >= col("n_risk"), lit(1.0))
              .otherwise(lit(1.0) - col("n_death") * 1.0 / col("n_risk")))).over(wA))
          .select(col("t").cast("long").as("t"),
            col("n_risk").cast("long").as("n_risk"),
            col("n_death").cast("long").as("n_death"),
            when(col("zero") === 1, lit(0.0))
              .otherwise(round(exp(col("lnsum")), 6)).as("surv"))
          .orderBy("t")
      },
      Some("""WITH fa AS (SELECT user_id, MIN(ts) AS t0, MAX(ts) AS tlast
                FROM events GROUP BY user_id),
              fp AS (SELECT user_id, MIN(ts) AS tp FROM events
                WHERE event_type = 'purchase' GROUP BY user_id),
              lab AS (SELECT
                  CASE WHEN fp.tp IS NOT NULL THEN DATE_DIFF('hour', fa.t0, fp.tp)
                       ELSE DATE_DIFF('hour', fa.t0, fa.tlast) END AS dur,
                  CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS death
                FROM fa LEFT JOIN fp USING (user_id)),
              byt AS (SELECT dur AS t, COUNT(*) AS n_total, SUM(death) AS n_death
                FROM lab GROUP BY dur),
              risk AS (SELECT t, n_death,
                  SUM(n_total) OVER (ORDER BY t DESC) AS n_risk FROM byt),
              km AS (SELECT t, n_risk, n_death,
                  CASE WHEN MAX(CASE WHEN n_death >= n_risk THEN 1 ELSE 0 END)
                         OVER (ORDER BY t) = 1 THEN 0.0
                       ELSE ROUND(EXP(SUM(LN(CASE WHEN n_death >= n_risk THEN 1.0
                           ELSE 1.0 - n_death * 1.0 / n_risk END))
                         OVER (ORDER BY t)), 6)
                  END AS surv
                FROM risk WHERE n_death > 0)
              SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_risk,
                CAST(n_death AS BIGINT) AS n_death, surv
              FROM km ORDER BY t""")),

    // Cohort retention: users grouped by first-active day; for each cohort
    // and day offset 0..7, how many distinct users were active. One
    // distinct-reduce of (user, day) — far smaller than the raw log —
    // then a self-join against the O(users) cohort relation.
    Q("q_events_retention",
      (s, d) => {
        val act = ev(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
        act.join(cohort, Seq("user_id"))
          .select(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_k"),
            col("user_id"))
          .filter(col("day_k") <= 7)
          .groupBy("cohort_day", "day_k")
          .agg(countDistinct(col("user_id")).as("n_users"))
          // DATE doesn't round-trip the driver's parquet/pandas compare —
          // emit the cohort day as an ISO string on both sides
          .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
            col("day_k"), col("n_users"))
          .orderBy("cohort_day", "day_k")
      },
      Some("""WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
              cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
              SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
                CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_k,
                COUNT(DISTINCT a.user_id) AS n_users
              FROM act a JOIN cohort c USING (user_id)
              WHERE date_diff('day', c.cohort_day, a.day) <= 7
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // First-order Markov transition matrix of the event stream: per user
    // in event-time order, count (type -> next type) transitions and the
    // per-source transition probability. LEAD over the user_id clustering;
    // the transition matrix itself is O(types^2).
    Q("q_events_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("p", round(col("cnt") * 1.0 /
            sum("cnt").over(Window.partitionBy("from_type")), 6))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH nxt AS (SELECT event_type AS from_type,
                LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
                FROM events)
              SELECT from_type, to_type, COUNT(*) AS cnt,
                ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6) AS p
              FROM nxt WHERE to_type IS NOT NULL
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // MARKOV NEXT-EVENT PREDICTION BACKTEST: the transition matrix above,
    // turned into an evaluated model. Transitions split 80/20 by event_id
    // hash (pair-level, so train and test share no observation); the
    // model predicts argmax train-count per source type (ties to the
    // lexicographically smaller type — max_by on (cnt, reversed type)),
    // and the row reports per-source accuracy on held-out transitions.
    // The model is O(types²) and rides a broadcast; scoring is one pass
    // over test pairs — the same LEAD window as q_events_transitions, so
    // nothing new shuffles at any corpus size.
    Q("q_events_markov_acc",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = ev(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .withColumn("is_test", pmod(col("event_id"), lit(5)) === 0)
        val model = pairs.filter(!col("is_test"))
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy("from_type")
          // ties to the SMALLER type: order by (cnt asc, type desc) inverted
          .agg(min_by(col("to_type"),
            struct(-col("cnt"), col("to_type"))).as("predicted"))
        pairs.filter(col("is_test"))
          .join(broadcast(model), col("event_type") === col("from_type"))
          .groupBy("from_type", "predicted")
          .agg(count(lit(1)).as("n_test"),
            round(avg(when(col("next_type") === col("predicted"), 1.0)
              .otherwise(0.0)), 6).as("accuracy"))
          .orderBy("from_type")
      },
      Some("""WITH nxt AS (SELECT event_type AS from_type,
                LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
                event_id % 5 = 0 AS is_test
                FROM events),
              trn AS (SELECT from_type, to_type, COUNT(*) AS cnt FROM nxt
                WHERE to_type IS NOT NULL AND NOT is_test GROUP BY 1, 2),
              model AS (SELECT from_type, to_type AS predicted FROM trn
                QUALIFY ROW_NUMBER() OVER (PARTITION BY from_type
                  ORDER BY cnt DESC, to_type) = 1)
              SELECT n.from_type, m.predicted, COUNT(*) AS n_test,
                ROUND(AVG(CASE WHEN n.to_type = m.predicted THEN 1.0 ELSE 0.0 END), 6)
                  AS accuracy
              FROM nxt n JOIN model m USING (from_type)
              WHERE n.to_type IS NOT NULL AND n.is_test
              GROUP BY 1, 2 ORDER BY 1""")),

    // Per-user EWMA of `value` over the last 10 events (alpha = 0.3),
    // weights renormalized over the rows actually present at the head of
    // each series. A FIXED frame of lags — not a recursive running state —
    // so it stays one window over the user_id clustering with no
    // cross-partition carry; both sides state the identical left-assoc
    // weighted sum with bit-identical double weights.
    Q("q_window_ewma",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        def v(j: Int) = if (j == 0) col("value") else lag(col("value"), j).over(w)
        val num = (0 until ewmaK).map(j =>
          when(v(j).isNotNull, v(j) * lit(weights(j))).otherwise(lit(0.0)))
          .reduce(_ + _)
        val den = (0 until ewmaK).map(j =>
          when(v(j).isNotNull, lit(weights(j))).otherwise(lit(0.0)))
          .reduce(_ + _)
        ev(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("ewma", round(num / den, 6))
          .select(col("user_id"), col("event_id"), col("ewma"))
          .orderBy("user_id", "event_id")
      },
      Some {
        val lags = (1 until ewmaK).map(j => s"LAG(value, $j) OVER w AS v$j").mkString(", ")
        def vj(j: Int) = if (j == 0) "value" else s"v$j"
        val num = (0 until ewmaK)
          .map(j => s"CASE WHEN ${vj(j)} IS NOT NULL THEN ${vj(j)} * ${weights(j)} ELSE 0.0 END")
          .mkString(" + ")
        val den = (0 until ewmaK)
          .map(j => s"CASE WHEN ${vj(j)} IS NOT NULL THEN ${weights(j)} ELSE 0.0 END")
          .mkString(" + ")
        s"""WITH l AS (SELECT user_id, event_id, value, $lags FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT user_id, event_id, ROUND(($num) / ($den), 6) AS ewma
            FROM l ORDER BY user_id, event_id"""
      }),

    // Hourly resample with gap fill: each user's event stream regularized
    // onto a dense per-hour grid between their first and last event, empty
    // hours filled with zero — the feature-engineering shape behind any
    // time-series model input. The grid is generated per user (bounded by
    // the observed span, never a global calendar cross-join) and the
    // left join reuses the (user_id, hour) hash clustering.
    Q("q_events_resample",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").as("h"),
          col("value"))
        val hourly = e.groupBy("user_id", "h")
          .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total"))
        val grid = e.groupBy("user_id").agg(min("h").as("h0"), max("h").as("h1"))
          .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("h"))
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h").as("hour_idx"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("total"), lit(0.0)).as("total"))
          .orderBy("user_id", "hour_idx")
      },
      Some("""WITH e AS (SELECT user_id,
                CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, value FROM events),
              hourly AS (SELECT user_id, h, COUNT(*) AS n_events,
                ROUND(SUM(value), 2) AS total FROM e GROUP BY 1, 2),
              grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM
                (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY 1) s)
              SELECT g.user_id, g.h AS hour_idx,
                COALESCE(hr.n_events, 0) AS n_events,
                COALESCE(hr.total, 0.0) AS total
              FROM grid g LEFT JOIN hourly hr ON g.user_id = hr.user_id AND g.h = hr.h
              ORDER BY 1, 2""")),

    // SEASONAL-NAIVE FORECAST BACKTEST: predict each hour's corpus total
    // as the total 24 hours earlier and score MAE/RMSE/bias over the
    // lagged span — the baseline every forecasting model must beat, and
    // the backtest harness shape (build series → lag → score) that any
    // real model slots into. Hourly totals round at 4 BEFORE the lag so
    // both engines difference identical series; the zero-filled grid
    // makes the lag well-defined across silent hours. The global
    // ORDER BY window is over the O(hours) aggregated series, not raw
    // events — at 100 TB the series per forecast key stays tiny and the
    // window partitions by key.
    Q("q_events_forecast_naive",
      (s, d) => {
        val e = ev(s, d).select(
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").as("h"),
          col("value"))
        val hourly = e.groupBy("h").agg(round(sum("value"), 4).as("total"))
        val grid = e.agg(min("h").as("h0"), max("h").as("h1"))
          .select(explode(expr("sequence(h0, h1)")).as("h"))
        val series = grid.join(hourly, Seq("h"), "left")
          .select(col("h"), coalesce(col("total"), lit(0.0)).as("total"))
        series
          .withColumn("pred", lag("total", 24).over(Window.orderBy("h")))
          .filter(col("pred").isNotNull)
          .agg(count(lit(1)).as("n"),
            round(avg(abs(col("total") - col("pred"))), 4).as("mae"),
            round(sqrt(avg((col("total") - col("pred")) *
              (col("total") - col("pred")))), 4).as("rmse"),
            round(avg(col("total") - col("pred")), 4).as("bias"))
      },
      Some("""WITH e AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                value FROM events),
              hourly AS (SELECT h, ROUND(SUM(value), 4) AS total
                FROM e GROUP BY 1),
              grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM
                (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e) s),
              series AS (SELECT g.h, COALESCE(hr.total, 0.0) AS total
                FROM grid g LEFT JOIN hourly hr ON g.h = hr.h),
              lagged AS (SELECT h, total,
                LAG(total, 24) OVER (ORDER BY h) AS pred FROM series)
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(AVG(ABS(total - pred)), 4) AS mae,
                ROUND(SQRT(AVG((total - pred) * (total - pred))), 4) AS rmse,
                ROUND(AVG(total - pred), 4) AS bias
              FROM lagged WHERE pred IS NOT NULL""")),

    // SEASONAL-EWMA FORECAST: the first model that has to BEAT the naive
    // baseline above — predict hour t as the exponentially-weighted mean
    // of the SAME hour on the 3 prior days (weights 1, 1−α, (1−α)², the
    // truncated-kernel Holt-Winters seasonal smoother), scored on the
    // exact span where all three seasonal lags exist so the naive
    // comparison inside the row is apples-to-apples. Averaging across
    // days cancels the day-to-day noise the single-lag naive copies
    // verbatim, which is where the skill comes from. Same scale shape as
    // the baseline row: the windows run over the O(hours) aggregated
    // series, and at 100 TB the series per forecast key stays tiny with
    // the window partitioned by key.
    Q("q_events_forecast_sewma",
      (s, d) => {
        val e = ev(s, d).select(
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").as("h"),
          col("value"))
        val hourly = e.groupBy("h").agg(round(sum("value"), 4).as("total"))
        val grid = e.agg(min("h").as("h0"), max("h").as("h1"))
          .select(explode(expr("sequence(h0, h1)")).as("h"))
        val series = grid.join(hourly, Seq("h"), "left")
          .select(col("h"), coalesce(col("total"), lit(0.0)).as("total"))
        val w = Window.orderBy("h")
        val (w1, w2, w3) = (1.0, 0.5, 0.25) // (1−α)^k, α = 0.5
        val scored = series
          .withColumn("l24", lag("total", 24).over(w))
          .withColumn("l48", lag("total", 48).over(w))
          .withColumn("l72", lag("total", 72).over(w))
          .filter(col("l72").isNotNull) // all 3 lags present ⇒ fair span
          .withColumn("pred", round((col("l24") * w1 + col("l48") * w2 +
            col("l72") * w3) / (w1 + w2 + w3), 6))
        scored.agg(count(lit(1)).as("n"),
            round(avg(abs(col("total") - col("pred"))), 4).as("mae_sewma"),
            round(avg(abs(col("total") - col("l24"))), 4).as("mae_naive"),
            round(sqrt(avg((col("total") - col("pred")) *
              (col("total") - col("pred")))), 4).as("rmse_sewma"))
          .withColumn("skill",
            round(lit(1.0) - col("mae_sewma") / col("mae_naive"), 4))
      },
      Some("""WITH e AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                value FROM events),
              hourly AS (SELECT h, ROUND(SUM(value), 4) AS total
                FROM e GROUP BY 1),
              grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM
                (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e) s),
              series AS (SELECT g.h, COALESCE(hr.total, 0.0) AS total
                FROM grid g LEFT JOIN hourly hr ON g.h = hr.h),
              lagged AS (SELECT h, total,
                LAG(total, 24) OVER (ORDER BY h) AS l24,
                LAG(total, 48) OVER (ORDER BY h) AS l48,
                LAG(total, 72) OVER (ORDER BY h) AS l72 FROM series),
              scored AS (SELECT total, l24,
                ROUND((l24 * 1.0 + l48 * 0.5 + l72 * 0.25) / 1.75, 6) AS pred
                FROM lagged WHERE l72 IS NOT NULL),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(AVG(ABS(total - pred)), 4) AS mae_sewma,
                ROUND(AVG(ABS(total - l24)), 4) AS mae_naive,
                ROUND(SQRT(AVG((total - pred) * (total - pred))), 4) AS rmse_sewma
                FROM scored)
              SELECT n, mae_sewma, mae_naive, rmse_sewma,
                ROUND(1.0 - mae_sewma / mae_naive, 4) AS skill FROM m""")),

    // PER-KEY FORECAST BACKTEST: the sewma-vs-naive comparison above, run
    // per event_type with the window PARTITIONED BY KEY — the exact shape
    // the corpus-total rows claim for 100 TB ("the series per forecast
    // key stays tiny and the window partitions by key"), demonstrated
    // rather than asserted. One hash exchange on (event_type), per-key
    // hourly grids bounded by the time span, and every downstream window
    // rides the same clustering; a million forecast keys parallelize
    // across executors with no global sort anywhere.
    Q("q_events_forecast_by_type",
      (s, d) => {
        val e = ev(s, d).select(col("event_type").as("k"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").as("h"),
          col("value"))
        val hourly = e.groupBy("k", "h").agg(round(sum("value"), 4).as("total"))
        val grid = e.groupBy("k").agg(min("h").as("h0"), max("h").as("h1"))
          .select(col("k"), explode(expr("sequence(h0, h1)")).as("h"))
        val series = grid.join(hourly, Seq("k", "h"), "left")
          .select(col("k"), col("h"), coalesce(col("total"), lit(0.0)).as("total"))
        val w = Window.partitionBy("k").orderBy("h")
        val scored = series
          .withColumn("l24", lag("total", 24).over(w))
          .withColumn("l48", lag("total", 48).over(w))
          .withColumn("l72", lag("total", 72).over(w))
          .filter(col("l72").isNotNull)
          .withColumn("pred", round((col("l24") * 1.0 + col("l48") * 0.5 +
            col("l72") * 0.25) / 1.75, 6))
        scored.groupBy(col("k").as("event_type"))
          .agg(count(lit(1)).as("n"),
            round(avg(abs(col("total") - col("pred"))), 4).as("mae_sewma"),
            round(avg(abs(col("total") - col("l24"))), 4).as("mae_naive"))
          .withColumn("skill",
            round(lit(1.0) - col("mae_sewma") / col("mae_naive"), 4))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type AS k,
                CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, value FROM events),
              hourly AS (SELECT k, h, ROUND(SUM(value), 4) AS total
                FROM e GROUP BY 1, 2),
              grid AS (SELECT k, unnest(generate_series(h0, h1)) AS h FROM
                (SELECT k, MIN(h) AS h0, MAX(h) AS h1 FROM e GROUP BY 1) s),
              series AS (SELECT g.k, g.h, COALESCE(hr.total, 0.0) AS total
                FROM grid g LEFT JOIN hourly hr ON g.k = hr.k AND g.h = hr.h),
              lagged AS (SELECT k, total,
                LAG(total, 24) OVER (PARTITION BY k ORDER BY h) AS l24,
                LAG(total, 48) OVER (PARTITION BY k ORDER BY h) AS l48,
                LAG(total, 72) OVER (PARTITION BY k ORDER BY h) AS l72 FROM series),
              scored AS (SELECT k, total, l24,
                ROUND((l24 * 1.0 + l48 * 0.5 + l72 * 0.25) / 1.75, 6) AS pred
                FROM lagged WHERE l72 IS NOT NULL),
              m AS (SELECT k AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(AVG(ABS(total - pred)), 4) AS mae_sewma,
                ROUND(AVG(ABS(total - l24)), 4) AS mae_naive
                FROM scored GROUP BY 1)
              SELECT event_type, n, mae_sewma, mae_naive,
                ROUND(1.0 - mae_sewma / mae_naive, 4) AS skill
              FROM m ORDER BY event_type""")),

    // SEASONAL DECOMPOSITION (two-way ANOVA over the hourly grid): the
    // corpus series split into grand mean + hour-of-day effect +
    // day-index-mod-7 effect + residual, reporting each component's
    // variance share — the diagnostic that says WHY the seasonal
    // forecasters above work (how much of the signal is daily rhythm vs
    // weekly rhythm vs noise). Effects are per-bucket means over the
    // zero-filled grid, so the whole decomposition is three O(hours)
    // aggregates and two broadcast joins back; at 100 TB the grid per
    // series stays bounded by the time span and the shape is unchanged.
    Q("q_events_seasonal_decomp",
      (s, d) => {
        val e = ev(s, d).select(
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").as("h"),
          col("value"))
        val hourly = e.groupBy("h").agg(round(sum("value"), 4).as("total"))
        val grid = e.agg(min("h").as("h0"), max("h").as("h1"))
          .select(explode(expr("sequence(h0, h1)")).as("h"))
        val series = grid.join(hourly, Seq("h"), "left")
          .select(col("h"), pmod(col("h"), lit(24L)).as("hod"),
            pmod(expr("h DIV 24"), lit(7L)).as("dow"),
            coalesce(col("total"), lit(0.0)).as("total"))
          .localCheckpoint() // reused by 3 aggregates + the final join
        val mu = series.agg(avg("total").as("mu"))
        val hodEff = series.groupBy("hod").agg(avg("total").as("hod_mean"))
        val dowEff = series.groupBy("dow").agg(avg("total").as("dow_mean"))
        val dec = series.crossJoin(broadcast(mu))
          .join(broadcast(hodEff), "hod")
          .join(broadcast(dowEff), "dow")
          .select(col("total"), col("mu"),
            (col("hod_mean") - col("mu")).as("he"),
            (col("dow_mean") - col("mu")).as("de"))
          .withColumn("resid",
            col("total") - col("mu") - col("he") - col("de"))
        dec.agg(count(lit(1)).as("n_hours"),
            round(avg((col("total") - col("mu")) * (col("total") - col("mu"))), 4)
              .as("var_total"),
            round(avg(col("he") * col("he")), 4).as("var_hod"),
            round(avg(col("de") * col("de")), 4).as("var_dow"),
            round(avg(col("resid") * col("resid")), 4).as("var_resid"))
          .withColumn("seasonal_r2",
            round(lit(1.0) - col("var_resid") / col("var_total"), 4))
      },
      Some("""WITH e AS (SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
                value FROM events),
              hourly AS (SELECT h, ROUND(SUM(value), 4) AS total
                FROM e GROUP BY 1),
              grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM
                (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e) s),
              series AS (SELECT g.h, g.h % 24 AS hod, (g.h // 24) % 7 AS dow,
                COALESCE(hr.total, 0.0) AS total
                FROM grid g LEFT JOIN hourly hr ON g.h = hr.h),
              mu AS (SELECT AVG(total) AS mu FROM series),
              hodeff AS (SELECT hod, AVG(total) AS hod_mean FROM series GROUP BY 1),
              doweff AS (SELECT dow, AVG(total) AS dow_mean FROM series GROUP BY 1),
              dec AS (SELECT total, mu.mu,
                  hod_mean - mu.mu AS he, dow_mean - mu.mu AS de,
                  total - mu.mu - (hod_mean - mu.mu) - (dow_mean - mu.mu) AS resid
                FROM series JOIN hodeff USING (hod) JOIN doweff USING (dow)
                CROSS JOIN mu),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
                ROUND(AVG((total - mu) * (total - mu)), 4) AS var_total,
                ROUND(AVG(he * he), 4) AS var_hod,
                ROUND(AVG(de * de), 4) AS var_dow,
                ROUND(AVG(resid * resid), 4) AS var_resid
                FROM dec)
              SELECT n_hours, var_total, var_hod, var_dow, var_resid,
                ROUND(1.0 - var_resid / var_total, 4) AS seasonal_r2 FROM m""")),

    // Explicit gap-based sessionization: per user in event-time order, a
    // >30-minute gap opens a new session (lag + running sum of
    // new-session flags — the classic two-window assignment), then one
    // row per session. The windows and the rollup all reuse the single
    // user_id hash clustering; epoch-microsecond arithmetic keeps the gap
    // compare integer-exact on both engines. Semantically the same
    // sessions as session_window (q_stream_session) built from scratch —
    // and the per-event session ids are available mid-plan for any
    // consumer that needs event→session attribution, which the built-in
    // aggregate never exposes.
    Q("q_events_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val e = ev(s, d)
          .withColumn("tsm", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
          .withColumn("new_sess",
            when(col("tsm") - lag(col("tsm"), 1).over(w) > 1800000000L
              or lag(col("tsm"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("sess_seq", sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        e.groupBy("user_id", "sess_seq")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("session_start"), max("ts").as("session_end"),
            round(sum("value"), 2).as("total"))
          .orderBy("user_id", "sess_seq")
      },
      Some("""WITH l AS (SELECT user_id, event_id, ts, value,
                epoch_us(ts) AS tsm,
                LAG(epoch_us(ts)) OVER w AS ptsm
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              f AS (SELECT user_id, event_id, ts, value,
                CASE WHEN ptsm IS NULL OR tsm - ptsm > 1800000000 THEN 1 ELSE 0 END AS new_sess
                FROM l),
              sess AS (SELECT user_id, ts, value,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS sess_seq
                FROM f)
              SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
                COUNT(*) AS n_events,
                MIN(ts) AS session_start, MAX(ts) AS session_end,
                ROUND(SUM(value), 2) AS total
              FROM sess GROUP BY user_id, sess_seq
              ORDER BY user_id, sess_seq""")),

    // DAU / WAU / stickiness: per calendar day, the daily actives, the
    // trailing-7-day actives, and their ratio — the engagement KPI every
    // product dashboard leads with. WAU is COUNT(DISTINCT user) over a
    // 7-day window — computed as a (day × offset 0..6) explode of the
    // O(users·days) distinct relation, never a re-scan of the raw log
    // per window; days outside the observed range are dropped on both
    // sides.
    Q("q_events_dau_wau",
      (s, d) => {
        val act = ev(s, d)
          .select(col("user_id"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"))
          .distinct().localCheckpoint()
        val bounds = act.agg(min("day").as("d0"), max("day").as("d1")).head
        val (d0, d1) = (bounds.getLong(0), bounds.getLong(1))
        val dau = act.groupBy("day").agg(countDistinct("user_id").as("dau"))
        val wau = act
          .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
          .filter(col("day") between (d0, d1))
          .groupBy("day").agg(countDistinct("user_id").as("wau"))
        val out = dau.join(wau, Seq("day"))
          .select(col("day").as("day_idx"), col("dau"), col("wau"),
            round(col("dau") * 1.0 / col("wau"), 6).as("stickiness"))
          .orderBy("day_idx")
          .localCheckpoint() // eager O(days) result; frees the act blocks now
        graft.plans.Iterate.release(act)
        out
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
                CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM act),
              dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM act GROUP BY day),
              wau AS (SELECT w.day, COUNT(DISTINCT w.user_id) AS wau FROM (
                SELECT user_id, unnest(generate_series(day, day + 6)) AS day FROM act) w
                CROSS JOIN b WHERE w.day BETWEEN b.d0 AND b.d1 GROUP BY w.day)
              SELECT dau.day AS day_idx, dau.dau, wau.wau,
                ROUND(dau.dau * 1.0 / wau.wau, 6) AS stickiness
              FROM dau JOIN wau ON wau.day = dau.day
              ORDER BY day_idx""")),

    // STATIONARY distribution of the event-transition Markov chain: the
    // long-run fraction of time the stream spends in each event type —
    // the summary number behind "where do users end up?". The transition
    // matrix is O(types²) driver state (the transitions row's relation
    // collected — the k-means master-collect posture), powered 20 steps
    // with per-step round-9 on both engines; the oracle unrolls the same
    // 20 steps over the same rounded-6 matrix. TYPES is tiny by
    // construction; the corpus-scale work is the one LEAD window that
    // builds the counts.
    Q("q_events_stationary",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val p = ev(s, d)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("ft"), col("next_type").as("tt"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("p", round(col("cnt") * 1.0 /
            sum("cnt").over(Window.partitionBy("ft")), 6))
          .select("ft", "tt", "p")
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
        val types = p.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
        var pi = types.map(_ => 1.0 / types.length)
        for (_ <- 1 to 20) {
          pi = types.map { to =>
            halfUp(types.zip(pi).map { case (from, v) =>
              v * p.getOrElse((from, to), 0.0)
            }.sum, 9)
          }
        }
        types.zip(pi).map { case (t, v) =>
          (t, halfUp(v, 6))
        }.toDF("event_type", "pi").orderBy("event_type")
      },
      Some {
        val steps = (1 to 20).map { t =>
          // LEFT JOIN from types: a type with no incoming transitions
          // stays in pi at 0.0, exactly like the engine's full loop
          s"""pi$t AS MATERIALIZED (SELECT types.et, COALESCE(s.v, 0.0) AS v
               FROM types LEFT JOIN (
                 SELECT tm.tt AS et, ROUND(SUM(pi${t - 1}.v * tm.p), 9) AS v
                 FROM pi${t - 1} JOIN tm ON tm.ft = pi${t - 1}.et
                 GROUP BY tm.tt) s ON s.et = types.et)"""
        }.mkString(",\n")
        s"""WITH nxt AS (SELECT event_type AS ft,
              LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS tt
              FROM events),
            tm AS MATERIALIZED (SELECT ft, tt, ROUND(COUNT(*) * 1.0 /
              SUM(COUNT(*)) OVER (PARTITION BY ft), 6) AS p
              FROM nxt WHERE tt IS NOT NULL GROUP BY ft, tt),
            types AS (SELECT DISTINCT et FROM (
              SELECT ft AS et FROM tm UNION ALL SELECT tt FROM tm) u),
            pi0 AS (SELECT et, 1.0 / (SELECT COUNT(*) FROM types) AS v FROM types),
            $steps
            SELECT et AS event_type, ROUND(v, 6) AS pi FROM pi20
            ORDER BY event_type"""
      }),

    // Robust ANOMALY flags: events whose value deviates from their user's
    // MEDIAN by more than 3.5 robust z-units (|x − med| / (1.4826·MAD) —
    // the modified z-score, immune to the outliers it hunts, unlike the
    // mean/stddev version). Two median aggregates per user (O(users)
    // relation) joined back on the existing clustering; the flag compare
    // runs on round-6 values so the boundary decision is engine-exact.
    // Output is O(outliers), not O(events).
    Q("q_events_outliers",
      (s, d) => {
        val med = ev(s, d).groupBy("user_id").agg(median(col("value")).as("med"))
        val mad = ev(s, d).join(med, Seq("user_id"))
          .groupBy("user_id")
          .agg(round(max(col("med")), 6).as("med"),
            round(median(abs(col("value") - col("med"))), 6).as("mad"))
          .filter(col("mad") > 0)
        ev(s, d).join(mad, Seq("user_id"))
          .withColumn("rz", round(abs(col("value") - col("med")) /
            (lit(1.4826) * col("mad")), 6))
          .filter(col("rz") > 3.5)
          .select(col("user_id"), col("event_id"),
            round(col("value"), 2).as("value"), col("rz"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH med AS (SELECT user_id, MEDIAN(value) AS med
                           FROM events GROUP BY user_id),
              mad AS (SELECT e.user_id, ROUND(MAX(med), 6) AS med,
                        ROUND(MEDIAN(ABS(e.value - med)), 6) AS mad
                      FROM events e JOIN med USING (user_id)
                      GROUP BY e.user_id HAVING ROUND(MEDIAN(ABS(e.value - med)), 6) > 0)
              SELECT e.user_id, e.event_id, ROUND(e.value, 2) AS value,
                ROUND(ABS(e.value - m.med) / (1.4826 * m.mad), 6) AS rz
              FROM events e JOIN mad m ON m.user_id = e.user_id
              WHERE ROUND(ABS(e.value - m.med) / (1.4826 * m.mad), 6) > 3.5
              ORDER BY e.user_id, e.event_id""")),

    // CUSUM change-point detection: per user, the cumulative deviation
    // from the series mean s_i = Σ_{j≤i}(x_j − μ) peaks where the level
    // shifts — the monitoring primitive behind drift alarms on training
    // -data ingest streams. The cumulative sum AND the position index
    // both come out of ONE RangedRank.withRunningTotals pass (the
    // range-sharded decomposition — no per-user ordered window task even
    // for a user holding the whole corpus); the argmax is then a plain
    // max_by aggregate on the rounded lattice, ties to the earliest
    // position, identical in the oracle's QUALIFY.
    Q("q_events_cusum",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("ts"), col("event_id"),
          col("value"), lit(1L).as("one"))
        val mu = ev(s, d).groupBy("user_id")
          .agg(sum("value").as("sv"), count(lit(1)).as("n"))
        val cum = RangedRank.withRunningTotals(e, Seq("user_id"),
          Seq("ts", "event_id"), Seq("value" -> "cum", "one" -> "i"))
        cum.join(mu, Seq("user_id"))
          .select(col("user_id"), col("n"), col("i"),
            round(abs(col("cum") - col("i") * (col("sv") / col("n"))), 4).as("sabs"))
          .groupBy("user_id")
          .agg(max(col("n")).as("n"),
            max(col("sabs")).as("max_cusum"),
            max_by(col("i"), struct(col("sabs"), -col("i"))).as("at_i"))
          .select(col("user_id"), col("n"), col("at_i"), col("max_cusum"))
          .orderBy("user_id")
      },
      Some("""WITH m AS (SELECT user_id, SUM(value) AS sv, COUNT(*) AS n
                         FROM events GROUP BY user_id),
              c AS (SELECT user_id, value,
                      SUM(value) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS cum,
                      CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS BIGINT) AS i
                    FROM events),
              sdev AS (SELECT c.user_id, m.n, c.i,
                         ROUND(ABS(c.cum - c.i * (m.sv / m.n)), 4) AS sabs
                       FROM c JOIN m USING (user_id))
              SELECT user_id, n, i AS at_i, sabs AS max_cusum FROM sdev
              QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY sabs DESC, i) = 1
              ORDER BY user_id""")),

    // CONVERSION RATE with WILSON 95% LOWER BOUND per day-of-week: the
    // A/B-readout shape — a raw rate is meaningless without its
    // uncertainty, and Wilson's interval (z = 1.96) stays sane at small
    // n where the normal approximation lies. Pure integer counts into
    // one closed-form expression, stated identically on both engines,
    // rounded at 6.
    Q("q_events_conversion",
      (s, d) => {
        val z = 1.96
        val cnt = ev(s, d)
          .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 % 7").as("dow"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
          .groupBy("dow")
          .agg(count(lit(1)).as("n"), sum("p").as("k"))
        cnt.select(col("dow"), col("n"), col("k"),
            round(col("k") * 1.0 / col("n"), 6).as("rate"),
            round((col("k") / col("n") + lit(z * z) / (col("n") * 2) -
              lit(z) * sqrt((col("k") * 1.0 / col("n")) *
                (lit(1.0) - col("k") * 1.0 / col("n")) / col("n") +
                lit(z * z) / (col("n") * col("n") * 4))) /
              (lit(1.0) + lit(z * z) / col("n")), 6).as("wilson_lo"))
          .orderBy("dow")
      },
      Some("""WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow,
                  COUNT(*) AS n,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS k
                FROM events GROUP BY 1)
              SELECT dow, n, k, ROUND(k * 1.0 / n, 6) AS rate,
                ROUND((k / n + 1.96 * 1.96 / (2 * n) -
                  1.96 * SQRT((k * 1.0 / n) * (1 - k * 1.0 / n) / n +
                    1.96 * 1.96 / (4 * n * n))) / (1 + 1.96 * 1.96 / n), 6) AS wilson_lo
              FROM c ORDER BY dow""")),

    // RFM SEGMENTATION: recency (hours since the user's last purchase,
    // against the corpus max ts), frequency (purchase count), monetary
    // (purchase value sum) — each median-split into high/low against
    // exact corpus medians (rounded at 6, the engine-exact boundary
    // discipline), yielding the 8 classic segments with counts and
    // revenue. One per-user aggregate + one 3-median aggregate
    // broadcast back + one 8-row rollup.
    Q("q_events_rfm",
      (s, d) => {
        val p = ev(s, d).filter(col("event_type") === "purchase")
        val maxTs = p.agg(max(col("ts")).as("mx"))
        val perUser = p.groupBy("user_id")
          .agg(max("ts").as("last_ts"), count(lit(1)).as("f"),
            sum("value").as("m"))
          .crossJoin(broadcast(maxTs))
          .select(col("user_id"),
            round((unix_micros(col("mx").cast("timestamp")) -
              unix_micros(col("last_ts").cast("timestamp"))) / lit(3.6e9), 6).as("r"),
            col("f"), round(col("m"), 6).as("m"))
        val med = perUser.agg(
          round(expr("percentile(r, 0.5)"), 6).as("mr"),
          round(expr("percentile(f, 0.5)"), 6).as("mf"),
          round(expr("percentile(m, 0.5)"), 6).as("mm"))
        perUser.crossJoin(broadcast(med))
          .select(
            // recency: LOWER is better — high segment = below median
            when(col("r") <= col("mr"), "R").otherwise("r").as("rs"),
            when(col("f") >= col("mf"), "F").otherwise("f").as("fs"),
            when(col("m") >= col("mm"), "M").otherwise("m").as("ms"),
            col("m"))
          .groupBy(concat(col("rs"), col("fs"), col("ms")).as("segment"))
          .agg(count(lit(1)).as("n_users"), round(sum("m"), 2).as("revenue"))
          .orderBy("segment")
      },
      Some("""WITH p AS (SELECT user_id, ts, value FROM events
                         WHERE event_type = 'purchase'),
              mx AS (SELECT MAX(ts) AS mx FROM p),
              pu AS (SELECT user_id,
                  ROUND((epoch_us(mx.mx) - epoch_us(MAX(ts))) / 3.6e9, 6) AS r,
                  COUNT(*) AS f, ROUND(SUM(value), 6) AS m
                FROM p CROSS JOIN mx GROUP BY user_id, mx.mx),
              med AS (SELECT
                  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY r), 6) AS mr,
                  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY f), 6) AS mf,
                  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY m), 6) AS mm
                FROM pu),
              seg AS (SELECT
                  (CASE WHEN r <= mr THEN 'R' ELSE 'r' END) ||
                  (CASE WHEN f >= mf THEN 'F' ELSE 'f' END) ||
                  (CASE WHEN m >= mm THEN 'M' ELSE 'm' END) AS segment, m
                FROM pu CROSS JOIN med)
              SELECT segment, COUNT(*) AS n_users, ROUND(SUM(m), 2) AS revenue
              FROM seg GROUP BY segment ORDER BY segment""")),

    // TOP USER JOURNEYS: the 10 most common event-type TRIGRAM paths
    // across all users' timelines — one step past the Markov transition
    // matrix (q_events_transitions only sees pairs; "view>click>purchase
    // vs view>click>view" is a trigram question). Two lead() windows per
    // user (bounded partitions), one path aggregate, a TakeOrdered
    // top-10 — never a global sort of all paths.
    Q("q_events_paths",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .filter(col("t3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("path"))
          .limit(10)
      },
      Some("""WITH r AS (SELECT user_id, event_type,
                  LEAD(event_type, 1) OVER w AS t2,
                  LEAD(event_type, 2) OVER w AS t3
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              SELECT event_type || '>' || t2 || '>' || t3 AS path, COUNT(*) AS n
              FROM r WHERE t3 IS NOT NULL
              GROUP BY 1 ORDER BY n DESC, path LIMIT 10""")),

    // GAPS-AND-ISLANDS: collapse each user's CONSECUTIVE same-type
    // events into validity runs (the SCD-style interval table behind
    // "how long did the user stay in state X") via the two-row_number
    // difference trick — rn(user) − rn(user, type) is constant exactly
    // within a run. Both windows partition per user (bounded groups);
    // the island rollup is one hash aggregate.
    Q("q_events_islands",
      (s, d) => {
        val w1 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val w2 = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))
        ev(s, d)
          .withColumn("isl", row_number().over(w1) - row_number().over(w2))
          .groupBy(col("user_id"), col("event_type"), col("isl"))
          .agg(min("ts").as("run_start"), max("ts").as("run_end"),
            count(lit(1)).as("n_events"))
          .drop("isl")
          .orderBy("user_id", "run_start", "event_type")
      },
      Some("""WITH r AS (SELECT user_id, event_type, ts,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) AS isl
                FROM events)
              SELECT user_id, event_type, MIN(ts) AS run_start,
                MAX(ts) AS run_end, COUNT(*) AS n_events
              FROM r GROUP BY user_id, event_type, isl
              ORDER BY user_id, run_start, event_type""")),

    // REVENUE ATTRIBUTION (last-touch with channel fallback): each
    // purchase credits 'click' if the same user clicked within the 2h
    // lookback, else 'view' within 8h, else 'direct' — the
    // marketing-funnel rollup on top of the engine's interval joins.
    // Two semi-join passes compute the qualifying-touch flags (each a
    // per-user range join, state bounded by the lookback like the
    // streaming interval joins), then one 3-row aggregate.
    // TIME-DECAY MULTI-TOUCH attribution — the fractional-credit upgrade
    // over the last-touch row: each purchase's value splits over the
    // user's clicks in the preceding 8 h with weights 1/(1 + whole hours
    // before), normalized per purchase. Per user: credited clicks and
    // total credit (which re-sums to the attributed purchase value —
    // conservation is the built-in sanity check). One interval join on
    // (user, time-band) + two hash aggregates; no window over the raw
    // stream.
    Q("q_events_attribution_decay",
      (s, d) => {
        val e = ev(s, d)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            col("ts").as("pts"), col("value"))
        val c = e.filter(col("event_type") === "click")
          .select(col("event_id").as("cid"), col("user_id"),
            col("ts").as("cts"))
        val pairs = p.join(c, Seq("user_id"))
          .filter(col("cts") <= col("pts") &&
            col("cts") >= col("pts") - expr("INTERVAL 8 HOURS"))
          .withColumn("w", lit(1.0) /
            (lit(1) + floor((unix_timestamp(col("pts")) -
              unix_timestamp(col("cts"))) / 3600)))
        val norm = pairs.groupBy("pid").agg(sum("w").as("wsum"))
        pairs.join(norm, Seq("pid"))
          .select(col("user_id"), col("cid"),
            (col("value") * col("w") / col("wsum")).as("credit"))
          .groupBy("user_id")
          .agg(countDistinct(col("cid")).as("n_clicks"),
            round(sum("credit"), 2).as("total_credit"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT event_id AS pid, user_id, ts AS pts, value
                         FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS cid, user_id, ts AS cts
                    FROM events WHERE event_type = 'click'),
              pr AS (SELECT p.pid, p.user_id, c.cid, p.value,
                  1.0 / (1 + (epoch(p.pts) - epoch(c.cts)) // 3600) AS w
                FROM p JOIN c USING (user_id)
                WHERE c.cts <= p.pts AND c.cts >= p.pts - INTERVAL 8 HOURS),
              nm AS (SELECT pid, SUM(w) AS wsum FROM pr GROUP BY pid)
              SELECT pr.user_id,
                CAST(COUNT(DISTINCT pr.cid) AS BIGINT) AS n_clicks,
                ROUND(SUM(pr.value * pr.w / nm.wsum), 2) AS total_credit
              FROM pr JOIN nm USING (pid)
              GROUP BY pr.user_id ORDER BY pr.user_id""")),

    Q("q_events_attribution",
      (s, d) => {
        val e = ev(s, d)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        def touched(tpe: String, hours: Int): DataFrame =
          p.as("p").join(
              e.filter(col("event_type") === tpe)
                .select(col("user_id").as("tu"), col("ts").as("tts")),
              col("p.user_id") === col("tu") && col("tts") <= col("p.ts") &&
                col("tts") >= col("p.ts") - expr(s"INTERVAL $hours HOURS"),
              "left_semi")
            .select(col("event_id"))
            .distinct()
        val pc = touched("click", 2).withColumn("has_c", lit(1))
        val pv = touched("view", 8).withColumn("has_v", lit(1))
        p.join(pc, Seq("event_id"), "left")
          .join(pv, Seq("event_id"), "left")
          .select(col("value"),
            when(col("has_c").isNotNull, "click")
              .when(col("has_v").isNotNull, "view")
              .otherwise("direct").as("channel"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 2).as("revenue"))
          .orderBy("channel")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts, value FROM events
                         WHERE event_type = 'purchase'),
              att AS (SELECT p.value,
                  CASE WHEN EXISTS (SELECT 1 FROM events c
                         WHERE c.event_type = 'click' AND c.user_id = p.user_id
                           AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '2 hours')
                       THEN 'click'
                       WHEN EXISTS (SELECT 1 FROM events v
                         WHERE v.event_type = 'view' AND v.user_id = p.user_id
                           AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL '8 hours')
                       THEN 'view'
                       ELSE 'direct' END AS channel
                FROM p)
              SELECT channel, COUNT(*) AS n_purchases,
                ROUND(SUM(value), 2) AS revenue
              FROM att GROUP BY channel ORDER BY channel""")))
}
