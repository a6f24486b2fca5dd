package graft.operators

import graft.{GraftFunctions, Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational inventory: scans, filters/projections, the join family,
  * aggregations (combiner analogues), sorts/top-k/set-ops, scalar functions.
  *
  * Mirrors SURVEY.md §2.1–2.4, §2.7, §2.8. The reference has no relational
  * operators — users inline filter/project in `bsp()` loops (e.g.
  * `examples/src/main/java/org/apache/hama/examples/SSSP.java:91-120` parses
  * and filters by string-splitting); its only join machinery is the sorted
  * merge equi-join framework (`core/src/main/java/org/apache/hama/bsp/join/
  * CompositeInputFormat.java:43-52`) and its only aggregation machinery is
  * `Combiner` (`core/src/main/java/org/apache/hama/bsp/Combiner.java:22-31`)
  * plus graph `Aggregator`s. Everything here is declarative DataFrame code so
  * Catalyst gets pushdown/pruning/join-selection and AQE for free — that is
  * the 100 TB posture (no driver-side loops, broadcast for dims, partial agg).
  */
object Relational extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** A row whose Spark side runs its oracle's SQL text itself, over temp
    * views of `tables`: the text is stated once. `audit` checks the
    * optimized plan's shape in-row. */
  private def sqlRow(name: String, tables: Seq[String], sql: String)(
      audit: String => Unit): Q =
    Q(name, (s, d) => {
      tables.foreach(tn => Tables(s, d, tn).createOrReplaceTempView(tn))
      val df = s.sql(sql)
      audit(df.queryExecution.optimizedPlan.toString)
      df
    }, Some(sql))

  /** Per-group reservoir oracle — ONE string shared by the batch row
    * (q_agg_reservoir) and its streaming-maintenance twin
    * (q_stream_live_reservoir): the k-min-hash reservoir is mergeable,
    * so the streamed final state must equal the batch computation
    * exactly. */
  /** The reservoir's salt, k, and Spark-side salted-hash key — ONE
    * definition referenced by q_agg_reservoir, [[reservoirSql]], and
    * the streaming maintainer `Streams.runReservoir` (ADVICE r12): the
    * streamed final state is contractually BIT-IDENTICAL to the batch
    * computation, so the permutation must have exactly one spelling
    * per engine side. */
  private[graft] val reservoirSalt = "rs1-"
  private[graft] val reservoirK = 3
  private[graft] def reservoirHk: org.apache.spark.sql.Column =
    md5(concat(lit(reservoirSalt), col("doc_id")))
  private[graft] val reservoirSql =
    s"""SELECT source, CAST(rn AS BIGINT) AS rank, doc_id FROM (
         SELECT source, doc_id,
                ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY md5('$reservoirSalt' || doc_id), doc_id) AS rn
         FROM documents) t
       WHERE rn <= $reservoirK ORDER BY source, rank"""

  /** Market-basket input shared by the pair- and triple-mining rows:
    * (order, brand) baskets and the Apriori-pruned frequent-item side
    * (min-support 200) with each item's support attached. Both relations
    * are EAGERLY checkpointed — the basket build (scan + broadcast join +
    * distinct) is referenced by the support count, the frequent filter,
    * the basket self-join (2-3 sides) and the total, and without the
    * checkpoint each reference re-expands to its own scan (plan audit:
    * 18 FileScans for the pair row, 5 after). Callers release both. */
  private def assocFitems(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val items = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").select("p_partkey", "p_brand")),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("item"))
      .distinct()
      .localCheckpoint() // O(baskets x basket-width), small at any SF
    val isup = items.groupBy("item").agg(count(lit(1)).as("sup"))
    val freq = isup.filter(col("sup") >= 200) // Apriori min-support
    (items, items.join(broadcast(freq), "item").localCheckpoint())
  }

  /** items/fitems CTEs — the oracle half of [[assocFitems]]. */
  private val assocFitemsSql =
    """items AS (SELECT DISTINCT l_orderkey AS o, p_brand AS item
         FROM lineitem JOIN part ON p_partkey = l_partkey),
       n AS (SELECT COUNT(DISTINCT o) AS total FROM items),
       isup AS (SELECT item, COUNT(*) AS sup FROM items GROUP BY item),
       freq AS (SELECT item, sup FROM isup WHERE sup >= 200),
       fitems AS (SELECT i.o, i.item, f.sup
         FROM items i JOIN freq f USING (item))"""

  private val ts1997 = lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))

  /** λ=1 Poisson CDF as a CASE ladder over a uniform expression — ONE
    * string used verbatim by both engines (q_agg_bootstrap) so every
    * weight decision is bit-identical. Cumulative e⁻¹·Σ1/k! at 9
    * decimals; mass beyond 6 is 6e-8 and folds into the ELSE. */
  private[operators] def poissonCaseSql(uExpr: String): String = {
    val cum = Seq(0.367879441, 0.735758882, 0.919698603,
      0.981011843, 0.996340153, 0.999405815)
    "CASE " + cum.zipWithIndex
      .map { case (c, i) => s"WHEN ($uExpr) < $c THEN $i" }
      .mkString(" ") + " ELSE 6 END"
  }

  /** (purchases, clicks) sides shared by the two as-of join queries. */
  private def asofSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = t(s, d, "events")
    (e.filter(col("event_type") === "purchase")
       .select(col("user_id"), col("ts"), col("event_id").as("purchase_id")),
     e.filter(col("event_type") === "click")
       .select(col("user_id"), col("ts"), col("event_id").as("click_id")))
  }

  /** the tagged click∪purchase relation the as-of oracles window over
    * (shared with q_stream_live_asof's stream==batch oracle) */
  private[operators] val asofUnionSql =
    """u AS (
       SELECT user_id, ts, 0 AS side, event_id AS click_id,
              NULL::BIGINT AS purchase_id
       FROM events WHERE event_type = 'click'
       UNION ALL
       SELECT user_id, ts, 1 AS side, NULL::BIGINT AS click_id,
              event_id AS purchase_id
       FROM events WHERE event_type = 'purchase')"""

  override val defs: Seq[Q] = Seq(

    // ---- §2.1 scans / sources -------------------------------------------
    Q("q_scan_project",
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              ORDER BY l_orderkey, l_linenumber""")),

    Q("q_scan_count",
      (s, d) => t(s, d, "orders").agg(count(lit(1)).as("n")),
      Some("SELECT COUNT(*) AS n FROM orders")),

    // TextOutputFormat analogue: K\tV lines
    // (core/src/main/java/org/apache/hama/bsp/TextOutputFormat.java:33)
    Q("q_scan_kv_lines",
      (s, d) => t(s, d, "orders")
        .select(concat(col("o_orderkey").cast("string"), lit("\t"), col("o_orderstatus")).as("line"))
        .orderBy("line"),
      Some("""SELECT o_orderkey::VARCHAR || chr(9) || o_orderstatus AS line FROM orders
              ORDER BY line""")),

    // ---- §2.2 filters / projections / hash routing ----------------------
    Q("q_filter_pred",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") < ts1997 &&
          col("l_discount").between(0.05, 0.07))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
              WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_discount BETWEEN 0.05 AND 0.07
              ORDER BY l_orderkey, l_linenumber""")),

    // HashPartitioner routing semantics (core/.../bsp/HashPartitioner.java:96-102):
    // identical key → identical bucket ⇒ GROUP BY equivalence class.
    Q("q_part_groupby",
      (s, d) => t(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("c_nationkey"),
      Some("""SELECT c_nationkey, COUNT(*) AS cnt FROM customer
              GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ---- §2.4 aggregations ----------------------------------------------
    // Combiner + master-side final aggregation ≅ Catalyst partial+final hash agg
    // (core/.../bsp/Combiner.java:22-31, message bundling OutgoingPOJOMessageBundle.java:59).
    Q("q_agg_q1",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
              ROUND(SUM(l_quantity), 2) AS sum_qty,
              ROUND(SUM(l_extendedprice), 2) AS sum_price,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              ROUND(AVG(l_quantity), 6) AS avg_qty,
              COUNT(*) AS cnt
              FROM lineitem GROUP BY l_returnflag, l_linestatus
              ORDER BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 (shipping priority): the canonical sales-funnel 3-way
    // join — filter the small dimension FIRST (segment cut on customer),
    // broadcast it into orders, shuffle-join lineitem on the order key,
    // top-10 by revenue. The date cuts push into both fact scans
    // (PushedFilters); group key carries the date so the output is
    // deterministic without re-reading orders.
    Q("q_rel_tpch_q3",
      (s, d) => {
        val cut = lit("1998-03-15").cast("timestamp")
        val cust = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, d, "orders").filter(col("o_orderdate") < cut)
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        t(s, d, "lineitem").filter(col("l_shipdate") > cut)
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .select(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            col("o_orderpriority"), col("revenue"))
          .orderBy(desc("revenue"), asc("o_date"), asc("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS o_date,
                o_orderpriority,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1998-03-15'
                AND l_shipdate > TIMESTAMP '1998-03-15'
              GROUP BY l_orderkey, o_orderdate, o_orderpriority
              ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10""")),

    // TPC-H Q5 (local supplier volume): the canonical snowflake join —
    // region→nation broadcast chain prunes suppliers AND customers to
    // one region, the same-nation constraint (c_nationkey = s_nationkey)
    // applies as a post-join filter on the two independently-joined
    // legs, and only lineitem/orders ever shuffle. The shape that
    // proves join-order + broadcast discipline on a star schema.
    Q("q_rel_tpch_q5",
      (s, d) => {
        val asia = t(s, d, "nation")
          .join(broadcast(t(s, d, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup = t(s, d, "supplier")
          .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "c_nationkey")
        t(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
      },
      Some("""SELECT n_name,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
                AND o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // TPC-H Q18 (large-volume customers), explicit-broadcast variant:
    // the qualifying order keys come from a grouped HAVING over the fact
    // table, then broadcast-semi-join back before the 3-way join +
    // re-aggregate. The qualifier set is tiny (heavy-tail orders), so it
    // broadcasts; lineitem is scanned twice by construction (the classic
    // plan) but never carries non-qualifying orders past the semi-join.
    // (Sibling of q_rel_tpch_q18, which exercises the IN-over-HAVING →
    // LeftSemi rewrite; this one pins the hand-planned broadcast shape.)
    Q("q_rel_tpch_q18_having",
      (s, d) => {
        val qual = t(s, d, "lineitem").groupBy("l_orderkey")
          .agg(sum("l_quantity").as("qty"))
          .filter(col("qty") > 300)
          .select(col("l_orderkey").as("qk"))
        t(s, d, "lineitem")
          .join(broadcast(qual), col("l_orderkey") === col("qk"))
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            col("o_totalprice"))
          .agg(round(sum("l_quantity"), 2).as("total_qty"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(20)
      },
      Some("""WITH q AS (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
              SELECT c_name, c_custkey, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
                ROUND(SUM(l_quantity), 2) AS total_qty
              FROM lineitem JOIN q USING (l_orderkey)
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // TPC-H Q7 (volume shipping): the two-role dimension join — nation
    // joins the fact path TWICE (supplier side and customer side) with a
    // symmetric pair predicate. Both nation-keyed builds broadcast
    // (25-row dim), the pair filter runs where both roles are in scope,
    // and the fact scan carries only the four join/measure columns.
    Q("q_rel_tpch_q7",
      (s, d) => {
        val pair = Seq("NATION_18", "NATION_19")
        val sup = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
              .filter(col("n_name").isin(pair: _*))
              .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("snk"))
          .select("s_suppkey", "supp_nation")
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
              .filter(col("n_name").isin(pair: _*))
              .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("cnk"))
          .select("c_custkey", "cust_nation")
        val ord = t(s, d, "orders").select("o_orderkey", "o_custkey")
          .join(cust, col("o_custkey") === col("c_custkey"))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
            "l_shipdate")
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation n1 ON n1.n_nationkey = s_nationkey
              JOIN nation n2 ON n2.n_nationkey = c_nationkey
              WHERE n1.n_name IN ('NATION_18', 'NATION_19')
                AND n2.n_name IN ('NATION_18', 'NATION_19')
                AND n1.n_name <> n2.n_name
                AND l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q8 (national market share — VERDICT r10 missing #1): the
    // DEEPEST join in the suite — lineitem meets part, supplier, orders,
    // customer, nation TWICE (supplier role and customer role) and
    // region, then a two-level aggregate (per-year share = conditional
    // sum over total sum). The join-order stress test: part (p_type
    // filter) and both nation roles broadcast, the customer→nation→
    // region chain reduces orders before it meets the fact, and the
    // nested aggregate is ONE hash aggregate over the join (the CASE
    // folds the numerator — no self-join, no second pass). Audited
    // in-row: no cartesian anywhere in the 8-relation plan.
    sqlRow("q_rel_tpch_q8",
      Seq("lineitem", "part", "supplier", "orders", "customer", "nation", "region"),
      """SELECT o_year,
                ROUND(SUM(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END)
                      / SUM(volume), 6) AS mkt_share
              FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                           l_extendedprice * (1 - l_discount) AS volume,
                           n2.n_name AS nation
                    FROM part, supplier, lineitem, orders, customer,
                         nation n1, nation n2, region
                    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                      AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                      AND c_nationkey = n1.n_nationkey
                      AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
                      AND s_nationkey = n2.n_nationkey
                      AND o_orderdate >= TIMESTAMP '1996-01-01'
                      AND o_orderdate < TIMESTAMP '1998-01-01'
                      AND p_type = 'PROMO') all_nations
              GROUP BY o_year ORDER BY o_year""") { plan =>
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        "no cartesian product allowed in the Q8 plan")
    },

    // TPC-H Q9 (product-type profit — VERDICT r10 missing #1): the
    // LIKE-filtered part set exploded through lineitem with the supply
    // cost joined back per (part, supplier) — profit by nation × year.
    // The per-group profit reaches 1e8 over ~2k double terms, so a plain
    // double SUM's low bits are partition-order-dependent and can straddle
    // a half-cent rounding boundary between engines (observed once at
    // sf0.01): amounts carry at most 4 exact decimals, so both engines
    // accumulate DECIMAL(18,4) — order-independent, exact — and round the
    // final cast once.
    // The testdata has no partsupp, so ps_supplycost derives from
    // lineitem exactly as Q2's ps CTE does (MIN extendedprice per part/
    // supplier — shared shape, same derivation both engines). The scan
    // discipline at 100 TB: the %gear% LIKE prunes part FIRST and
    // semi-reduces lineitem through the p_partkey join before the
    // supply-cost join; nation broadcasts onto supplier. Audited
    // in-row: no cartesian.
    sqlRow("q_rel_tpch_q9", Seq("lineitem", "part", "supplier", "orders", "nation"),
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                    MIN(l_extendedprice) AS ps_supplycost
                  FROM lineitem GROUP BY 1, 2)
              SELECT nation, o_year,
                     ROUND(CAST(SUM(amount) AS DOUBLE), 2) AS sum_profit
              FROM (SELECT n_name AS nation,
                           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                           CAST(ROUND(l_extendedprice * (1 - l_discount)
                             - ps_supplycost * l_quantity, 4)
                             AS DECIMAL(18, 4)) AS amount
                    FROM part, supplier, lineitem, ps, orders, nation
                    WHERE s_suppkey = l_suppkey
                      AND ps_suppkey = l_suppkey AND ps_partkey = l_partkey
                      AND p_partkey = l_partkey AND o_orderkey = l_orderkey
                      AND s_nationkey = n_nationkey
                      AND p_name LIKE '%gear%') profit
              GROUP BY nation, o_year ORDER BY nation, o_year DESC""") { plan =>
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        "no cartesian product allowed in the Q9 plan")
    },

    // TPC-H Q12 (shipmode priority — VERDICT r10 missing #1): the
    // CASE-aggregate over a date-window join. The testdata carries no
    // shipmode/commitdate/receiptdate, so they derive deterministically
    // from the keys (the Q20 availqty pattern): shipmode from
    // (orderkey, linenumber), commit/receipt as day offsets added to
    // the DATE of l_shipdate — identical integer date arithmetic in
    // both engines. The late-delivery predicate (commit < receipt,
    // ship < commit) and the receipt-year window run BEFORE the orders
    // join; orders contributes only the priority CASE.
    Q("q_rel_tpch_q12",
      (s, d) => {
        Seq("lineitem", "orders").foreach(tn =>
          Tables(s, d, tn).createOrReplaceTempView(tn))
        s.sql(
          """WITH l AS (SELECT l_orderkey,
                    CASE CAST((l_orderkey * 3 + l_linenumber) % 7 AS INT)
                      WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'TRUCK'
                      WHEN 3 THEN 'AIR' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'REG AIR'
                      ELSE 'FOB' END AS l_shipmode,
                    CAST(l_shipdate AS DATE) AS ship_d,
                    CAST((l_partkey * 11 + l_suppkey) % 30 + 1 AS INT) AS commit_off,
                    CAST((l_orderkey * 5 + l_linenumber * 17) % 60 + 1 AS INT) AS receipt_off
                  FROM lineitem)
             SELECT l_shipmode,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             FROM orders JOIN l ON o_orderkey = l_orderkey
             WHERE l_shipmode IN ('MAIL', 'SHIP')
               AND commit_off < receipt_off
               AND DATE_ADD(ship_d, receipt_off) >= DATE '1997-01-01'
               AND DATE_ADD(ship_d, receipt_off) < DATE '1998-01-01'
             GROUP BY l_shipmode ORDER BY l_shipmode""")
      },
      Some("""WITH l AS (SELECT l_orderkey,
                    CASE CAST((l_orderkey * 3 + l_linenumber) % 7 AS INT)
                      WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'TRUCK'
                      WHEN 3 THEN 'AIR' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'REG AIR'
                      ELSE 'FOB' END AS l_shipmode,
                    CAST(l_shipdate AS DATE) AS ship_d,
                    CAST((l_partkey * 11 + l_suppkey) % 30 + 1 AS INT) AS commit_off,
                    CAST((l_orderkey * 5 + l_linenumber * 17) % 60 + 1 AS INT) AS receipt_off
                  FROM lineitem)
              SELECT l_shipmode,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
              FROM orders JOIN l ON o_orderkey = l_orderkey
              WHERE l_shipmode IN ('MAIL', 'SHIP')
                AND commit_off < receipt_off
                AND ship_d + receipt_off >= DATE '1997-01-01'
                AND ship_d + receipt_off < DATE '1998-01-01'
              GROUP BY l_shipmode ORDER BY l_shipmode""")),

    // TPC-H Q10 (returned-item reporting, adapted to the testdata's
    // customer columns): one quarter's returned lineitems attributed
    // back to customers — filter BOTH fact inputs before the join
    // (returnflag on lineitem, the quarter on orders), aggregate to
    // customers, keep the top 20 by lost revenue.
    // TPC-H Q6 (forecast revenue change): the pure scan-and-reduce
    // query — three pushable range predicates, one global sum, zero
    // joins. The plan check that matters at 100 TB: every predicate
    // reaches the parquet scan (PushedFilters), the agg is a two-stage
    // partial+final, and no shuffle moves more than one row per
    // partition.
    Q("q_rel_tpch_q6",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue")),
      Some("""SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1997-01-01'
                AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // TPC-H Q14 (promotion effect), widened to every ship month: promo
    // revenue share = 100 · Σ(promo rev)/Σ(rev) per month. One broadcast
    // of the part dimension against the lineitem scan, one month
    // aggregate — the conditional-share shape of the original with a
    // GROUP BY instead of the single-month filter (the testdata's
    // p_type is the bare category word, so the match is equality, not
    // the spec's 'PROMO%' prefix).
    Q("q_rel_tpch_q14",
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("promo_share"))
        .orderBy("ship_month"),
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
                  SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_share
              FROM lineitem JOIN part ON p_partkey = l_partkey
              GROUP BY 1 ORDER BY 1""")),

    Q("q_rel_tpch_q10",
      (s, d) => {
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        t(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer")
              .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(desc("revenue"), asc("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal, n_name,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation ON n_nationkey = c_nationkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1996-07-01'
              GROUP BY 1, 2, 3, 4
              ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // TPC-H Q4 shape (order priority checking) — the first of three
    // rows exercising Catalyst's SUBQUERY REWRITE machinery (VERDICT r8
    // item 2): a correlated EXISTS whose inner predicate references the
    // OUTER row's o_orderdate (not just the key), which
    // RewritePredicateSubquery turns into a left-semi hash join with
    // the non-equi lateness condition as a join predicate. The testdata
    // carries no l_commitdate/l_receiptdate, so "late" is shipment >60
    // days after the order date — same shape, same rewrite. The plan is
    // AUDITED in the gate: a LeftSemi join present, no cross join.
    Q("q_rel_tpch_q4",
      (s, d) => {
        Seq("orders", "lineitem").foreach(tn =>
          Tables(s, d, tn).createOrReplaceTempView(tn))
        val df = s.sql(
          """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
             FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01'
               AND o_orderdate < TIMESTAMP '1997-04-01'
               AND EXISTS (SELECT 1 FROM lineitem
                           WHERE l_orderkey = o_orderkey
                             AND l_shipdate > o_orderdate + INTERVAL '60' DAY)
             GROUP BY o_orderpriority ORDER BY o_orderpriority""")
        val plan = df.queryExecution.optimizedPlan.toString
        require(plan.contains("LeftSemi"),
          "the correlated EXISTS must rewrite to a left-semi join")
        require(!plan.contains("Cross") && !plan.contains("Cartesian"),
          s"no cartesian product allowed in the Q4 plan")
        df
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderdate < TIMESTAMP '1997-04-01'
                AND EXISTS (SELECT 1 FROM lineitem
                            WHERE l_orderkey = o_orderkey
                              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the 4-way
    // join with BOTH polarities of the correlated quantifier over the
    // SAME fact table — EXISTS (another supplier shipped on this order)
    // AND NOT EXISTS (another supplier was ALSO late on it), each
    // correlated on the order key plus a non-equality supplier cut, the
    // NOT EXISTS additionally referencing the outer o_orderdate. The
    // optimizer must stack a left-semi AND a left-anti join on the same
    // lineitem scan — audited in the gate. Late = shipped >45 days
    // after the order date (no receipt/commit dates in the testdata).
    Q("q_rel_tpch_q21",
      (s, d) => {
        Seq("orders", "lineitem", "supplier", "nation").foreach(tn =>
          Tables(s, d, tn).createOrReplaceTempView(tn))
        val df = s.sql(
          """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
             FROM supplier, lineitem l1, orders, nation
             WHERE s_suppkey = l1.l_suppkey
               AND o_orderkey = l1.l_orderkey
               AND o_orderstatus = 'F'
               AND l1.l_shipdate > o_orderdate + INTERVAL '45' DAY
               AND EXISTS (SELECT 1 FROM lineitem l2
                           WHERE l2.l_orderkey = l1.l_orderkey
                             AND l2.l_suppkey <> l1.l_suppkey)
               AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL '45' DAY)
               AND s_nationkey = n_nationkey
               AND n_name IN ('NATION_3', 'NATION_5', 'NATION_7')
             GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50""")
        val plan = df.queryExecution.optimizedPlan.toString
        require(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
          "Q21 must rewrite EXISTS to semi and NOT EXISTS to anti join")
        require(!plan.contains("Cross") && !plan.contains("Cartesian"),
          s"no cartesian product allowed in the Q21 plan")
        df
      },
      Some("""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
              FROM supplier, lineitem l1, orders, nation
              WHERE s_suppkey = l1.l_suppkey
                AND o_orderkey = l1.l_orderkey
                AND o_orderstatus = 'F'
                AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
                AND EXISTS (SELECT 1 FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey
                              AND l2.l_suppkey <> l1.l_suppkey)
                AND NOT EXISTS (SELECT 1 FROM lineitem l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey
                              AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
                AND s_nationkey = n_nationkey
                AND n_name IN ('NATION_3', 'NATION_5', 'NATION_7')
              GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 50""")),

    // TPC-H Q22 shape (global sales opportunity): an UNCORRELATED
    // SCALAR subquery (the global average balance) in the WHERE plus a
    // correlated NOT EXISTS against orders — the remaining subquery
    // form beside Q4/Q21's quantifiers. The testdata has no c_phone, so
    // country codes derive from c_nationkey; "no orders" tightens to
    // "no urgent order since 1997" (every synthetic customer has SOME
    // order). Audited: anti join present, no cartesian.
    sqlRow("q_rel_tpch_q22", Seq("orders", "customer"),
      """SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
                     ROUND(SUM(c_acctbal), 2) AS totacctbal
              FROM (SELECT CAST(c_nationkey % 7 AS BIGINT) AS cntrycode,
                           c_acctbal, c_custkey FROM customer
                    WHERE c_nationkey % 7 IN (0, 2, 3, 5)) c
              WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0.0)
                AND NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey
                                  AND o_orderpriority = '1-URGENT'
                                  AND o_orderdate >= TIMESTAMP '1997-01-01')
              GROUP BY cntrycode ORDER BY cntrycode""") { plan =>
      require(plan.contains("LeftAnti"),
        "Q22's NOT EXISTS must rewrite to a left-anti join")
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q22 plan")
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the CORRELATED
    // SCALAR subquery per group — the remaining Catalyst subquery
    // rewrite beside Q4/Q21/Q22's quantifiers and uncorrelated scalar:
    // RewriteCorrelatedScalarSubquery turns the per-partkey average
    // into an aggregate joined back on the correlation key, so the
    // fact table is scanned twice but never nested-looped. l_quantity
    // is integral, so the 0.5*AVG comparison boundary is exact in both
    // engines (integer sums are exact in double; the division is IEEE-
    // deterministic). Audited: no cartesian, an aggregate-feeding join.
    sqlRow("q_rel_tpch_q17", Seq("lineitem", "part"),
      """SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#4' AND p_type = 'SMALL'
                AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
                                  FROM lineitem WHERE l_partkey = p_partkey)""") { plan =>
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q17 plan")
    },

    // TPC-H Q2 shape (minimum-cost supplier): the correlated scalar MIN
    // over a FOUR-WAY dimension join — the inner MIN re-joins
    // partsupp→supplier→nation→region under the same region cut and
    // correlates on the OUTER part key, so Catalyst must rewrite it to
    // an aggregate over the full dimension join, joined back on
    // p_partkey (VERDICT r9 missing #3). The testdata has no partsupp
    // table; `ps` derives one from lineitem (supply cost = MIN extended
    // price per (part, supplier)) with the identical CTE on both sides.
    // (s_name, p_partkey) is unique per output row, so the ORDER BY +
    // LIMIT cut is a total order — deterministic at the boundary.
    sqlRow("q_rel_tpch_q2", Seq("lineitem", "part", "supplier", "nation", "region"),
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                    MIN(l_extendedprice) AS ps_supplycost
                  FROM lineitem GROUP BY 1, 2)
              SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
              FROM part, supplier, ps, nation, region
              WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
                AND p_size <= 15 AND p_type = 'SMALL'
                AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'ASIA'
                AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost)
                  FROM ps ps2, supplier s2, nation n2, region r2
                  WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
                    AND s2.s_nationkey = n2.n_nationkey
                    AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
              ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""") { plan =>
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q2 plan")
    },

    // TPC-H Q20 shape (excess-stock suppliers): the NESTED IN → semi
    // chain with a CORRELATED AGGREGATE threshold — supplier IN (ps
    // rows whose part is IN a name-filtered part set AND whose derived
    // availqty clears half the shipped volume for that exact (part,
    // supplier) in the window). Catalyst stacks two left-semi joins and
    // rewrites the correlated SUM to an aggregate joined on BOTH
    // correlation keys (VERDICT r9 missing #3, the Q20 half). availqty
    // derives deterministically from the keys; an empty shipped window
    // sums to NULL and the > comparison drops the row identically in
    // both engines. Audited: semi joins present, no cartesian.
    sqlRow("q_rel_tpch_q20", Seq("lineitem", "part", "supplier", "nation"),
      """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey,
                    l_suppkey AS ps_suppkey,
                    (l_partkey * 7 + l_suppkey * 13) % 150 + 1 AS ps_availqty
                  FROM lineitem)
              SELECT s_name, s_acctbal
              FROM supplier, nation
              WHERE s_suppkey IN (
                  SELECT ps_suppkey FROM ps
                  WHERE ps_partkey IN (SELECT p_partkey FROM part
                                       WHERE p_name LIKE 'small%')
                    AND ps_availqty > (
                      SELECT 0.5 * SUM(l_quantity) FROM lineitem
                      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                        AND l_shipdate >= DATE '1997-01-01'
                        AND l_shipdate < DATE '1998-01-01'))
                AND s_nationkey = n_nationkey
                AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
              ORDER BY s_name""") { plan =>
      require(plan.contains("LeftSemi"),
        "Q20's IN chain must rewrite to left-semi joins")
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q20 plan")
    },

    // TPC-H Q15 shape (top supplier): the REVENUE VIEW consumed twice —
    // once as the join input and once inside an uncorrelated scalar MAX
    // — the "aggregate of an aggregate" selection TPC-H expresses as a
    // CREATE VIEW. Per-supplier revenue is rounded BEFORE the equality
    // against the max, so the tie surface is identical in both engines.
    sqlRow("q_rel_tpch_q15", Seq("lineitem", "supplier"),
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
                    ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                  FROM lineitem
                  WHERE l_shipdate >= DATE '1997-01-01'
                    AND l_shipdate < DATE '1997-04-01'
                  GROUP BY l_suppkey)
              SELECT s_suppkey, s_name, total_revenue
              FROM supplier JOIN revenue ON s_suppkey = supplier_no
              WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
              ORDER BY s_suppkey""") { plan =>
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q15 plan")
    },

    // TPC-H Q18 shape (large-volume customers): IN over a HAVING
    // subquery on the SAME fact table the outer query aggregates — the
    // semi join must land BELOW the 3-way join and the outer GROUP BY
    // re-aggregates the surviving lineitems. (o_orderkey is unique per
    // output row, so ORDER BY qty DESC, key + LIMIT is a total order.)
    sqlRow("q_rel_tpch_q18", Seq("customer", "orders", "lineitem"),
      """SELECT c_custkey, o_orderkey, ROUND(SUM(l_quantity), 1) AS total_qty
              FROM customer, orders, lineitem
              WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                                   GROUP BY l_orderkey
                                   HAVING SUM(l_quantity) > 220)
                AND c_custkey = o_custkey AND o_orderkey = l_orderkey
              GROUP BY c_custkey, o_orderkey
              ORDER BY total_qty DESC, o_orderkey LIMIT 100""") { plan =>
      require(plan.contains("LeftSemi"),
        "Q18's IN-over-HAVING must rewrite to a left-semi join")
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q18 plan")
    },

    // TPC-H Q11 shape (important stock identification): GROUP BY +
    // HAVING against an UNCORRELATED scalar over the same 3-way join —
    // the fact join is planned twice and the threshold is one broadcast
    // scalar. TPC-H's fixed fraction shrinks per-part shares as the
    // corpus grows (0 rows at 100× with any constant), so the cut is
    // stated SCALE-FREE: parts whose value exceeds 1.4× the average
    // part value — same SQL at every SF, same rewrite shape.
    sqlRow("q_rel_tpch_q11", Seq("lineitem", "supplier", "nation"),
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                    MIN(l_extendedprice) AS ps_supplycost,
                    SUM(l_quantity) AS ps_availqty
                  FROM lineitem GROUP BY 1, 2),
                psn AS (SELECT ps_partkey, ps_supplycost, ps_availqty
                  FROM ps, supplier, nation
                  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
                    AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3',
                                   'NATION_4', 'NATION_5'))
              SELECT ps_partkey, ROUND(SUM(ps_supplycost * ps_availqty), 2) AS value
              FROM psn
              GROUP BY ps_partkey
              HAVING SUM(ps_supplycost * ps_availqty) > (
                SELECT SUM(ps_supplycost * ps_availqty) * 1.4
                  / COUNT(DISTINCT ps_partkey) FROM psn)
              ORDER BY value DESC, ps_partkey LIMIT 100""") { plan =>
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q11 plan")
    },

    // TPC-H Q16 shape (parts/supplier relationship): NOT IN against a
    // subquery (null-free key, so the null-aware anti join degenerates
    // to a plain one) + COUNT(DISTINCT) over the surviving pairs, with
    // multi-predicate dimension cuts. "Complaints" surrogate: suppliers
    // with negative balances.
    sqlRow("q_rel_tpch_q16", Seq("lineitem", "part", "supplier"),
      """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey,
                    l_suppkey AS ps_suppkey FROM lineitem)
              SELECT p_brand, p_type, p_size,
                     CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
              FROM ps, part
              WHERE p_partkey = ps_partkey
                AND p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
                AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
                AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                       WHERE s_acctbal < 0)
              GROUP BY p_brand, p_type, p_size
              ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 100""") { plan =>
      require(plan.contains("LeftAnti"),
        "Q16's NOT IN must rewrite to an anti join")
      require(!plan.contains("Cross") && !plan.contains("Cartesian"),
        s"no cartesian product allowed in the Q16 plan")
    },

    // TPC-H Q13 shape (customer order-count distribution): the OUTER-
    // join aggregate histogram — the join condition carries a non-key
    // predicate (priority cut) so zero-order customers survive with
    // count 0, then a second aggregate over the first's output. The
    // one TPC-H shape where the OUTER side is the small one: customer
    // broadcasts INTO orders and COUNT(o_orderkey) (not COUNT(*))
    // counts only matched rows.
    Q("q_rel_tpch_q13",
      (s, d) => {
        val ord = t(s, d, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey")
        t(s, d, "customer").select("c_custkey")
          .join(ord, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count").agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey) t
              GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    // the OR-of-ANDs predicate spanning BOTH join sides — the filter
    // cannot push below the join as a whole, but each disjunct's
    // single-table conjuncts do (Catalyst factors p_brand/p_size terms
    // onto the part scan); the join itself stays a broadcast hash join
    // on the key with the residual disjunction as a post-join filter.
    Q("q_rel_tpch_q19",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        val pt = t(s, d, "part").select("p_partkey", "p_brand", "p_size")
        val picked = li.join(broadcast(pt), col("p_partkey") === col("l_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30)))
        picked.agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      },
      Some("""SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem JOIN part ON p_partkey = l_partkey
              WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                     AND l_quantity BETWEEN 1 AND 11)
                 OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                     AND l_quantity BETWEEN 10 AND 20)
                 OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                     AND l_quantity BETWEEN 20 AND 30)""")),

    // PURE-SQL end-to-end: the engine driven entirely through
    // `spark.sql` over registered views — the surface a SQL-first user
    // works in (GraftExtensions' native kernels are registered into the
    // same session, see q_fn_vec_sql). The statement exercises a join,
    // a distinct aggregate, and a ranking window; the oracle is the
    // same text, which is the point.
    sqlRow("q_sql_e2e", Seq("orders", "customer"),
      """SELECT c_mktsegment, n_cust, revenue,
                CAST(RANK() OVER (ORDER BY revenue DESC) AS BIGINT) AS rnk
              FROM (SELECT c_mktsegment,
                      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
                      ROUND(SUM(o_totalprice), 2) AS revenue
                    FROM orders JOIN customer ON c_custkey = o_custkey
                    GROUP BY c_mktsegment) t
              ORDER BY c_mktsegment""")(_ => ()),

    Q("q_agg_distinct",
      (s, d) => t(s, d, "orders")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio")),
      Some("""SELECT COUNT(DISTINCT o_custkey) AS n_cust,
              COUNT(DISTINCT o_orderpriority) AS n_prio FROM orders""")),

    // Global aggregator analogues: Min/Max/Sum/Average
    // (graph/.../MinAggregator.java:22, MaxAggregator.java:22, SumAggregator.java:25-38,
    //  AverageAggregator.java:25-31)
    Q("q_agg_global",
      (s, d) => t(s, d, "lineitem").agg(
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        count(lit(1)).as("cnt")),
      Some("""SELECT ROUND(MIN(l_extendedprice), 2) AS min_price,
              ROUND(MAX(l_extendedprice), 2) AS max_price,
              ROUND(AVG(l_extendedprice), 4) AS avg_price,
              ROUND(SUM(l_extendedprice), 2) AS sum_price,
              COUNT(*) AS cnt FROM lineitem""")),

    // MinIntCombiner / MinTextCombiner analogues
    // (examples/.../SSSP.java:74-88, examples/.../MindistSearch.java:106-117)
    Q("q_agg_combiner_min",
      (s, d) => t(s, d, "lineitem")
        .groupBy((col("l_orderkey") % 100).as("grp"))
        .agg(min(col("l_partkey")).as("min_part"),
          min(col("l_suppkey")).as("min_supp"),
          min(col("l_returnflag")).as("min_flag"))
        .orderBy("grp"),
      Some("""SELECT l_orderkey % 100 AS grp, MIN(l_partkey) AS min_part,
              MIN(l_suppkey) AS min_supp, MIN(l_returnflag) AS min_flag
              FROM lineitem GROUP BY l_orderkey % 100 ORDER BY grp""")),

    // AbsDiffAggregator / AverageAggregator analogues
    // (graph/.../AbsDiffAggregator.java:27-51, AverageAggregator.java:25-31)
    Q("q_agg_absdiff",
      (s, d) => t(s, d, "lineitem").agg(
        round(sum(abs(col("l_extendedprice") * (lit(1) - col("l_discount")) - col("l_extendedprice"))), 2).as("total_absdiff"),
        round(avg(abs(col("l_extendedprice") * (lit(1) - col("l_discount")) - col("l_extendedprice"))), 6).as("avg_absdiff")),
      Some("""SELECT
              ROUND(SUM(ABS(l_extendedprice * (1 - l_discount) - l_extendedprice)), 2) AS total_absdiff,
              ROUND(AVG(ABS(l_extendedprice * (1 - l_discount) - l_extendedprice)), 6) AS avg_absdiff
              FROM lineitem""")),

    // Exact percentiles (engine extension): Spark `percentile` and DuckDB
    // `quantile_cont` both linear-interpolate, so values hash-match. Exact
    // per-group percentile buffers the group's values — parallelism equals
    // group count, so group on a key with enough cardinality (3 groups made
    // this 2× slower); the 100 TB path for low-cardinality groups is
    // `approx_percentile` (mergeable t-digest).
    Q("q_agg_percentile",
      (s, d) => t(s, d, "lineitem")
        .groupBy((col("l_partkey") % 40).as("grp"))
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
        .orderBy("grp"),
      Some("""SELECT l_partkey % 40 AS grp, ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
              ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
              FROM lineitem GROUP BY grp ORDER BY grp""")),

    // EXACT GLOBAL quantiles — the ungrouped twin of q_agg_percentile,
    // which at corpus scale is the classic "ORDER BY the whole table
    // through one task" hazard. Fifth RangedRank consumer: global rank
    // via range-sharded running count (no global window anywhere), then
    // three point lookups at ceil(q·n). Deterministic by the
    // (price, orderkey, linenumber) unique order key.
    Q("q_agg_quantile_exact_global",
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem")
          .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        val n = li.count()
        val ranked = graft.operators.RangedRank.withRank(li, Seq.empty,
          Seq("l_extendedprice", "l_orderkey", "l_linenumber"), "rk")
        val targets = Seq(0.5, 0.95, 0.99)
          .map(q => (q, math.ceil(q * n).toLong)).toDF("q", "target")
        ranked.join(broadcast(targets), col("rk") === col("target"))
          .select(col("q"), round(col("l_extendedprice"), 2).as("value"))
          .orderBy("q")
      },
      Some("""WITH r AS (SELECT l_extendedprice,
                ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rk
                FROM lineitem),
              n AS (SELECT COUNT(*) AS n FROM lineitem),
              t(q) AS (VALUES (0.5), (0.95), (0.99))
              SELECT t.q, ROUND(r.l_extendedprice, 2) AS value
              FROM t CROSS JOIN n JOIN r ON r.rk = CAST(CEIL(t.q * n.n) AS BIGINT)
              ORDER BY t.q""")),

    // The SCALE path for percentiles: approx_percentile's mergeable
    // Greenwald-Khanna sketch holds O(accuracy) per group instead of the
    // exact aggregate's full value buffer. Sketch internals aren't
    // reproducible in DuckDB, so the declared row carries the exact p50
    // (oracle recomputes it) plus a boolean pinning the sketch output
    // within 2% of it — accuracy=1000 bounds rank error to n/1000 rows,
    // which on this smooth value distribution is far inside 2%.
    Q("q_agg_percentile_approx",
      (s, d) => t(s, d, "lineitem")
        .groupBy((col("l_partkey") % 40).as("grp"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_exact"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"))
        .select(col("grp"), col("p50_exact"),
          (abs(col("ap50") - col("p50_exact")) <= col("p50_exact") * 0.02).as("p50_within_band"))
        .orderBy("grp"),
      Some("""SELECT l_partkey % 40 AS grp,
              ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
              true AS p50_within_band
              FROM lineitem GROUP BY grp ORDER BY grp""")),

    // Analytic windows (engine extension): lag/lead/running aggregate per
    // customer's order history — per-key ordered state, the relational
    // cousin of a stateful per-key peer.
    // distribution window functions: ntile buckets + rank positions per
    // partition — definitions are identical across engines (percent_rank
    // = (rank−1)/(n−1), cume_dist = rank_with_ties/n), so exact parity.
    // Scale note: this is the API-surface row — its 5 priority groups
    // each sort corpus/5 rows in one task, which is fine for a surface
    // demo but NOT the 100× path; the scale twin is q_agg_ntile_exact /
    // q_agg_quantile_exact_global, the same ordered statistics through
    // RangedRank with no task ever holding a whole group.
    Q("q_window_dist",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
              CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
              ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
              ROUND(CUME_DIST() OVER w, 6) AS cume
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey)
              ORDER BY o_orderpriority, o_orderkey""")),

    Q("q_window_analytics",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("run_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
              lag(o_orderkey, 1) OVER w AS prev_order,
              lead(o_orderkey, 1) OVER w AS next_order,
              ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
              ORDER BY o_custkey, o_orderkey""")),

    // HLL sketch distinct — engine extension (SURVEY.md §2.4 "free in
    // Spark"); [stat]: Spark's HLL++ and DuckDB's HLL differ by
    // implementation, so no SQL-hash oracle — RelationalExtraSpec bounds the
    // relative error against the exact count instead.
    // HLL++ sketches aren't reproducible in DuckDB, but their accuracy
    // contract is: emit the EXACT distinct counts (oracle recomputes them)
    // plus booleans asserting the sketch landed within 3× the default rsd
    // (0.05 is one σ of relative error, so ±15% = 3σ) — the driver
    // hash-checks both instead of recording no_oracle
    Q("q_agg_approx",
      (s, d) => {
        // one distinct column per aggregate: two countDistinct columns in
        // ONE agg force an Expand (x3 row multiplication) before the
        // shuffle; split per-column, each plan is a pruned single-column
        // scan + two-phase distinct agg, and the two scalar rows meet in
        // a free cross join (r6 probe: 1.05 s vs 2.77 s combined at sf0.1)
        val o = t(s, d, "orders")
        o.agg(countDistinct(col("o_custkey")).as("exact_cust"),
            approx_count_distinct(col("o_custkey")).as("ac"))
          .crossJoin(o.agg(
            countDistinct(col("o_totalprice")).as("exact_price"),
            approx_count_distinct(col("o_totalprice")).as("ap")))
      }
        .select(col("exact_cust"), col("exact_price"),
          (abs(col("ac") - col("exact_cust")) <= col("exact_cust") * 0.15).as("cust_within_rsd"),
          (abs(col("ap") - col("exact_price")) <= col("exact_price") * 0.15).as("price_within_rsd")),
      Some("""SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
              CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS exact_price,
              true AS cust_within_rsd, true AS price_within_rsd FROM orders""")),

    // Engine extensions beyond the reference: rollup / cube
    Q("q_agg_rollup",
      (s, d) => t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name")),
      Some("""SELECT r_name, n_name, COUNT(*) AS cnt
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY ROLLUP (r_name, n_name)
              ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""")),

    // arbitrary GROUPING SETS — the union-of-groupings rollup/cube can't
    // express (two independent one-column groupings in ONE pass over the
    // fact table; Catalyst's Expand feeds both from a single scan)
    Q("q_agg_grouping_sets",
      (s, d) => t(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
              ROUND(SUM(o_totalprice), 2) AS total
              FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
              ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // MERGEABLE distinct-count sketches — the 100 TB posture for COUNT
    // DISTINCT across shards/days: per-group HLL sketches are built once
    // (partial-combining agg), then UNIONED to the global estimate without
    // ever re-touching the rows — re-aggregation is O(groups × sketch),
    // not O(data). Declared check: the merged estimate must land within
    // 5% of the exact global distinct (invariant-style, like q_agg_approx).
    Q("q_agg_hll_merge",
      (s, d) => {
        val o = t(s, d, "orders")
        val perGroup = o.groupBy(col("o_orderpriority"))
          .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        // count(key), not count(*): a NULL group key would make Spark's
        // group count disagree with the oracle's COUNT(DISTINCT …), which
        // drops NULLs — on exactly the query whose point is agreement
        val merged = perGroup.agg(
          count(col("o_orderpriority")).as("n_groups"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = o.agg(countDistinct(col("o_custkey")).as("exact_total"))
        exact.crossJoin(merged)
          .select(col("exact_total"), col("n_groups"),
            (abs(col("est") - col("exact_total")) <= col("exact_total") * 0.05)
              .as("merged_within_5pct"))
      },
      Some("""SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_total,
              CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_groups,
              true AS merged_within_5pct FROM orders""")),

    // ordered string aggregation (LISTAGG WITHIN GROUP — deterministic by
    // declared order, never by arrival): the per-group concatenation shape
    // report layers want from an engine
    Q("q_agg_listagg",
      (s, d) => t(s, d, "nation")
        .join(t(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"))
        .orderBy("r_name"),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
              FROM nation JOIN region ON n_regionkey = r_regionkey
              GROUP BY r_name ORDER BY r_name""")),

    // bitwise scalar family — the reference manipulates raw bits/bytes
    // constantly (core/src/main/java/org/apache/hama/util/Bytes.java);
    // here as codegen'd integer expressions
    Q("q_fn_bits",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        (col("o_orderkey").bitwiseAND(255)).as("low8"),
        (col("o_orderkey").bitwiseOR(lit(4096L))).as("with_bit12"),
        (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("key_xor"),
        shiftleft(col("o_orderkey"), 2).as("shl2"),
        shiftright(col("o_orderkey"), 3).as("shr3"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
              o_orderkey & 255 AS low8,
              o_orderkey | 4096 AS with_bit12,
              xor(o_orderkey, o_custkey) AS key_xor,
              o_orderkey << 2 AS shl2,
              o_orderkey >> 3 AS shr3
              FROM orders ORDER BY o_orderkey""")),

    // bivariate statistics family: Pearson correlation + sample/population
    // covariance per group — one partial-combining agg (each is a few
    // running sums), the same shuffle shape as q_agg_q1
    Q("q_agg_corr",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_s"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("cov_p"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
              ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
              ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cov_s,
              ROUND(COVAR_POP(l_quantity, l_extendedprice), 2) AS cov_p
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("q_agg_cube",
      (s, d) => t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
              ROUND(SUM(o_totalprice), 2) AS total
              FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
              ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- §2.3 joins ------------------------------------------------------
    // inner(tbl(a), tbl(b)) — sorted-merge equi-join
    // (core/.../bsp/join/InnerJoinRecordReader.java:40-48). No broadcast
    // hint: customer scales with SF, so Catalyst/AQE must pick broadcast vs
    // SMJ from stats — the choice that stays correct at 100 TB.
    Q("q_join_inner",
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
              ORDER BY o_orderkey""")),

    // outer(tbl(a), tbl(b)) — emit when any source has the key
    // (core/.../bsp/join/OuterJoinRecordReader.java:40-43)
    Q("q_join_outer",
      (s, d) => {
        val a = t(s, d, "orders").filter(col("o_custkey") % 2 === 0)
          .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("a_cnt"))
        val b = t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("k"), round(col("c_acctbal"), 2).as("b_bal"))
        a.join(b, Seq("k"), "full_outer")
          .select(col("k"), col("a_cnt"), col("b_bal"))
          .orderBy("k")
      },
      Some("""WITH a AS (SELECT o_custkey AS k, COUNT(*) AS a_cnt FROM orders
                         WHERE o_custkey % 2 = 0 GROUP BY o_custkey),
                   b AS (SELECT c_custkey AS k, ROUND(c_acctbal, 2) AS b_bal FROM customer
                         WHERE c_custkey % 3 = 0)
              SELECT COALESCE(a.k, b.k) AS k, a_cnt, b_bal
              FROM a FULL OUTER JOIN b ON a.k = b.k ORDER BY k""")),

    // override(tbl(base), tbl(pref)) — value from the RIGHTMOST source holding
    // the key (core/.../bsp/join/OverrideRecordReader.java)
    Q("q_join_override",
      (s, d) => {
        val base = t(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("base_v"))
        val pref = t(s, d, "orders").filter(col("o_orderkey") % 5 === 0)
          .groupBy(col("o_custkey").as("k")).agg(max(col("o_orderpriority")).as("pref_v"))
        base.join(pref, Seq("k"), "full_outer")
          .select(col("k"), coalesce(col("pref_v"), col("base_v")).as("v"))
          .orderBy("k")
      },
      Some("""WITH base AS (SELECT c_custkey AS k, c_mktsegment AS base_v FROM customer),
                   pref AS (SELECT o_custkey AS k, MAX(o_orderpriority) AS pref_v FROM orders
                            WHERE o_orderkey % 5 = 0 GROUP BY o_custkey)
              SELECT COALESCE(base.k, pref.k) AS k, COALESCE(pref_v, base_v) AS v
              FROM base FULL OUTER JOIN pref ON base.k = pref.k ORDER BY k""")),

    // k-way composite join (core/.../bsp/join/CompositeRecordReader.java:281-310):
    // lineitem ⋈ orders ⋈ customer ⋈ nation, revenue per nation.
    // only nation is broadcast-hinted: it is bounded (25 rows) at any SF;
    // lineitem⋈orders⋈customer strategy is left to stats + AQE
    Q("q_join_3way",
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("n_name"),
      Some("""SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
              COUNT(*) AS cnt
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_name ORDER BY n_name""")),

    // the composite-join expression LANGUAGE end-to-end: the reference's
    // defining join feature is the string grammar parsed at job-conf time
    // with user ops registered under bsp.join.define.<ident>
    // (core/.../bsp/join/CompositeInputFormat.java:43-91, Parser.java:62-496).
    // Here: parse → JoinSpec ADT → Catalyst joins, with `concat2` resolved
    // from session conf via Class.forName — the user-extension hook proven
    // in a declared query, not just specs. The op is registered at session
    // setup (GraftSession), like the reference's job-conf-time defines —
    // the query only READS conf (ADVICE r2: no side effects in closures).
    // Leaf convention: a table's first two columns are its (key, value)
    // pair (the SequenceFile K/V analogue).
    Q("q_join_dsl",
      (s, d) => {
        val resolve: (String, String) => JoinSpec.Tbl = {
          case ("parquet", name) =>
            val df = t(s, d, name)
            val Array(k, v) = df.columns.take(2)
            JoinSpec.Tbl(df.select(col(k).cast("long").as("k"), col(v).as("v")), "k", "v")
          case (cls, p) =>
            throw new IllegalArgumentException(s"unresolvable tbl($cls, $p)")
        }
        val expr = JoinSpec.parse(
          """inner(tbl(parquet,"customer"),
                   concat2(tbl(parquet,"supplier"),
                           override(tbl(parquet,"nation"),tbl(parquet,"region"))))""",
          resolve, JoinSpec.definesFromConf(s))
        JoinSpec.compose(expr).orderBy("key")
      },
      Some("""WITH ovr AS (
                SELECT COALESCE(n.n_nationkey, r.r_regionkey) AS key,
                       COALESCE(r.r_name, n.n_name) AS v0
                FROM nation n FULL OUTER JOIN region r ON n.n_nationkey = r.r_regionkey),
              cc AS (
                SELECT COALESCE(s.s_suppkey, o.key) AS key,
                       concat_ws('|', s.s_name, o.v0) AS v0
                FROM supplier s FULL OUTER JOIN ovr o ON s.s_suppkey = o.key)
              SELECT CAST(c.c_custkey AS BIGINT) AS key, c.c_name AS v0, cc.v0 AS v1
              FROM customer c JOIN cc ON c.c_custkey = cc.key
              ORDER BY key""")),

    // Spark-side extensions the reference lacks (SURVEY §2.3 "not present"):
    Q("q_join_semi",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
              ORDER BY c_custkey""")),

    Q("q_join_anti",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                                AND o_orderstatus = 'F' AND o_totalprice > 250000)
              ORDER BY c_custkey""")),

    // theta/range join extension, in the BANDED form that survives scale:
    // a naive `p_retailprice < s_acctbal/4` is a nested loop over
    // parts × suppliers. Instead (1) histogram parts into price bands —
    // O(bands) rows, broadcastable at ANY data size; suppliers nested-loop
    // only against that tiny histogram for fully-covered bands; (2) the
    // supplier's own boundary band resolves with an EQUI-join on band plus
    // a residual row filter. No row-level nested loop anywhere; the big
    // side is touched by one scan + one shuffle on the band key.
    Q("q_join_range",
      (s, d) => {
        val bandW = 100.0
        val parts = t(s, d, "part")
          .select(col("p_retailprice"), floor(col("p_retailprice") / bandW).as("band"))
        val hist = parts.groupBy("band").agg(count(lit(1)).as("cnt"))
        val supp = t(s, d, "supplier")
          .select(col("s_suppkey"), (col("s_acctbal") / 4).as("thr"))
          .withColumn("sband", floor(col("thr") / bandW))
        val full = supp.join(broadcast(hist), col("band") < col("sband"))
          .groupBy("s_suppkey").agg(sum("cnt").as("c"))
        val boundary = supp.join(parts, col("band") === col("sband") &&
            col("p_retailprice") < col("thr"))
          .groupBy("s_suppkey").agg(count(lit(1)).as("c"))
        full.unionByName(boundary)
          .groupBy("s_suppkey").agg(sum("c").as("n_cheaper"))
          .filter(col("n_cheaper") > 0) // inner-join semantics: no zero rows
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, COUNT(*) AS n_cheaper
              FROM supplier JOIN part ON p_retailprice < s_acctbal / 4
              GROUP BY s_suppkey ORDER BY s_suppkey""")),

    // SALTED skew join — the manual skew-mitigation technique for the case
    // AQE's runtime skew split cannot see (e.g. the skew is in a derived
    // key, or the join feeds a co-partitioning AQE must not re-plan): a
    // deterministic per-ROW salt pmod(hash(unique cols), S) spreads each
    // hot fact key over S shuffle partitions; the dim side replicates ×S
    // (bounded: S × |dim|, broadcast-sized increments). The join result is
    // IDENTICAL to the unsalted join — which is exactly the oracle — so
    // the technique is verified, not just described. At 100 TB, S scales
    // with the observed hot-key factor; everything else is unchanged.
    Q("q_join_salted",
      (s, d) => {
        val S = 8
        val fact = t(s, d, "lineitem")
          .select(col("l_suppkey").as("k"), col("l_extendedprice"),
            pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(S)).as("salt"))
        val dim = t(s, d, "supplier")
          .select(col("s_suppkey").as("k"), col("s_nationkey"))
          .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
        fact.join(dim, Seq("k", "salt"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, COUNT(*) AS n_items,
              ROUND(SUM(l_extendedprice), 2) AS revenue
              FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // AS-OF JOIN (backward): for every purchase, the latest click by the
    // same user at-or-before the purchase time — the time-series join the
    // reference's merge framework cannot express (it is strictly equi-key,
    // core/.../bsp/join/CompositeRecordReader.java). The naive formulation
    // is an inequality join (every click × every later purchase) whose
    // intermediate explodes quadratically per user; this plan UNIONs the
    // two sides tagged, shuffles ONCE on user_id, and takes a running
    // last_value(click) over the time-ordered window — O(n log n) per user,
    // no pair blowup, the plan that survives 100 TB of events. Tie-break:
    // at equal ts the click sorts before the purchase (side tag), so a
    // same-instant click matches; among equal-ts clicks the highest
    // event_id wins deterministically in both engines.
    Q("q_join_asof",
      (s, d) => {
        val (purchases, clicks) = asofSides(s, d)
        Asof.backward(purchases, clicks, "user_id", "ts", Seq("click_id"))
          .select(col("user_id"), col("purchase_id"), col("ts").as("p_ts"),
            col("asof_click_id"), col("asof_ts").as("asof_click_ts"),
            // ts is TIMESTAMP_NTZ; the session runs UTC so the cast is a
            // pure reinterpretation and epoch micros match DuckDB epoch_us
            (unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("asof_ts").cast("timestamp"))).as("gap_us"))
          .orderBy("user_id", "purchase_id")
      },
      Some(s"""WITH $asofUnionSql, w AS (
                SELECT *,
                  LAST_VALUE(click_id IGNORE NULLS) OVER win AS asof_click_id,
                  LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER win AS asof_click_ts
                FROM u
                WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, click_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              )
              SELECT user_id, purchase_id, ts AS p_ts, asof_click_id, asof_click_ts,
                     epoch_us(ts) - epoch_us(asof_click_ts) AS gap_us
              FROM w WHERE side = 1 ORDER BY user_id, purchase_id""")),

    // TOLERANCE-bounded as-of join (market-data semantics: a quote older
    // than the tolerance is stale, not a match): composes the same Asof
    // API and NULLs the match beyond a 30-minute gap — a pure projection
    // on top of the one-shuffle plan, no second window, no re-join.
    Q("q_join_asof_tol",
      (s, d) => {
        val (purchases, clicks) = asofSides(s, d)
        val tolUs = 30L * 60 * 1000000L
        val gap = unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("asof_ts").cast("timestamp"))
        Asof.backward(purchases, clicks, "user_id", "ts", Seq("click_id"))
          .select(col("user_id"), col("purchase_id"),
            when(gap <= tolUs, col("asof_click_id")).as("asof_click_id"),
            when(gap <= tolUs, gap).as("gap_us"))
          .orderBy("user_id", "purchase_id")
      },
      Some(s"""WITH $asofUnionSql, w AS (
                SELECT *,
                  LAST_VALUE(click_id IGNORE NULLS) OVER win AS asof_click_id,
                  LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER win AS asof_click_ts
                FROM u
                WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, click_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              )
              SELECT user_id, purchase_id,
                CASE WHEN epoch_us(ts) - epoch_us(asof_click_ts) <= 1800000000
                     THEN asof_click_id END AS asof_click_id,
                CASE WHEN epoch_us(ts) - epoch_us(asof_click_ts) <= 1800000000
                     THEN epoch_us(ts) - epoch_us(asof_click_ts) END AS gap_us
              FROM w WHERE side = 1 ORDER BY user_id, purchase_id""")),

    // AS-OF JOIN (forward): earliest click at-or-after each purchase —
    // same single-shuffle union+window plan mirrored (first over the
    // FOLLOWING frame). Ordering puts the purchase before a same-instant
    // click (side DESC) so "at-or-after" is inclusive.
    Q("q_join_asof_fwd",
      (s, d) => {
        val (purchases, clicks) = asofSides(s, d)
        Asof.forward(purchases, clicks, "user_id", "ts", Seq("click_id"))
          .select(col("user_id"), col("purchase_id"), col("ts").as("p_ts"),
            col("asof_click_id").as("next_click_id"),
            col("asof_ts").as("next_click_ts"))
          .orderBy("user_id", "purchase_id")
      },
      Some(s"""WITH $asofUnionSql, w AS (
                SELECT *,
                  FIRST_VALUE(click_id IGNORE NULLS) OVER win AS next_click_id,
                  FIRST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER win AS next_click_ts
                FROM u
                WINDOW win AS (PARTITION BY user_id ORDER BY ts, side DESC, click_id
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              )
              SELECT user_id, purchase_id, ts AS p_ts, next_click_id, next_click_ts
              FROM w WHERE side = 1 ORDER BY user_id, purchase_id""")),

    // NEAREST-direction as-of join (pandas merge_asof direction='nearest'):
    // the backward and forward matches composed, per purchase the closer
    // click wins (exact tie → backward, the conservative causal choice).
    // Two one-shuffle Asof passes joined on the unique purchase key; the
    // gap comparison is integer epoch-µs, so the pick is engine-exact.
    Q("q_join_asof_nearest",
      (s, d) => {
        val (purchases, clicks) = asofSides(s, d)
        val b = Asof.backward(purchases, clicks, "user_id", "ts", Seq("click_id"))
          .select(col("user_id"), col("purchase_id"), col("ts"),
            col("asof_click_id").as("b_id"), col("asof_ts").as("b_ts"))
        val f = Asof.forward(purchases, clicks, "user_id", "ts", Seq("click_id"))
          .select(col("purchase_id").as("p2"),
            col("asof_click_id").as("f_id"), col("asof_ts").as("f_ts"))
        def us(c: Column) = unix_micros(c.cast("timestamp"))
        val gb = us(col("ts")) - us(col("b_ts"))
        val gf = us(col("f_ts")) - us(col("ts"))
        b.join(f, col("purchase_id") === col("p2"))
          .select(col("user_id"), col("purchase_id"),
            when(col("b_ts").isNull && col("f_ts").isNull, lit(null))
              .when(col("f_ts").isNull, col("b_id"))
              .when(col("b_ts").isNull, col("f_id"))
              .when(gb <= gf, col("b_id")).otherwise(col("f_id"))
              .as("nearest_click_id"),
            when(col("b_ts").isNull && col("f_ts").isNull, lit(null))
              .when(col("f_ts").isNull, lit("b"))
              .when(col("b_ts").isNull, lit("f"))
              .when(gb <= gf, lit("b")).otherwise(lit("f"))
              .as("direction"),
            when(col("b_ts").isNull && col("f_ts").isNull, lit(null))
              .when(col("f_ts").isNull, gb)
              .when(col("b_ts").isNull, gf)
              .when(gb <= gf, gb).otherwise(gf)
              .as("gap_us"))
          .orderBy("user_id", "purchase_id")
      },
      Some(s"""WITH $asofUnionSql, w AS (
                SELECT *,
                  LAST_VALUE(click_id IGNORE NULLS) OVER winb AS b_id,
                  LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER winb AS b_ts,
                  FIRST_VALUE(click_id IGNORE NULLS) OVER winf AS f_id,
                  FIRST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                    OVER winf AS f_ts
                FROM u
                WINDOW winb AS (PARTITION BY user_id ORDER BY ts, side, click_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       winf AS (PARTITION BY user_id ORDER BY ts, side DESC, click_id
                                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              )
              SELECT user_id, purchase_id,
                CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
                     WHEN f_ts IS NULL THEN b_id
                     WHEN b_ts IS NULL THEN f_id
                     WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts) THEN b_id
                     ELSE f_id END AS nearest_click_id,
                CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
                     WHEN f_ts IS NULL THEN 'b'
                     WHEN b_ts IS NULL THEN 'f'
                     WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts) THEN 'b'
                     ELSE 'f' END AS direction,
                CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
                     WHEN f_ts IS NULL THEN epoch_us(ts) - epoch_us(b_ts)
                     WHEN b_ts IS NULL THEN epoch_us(f_ts) - epoch_us(ts)
                     WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)
                       THEN epoch_us(ts) - epoch_us(b_ts)
                     ELSE epoch_us(f_ts) - epoch_us(ts) END AS gap_us
              FROM w WHERE side = 1 ORDER BY user_id, purchase_id""")),

    // Per-group feature STANDARDIZATION (z-scores): each user's values
    // centered and scaled by their own population moments — the feature-
    // engineering transform every model input pipeline runs. Moments from
    // rounded sums (the autocorr determinism recipe), z stated with the
    // identical expression shape on both engines; the per-user moment
    // relation is O(users) and joins back on the existing clustering.
    Q("q_agg_standardize",
      (s, d) => {
        val m = t(s, d, "events").groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            round(sum("value"), 4).as("sx"),
            round(sum(col("value") * col("value")), 4).as("sxx"))
          .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
        t(s, d, "events").join(m, Seq("user_id"))
          .select(col("user_id"), col("event_id"),
            round((col("value") - col("sx") / col("n")) /
              sqrt(col("sxx") / col("n") -
                (col("sx") / col("n")) * (col("sx") / col("n"))), 6).as("z"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH m AS (SELECT user_id, COUNT(*) AS n,
                ROUND(SUM(value), 4) AS sx,
                ROUND(SUM(value * value), 4) AS sxx
                FROM events GROUP BY user_id)
              SELECT e.user_id, e.event_id,
                ROUND((e.value - sx / n) /
                  sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS z
              FROM events e JOIN m ON m.user_id = e.user_id
              WHERE n * sxx - sx * sx > 0
              ORDER BY e.user_id, e.event_id""")),

    // SKYLINE (2-D Pareto frontier): customers not dominated on
    // (order count, total spend). NOT the naive O(n²) dominance
    // anti-join: a point is dominated iff a strictly-higher-total point
    // has >= its count, or an equal-total point has a strictly higher
    // count — both are WINDOW maxima over the integer total key (totals
    // round at 2 then scale to integer cents, so the RANGE frame is
    // exact). TWO-PHASE for scale: a bucket-partitioned pass prunes each
    // hash bucket to its LOCAL frontier in parallel (skyline(∪ local
    // skylines) = skyline, so nothing is lost), then the same window
    // runs globally on the tiny surviving set — no full-corpus
    // single-partition sort anywhere. Frontier output is O(skyline).
    Q("q_agg_skyline",
      (s, d) => {
        def frontier(df: DataFrame, bucketed: Boolean): DataFrame = {
          val parts: Seq[Column] = if (bucketed) Seq(col("bkt")) else Nil
          val wGt = Window.partitionBy(parts: _*).orderBy("tkey")
            .rangeBetween(1, Window.unboundedFollowing)
          val wEq = Window.partitionBy(parts :+ col("tkey"): _*)
          df.withColumn("max_gt", max("n_orders").over(wGt))
            .withColumn("max_eq", max("n_orders").over(wEq))
            .filter(!(coalesce(col("max_gt") >= col("n_orders"), lit(false)) ||
              col("max_eq") > col("n_orders")))
            .drop("max_gt", "max_eq")
        }
        val per = t(s, d, "orders").groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("total"))
          .withColumn("tkey", expr("CAST(round(total * 100) AS BIGINT)"))
          .withColumn("bkt", pmod(col("o_custkey"), lit(32)))
        frontier(frontier(per, bucketed = true), bucketed = false)
          .select(col("o_custkey"), col("n_orders"), col("total"))
          .orderBy("o_custkey")
      },
      Some("""WITH per AS (SELECT o_custkey, COUNT(*) AS n_orders,
                ROUND(SUM(o_totalprice), 2) AS total,
                CAST(round(ROUND(SUM(o_totalprice), 2) * 100) AS BIGINT) AS tkey
                FROM orders GROUP BY o_custkey),
              w AS (SELECT o_custkey, n_orders, total,
                MAX(n_orders) OVER (ORDER BY tkey
                  RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS max_gt,
                MAX(n_orders) OVER (PARTITION BY tkey) AS max_eq
                FROM per)
              SELECT o_custkey, n_orders, total FROM w
              WHERE NOT (COALESCE(max_gt >= n_orders, FALSE) OR max_eq > n_orders)
              ORDER BY o_custkey""")),

    // WINSORIZED mean (5%-95% clip) per group beside the raw mean — the
    // robust location estimate that survives the heavy tail the outlier
    // row flags. Exact interpolated percentiles (Spark percentile ==
    // DuckDB quantile_cont), clip bounds rounded at 6 before the clamp
    // so the boundary decision is engine-exact; two aggregates over one
    // clustering.
    Q("q_agg_winsorized",
      (s, d) => {
        val b = t(s, d, "events").groupBy("event_type")
          .agg(round(expr("percentile(value, 0.05)"), 6).as("lo"),
            round(expr("percentile(value, 0.95)"), 6).as("hi"))
        t(s, d, "events").join(b, Seq("event_type"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(avg("value"), 4).as("raw_mean"),
            round(avg(least(greatest(col("value"), col("lo")), col("hi"))), 4)
              .as("wins_mean"),
            round(max(col("lo")), 6).as("lo"), round(max(col("hi")), 6).as("hi"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (SELECT event_type,
                ROUND(quantile_cont(value, 0.05), 6) AS lo,
                ROUND(quantile_cont(value, 0.95), 6) AS hi
                FROM events GROUP BY event_type)
              SELECT e.event_type, COUNT(*) AS n,
                ROUND(AVG(value), 4) AS raw_mean,
                ROUND(AVG(LEAST(GREATEST(value, b.lo), b.hi)), 4) AS wins_mean,
                ROUND(MAX(b.lo), 6) AS lo, ROUND(MAX(b.hi), 6) AS hi
              FROM events e JOIN b USING (event_type)
              GROUP BY e.event_type ORDER BY e.event_type""")),

    // RUNS count (Wald-Wolfowitz shape): per user in event-time order,
    // the number of maximal runs of values above/below their own median
    // — too few runs flags trending/auto-correlated series, too many
    // flags oscillation. Runs = 1 + sign changes via one lag over the
    // user clustering; the median compare uses the round-6 value so the
    // side assignment is engine-exact (exact-median rows are dropped on
    // both sides identically).
    Q("q_agg_runs",
      (s, d) => {
        val med = t(s, d, "events").groupBy("user_id")
          .agg(round(median(col("value")), 6).as("med"))
        val side = t(s, d, "events").join(med, Seq("user_id"))
          .filter(round(col("value"), 6) =!= col("med"))
          .select(col("user_id"), col("ts"), col("event_id"),
            (round(col("value"), 6) > col("med")).cast("int").as("s"))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        side.withColumn("prev", lag(col("s"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_obs"),
            (sum(when(col("prev").isNotNull && col("prev") =!= col("s"), 1L)
              .otherwise(0L)) + 1L).as("n_runs"))
          .orderBy("user_id")
      },
      Some("""WITH med AS (SELECT user_id, ROUND(MEDIAN(value), 6) AS med
                FROM events GROUP BY user_id),
              side AS (SELECT e.user_id, e.ts, e.event_id,
                CAST(ROUND(e.value, 6) > med AS INT) AS s
                FROM events e JOIN med USING (user_id)
                WHERE ROUND(e.value, 6) <> med),
              lagged AS (SELECT user_id, s,
                LAG(s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM side)
              SELECT user_id, COUNT(*) AS n_obs,
                CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> s THEN 1 ELSE 0 END)
                  + 1 AS BIGINT) AS n_runs
              FROM lagged GROUP BY user_id ORDER BY user_id""")),

    // CHI-SQUARE test of INDEPENDENCE between event type and day-of-week:
    // the contingency table plus Σ (obs − exp)²/exp with exp =
    // row·col/total — "is behavior day-dependent?". One grouped count
    // (the table is O(types × 7)); expected counts round at 4 before the
    // identically-shaped statistic on both engines.
    Q("q_agg_chisq",
      (s, d) => {
        val cell = t(s, d, "events")
          .select(col("event_type"),
            expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 % 7").as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("obs"))
        val withMargins = cell
          .withColumn("rt", sum("obs").over(Window.partitionBy("event_type")))
          .withColumn("ct", sum("obs").over(Window.partitionBy("dow")))
          .withColumn("n", sum("obs").over(Window.partitionBy(lit(1))))
          .withColumn("exp", round(col("rt") * col("ct") * 1.0 / col("n"), 4))
        withMargins
          .select(col("event_type"), col("dow"), col("obs"), col("exp"),
            round(pow(col("obs") - col("exp"), 2) / col("exp"), 6).as("chi2_term"))
          .orderBy("event_type", "dow")
      },
      Some("""WITH cell AS (SELECT event_type,
                CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7 AS dow,
                COUNT(*) AS obs
                FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, dow, obs,
                ROUND(SUM(obs) OVER (PARTITION BY event_type)
                  * SUM(obs) OVER (PARTITION BY dow) * 1.0
                  / SUM(obs) OVER (), 4) AS exp
                FROM cell)
              SELECT event_type, dow, obs, exp,
                ROUND(POWER(obs - exp, 2) / exp, 6) AS chi2_term
              FROM m ORDER BY event_type, dow""")),

    // Two-sample KOLMOGOROV-SMIRNOV statistic: D = max |F_click − F_purchase|
    // over the pooled value points — the distribution-equality test
    // beside Welch's t (which only sees means). CDF steps come from one
    // per-distinct-value aggregate + running sums; the max compares
    // exact integer count ratios, rounded at 6 for the readout only.
    // Scale note: the two CDF running sums go through
    // RangedRank.withRunningTotals (range-sharded, no global
    // single-partition window), and the aggregate reduces to O(distinct
    // values) first; the grand totals come from a scalar aggregate
    // cross-joined back rather than a partition-less window.
    Q("q_agg_kstest",
      (s, d) => {
        val e = t(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
        val cnt = e.groupBy("value")
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
        val totals = cnt.agg(sum("c1").as("n1"), sum("c2").as("n2"))
        val steps = RangedRank.withRunningTotals(cnt, Seq.empty, Seq("value"),
            Seq("c1" -> "f1", "c2" -> "f2"))
          .crossJoin(broadcast(totals))
        steps.agg(
            max(abs(col("f1") * lit(1.0) / col("n1") -
              col("f2") * lit(1.0) / col("n2"))).as("d0"),
            max(col("n1")).as("n1"), max(col("n2")).as("n2"))
          .select(round(col("d0"), 6).as("ks_d"), col("n1"), col("n2"))
      },
      Some("""WITH e AS (SELECT event_type, value FROM events
                WHERE event_type IN ('click', 'purchase')),
              cnt AS (SELECT value,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
                FROM e GROUP BY value),
              steps AS (SELECT
                SUM(c1) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS f1,
                SUM(c2) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS f2,
                SUM(c1) OVER () AS n1, SUM(c2) OVER () AS n2
                FROM cnt)
              SELECT ROUND(MAX(ABS(f1 * 1.0 / n1 - f2 * 1.0 / n2)), 6) AS ks_d,
                CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2
              FROM steps""")),

    // BENFORD first-digit audit: observed leading-digit distribution of
    // order totals vs Benford's log10(1+1/d) expectation, with each
    // digit's chi-square contribution — the forensic data-quality check
    // for fabricated or truncated numeric columns. One projection + one
    // 9-row aggregate; expectation terms are literals computed identically
    // from the same formula on both engines.
    Q("q_agg_benford",
      (s, d) => {
        val n = t(s, d, "orders").count().toDouble
        val digits = t(s, d, "orders")
          .select(substring(format_number(col("o_totalprice"), 6), 1, 1)
            .cast("int").as("digit"))
          .filter(col("digit").between(1, 9))
          .groupBy("digit").agg(count(lit(1)).as("observed"))
        digits
          .withColumn("expected",
            round(lit(n) * log10(lit(1.0) + lit(1.0) / col("digit")), 4))
          .select(col("digit"), col("observed"), col("expected"),
            round(pow(col("observed") - col("expected"), 2) / col("expected"), 6)
              .as("chi2_term"))
          .orderBy("digit")
      },
      Some("""WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM orders),
              digs AS (SELECT CAST(substring(format('{:.6f}', o_totalprice), 1, 1) AS INT) AS digit
                       FROM orders),
              obs AS (SELECT digit, COUNT(*) AS observed FROM digs
                      WHERE digit BETWEEN 1 AND 9 GROUP BY digit)
              SELECT digit, observed,
                ROUND(n.n * log10(1.0 + 1.0 / digit), 4) AS expected,
                ROUND(POWER(observed - ROUND(n.n * log10(1.0 + 1.0 / digit), 4), 2)
                  / ROUND(n.n * log10(1.0 + 1.0 / digit), 4), 6) AS chi2_term
              FROM obs CROSS JOIN n ORDER BY digit""")),

    // MARKET-BASKET ASSOCIATION RULES (Apriori-pruned frequent pairs):
    // baskets are orders, items the brands they contain; mine
    // {ante} ⇒ {cons} rules with support/confidence/lift, top-20 by lift.
    // The scale discipline IS the Apriori prune: items below min-support
    // are dropped BEFORE any pairing (downward closure — no frequent pair
    // contains an infrequent item), so the within-basket self-join pairs
    // only frequent items and the frequent-item list rides a broadcast.
    // Pair generation shuffles once on the basket key and is bounded by
    // basket_size² per order — never corpus²; pair counts partial-combine
    // map-side like any hash aggregate. At 100 TB the same plan holds:
    // the prune keeps the pair space proportional to baskets, not to the
    // item vocabulary squared.
    Q("q_agg_assoc_rules",
      (s, d) => {
        val (items, fitems) = assocFitems(s, d)
        // shuffle (o, item) only through the basket self-join (guide
        // §2.3 — project before the exchange): sup is FUNCTIONAL on
        // item (one support per item), so min(a.sup) over a pair group
        // equals the item's support — attach it AFTER the aggregate
        // from the O(items) broadcast side instead of carrying 8 bytes
        // per row through both shuffles of the widest join in the row.
        val fi = fitems.select("o", "item")
        val sups = fitems.select("item", "sup").distinct()
        def supAs(key: String, as: String) = broadcast(
          sups.withColumnRenamed("item", key).withColumnRenamed("sup", as))
        val pairs = fi.as("a").join(fi.as("b"),
            col("a.o") === col("b.o") && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("ante"), col("b.item").as("cons"))
          .agg(count(lit(1)).as("pair_sup"))
          .filter(col("pair_sup") >= 40)
          .join(supAs("ante", "sup_a"), "ante")
          .join(supAs("cons", "sup_b"), "cons")
        val rules = pairs.select(col("ante"), col("cons"), col("pair_sup"),
            col("sup_a").as("sup_ante"), col("sup_b").as("sup_cons"))
          .unionByName(pairs.select(col("cons").as("ante"),
            col("ante").as("cons"), col("pair_sup"),
            col("sup_b").as("sup_ante"), col("sup_a").as("sup_cons")))
        val out = rules.crossJoin(broadcast(
            items.agg(countDistinct("o").as("total")))) // 1-row scalar
          .select(col("ante"), col("cons"), col("pair_sup"),
            round(col("pair_sup") * lit(1.0) / col("sup_ante"), 6)
              .as("confidence"),
            round(col("pair_sup") * lit(1.0) * col("total") /
              (col("sup_ante") * col("sup_cons")), 6).as("lift"))
          .orderBy(desc("lift"), asc("ante"), asc("cons"))
          .limit(20)
          .localCheckpoint()
        Seq(items, fitems).foreach(graft.plans.Iterate.release)
        out
      },
      Some(s"""WITH $assocFitemsSql,
              pairs AS (SELECT a.item AS ante, b.item AS cons,
                  COUNT(*) AS pair_sup, MIN(a.sup) AS sup_a, MIN(b.sup) AS sup_b
                FROM fitems a JOIN fitems b ON a.o = b.o AND a.item < b.item
                GROUP BY 1, 2 HAVING COUNT(*) >= 40),
              rules AS (
                SELECT ante, cons, pair_sup, sup_a AS sup_ante, sup_b AS sup_cons
                FROM pairs
                UNION ALL
                SELECT cons, ante, pair_sup, sup_b, sup_a FROM pairs)
              SELECT ante, cons, pair_sup,
                ROUND(pair_sup * 1.0 / sup_ante, 6) AS confidence,
                ROUND(pair_sup * 1.0 * total / (sup_ante * sup_cons), 6) AS lift
              FROM rules CROSS JOIN n
              ORDER BY lift DESC, ante, cons LIMIT 20""")),

    // LEVEL-3 Apriori: frequent TRIPLES mined level-wise — candidate
    // 3-itemsets are generated only where ALL THREE sub-pairs passed the
    // pair threshold (downward closure applied at level 2, not just
    // level 1), then counted within baskets and kept at the triple
    // threshold. The pair relation is tiny after pruning and rides
    // broadcast semijoins against the basket self-join, so level 3 costs
    // one more within-basket join, never |items|³. This is the general
    // level-wise shape: level k prunes on level k−1's survivors.
    Q("q_agg_assoc_triples",
      (s, d) => {
        val (items, fitems) = assocFitems(s, d)
        // same shuffle-byte trim as q_agg_assoc_rules: the 3-way basket
        // self-join carries (o, item) only; supports are functional on
        // item and re-attach post-aggregate from the O(items) broadcast
        // side (guide §2.3).
        val fi = fitems.select("o", "item")
        val sups = fitems.select("item", "sup").distinct()
        def supAs(key: String, as: String) = broadcast(
          sups.withColumnRenamed("item", key).withColumnRenamed("sup", as))
        val fpairs = fi.as("a").join(fi.as("b"),
            col("a.o") === col("b.o") && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("i1"), col("b.item").as("i2"))
          .agg(count(lit(1)).as("ps")).filter(col("ps") >= 40)
          .select("i1", "i2").localCheckpoint() // tiny; 3 broadcast probes
        def pairOk(tag: String) =
          broadcast(fpairs.withColumnRenamed("i1", s"${tag}_1")
            .withColumnRenamed("i2", s"${tag}_2"))
        val trip = fi.as("a")
          .join(fi.as("b"), col("a.o") === col("b.o") && col("a.item") < col("b.item"))
          .join(fi.as("c"), col("b.o") === col("c.o") && col("b.item") < col("c.item"))
          .join(pairOk("p12"),
            col("a.item") === col("p12_1") && col("b.item") === col("p12_2"))
          .join(pairOk("p13"),
            col("a.item") === col("p13_1") && col("c.item") === col("p13_2"))
          .join(pairOk("p23"),
            col("b.item") === col("p23_1") && col("c.item") === col("p23_2"))
          .groupBy(col("a.item").as("i1"), col("b.item").as("i2"),
            col("c.item").as("i3"))
          .agg(count(lit(1)).as("sup3"))
          .filter(col("sup3") >= 15)
          .join(supAs("i1", "s1"), "i1")
          .join(supAs("i2", "s2"), "i2")
          .join(supAs("i3", "s3"), "i3")
        val out = trip
          .crossJoin(broadcast(items.agg(countDistinct("o").as("total"))))
          .select(col("i1"), col("i2"), col("i3"), col("sup3"),
            round(col("sup3") * lit(1.0) * col("total") * col("total") /
              (col("s1") * col("s2") * col("s3")), 6).as("lift3"))
          .orderBy(desc("sup3"), asc("i1"), asc("i2"), asc("i3"))
          .limit(15)
          .localCheckpoint()
        Seq(items, fitems, fpairs).foreach(graft.plans.Iterate.release)
        out
      },
      Some(s"""WITH $assocFitemsSql,
              fpairs AS (SELECT a.item AS i1, b.item AS i2
                FROM fitems a JOIN fitems b ON a.o = b.o AND a.item < b.item
                GROUP BY 1, 2 HAVING COUNT(*) >= 40),
              trip AS (SELECT a.item AS i1, b.item AS i2, c.item AS i3,
                  COUNT(*) AS sup3,
                  MIN(a.sup) AS s1, MIN(b.sup) AS s2, MIN(c.sup) AS s3
                FROM fitems a JOIN fitems b ON a.o = b.o AND a.item < b.item
                     JOIN fitems c ON b.o = c.o AND b.item < c.item
                     JOIN fpairs p12 ON p12.i1 = a.item AND p12.i2 = b.item
                     JOIN fpairs p13 ON p13.i1 = a.item AND p13.i2 = c.item
                     JOIN fpairs p23 ON p23.i1 = b.item AND p23.i2 = c.item
                GROUP BY 1, 2, 3 HAVING COUNT(*) >= 15)
              SELECT i1, i2, i3, sup3,
                ROUND(sup3 * 1.0 * total * total / (s1 * s2 * s3), 6) AS lift3
              FROM trip CROSS JOIN n
              ORDER BY sup3 DESC, i1, i2, i3 LIMIT 15""")),

    // ---- §2.7 sorts / top-k / set ops ------------------------------------
    Q("q_sort_topk",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(10),
      Some("""SELECT c_custkey, c_name, ROUND(SUM(o_totalprice), 2) AS revenue
              FROM customer JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey, c_name
              ORDER BY revenue DESC, c_custkey LIMIT 10""")),

    // top-N per group = semi-clustering's bounded candidate list shape
    // (ml/.../semiclustering/SemiClusteringVertex.java:68-93).
    // Scale note: the rank-filter pattern plans as WindowGroupLimit
    // (Partial map-side + Final) in Spark 4 — each mapper ships ≤N rows
    // per group, so a hot group never rides the shuffle whole; this is
    // why rank-FILTER windows are exempt from the round-8 hot-key
    // de-windowing (WindowLimitSpec pins the plan shape).
    Q("q_topk_window",
      (s, d) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(desc("p_retailprice"), asc("p_partkey"))
        t(s, d, "part")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
          .orderBy("p_brand", "rn")
      },
      Some("""SELECT p_brand, rn, p_partkey, p_retailprice FROM (
                SELECT p_brand, p_partkey, p_retailprice,
                       ROW_NUMBER() OVER (PARTITION BY p_brand
                                          ORDER BY p_retailprice DESC, p_partkey) AS rn
                FROM part) t
              WHERE rn <= 3 ORDER BY p_brand, rn""")),

    // DETERMINISTIC per-group RESERVOIR sample: k uniform-without-
    // replacement picks per group as the k SMALLEST salted hashes — the
    // distributed equivalent of reservoir sampling (hash order is a
    // uniform random permutation, fixed by the salt so both engines and
    // every re-run agree). The inspection primitive every corpus triage
    // starts with ("show me 3 random docs per source"). Same
    // WindowGroupLimit shape as q_topk_window: each mapper ships ≤k rows
    // per group, so the sample never rides a hot group through the
    // shuffle whole.
    Q("q_agg_reservoir",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(asc("hk"), asc("doc_id"))
        Tables(s, d, "documents")
          .select(col("source"), col("doc_id"),
            Relational.reservoirHk.as("hk"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= Relational.reservoirK)
          .select(col("source"), col("rn").cast("long").as("rank"), col("doc_id"))
          .orderBy("source", "rank")
      },
      Some(Relational.reservoirSql)),

    // WEIGHTED reservoir (Efraimidis–Spirakis A-Res): k picks per group
    // with inclusion probability ∝ weight (doc length here — the
    // token-budget-aware inspection sample), as the k LARGEST keys
    // u^(1/w) where u is a deterministic salted-hash draw in (0,1).
    // u is integer-exact on both engines (48 hash bits < 2^53, divided
    // by 2^48 — a power of two, so the quotient is bit-identical); the
    // pow() key rounds at 9 before ranking (the q_sim_ivf_trained
    // rounded-compare-layer discipline: libm vs JDK pow may differ in
    // the last ulp, and the 1e-9 grid keeps that ~7 orders of magnitude
    // from any rank boundary), ties to doc_id. Same WindowGroupLimit
    // shape as the unweighted row.
    Q("q_agg_reservoir_weighted",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(desc("key"), asc("doc_id"))
        Tables(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"),
            expr("round(pow(CAST(conv(substring(md5(concat('wrs1-', doc_id)), 1, 12), 16, 10) AS DOUBLE) / 281474976710656.0, 1.0 / n_chars), 9)")
              .as("key"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("source"), col("rn").cast("long").as("rank"),
            col("doc_id"), col("n_chars"))
          .orderBy("source", "rank")
      },
      Some("""SELECT source, CAST(rn AS BIGINT) AS rank, doc_id, n_chars FROM (
                SELECT source, doc_id, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY
                    round(pow(CAST(CAST('0x' || substring(md5('wrs1-' || doc_id), 1, 12) AS UBIGINT) AS DOUBLE) / 281474976710656.0, 1.0 / n_chars), 9) DESC,
                    doc_id) AS rn
                FROM documents) t
              WHERE rn <= 3 ORDER BY source, rank""")),

    Q("q_set_ops",
      (s, d) => {
        val a = t(s, d, "orders").filter(col("o_orderkey") % 2 === 0).select(col("o_orderkey").as("k"))
        val b = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0).select(col("o_orderkey").as("k"))
        a.intersect(b).select(lit("intersect").as("op"), col("k"))
          .unionAll(a.except(b).select(lit("except").as("op"), col("k")))
          .orderBy("op", "k")
      },
      Some("""WITH a AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0),
                   b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 = 0)
              SELECT * FROM (
                SELECT 'intersect' AS op, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
                UNION ALL
                SELECT 'except' AS op, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)) t
              ORDER BY op, k""")),

    // ---- §2.8 scalar functions -------------------------------------------
    Q("q_fn_string",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 5)).as("pfx"),
        element_at(split(col("p_type"), " "), 1).as("type_head"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 5)) AS pfx,
              string_split(p_type, ' ')[1] AS type_head,
              LENGTH(p_name)::BIGINT AS name_len,
              regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
              FROM part ORDER BY p_partkey""")),

    Q("q_fn_date",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        date_trunc("month", col("o_orderdate")).as("mstart"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
              CAST(year(o_orderdate) AS BIGINT) AS yr,
              CAST(month(o_orderdate) AS BIGINT) AS mo,
              date_trunc('month', o_orderdate) AS mstart,
              CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
              FROM orders ORDER BY o_orderkey""")),

    Q("q_fn_math",
      (s, d) => t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(pow(col("l_discount") + 1, 2), 6).as("pow_disc"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        ceil(col("l_quantity")).as("ceil_qty"),
        floor(col("l_tax") * 100).as("floor_tax"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
              ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
              ROUND(POWER(l_discount + 1, 2), 6) AS pow_disc,
              ROUND(LN(l_extendedprice), 6) AS ln_price,
              CAST(CEIL(l_quantity) AS BIGINT) AS ceil_qty,
              CAST(FLOOR(l_tax * 100) AS BIGINT) AS floor_tax
              FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // JSON extraction — PageRank's JSON vertex reader capability
    // (examples/.../PageRank.java:111-140 uses org.json.simple)
    Q("q_fn_json",
      (s, d) => t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events ORDER BY event_id""")),

    // Array family: build per-group arrays (collect_list = the typed message
    // inbox shape), then sort/filter/reduce them with higher-order functions.
    // Oracle states the same semantics as plain aggregates.
    Q("q_fn_array",
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(collect_list("l_linenumber").as("lns"))
        .select(col("l_orderkey"),
          size(col("lns")).cast("long").as("n_lines"),
          element_at(array_sort(col("lns")), 1).as("first_ln"),
          element_at(array_sort(col("lns")), -1).as("last_ln"),
          size(filter(col("lns"), x => x > 3)).cast("long").as("n_gt3"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, COUNT(*) AS n_lines,
              MIN(l_linenumber) AS first_ln, MAX(l_linenumber) AS last_ln,
              COUNT(*) FILTER (WHERE l_linenumber > 3) AS n_gt3
              FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // Map family (MapWritable analogue, SURVEY.md §1.2): construct a map
    // column, then read it back via key lookup / cardinality — outputs are
    // scalar so the oracle is plain column SQL.
    Q("q_fn_map",
      (s, d) => {
        val m = map_from_arrays(
          array(lit("status"), lit("prio")),
          array(col("o_orderstatus"), col("o_orderpriority")))
        t(s, d, "orders").select(
          col("o_orderkey"),
          element_at(m, "status").as("status_v"),
          element_at(m, "prio").as("prio_v"),
          size(map_keys(m)).cast("long").as("nkeys"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus AS status_v,
              o_orderpriority AS prio_v, CAST(2 AS BIGINT) AS nkeys
              FROM orders ORDER BY o_orderkey""")),

    // Struct construction / field access / JSON round-trip — the nested-
    // type surface a lake schema leans on: build a struct, read fields
    // back, serialize to canonical JSON. Key order is declaration order
    // in both engines, so the JSON strings compare exactly.
    Q("q_fn_struct",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        struct(col("o_orderstatus").as("st"), col("o_totalprice").as("tp")).as("o"))
        .select(col("o_orderkey"),
          col("o.st").as("st"),
          round(col("o.tp"), 2).as("tp"),
          to_json(struct(col("o.st").as("st"),
            round(col("o.tp"), 2).as("tp"))).as("js"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus AS st,
              ROUND(o_totalprice, 2) AS tp,
              '{"st":"' || o_orderstatus || '","tp":' ||
                CAST(ROUND(o_totalprice, 2) AS VARCHAR) || '}' AS js
              FROM orders ORDER BY o_orderkey""")),

    // §2.10 SQL-function surface: the native codegen'd kernels called by
    // their injected SQL names (GraftExtensions/GraftFunctions) through
    // spark.sql — proving the pure-SQL user gets the same expressions as
    // the Column API. Both engines cast float→double BEFORE multiplying
    // and sum in list order, so the doubles are bit-identical pre-round.
    Q("q_fn_vec_sql",
      (s, d) => {
        GraftFunctions.register(s) // no-op on graft sessions (extension-injected)
        t(s, d, "embeddings").createOrReplaceTempView("graft_embeddings")
        // zero-vector guard: cosine(0,0) is 0/0 = NaN in double arithmetic
        // (no ANSI divide error) while the oracle's literal is 1.0 — treat
        // a zero vector as self-similar explicitly
        s.sql("""SELECT vec_id,
                        ROUND(vec_dot(embedding, embedding), 6) AS norm_sq,
                        ROUND(CASE WHEN vec_dot(embedding, embedding) = 0 THEN 1.0
                              ELSE vec_cosine(embedding, embedding) END, 6) AS self_cos
                 FROM graft_embeddings ORDER BY vec_id""")
      },
      Some("""SELECT vec_id,
                ROUND(list_aggregate(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6) AS norm_sq,
                1.0 AS self_cos
              FROM embeddings ORDER BY vec_id""")),

    // PIVOT: wide conditional aggregation. Values are declared explicitly
    // (Seq("O","F","P")) so the plan is a single hash aggregate — Spark's
    // value-discovery pivot would add a distinct-collect job, the wrong
    // call at scale where the value domain is known.
    Q("q_agg_pivot",
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .withColumnsRenamed(Map("O" -> "tot_o", "F" -> "tot_f", "P" -> "tot_p"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
              ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS tot_o,
              ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS tot_f,
              ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS tot_p
              FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // UNPIVOT (melt): wide → long without a shuffle — pure projection +
    // generate, so it composes with any downstream aggregate at scale.
    Q("q_agg_unpivot",
      (s, d) => t(s, d, "part")
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_retailprice"), col("p_size").cast("double").as("p_size")),
          "metric", "value")
        .orderBy("p_partkey", "metric"),
      Some("""SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
              FROM part
              UNION ALL
              SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
              FROM part
              ORDER BY p_partkey, metric""")),

    // Higher statistical moments + exact median, all one partial-aggregable
    // pass (median excepted: Spark computes it exactly via sort-based agg).
    // Spark's skewness/kurtosis are the POPULATION forms; DuckDB's SKEWNESS
    // is sample-corrected, so the oracle converts (g1 = G1·(n-2)/√(n(n-1)))
    // and uses KURTOSIS_POP directly.
    Q("q_agg_moments",
      (s, d) => t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          round(median(col("l_quantity")), 6).as("med_qty"),
          round(skewness(col("l_extendedprice")), 6).as("skew_price"),
          round(kurtosis(col("l_extendedprice")), 6).as("kurt_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
              ROUND(MEDIAN(l_quantity), 6) AS med_qty,
              ROUND(SKEWNESS(l_extendedprice) * (COUNT(*) - 2)
                    / SQRT(COUNT(*) * (COUNT(*) - 1.0)), 6) AS skew_price,
              ROUND(KURTOSIS_POP(l_extendedprice), 6) AS kurt_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Equi-width histogram via the codegen'd width_bucket expression —
    // single hash aggregate over the scan, the O(n) shape that holds at
    // any scale (no sort, no global pass to find bounds: they're declared).
    // The oracle replicates Spark's exact bucket arithmetic
    // (floor((x − lo) / ((hi − lo) / nb)) + 1, under/overflow → 0 / nb+1)
    // so boundary rows land identically in both engines.
    Q("q_agg_histogram",
      (s, d) => t(s, d, "lineitem")
        .select(width_bucket(col("l_extendedprice"), lit(900.0), lit(105000.0),
          lit(20)).as("bucket"), col("l_extendedprice").as("x"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          round(min(col("x")), 2).as("lo_x"),
          round(max(col("x")), 2).as("hi_x"))
        .orderBy("bucket"),
      Some("""WITH b AS (SELECT CASE WHEN l_extendedprice < 900.0 THEN 0
                WHEN l_extendedprice >= 105000.0 THEN 21
                ELSE CAST(FLOOR((l_extendedprice - 900.0)
                                / ((105000.0 - 900.0) / 20)) AS BIGINT) + 1
                END AS bucket, l_extendedprice AS x FROM lineitem)
              SELECT bucket, COUNT(*) AS cnt, ROUND(MIN(x), 2) AS lo_x,
                ROUND(MAX(x), 2) AS hi_x
              FROM b GROUP BY bucket ORDER BY bucket""")),

    // Built-in linear-regression aggregates (closed-form OLS from running
    // sums — the partial-combining cousins of q_ml_linreg's GD): slope,
    // intercept, and R² of price vs quantity per returnflag.
    Q("q_agg_regr",
      (s, d) => t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
              ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
              ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS icept,
              ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2,
              CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // first/last/nth_value window functions over an explicit full-partition
    // frame (default frames differ subtly across engines; declaring
    // UNBOUNDED..UNBOUNDED makes last/nth well-defined in both).
    Q("q_window_first_last",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
              FIRST_VALUE(o_orderkey) OVER w AS first_ok,
              LAST_VALUE(o_orderkey) OVER w AS last_ok,
              NTH_VALUE(o_orderkey, 2) OVER w AS second_ok
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)
              ORDER BY o_custkey, o_orderkey""")),

    // Median absolute deviation — the robust spread statistic (outliers
    // move stddev, not MAD). Two grouped exact medians with a join
    // between them; at scale each median is Spark's sort-based exact
    // aggregate within the group.
    Q("q_agg_mad",
      (s, d) => {
        val med = t(s, d, "lineitem").groupBy(col("l_returnflag"))
          .agg(median(col("l_quantity")).as("med"))
        t(s, d, "lineitem").join(med, Seq("l_returnflag"))
          .groupBy(col("l_returnflag"))
          .agg(round(max(col("med")), 6).as("med_qty"),
            round(median(abs(col("l_quantity") - col("med"))), 6).as("mad_qty"))
          .orderBy("l_returnflag")
      },
      Some("""WITH med AS (SELECT l_returnflag, MEDIAN(l_quantity) AS med
                           FROM lineitem GROUP BY l_returnflag)
              SELECT l.l_returnflag,
                ROUND(MAX(med), 6) AS med_qty,
                ROUND(MEDIAN(ABS(l.l_quantity - med)), 6) AS mad_qty
              FROM lineitem l JOIN med USING (l_returnflag)
              GROUP BY l.l_returnflag ORDER BY l.l_returnflag""")),

    // Welch's two-sample t-test (unequal variances) from one conditional
    // aggregate pass — the A/B readout: does returnflag R's price differ
    // from A's? Everything is sums/counts, so the whole statistic
    // partial-combines; df is Welch–Satterthwaite.
    Q("q_agg_ttest",
      (s, d) => {
        val x = col("l_extendedprice")
        val a = col("l_returnflag") === "A"
        val r = col("l_returnflag") === "R"
        t(s, d, "lineitem").filter(a || r)
          .agg(
            count(when(a, 1)).as("n1"), count(when(r, 1)).as("n2"),
            avg(when(a, x)).as("m1"), avg(when(r, x)).as("m2"),
            var_samp(when(a, x)).as("v1"), var_samp(when(r, x)).as("v2"))
          .select(col("n1"), col("n2"),
            round(col("m1"), 4).as("m1"), round(col("m2"), 4).as("m2"),
            round((col("m1") - col("m2")) /
              sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 6).as("t_stat"),
            round(pow(col("v1") / col("n1") + col("v2") / col("n2"), 2) /
              (pow(col("v1") / col("n1"), 2) / (col("n1") - 1) +
               pow(col("v2") / col("n2"), 2) / (col("n2") - 1)), 4).as("df"))
      },
      Some("""SELECT CAST(COUNT(*) FILTER (l_returnflag = 'A') AS BIGINT) AS n1,
                CAST(COUNT(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n2,
                ROUND(AVG(l_extendedprice) FILTER (l_returnflag = 'A'), 4) AS m1,
                ROUND(AVG(l_extendedprice) FILTER (l_returnflag = 'R'), 4) AS m2,
                ROUND((AVG(l_extendedprice) FILTER (l_returnflag = 'A')
                       - AVG(l_extendedprice) FILTER (l_returnflag = 'R'))
                  / SQRT(VAR_SAMP(l_extendedprice) FILTER (l_returnflag = 'A')
                           / COUNT(*) FILTER (l_returnflag = 'A')
                         + VAR_SAMP(l_extendedprice) FILTER (l_returnflag = 'R')
                           / COUNT(*) FILTER (l_returnflag = 'R')), 6) AS t_stat,
                ROUND(POWER(VAR_SAMP(l_extendedprice) FILTER (l_returnflag = 'A')
                              / COUNT(*) FILTER (l_returnflag = 'A')
                            + VAR_SAMP(l_extendedprice) FILTER (l_returnflag = 'R')
                              / COUNT(*) FILTER (l_returnflag = 'R'), 2)
                  / (POWER(VAR_SAMP(l_extendedprice) FILTER (l_returnflag = 'A')
                             / COUNT(*) FILTER (l_returnflag = 'A'), 2)
                       / (COUNT(*) FILTER (l_returnflag = 'A') - 1)
                     + POWER(VAR_SAMP(l_extendedprice) FILTER (l_returnflag = 'R')
                               / COUNT(*) FILTER (l_returnflag = 'R'), 2)
                       / (COUNT(*) FILTER (l_returnflag = 'R') - 1)), 4) AS df
              FROM lineitem WHERE l_returnflag IN ('A', 'R')""")),

    // POISSON BOOTSTRAP confidence interval (the one-pass resampling
    // method that works at scale: instead of materializing B resamples,
    // each row draws B independent Poisson(1) weights — here a seeded
    // md5-uniform pushed through the λ=1 CDF as a CASE ladder stated
    // byte-identically in both engines — so the whole bootstrap is ONE
    // explode + ONE per-replica hash aggregate with map-side combine,
    // no data movement proportional to B·N beyond the weighted sums).
    // B=32 replicas of the mean of l_extendedprice/1e5; the read-out is
    // the bootstrap standard error and the rank-2/rank-31 replica means
    // as a ~90% percentile interval. Replica means round at 6 BEFORE
    // ranking so interval endpoints are decided identically.
    Q("q_agg_bootstrap",
      (s, d) => {
        // cpuPartitioned: the 32 replicas' md5 draws are CPU-bound and a
        // single parquet file would otherwise run them in ONE task
        val mb = Tables.cpuPartitioned(s, d, "lineitem", "l_orderkey")
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_extendedprice") / 100000.0).as("x"))
          .withColumn("b", explode(sequence(lit(0), lit(31))))
          // u materializes as its own column so the 6-branch CASE ladder
          // tests ONE md5, not six (the inlined form re-evaluated the
          // hash per branch: 6× the row's dominant cost)
          .withColumn("u", expr(
            "CAST(conv(substring(md5(concat_ws('-', l_orderkey, l_linenumber, b)), 1, 8), 16, 10) AS BIGINT) / 4294967296.0"))
          .withColumn("w", expr(poissonCaseSql("u")))
          .groupBy("b")
          .agg(round(sum(col("w") * col("x")) / sum(col("w")), 6).as("mb"))
        val ranked = mb.withColumn("rk",
          row_number().over(Window.orderBy(asc("mb"))))
        val ci = ranked.agg(
          min(when(col("rk") === 2, col("mb"))).as("ci_lo"),
          min(when(col("rk") === 31, col("mb"))).as("ci_hi"),
          round(stddev_samp(col("mb")), 6).as("se_boot"))
        t(s, d, "lineitem")
          .agg(count(lit(1)).as("n"),
            round(avg(col("l_extendedprice") / 100000.0), 6).as("mean"))
          .crossJoin(ci)
          .select(col("n"), col("mean"), col("se_boot"),
            col("ci_lo"), col("ci_hi"))
      },
      Some(s"""WITH d AS (SELECT l_orderkey, l_linenumber,
                 l_extendedprice / 100000.0 AS x FROM lineitem),
              uni AS (SELECT x, b,
                CAST('0x' || substring(md5(concat_ws('-', l_orderkey, l_linenumber, b)), 1, 8) AS BIGINT) / 4294967296.0 AS u
                FROM d CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bb),
              rep AS (SELECT x, b, ${poissonCaseSql("u")} AS w FROM uni),
              mb AS (SELECT b, ROUND(SUM(w * x) / SUM(w), 6) AS mb
                FROM rep GROUP BY b),
              rk AS (SELECT mb, ROW_NUMBER() OVER (ORDER BY mb) AS rk FROM mb)
              SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n,
                (SELECT ROUND(AVG(x), 6) FROM d) AS mean,
                (SELECT ROUND(STDDEV_SAMP(mb), 6) FROM mb) AS se_boot,
                (SELECT mb FROM rk WHERE rk = 2) AS ci_lo,
                (SELECT mb FROM rk WHERE rk = 31) AS ci_hi""")),

    // EXACT distinct counting with bitmap state (graft.functions
    // .BitsetDistinct): where q_agg_hll_merge trades exactness for O(kB)
    // sketches, a declared DENSE id domain gets exactness with
    // O(domain/8) state constant in the row count — ids are bounded by a
    // modulus, each task folds rows into one word array, merge is OR.
    Q("q_agg_bitmap_distinct",
      (s, d) => t(s, d, "lineitem")
        .select(col("l_returnflag"), (col("l_orderkey") % 1048576L).as("oid"))
        .groupBy("l_returnflag")
        .agg(graft.functions.BitsetDistinct.bitmapDistinct(1048575L)(col("oid"))
          .as("n_orders"), count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
              CAST(COUNT(DISTINCT l_orderkey % 1048576) AS BIGINT) AS n_orders,
              COUNT(*) AS n_rows
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Time-RANGE window frame: per-user trailing 1-hour sum/count over the
    // event stream — the sliding-aggregate shape that needs no self-join.
    // Both engines order by whole epoch seconds so the frame boundaries are
    // identical; RANGE frames include all peers of the current key, so the
    // result is deterministic under ts ties.
    Q("q_window_range",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
          .rangeBetween(-3600, 0)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            // ts is TIMESTAMP_NTZ; the session is pinned UTC so the cast
            // to instant is identity and unix_seconds truncates to seconds
            unix_seconds(col("ts").cast("timestamp")).as("sec"))
          .select(col("event_id"), col("user_id"),
            round(sum(col("value")).over(w), 4).as("roll_1h"),
            count(lit(1)).over(w).cast("long").as("n_1h"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
              ROUND(SUM(value) OVER w, 4) AS roll_1h,
              CAST(COUNT(*) OVER w AS BIGINT) AS n_1h
              FROM (SELECT event_id, user_id, value,
                    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events) t
              WINDOW w AS (PARTITION BY user_id ORDER BY sec
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
              ORDER BY event_id""")),

    // MODE (most frequent value) per group with a deterministic tie-break
    // (higher count, then smaller value) — stated longhand on both sides
    // because built-in mode() leaves ties unspecified. Two hash
    // aggregates + a per-group top-1 window; the windowed relation is
    // already one row per (group, value), so the sort is tiny.
    Q("q_agg_mode",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag")
          .orderBy(desc("c"), asc("l_quantity"))
        t(s, d, "lineitem").groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
            col("c").as("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, l_quantity AS mode_qty, COUNT(*) AS cnt
              FROM lineitem GROUP BY l_returnflag, l_quantity
              QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag
                ORDER BY COUNT(*) DESC, l_quantity) = 1
              ORDER BY l_returnflag""")),

    // Moving MEDIAN over the last 10 events per user (lower median of the
    // frame, an EXACT element — no FP arithmetic, so both engines agree
    // bit-for-bit). The frame array is bounded at 10 elements, so the
    // per-row sort is O(1); everything rides the user_id clustering.
    Q("q_window_moving_median",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-9, Window.currentRow)
        t(s, d, "events")
          .withColumn("vals", collect_list("value").over(w))
          .select(col("user_id"), col("event_id"),
            round(expr("element_at(sort_array(vals), CAST((size(vals) + 1) DIV 2 AS INT))"), 6).as("med"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH l AS (SELECT user_id, event_id, list(value) OVER w AS vals
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
              SELECT user_id, event_id,
                ROUND(list_sort(vals)[(len(vals) + 1) // 2], 6) AS med
              FROM l ORDER BY user_id, event_id""")),

    // Shannon ENTROPY of each user's event-type distribution (plus the
    // distinct-type count) — the information-theoretic aggregate behind
    // behavioral segmentation and feature audits. Stated as
    // H = ln(n) − Σ c·ln(c)/n so ONE two-level hash aggregate computes it
    // (no per-row p·ln p materialization); identical formula shape on
    // both sides, logs of identical integers, rounded at 6.
    Q("q_agg_entropy",
      (s, d) => t(s, d, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_types"),
          sum(col("c") * log(col("c"))).as("slc"))
        .select(col("user_id"), col("n"), col("n_types"),
          round(log(col("n")) - col("slc") / col("n"), 6).as("entropy"))
        .orderBy("user_id"),
      Some("""WITH cts AS (SELECT user_id, event_type, COUNT(*) AS c
                FROM events GROUP BY 1, 2)
              SELECT user_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types,
                ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
              FROM cts GROUP BY user_id ORDER BY user_id""")),

    // GINI coefficient of order totals per priority class — the
    // inequality/concentration measure (data-mixture audits use it on
    // tokens-per-source). Rank formula G = 2·Σ i·x⁽ⁱ⁾ / (n·Σx) − (n+1)/n
    // over each group's ascending sort: ONE window + one aggregate on the
    // group clustering. Sums round at 2 (parallel-reduction noise ~1e-5)
    // before the identically-shaped final expression on both engines.
    // Scale note: the rank runs through RangedRank.withRank — the
    // range-sharded decomposition (rank-within-shard + O(shards)
    // cumulative offsets), so no task ever holds a whole priority class
    // even when one class is the whole corpus; RankScale measures the
    // sharded plan vs the single-partition window on a 7.5M-row group.
    // THEIL T inequality index per priority class — Gini's
    // information-theoretic sibling, and DECOMPOSABLE: unlike Gini,
    // total inequality = within-group + between-group, which is why
    // mixture audits prefer it. T = (1/n) Σ (x/μ)·ln(x/μ). No ordered
    // window at all: one mean aggregate joined back + one grouped sum —
    // strictly cheaper than the rank-based Gini at any scale.
    Q("q_agg_theil",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderpriority"), col("o_totalprice"))
        val mu = o.groupBy("o_orderpriority")
          .agg((sum("o_totalprice") / count(lit(1))).as("mu"))
        o.join(mu, "o_orderpriority")
          .select(col("o_orderpriority"),
            (col("o_totalprice") / col("mu") * log(col("o_totalprice") / col("mu")))
              .as("term"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("term"), 4).as("st"))
          .select(col("o_orderpriority"), col("n"),
            round(col("st") / col("n"), 6).as("theil"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH mu AS (SELECT o_orderpriority,
                  SUM(o_totalprice) / COUNT(*) AS mu
                FROM orders GROUP BY o_orderpriority),
              tr AS (SELECT o.o_orderpriority,
                  o.o_totalprice / m.mu * LN(o.o_totalprice / m.mu) AS term
                FROM orders o JOIN mu m USING (o_orderpriority)),
              ag AS (SELECT o_orderpriority, COUNT(*) AS n,
                  ROUND(SUM(term), 4) AS st
                FROM tr GROUP BY o_orderpriority)
              SELECT o_orderpriority, n, ROUND(st / n, 6) AS theil
              FROM ag ORDER BY o_orderpriority""")),

    // EXACT GLOBAL NTILE(10): decile assignment over the WHOLE relation
    // — the textbook single-partition window scale-killer, here via
    // RangedRank's groupless rank (range shards + offset join, no task
    // ever sees more than corpus/shards rows) and the closed-form
    // NTILE bucket arithmetic bucket(i) from rank i and total n:
    // the first n%10 buckets get ceil(n/10) rows, the rest floor(n/10)
    // — identical integer arithmetic to the SQL NTILE definition, so
    // the decile edges match the oracle row-for-row.
    Q("q_agg_ntile_exact",
      (s, d) => {
        val o = t(s, d, "orders").select("o_totalprice", "o_orderkey")
        val n = o.count()
        val ranked = RangedRank.withRank(o, Seq.empty,
          Seq("o_totalprice", "o_orderkey"), "i")
        val big = n % 10 // buckets 1..big get (n/10 + 1) rows
        val cut = big * (n / 10 + 1)
        val bucketed = ranked.withColumn("decile",
          when(lit(big) > 0 && col("i") <= cut,
            floor((col("i") - 1) / lit(n / 10 + 1)) + 1)
            .otherwise(floor((col("i") - lit(cut) - 1) / lit(n / 10)) + 1 + big))
        bucketed.groupBy("decile")
          .agg(count(lit(1)).as("n"),
            round(min("o_totalprice"), 2).as("lo"),
            round(max("o_totalprice"), 2).as("hi"),
            round(sum("o_totalprice"), 2).as("total"))
          .orderBy("decile")
      },
      Some("""WITH r AS (SELECT o_totalprice,
                CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
                FROM orders)
              SELECT decile, COUNT(*) AS n, ROUND(MIN(o_totalprice), 2) AS lo,
                ROUND(MAX(o_totalprice), 2) AS hi, ROUND(SUM(o_totalprice), 2) AS total
              FROM r GROUP BY decile ORDER BY decile""")),

    Q("q_agg_gini",
      (s, d) => {
        // project before ranking: RangedRank materializes its input
        // (localCheckpoint), so unused columns would be checkpointed too
        RangedRank.withRank(
            t(s, d, "orders").select("o_orderpriority", "o_totalprice", "o_orderkey"),
            Seq("o_orderpriority"),
            Seq("o_totalprice", "o_orderkey"), "i")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("sx"),
            round(sum(col("i") * col("o_totalprice")), 2).as("sixi"))
          .select(col("o_orderpriority"), col("n"),
            round(lit(2.0) * col("sixi") / (col("n") * col("sx")) -
              (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH r AS (SELECT o_orderpriority, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey) AS i
                FROM orders),
              sums AS (SELECT o_orderpriority, COUNT(*) AS n,
                ROUND(SUM(o_totalprice), 2) AS sx,
                ROUND(SUM(i * o_totalprice), 2) AS sixi
                FROM r GROUP BY o_orderpriority)
              SELECT o_orderpriority, n,
                ROUND(2.0 * sixi / (n * sx) - (n + 1.0) / n, 6) AS gini
              FROM sums ORDER BY o_orderpriority""")),

    // Lag-1 AUTOCORRELATION of each user's value series — the
    // time-series memory signal. One window builds (prev, cur) pairs,
    // one aggregate computes the six sums, and the Pearson formula is
    // stated identically on both sides over sums rounded at 4; groups
    // without variance (or under 3 pairs) are filtered by the same
    // rounded-value predicate, so no division-by-zero path exists.
    Q("q_agg_autocorr",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = t(s, d, "events")
          .withColumn("x", lag(col("value"), 1).over(w))
          .filter(col("x").isNotNull)
          .select(col("user_id"), col("x"), col("value").as("y"))
        pairs.groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            round(sum("x"), 4).as("sx"), round(sum("y"), 4).as("sy"),
            round(sum(col("x") * col("y")), 4).as("sxy"),
            round(sum(col("x") * col("x")), 4).as("sxx"),
            round(sum(col("y") * col("y")), 4).as("syy"))
          .filter(col("n") >= 3 &&
            col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0)
          .select(col("user_id"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r1"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id,
                LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x,
                value AS y
                FROM events),
              sums AS (SELECT user_id, COUNT(*) AS n,
                ROUND(SUM(x), 4) AS sx, ROUND(SUM(y), 4) AS sy,
                ROUND(SUM(x * y), 4) AS sxy,
                ROUND(SUM(x * x), 4) AS sxx,
                ROUND(SUM(y * y), 4) AS syy
                FROM p WHERE x IS NOT NULL GROUP BY user_id)
              SELECT user_id, n,
                ROUND((n * sxy - sx * sy) /
                  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS r1
              FROM sums
              WHERE n >= 3 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
              ORDER BY user_id"""))
  )
}
