package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.plans.Pregel
import graft.plans.Pregel.ComputeResult
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bipartite-matching vertex state: which side of the bipartition, the id
  * matched to (-1 = unmatched), and the adjacency list (Hama vertices own
  * their edge lists, `graph/src/main/java/org/apache/hama/graph/
  * VertexInterface.java:38-135`). */
final case class BmV(side: Int, matched: Long, adj: Seq[Long])

/** Semi-clustering member: vertex id + its weighted adjacency — clusters
  * carry their members' edges so any vertex can score them locally
  * (the reference ships them inside `SemiClusterMessage`,
  * `ml/src/main/java/org/apache/hama/ml/semiclustering/SemiClusterMessage.java`). */
final case class ScV(adj: Seq[(Long, Long)], clusters: Seq[Seq[(Long, Seq[(Long, Long)])]])

/** The two randomized vertex-centric algorithms of the reference
  * (SURVEY.md §2.5, check class [stat]): both run on the typed Pregel
  * engine and replace wall-clock randomness with a seeded hash so a given
  * seed is fully deterministic — the declared check is seeded
  * self-consistency + structural validity (like the reference's
  * `BipartiteMatchingTest` / `SemiClusterMatchingTest`), not a SQL hash.
  *
  * Scale posture: both are pure Pregel loops — one shuffle keyed by
  * destination per superstep, no driver materialization; message fan-out is
  * bounded (matching: degree; semi-clustering: Mmax clusters × Vmax members).
  */
object GraphAdvanced extends QueryModule {

  /** splitmix64-style seeded tie-breaker standing in for the reference's
    * `Random` picks (`examples/src/main/java/org/apache/hama/examples/
    * BipartiteMatching.java:86` seeds from wall clock; we need determinism). */
  private def h(seed: Long, a: Long, b: Long): Long = {
    var x = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + seed
    x ^= (x >>> 31); x *= 0xBF58476D1CE4E5B9L; x ^= (x >>> 27); x
  }

  // ---- Bipartite matching ------------------------------------------------
  // 4-phase randomized greedy (`examples/.../BipartiteMatching.java:53-133`,
  // `%4` superstep switch): L proposes, R grants one, L confirms one,
  // R finalizes. Runs `rounds` full phase cycles.
  private val L = 50
  private val R = 80
  private val ROFF = 1000L // right ids offset so the two sides share one id space

  /** bipartite edge set derived from orders: left customer-bucket ↔ right
    * order-bucket */
  private def bmEdges(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .select((col("o_custkey") % L).as("l"), (col("o_orderkey") % R + ROFF).as("r"))
      .distinct()

  def bipartiteMatching(s: SparkSession, d: String, seed: Long = 42L,
      rounds: Int = 3): DataFrame = {
    import s.implicits._
    val e = bmEdges(s, d)
    val left = e.groupBy("l").agg(collect_set("r").as("adj"))
      .select(col("l").as("id"), lit(0).as("side"), col("adj"))
    val right = e.groupBy("r").agg(collect_set("l").as("adj"))
      .select(col("r").as("id"), lit(1).as("side"), col("adj"))
    val verts: Dataset[(Long, BmV)] = left.unionByName(right)
      .as[(Long, Int, Seq[Long])]
      .map { case (id, side, adj) => (id, BmV(side, -1L, adj.sorted)) }

    val res = Pregel.run[BmV, Long, Unit](s, verts, maxIter = 4 * rounds,
      // ≤ L + R vertices by construction (both sides are mod-bucketed)
      partitions = Some(Pregel.sizedPartitions(s, (L + R).toLong)))(
      (id, v, msgs, step, _) => (step % 4, v.side, v.matched) match {
        // phase 0: every unmatched left proposes to all neighbors
        case (0, 0, -1L) => ComputeResult(v, messages = v.adj.map(r => (r, id)))
        // phase 1: unmatched right grants exactly one proposer (seeded pick)
        case (1, 1, -1L) if msgs.nonEmpty =>
          val grant = msgs.minBy(c => (h(seed, id, c), c))
          ComputeResult(v, messages = Seq((grant, id)))
        // phase 2: unmatched left confirms one grant and records the match
        case (2, 0, -1L) if msgs.nonEmpty =>
          val choice = msgs.minBy(c => (h(seed, id, c), c))
          ComputeResult(v.copy(matched = choice), messages = Seq((choice, id)))
        // phase 3: right finalizes (≤1 confirm can arrive: it granted once)
        case (3, 1, -1L) if msgs.nonEmpty =>
          ComputeResult(v.copy(matched = msgs.min))
        case _ => ComputeResult(v)
      })

    res.filter(_._2.side == 0).filter(_._2.matched >= 0L)
      .map { case (id, v) => (id, v.matched) }
      .toDF("l", "r").orderBy("l")
  }

  // ---- Semi-clustering ---------------------------------------------------
  // Pregel-paper semi-clusters (`ml/.../semiclustering/SemiClusteringVertex
  // .java:43-173`): each vertex keeps its top-Cmax clusters scored by
  // (I − fB·B) / (V(V−1)/2), grows received clusters by itself when
  // |c| < Vmax, forwards its top Mmax to neighbors.
  private val SC_N = 300 // node-id modulus of the derived graph
  private val VMAX = 4 // max cluster size
  private val CMAX = 4 // clusters kept per vertex
  private val MMAX = 2 // clusters forwarded per superstep
  private val FB = 0.0 // boundary factor — the reference hardcodes fB = 0.0
  // (`SemiClusteringVertex.semiClusterScoreCalcuation`: `double fB = 0.0`)

  private val SC_DEGCAP = 8 // max degree kept — bounds message size at any SF

  /** sparse derived graph (1-in-13 orders) so clusters can outscore the
    * reference's singleton seed score of 1.0. Degree is capped: per vertex
    * keep its SC_DEGCAP best edges by (w, dst), an edge survives only if
    * BOTH endpoints keep it — the graph stays symmetric and message volume
    * stays O(N · cap · Vmax) no matter how dense the source data gets
    * (density grows with SF; unbounded degree made cluster messages carry
    * ~80-entry adjacency lists at sf0.1 — quadratic message bytes). */
  private def scEdges(s: SparkSession, d: String): DataFrame = {
    val e = Tables(s, d, "orders")
      .filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") % SC_N).as("src"), (col("o_custkey") % SC_N).as("dst"),
        (col("o_orderkey") % 7 + 1).as("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min("w").as("w"))
    // undirected: lower-id direction's weight wins, mirrored both ways
    val sym = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
    val both = sym.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(sym.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val wRank = Window.partitionBy(col("src")).orderBy(asc("w"), asc("dst"))
    val kept = both.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= SC_DEGCAP).drop("rn")
    // symmetric closure: survive only if kept from both endpoints
    kept.as("k").join(kept.select(col("dst").as("src"), col("src").as("dst")).as("m"),
        Seq("src", "dst"), "left_semi")
      .select(col("src"), col("dst"), col("w"))
  }

  /** Reference scoring (`SemiClusteringVertex.semiClusterScoreCalcuation`):
    * iC sums internal edge weight once per endpoint (each member's full edge
    * list is scanned), the pair-normalized score is further divided by the
    * members' total edge count eC, and singletons carry the init score 1.0
    * (`initClusters` sets score 1). Deterministic fold order: members kept
    * id-sorted. */
  private def scScore(c: Seq[(Long, Seq[(Long, Long)])]): Double = {
    val ids = c.map(_._1).toSet
    val n = c.size
    if (n <= 1) 1.0
    else {
      var iC = 0.0; var bC = 0.0; var eC = 0
      c.foreach { case (_, adj) =>
        adj.foreach { case (dst, w) => eC += 1; if (ids(dst)) iC += w else bC += w }
      }
      if (eC == 0) 0.0 else ((iC - FB * bC) / (n * (n - 1) / 2.0)) / eC
    }
  }

  private def scKey(c: Seq[(Long, Seq[(Long, Long)])]): String =
    c.map(_._1).mkString(",")

  /** the typed Pregel run (shared by the detail view and the declared
    * invariant query) */
  def semiClusterRaw(s: SparkSession, d: String, supersteps: Int = 4): Dataset[(Long, ScV)] = {
    import s.implicits._
    val e = scEdges(s, d)
    val verts: Dataset[(Long, ScV)] = e
      .groupBy("src").agg(collect_list(struct(col("dst"), col("w"))).as("adj"))
      .as[(Long, Seq[(Long, Long)])]
      .map { case (id, adj) => (id, ScV(adj.sortBy(_._1), Nil)) }

    Pregel.run[ScV, Seq[(Long, Seq[(Long, Long)])], Unit](
      s, verts, maxIter = supersteps,
      // ≤ SC_N vertices by construction (ids are mod-SC_N buckets)
      partitions = Some(Pregel.sizedPartitions(s, SC_N.toLong)))(
      (id, v, msgs, step, _) => {
        val self = (id, v.adj)
        val grown = msgs.filter(c => !c.exists(_._1 == id) && c.size < VMAX)
          .map(c => (c :+ self).sortBy(_._1))
        val mine = if (step == 0) Seq(Seq(self)) else v.clusters
        val best = (mine ++ grown)
          .groupBy(scKey).map(_._2.head).toSeq // dedup by member set
          .sortBy(c => (-scScore(c), scKey(c)))
          .take(CMAX)
        val outbox = best.take(MMAX)
        ComputeResult(ScV(v.adj, best),
          messages = v.adj.flatMap { case (dst, _) => outbox.map(c => (dst, c)) },
          voteToHalt = step >= supersteps - 1)
      })
  }

  def semiClustering(s: SparkSession, d: String, supersteps: Int = 4): DataFrame = {
    import s.implicits._
    semiClusterRaw(s, d, supersteps).map { case (id, v) =>
      val best = v.clusters.headOption
      (id, best.map(_.size).getOrElse(0),
        halfUp(best.map(scScore).getOrElse(0.0), 6),
        best.map(scKey).getOrElse(""))
    }.toDF("v", "best_size", "best_score", "members").orderBy("v")
  }

  override val defs: Seq[Q] = Seq(
    // The randomized-greedy matching itself has no SQL oracle, but its
    // CORRECTNESS INVARIANTS do: the declared query emits a one-row summary
    // whose validity booleans the engine computes from the actual matching
    // (every pair is a real edge, no endpoint matched twice, non-empty) and
    // whose oracle is the trivially-true row — the driver now hash-checks
    // the invariants instead of recording no_oracle. Full per-pair output
    // stays spec-verified in GraphAdvancedSpec.
    Q("q_graph_bipartite",
      (s, d) => {
        val m = bipartiteMatching(s, d)
        val e = bmEdges(s, d)
        val badPairs = m.join(e, Seq("l", "r"), "left_anti")
          .agg(count(lit(1)).as("bad"))
        val summary = m.agg(count(lit(1)).as("n"),
          countDistinct(col("l")).as("nl"), countDistinct(col("r")).as("nr"))
        summary.crossJoin(badPairs).select(
          (col("bad") === 0).as("edges_valid"),
          (col("nl") === col("n")).as("ls_distinct"),
          (col("nr") === col("n")).as("rs_distinct"),
          (col("n") > 0).as("nonempty"))
      },
      Some("""SELECT true AS edges_valid, true AS ls_distinct,
              true AS rs_distinct, true AS nonempty""")),

    // Same pattern for semi-clustering: vertex count is recomputed exactly
    // by the oracle from the capped-degree edge derivation; the structural
    // invariants (every cluster contains its vertex, sizes within Vmax,
    // scores non-negative under fB=0) come from the real cluster output.
    Q("q_graph_semicluster",
      (s, d) => {
        import s.implicits._
        val sc = semiClusterRaw(s, d)
        sc.map { case (id, v) =>
          val best = v.clusters.headOption
          (1L,
            best.exists(_.exists(_._1 == id)),
            best.map(_.size).getOrElse(1) <= VMAX && best.map(_.size).getOrElse(1) >= 1,
            best.map(scScore).getOrElse(1.0) >= 0.0)
        }.toDF("one", "contains_self", "size_ok", "score_nonneg")
          .agg(sum(col("one")).as("n_vertices"),
            min(col("contains_self")).as("all_contain_self"),
            min(col("size_ok")).as("sizes_ok"),
            min(col("score_nonneg")).as("scores_nonneg"))
      },
      Some(s"""WITH e0 AS (SELECT o_orderkey % $SC_N AS src, o_custkey % $SC_N AS dst,
                 o_orderkey % 7 + 1 AS w FROM orders WHERE o_orderkey % 13 = 0),
               e1 AS (SELECT src, dst, MIN(w) AS w FROM e0 WHERE src <> dst GROUP BY src, dst),
               sym AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, MIN(w) AS w
                 FROM e1 GROUP BY 1, 2),
               bth AS (SELECT a AS src, b AS dst, w FROM sym
                 UNION ALL SELECT b AS src, a AS dst, w FROM sym),
               kept AS (SELECT src, dst FROM (SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY w, dst) AS rn FROM bth) t
                 WHERE rn <= $SC_DEGCAP),
               fin AS (SELECT k.src FROM kept k WHERE EXISTS (
                 SELECT 1 FROM kept m WHERE m.src = k.dst AND m.dst = k.src))
               SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_vertices,
                 true AS all_contain_self, true AS sizes_ok, true AS scores_nonneg
               FROM fin"""))
  )
}
