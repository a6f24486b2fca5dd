package graft.examples

import graft.{GraftSession, Tables}
import graft.operators.Graph
import graft.plans.Iterate
import org.apache.spark.sql.functions._

/** Scale evidence for the k-truss loop: q_graph_ktruss's own fixpoint
  * ([[graft.operators.Graph.ktrussFixpoint]]: triangle enumeration →
  * per-edge support → semi-join prune, one checkpoint per round) on the
  * lineitem-derived graph three orders of magnitude larger than the
  * declared query's 200 nodes. If per-round time tracks triangle volume
  * rather than plan depth, the posture holds.
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.examples.TrussScale [nodeMod] [maxRounds]"
  */
object TrussScale {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(50000L)
    val maxRounds = args.lift(1).map(_.toInt).getOrElse(64)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()

    // degree-bounded derived graph (the triangle-orientation segment's
    // construction): ~600 k undirected edges over ~n vertices at sf0.1
    val (e, e0) = Iterate.pinCountAll(Tables(spark, sfDir, "lineitem")
      .select((col("l_orderkey") % n).as("x"),
        ((col("l_partkey") * 7 + col("l_suppkey")) % n).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct())

    val t0 = System.nanoTime()
    val (truss, rounds) = Graph.ktrussFixpoint(e, maxRounds)
    val secs = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"ktruss_scale","edges0":$e0,""" +
      s""""edges":${truss.count()},"rounds":$rounds,""" +
      f""""secs":$secs%.2f,"secs_per_round":${secs / rounds}%.2f}""")
    spark.stop()
  }
}
