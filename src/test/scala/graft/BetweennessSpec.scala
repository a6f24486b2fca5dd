package graft

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computable fixtures for the distributed Brandes betweenness:
  * the path, the diamond (split shortest paths), and a disconnected
  * extra — pinning the σ-weighted dependency accumulation against
  * values derivable on paper. */
class BetweennessSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def bc(edges: Seq[(Long, Long)]): Map[Long, Double] =
    operators.Graph.betweennessOn(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("directed path 1→2→3→4: interior vertices carry the pair counts") {
    val m = bc(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    // through 2: (1,3), (1,4); through 3: (1,4), (2,4)
    assert(m === Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0))
  }

  test("diamond 1→{2,3}→4: the two shortest paths split the dependency") {
    val m = bc(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    // σ(1,4) = 2, each middle vertex carries 1/2
    assert(m === Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.5, 4L -> 0.0))
  }

  test("cycle 1→2→3→1: symmetric — every vertex sees the same flow") {
    val m = bc(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    // each vertex is interior to exactly one (s,t) pair
    assert(m === Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
  }

  test("disconnected vertex contributes and receives nothing") {
    val m = bc(Seq((1L, 2L), (2L, 3L), (7L, 8L)))
    assert(m(2L) === 1.0 && m(7L) === 0.0 && m(8L) === 0.0)
  }

  test("BFS on a 205-vertex directed path reaches every vertex at its position") {
    // deeper than the 200-level cap the level loop once stopped at
    // silently: its guard now comes from the edge count
    val path = (0L until 204L).map(v => (v, v + 1)).toDF("src", "dst")
    val (reached, _) = operators.Graph.bfsSigma(path, Some(Seq(0L).toDF("v")))
    val rows = reached.select("v", "d", "sigma").as[(Long, Int, Long)].collect()
    assert(rows.length === 205)
    assert(rows.map(_._1).toSet === (0L to 204L).toSet)
    assert(rows.forall { case (v, d, sigma) => d == v && sigma == 1L })
  }
}
