package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forward-backward trim SCC on hand-built graphs where the component
  * structure is known exactly — including the multi-peel chain shape
  * the dense corpus graph never exercises. */
class SccSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def scc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    operators.Graph.sccTrimOn(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cycles joined by a one-way bridge stay separate components") {
    // 0→1→2→0 (SCC {0,1,2}), 3→4→3 (SCC {3,4}), bridge 2→3 one-way
    val got = scc(Seq((0L,1L),(1L,2L),(2L,0L),(3L,4L),(4L,3L),(2L,3L)))
    assert(got === Map(0L->0L, 1L->0L, 2L->0L, 3L->3L, 4L->3L))
  }

  test("a pure DAG chain is all singletons (worst-case peel count)") {
    // 5→4→3→2→1→0: no cycles at all; every vertex is its own SCC and
    // the trim must peel through without merging anything
    val got = scc(Seq((5L,4L),(4L,3L),(3L,2L),(2L,1L),(1L,0L)))
    assert(got === (0L to 5L).map(v => v -> v).toMap)
  }

  test("nested structure: big cycle, inner tail, isolated self-loop") {
    // 10→11→12→10 cycle; 12→20 tail; 30→30 self-loop; 20→21, 21→20 pair
    val got = scc(Seq((10L,11L),(11L,12L),(12L,10L),(12L,20L),
      (30L,30L),(20L,21L),(21L,20L)))
    assert(got === Map(10L->10L, 11L->10L, 12L->10L,
      20L->20L, 21L->20L, 30L->30L))
  }

  test("labels are canonical: each component labeled by its own minimum") {
    val got = scc(Seq((7L,3L),(3L,7L),(3L,1L),(1L,3L)))
    // 1,3,7 all mutually reachable -> one SCC labeled 1
    assert(got === Map(1L->1L, 3L->1L, 7L->1L))
  }

  test("a multi-peel run leaves no pin behind but the one its result reads") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a chain 7→6→…→0 between a 2-cycle {0,100} and a 3-cycle {7,8,9}:
    // each peel settles the chain's bottom layer (by trim or by the
    // colouring pass), so the loop runs several peels down it
    val edges = (0L until 7L).map(v => (v + 1, v)) ++
      Seq((0L, 100L), (100L, 0L), (7L, 8L), (8L, 9L), (9L, 7L))
    val out = operators.Graph.sccTrimOn(edges.toDF("src", "dst"))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === ((1L to 6L).map(v => v -> v) ++ Seq(0L -> 0L, 100L -> 0L,
      7L -> 7L, 8L -> 7L, 9L -> 7L)).toMap)
    val read = out.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(read.size === 1)
    assert(sc.getPersistentRDDs.keySet.diff(before).toSet === read)
  }
}
