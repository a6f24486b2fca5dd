package graft

import graft.plans.Iterate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IterateSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("loop with periodic local checkpoint reaches the exact fixpoint") {
    val init = (1 to 100).toDF("x")
    val out = Iterate(init, maxIter = 12, checkpointEvery = 4)(
      (df, _) => df.withColumn("x", col("x") + 1))
    assert(out.agg(sum("x")).as[Long].head() === (1 to 100).map(_ + 12L).sum)
  }

  test("reliable checkpoint: loop state survives total block-store loss") {
    // the fault the r2 verdict names: localCheckpoint blocks are
    // executor-local, so a lost executor kills a lineage-truncated loop.
    // With reliable=true the cadence writes checkpoint FILES (HDFS on a
    // cluster); killing every cached block must leave the result readable.
    val dir = GraftSession.tempDirCleanedOnExit("iterate-reliable").toString
    spark.sparkContext.setCheckpointDir(dir)
    val init = (1 to 50).toDF("x")
    val out = Iterate(init, maxIter = 9, checkpointEvery = 3, reliable = true)(
      (df, _) => df.withColumn("x", col("x") * 2 - 1))
    // simulate executor loss: drop every block-store copy in the app
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // x_9 = 2^9 (x_0 - 1) + 1
    assert(out.agg(sum("x")).as[Long].head() ===
      (1 to 50).map(x => 512L * (x - 1) + 1).sum)
  }

  test("untilFixpoint halts when no rows change and reports rounds") {
    val init = Seq(0, 3, 7, 12).toDF("x")
    val fp = Iterate.untilFixpointChecked(init, maxIter = 50)(
      (df, _) => {
        val next = df.withColumn("x", least(col("x") + 5, lit(20)))
        (next, next.filter(col("x") =!= 20).count())
      })
    assert(fp.converged)
    assert(fp.out.select("x").as[Int].collect().forall(_ == 20))
    assert(fp.iters === 4) // slowest start 0 needs 4 increments; that round reports 0 changed
  }

  /** Runs `body`, materializes its result, and returns the ids of the
    * block-store RDDs it left behind that were not there before. */
  private def newPinsLeftBy(body: => org.apache.spark.sql.Dataset[_]): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body.count()
    sc.getPersistentRDDs.keySet.diff(before).toSet
  }

  test("a 25-round loop at cadence 10 keeps only its last checkpoint") {
    val left = newPinsLeftBy(Iterate((1 to 20).toDF("x"), maxIter = 25,
      checkpointEvery = 10)((df, _) => df.withColumn("x", col("x") + 1)))
    assert(left.size === 1, s"checkpoints left behind: $left")
  }

  test("a 25-superstep pipeline at cadence 10 keeps only its last checkpoint") {
    val pipeline = new graft.plans.SuperstepPipeline[Long](
      Seq((ds, _) => (ds.map(_ + 1), false)), checkpointEvery = 10)
    var steps = 0
    val left = newPinsLeftBy {
      val (out, n) = pipeline.run((1L to 20L).toDS(), maxSupersteps = 25)
      steps = n
      out
    }
    assert(steps === 25)
    assert(left.size === 1, s"checkpoints left behind: $left")
  }

  test("release frees the blocks of a fresh-id pin") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val p = Iterate.pin((1 to 10).toDF("x"), freshIds = true)
    assert(sc.getPersistentRDDs.keySet.diff(before).size === 1)
    Iterate.release(p)
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }
}
