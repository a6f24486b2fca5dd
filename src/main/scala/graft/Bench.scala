package graft

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query seconds. The driver runs this per
  * round at sf0.1 → BENCH_r{N}.json (compared against BASELINE.md).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated filter (args or env) for focused timing runs
    val only = (args ++ sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(',')))
      .filter(_.nonEmpty).toSet
    val spark = GraftSession.get()
    // per-query Spark-job count: inflation on this host is a fixed cost
    // PER JOB (BASELINE.md), so jobs-per-query makes any future slow row
    // attributable (jobs × tax vs a genuine plan regression) without
    // re-instrumenting (VERDICT r4 item 7). Read from the scheduler's own
    // counter, exact when the query returns: a listener's events arrive
    // later, so a row's last jobs could land in the next row's window
    def jobsSubmitted(): Int =
      org.apache.spark.scheduler.JobCounter.submitted(spark.sparkContext)
    // warm the JVM/session so per-query times measure the engine, not
    // startup: one scan-agg, one shuffle join, one window, one string-hash
    // pass compile the hot codegen/shuffle paths before any query is timed
    locally {
      import org.apache.spark.sql.functions._
      val li = Tables(spark, sfDir, "lineitem")
      li.count()
      li.groupBy("l_returnflag").count().foreach(_ => ())
      Tables(spark, sfDir, "documents").limit(2000)
        .select(md5(col("text"))).foreach(_ => ())
      Tables(spark, sfDir, "orders").join(Tables(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey")).count()
      // one tiny iterative loop: the graph queries' join→agg→checkpoint
      // codegen paths cost ~4 s on first compile in a fresh JVM (first run
      // ~7 s, warm runs 2.7-3.4 s ≈ the r2 slot; BASELINE.md, "Where the
      // residual inflation lives") — without this the first q_graph_* row
      // measures the JIT, not the engine
      val warmE = spark.range(300)
        .select((col("id") % 20).as("src"), (col("id") % 17).as("dst"))
      graft.plans.Iterate(
        warmE.select(col("src").as("v"), lit(1.0).as("rank")).distinct(), 3,
        checkpointEvery = 2) { (r, _) =>
        warmE.join(r, col("src") === col("v"))
          .groupBy(col("dst").as("v")).agg(sum("rank").as("rank"))
      }.foreach(_ => ())
      spark.catalog.clearCache()
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1))
      .map { case (name, fn) =>
      val j0 = jobsSubmitted()
      val t0 = System.nanoTime()
      // a query that throws is recorded as `failed` and kept out of the
      // total: its time-to-failure would otherwise read as a speedup
      val status =
        try { fn(spark, sfDir).foreach(_ => ()); "ok" }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); "failed" }
      val dt = (System.nanoTime() - t0) / 1e9
      val jobs = jobsSubmitted() - j0
      // per-query isolation: each reference job ran in its own JVM; drop
      // caches so query N's leftover blocks can't tax query N+1
      spark.catalog.clearCache()
      // incremental per-query line: if the harness's capture window clips
      // the (large) final JSON line, every row is still recoverable from
      // these (VERDICT r4 item 8 — the r4 tail lost 33 rows)
      println(f"""{"bench_q":"$name","sec":$dt%.3f,"jobs":$jobs,"status":"$status"}""")
      (name, dt, jobs, status)
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    // per-query Spark-job counts beside the seconds (VERDICT r14 #8):
    // wall-clock on this host swings with stall windows, job counts are
    // deterministic — the stall-immune round-over-round perf signal
    val js = results.map { case (k, _, j, _) => "\"" + k + s"""":$j""" }
      .mkString("{", ",", "}")
    val ss = results.map { case (k, _, _, st) => "\"" + k + s"""":"$st"""" }
      .mkString("{", ",", "}")
    val ok = results.filter(_._4 == "ok")
    val total = ok.map(_._2).sum
    val nFailed = results.size - ok.size
    // queries map FIRST, scalars LAST: the driver captures a 2000-char
    // tail of stdout, so with 239 queries (~5 KB map) only the line's END
    // survives — ordering the headline fields last keeps them (and the
    // closing brace) inside the window (VERDICT r5 item 5)
    val line =
      f"""{"queries":$qs,"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir"}"""
    // durable copy, immune to any stdout windowing — full runs only: a
    // focused SPARK_GRAFT_ONLY run must not clobber the last full
    // suite's per-query record (it is the only per-query survivor of
    // the driver's 2000-char stdout tail). Carries the jobs map too.
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
        (f"""{"queries":$qs,"jobs":$js,"status":$ss,"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir"}""" + "\n")
          .getBytes("UTF-8")): Unit
    println(line)
    // stop first, so nothing the session prints while stopping can land
    // after the summary line
    spark.stop()
    // LAST line, compact (< 200 chars): the driver parses a 2000-char
    // stdout TAIL, and at 410 queries the big line above (~10 KB) cannot
    // survive it — two rounds of PERF came back empty (VERDICT r14 #2).
    // Additions-only: the big line and the per-row bench_q lines stay.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n":${results.size},"n_failed":$nFailed,"per_query_file":"BENCH_LAST.json"}""")
  }
}
