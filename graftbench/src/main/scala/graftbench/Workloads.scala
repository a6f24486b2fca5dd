package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.TextHash
import graft.plans.{Iterate, Pregel}
import graft.streaming.{Streams, TxLog}

/** Vertex of the direct Pregel SSSP call: tentative distance plus weighted
  * out-edges. */
final case class SsspV(dist: Long, adj: Seq[Long], w: Seq[Long])

object Gen {
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      files: Int = 1): Unit =
    spark.createDataFrame(rows.asJava, schema).repartition(files)
      .write.mode("overwrite").parquet(path)

  def round2(x: Double): Double = math.round(x * 100) / 100.0

  /** lowercase word tokens — the engine's tokenizer, stated here again */
  def toks(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
}

/** A declared iterative row on a seeded `orders` table in the testdata
  * schema (the graph rows derive a 200-vertex graph from it), plus two
  * direct loop calls on a seeded power-law edge list: `Pregel.run` SSSP with
  * a min-combiner and the `onSuperstep` hook, and
  * `Iterate.untilFixpointChecked` min-label connected components. */
final class GraphLoops(spark: SparkSession) extends Workload {
  import spark.implicits._

  // One declared loop row: a pass must stay near 4 s so that a run (set-up,
  // two warm-up passes, three timed passes) fits in about 40 s. An odd
  // number of op types keeps the median op inside one type's samples.
  private val declared = Seq("q_graph_sssp")
  private val nOrders = 15000
  private val nCustomers = 1500
  private val nV = 2000
  private val nE = 8000
  private val graphDepth = 4

  private var dir = ""
  private var verts: Dataset[(Long, SsspV)] = _
  private var edgesU: DataFrame = _
  private var initLabels: DataFrame = _
  private var expectDist: Map[Long, Long] = Map.empty
  private var expectLabel: Map[Long, Long] = Map.empty
  private val stepStats = ArrayBuffer.empty[(Int, Pregel.SuperstepStats)]
  private val fixpointIters = ArrayBuffer.empty[(Int, Int)]
  private var curPass = 0

  // three warm passes: graph op times keep falling until the fourth pass
  val warmupPasses = 3
  val passSeconds = 4.0

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    val rnd = new SplittableRandom(seed)
    val status = Array("F", "O", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val orders = (0 until nOrders).map(i => Row(i.toLong, 1L + rnd.nextInt(nCustomers),
      status(rnd.nextInt(3)), Gen.round2(rnd.nextDouble() * 500000),
      new Timestamp(day0 + rnd.nextInt(2400) * 86400000L), prio(rnd.nextInt(5))))
    Gen.write(spark, orders, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      s"$dir/orders.parquet")

    // power-law edge list with a fixed depth: a chain 0..depth, every other
    // vertex attached by preferential attachment (power-law degrees) under
    // a vertex above depth `depth`, plus edges between vertices of equal
    // depth weighted depth+1, so that they never shorten a path. The seed
    // changes the graph but not the loop lengths: min-label CC from vertex
    // 0 converges in exactly depth+1 rounds, SSSP from vertex 0 in exactly
    // depth+2 supersteps — the same work on every seed.
    val depth = Array.fill(nV)(0)
    val src = ArrayBuffer.empty[Long]
    val dst = ArrayBuffer.empty[Long]
    val wt = ArrayBuffer.empty[Long]
    val targets = ArrayBuffer.empty[Int] // one entry per unit of attachment weight
    def edge(a: Int, b: Int, w: Long): Unit = { src += a; dst += b; wt += w }
    (1 to graphDepth).foreach { v => depth(v) = v; edge(v - 1, v, 1L + rnd.nextInt(2)) }
    (0 until graphDepth).foreach(v => targets ++= Seq(v, v))
    (graphDepth + 1 until nV).foreach { v =>
      val p = targets(rnd.nextInt(targets.size))
      depth(v) = depth(p) + 1
      edge(p, v, 1L + rnd.nextInt(2))
      targets += p
      if (depth(v) < graphDepth) targets += v
    }
    val byDepth = (0 until nV).groupBy(depth(_)).map { case (d, vs) => d -> vs.toIndexedSeq }
    (0 until nE - (nV - 1)).foreach { _ =>
      val u = rnd.nextInt(nV)
      val peers = byDepth(depth(u))
      val v = peers(rnd.nextInt(peers.size))
      if (v != u) edge(u, v, graphDepth + 1L)
    }
    val nEdges = src.size
    val out = Array.fill(nV)(ArrayBuffer.empty[(Long, Long)])
    (0 until nEdges).foreach(k => out(src(k).toInt) += ((dst(k), wt(k))))
    verts = spark.createDataset((0 until nV).map { v =>
      (v.toLong, SsspV(Long.MaxValue, out(v).map(_._1).toSeq, out(v).map(_._2).toSeq))
    }).localCheckpoint()
    edgesU = spark.createDataFrame((0 until nEdges).flatMap(k => Seq((src(k), dst(k)), (dst(k), src(k)))))
      .toDF("src", "dst").distinct().localCheckpoint()
    initLabels = spark.range(nV)
      .select(col("id").as("v"), col("id").as("lbl"), lit(false).as("changed")).localCheckpoint()

    // independent answers: Dijkstra from vertex 0, union-find components
    val dist = Array.fill(nV)(Long.MaxValue)
    val pq = mutable.PriorityQueue.empty[(Long, Int)](Ordering.by[(Long, Int), Long](-_._1))
    dist(0) = 0L
    pq.enqueue((0L, 0))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) out(u).foreach { case (v, w) =>
        if (d + w < dist(v.toInt)) { dist(v.toInt) = d + w; pq.enqueue((d + w, v.toInt)) }
      }
    }
    expectDist = dist.zipWithIndex.map { case (d, v) => v.toLong -> d }.toMap
    val parent = Array.tabulate(nV)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    (0 until nEdges).foreach { k =>
      val (a, b) = (find(src(k).toInt), find(dst(k).toInt))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    expectLabel = (0 until nV).map(v => v.toLong -> find(v).toLong).toMap
  }

  private def pregelSssp(): Map[Long, Long] =
    Pregel.run[SsspV, Long, Unit](spark, verts, maxIter = 200,
      combiner = Some((a: Long, b: Long) => math.min(a, b)),
      onSuperstep = st => stepStats += ((curPass, st))) { (id, v, msgs, step, _) =>
      val best = if (step == 0 && id == 0L) 0L else (v.dist +: msgs).min
      if (best < v.dist)
        Pregel.ComputeResult(v.copy(dist = best), voteToHalt = true,
          messages = v.adj.zip(v.w).map { case (d, w) => (d, best + w) })
      else Pregel.ComputeResult(v, voteToHalt = true)
    }.collect().map { case (id, v) => id -> v.dist }.toMap

  private def fixpointCc(): Map[Long, Long] = {
    val fp = Iterate.untilFixpointChecked(initLabels, maxIter = 100, checkpointEvery = 0) {
      (cur, _) =>
        val nb = edgesU.join(cur, edgesU("src") === cur("v"))
          .groupBy(edgesU("dst").as("v")).agg(min("lbl").as("m"))
        val next = cur.select("v", "lbl").join(nb, Seq("v"), "left").select(col("v"),
          least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
          coalesce(col("m") < col("lbl"), lit(false)).as("changed"))
        val (pinned, changed) = Iterate.pinCountTrue(next, col("changed"), freshIds = true)
        if (cur ne initLabels) Iterate.release(cur)
        (pinned, changed)
    }.requireConverged("fixpoint_cc")
    fixpointIters += ((curPass, fp.iters))
    val labels = fp.out.select("v", "lbl").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Iterate.release(fp.out)
    labels
  }

  private def mapCheck(want: => Map[Long, Long])(got: Any): Option[String] = {
    val g = got.asInstanceOf[Map[Long, Long]]
    val bad = want.keys.filter(k => !g.get(k).contains(want(k)))
    if (g.size != want.size || bad.nonEmpty)
      Some(s"${g.size} vertices (expected ${want.size}), ${bad.size} wrong, e.g. " +
        bad.take(3).map(k => s"$k -> ${g.get(k)} (expected ${want(k)})").mkString(", "))
    else None
  }

  def pass(i: Int): Seq[Op] = {
    curPass = i
    declared.map { q =>
      Op(q, "compute", nOrders,
        () => Rows.of(SparkEntry.queries(q)(spark, dir)), oracle = SparkEntry.oracleSql.get(q))
    } ++ Seq(
      Op("pregel_sssp", "compute", nE, () => pregelSssp(), mapCheck(expectDist)),
      Op("fixpoint_cc", "compute", nE, () => fixpointCc(), mapCheck(expectLabel)))
  }

  override def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val passes = traced.map(_.pass).toSet
    val st = stepStats.filter(s => passes(s._1)).map(_._2)
    val pregelOps = traced.count(_.op == "pregel_sssp").max(1).toDouble
    val sent = st.map(_.messagesSent).sum.toDouble
    val iters = fixpointIters.filter(f => passes(f._1)).map(_._2.toDouble)
    Map(
      "plans.supersteps" -> st.size / pregelOps,
      "plans.superstep_p50_s" -> Tracer.median(st.map(_.seconds).toSeq),
      "plans.msgs_sent" -> sent / pregelOps,
      "plans.combiner_kept_frac" -> (if (sent > 0) st.map(_.messagesDelivered).sum / sent else 0.0),
      "plans.fixpoint_iters" -> (if (iters.isEmpty) 0.0 else iters.sum / iters.size))
  }
}

/** A seeded corpus in the `documents` schema, built like the engine's
  * DedupScale probe: one boilerplate sentence shared by every document (the
  * hot gram), md5-derived bodies that share nothing else, and every
  * `dupEvery`-th document planted again wrapped in padding, so the true
  * containment pairs are known. Declared dedup rows plus two kernel-only
  * ops over pinned inputs. */
final class DedupCorpus(spark: SparkSession) extends Workload {
  private val nBase = 1500
  private val dupEvery = 25
  private val wrapOffset = 1000000L
  private val probeEvery = 15 // kernel_intersect probes every 15th document
  private val minhashCopies = 12 // kernel_minhash hashes the corpus this many times
  private val boiler = "this document is provided under the standard license terms"

  private var dir = ""
  private var nDocs = 0L
  private var planted: Set[(Long, Long)] = Set.empty
  private var grams: DataFrame = _
  private var probes: DataFrame = _
  private var nPairs = 0L
  private var expectIntersect = 0L
  private var tokens: DataFrame = _
  private var lshCandidates: Seq[Long] = Seq.empty

  val warmupPasses = 2
  val passSeconds = 5.0

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    val md = java.security.MessageDigest.getInstance("MD5")
    def word(i: Int, j: Int): String = {
      val h = md.digest(s"$seed-$i-$j".getBytes("UTF-8"))
      "w" + h.take(3).map(b => f"${b & 0xff}%02x").mkString
    }
    def doc(id: Long, text: String, i: Int) =
      Row(id, text, "en", s"s${i % 5}", text.length.toLong)
    val rows = (0 until nBase).flatMap { i =>
      val body = (1 to 24).map(word(i, _)).mkString(" ")
      val base = doc(i.toLong, s"$boiler $body", i)
      if (i % dupEvery == 0)
        Seq(base, doc(wrapOffset + i, s"padx pady padz $boiler $body padp padq padr", i))
      else Seq(base)
    }
    nDocs = rows.size
    planted = (0 until nBase by dupEvery).map(i => (i.toLong, wrapOffset + i)).toSet
    Gen.write(spark, rows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), s"$dir/documents.parquet")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    grams = docs.select(col("doc_id"), TextHash.ngramHashes(Gen.toks(col("text")), 3).as("g"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .localCheckpoint()
    probes = grams.filter(col("doc_id") % probeEvery === 0).localCheckpoint()
    // expected sum from gram document frequencies, not from the kernel:
    // sum over (probe p, doc d) of |G_p ∩ G_d| = sum over grams g of p of df(g)
    val docGrams = grams.collect().map(r =>
      r.getLong(0) -> r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1))))
    val df = docGrams.flatMap(_._2).groupBy(identity).map { case (g, gs) => g -> gs.length.toLong }
    val probeGrams = docGrams.filter(_._1 % probeEvery == 0)
    nPairs = docGrams.length.toLong * probeGrams.length
    expectIntersect = probeGrams.map(_._2.map(df).sum).sum
    tokens = docs.select(Gen.toks(col("text")).as("tk"))
      .crossJoin(spark.range(minhashCopies)).select("tk")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .localCheckpoint()
  }

  /** DuckDB: the same 8 min-hash families as the engine's kernel (family
    * 4k+j is hex slice j of md5("x"*k || shingle)), summed as integers. */
  private def minhashChecksumSql: String = {
    val fams = for (k <- 0 until 2; j <- 0 until 4)
      yield s"MIN(substring(m$k, ${8 * j + 1}, 8)) AS f${4 * k + j}"
    val sum = (0 until 8).map(f => s"('0x' || f$f)::BIGINT").mkString(" + ")
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           t -> length(t) > 0) AS tk FROM documents),
         sh AS (SELECT doc_id, array_to_string(tk[p:p + 2], ' ') AS sh
           FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS p FROM tk) t),
         h AS (SELECT doc_id, md5(sh) AS m0, md5('x' || sh) AS m1 FROM sh),
         sig AS (SELECT doc_id, ${fams.mkString(", ")} FROM h GROUP BY doc_id)
       SELECT CAST($minhashCopies * SUM($sum) AS BIGINT) AS checksum FROM sig"""
  }

  private def containmentCheck(got: Any): Option[String] = {
    val r = got.asInstanceOf[Rows]
    val idx = r.schema.fieldNames.toSeq
    val pairs = r.rows.map(x => (x(idx.indexOf("contained")).asInstanceOf[Long],
      x(idx.indexOf("container")).asInstanceOf[Long]))
    val missing = planted -- pairs
    val extra = pairs.toSet -- planted
    if (pairs.size != planted.size || missing.nonEmpty || extra.nonEmpty)
      Some(s"${pairs.size} pairs for ${planted.size} planted: missing " +
        s"${missing.take(3).mkString(",")}, unexpected ${extra.take(3).mkString(",")}")
    else None
  }

  def pass(i: Int): Seq[Op] = Seq(
    Op("q_dedup_containment", "compute", nDocs,
      () => Rows.of(SparkEntry.queries("q_dedup_containment")(spark, dir)), containmentCheck),
    Op("q_dedup_simhash_pairs", "compute", nDocs,
      () => Rows.of(SparkEntry.queries("q_dedup_simhash_pairs")(spark, dir)),
      oracle = SparkEntry.oracleSql.get("q_dedup_simhash_pairs")),
    // LSH candidates verified by Jaccard; every candidate here shares the
    // boilerplate bigrams, so each one is an output row
    Op("q_dedup_jaccard", "compute", nDocs, () => {
      val r = Rows.of(SparkEntry.queries("q_dedup_jaccard")(spark, dir))
      if (tracing) lshCandidates :+= r.size.toLong
      r
    }, oracle = SparkEntry.oracleSql.get("q_dedup_jaccard")),
    Op("kernel_intersect", "compute", nPairs, () =>
      grams.as("a").crossJoin(broadcast(probes.as("b")))
        .agg(sum(TextHash.hashPairIntersectSize(col("a.g"), col("b.g"))))
        .head().getLong(0),
      got => if (got == expectIntersect) None
        else Some(s"intersection sum $got, expected $expectIntersect")),
    Op("kernel_minhash", "compute", nDocs * minhashCopies, () =>
      Rows.of(tokens.select(TextHash.minhashSig(col("tk"), 3, 8).as("sig"))
        .agg(sum(expr("aggregate(sig, 0L, (acc, x) -> acc + cast(conv(x, 16, 10) as bigint))"))
          .as("checksum"))),
      oracle = Some(minhashChecksumSql)))

  override def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    def p50(op: String) = Tracer.median(traced.filter(_.op == op).map(_.seconds))
    Map(
      "dedup.candidates_per_true_pair" ->
        (if (lshCandidates.isEmpty) 0.0 else lshCandidates.sum.toDouble / lshCandidates.size / planted.size),
      "kernel.intersect_ns_per_pair" -> p50("kernel_intersect") * 1e9 / nPairs,
      "kernel.minhash_ns_per_doc" -> p50("kernel_minhash") * 1e9 / (nDocs * minhashCopies))
  }
}

/** One persistent TxLog MERGE table fed by `Streams.runMergeTotals`. A write
  * op lands one seeded batch of event files in a fresh landing directory and
  * streams it in, `maxFilesPerTrigger` = 1 so every write spans several
  * micro-batches; read ops between writes read the latest snapshot, look up
  * one user, and read an older version. The op count is fixed, because every
  * commit lengthens the log a snapshot replays. */
final class StreamMerge(spark: SparkSession, table: String, seconds: Int) extends Workload {
  private val users = 2000
  private val filesPerWrite = 3
  private val eventsPerFile = 2000
  private val readsPerKind = 2
  val warmupPasses = 2
  val passSeconds = 2.5
  private val writes = warmupPasses + timedPasses(seconds)

  private var dir = ""
  private var rnd: SplittableRandom = _
  // expected table after write k: user -> (n_events, total), and its version
  private val states = ArrayBuffer.empty[Map[Long, (Long, Double)]]
  private val versions = mutable.Map.empty[Int, Long]
  private var landedBytes = 0L
  private val snapshotSecs = ArrayBuffer.empty[Double]
  private val replayed = ArrayBuffer.empty[Double]
  private val liveFiles = ArrayBuffer.empty[Double]

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    this.dir = dir
    rnd = new SplittableRandom(seed)
    val types = Array("view", "click", "purchase", "error")
    val ts0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var state = Map.empty[Long, (Long, Double)]
    val schema = Streams.eventsFileSchema(TimestampType)
    var eventId = 0L
    (0 until writes).foreach { k =>
      val rows = (0 until filesPerWrite * eventsPerFile).map { _ =>
        eventId += 1
        Row(eventId, new Timestamp(ts0 + eventId * 1000L), rnd.nextInt(users).toLong,
          types(rnd.nextInt(4)), Gen.round2(rnd.nextDouble() * 100), s"""{"k": ${rnd.nextInt(100)}}""")
      }
      Gen.write(spark, rows, schema, s"$dir/staged/$k", filesPerWrite)
      // the engine as it behaves today: each runMergeTotals call is a fresh
      // stream and key-replaces a user's row, so the row holds the totals of
      // the last write that carried the user. Whether totals should instead
      // accumulate across calls is an open engine question (README.md); if
      // they should, this becomes a per-user sum with the previous state.
      state = state ++ rows.groupBy(_.getLong(2)).map { case (u, rs) =>
        u -> (rs.size.toLong, rs.map(_.getDouble(4)).sum) }
      states += state
    }
  }

  private def stateRows(k: Int): IndexedSeq[Seq[Any]] =
    states(k).toIndexedSeq.map { case (u, (n, t)) => Seq[Any](u, n, t) }.sortWith(Canon.lt)

  private def expect(k: => Int)(got: Any): Option[String] =
    Canon.diff(got.asInstanceOf[Rows].rows, stateRows(k))

  private def read(asOf: Option[Long], user: Option[Long]): Rows = {
    if (tracing) {
      val t0 = System.nanoTime()
      val snap = TxLog.snapshot(table, asOf)
      snapshotSecs += (System.nanoTime() - t0) / 1e9
      replayed += snap.version + 1 - TxLog.checkpointVersions(table)
        .filter(_ <= snap.version).lastOption.fold(0L)(_ + 1)
      liveFiles += snap.files.size
    }
    val df = Streams.readMergeTable(spark, table, asOf)
      .select("user_id", "n_events", "total")
    Rows.of(user.fold(df)(u => df.filter(col("user_id") === u)))
  }

  def pass(k: Int): Seq[Op] = {
    require(k < states.size, s"stream-merge made inputs for ${states.size} writes")
    val write = Op("merge_write", "write", filesPerWrite * eventsPerFile.toLong, () => {
      val landing = s"$dir/landing/$k"
      Files.createDirectories(Paths.get(s"$dir/landing"))
      Files.move(Paths.get(s"$dir/staged/$k"), Paths.get(landing))
      landedBytes += Files.list(Paths.get(landing)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
      Streams.runMergeTotals(spark, landing, table, Map("maxFilesPerTrigger" -> "1"))
      val v = TxLog.snapshot(table).version
      versions(k) = v
      v
    }, got => {
      val prev = if (k == 0) -1L else versions(k - 1)
      if (got == prev + filesPerWrite) None
      else Some(s"version $got after write $k, expected ${prev + filesPerWrite}")
    })
    val reads = (0 until readsPerKind).flatMap { _ =>
      val u = rnd.nextInt(users).toLong
      val older = math.max(0, k - 1 - rnd.nextInt(3))
      Seq(
        Op("snapshot_read", "read", users, () => read(None, None), expect(k)),
        Op("point_lookup", "read", users, () => read(None, Some(u)), got =>
          Canon.diff(got.asInstanceOf[Rows].rows, stateRows(k).filter(_.head == u))),
        Op("time_travel", "read", users, () => read(Some(versions(older)), None), expect(older)))
    }
    write +: reads
  }

  override def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val written = Files.list(Paths.get(table)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
    Map(
      "table.snapshot_s" -> Tracer.median(snapshotSecs.toSeq),
      "table.replay_entries" -> (if (replayed.isEmpty) 0.0 else replayed.sum / replayed.size),
      "table.live_files" -> (if (liveFiles.isEmpty) 0.0 else liveFiles.sum / liveFiles.size),
      "table.write_amp" -> written.toDouble / landedBytes)
  }
}
