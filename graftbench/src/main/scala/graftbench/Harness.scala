package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Rows of an op's output, in a fixed order. */
final case class Rows(schema: StructType, rows: IndexedSeq[Seq[Any]]) {
  def size: Int = rows.size
}

object Rows {
  def of(df: DataFrame): Rows = {
    val rs = df.collect().toIndexedSeq.map(_.toSeq)
    Rows(df.schema, rs.sortWith(Canon.lt))
  }
}

/** Order and tolerant equality for op outputs. Doubles match within
  * 1e-9 absolute or 1e-6 relative: declared queries round on both the
  * engine and the oracle side, and a last-digit rounding flip between two
  * summation orders must not read as a wrong answer. */
object Canon {
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.iterator.zip(y.iterator).map { case (p, q) => cmp(p, q) }
        .find(_ != 0).getOrElse(Integer.compare(x.size, y.size))
    case (x, y) => x.toString.compareTo(y.toString)
  }

  def lt(a: Seq[Any], b: Seq[Any]): Boolean = cmp(a, b) < 0

  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 + 1e-6 * math.max(math.abs(x), math.abs(y))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.iterator.zip(y.iterator).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  /** None when equal, else the first difference. */
  def diff(got: IndexedSeq[Seq[Any]], want: IndexedSeq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.indices.find(i => !close(got(i), want(i)))
      .map(i => s"row $i: got ${got(i).mkString("(", ", ", ")")}, " +
        s"expected ${want(i).mkString("(", ", ", ")")}")
}

/** One call into the engine. `run` returns the op's output. Without an
  * `oracle`, `check` compares the output with an answer computed
  * independently of the engine and returns the mismatch, if any. With an
  * `oracle` the output is [[Rows]]: the first one is written for run.py,
  * which compares it with that DuckDB query over the same input files, and
  * every later one must equal the first. */
final case class Op(
    name: String,
    kind: String, // "compute", "write" or "read"
    inputRows: Long,
    run: () => Any,
    check: Any => Option[String] = _ => None,
    oracle: Option[String] = None)

/** A workload: inputs made from a seed, then passes of ops in a fixed order,
  * one caller, each op started when the previous one returned. */
trait Workload {
  /** Write the inputs under `dir`; nothing timed happens here. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** Ops of pass `i` (0-based over warm-up and timed passes). */
  def pass(i: Int): Seq[Op]
  def warmupPasses: Int
  /** Warm time of one pass on a 4-core x86 host. */
  def passSeconds: Double
  /** Timed passes: a fixed count for the seconds asked for, so that every
    * run does the same ops in the same order — a time limit would let a
    * slow run do fewer passes and weigh the op types differently. */
  def timedPasses(seconds: Int): Int = math.max(2, math.ceil(seconds / passSeconds).toInt)
  /** Per-layer figures only the workload can see (traced run). */
  def layerMetrics(tracedOps: Seq[Sample]): Map[String, Double] = Map.empty
  /** True while the current pass is traced. */
  var tracing: Boolean = false
}

final case class Sample(pass: Int, phase: String, traced: Boolean, op: String,
    kind: String, startMs: Long, endMs: Long, seconds: Double, inputRows: Long,
    jobs: Int, error: Option[String])

/** Benchmark process: one SparkSession at local[nproc], inputs from the
  * seed, warm-up passes, then timed passes. Writes every op sample and the
  * per-layer figures as JSON for run.py, which turns them into metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  * --spans FILE */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = opt("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStartMs = System.currentTimeMillis()

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionReadyMs = System.currentTimeMillis()

    val wl: Workload = workloadName match {
      case "graph-loops" => new GraphLoops(spark)
      case "dedup-corpus" => new DedupCorpus(spark)
      case "stream-merge" => new StreamMerge(spark, s"$work/table", seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val inputs = s"$work/inputs"
    wl.generate(spark, inputs, seed)
    val inputsReadyMs = System.currentTimeMillis()

    val samples = ArrayBuffer.empty[Sample]
    val refs = scala.collection.mutable.LinkedHashMap.empty[String, Rows]
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // guard: every timed op must run as many Spark jobs as it did in the
    // last warm-up pass; a difference means a memo replayed a result or the
    // op is not deterministic, and its time is not the time of real work
    val warmJobs = scala.collection.mutable.Map.empty[String, Int]
    var guardMismatches = 0

    def runPass(i: Int, phase: String, traced: Boolean): Unit = {
      wl.tracing = traced
      if (traced) tracer.foreach(_.attach())
      for (op <- wl.pass(i)) {
        val jobs0 = BenchBus.jobsSubmitted(spark.sparkContext)
        val t0 = System.nanoTime()
        val startMs = System.currentTimeMillis()
        val out = try Right(op.run()) catch { case NonFatal(e) => Left(e) }
        val secs = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        val jobs = BenchBus.jobsSubmitted(spark.sparkContext) - jobs0
        // per-op isolation, as the engine's own bench does between queries
        spark.catalog.clearCache()
        val error: Option[String] = out match {
          case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          case Right(v) =>
            try op.oracle match {
              case None => op.check(v)
              case Some(sql) => refs.get(op.name) match {
                case Some(r) => Canon.diff(v.asInstanceOf[Rows].rows, r.rows)
                case None =>
                  refs(op.name) = v.asInstanceOf[Rows]
                  oracles(op.name) = sql
                  None
              }
            } catch { case NonFatal(e) => Some(s"check threw $e") }
        }
        val guard = if (phase == "warmup") { warmJobs(op.name) = jobs; None }
          else warmJobs.get(op.name).filter(_ != jobs).map { w =>
            guardMismatches += 1
            s"job-count guard: ran $jobs jobs, last warm-up pass ran $w"
          }
        val problem = error.orElse(guard)
        problem.foreach(e => System.err.println(s"[graftbench] $phase pass $i ${op.name}: $e"))
        samples += Sample(i, phase, traced, op.name, op.kind, startMs, endMs, secs,
          op.inputRows, jobs, problem)
      }
      if (traced) tracer.foreach(_.detach())
    }

    // cold first pass, then the rest of the warm-up
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val cg0 = Tracer.codegenSnapshot()
    val firstStartMs = System.currentTimeMillis()
    runPass(0, "warmup", traced = trace)
    val firstPassS = samples.map(_.seconds).sum
    val firstJitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val cg1 = Tracer.codegenSnapshot()
    (1 until wl.warmupPasses).foreach(i => runPass(i, "warmup", traced = trace))

    // timed: whole passes, so every op type weighs the same in every run.
    // The traced run alternates untraced passes, which run without the
    // listeners, and traced passes; the difference in op rate between the
    // two is the tracing overhead.
    val timedStartMs = System.currentTimeMillis()
    (0 until wl.timedPasses(seconds)).foreach { done =>
      runPass(wl.warmupPasses + done, "timed", traced = trace && done % 2 == 1)
    }
    val timedEndMs = System.currentTimeMillis()

    // outputs checked by run.py against DuckDB
    Files.createDirectories(Paths.get(work, "refs"))
    for ((name, sql) <- oracles) {
      val r = refs(name)
      spark.createDataFrame(r.rows.map(Row.fromSeq).asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/refs/$name")
    }

    val layers: Map[String, Double] = tracer.map { t =>
      val tracedSamples = samples.filter(s => s.phase == "timed" && s.traced).toSeq
      val untraced = samples.filter(s => s.phase == "timed" && !s.traced).toSeq
      def rate(ss: Seq[Sample]) = ss.size / ss.map(_.seconds).sum
      t.layerMetrics(tracedSamples) ++
        wl.layerMetrics(tracedSamples) ++ Map(
          "session.start_s" -> (sessionReadyMs - jvmStartMs) / 1e3,
          "inputs.gen_s" -> (inputsReadyMs - sessionReadyMs) / 1e3,
          "warmup_s" -> (timedStartMs - inputsReadyMs) / 1e3,
          "jvm.jit_s" -> firstJitS,
          "codegen.compile_s" -> (cg1._1 - cg0._1) / 1e3,
          "codegen.classes" -> (cg1._2 - cg0._2).toDouble,
          "trace.ops_per_s" -> rate(tracedSamples),
          "trace.overhead_frac" -> (1.0 - rate(tracedSamples) / rate(untraced)),
          "guard.job_count_mismatches" -> guardMismatches.toDouble)
    }.getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(opt("spans"), samples.toSeq))

    val result = Map(
      "workload" -> workloadName,
      "seed" -> seed,
      "cpus" -> cpus,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "jvm_start_ms" -> jvmStartMs,
      "main_start_ms" -> mainStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "inputs_ready_ms" -> inputsReadyMs,
      "first_start_ms" -> firstStartMs,
      "timed_start_ms" -> timedStartMs,
      "timed_end_ms" -> timedEndMs,
      "first_pass_s" -> firstPassS,
      "warmup_passes" -> wl.warmupPasses,
      "peak_rss_mb" -> Tracer.peakRssMb(),
      "oracles" -> oracles.toMap,
      "layers" -> layers,
      "samples" -> samples.toSeq.map(s => Map(
        "pass" -> s.pass, "phase" -> s.phase, "traced" -> s.traced, "op" -> s.op,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "input_rows" -> s.inputRows, "jobs" -> s.jobs,
        "error" -> s.error.orNull)))
    Files.write(Paths.get(opt("out")), json(result).getBytes(UTF_8))
    spark.stop()
  }

  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)
}
