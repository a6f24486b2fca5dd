package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters seen from outside the engine, through Spark's public
  * listener APIs: jobs and stages (SparkListener), planning phases
  * (QueryExecutionListener) and streaming micro-batches
  * (StreamingQueryListener). Records stay in memory; the harness attributes
  * each record to the op whose [start, end] holds it — one caller runs one
  * op at a time, so the op is the parent of every job, phase and batch
  * started inside it. The listeners are registered only around traced
  * passes, so the untraced passes of a traced run carry none of them. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val phases = new ConcurrentLinkedQueue[PhaseRec]
  private val batches = new ConcurrentLinkedQueue[BatchRec]
  private val tasks = new ConcurrentLinkedQueue[(Long, Long)] // (launch, finish) ms

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobRec(e.jobId, e.time, e.stageIds)): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.add((e.taskInfo.launchTime, e.taskInfo.finishTime)): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(StageRec(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize)): Unit
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs))
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows)): Unit
    }
  }

  /** Register the listeners; a traced pass runs between attach and detach. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every event posted so far, then unregister the listeners, so
    * that an untraced pass runs with none of them. */
  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  private def within(s: Sample, t: Long): Boolean = t >= s.startMs && t <= s.endMs

  private def jobsOf(s: Sample): Seq[JobRec] = jobs.asScala.filter(j => within(s, j.startMs)).toSeq

  /** Per-layer figures over the traced timed ops, per op unless named
    * otherwise. */
  def layerMetrics(ops: Seq[Sample]): Map[String, Double] = {
    val n = ops.size.toDouble
    val opJobs = ops.map(s => s -> jobsOf(s)).toMap
    val jobStage = jobs.asScala.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    val jobOp = opJobs.toSeq.flatMap { case (s, js) => js.map(_.id -> s) }.toMap
    val opStages = stages.asScala.toSeq
      .flatMap(st => jobStage.get(st.id).flatMap(jobOp.get).map(_ -> st))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def stageSum(f: StageRec => Double): Double = opStages.values.flatten.map(f).sum / n

    // op wall split three ways: some task running (exec), inside a job but
    // no task running (sched), outside every job (driver: planning, driver
    // loops, listing files, committing)
    val busy = ops.map(s => unionSecs(opJobs(s).map(j =>
      (j.startMs, jobEnds.asScala.getOrElse(j.id, j.startMs)))))
    val taskIv = tasks.asScala.toSeq
    val execBusy = ops.map(s => unionSecs(taskIv.filter(t => within(s, t._1))))
    val nJobs = opJobs.values.map(_.size).sum.toDouble
    val wall = ops.map(_.seconds).sum

    val phaseSecs = (name: String) => phases.asScala
      .filter(p => p.name == name && ops.exists(s => within(s, p.startMs)))
      .map(p => (p.endMs - p.startMs) / 1e3).sum / n

    val opBatches = ops.map(s => s -> batches.asScala.filter(b => within(s, b.startMs)).toSeq)
      .filter(_._2.nonEmpty)
    val allBatches = opBatches.flatMap(_._2)
    def batchP50(k: String) = median(allBatches.flatMap(_.durations.get(k)).map(_ / 1e3))

    Map(
      "sched.jobs" -> nJobs / n,
      "sched.stages" -> opStages.values.map(_.size).sum / n,
      "sched.tasks" -> stageSum(_.tasks.toDouble),
      "sched.job_busy_s" -> busy.sum / n,
      "sched.driver_gap_s" -> (wall - busy.sum) / n,
      "sched.ms_per_job" -> (if (nJobs > 0) wall * 1e3 / nJobs else 0.0),
      "share.exec" -> execBusy.sum / wall,
      "share.sched" -> (busy.sum - execBusy.sum) / wall,
      "share.driver" -> (wall - busy.sum) / wall,
      "plan.analysis_s" -> phaseSecs("analysis"),
      "plan.optimizer_s" -> phaseSecs("optimization"),
      "plan.physical_s" -> phaseSecs("planning"),
      "exec.run_s" -> stageSum(_.runMs / 1e3),
      "exec.cpu_s" -> stageSum(_.cpuNs / 1e9),
      "exec.gc_s" -> stageSum(_.gcMs / 1e3),
      "shuffle.write_mb" -> stageSum(_.shuffleWriteB / 1e6),
      "shuffle.read_mb" -> stageSum(_.shuffleReadB / 1e6),
      "shuffle.fetch_wait_s" -> stageSum(_.fetchWaitMs / 1e3),
      "spill.mb" -> stageSum(_.spillB / 1e6),
      "collect.result_mb" -> stageSum(_.resultB / 1e6),
      // per op that ran a stream
      "stream.batches" -> (if (opBatches.isEmpty) 0.0 else allBatches.size.toDouble / opBatches.size),
      "stream.start_s" -> median(opBatches.map { case (s, bs) =>
        (bs.map(_.startMs).min - s.startMs) / 1e3 }),
      "stream.stop_s" -> median(opBatches.map { case (s, bs) =>
        (s.endMs - bs.map(b => b.startMs + b.durations.getOrElse("triggerExecution", 0L)).max) / 1e3 }),
      "stream.trigger_p50_s" -> batchP50("triggerExecution"),
      "stream.add_batch_p50_s" -> batchP50("addBatch"),
      "stream.wal_commit_p50_s" -> batchP50("walCommit"),
      "stream.plan_p50_s" -> batchP50("queryPlanning"),
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1e3,
      "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1e6)
  }

  /** One JSON line per span: ops, then the jobs, stages, planning phases and
    * stream batches each op caused. Self time of a span is its duration less
    * the part its children cover. */
  def writeSpans(path: String, samples: Seq[Sample]): Unit = {
    val lines = Seq.newBuilder[Map[String, Any]]
    samples.zipWithIndex.foreach { case (s, i) =>
      val opId = s"op$i"
      lines += Map("id" -> opId, "parent" -> null, "name" -> s.op, "layer" -> "op",
        "pass" -> s.pass, "phase" -> s.phase, "traced" -> s.traced, "jobs" -> s.jobs,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      if (s.traced) {
        jobsOf(s).foreach { j =>
          val jobId = s"job${j.id}"
          lines += Map("id" -> jobId, "parent" -> opId, "name" -> s"job ${j.id}",
            "layer" -> "sched", "start_ms" -> j.startMs,
            "end_ms" -> jobEnds.asScala.getOrElse(j.id, j.startMs))
          stages.asScala.filter(st => j.stageIds.contains(st.id)).foreach { st =>
            lines += Map("id" -> s"stage${st.id}", "parent" -> jobId,
              "name" -> s"stage ${st.id}", "layer" -> "exec", "start_ms" -> st.submitMs,
              "end_ms" -> st.doneMs, "tasks" -> st.tasks, "run_ms" -> st.runMs,
              "shuffle_write_bytes" -> st.shuffleWriteB, "shuffle_read_bytes" -> st.shuffleReadB)
          }
        }
        phases.asScala.filter(p => within(s, p.startMs)).foreach { p =>
          lines += Map("id" -> null, "parent" -> opId, "name" -> p.name, "layer" -> "plan",
            "start_ms" -> p.startMs, "end_ms" -> p.endMs)
        }
        batches.asScala.filter(b => within(s, b.startMs)).foreach { b =>
          lines += Map("id" -> null, "parent" -> opId, "name" -> s"batch ${b.batchId}",
            "layer" -> "streaming", "start_ms" -> b.startMs,
            "end_ms" -> (b.startMs + b.durations.getOrElse("triggerExecution", 0L)),
            "durations_ms" -> b.durations, "input_rows" -> b.rows)
        }
      }
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      lines.result().map(Main.json).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  final case class JobRec(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, submitMs: Long, doneMs: Long, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWriteB: Long, shuffleReadB: Long, fetchWaitMs: Long,
      spillB: Long, resultB: Long)
  final case class PhaseRec(name: String, startMs: Long, endMs: Long)
  final case class BatchRec(batchId: Long, startMs: Long, durations: Map[String, Long], rows: Long)

  /** Seconds covered by the union of [start, end] ms intervals. */
  def unionSecs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = 0L
    var curE = -1L
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    (total + math.max(0L, curE - curS)) / 1e3
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** (total compile ms, compiled classes) from Spark's codegen metrics. The
    * histogram keeps every value until it holds 1028 of them, which covers a
    * cold first pass here. */
  def codegenSnapshot(): (Double, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getSnapshot.getValues.map(_.toDouble).sum, h.getCount)
  }

  /** Peak resident set of this process, from /proc (Linux). */
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN))
}
