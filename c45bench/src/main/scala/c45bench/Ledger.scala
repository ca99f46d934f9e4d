package c45bench

import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.c45bench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One span of the trace. `parent` 0 is the root. Times are epoch
  * milliseconds (jobs and stages carry the scheduler's millisecond
  * stamps; ops carry the driver clock). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Seq[(String, Double)] = Nil)

/** Counts Janino "Failed to compile" log events: a whole-stage-codegen
  * unit that did not compile and fell back to interpreted execution. */
final class CompileFailures extends AbstractAppender(
    "c45bench-compile-failures", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).orNull
    if (msg != null && msg.contains("Failed to compile")) count.incrementAndGet()
  }
}

object CompileFailures {
  def install(): CompileFailures = {
    val app = new CompileFailures
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    app
  }
}

/** The traced run's ledger: a benchmark-owned listener that ties every
  * Spark job, stage and task to the op that launched it (through the
  * `c45bench.op` local property set around each call, never through
  * timing), plus the span list written out at exit.
  *
  * Listener events arrive on the bus thread; every read first drains
  * the bus, so counts are complete when they are taken. */
final class Ledger(spark: SparkSession) extends SparkListener {
  import Ledger._

  private final class JobRec(val op: String, val start: Long) {
    var end: Long = -1L
    val stages = mutable.ArrayBuffer.empty[Int]
  }
  private final class StageRec(val op: String, val name: String,
                               val fileScan: Boolean, val start: Long) {
    var end: Long = -1L
    var tasks, runMs, cpuNs, waitMs, shuffleBytes, shuffleRecords,
      spillBytes, inputRecords = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached, cachedPeak = 0L

  private def opOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(opOf(e.properties), e.time)
    e.stageInfos.foreach(s => if (!stageJob.contains(s.stageId)) stageJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    val job = stageJob.getOrElse(s.stageId, -1)
    stages(s.stageId) = new StageRec(opOf(e.properties), s.name,
      s.rddInfos.exists(_.name == "FileScanRDD"),
      s.submissionTime.getOrElse(System.currentTimeMillis()))
    jobs.get(job).foreach(_.stages += s.stageId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(
      _.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += bytes - blocks.getOrElse(key, 0L)
      if (bytes == 0L) blocks.remove(key) else blocks(key) = bytes
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  private val sc = spark.sparkContext
  private val compileFailures = CompileFailures.install()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var opSeq = 0
  /** Ops whose jobs fell outside the op's own window, or whose job
    * union exceeded its wall time: a broken self-time decomposition. */
  var decompositionErrors: Int = 0

  def drain(): Unit = Bus.drain(sc)

  def addSpan(parent: Int, kind: String, name: String, startMs: Double,
              endMs: Double, attrs: Seq[(String, Double)] = Nil): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, kind, name, startMs, endMs, attrs)
    id
  }

  def closeSpan(id: Int, endMs: Double): Unit =
    spans(id - 1) = spans(id - 1).copy(endMs = endMs)

  def allSpans: Seq[Span] = spans.toSeq

  /** Run `body` as one traced op: tag its jobs, then roll up every
    * layer metric of the jobs it launched. `inputRows` is the row count
    * of the parquet table(s) the op scans. */
  def measure[T](parent: Int, name: String, inputRows: Long)(body: => T): (T, Map[String, Double]) = {
    drain()
    opSeq += 1
    val op = s"$name#$opSeq"
    synchronized { cachedPeak = cached }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val fallbacks0 = compileFailures.count.get
    sc.setLocalProperty(OpKey, op)
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(OpKey, null)
    val wallMs = (System.nanoTime() - t0) / 1e6
    drain()
    val endMs = startMs + wallMs
    val m = synchronized {
      val js = jobs.filter(_._2.op == op).toSeq
      val ss = stages.values.filter(_.op == op).toSeq
      val intervals = js.map { case (_, j) => (j.start.toDouble, j.end.toDouble) }
      if (intervals.exists { case (s, e) =>
            e < s || s < startMs - ClockSlackMs || e > endMs + ClockSlackMs })
        decompositionErrors += 1
      val union = unionLength(intervals.map { case (s, e) =>
        (math.max(s, startMs), math.min(e, endMs)) })
      val driverOnly = wallMs - union
      if (driverOnly < -ClockSlackMs) decompositionErrors += 1
      val firstJob = if (intervals.isEmpty) endMs else intervals.map(_._1).min
      val runMs = ss.map(_.runMs).sum.toDouble
      // the sources layer: parquet scans of the call's input table; a
      // call with none (a model load) reads only persisted models
      val scans = if (inputRows > 0) ss.filter(_.fileScan) else Nil
      val cores = sc.defaultParallelism
      val opSpan = addSpan(parent, "op", op, startMs, endMs)
      js.foreach { case (jid, j) =>
        val jobSpan = addSpan(opSpan, "job", s"job $jid", j.start, j.end)
        j.stages.flatMap(s => stages.get(s).map(s -> _)).foreach { case (sid, s) =>
          addSpan(jobSpan, "stage", s"stage $sid ${s.name}", s.start, s.end,
            Seq("tasks" -> s.tasks.toDouble, "executor_run_ms" -> s.runMs.toDouble,
              "shuffle_records" -> s.shuffleRecords.toDouble))
        }
      }
      Map(
        "wall_s" -> wallMs / 1e3,
        "driver_only_s" -> math.max(0.0, driverOnly) / 1e3,
        "job_union_s" -> union / 1e3,
        "plan_s" -> math.max(0.0, firstJob - startMs) / 1e3,
        "jobs" -> js.size.toDouble,
        "stages" -> ss.size.toDouble,
        "tasks" -> ss.map(_.tasks).sum.toDouble,
        "executor_run_s" -> runMs / 1e3,
        "executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "task_wait_s" -> ss.map(_.waitMs).sum / 1e3,
        "core_util" -> (if (union > 0) runMs / (cores * union) else 0.0),
        "shuffle_write_mb" -> ss.map(_.shuffleBytes).sum / MiB,
        "shuffle_records" -> ss.map(_.shuffleRecords).sum.toDouble,
        "spill_mb" -> ss.map(_.spillBytes).sum / MiB,
        "scan_rows" -> scans.map(_.inputRecords).sum.toDouble,
        "input_rows" -> inputRows.toDouble,
        "scan_rows_ratio" -> scans.map(_.inputRecords).sum.toDouble / math.max(1L, inputRows),
        "scan_run_s" -> scans.map(_.runMs).sum / 1e3,
        "codegen_compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble,
        "codegen_fallbacks" -> (compileFailures.count.get - fallbacks0).toDouble,
        "cache_peak_mb" -> cachedPeak / MiB)
    }
    (out, m)
  }
}

object Ledger {
  val OpKey = "c45bench.op"
  /** Scheduler stamps are whole milliseconds; allow that much skew
    * between them and the driver clock. */
  val ClockSlackMs = 5.0
  private val MiB = 1024.0 * 1024.0

  /** Total length covered by a set of closed intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total + (curE - curS) else total
  }

  def install(spark: SparkSession): Ledger = {
    val l = new Ledger(spark)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
