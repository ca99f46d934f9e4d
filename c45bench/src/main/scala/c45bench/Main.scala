package c45bench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark program: one workload, one seed, a closed loop of the
  * workload's public engine calls for a fixed time, every output
  * checked. Prints a detail line, then the result line as the last line
  * of stdout; exits 1 when any call failed. Started by `run.py`, which
  * builds this program, generates the inputs and passes:
  *
  *   --workload W --seed S --seconds T --trace 0|1 --data DIR
  *   --t0-ms EPOCH_MS --rows table=n,... --conf k=v (repeated)
  *   [--pin DIGEST] [--spans FILE]
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                          dataDir: String, t0Ms: Long,
                          rows: Map[String, Long], conf: Seq[(String, String)],
                          pin: Option[String], spans: Option[String])

  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => (k.drop(2), v)
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toSeq
    def one(k: String): String = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    def opt(k: String): Option[String] = kv.collectFirst { case (`k`, v) => v }
    Config(one("workload"), one("seed").toLong, one("seconds").toDouble, one("trace") == "1",
      one("data"), one("t0-ms").toLong,
      one("rows").split(",").map { p => val Array(t, n) = p.split("="); t -> n.toLong }.toMap,
      kv.collect { case ("conf", v) => val i = v.indexOf('='); v.take(i) -> v.drop(i + 1) },
      opt("pin"), opt("spans"))
  }

  def session(conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().appName("c45bench")
    conf.foreach { case (k, v) => if (k == "spark.master") b.master(v) else b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = session(cfg.conf)
    val code =
      try run(spark, cfg)
      catch {
        case NonFatal(e) =>
          System.err.println(s"c45bench: ${cfg.workload} setup failed: $e")
          e.printStackTrace()
          2
      } finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, cfg: Config): Int =
    execute(spark, Workloads(cfg.workload, spark, cfg.dataDir, cfg.rows), cfg)

  /** Sets up and warms up `w`, runs its timed loop, checks and
    * prints; returns the exit code: 0 when every call and check
    * passed, 1 otherwise. */
  def execute(spark: SparkSession, w: Workload, cfg: Config): Int = {
    val clear = () => spark.catalog.clearCache()
    w.setup()
    // untimed cycles: call times keep falling for several cycles after
    // every call has run once (JIT), and a fixed count, unlike a fixed
    // time, leaves every run at the same point of that curve
    val warm = (1 to w.warmupCycles).flatMap(_ => Runner.loop(w.cycle, 0, None, clear))
    clear()
    val readyMs = System.currentTimeMillis()
    val setupS = (readyMs - cfg.t0Ms) / 1e3

    val ledger = if (cfg.trace) Some(Ledger.install(spark)) else None
    val root = ledger.map(_.addSpan(0, "workload", cfg.workload, readyMs.toDouble, Double.NaN))
    val cycles = Runner.loop(w.cycle, cfg.seconds, ledger.zip(root).headOption, clear)
    val endMs = System.currentTimeMillis()
    val outcome = new Runner.Outcome(warm ++ cycles)
    w.finalChecks().foreach { case (n, r) => outcome.record(n, r) }
    val digest = w.digest
    val pinErr = cfg.pin.filter(_ != digest).map(p => s"model digest $digest differs from pinned $p")
    outcome.record("pinned_digest", pinErr)

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "seed" -> cfg.seed, "setup_s" -> setupS,
      "cycles" -> cycles.size, "digest" -> digest)
    Runner.perCall(cycles, cfg.rows).foreach { case (k, v) => detail(k) = v }
    val rss = Rss.peakMb()
    detail("peak_rss_mb") = rss

    val metrics: Seq[(String, Double, String)] = ledger match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("cycle_s", Runner.cycleSeconds(cycles), "s"),
        ("peak_rss_mb", rss, "MB"))
      case Some(l) =>
        l.closeSpan(root.get, endMs.toDouble)
        val (levels, leaves) = w.modelShape
        val layer = Runner.layerMetrics(cycles, levels, leaves)
        detail("per_call") = Runner.perCallLayers(cycles)
        detail("decomposition_errors") = l.decompositionErrors
        outcome.record("self_time_plus_job_union_equals_wall",
          if (l.decompositionErrors == 0) None
          else Some(s"${l.decompositionErrors} ops whose jobs fall outside their window"))
        cfg.spans.foreach(p => Json.writeSpans(p, cfg.workload, cfg.seed, l.allSpans))
        layer
    }
    detail("attempted") = outcome.attempted
    detail("failed") = outcome.failed
    detail("failed_frac") = outcome.failed.toDouble / outcome.attempted
    detail("failures") = outcome.errors.take(10)
    println(Json.obj(Seq("detail" -> detail.toSeq)))
    println(Json.result(outcome.failed == 0, outcome.attempted, outcome.failed, metrics))
    if (outcome.failed == 0) 0 else 1
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Rss {
  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
