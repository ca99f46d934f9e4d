package c45bench

import scala.collection.mutable
import scala.util.control.NonFatal

/** The closed loop and the roll-up of its samples. */
object Runner {
  /** One call's outcome: wall time, the failed check (or throw) if
    * any, and in a traced cycle its layer metrics (empty otherwise). */
  final case class CallResult(name: String, wallS: Double, error: Option[String],
                              layer: Map[String, Double])

  def attempt(c: Call): Option[String] =
    try c.run() catch { case NonFatal(e) => Some(s"threw $e") }

  def runCall(c: Call, trace: Option[(Ledger, Int)]): CallResult = trace match {
    case None =>
      val t0 = System.nanoTime()
      val err = attempt(c)
      CallResult(c.name, (System.nanoTime() - t0) / 1e9, err, Map.empty)
    case Some((l, parent)) =>
      val (err, m) = l.measure(parent, c.name, c.inputRows)(attempt(c))
      CallResult(c.name, m("wall_s"), err, m)
  }

  /** Closed loop: one client runs the cycle's calls one at a time until
    * `seconds` have passed, at least once. `clear` runs before every
    * call, outside its timed window. In a traced run cycles alternate
    * untraced and traced, so that each kind gets samples taken under
    * the same machine state and their difference is the tracing
    * overhead. */
  def loop(cycle: Seq[Call], seconds: Double, trace: Option[(Ledger, Int)],
           clear: () => Unit): Seq[Seq[CallResult]] = {
    val out = mutable.ArrayBuffer.empty[Seq[CallResult]]
    val minCycles = if (trace.isDefined) 2 else 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (out.size < minCycles || System.nanoTime() < deadline) {
      val traced = trace.filter(_ => out.size % 2 == 1)
      out += cycle.map { c => clear(); runCall(c, traced) }
    }
    out.toSeq
  }

  /** Attempted and failed ops: every warm-up and timed call, and every
    * one-off check. */
  final class Outcome(cycles: Seq[Seq[CallResult]]) {
    var attempted, failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def record(name: String, err: Option[String]): Unit = {
      attempted += 1
      err.foreach { e => failed += 1; errors += s"$name: $e" }
    }
    cycles.flatten.foreach(r => record(r.name, r.error))
  }

  private def untraced(cycles: Seq[Seq[CallResult]]) = cycles.filter(_.forall(_.layer.isEmpty))
  private def traced(cycles: Seq[Seq[CallResult]]) = cycles.filter(_.exists(_.layer.nonEmpty))

  /** One cycle's time: the sum over its calls of each call's median
    * wall time, which a one-off stall in a single call moves less than
    * the median of whole-cycle sums. */
  def cycleSeconds(cycles: Seq[Seq[CallResult]]): Double =
    cycles.flatten.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.wallS))).sum

  /** Each call's end-to-end figure under its own name: seconds per
    * fit or load, rows per second for scoring. Untraced samples only. */
  def perCall(cycles: Seq[Seq[CallResult]], rows: Map[String, Long]): Seq[(String, Any)] = {
    val byName = untraced(cycles).flatten.groupBy(_.name)
    val order = cycles.headOption.toSeq.flatten.map(_.name)
    order.map { n =>
      val walls = byName(n).map(_.wallS)
      val med = Stats.median(walls)
      val (key, value, unit) =
        if (Set("score", "proba", "forest_score")(n)) (s"${n}_rows_per_s", rows("score") / med, "rows/s")
        else (s"${n}_s", med, "s")
      key -> Seq("value" -> value, "unit" -> unit, "n" -> walls.size, "samples_s" -> walls)
    }
  }

  /** Metrics that add up over the calls of a cycle. */
  private val additive = Seq("wall_s", "driver_only_s", "plan_s", "jobs", "stages", "tasks",
    "executor_run_s", "executor_cpu_s", "task_wait_s", "shuffle_write_mb", "shuffle_records",
    "spill_mb", "codegen_compiles", "codegen_fallbacks")

  /** One traced cycle rolled up: sums, the cache peak, and ratios
    * recomputed from their sums. */
  private def cycleLayer(c: Seq[CallResult], levels: Int): Map[String, Double] = {
    val ms = c.map(_.layer)
    def sum(k: String) = ms.map(_(k)).sum
    val union = sum("job_union_s")
    additive.map(k => s"cycle.$k" -> sum(k)).toMap ++ Map(
      "cycle.core_util" -> (if (union > 0) ms.map(m => m("core_util") * m("job_union_s")).sum / union else 0.0),
      "cycle.cache_peak_mb" -> ms.map(_("cache_peak_mb")).max,
      "cycle.jobs_per_level" -> sum("jobs") / math.max(1, levels),
      "sources.scan_rows_ratio" -> sum("scan_rows") / math.max(1.0, sum("input_rows")),
      "sources.scan_run_s" -> sum("scan_run_s"))
  }

  val layerUnits: Seq[(String, String)] = additive.map { k =>
    s"cycle.$k" -> (if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count")
  } ++ Seq("cycle.core_util" -> "ratio", "cycle.cache_peak_mb" -> "MB",
    "cycle.jobs_per_level" -> "ratio", "sources.scan_rows_ratio" -> "ratio",
    "sources.scan_run_s" -> "s", "model.levels" -> "count", "model.leaves" -> "count",
    "trace.overhead_s" -> "s")

  /** The per-layer metrics: medians over the traced cycles, the model
    * shape, and traced minus untraced cycle wall time. */
  def layerMetrics(cycles: Seq[Seq[CallResult]], levels: Int, leaves: Int): Seq[(String, Double, String)] = {
    val per = traced(cycles).map(cycleLayer(_, levels))
    val overhead = Stats.median(traced(cycles).map(_.map(_.wallS).sum)) -
      Stats.median(untraced(cycles).map(_.map(_.wallS).sum))
    val values = per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap ++ Map(
      "model.levels" -> levels.toDouble, "model.leaves" -> leaves.toDouble,
      "trace.overhead_s" -> overhead)
    layerUnits.map { case (k, u) => (k, values(k), u) }
  }

  /** Each call's layer metrics under `<call>.<metric>`: medians over
    * the traced cycles. */
  def perCallLayers(cycles: Seq[Seq[CallResult]]): Seq[(String, Any)] =
    traced(cycles).flatten.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (n, rs) =>
      rs.head.layer.keys.toSeq.sorted.map(k => s"$n.$k" -> Stats.median(rs.map(_.layer(k))))
    }
}
