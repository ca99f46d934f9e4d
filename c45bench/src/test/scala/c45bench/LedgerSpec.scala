package c45bench

import graft.fit.{C45, C45Params}
import graft.meta.{AttrMeta, C45Schema}
import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("color", isNumeric = false, Seq("red", "blue")),
      AttrMeta("size", isNumeric = true)),
    "cls", Seq("a", "b"))

  // a fixed 400-row table whose depth-2 tree splits on size, then color
  private def table() = {
    val s = spark
    import s.implicits._
    (0 until 400).map { i =>
      val color = if (i % 2 == 0) "red" else "blue"
      val size = (i % 20).toDouble
      val cls =
        if (size <= 9) { if (color == "red") "a" else if (i % 3 == 0) "b" else "a" }
        else { if (color == "blue") "b" else if (i % 3 == 0) "a" else "b" }
      (color, size, cls)
    }.toDF("color", "size", "cls")
  }

  test("a tiny fixed fit records the same job count every time once the bus is drained") {
    val ledger = Ledger.install(spark)
    try {
      val root = ledger.addSpan(0, "workload", "ledger-spec", 0, 0)
      val runs = (1 to 3).map { _ =>
        ledger.measure(root, "fit", 400)(C45.fit(table(), schema, C45Params(maxDepth = 2, maxBins = 0)))._2
      }
      val jobs = runs.map(_("jobs"))
      assert(jobs.head > 0 && jobs.forall(_ == jobs.head), s"job counts $jobs")
      assert(ledger.decompositionErrors == 0)
      runs.foreach { m =>
        assert(math.abs(m("driver_only_s") + m("job_union_s") - m("wall_s")) < 1e-6, m)
        assert(m("stages") >= m("jobs") && m("tasks") >= m("stages"), m)
      }
      // one job span per counted job, each under its op span
      val spans = ledger.allSpans
      val ops = spans.filter(_.kind == "op")
      assert(ops.size == 3 && ops.forall(_.parent == root))
      ops.zip(runs).foreach { case (op, m) =>
        assert(spans.count(s => s.kind == "job" && s.parent == op.id) == m("jobs").toInt)
      }
    } finally spark.sparkContext.removeSparkListener(ledger)
  }

  test("unionLength merges overlapping intervals") {
    assert(Ledger.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7))) == 4.0)
    assert(Ledger.unionLength(Nil) == 0.0)
  }
}
