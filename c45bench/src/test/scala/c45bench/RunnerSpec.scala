package c45bench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def cfg = Main.Config("selftest", 1L, 0.2, trace = false, "unused",
    System.currentTimeMillis(), Map("train" -> 1L), Nil, None, None)

  private def workload(calls: Call*) = new Workload {
    def setup(): Unit = ()
    def warmupCycles: Int = 1
    def cycle: Seq[Call] = calls
    def finalChecks(): Seq[(String, Option[String])] = Nil
    def modelShape: (Int, Int) = (1, 1)
    def digest: String = "d"
  }

  private def execute(w: Workload): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream
    val code = Console.withOut(out)(Main.execute(spark, w, cfg))
    (code, out.toString("UTF-8").trim.split("\n").last)
  }

  test("an op that throws is counted as failed and makes the exit code non-zero") {
    val (code, last) = execute(workload(
      Call("ok", 0L, () => None),
      Call("boom", 0L, () => throw new RuntimeException("boom"))))
    assert(code == 1)
    assert(last.startsWith("{\"correct\":false,"), last)
    val attempted = "\"attempted\":(\\d+)".r.findFirstMatchIn(last).get.group(1).toInt
    val failed = "\"failed\":(\\d+)".r.findFirstMatchIn(last).get.group(1).toInt
    // every cycle ran both calls and the pin check; only "boom" failed
    assert(failed >= 1 && attempted == 2 * failed + 1, last)
  }

  test("a failed output check counts like a throw; a clean run exits 0") {
    assert(execute(workload(Call("bad", 0L, () => Some("wrong answer"))))._1 == 1)
    val (code, last) = execute(workload(Call("ok", 0L, () => None)))
    assert(code == 0 && last.contains("\"failed\":0"), last)
  }
}
