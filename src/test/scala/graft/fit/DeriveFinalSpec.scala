package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the final-level histogram elision (C45.deriveFinalCounts): a
  * drop-mode fit whose frontier reaches maxDepth runs NO histogram job
  * for the final level — the children's class distributions derive
  * exactly from the parent level's cells — and the recorded leafDist
  * still equals an independent per-leaf count over the training data. */
class DeriveFinalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("color", isNumeric = false),
      AttrMeta("size", isNumeric = true)),
    "cls", Seq("a", "b"))

  // planted so the root splits on size (≤9: mostly a, >9: mostly b),
  // each band splits again on color, and the depth-2 leaves close at
  // level 2 with both classes still present — the derived final level
  // must reproduce non-trivial distributions
  private def trainDf() = {
    val spark0 = spark
    import spark0.implicits._
    val rows = for (i <- 0 until 400) yield {
      val color = if (i % 2 == 0) "red" else "blue"
      val size = (i % 20).toDouble
      val cls =
        if (size <= 9) { if (color == "red") "a" else if (i % 3 == 0) "b" else "a" }
        else { if (color == "blue") "b" else if (i % 3 == 0) "a" else "b" }
      (color, size, cls)
    }
    rows.toDF("color", "size", "cls")
  }

  test("depth-limited drop fit runs no final-level histogram job and " +
      "records exact leaf distributions") {
    val df = trainDf().persist()
    try {
      df.count() // materialize outside the counted window
      val groupId = s"derive-final-${System.nanoTime()}"
      val groupJobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (s.properties != null &&
              groupId == s.properties.getProperty("spark.jobGroup.id"))
            groupJobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      spark.sparkContext.setJobGroup(groupId, "elided final level under test")
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val model =
        try C45.fit(df, schema, C45Params(maxDepth = 2, maxBins = 0))
        finally {
          spark.conf.set("spark.sql.adaptive.enabled", aqe)
          spark.sparkContext.clearJobGroup()
          // events arrive asynchronously: deliver every queued one before
          // the count is read and the listener goes away
          org.apache.spark.graft.TestBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(l)
        }
      // the frontier must actually reach maxDepth for the claim to bite
      assert(model.leaves.exists(_.depth == 2), model.leaves.map(_.encode))
      // probe + level-0 histogram + level-1 histogram; level 2 derives
      // with NO job (pre-elision this fit ran 4)
      assert(groupJobs.get == 3,
        s"expected exactly 3 jobs (probe + 2 level histograms), " +
          s"saw ${groupJobs.get}")
      // independent witness: recorded leafDist == a local recount of
      // the training rows each leaf's conjunction accepts
      val local = df.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getString(2)))
      def holds(sp: graft.model.Split, cat: String, num: Double): Boolean =
        sp match {
          case graft.model.CatEq(v) => cat == v
          case graft.model.NumLE(b) => num <= b
          case graft.model.NumGT(b) => num > b
        }
      model.leaves.zipWithIndex.foreach { case (leaf, i) =>
        val expected = local.filter { case (c, s, _) =>
          leaf.conditions.forall { case (_, sp) => holds(sp, c, s) }
        }.groupBy(_._3).map { case (k, g) => k -> g.length * 1000000L }
        assert(model.leafDist(i) == expected,
          s"leaf ${leaf.encode}: ${model.leafDist(i)} != $expected")
      }
    } finally df.unpersist()
  }
}
