package graft.fit

import graft.SparkTestSession
import graft.meta.{AttrMeta, C45Schema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact number of Spark jobs every C4.5 fit family launches
  * on one small fixed corpus at maxDepth 3: the up-front probe (for
  * fitFolds, its binning gate), one histogram job per level that still
  * aggregates (the drop-mode final level derives its marginals with no
  * job), the broadcast builds of fractional route joins, and nothing
  * else. Labels are declared, binning never engages (≤ 20 distinct
  * numeric values) and every frontier stays under the join-routing
  * threshold, so each count is the plain level arithmetic of its
  * family. A change that adds a job to any level fails here. */
class JobsPerLevelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = C45Schema(
    Seq(AttrMeta("color", isNumeric = false),
      AttrMeta("size", isNumeric = true),
      AttrMeta("shape", isNumeric = false)),
    "cls", Seq("a", "b"))

  /** 600 rows; the label follows size, then color, then shape, with a
    * little noise so every level has impure nodes to split. Every 7th
    * size and every 11th color is NULL when `nulls` is set. */
  private def corpus(nulls: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val rows = (0 until 600).map { i =>
      val color = Seq("red", "blue", "green")(i % 3)
      val size = (i % 20).toDouble
      val shape = if ((i / 3) % 2 == 0) "round" else "square"
      val base = if (size <= 9) color == "red" else color != "blue"
      val cls = if ((base ^ (shape == "round" && i % 5 == 0)) ^ (i % 17 == 0)) "a" else "b"
      val sz: Option[Double] = if (nulls && i % 7 == 0) None else Some(size)
      val cl: Option[String] = if (nulls && i % 11 == 0) None else Some(color)
      (cl, sz, shape, cls, i.toString)
    }
    rows.toDF("color", "size", "shape", "cls", "key")
  }

  /** Jobs launched inside `body`, counted under a fresh job group with
    * AQE off (AQE splits one query into a job per materialized stage). */
  private def jobsOf(body: => Unit): Int = {
    val groupId = s"jobs-per-level-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            groupId == e.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(groupId, "fit family under test")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      sc.clearJobGroup()
      org.apache.spark.graft.TestBus.drain(sc)
      sc.removeSparkListener(l)
    }
    jobs.get
  }

  /** `f` over a persisted, materialized copy of `df`. */
  private def cached[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.persist()
    try { c.count(); f(c) } finally c.unpersist()
  }

  private def depthOf(m: C45Model): Int = m.leaves.map(_.depth).max

  private val params = C45Params(maxDepth = 3)

  test("C45.fit: probe + levels 0-2, the final level derived (drop mode)") {
    cached(corpus(nulls = true)) { df =>
      var m: C45Model = null
      val n = jobsOf { m = C45.fit(df, schema, params.copy(missingMode = "drop")) }
      assert(depthOf(m) == 3)
      assert(n == 4, s"drop-mode fit ran $n jobs")
    }
  }

  // fractional levels 1-3 route the null-bearing rows through a
  // broadcast join: its build is one more job beside the histogram
  test("C45.fit: probe + levels 0-3, levels 1-3 with a route broadcast " +
      "(fractional mode on a null-bearing corpus)") {
    cached(corpus(nulls = true)) { df =>
      var m: C45Model = null
      val n = jobsOf { m = C45.fit(df, schema, params) }
      assert(depthOf(m) == 3)
      assert(n == 8, s"fractional fit ran $n jobs")
    }
  }

  private def stamped(df: DataFrame): DataFrame =
    df.withColumn("__fold", (abs(hash(col("key"))) % 3).cast("int"))
      .select(("__fold" +: schema.attrNames :+ "cls").map(col): _*)

  // fitFolds computes its binning gate itself: one approx-distinct job
  test("fitFolds k=3: binning gate + levels 0-2 shared by all folds (drop mode)") {
    cached(stamped(corpus(nulls = true))) { st =>
      var ms: Seq[C45Model] = Nil
      val n = jobsOf {
        ms = C45.fitFolds(st, "__fold", 3, schema, params.copy(missingMode = "drop"))
      }
      assert(ms.size == 3 && ms.forall(depthOf(_) == 3))
      assert(n == 4, s"drop-mode fold fit ran $n jobs")
    }
  }

  test("fitFolds k=3: binning gate + levels 0-3 shared by all folds, " +
      "levels 1-3 with a route broadcast (fractional mode)") {
    cached(stamped(corpus(nulls = true))) { st =>
      var ms: Seq[C45Model] = Nil
      val n = jobsOf {
        ms = C45.fitFolds(st, "__fold", 3, schema, params, fractional = true)
      }
      assert(ms.size == 3 && ms.forall(depthOf(_) == 3))
      assert(n == 8, s"fractional fold fit ran $n jobs")
    }
  }

  private val forestParams =
    C45ForestParams(nTrees = 3, seed = 5, base = params.copy(missingMode = "drop"))

  test("C45Forest.fit: probe + levels 0-2 shared by all trees") {
    cached(corpus(nulls = false)) { df =>
      var f: C45Forest = null
      val n = jobsOf { f = C45Forest.fit(df, schema, col("key"), forestParams) }
      assert(f.trees.map(depthOf).max == 3)
      assert(n == 4, s"forest fit ran $n jobs")
    }
  }

  test("C45Forest.fit with mtry: the per-node sample adds no job") {
    cached(corpus(nulls = false)) { df =>
      var f: C45Forest = null
      val n = jobsOf {
        f = C45Forest.fit(df, schema, col("key"), forestParams.copy(mtry = 1))
      }
      assert(f.trees.map(depthOf).max == 3)
      assert(n == 4, s"mtry forest fit ran $n jobs")
    }
  }

  test("C45Boost.fit, 2 rounds: probe + per round levels 0-2 and one eval") {
    cached(corpus(nulls = false)) { df =>
      var b: C45Boost = null
      val n = jobsOf {
        b = C45Boost.fit(df, schema, C45BoostParams(rounds = 2, base = params.copy(missingMode = "drop")))
      }
      assert(b.trees.size == 2 && b.trees.map(depthOf).max == 3)
      assert(n == 9, s"boost fit ran $n jobs")
    }
  }
}
