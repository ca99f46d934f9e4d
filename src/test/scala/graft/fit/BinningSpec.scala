package graft.fit

import graft.SparkTestSession
import graft.meta.C45Schema
import graft.model.{NumGT, NumLE}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** maxBins quantile discretization of the numeric split search: bounded
  * candidate boundaries per attribute regardless of cardinality. */
class BinningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // 2000 rows, x ~ U(0,100) with 2000 distinct values; class = x > 50
  // plus a little noise — a binned search must still find ~50
  private lazy val df = {
    val s = spark
    import s.implicits._
    val rnd = new Random(3)
    (1 to 2000).map { _ =>
      val x = rnd.nextDouble() * 100
      val cls = if ((x > 50) != (rnd.nextDouble() < 0.05)) "hi" else "lo"
      (x, cls)
    }.toDF("x", "cls")
  }
  private lazy val schema = C45Schema.fromDataFrame(df, "cls")

  test("binned fit (maxBins=8) still finds the signal boundary near 50") {
    val m = C45.fit(df, schema, C45Params(maxBins = 8, maxDepth = 1))
    val bounds = m.leaves.flatMap(_.conditions.collect {
      case (_, NumLE(b)) => b
      case (_, NumGT(b)) => b
    }).distinct
    assert(bounds.length == 1)
    assert(math.abs(bounds.head - 50) < 15, s"boundary ${bounds.head} far from 50")
    val acc = m.transform(df).filter(col("prediction") === col("cls")).count()
      .toDouble / 2000
    assert(acc >= 0.9, s"accuracy $acc")
  }

  test("binned boundaries come from the quantile edge set (at most maxBins-1)") {
    val m = C45.fit(df, schema, C45Params(maxBins = 8))
    val bounds = m.leaves.flatMap(_.conditions.collect {
      case (_, NumLE(b)) => b; case (_, NumGT(b)) => b
    }).distinct
    assert(bounds.nonEmpty && bounds.size <= 7)
    assert(bounds.forall(b => !b.isInfinite))
  }

  test("low-cardinality attributes are untouched by maxBins (tennis tree identical)") {
    val a = C45.fit(graft.Fixtures.tennis(spark), graft.Fixtures.tennisSchema,
      C45Params(maxBins = 8))
    val b = C45.fit(graft.Fixtures.tennis(spark), graft.Fixtures.tennisSchema,
      C45Params(maxBins = 0))
    assert(a.leaves == b.leaves)
  }

  test("every row still reaches exactly one leaf under binning") {
    val m = C45.fit(df, schema, C45Params(maxBins = 8))
    val nMatches = m.leaves
      .map(r => when(r.toPredicate(Seq("x")), 1).otherwise(0))
      .reduce(_ + _)
    assert(df.withColumn("m", nMatches).filter(col("m") =!= 1).count() == 0)
  }

  test("NaN under binning: the derived final level's leafDist equals the " +
      "per-leaf counts transform routes") {
    val s = spark
    import s.implicits._
    // x carries the root split; y (binned, 10% NaN) splits the x < 100
    // side at level 1, so its children are the derived final level
    val nanDf = (0 until 2000).map { i =>
      val x = (i % 200).toDouble
      val y = if (i % 10 == 3) Double.NaN else ((i * 7) % 200).toDouble
      (x, y, if (x < 100 && y < 150) "a" else "b")
    }.toDF("x", "y", "cls")
    val m = C45.fit(nanDf, C45Schema.fromDataFrame(nanDf, "cls"),
      C45Params(maxBins = 16, maxDepth = 2, missingMode = "drop"))
    assert(m.leaves.exists(l => l.depth == 2 && l.conditions.exists(_._1 == 1)),
      m.ruleStrings)
    // score with each leaf labelled by its index: transform's own routing
    val byLeaf = m.copy(majority = "none",
      leaves = m.leaves.zipWithIndex.map { case (r, i) => r.closed(i.toString) })
    val routed = byLeaf.transform(nanDf, "leaf").groupBy("leaf", "cls").count()
      .collect().groupBy(_.getString(0)).map { case (leaf, rs) =>
        leaf -> rs.map(r => r.getString(1) -> r.getLong(2) * 1000000L).toMap
      }
    m.leaves.indices.foreach { i =>
      assert(m.leafDist(i) == routed.getOrElse(i.toString, Map.empty),
        s"leaf ${m.leaves(i).encode}")
    }
  }
}
