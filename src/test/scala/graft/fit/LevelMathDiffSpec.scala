package graft.fit

import graft.meta.{AttrMeta, C45Schema}
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for the driver-side level math: on seeded random
  * cell tables, [[C45.levelStats]], [[C45.decideLevel]] and
  * [[C45.deriveFinalCounts]] must equal [[LevelMathOracle]] exactly —
  * every double compared by its raw bits, and every per-rule class map
  * in the same iteration order. Tables cover categorical and numeric
  * attributes, `0.0`/`-0.0`/`±Infinity`/`NaN` value strings, classes
  * missing from a rule, rules no row reaches, null attribute values,
  * unit 1 and 1e6 in drop and fractional mode, and a 2,000-rule level.
  * Generators are sampled directly (no scalatest/scalacheck bridge in
  * the offline dependency set). */
class LevelMathDiffSpec extends AnyFunSuite {
  import LevelMathDiffSpec._

  test("level math equals the oracle on 240 seeded levels") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (1L to 240L).foreach { seed =>
      val lv = sample(level(maxRules = 40), seed)
      check(lv, seed)
      val d = C45.decideLevel(lv.open, lv.level, C45.levelStats(lv.cells,
        lv.schema, lv.labels, lv.fractional, lv.unit, lv.params), lv.schema,
        lv.params, lv.labels, lv.fractional, lv.unit, lv.majority0)
      val numCells = lv.cells.filter(c => c._2 >= 0 && lv.schema.isNumericAttr(c._2))
      def hit(what: String, cond: Boolean): Unit = if (cond) seen(what) += 1
      hit("numeric split", d.routes.exists(_.kind == "num"))
      hit("categorical split", d.routes.exists(_.kind == "cat"))
      hit("closed rule", d.closedAdd.nonEmpty)
      hit("NaN value", numCells.exists(_._3 == "NaN"))
      hit("-0.0 beside 0.0", numCells.groupBy(c => (c._1, c._2)).values
        .exists(g => g.exists(_._3 == "0.0") && g.exists(_._3 == "-0.0")))
      hit(s"fractional=${lv.fractional} unit=${lv.unit}", true)
    }
    // the generator reaches every case it is meant to cover
    Seq("numeric split", "categorical split", "closed rule", "NaN value",
      "-0.0 beside 0.0", "fractional=true unit=1.0",
      "fractional=true unit=1000000.0", "fractional=false unit=1.0",
      "fractional=false unit=1000000.0")
      .foreach(k => assert(seen(k) >= 10, s"$k: ${seen(k)} of 240 levels"))
  }

  test("level math equals the oracle on a 2,000-rule level") {
    Seq(7L, 8L).foreach { seed =>
      val lv = sample(level(maxRules = 2000, minRules = 2000), seed)
      assert(lv.open.size == 2000)
      check(lv, seed)
    }
  }

  test("numeric value strings that parse equal are one value") {
    val schema = C45Schema(Seq(AttrMeta("x", isNumeric = true)), "cls",
      Seq("a", "b"))
    // "-0.0" and "0.0" are the same routed value: their counts add up
    val split = Array((0, -1, "a", "a", 5L), (0, -1, "b", "b", 5L),
      (0, 0, "-1.0", "a", 4L), (0, 0, "-0.0", "a", 1L),
      (0, 0, "0.0", "b", 1L), (0, 0, "1.0", "b", 4L))
    val merged = Array((0, -1, "a", "a", 5L), (0, -1, "b", "b", 5L),
      (0, 0, "-1.0", "a", 4L), (0, 0, "0.0", "a", 1L),
      (0, 0, "0.0", "b", 1L), (0, 0, "1.0", "b", 4L))
    val p = C45Params(minDataRatio = 0.0)
    def stats(cells: Array[(Int, Int, String, String, Long)]) =
      canon(C45.levelStats(cells, schema, Seq("a", "b"), fractional = false,
        1.0, p))
    assert(stats(split) == stats(merged))
  }

  private def check(lv: Level, seed: Long): Unit = {
    val ctx = s"seed $seed (${lv.open.size} rules, ${lv.cells.length} cells, " +
      s"unit ${lv.unit}, fractional ${lv.fractional})"
    val want = LevelMathOracle.levelStats(lv.cells, lv.schema, lv.labels,
      lv.fractional, lv.unit, lv.params)
    val got = C45.levelStats(lv.cells, lv.schema, lv.labels, lv.fractional,
      lv.unit, lv.params)
    assert(canon(got) == canon(want), ctx)
    assert(ordered(got.clsCounts) == ordered(want.clsCounts), ctx)
    // the stats pass takes any rule ids, not only a dense 0 until n
    val sparse = lv.cells.map(c => c.copy(_1 = c._1 * 7919 - 5000))
    assert(canon(C45.levelStats(sparse, lv.schema, lv.labels, lv.fractional,
      lv.unit, lv.params)) == canon(LevelMathOracle.levelStats(sparse,
      lv.schema, lv.labels, lv.fractional, lv.unit, lv.params)), ctx)
    val dWant = LevelMathOracle.decideLevel(lv.open, lv.level, want, lv.schema,
      lv.params, lv.labels, lv.fractional, lv.unit, lv.majority0)
    val dGot = C45.decideLevel(lv.open, lv.level, got, lv.schema, lv.params,
      lv.labels, lv.fractional, lv.unit, lv.majority0)
    assert(canon(dGot) == canon(dWant), ctx)
    assert(dGot.closedAdd.map(_._3.toList) == dWant.closedAdd.map(_._3.toList), ctx)
    // the decision's own routes, plus arbitrary numeric boundaries
    val routes = dWant.routes ++ lv.extraRoutes
    val fWant = LevelMathOracle.deriveFinalCounts(lv.cells, routes)
    val fGot = C45.deriveFinalCounts(lv.cells, routes)
    assert(canon(fGot) == canon(fWant), ctx)
    assert(ordered(fGot) == ordered(fWant), ctx)
  }
}

object LevelMathDiffSpec {
  final case class Level(schema: C45Schema, labels: Seq[String],
      cells: Array[(Int, Int, String, String, Long)], open: Vector[Rule],
      level: Int, fractional: Boolean, unit: Double, params: C45Params,
      majority0: Option[String], extraRoutes: Seq[Route])

  def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Every double replaced by its raw bits, so `==` tells -0.0 from 0.0
    * and two NaNs with the same bits are equal. */
  def canon(x: Any): Any = x match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, v) => canon(k) -> canon(v) }.toMap
    case s: Iterable[_] => s.iterator.map(canon).toList
    case a: Array[_] => a.iterator.map(canon).toList
    case p: Product => p.productPrefix :: p.productIterator.map(canon).toList
    case other => other
  }

  /** Per-key map contents in iteration order. */
  def ordered(m: Map[Int, Map[String, Long]]): Map[Int, List[(String, Long)]] =
    m.view.mapValues(_.toList).toMap

  private val numPool = Vector("0.0", "-0.0", "Infinity", "-Infinity", "NaN",
    "0.5", "1.0", "2.5", "-1.25", "1.0E-3", "7.0", "100.0", "1.0E12")
  private val catPool = Vector("red", "green", "blue", "0.0", "-0.0", "NaN",
    "", "Z", "a b")
  private val labelPool = Vector("a", "b", "c", "d", "e")

  private def subset[T](pool: Seq[T], min: Int): Gen[Seq[T]] =
    Gen.chooseNum(min, pool.size).flatMap(k => Gen.pick(k, pool)).map(_.toSeq)

  private val split: Gen[Split] = Gen.oneOf(
    Gen.oneOf(catPool).map(CatEq),
    Gen.oneOf(numPool).map(v => NumLE(v.toDouble)),
    Gen.oneOf(numPool).map(v => NumGT(v.toDouble)))

  def level(maxRules: Int, minRules: Int = 1): Gen[Level] = for {
    nCat <- Gen.chooseNum(0, 3)
    nNum <- Gen.chooseNum(if (nCat == 0) 1 else 0, 3)
    numFirst <- Gen.oneOf(true, false)
    labels <- subset(labelPool, 1)
    // declared label order is arbitrary; an out-of-set class is rare
    classes <- Gen.frequency(9 -> Gen.const(labels), 1 -> Gen.const(labels :+ "zz"))
    fractional <- Gen.oneOf(true, false)
    unit <- Gen.oneOf(1.0, 1e6)
    minDataRatio <- Gen.oneOf(0.0, 0.1, 0.3)
    maxDepth <- Gen.chooseNum(1, 6)
    nRules <- Gen.chooseNum(minRules, maxRules)
    nullRate <- Gen.oneOf(0.0, 0.2)
    maxRows <- Gen.oneOf(3, 12, 30)
    attrs = {
      val cat = (0 until nCat).map(i => AttrMeta(s"c$i", isNumeric = false))
      val num = (0 until nNum).map(i => AttrMeta(s"n$i", isNumeric = true))
      if (numFirst) num ++ cat else cat ++ num
    }
    domains <- Gen.sequence[Vector[Seq[String]], Seq[String]](attrs.map(a =>
      if (a.isNumeric) Gen.zip(subset(numPool, 1),
        Gen.listOfN(3, Gen.chooseNum(-40, 40).map(k => (k * 0.25).toString)))
        .map { case (p, g) => (p ++ g).distinct }
      else subset(catPool, 1)))
    rules <- Gen.listOfN(nRules, rule(attrs.size, classes, domains, unit,
      nullRate, maxRows))
    level <- Gen.chooseNum(0, 3)
    majority0 <- Gen.option(Gen.oneOf(labels))
    extra <- Gen.listOfN(3, for {
      prid <- Gen.chooseNum(0, nRules - 1)
      aid <- Gen.chooseNum(0, attrs.size - 1)
      b <- Gen.oneOf(numPool)
    } yield Route(prid, "num", aid, b.toDouble, 100000 + 2 * prid,
      100001 + 2 * prid, Map.empty))
    perm <- Gen.long
  } yield {
    val schema = C45Schema(attrs, "cls", labels)
    // aggregate rows into (rid, aid, value, class) cells, as the level's
    // histogram job does (the aid = -1 sentinel carries the class as its
    // value), then present them in a random order
    val agg = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int, String, String), Long]
    def add(k: (Int, Int, String, String), w: Long): Unit =
      agg(k) = agg.getOrElse(k, 0L) + w
    rules.zipWithIndex.foreach { case ((_, rows), rid) =>
      rows.foreach { case (cls, w, vals) =>
        add((rid, -1, cls, cls), w)
        vals.zipWithIndex.foreach { case (v, aid) =>
          v.foreach(s => add((rid, aid, s, cls), w))
        }
      }
    }
    val cells = new scala.util.Random(perm).shuffle(agg.toVector)
      .map { case ((rid, aid, v, c), n) => (rid, aid, v, c, n) }.toArray
    Level(C45Schema(attrs, "cls", labels), labels, cells,
      rules.map(_._1).toVector, level, fractional, unit,
      C45Params(minDataRatio = minDataRatio, maxDepth = maxDepth), majority0,
      extra.filter(r => attrs(r.aid).isNumeric))
  }

  /** One open rule (random conditions, so random used attributes and
    * depth) and the rows that reach it: (class, weight, value per
    * attribute or None for null). */
  private def rule(nAttrs: Int, classes: Seq[String], domains: Seq[Seq[String]],
      unit: Double, nullRate: Double, maxRows: Int)
      : Gen[(Rule, List[(String, Long, Vector[Option[String]])])] = for {
    depth <- Gen.chooseNum(0, 3)
    used <- Gen.pick(math.min(depth, nAttrs), 0 until nAttrs)
    splits <- Gen.listOfN(used.size, split)
    present <- subset(classes, 1)
    nRows <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.chooseNum(1, maxRows))
    rows <- Gen.listOfN(nRows, for {
      cls <- Gen.oneOf(present)
      w <- if (unit == 1.0) Gen.const(1L) else Gen.chooseNum(1L, 3000000L)
      vals <- Gen.sequence[Vector[Option[String]], Option[String]](
        domains.map { d =>
          val value = Gen.oneOf(d).map(Option(_))
          if (nullRate == 0.0) value
          else Gen.frequency(1 -> Gen.const(None), 4 -> value)
        })
    } yield (cls, w, vals))
  } yield (Rule(used.toVector.zip(splits)), rows)
}
