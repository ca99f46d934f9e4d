package c45bench

import graft.fit._
import graft.meta.{AttrMeta, C45Schema}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One public engine call of a workload's timed cycle. `run` returns
  * None when the call's output passed its check, or the reason it did
  * not; a call that throws fails too. `inputRows` is the row count of
  * the parquet table the call scans (0 when it scans none). */
final case class Call(name: String, inputRows: Long, run: () => Option[String])

/** What a workload gives the runner: an untimed setup that builds what
  * the timed calls are checked against, the cycle of timed calls, the
  * checks run once after the timed loop, and the shape of the models
  * the cycle builds or serves. */
trait Workload {
  def setup(): Unit
  /** Untimed cycles run after `setup`, before timing starts. */
  def warmupCycles: Int
  def cycle: Seq[Call]
  def finalChecks(): Seq[(String, Option[String])]
  def modelShape: (Int, Int) // (levels, leaves) summed over the cycle's models
  /** Digest of every model the cycle builds or serves. */
  def digest: String
}

object Data {
  private val cats = Seq(("c0", "a", 4), ("c1", "b", 8), ("c2", "d", 12))
  val classes: Seq[String] = Seq("L0", "L1", "L2", "L3")

  def schema(classCol: String, labels: Seq[String]): C45Schema = C45Schema(
    cats.map { case (n, p, k) => AttrMeta(n, isNumeric = false, (0 until k).map(i => s"$p$i")) } ++
      (0 until 6).map(i => AttrMeta(s"n$i", isNumeric = true)),
    classCol, labels)

  val multi: C45Schema = schema("label", classes)
  val binary: C45Schema = schema("blabel", Seq("N", "P"))
}

/** Model digests: rules, leaf masses and distributions, and boosting
  * alpha/error micros, hashed. Equal digests mean bit-identical
  * models. */
object Digest {
  def lines(m: C45Model): Seq[String] =
    m.ruleStrings ++ Seq(s":${m.majority}") ++ m.leafMass.map(_.toString) ++
      m.leafDist.map(_.toSeq.sorted.map { case (c, v) => s"$c=$v" }.mkString(","))

  def sha(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(parts.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def model(m: C45Model): String = sha(lines(m))
  def forest(f: C45Forest): String = sha(f.trees.flatMap(lines) :+ s"seed=${f.seed}")
  def boost(b: C45Boost): String =
    sha(b.trees.flatMap(lines) ++ b.alphaMicros.map(a => s"a=$a") ++ b.errorMicros.map(e => s"e=$e"))
}

object Workloads {
  val names: Seq[String] = Seq("deep_tree", "missing", "ensemble", "serve")

  val deepParams: C45Params = C45Params(maxDepth = 6, missingMode = "drop")
  val missingParams: C45Params = C45Params(maxDepth = 5)
  val forestParams: C45ForestParams = C45ForestParams(nTrees = 8, mtry = 3,
    base = C45Params(maxDepth = 4, missingMode = "drop"))
  val boostParams: C45BoostParams = C45BoostParams(rounds = 5,
    base = C45Params(maxDepth = 3, missingMode = "drop"))
  val forestKey = col("rid").cast("string")

  def apply(name: String, spark: SparkSession, dataDir: String,
            rows: Map[String, Long]): Workload = name match {
    case "deep_tree" => new FitWorkload(spark, dataDir, rows("train"), deepParams, nullFree = true)
    case "missing" => new FitWorkload(spark, dataDir, rows("train"), missingParams, nullFree = false)
    case "ensemble" => new EnsembleWorkload(spark, dataDir, rows("train"))
    case "serve" => new ServeWorkload(spark, dataDir, rows("score"))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  def levels(m: C45Model): Int = if (m.leaves.isEmpty) 0 else m.leaves.map(_.depth).max

  /** Σ leafMass equals each leaf's distribution sum (always), and on a
    * null-free drop-mode fit every row contributes exactly 10⁶. */
  def massCheck(m: C45Model, rows: Long, nullFree: Boolean): Option[String] =
    if (m.leafMass != m.leafDist.map(_.values.sum)) Some("leafMass differs from leafDist sums")
    else if (nullFree && m.leafMass.sum != rows * 1000000L)
      Some(s"Σ leafMass ${m.leafMass.sum} != rows × 10⁶ = ${rows * 1000000L}")
    else None

  def same(what: String, got: String, want: String): Option[String] =
    if (got == want) None else Some(s"$what digest $got differs from $want")

  /** Label → row count of a scored frame. */
  def labelCounts(scored: DataFrame, col: String = "prediction"): Map[String, Long] =
    scored.groupBy(col).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
}

import Workloads._

/** A single `C45.fit` per cycle: `deep_tree` (drop mode, no nulls,
  * depth 6) and `missing` (fractional mode over NULL-bearing
  * attributes, depth 5). */
final class FitWorkload(spark: SparkSession, dir: String, rows: Long,
                        params: C45Params, nullFree: Boolean) extends Workload {
  private var first: C45Model = _
  // the set-up's fit is the first, cold call
  def warmupCycles: Int = 1
  private def fit(): C45Model = C45.fit(Tables.load(spark, dir, "train"), Data.multi, params)

  def setup(): Unit = {
    first = fit()
    massCheck(first, rows, nullFree).foreach(e => throw new IllegalStateException(e))
  }

  def cycle: Seq[Call] = Seq(Call("fit", rows, () => {
    val m = fit()
    massCheck(m, rows, nullFree).orElse(same("fit", Digest.model(m), Digest.model(first)))
  }))

  /** Fit and serve agree: on a null-free training table every row
    * reaches the leaf whose recorded mass counted it. */
  def finalChecks(): Seq[(String, Option[String])] =
    if (!nullFree) Nil
    else {
      val got = labelCounts(first.transform(Tables.load(spark, dir, "train")))
      val want = first.leaves.zip(first.leafMass).groupBy(_._1.label.get)
        .map { case (l, ls) => l -> ls.map(_._2).sum / 1000000L }.filter(_._2 > 0)
      Seq("transform_matches_leaf_mass" ->
        (if (got == want) None else Some(s"transform counts $got != leaf masses $want")))
    }

  def modelShape: (Int, Int) = (levels(first), first.leaves.size)
  def digest: String = Digest.model(first)
}

/** A bagged forest (8 trees, mtry 3, depth 4) then AdaBoost (5
  * rounds, depth 3, binary label) per cycle, on one table. */
final class EnsembleWorkload(spark: SparkSession, dir: String, rows: Long) extends Workload {
  private var forest: C45Forest = _
  private var boost: C45Boost = _
  def warmupCycles: Int = 1
  private def fitForest(): C45Forest = C45Forest.fitWithImportance(
    Tables.load(spark, dir, "train"), Data.multi, forestKey, forestParams)._1
  private def fitBoost(): C45Boost = C45Boost.fit(Tables.load(spark, dir, "train"), Data.binary, boostParams)

  /** Every round kept, and each grew a real tree (a one-leaf round
    * means the boosting label stopped carrying structure). */
  private def boostCheck(b: C45Boost): Option[String] =
    if (b.trees.size != boostParams.rounds) Some(s"boost kept ${b.trees.size} of ${boostParams.rounds} rounds")
    else if (b.trees.exists(_.leaves.size < 2)) Some(s"boost round leaves ${b.trees.map(_.leaves.size)}")
    else None

  def setup(): Unit = {
    forest = fitForest()
    boost = fitBoost()
    boostCheck(boost).foreach(e => throw new IllegalStateException(e))
  }

  def cycle: Seq[Call] = Seq(
    Call("forest_fit", rows, () => {
      val f = fitForest()
      if (f.trees.size != forestParams.nTrees) Some(s"forest has ${f.trees.size} trees")
      else same("forest", Digest.forest(f), Digest.forest(forest))
    }),
    Call("boost_fit", rows, () => {
      val b = fitBoost()
      boostCheck(b).orElse(same("boost", Digest.boost(b), Digest.boost(boost)))
    }))

  def finalChecks(): Seq[(String, Option[String])] = Nil

  def modelShape: (Int, Int) = {
    // the forest grows its trees level-synchronously; boost rounds run
    // one after another
    val fl = forest.trees.map(levels).max
    (fl + boost.trees.map(levels).sum,
      forest.trees.map(_.leaves.size).sum + boost.trees.map(_.leaves.size).sum)
  }
  def digest: String = Digest.sha(Seq(Digest.forest(forest), Digest.boost(boost)))
}

/** Serving only: the wide tree (routed level walk) and the forest of
  * narrow trees (flat CASE WHENs) come with the inputs, in the
  * engine's save format. Each cycle loads the forest, then scores the
  * scoring table with the tree (labels, then probabilities) and with
  * the loaded forest. No training runs, so a change to training cannot
  * move this workload's inputs. The first (warm-up) cycle's label
  * counts are the reference every later cycle must reproduce. */
final class ServeWorkload(spark: SparkSession, dir: String, scoreRows: Long) extends Workload {
  private val forestDir = s"$dir/forest"
  private var tree: C45Model = _
  private var forest: C45Forest = _
  private var loaded: C45Forest = _
  private var treeCounts, forestCounts: Option[Map[String, Long]] = None
  def warmupCycles: Int = 2

  private def score(): DataFrame = Tables.load(spark, dir, "score")
  private def probaCols: Seq[String] = tree.probaClasses.map(c => s"p_$c")

  def setup(): Unit = {
    tree = C45Model.load(spark, s"$dir/tree", Data.multi)
    forest = C45Forest.load(spark, forestDir, Data.multi)
    loaded = forest
  }

  /** Every row scored once, with the reference counts (set by the
    * first call). */
  private def counted(what: String, got: Map[String, Long],
                      ref: Option[Map[String, Long]]): Option[String] =
    if (got.values.sum != scoreRows) Some(s"$what scored ${got.values.sum} of $scoreRows rows")
    else ref.filter(_ != got).map(want => s"$what counts $got differ from $want")

  def cycle: Seq[Call] = Seq(
    Call("load", 0L, () => {
      loaded = C45Forest.load(spark, forestDir, Data.multi)
      same("loaded forest", Digest.forest(loaded), Digest.forest(forest))
    }),
    Call("score", scoreRows, () => {
      val got = labelCounts(tree.transform(score()))
      val err = counted("transform", got, treeCounts)
      if (treeCounts.isEmpty) treeCounts = Some(got)
      err
    }),
    Call("proba", scoreRows, () => {
      // per label: rows, and rows whose micros do not sum to
      // 10⁶ ± (#classes − 1)
      val slack = probaCols.size - 1
      val bad = when(abs(probaCols.map(col).reduce(_ + _) - lit(1000000L)) > slack, 1).otherwise(0)
      val rs = tree.transformProba(score()).groupBy("prediction")
        .agg(count(lit(1)).as("n"), sum(bad).as("bad")).collect()
      val badRows = rs.map(_.getLong(2)).sum
      if (badRows > 0) Some(s"$badRows rows with probability micros off 10⁶")
      else if (treeCounts.isEmpty) Some("no transform counts to compare with")
      else counted("transformProba", rs.map(r => r.getString(0) -> r.getLong(1)).toMap, treeCounts)
    }),
    Call("forest_score", scoreRows, () => {
      val got = labelCounts(loaded.transform(score()))
      val err = counted("forest transform", got, forestCounts)
      if (forestCounts.isEmpty) forestCounts = Some(got)
      err
    }))

  /** `transformProba` labels equal `transform` labels row by row. */
  def finalChecks(): Seq[(String, Option[String])] = {
    val both = tree.transformProba(tree.transform(score(), "hard"))
    val diff = both.filter(col("hard") =!= col("prediction")).count()
    Seq("proba_labels_match_transform" ->
      (if (diff == 0) None else Some(s"$diff rows where transformProba and transform disagree")))
  }

  def modelShape: (Int, Int) = (levels(tree) + forest.trees.map(levels).max,
    tree.leaves.size + forest.trees.map(_.leaves.size).sum)
  def digest: String = Digest.sha(Seq(Digest.model(tree), Digest.forest(forest)))
}
