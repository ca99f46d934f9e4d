package graft.fit

import graft.meta.C45Schema
import graft.model.{CatEq, NumGT, NumLE, Rule, Split}
import graft.stats.InfoStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tuning knobs for [[C45.fit]].
  *
  * `minDataRatio` is the reference's 10% both-sides guard on numeric
  * boundaries (MyReducer.java:34,188-190).
  *
  * `maxDepth` bounds the level loop (the reference's only bound is
  * attribute exhaustion).
  *
  * `maxBins` caps candidate boundaries per numeric attribute: attributes
  * with more distinct values are quantile-discretized once up front
  * (MLlib-style), keeping the per-(rule,attr) window in the split search
  * bounded at any data scale — the reference instead buffers and
  * rescans EVERY distinct value inside one reducer
  * (MyReducer.java:112-205). 0 disables.
  *
  * `routeJoinThreshold`: frontiers wider than this route rows through a
  * broadcast rule-table join instead of one flat CASE WHEN. The two
  * paths produce identical trees (spec-pinned); the trade is
  * whole-stage-codegen compile time of an O(rules × depth) expression
  * (grows every level, compiled fresh each level) against a join +
  * routed-base persist (constant-size expression, one compiled shape
  * reused). Measured at sf0.1: a 22-rule flat level costs ~2.3s vs
  * ~1.4s join-routed while ≤12-rule levels favor flat — the crossover
  * sits under 20 rules, hence 16.
  *
  * `missingMode` governs null ATTRIBUTE values (null class labels are
  * always rejected): "fractional" (default) is canonical C4.5 — a null
  * row's weight is split across the children of its rule's split in
  * proportion to observed branch mass, gains are scaled by the known
  * fraction and split-info charges the unknown slice as an extra
  * branch; "drop" reproduces the pre-weighting behavior (null rows
  * silently leave each attribute's histogram and drop from the tree
  * once their path splits on the null attribute — the closest a
  * no-NPE engine gets to the reference, which crashes). Corpora with
  * no nulls take a byte-identical code path either way. */
case class C45Params(minDataRatio: Double = InfoStats.DefaultMinDataRatio,
                     maxDepth: Int = 30,
                     maxBins: Int = 256,
                     routeJoinThreshold: Int = 16,
                     missingMode: String = "fractional") {
  require(missingMode == "fractional" || missingMode == "drop",
    s"missingMode must be fractional|drop: $missingMode")
}

/** A fitted C4.5 model: the leaf rule set (root-to-leaf conjunctions,
  * exactly the reference's printed deliverable, Main.java:128-131) plus
  * a majority-class fallback and a prediction phase the reference lacks
  * (SURVEY.md §0).
  *
  * `leafMass`/`leafDist` are per-leaf training masses / class
  * distributions in EXACT INTEGER MICROS in BOTH missing modes — a
  * drop-mode fit records row counts × 10⁶, a fractional fit records
  * the (deterministically rounded) fractional micro weights, and on a
  * null-free corpus the two coincide exactly (every weight is exactly
  * 10⁶). The scale is therefore mode-INdependent; absolute-mass
  * consumers can divide by 10⁶ for row units (MassScaleSpec pins
  * this, incl. through the fused fold fit). `leafMass(i) ==
  * leafDist(i).values.sum` always; a maxDepth-exhausted leaf carries
  * mass 0 and an empty distribution. */
case class C45Model(schema: C45Schema, leaves: Vector[Rule], majority: String,
                    leafMass: Vector[Long] = Vector.empty,
                    leafDist: Vector[Map[String, Long]] = Vector.empty) {
  def ruleStrings: Seq[String] = leaves.map(_.encode)

  /** Score a DataFrame: adds `outputCol` with the leaf label. Rows
    * reaching no leaf (an attribute value unseen in training, or a null
    * along the path) fall back to the global majority class.
    *
    * Two plans, mirroring the fit's frontier routing (C45.fit): up to
    * `routeThreshold` leaves, one flat first-match CASE WHEN over the
    * full root-to-leaf conjunctions — codegen-friendly while short. A
    * WIDER model would blow past whole-stage-codegen limits (the same
    * wall that routes deep fit frontiers through a join) and re-test
    * depth-long conjunction prefixes once per rule, so it instead walks
    * the tree level by level: `depth` chained broadcast hash joins
    * against tiny per-level route tables, constant expression size per
    * level, zero shuffles, one final broadcast label lookup. Falls back
    * to the CASE WHEN when the leaf set has no tree form (rule sets
    * generalized by [[C45RuleSimplify]] overlap, and first-match order
    * is then semantic). */
  def transform(df: DataFrame, outputCol: String = "prediction",
                routeThreshold: Int = 64): DataFrame =
    if (leaves.size > routeThreshold)
      routedTransform(df, outputCol).getOrElse(flatTransform(df, outputCol))
    else flatTransform(df, outputCol)

  private def flatTransform(df: DataFrame, outputCol: String): DataFrame = {
    val names = schema.attrNames
    val pred = leaves.headOption match {
      case None => lit(majority)
      case Some(h) =>
        leaves.tail.foldLeft(
          when(h.toPredicate(names), lit(h.label.get))) { (acc, r) =>
          acc.when(r.toPredicate(names), lit(r.label.get))
        }.otherwise(lit(majority))
    }
    df.withColumn(outputCol, pred)
  }

  /** Level-walk scoring (the wide-model path): reconstructs the tree
    * from the leaf rules' condition prefixes, then routes every row
    * down one level per broadcast join exactly as the fit's deep-
    * frontier routing does (raw column comparisons, so semantics match
    * [[graft.model.Rule.toPredicate]]: a null or unseen value routes
    * nowhere → majority). Leaves self-loop through later levels, so the
    * plan is one linear chain — no per-level unions, nothing persisted.
    * Returns None when the leaves don't form a proper tree partition
    * (overlapping generalized rules, a lone child, mixed sibling
    * splits) — the caller then keeps the order-aware CASE WHEN. */
  private[fit] def routedTransform(df: DataFrame, outputCol: String): Option[DataFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    routedNid(df).map { case (cur, nid) =>
      val labelDf = leaves.map(r => (nid(r.conditions), r.label.get))
        .toDF("__lnid", "__label")
      cur.join(broadcast(labelDf), cur("__nid") === labelDf("__lnid"), "left")
        .withColumn(outputCol, coalesce(col("__label"), lit(majority)))
        .drop("__nid", "__lnid", "__label")
    }
  }

  /** The level-walk itself: route every row to its leaf's node id (or
    * null for null/unseen values along the path) — the shared core of
    * [[routedTransform]] and the wide-model [[transformProba]] path.
    * Returns the routed frame (input columns + `__nid`) and the node-id
    * map, or None when the leaves have no tree form. */
  private[fit] def routedNid(df: DataFrame)
      : Option[(DataFrame, scala.collection.Map[Vector[(Int, Split)], Int])] = {
    val spark = df.sparkSession
    import spark.implicits._
    val structure = treeStructure()
    if (structure.isEmpty) return None
    val (nid, levels) = structure.get
    var cur = df.withColumn("__nid", lit(nid(Vector.empty)))
    levels.foreach { routes =>
      val routeDf = routes.toDF(
        "__prid", "__kind", "__aid", "__boundary", "__lrid", "__rrid", "__children")
      // LEFT join: a row whose nid went null (null/unseen value at an
      // earlier level) rides through unrouted and lands on majority
      cur = cur.join(broadcast(routeDf), cur("__nid") === routeDf("__prid"), "left")
        .withColumn("__nidN", C45.routedRid(routes, schema))
        .drop("__nid", "__prid", "__kind", "__aid", "__boundary",
          "__lrid", "__rrid", "__children")
        .withColumnRenamed("__nidN", "__nid")
    }
    Some((cur, nid))
  }

  /** The class set [[transformProba]] emits columns for, in its column
    * order (sorted strings): every class observed in a leaf
    * distribution or label, plus the majority. */
  def probaClasses: Seq[String] =
    (leafDist.flatMap(_.keys) ++ leaves.flatMap(_.label) :+ majority)
      .distinct.sorted

  /** Per-row class-membership probabilities from the leaves' training
    * class distributions — C4.5's predict_proba. Each row routes to
    * its leaf exactly as [[transform]] does, and emits that leaf's
    * class shares in EXACT INTEGER MICROS (`floor(cnt·10⁶/total+0.5)`
    * on the fit-recorded long micros — float-free, so outputs golden-
    * pin bit-stably at any tier; the per-leaf micros may sum to
    * 10⁶ ± (#classes-1) from rounding). Rows reaching no leaf (null or
    * unseen value on the path) and zero-mass leaves take the majority
    * class at 10⁶. Output: `outputCol` (the [[transform]] label) plus
    * one `<probPrefix><class>` micros column per class label, classes
    * sorted. Same two plans as transform: flat CASE WHEN to a leaf
    * index while the model is narrow, broadcast level-walk past
    * `routeThreshold` leaves (generalized rule sets have no tree form
    * and always take the order-aware flat path). Fit-produced, pruned,
    * simplified ([[C45RuleSimplify]], first-match distributions), and
    * sidecar-loaded ([[C45Model.load]]) models carry the
    * distributions; only rule-text-only loads ([[C45Model.loadRules]])
    * do not. */
  def transformProba(df: DataFrame, outputCol: String = "prediction",
                     probPrefix: String = "p_",
                     routeThreshold: Int = 64): DataFrame = {
    require(leafDist.size == leaves.size && leaves.nonEmpty,
      "transformProba needs per-leaf class distributions: fit/prune/" +
        "simplify/C45Model.load produce them (loadRules text-only " +
        "loads do not)")
    require(leaves.forall(_.label.nonEmpty), "model has open rules")
    val classes: Seq[String] = probaClasses
    // per-leaf micros vector, exact integer arithmetic on the recorded
    // long micros; zero-mass leaves -> all mass on the leaf's label
    def microsOf(d: Map[String, Long], fallback: String): Seq[Long] = {
      val tot = d.values.sum
      if (tot == 0L) classes.map(c => if (c == fallback) 1000000L else 0L)
      else classes.map(c =>
        math.floorDiv(d.getOrElse(c, 0L) * 1000000L + tot / 2, tot))
    }
    val leafMicros: Vector[Seq[Long]] =
      leaves.zip(leafDist).map { case (r, d) => microsOf(d, r.label.get) }
    val majorityMicros = classes.map(c => if (c == majority) 1000000L else 0L)
    val names = schema.attrNames
    val routed =
      if (leaves.size <= routeThreshold) None
      else routedNid(df).map { case (cur, nid) =>
        val spark = df.sparkSession
        import spark.implicits._
        val distDf = leaves.zip(leafMicros).map { case (r, m) =>
          (nid(r.conditions), r.label.get, m) }
          .toDF("__lnid", "__label", "__micros")
        cur.join(broadcast(distDf), cur("__nid") === col("__lnid"), "left")
          .withColumn(outputCol, coalesce(col("__label"), lit(majority)))
          .select((df.columns.map(col) :+ col(outputCol)) ++
            classes.zipWithIndex.map { case (c, i) =>
              coalesce(element_at(col("__micros"), i + 1),
                lit(majorityMicros(i))).as(s"$probPrefix$c") }: _*)
      }
    routed.getOrElse {
      // flat path: one CASE WHEN to the leaf index, then per-class
      // literal lookups — first-match order preserved (required for
      // overlapping generalized rule sets)
      val leafIdx = leaves.headOption match {
        case None => lit(-1)
        case Some(h) =>
          leaves.zipWithIndex.tail.foldLeft(
            when(h.toPredicate(names), lit(0))) { case (acc, (r, i)) =>
            acc.when(r.toPredicate(names), lit(i))
          }.otherwise(lit(-1))
      }
      val withIdx = df.withColumn("__leaf", leafIdx)
      val labelOf = leaves.zipWithIndex.foldLeft(lit(majority)) {
        case (acc, (r, i)) =>
          when(col("__leaf") === i, lit(r.label.get)).otherwise(acc)
      }
      val probCols = classes.zipWithIndex.map { case (c, ci) =>
        leafMicros.zipWithIndex.foldLeft(lit(majorityMicros(ci))) {
          case (acc, (m, li)) =>
            when(col("__leaf") === li, lit(m(ci))).otherwise(acc)
        }.as(s"$probPrefix$c")
      }
      withIdx.select((df.columns.map(col) :+ labelOf.as(outputCol)) ++
        probCols: _*)
    }
  }

  /** A generalized ([[C45RuleSimplify]]) rule set: more than one leaf
    * and no tree form — leaves may overlap and first-match order is
    * semantic. Drives the semantics switches in [[transformFractional]]
    * (C4.5rules unknown-fails scoring) and [[C45Pruning]] (rejects:
    * subtree replacement needs a partition). */
  private[fit] def overlapping: Boolean =
    leaves.size > 1 && treeStructure().isEmpty

  /** Reconstruct the tree from the leaf rules' condition prefixes:
    * node ids for every distinct path prefix (assigned level-wise in
    * first-appearance order — deterministic, leaves is an ordered
    * Vector) plus one Route row set per level (internal splits + leaf
    * self-loops, so a level-walk is one linear join chain). None when
    * the leaf set has no tree form: a single root leaf, duplicate
    * leaves, a leaf prefix extended further (overlapping generalized
    * rules), or a node whose children mix attributes/boundaries. */
  private def treeStructure(): Option[
      (scala.collection.mutable.LinkedHashMap[Vector[(Int, Split)], Int],
       Seq[Seq[Route]])] = {
    val leafConds = leaves.map(_.conditions)
    if (leafConds.isEmpty || leaves.exists(_.label.isEmpty)) return None
    val leafSet = leafConds.toSet
    if (leafSet.size != leafConds.size) return None // duplicate leaves: order matters
    val maxD = leafConds.map(_.length).max
    if (maxD == 0) return None // single root leaf — the flat literal is ideal
    val nid = scala.collection.mutable.LinkedHashMap[Vector[(Int, Split)], Int]()
    (0 to maxD).foreach { d =>
      leafConds.foreach { c =>
        if (c.length >= d) { val p = c.take(d); if (!nid.contains(p)) nid(p) = nid.size }
      }
    }
    // a prefix that is both a leaf and extended further = overlap
    val extendedPrefixes = nid.keys.filter(_.nonEmpty).map(_.init).toSet
    if (leafSet.exists(extendedPrefixes.contains)) return None
    val prefixes = nid.keys.toSeq
    val levels: Seq[Seq[Route]] =
      (0 until maxD).map { d =>
        val internal = prefixes.filter(p => p.length == d && !leafSet.contains(p))
        val routeRows = internal.map { p =>
          val added = prefixes.filter(q => q.length == d + 1 && q.init == p).map(_.last)
          val le = added.collect { case (a, NumLE(b)) => (a, b) }
          val gt = added.collect { case (a, NumGT(b)) => (a, b) }
          val cat = added.collect { case (a, CatEq(v)) => (a, v) }
          (le, gt, cat) match {
            case (Seq((a1, b1)), Seq((a2, b2)), Seq()) if a1 == a2 && b1 == b2 =>
              Route(nid(p), "num", a1, b1,
                nid(p :+ (a1 -> NumLE(b1))), nid(p :+ (a1 -> NumGT(b1))), Map.empty)
            case (Seq(), Seq(), vs) if vs.nonEmpty &&
              vs.map(_._1).distinct.size == 1 && vs.map(_._2).distinct.size == vs.size =>
              val a = vs.head._1
              Route(nid(p), "cat", a, 0.0, -1, -1,
                vs.map { case (ai, v) => v -> nid(p :+ (ai -> CatEq(v))) }.toMap)
            case _ => return None // not a clean single-attribute split
          }
        }
        val leafLoops = prefixes
          .filter(p => p.length <= d && leafSet.contains(p))
          .map(p => Route(nid(p), "leaf", -1, 0.0, nid(p), nid(p), Map.empty))
        routeRows ++ leafLoops
      }
    Some((nid, levels))
  }

  /** Score rows that may carry NULL attribute values with Quinlan's
    * fractional-weight vote — the prediction-side counterpart of
    * `C45Params.missingMode = "fractional"`. A row descends the tree;
    * at a node whose split attribute is null it follows EVERY child
    * with its weight scaled by the child's share of training mass
    * (`leafMass`, recorded by the fit in exact micros), and the
    * predicted label is the class with the largest summed leaf weight
    * (ties break to the lexicographically smallest class; an all-zero
    * vote — every known value unseen in training — falls back to the
    * global majority). Rows with no nulls get exactly [[transform]]'s
    * answer: every factor is 0 or 1 and one leaf carries weight 1.
    *
    * Two plans, mirroring [[transform]]: up to `routeThreshold` leaves,
    * one flat map-only expression (per leaf a product of per-condition
    * factors, per class a fixed-order sum — zero shuffles, fully
    * codegen'd). Wider models level-walk through broadcast edge joins
    * with the weight fanning out exactly as the fit's fractional
    * routing does (weights ride as exact long micros so the per-row
    * per-class sums are order-independent), then ONE hash aggregation
    * by row id and a join back to the input. Fit-produced, pruned
    * (which keep the merged leaf distributions), simplified, and
    * sidecar-loaded ([[C45Model.load]]) models carry the masses;
    * rule-text-only loads do not and must use [[transform]].
    *
    * Generalized ([[C45RuleSimplify]]) rule lists have no tree to
    * fractionally descend: C4.5rules itself classifies them with
    * unknown-FAILS first-match (a test on a null value is unsatisfied
    * — Quinlan 1993, ch. 5), which is exactly [[transform]]'s
    * semantics, so such models delegate there. */
  def transformFractional(df: DataFrame, outputCol: String = "prediction",
                          routeThreshold: Int = 64): DataFrame = {
    require(leafMass.size == leaves.size && leaves.nonEmpty,
      "transformFractional needs per-leaf training masses: fit/prune/" +
        "simplify/C45Model.load produce them (loadRules text-only " +
        "loads do not — use transform)")
    require(leaves.forall(_.label.nonEmpty), "model has open rules")
    if (overlapping) return transform(df, outputCol, routeThreshold)
    val classes = leaves.flatMap(_.label).distinct.sorted
    if (leaves.size <= routeThreshold) flatFractional(df, outputCol, classes)
    else routedFractional(df, outputCol, classes)
      .getOrElse(flatFractional(df, outputCol, classes))
  }

  /** Training mass of every distinct path prefix (micros): the
    * denominator/numerator pool for the per-edge fractions. */
  private def prefixMass: Map[Vector[(Int, Split)], Long] = {
    val m = scala.collection.mutable.Map.empty[Vector[(Int, Split)], Long]
    leaves.zip(leafMass).foreach { case (r, w) =>
      (0 to r.conditions.length).foreach { d =>
        val p = r.conditions.take(d); m(p) = m.getOrElse(p, 0L) + w
      }
    }
    m.toMap
  }

  /** Deterministic argmax over per-class weight columns: greatest on
    * (weight, -classIndex, label) structs — ties go to the smaller
    * index, i.e. the lexicographically smallest class — then the
    * all-zero fallback to majority. */
  private def argmaxPred(byClass: Seq[(String, Column)]): Column =
    if (byClass.size == 1)
      when(byClass.head._2 > 0, lit(byClass.head._1)).otherwise(lit(majority))
    else {
      val best = greatest(byClass.zipWithIndex.map { case ((c, w), i) =>
        struct(w.as("w"), lit(-i).as("r"), lit(c).as("c")) }: _*)
      when(best.getField("w") > 0, best.getField("c")).otherwise(lit(majority))
    }

  /** Flat fractional scoring as a STAGED TRIE WALK: one projection
    * per tree level, each adding the level's node-weight columns as
    * `w(child) = w(parent) × edge-factor` — every shared path prefix
    * is computed ONCE and referenced by name, instead of inlining the
    * full root-to-leaf product per leaf. The naive per-leaf form
    * repeats every shared prefix across leaves AND classes
    * (O(leaves × depth × classes) subexpressions); on a 5-member
    * forest that expression fell out of whole-stage codegen entirely
    * (zero codegen spans, interpreted eval — 24s for 600k rows at
    * sf0.1, vs ~3s staged). CollapseProject keeps the stages separate
    * because the node columns are referenced more than once (children
    * + class sums), so each weight is evaluated exactly once per row
    * inside codegen. Numerically BIT-IDENTICAL to the per-leaf fold:
    * the staged products associate left-to-right exactly like
    * `foldLeft(1.0)(_ * _)` (and `1.0 × f = f` exactly in IEEE), and
    * the class sums keep the same leaf order. */
  private def flatFractional(df: DataFrame, outputCol: String,
                             classes: Seq[String]): DataFrame = {
    val names = schema.attrNames
    val mass = prefixMass
    // all distinct non-empty prefixes, shallow→deep, stable order
    val prefixes: Vector[Vector[(Int, Split)]] = leaves
      .flatMap(r => (1 to r.conditions.length).map(r.conditions.take))
      .distinct
    val colOf: Map[Vector[(Int, Split)], String] =
      prefixes.zipWithIndex.map { case (p, i) => p -> s"__c45f_w$i" }.toMap
    def factor(p: Vector[(Int, Split)]): Column = {
      val (aid, s) = p.last
      // a zero-mass parent (possible only through zero-mass leaves,
      // e.g. maxDepth-exhausted ones) contributes nothing: frac 0,
      // never 0/0
      val denom = mass(p.init).toDouble
      val frac = if (denom > 0) mass(p) / denom else 0.0
      val a = col(names(aid))
      when(a.isNull, lit(frac))
        .otherwise(when(s.toPredicate(a), lit(1.0)).otherwise(lit(0.0)))
    }
    val byDepth = prefixes.groupBy(_.length).toSeq.sortBy(_._1)
    val staged = byDepth.foldLeft(df) { case (d, (depth, ps)) =>
      d.withColumns(ps.map { p =>
        colOf(p) -> (if (depth == 1) factor(p)
        else col(colOf(p.init)) * factor(p))
      }.toMap)
    }
    def wLeaf(r: Rule): Column =
      if (r.conditions.isEmpty) lit(1.0) else col(colOf(r.conditions))
    val byClass = classes.map { c =>
      c -> leaves.collect {
        case r if r.label.contains(c) => wLeaf(r)
      }.reduce(_ + _)
    }
    staged.withColumn(outputCol, argmaxPred(byClass))
      .drop(prefixes.map(colOf): _*)
  }

  /** Wide-model fractional scoring: the level-walk of
    * [[routedTransform]] with the fit's fractional fan-out — one
    * broadcast edge join per level where a null split value multiplies
    * the row into every child at `floor(w·frac + 0.5)` micros, leaves
    * self-loop at full weight, and a known-but-unseen value drops the
    * branch (that subtree's vote is zero, exactly as the flat factors
    * give 0). One hash aggregation by row id collapses the fan-out to
    * per-class long sums (order-independent), and a left join back to
    * the input restores rows whose every branch died (→ majority).
    * Row ids come from monotonically_increasing_id, which is
    * deterministic for a deterministic source partitioning — both
    * scans of `withId` in the self-join see identical ids. Returns
    * None when the leaves don't form a proper tree (overlapping
    * generalized rules) — such models carry no masses anyway. */
  private def routedFractional(df: DataFrame, outputCol: String,
                               classes: Seq[String]): Option[DataFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    val structure = treeStructure()
    if (structure.isEmpty) return None
    val (nid, levels) = structure.get
    val mass = prefixMass
    val nidMass: Map[Int, Long] = nid.map { case (p, i) => i -> mass(p) }.toMap
    val edgeLevels: Seq[Seq[PredEdge]] = levels.map(_.flatMap { r =>
      r.kind match {
        case "leaf" => Seq(PredEdge(r.prid, "leaf", -1, 0.0, "", "", r.prid, 1.0))
        case "num" =>
          // zero-mass parents (see flatFractional): frac 0, never 0/0
          val pm = nidMass(r.prid).toDouble
          def fr(c: Int) = if (pm > 0) nidMass(c) / pm else 0.0
          Seq(PredEdge(r.prid, "num", r.aid, r.boundary, "le", "", r.lrid,
              fr(r.lrid)),
            PredEdge(r.prid, "num", r.aid, r.boundary, "gt", "", r.rrid,
              fr(r.rrid)))
        case _ =>
          val pm = nidMass(r.prid).toDouble
          r.children.toSeq.sortBy(_._1).map { case (v, c) =>
            PredEdge(r.prid, "cat", r.aid, 0.0, "", v, c,
              if (pm > 0) nidMass(c) / pm else 0.0) }
      }
    })
    val names = schema.attrNames
    val withId = df.withColumn("__rowid", monotonically_increasing_id())
    var cur = withId.select(
      (col("__rowid") +: names.map(col)) :+
        lit(1000000L).as("__w") :+ lit(nid(Vector.empty)).as("__nid"): _*)
    edgeLevels.foreach { edges =>
      val edgeDf = edges.toDF("__pnid", "__kind", "__aid", "__boundary",
        "__side", "__catval", "__cnid", "__frac")
      val routeAids = edges.filter(_.kind != "leaf").map(_.aid).toSet
      val routeNum = schema.numericAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
      val routeCat = schema.categoricalAttrs.filter(a => routeAids(schema.attrIndex(a.name)))
      val fracW = floor(col("__w") * col("__frac") + lit(0.5)).cast("long")
      val leafBranch = when(col("__kind") === "leaf", col("__w"))
      val withNum =
        if (routeNum.isEmpty) leafBranch
        else {
          val numv = map(routeNum.flatMap(a =>
            Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("double"))): _*)
          val v = element_at(numv, col("__aid"))
          leafBranch.when(col("__kind") === "num",
            when(col("__side") === "le" && v <= col("__boundary"), col("__w"))
              .when(col("__side") === "gt" && v > col("__boundary"), col("__w"))
              .when(v.isNull, fracW))
        }
      val newW =
        if (routeCat.isEmpty) withNum
        else {
          val catv = map(routeCat.flatMap(a =>
            Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("string"))): _*)
          val cv = element_at(catv, col("__aid"))
          withNum.when(col("__kind") === "cat",
            when(cv === col("__catval"), col("__w")).when(cv.isNull, fracW))
        }
      cur = cur.join(broadcast(edgeDf), cur("__nid") === edgeDf("__pnid"))
        .withColumn("__wN", newW)
        .filter(col("__wN").isNotNull && col("__wN") > 0)
        .drop("__nid", "__w", "__pnid", "__kind", "__aid", "__boundary",
          "__side", "__catval", "__frac")
        .withColumnRenamed("__cnid", "__nid")
        .withColumnRenamed("__wN", "__w")
    }
    val labelDf = leaves.map(r => (nid(r.conditions), r.label.get))
      .toDF("__lnid", "__lbl")
    val sums = classes.map(c =>
      sum(when(col("__lbl") === lit(c), col("__w")).otherwise(lit(0L)))
        .as(s"__wc_$c"))
    val votes = cur.join(broadcast(labelDf), col("__nid") === col("__lnid"))
      .groupBy("__rowid")
      .agg(sums.head, sums.tail: _*)
    val pred = argmaxPred(classes.map(c => c -> col(s"__wc_$c")))
    Some(withId.join(votes, Seq("__rowid"), "left")
      .withColumn(outputCol,
        when(col(s"__wc_${classes.head}").isNull, lit(majority)).otherwise(pred))
      .drop((("__rowid" +: classes.map(c => s"__wc_$c"))): _*))
  }

  /** The model as a DataFrame (rule codec string, label, depth). */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    leaves.map(r => (r.encode, r.label.getOrElse(""), r.depth))
      .toDF("rule", "label", "depth")
  }

  /** Persist the rule set in the reference's queue-file text format
    * (one encoded rule per line — Main.java:272-289 / Rule.java:22-33);
    * driver-side IO, the model is tiny by construction. */
  def saveRules(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      (ruleStrings :+ s":$majority").mkString("\n"))

  /** FULL model persistence: the reference text codec ([[saveRules]],
    * `dir/rules.txt`) PLUS a parquet distribution sidecar (`dir/dist`,
    * one (leaf, cls, micros) row per leaf × observed class — exact
    * long micros, lossless in parquet), so a [[C45Model.load]]ed model
    * supports [[transformFractional]]/[[transformProba]]/
    * [[C45Pruning.pruneTraining]] — everything a live fit supports.
    * The sidecar is O(model) rows; `leafMass` is not stored because it
    * is always each leaf's distribution sum (fit invariant). A leaf
    * absent from the sidecar carries an empty distribution (mass 0 —
    * maxDepth-exhausted leaves), exactly as the fit recorded it.
    *
    * `dir` may be on ANY Hadoop-visible filesystem (local, HDFS, s3a):
    * the rules file writes through the Hadoop FileSystem API — the
    * model is O(leaves) tiny, so single-file driver IO is the right
    * shape even at cluster scale — and the sidecar is an ordinary
    * parquet write. ([[saveRules]] stays the local-path reference-codec
    * convenience.) */
  def save(spark: SparkSession, dir: String): Unit = {
    require(leafDist.size == leaves.size && leaves.nonEmpty,
      "C45Model.save persists the distribution sidecar: the model must " +
        "carry per-leaf class distributions (fit/prune/simplify/load " +
        "produce them); use saveRules for a rules-only text export")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(dirPath, "rules.txt"),
      /*overwrite=*/ true)
    try out.write(
      (ruleStrings :+ s":$majority").mkString("\n").getBytes("UTF-8"))
    finally out.close()
    import spark.implicits._
    leafDist.zipWithIndex
      .flatMap { case (d, i) => d.toSeq.map { case (c, m) => (i, c, m) } }
      .toDF("leaf", "cls", "micros")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dirPath, "dist").toString)
  }
}

object C45Model {
  /** Inverse of [[C45Model.saveRules]]: the final `:label` line (a
    * condition-less closed rule) carries the global majority. Text
    * codec only — the loaded model has no leaf distributions (use
    * [[load]] for the full round-trip). */
  def loadRules(path: String, schema: C45Schema): C45Model = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).toArray.map(_.toString).filter(_.nonEmpty)
    val rules = lines.map(graft.model.Rule.decode).toVector
    val majority = rules.last.label.getOrElse(
      sys.error(s"model file $path has no majority line"))
    C45Model(schema, rules.init, majority)
  }

  /** Inverse of [[C45Model.save]]: rules from the text codec, per-leaf
    * class distributions from the parquet sidecar (leaf index aligns
    * with the rules-file line order), `leafMass` rebuilt as each
    * leaf's distribution sum. The result is indistinguishable from the
    * live fit's model — train → store → load → prune/serve
    * probabilities round-trips bit-exactly (ModelPersistenceSpec /
    * q_model_roundtrip). Reads through the Hadoop FileSystem API, so
    * any [[C45Model.save]]-visible filesystem works. */
  def load(spark: SparkSession, dir: String, schema: C45Schema): C45Model = {
    val rulesPath = new org.apache.hadoop.fs.Path(dir, "rules.txt")
    val fs = rulesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(rulesPath)
    val text =
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    val rules = text.split("\n").filter(_.nonEmpty)
      .map(graft.model.Rule.decode).toVector
    val majority = rules.last.label.getOrElse(
      sys.error(s"model dir $dir has no majority line"))
    val base = C45Model(schema, rules.init, majority)
    val byLeaf: Map[Int, Map[String, Long]] =
      spark.read.parquet(new org.apache.hadoop.fs.Path(dir, "dist").toString)
        .collect()
        .groupBy(_.getAs[Int]("leaf"))
        .map { case (i, rows) =>
          i -> rows.map(r =>
            r.getAs[String]("cls") -> r.getAs[Long]("micros")).toMap
        }
    val dist = base.leaves.indices.toVector
      .map(i => byLeaf.getOrElse(i, Map.empty[String, Long]))
    base.copy(leafMass = dist.map(_.values.sum), leafDist = dist)
  }
}

/** One row of the broadcast routing table for deep frontiers: how a
  * PARENT rule (by its rid at the previous level) routes its rows to
  * child rids at this level. `kind` = "num" (boundary + left/right
  * child) or "cat" (value → child map); closed parents simply have no
  * row, so their rows drop out of the inner join — the same fate the
  * flat CASE WHEN gives them via the `-1` → filter. (Top-level, not
  * nested in the object: a private nested case class defeats the
  * encoder's generated code and forces interpreted fallback.) */
private[fit] case class Route(prid: Int, kind: String, aid: Int,
                              boundary: Double, lrid: Int, rrid: Int,
                              children: Map[String, Int])

/** Exploded routing row for the FRACTIONAL-weight path: one row per
  * (parent rule, child rule) edge, carrying the one condition that
  * selects the child ("num" side le/gt of `boundary`, or "cat"
  * equality on `catval`) and `frac` — the child's share of the
  * parent's KNOWN mass on the split attribute, which is the weight
  * multiplier a null-valued row receives for this child (Quinlan's
  * C4.5 unknown-value distribution). The join fans each parent row out
  * to its children and the weight expression keeps exactly one branch
  * for a known value (full weight) or all branches for a null
  * (fractional weights). */
private[fit] case class RouteX(prid: Int, kind: String, aid: Int,
                               boundary: Double, side: String,
                               catval: String, crid: Int, frac: Double)

/** One routing edge for the wide-model fractional PREDICT level-walk
  * ([[C45Model.transformFractional]]): like [[RouteX]] but in node-id
  * space with leaf self-loops, `frac` = the child subtree's share of
  * its parent's training mass. (Top-level for the same encoder reason
  * as [[Route]].) */
private[fit] case class PredEdge(pnid: Int, kind: String, aid: Int,
                                 boundary: Double, side: String,
                                 catval: String, cnid: Int, frac: Double)

object C45 {

  private[fit] case class Cand(aid: Int, gainRatio: Double, gain: Double,
                               boundary: Option[Double], fracLeft: Double = 0.0)

  /** Driver-side statistics of one level, derived from one histogram
    * collect: the per-rule class marginals plus per-(rule, attr) split
    * candidates. Every fit [[LevelLoop.grow]] grows replays the exact
    * same math on its own cell slice — bit-identical decisions by
    * construction. */
  private[fit] case class LevelStats(
      clsCounts: Map[Int, Map[String, Long]],
      cat: Map[(Int, Int), Cand],
      catValues: Map[(Int, Int), Seq[(String, Long)]],
      num: Map[(Int, Int), Cand])

  /** What one level's driver-side decision pass produced: rules closed
    * this level (with their exact-micros mass and class distribution),
    * the next frontier, the routing rows the next level's deep-frontier
    * join would need, gain-importance increments, and the (possibly
    * newly fixed) global majority. */
  private[fit] case class LevelDecision(
      closedAdd: Vector[(Rule, Long, Map[String, Long])],
      nextOpen: Vector[Rule],
      routes: Seq[Route], routesX: Seq[RouteX],
      importanceAdd: Seq[(Int, Double)],
      globalMajority: Option[String])

  /** The flat frontier-routing expression: first-match CASE WHEN over
    * the open rules' root-to-leaf conjunctions, -1 = no rule (row
    * leaves the fit). The rid of a rule is its frontier index — the
    * same id the join-routed and RouteX-chained levels assign. */
  private[fit] def flatRidColumn(open: Vector[Rule], names: Seq[String]): Column = {
    val first = when(open.head.toPredicate(names), 0)
    open.zipWithIndex.tail.foldLeft(first) { case (acc, (r, i)) =>
      acc.when(r.toPredicate(names), lit(i))
    }.otherwise(lit(-1))
  }

  /** The child id a broadcast [[Route]] join assigns each row, over
    * the join's output columns: a numeric route sends `value <=
    * boundary` to `__lrid` and `>` to `__rrid`, a categorical route
    * looks the value up in `__children`, and a "leaf" self-loop (the
    * serving level-walk) keeps `__prid`. A NULL or unseen value yields
    * null — the row routes nowhere, the fate the flat CASE WHEN's -1
    * gives it. Raw (un-snapped) values compare exactly as
    * [[graft.model.Rule.toPredicate]] does. A branch exists only when
    * some route needs it, so a categorical-only schema builds no
    * numeric map. Shared by the fit's join-routed levels and
    * [[C45Model]]'s level-walk. */
  private[fit] def routedRid(routes: Seq[Route], schema: C45Schema): Column = {
    val aids = routes.filter(_.kind != "leaf").map(_.aid).toSet
    def valueAt(attrs: Seq[graft.meta.AttrMeta], to: String): Option[Column] = {
      val used = attrs.filter(a => aids(schema.attrIndex(a.name)))
      if (used.isEmpty) None
      else Some(element_at(map(used.flatMap(a =>
        Seq(lit(schema.attrIndex(a.name)), col(a.name).cast(to))): _*), col("__aid")))
    }
    val branches =
      valueAt(schema.numericAttrs, "double").map(v => (col("__kind") === "num",
        when(v <= col("__boundary"), col("__lrid"))
          .when(v > col("__boundary"), col("__rrid")))).toSeq ++
      valueAt(schema.categoricalAttrs, "string").map(v => (col("__kind") === "cat",
        element_at(col("__children"), v))) ++
      (if (routes.exists(_.kind == "leaf")) Seq((col("__kind") === "leaf", col("__prid")))
       else Nil)
    branches match {
      case Seq() => lit(null)
      case (c, v) +: rest => rest.foldLeft(when(c, v)) { case (acc, (ci, vi)) => acc.when(ci, vi) }
    }
  }

  /** The fractional route-weight expression over a RouteX join's
    * output columns (__w, __frac, __kind, __aid, __boundary, __side,
    * __catval, plus the row's live attribute values): full weight
    * where the value selects this child, frac-rounded micros on EVERY
    * child where the value is NULL, null (row leaves) otherwise.
    * Rounding to whole micros keeps downstream sums exact integers; a
    * weight rounding to 0 is dropped by the caller. */
  private[fit] def routeXWeight(routeNum: Seq[graft.meta.AttrMeta],
      routeCat: Seq[graft.meta.AttrMeta], schema: C45Schema): Column = {
    val fracW = floor(col("__w") * col("__frac") + lit(0.5)).cast("long")
    val numBranch =
      if (routeNum.isEmpty) None
      else {
        val numvCol = map(routeNum.flatMap(a =>
          Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("double"))): _*)
        val v = element_at(numvCol, col("__aid"))
        Some(when(col("__kind") === "num",
          when(col("__side") === "le" && v <= col("__boundary"), col("__w"))
            .when(col("__side") === "gt" && v > col("__boundary"), col("__w"))
            .when(v.isNull, fracW)))
      }
    val catBranchOf: Column => Column = prev => {
      val catvCol = map(routeCat.flatMap(a =>
        Seq(lit(schema.attrIndex(a.name)), col(a.name).cast("string"))): _*)
      val cv = element_at(catvCol, col("__aid"))
      val hit = when(cv === col("__catval"), col("__w"))
        .when(cv.isNull, fracW)
      if (prev == null) when(col("__kind") === "cat", hit)
      else prev.when(col("__kind") === "cat", hit)
    }
    (numBranch, routeCat.isEmpty) match {
      case (Some(nb), true)  => nb
      case (Some(nb), false) => catBranchOf(nb)
      case (None, false)     => catBranchOf(null)
      case (None, true)      => lit(null)
    }
  }

  /** Dense ranks of strings: each key's rank among the distinct keys
    * in Ordering.String order, and those distinct keys. */
  private def rankStrings(keys: Array[String]): (Array[Int], Array[String]) = {
    val idOf = new java.util.HashMap[String, Integer]
    val firstSeen = Array.newBuilder[String]
    val ids = keys.map { k =>
      val id = idOf.get(k)
      if (id != null) id.intValue
      else { val n = idOf.size; idOf.put(k, n); firstSeen += k; n }
    }
    val distinct = firstSeen.result()
    val byString = distinct.indices.sortBy(distinct(_))
    val rankOfId = new Array[Int](distinct.length)
    for (r <- byString.indices) rankOfId(byString(r)) = r
    (ids.map(rankOfId(_)), byString.map(distinct(_)).toArray)
  }

  /** Dense ranks of ints (in numeric order), and the number of distinct
    * keys. Keys spanning a range not much wider than their count — rule
    * and attribute ids — rank by offset. */
  private def rankInts(keys: Array[Int]): (Array[Int], Int) =
    if (keys.isEmpty) (keys, 0)
    else {
      val lo = keys.min
      val span = keys.max.toLong - lo + 1
      if (span <= keys.length.toLong + 1024) (keys.map(_ - lo), span.toInt)
      else {
        val d = keys.clone()
        java.util.Arrays.sort(d)
        var u = 0
        for (x <- d) if (u == 0 || d(u - 1) != x) { d(u) = x; u += 1 }
        (keys.map(java.util.Arrays.binarySearch(d, 0, u, _)), u)
      }
    }

  /** Stable counting sort of the positions `order` by `key(position)`,
    * whose values lie in [0, range). */
  private def countingSort(order: Array[Int], key: Array[Int], range: Int): Array[Int] = {
    val next = new Array[Int](range + 1)
    var i = 0
    while (i < order.length) { next(key(order(i)) + 1) += 1; i += 1 }
    var r = 0
    while (r < range) { next(r + 1) += next(r); r += 1 }
    val out = new Array[Int](order.length)
    i = 0
    while (i < order.length) {
      val k = key(order(i))
      out(next(k)) = order(i)
      next(k) += 1
      i += 1
    }
    out
  }

  /** Driver-side split stats on one level's collected cells — the
    * same factored identities as InfoStats (A4-A7 and the O2 boundary
    * scan). ε special cases exactly as InfoStats.gainRatioD, but taking
    * the (possibly known-fraction-scaled) gain as given: in unweighted
    * mode gain == info - condE and this IS gainRatioD bit-for-bit.
    *
    * Cost: O(cells · log cells) per level. Value and class strings are
    * dictionary-encoded once (each distinct numeric value string parsed
    * once), a stable radix sort on the integer codes puts the attribute
    * cells in (rid, aid, value, class) order, and each (rid, aid) group
    * is then one linear pass over primitive per-class arrays.
    *
    * Summation order — every floating-point sum runs in a fixed order,
    * so the result is independent of partitioning and cell order, and
    * of scale (10× counts shift every term by the same log2(10)):
    *  - Σ plogp over classes (`sCls`) in class-string order;
    *  - over categorical values (`sVal`) in value-string order;
    *  - over cells (`sCell`) in (value, class)-string order;
    *  - the numeric boundary scan visits values in `Double.compare`
    *    order of the parsed value, with per-label sums in sorted-label
    *    order, and its argmin keeps the first candidate under strict <.
    * Numeric value strings that parse to equal doubles (`0.0`, `-0.0`)
    * are one value with their counts added, taking the greater of them
    * under `Double.compare` as its boundary — routing and
    * [[deriveFinalCounts]] compare them as equal too. `catValues`
    * lists each rule's values in value-string order, the order its
    * child rids are assigned in. */
  private[fit] def levelStats(cells: Array[(Int, Int, String, String, Long)],
      schema: C45Schema, classLabels: Seq[String], fractional: Boolean,
      unit: Double, params: C45Params): LevelStats = {
    // the aid = -1 sentinel slice carries (rid, cls, n); each rule's
    // marginal map is built in cell order
    val clsB = scala.collection.mutable.HashMap
      .empty[Int, scala.collection.mutable.Builder[(String, Long), Map[String, Long]]]
    cells.foreach { c =>
      if (c._2 == -1) clsB.getOrElseUpdate(c._1, Map.newBuilder) += c._3 -> c._5
    }
    val clsCounts: Map[Int, Map[String, Long]] =
      clsB.iterator.map { case (rid, b) => rid -> b.result() }.toMap

    def gainRatioOf(gain: Double, splitInfo: Double, info: Double): Double = {
      val tol = 1e-12
      if (math.abs(splitInfo) < tol) {
        if (math.abs(info) < tol) 0.0 else InfoStats.Epsilon
      } else gain / splitInfo
    }
    // the attribute cells as columns in (rid, aid, value, class) order.
    // Every key is dense-ranked once (strings in Ordering.String order);
    // a numeric attribute's value key is instead its parsed value's rank
    // in Double.compare order, where strings with == doubles (0.0,
    // -0.0) share one rank. One stable LSD radix pass per key follows,
    // so equal keys keep cell order.
    val attr = cells.filter(_._2 != -1)
    val m = attr.length
    val isNum = schema.attrs.map(_.isNumeric).toArray
    val (str0, values) = rankStrings(attr.map(_._3))
    val (cls0, classes) = rankStrings(attr.map(_._4))
    val (rid0, nRid) = rankInts(attr.map(_._1))
    val (aid0, nAid) = rankInts(attr.map(_._2))
    val numStr = new Array[Boolean](values.length)
    for (k <- 0 until m) if (isNum(attr(k)._2)) numStr(str0(k)) = true
    val parsed = new Array[Double](values.length)
    val numStrs = values.indices.filter(numStr(_)).toArray
    for (v <- numStrs) parsed(v) = values(v).toDouble
    val numRank = new Array[Int](values.length)
    val byValue = numStrs.sortBy(parsed(_))(Ordering.Double.TotalOrdering)
    for (p <- 1 until byValue.length) {
      val (a, b) = (byValue(p - 1), byValue(p))
      numRank(b) = if (parsed(a) == parsed(b)) numRank(a) else numRank(a) + 1
    }
    val val0 = new Array[Int](m)
    for (k <- 0 until m)
      val0(k) = if (isNum(attr(k)._2)) numRank(str0(k)) else str0(k)
    val order = Seq((cls0, classes.length), (val0, values.length),
      (aid0, nAid), (rid0, nRid))
      .foldLeft(Array.range(0, m)) { case (o, (key, range)) =>
        countingSort(o, key, range) }
    val rids, aids, vals, strs, clss = new Array[Int](m)
    val ws = new Array[Long](m)
    for (i <- 0 until m) {
      val k = order(i)
      rids(i) = attr(k)._1; aids(i) = attr(k)._2; ws(i) = attr(k)._5
      vals(i) = val0(k); strs(i) = str0(k); clss(i) = cls0(k)
    }
    // `slots` maps a class to its sorted-label positions (a class
    // outside the label set still counts toward n and sCls)
    val labels = classLabels.sorted
    val nl = labels.size
    val slots = classes.map(c => labels.indices.filter(labels(_) == c).toArray)
    val clsSum = new Array[Long](classes.length)
    val clsSeen = new Array[Boolean](classes.length)

    val catStats = Map.newBuilder[(Int, Int), Cand]
    val catValues = Map.newBuilder[(Int, Int), Seq[(String, Long)]]
    val numStats = Map.newBuilder[(Int, Int), Cand]
    var i = 0
    while (i < ws.length) {
      val rid = rids(i)
      val aid = aids(i)
      var j = i
      java.util.Arrays.fill(clsSum, 0L)
      java.util.Arrays.fill(clsSeen, false)
      var nRaw = 0L
      while (j < ws.length && rids(j) == rid && aids(j) == aid) {
        nRaw += ws(j)
        clsSum(clss(j)) += ws(j)
        clsSeen(clss(j)) = true
        j += 1
      }
      // nRaw: the rule's KNOWN mass on this attribute; totRaw: its
      // full mass (sentinel slice). In fractional mode gain scales
      // by the known fraction and splitInfo charges the unknown
      // slice as an extra branch (Quinlan's unknown-value
      // accounting); with no nulls the two are equal and every
      // expression below reduces to the unweighted original.
      val n = nRaw / unit
      val totRaw = clsCounts.getOrElse(rid, Map.empty).values.sum
      val nTot = totRaw / unit
      val nUnknown = nTot - n
      var sCls = 0.0
      var c = 0
      while (c < classes.length) {
        if (clsSeen(c)) sCls += InfoStats.plogpD(clsSum(c) / unit)
        c += 1
      }
      val info = InfoStats.log2D(n) - sCls / n
      if (!isNum(aid)) {
        val perVal = Vector.newBuilder[(String, Long)]
        var sVal = 0.0
        var sCell = 0.0
        var k = i
        while (k < j) {
          val v = vals(k)
          var vN = 0L
          while (k < j && vals(k) == v) {
            vN += ws(k)
            sCell += InfoStats.plogpD(ws(k) / unit)
            k += 1
          }
          sVal += InfoStats.plogpD(vN / unit)
          perVal += values(v) -> vN
        }
        val splitInfo =
          if (!fractional) InfoStats.log2D(n) - sVal / n
          else InfoStats.log2D(nTot) -
            (sVal + InfoStats.plogpD(nUnknown)) / nTot
        val condE = (sVal - sCell) / n
        val gain = if (fractional) (n / nTot) * (info - condE) else info - condE
        catStats += (rid, aid) -> Cand(aid, gainRatioOf(gain, splitInfo, info),
          gain, None)
        catValues += (rid, aid) -> perVal.result()
      } else {
        // boundary scan over sorted distinct values: cumulative
        // class counts give the left contingency row at each
        // candidate; the maximum value has no right side and the
        // minDataRatio guard applies to both sides
        // (MyReducer.java:140-141,188-190). Argmin on
        // (cond_entropy, boundary), strict <. Counts stay exact
        // longs (micros) through the cumulative scan.
        // one row of per-label counts per distinct value, in value order;
        // == strings merged here take the last of them in Double.compare
        // order
        var nv = 0
        var k = i
        while (k < j) { if (k == i || vals(k) != vals(k - 1)) nv += 1; k += 1 }
        val value = new Array[Double](nv)
        val cnt = new Array[Long](nv * nl)
        val rowN = new Array[Long](nv)
        var v = -1
        k = i
        while (k < j) {
          if (k == i || vals(k) != vals(k - 1)) { v += 1; value(v) = parsed(strs(k)) }
          else if (java.lang.Double.compare(parsed(strs(k)), value(v)) > 0)
            value(v) = parsed(strs(k))
          slots(clss(k)).foreach { l => cnt(v * nl + l) += ws(k); rowN(v) += ws(k) }
          k += 1
        }
        val tot = new Array[Long](nl)
        v = 0
        while (v < nv) {
          var l = 0
          while (l < nl) { tot(l) += cnt(v * nl + l); l += 1 }
          v += 1
        }
        val left = new Array[Long](nl)
        var leftN = 0L
        var hasBest = false
        var bestCondE = 0.0
        var b = 0.0
        v = 0
        while (v < nv) {
          var l = 0
          while (l < nl) { left(l) += cnt(v * nl + l); l += 1 }
          leftN += rowN(v)
          val rightN = nRaw - leftN
          if (rightN > 0 && leftN >= nRaw * params.minDataRatio &&
              rightN >= nRaw * params.minDataRatio) {
            var sLeft = 0.0
            var sRight = 0.0
            l = 0
            while (l < nl) {
              sLeft += InfoStats.plogpD(left(l) / unit)
              sRight += InfoStats.plogpD((tot(l) - left(l)) / unit)
              l += 1
            }
            val lN = leftN / unit
            val rN = rightN / unit
            val condE = ((lN * InfoStats.log2D(lN) - sLeft) +
              (rN * InfoStats.log2D(rN) - sRight)) / n
            if (!hasBest || condE < bestCondE) {
              hasBest = true; bestCondE = condE; b = value(v)
            }
          }
          v += 1
        }
        if (hasBest) {
          var leftBN = 0L
          v = 0
          while (v < nv && value(v) <= b) { leftBN += rowN(v); v += 1 }
          val rightBN = nRaw - leftBN
          val splitInfo =
            if (!fractional) InfoStats.log2D(n) -
              (InfoStats.plogpD(leftBN / unit) + InfoStats.plogpD(rightBN / unit)) / n
            else InfoStats.log2D(nTot) -
              (InfoStats.plogpD(leftBN / unit) + InfoStats.plogpD(rightBN / unit) +
                InfoStats.plogpD(nUnknown)) / nTot
          val gain = if (fractional) (n / nTot) * (info - bestCondE) else info - bestCondE
          numStats += (rid, aid) -> Cand(aid,
            gainRatioOf(gain, splitInfo, info), gain, Some(b),
            leftBN.toDouble / nRaw.toDouble)
        }
      }
      i = j
    }
    LevelStats(clsCounts, catStats.result(), catValues.result(), numStats.result())
  }

  /** Derive the FINAL level's per-child class distributions from the
    * PARENT level's histogram cells and its split routes — so a fit
    * whose frontier reaches `maxDepth` never runs the last (widest)
    * histogram job. Exact by construction: a child's rows are exactly
    * its parent's rows selected by the one new split condition, and
    * the parent's cells already carry the (rid, splitAttr, value,
    * class) → Σweight table that condition partitions — numeric
    * children by `value <= boundary` over the snapped value the
    * boundary scan itself ranked (raw `v <= b ⟺ snap(v) <= b`, the
    * binning contract; a NaN value fails every `<=` and goes to the
    * `>` child, as Spark's NaN-greatest routing sends it),
    * categorical children by their exact value slice. Rows with a NULL
    * split value appear in no slice and route to no child at serve
    * time either — identical exclusion. Only the weight-rounding
    * FRACTIONAL fan-out is non-derivable (per-row micro rounding
    * happens at routing); fractional fits keep their final histogram.
    * GoldenFitSpec/C45ForestSpec/C45BoostSpec pin bit-identity of the
    * resulting models.
    *
    * Cost: O(cells + routes) — the routes' (parent rid, split attr)
    * slices are indexed in one pass over the cells, and each slice is
    * read by its one route. The sums are exact longs, so their order
    * does not matter; each child's map is built from its slice in cell
    * order. */
  private[fit] def deriveFinalCounts(
      cells: Array[(Int, Int, String, String, Long)],
      routes: Seq[Route]): Map[Int, Map[String, Long]] = {
    def key(rid: Int, aid: Int): Long = (rid.toLong << 32) | (aid & 0xffffffffL)
    val slices = scala.collection.mutable.HashMap.empty[Long,
      scala.collection.mutable.ArrayBuffer[(Int, Int, String, String, Long)]]
    routes.foreach(rt => slices(key(rt.prid, rt.aid)) =
      scala.collection.mutable.ArrayBuffer.empty)
    cells.foreach(c => slices.get(key(c._1, c._2)).foreach(_ += c))
    val out = Map.newBuilder[Int, Map[String, Long]]
    routes.foreach { rt =>
      val slice = slices(key(rt.prid, rt.aid))
      if (rt.kind == "num") {
        val le = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        val gt = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        slice.foreach { case (_, _, v, cls, n) =>
          if (v.toDouble <= rt.boundary) le(cls) += n else gt(cls) += n
        }
        if (le.nonEmpty) out += rt.lrid -> le.toMap
        if (gt.nonEmpty) out += rt.rrid -> gt.toMap
      } else {
        val byValue = slice.groupBy(_._3)
        rt.children.foreach { case (v, crid) =>
          byValue.get(v).foreach { g =>
            out += crid -> g.toList.groupBy(_._4)
              .map { case (c, cg) => c -> cg.map(_._5).sum }
          }
        }
      }
    }
    out.result()
  }

  /** Driver-side per-rule decision (O3/O4): tiny tables only. The
    * same pass records each split as a Route row so the next level
    * can broadcast-join its way to child rids if its frontier is
    * deep (child rid = position in nextOpen, by construction the
    * index the flat CASE WHEN would assign too).
    *
    * Cost: O(rules + candidates) — the candidates are grouped by rule
    * once per level. Each rule takes the maximum of
    * (gainRatio, -aid), which has no ties within a rule, so the choice
    * does not depend on iteration order. */
  private[fit] def decideLevel(open: Vector[Rule], level: Int, st: LevelStats,
      schema: C45Schema, params: C45Params, classLabels: Seq[String],
      fractional: Boolean, unit: Double,
      globalMajority0: Option[String]): LevelDecision = {
    val closedAdd = Vector.newBuilder[(Rule, Long, Map[String, Long])]
    val nextOpen = Vector.newBuilder[Rule]
    val routes = Seq.newBuilder[Route]
    val routesX = Seq.newBuilder[RouteX]
    val imp = Seq.newBuilder[(Int, Double)]
    var globalMajority = globalMajority0
    var nextIdx = 0
    val candsByRid: Map[Int, Seq[Cand]] =
      (st.cat.toSeq ++ st.num.toSeq).groupMap(_._1._1)(_._2)
    open.zipWithIndex.foreach { case (rule, rid) =>
      val counts = st.clsCounts.getOrElse(rid, Map.empty)
      if (counts.isEmpty) {
        // no rows reached this rule (possible only via races in input);
        // close with global majority rather than silently dropping (#4)
        closedAdd += ((rule.closed(globalMajority.getOrElse(classLabels.head)),
          0L, Map.empty))
      } else {
        val majority = counts.toSeq.maxBy { case (l, n) => (n, l) }._1
        if (globalMajority.isEmpty && rid == 0 && level == 0)
          globalMajority = Some(majority)
        val pure = counts.size == 1
        val used = rule.usedAttrs
        val cands = candsByRid.getOrElse(rid, Nil).filter(c =>
          !used.contains(c.aid) &&
            c.gain > 1e-12 && c.gainRatio > InfoStats.Epsilon)
        if (pure || cands.isEmpty || rule.depth >= params.maxDepth) {
          closedAdd += ((rule.closed(majority),
            if (fractional) counts.values.sum else counts.values.sum * 1000000L,
            if (fractional) counts else counts.view.mapValues(_ * 1000000L).toMap))
        } else {
          val best = cands.maxBy(c => (c.gainRatio, -c.aid))
          imp += best.aid -> (counts.values.sum / unit * best.gain)
          best.boundary match {
            case Some(b) =>
              nextOpen += rule.withCondition(best.aid, NumLE(b))
              nextOpen += rule.withCondition(best.aid, NumGT(b))
              routes += Route(rid, "num", best.aid, b, nextIdx, nextIdx + 1,
                Map.empty)
              if (fractional) {
                routesX += RouteX(rid, "num", best.aid, b, "le", "",
                  nextIdx, best.fracLeft)
                routesX += RouteX(rid, "num", best.aid, b, "gt", "",
                  nextIdx + 1, 1.0 - best.fracLeft)
              }
              nextIdx += 2
            case None =>
              // one child per value observed at this node (#4: children
              // for absent domain values would hold zero rows)
              val vals = st.catValues((rid, best.aid))
              routes += Route(rid, "cat", best.aid, 0.0, -1, -1,
                vals.zipWithIndex.map { case ((v, _), i) => v -> (nextIdx + i) }
                  .toMap)
              if (fractional) {
                val known = vals.map(_._2).sum.toDouble
                vals.zipWithIndex.foreach { case ((v, c), i) =>
                  routesX += RouteX(rid, "cat", best.aid, 0.0, "", v,
                    nextIdx + i, c / known)
                }
              }
              vals.foreach { case (v, _) =>
                nextOpen += rule.withCondition(best.aid, CatEq(v))
              }
              nextIdx += vals.size
          }
        }
      }
    }
    LevelDecision(closedAdd.result(), nextOpen.result(), routes.result(),
      routesX.result(), imp.result(), globalMajority)
  }

  /** Test hook: with -Dgraft.fit.capturePlans=1, every join-routed
    * level's physical plan is recorded here (pre-execution, so the
    * broadcast hint's join choice is visible) — lets specs pin the
    * "one broadcast hash join, no shuffle" routing claim without
    * exposing the loop's internals. */
  private[graft] val capturedRoutePlans =
    new scala.collection.mutable.ArrayBuffer[String]

  def fit(df: DataFrame, schema: C45Schema,
          params: C45Params = C45Params()): C45Model =
    fitWithImportance(df, schema, params)._1

  /** Is the WHOLE input cache-backed — i.e. does the plan root reach an
    * InMemoryRelation through nothing but row-preserving wrappers
    * (Project/Filter/aliases)? An InMemoryRelation merely somewhere in
    * the tree (say a small cached dimension joined to a huge uncached
    * fact input) must NOT count: skipping fit's own persist there would
    * silently recompute the full upstream plan once per level. */
  private[fit] def inputCacheBacked(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project, SubqueryAlias}
    def backed(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case Project(_, child) => backed(child)
      case LFilter(_, child) => backed(child)
      case SubqueryAlias(_, child) => backed(child)
      case _ => false
    }
    backed(df.queryExecution.withCachedData)
  }

  /** [[fit]], additionally returning gain-based feature importance:
    * per attribute, Σ over the splits that chose it of
    * (rows at the node) × (information gain of the split) — the
    * standard impurity-decrease importance, un-normalized. Computed
    * entirely from the driver-side selection pass (zero extra jobs);
    * deterministic because every gain is derived from the sorted
    * histogram in a fixed order. Attributes never chosen are absent
    * from the map.
    *
    * One up-front probe job checks the labels, finds whether any
    * attribute value is NULL and gates binning; then [[LevelLoop.grow]]
    * grows one fit. A null-bearing corpus under missingMode
    * "fractional" grows in exact micros with fan-out on, so only its
    * null-bearing rows ride the weighted RouteX chain. */
  def fitWithImportance(df: DataFrame, schema: C45Schema,
                        params: C45Params = C45Params()): (C45Model, Map[Int, Double]) =
    LevelLoop.cached(df, (schema.attrNames :+ schema.classCol).map(col)) { data =>
      val probe = LevelLoop.probe(data, schema, params.maxBins)
        .requireLabels("C45.fit", schema.classCol)
      val fractional = params.missingMode == "fractional" &&
        schema.attrNames.nonEmpty && probe.nullAttrRows > 0L
      val group = FitGroup(LevelLoop.classLabels(data, schema),
        LevelLoop.binEdges(data, schema, params.maxBins, a => probe.distinct((0, a))))
      LevelLoop.grow(data, schema, params, Vector(group), "graft.fit",
        weight = lit(if (fractional) 1000000L else 1L), micros = fractional,
        fanOut = fractional).head
    }

  /** Fused k-fold fitting: train k C4.5 models — model f on the rows
    * whose `foldCol` != f — with ONE histogram job per tree level
    * shared by ALL k fits ([[LevelLoop.grow]] with k fold-complement
    * groups), instead of k independent fits each scanning the base once
    * per level. Decisions are bit-identical to k independent fits: the
    * cell counts and the driver math are identical by construction.
    * Shuffle volume is pre-aggregated counts (k× a single fit's, the
    * same total the k separate jobs shuffled); what's saved is (k-1)
    * scans of base per level plus per-fit job overhead.
    *
    * With `fractional = true` (null attribute values under missing-mode
    * "fractional") the fits grow in exact micros with fan-out on: only
    * rows with a null attribute value ride the fit-tagged weighted
    * RouteX chain, persisted dirty×(k-1) rows per join-routed level,
    * while the null-free majority routes flat through the caller's
    * cache. The fractional decision is GLOBAL — if any fold carries
    * null attribute values, all k fits run micro-weighted — but this
    * does not change the recorded `leafMass`/`leafDist` of a fit whose
    * training complement is null-free: its rows never fan out, so every
    * weight is exactly 10⁶ and the micros equal a direct `C45.fit` on
    * that subset (MassScaleSpec pins all three corners).
    *
    * Contract: `stamped` is persisted by the caller and contains
    * `foldCol` (int in [0, k)) + the schema's attributes + class
    * column; class labels are non-null (caller-probed). Labels, when
    * undeclared, are discovered per fit in one job.
    * `approxDistinct` optionally carries the per-(fit, numeric attr)
    * approx-distinct counts when the caller already aggregated them
    * (crossValidate folds them into its null-probe scan); absent, one
    * batched gating job runs here. Each fit's quantile edges come from
    * its own training rows. */
  private[fit] def fitFolds(stamped: DataFrame, foldCol: String, k: Int,
      schema: C45Schema, params: C45Params,
      approxDistinct: Option[Map[(Int, String), Long]] = None,
      fractional: Boolean = false,
      importanceOut: Array[scala.collection.mutable.Map[Int, Double]] = null)
      : Seq[C45Model] = {
    val fits = 0 until k
    // per-fit class-label sets: label → folds containing it; fit f
    // trains on folds != f
    val labelsByFit: Seq[Seq[String]] =
      if (schema.classLabels.nonEmpty) fits.map(_ => schema.classLabels)
      else {
        val pairs = stamped.groupBy(col(schema.classCol).cast("string").as("c"))
          .agg(collect_set(col(foldCol)).as("fs")).collect()
          .map(r => r.getString(0) -> r.getSeq[Int](1).toSet)
        fits.map(f => pairs.collect { case (c, fs) if fs.exists(_ != f) => c }.sorted.toSeq)
      }
    val members = fits.map(f => col(foldCol) =!= f)
    val dc: Map[(Int, String), Long] =
      if (params.maxBins <= 0 || schema.numericAttrs.isEmpty) Map.empty
      else approxDistinct.getOrElse(
        LevelLoop.probe(stamped, schema, params.maxBins, members).distinct)
    val groups = fits.map(f => FitGroup(labelsByFit(f),
      LevelLoop.binEdges(stamped.filter(members(f)), schema, params.maxBins,
        a => dc((f, a)))))
    val out = LevelLoop.grow(stamped, schema, params, groups, "graft.fitFolds",
      weight = lit(if (fractional) 1000000L else 1L), micros = fractional,
      fanOut = fractional, holdOut = Some(foldCol))
    if (importanceOut != null)
      fits.foreach(f => out(f)._2.foreach { case (a, v) => importanceOut(f)(a) += v })
    out.map(_._1)
  }
}
