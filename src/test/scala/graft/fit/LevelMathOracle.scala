package graft.fit

import graft.meta.C45Schema
import graft.model.{CatEq, NumGT, NumLE, Rule}
import graft.stats.InfoStats
import graft.fit.C45.{Cand, LevelDecision, LevelStats}

/** Test oracle for [[LevelMathDiffSpec]]: the driver-side level math as
  * it stood before the linear-time rewrite (per-rule rescans of the
  * merged candidate maps, one cell filter per route, nested groupBys
  * in the stats pass), kept verbatim apart from one marked statement in
  * [[levelStats]]. The production functions must reproduce these
  * results bit for bit. */
object LevelMathOracle {

  def levelStats(cells: Array[(Int, Int, String, String, Long)],
      schema: C45Schema, classLabels: Seq[String], fractional: Boolean,
      unit: Double, params: C45Params): LevelStats = {
    val clsCounts: Map[Int, Map[String, Long]] = cells.iterator
      .filter(_._2 == -1).toSeq
      .groupBy(_._1)
      .map { case (rid, cs) => rid -> cs.map(c => c._3 -> c._5).toMap }

    def gainRatioOf(gain: Double, splitInfo: Double, info: Double): Double = {
      val tol = 1e-12
      if (math.abs(splitInfo) < tol) {
        if (math.abs(info) < tol) 0.0 else InfoStats.Epsilon
      } else gain / splitInfo
    }
    val catStats = Map.newBuilder[(Int, Int), Cand]
    val catValues = Map.newBuilder[(Int, Int), Seq[(String, Long)]]
    val numStats = Map.newBuilder[(Int, Int), Cand]
    cells.iterator.filter(_._2 != -1).toSeq
      .groupBy(t => (t._1, t._2))
      .toSeq.sortBy(_._1)
      .foreach { case ((rid, aid), cs) =>
        // nRaw: the rule's KNOWN mass on this attribute; totRaw: its
        // full mass (sentinel slice). In fractional mode gain scales
        // by the known fraction and splitInfo charges the unknown
        // slice as an extra branch (Quinlan's unknown-value
        // accounting); with no nulls the two are equal and every
        // expression below reduces to the unweighted original.
        val nRaw = cs.map(_._5).sum
        val n = nRaw / unit
        val totRaw = clsCounts.getOrElse(rid, Map.empty).values.sum
        val nTot = totRaw / unit
        val nUnknown = nTot - n
        val sCls = cs.groupBy(_._4)
          .map { case (c, g) => c -> g.map(_._5).sum }
          .toSeq.sortBy(_._1).map(t => InfoStats.plogpD(t._2 / unit)).sum
        val info = InfoStats.log2D(n) - sCls / n
        if (!schema.isNumericAttr(aid)) {
          val perVal = cs.groupBy(_._3).toSeq.sortBy(_._1)
          val sVal = perVal.map { case (_, g) =>
            InfoStats.plogpD(g.map(_._5).sum / unit) }.sum
          val sCell = cs.sortBy(t => (t._3, t._4))
            .map(t => InfoStats.plogpD(t._5 / unit)).sum
          val splitInfo =
            if (!fractional) InfoStats.log2D(n) - sVal / n
            else InfoStats.log2D(nTot) -
              (sVal + InfoStats.plogpD(nUnknown)) / nTot
          val condE = (sVal - sCell) / n
          val gain = if (fractional) (n / nTot) * (info - condE) else info - condE
          catStats += (rid, aid) -> Cand(aid, gainRatioOf(gain, splitInfo, info),
            gain, None)
          catValues += (rid, aid) -> perVal.map { case (v, g) =>
            v -> g.map(_._5).sum }
        } else {
          // boundary scan over sorted distinct values: cumulative
          // class counts give the left contingency row at each
          // candidate; the maximum value has no right side and the
          // minDataRatio guard applies to both sides
          // (MyReducer.java:140-141,188-190). Argmin on
          // (cond_entropy, boundary), strict <. Counts stay exact
          // longs (micros) through the cumulative scan.
          val labels = classLabels.sorted
          // THE ONE CHANGE from the pre-rewrite code: value strings that
          // parse to equal doubles (0.0 and -0.0) add up into one value,
          // keyed by the later one in Double.compare order. The old line
          // keyed a Map by the parsed double, so one string's counts
          // silently replaced the other's (which one depended on the
          // String hash order).
          val byVal = cs.groupBy(_._3).toSeq
            .map { case (v, g) =>
              v.toDouble -> labels.map(c =>
                g.filter(_._4 == c).map(_._5).sum)
            }.sortBy(_._1)
            .foldLeft(Vector.empty[(Double, Seq[Long])]) { case (acc, (d, cs)) =>
              if (acc.nonEmpty && acc.last._1 == d)
                acc.init :+ (d -> acc.last._2.zip(cs).map(t => t._1 + t._2))
              else acc :+ (d -> cs)
            }
          val tot = labels.indices.map(i => byVal.map(_._2(i)).sum)
          val left = Array.fill(labels.size)(0L)
          var leftN = 0L
          var best: Option[(Double, Double)] = None // (condE, boundary)
          byVal.foreach { case (v, rowCounts) =>
            labels.indices.foreach(i => left(i) += rowCounts(i))
            leftN += rowCounts.sum
            val rightN = nRaw - leftN
            if (rightN > 0 && leftN >= nRaw * params.minDataRatio &&
                rightN >= nRaw * params.minDataRatio) {
              val sLeft = labels.indices.map(i => InfoStats.plogpD(left(i) / unit)).sum
              val sRight = labels.indices.map(i =>
                InfoStats.plogpD((tot(i) - left(i)) / unit)).sum
              val lN = leftN / unit
              val rN = rightN / unit
              val condE = ((lN * InfoStats.log2D(lN) - sLeft) +
                (rN * InfoStats.log2D(rN) - sRight)) / n
              if (best.forall(b => condE < b._1)) best = Some((condE, v))
            }
          }
          best.foreach { case (condE, b) =>
            val leftBN = byVal.takeWhile(_._1 <= b).map(_._2.sum).sum
            val rightBN = nRaw - leftBN
            val splitInfo =
              if (!fractional) InfoStats.log2D(n) -
                (InfoStats.plogpD(leftBN / unit) + InfoStats.plogpD(rightBN / unit)) / n
              else InfoStats.log2D(nTot) -
                (InfoStats.plogpD(leftBN / unit) + InfoStats.plogpD(rightBN / unit) +
                  InfoStats.plogpD(nUnknown)) / nTot
            val gain = if (fractional) (n / nTot) * (info - condE) else info - condE
            numStats += (rid, aid) -> Cand(aid,
              gainRatioOf(gain, splitInfo, info), gain, Some(b),
              leftBN.toDouble / nRaw.toDouble)
          }
        }
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
    * binning contract), categorical children by their exact value
    * slice. Rows with a NULL split value appear in no slice and route
    * to no child at serve time either — identical exclusion. Only the
    * weight-rounding FRACTIONAL fan-out is non-derivable (per-row
    * micro rounding happens at routing); fractional fits keep their
    * final histogram. GoldenFitSpec/C45ForestSpec/C45BoostSpec pin
    * bit-identity of the resulting models. */
  def deriveFinalCounts(
      cells: Array[(Int, Int, String, String, Long)],
      routes: Seq[Route]): Map[Int, Map[String, Long]] = {
    val out = Map.newBuilder[Int, Map[String, Long]]
    routes.foreach { rt =>
      val slice = cells.filter(c => c._1 == rt.prid && c._2 == rt.aid)
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
      } else rt.children.foreach { case (v, crid) =>
        val m = slice.iterator.filter(_._3 == v).toSeq.groupBy(_._4)
          .map { case (c, g) => c -> g.map(_._5).sum }
        if (m.nonEmpty) out += crid -> m
      }
    }
    out.result()
  }

  /** Driver-side per-rule decision (O3/O4): tiny tables only. The
    * same pass records each split as a Route row so the next level
    * can broadcast-join its way to child rids if its frontier is
    * deep (child rid = position in nextOpen, by construction the
    * index the flat CASE WHEN would assign too). */
  def decideLevel(open: Vector[Rule], level: Int, st: LevelStats,
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
        val cands = (st.cat ++ st.num).collect {
          case ((r, aid), c)
            if r == rid && !rule.usedAttrs.contains(aid) &&
              c.gain > 1e-12 && c.gainRatio > InfoStats.Epsilon => c
        }
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
}
