package graft.fit

import graft.meta.{AttrMeta, C45Schema}
import graft.model.Rule
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One fit grown by [[LevelLoop.grow]]: its closed class-label set, its
  * quantile-bin edges (attr index → sorted edges, see
  * [[LevelLoop.binEdges]]) and what restricts it. `mult` is a row's
  * integer multiplicity in this fit — a bootstrap draw, 0 = the row is
  * not in the fit; None = every row once. `attrs` are the attribute
  * indices the fit may split on. `sample`, when set, draws each open
  * node's candidates from its live attributes, given (level, rid, live
  * attrs) — the forest's per-node mtry. */
private[fit] case class FitGroup(
    classLabels: Seq[String],
    binEdges: Map[Int, Array[Double]],
    mult: Option[Column] = None,
    attrs: Int => Boolean = _ => true,
    sample: Option[(Int, Int, Seq[Int]) => Set[Int]] = None)

/** The one C4.5 level loop every fit family grows through
  * ([[C45.fitWithImportance]], [[C45.fitFolds]], [[C45Forest]],
  * [[C45Boost]]), plus the up-front probe and binning they share. */
private[fit] object LevelLoop {

  /** A histogram cell: (rid, aid, value, class, Σ weight); aid = -1 is
    * the per-rule class marginal. */
  type Cell = (Int, Int, String, String, Long)

  private val W1 = 1000000L

  /** What the up-front probe saw: NULL class labels, rows with a NULL
    * attribute value, and the binning gate's approx-distinct count per
    * (member filter, numeric attribute name). */
  case class Probe(nullLabels: Long, nullAttrRows: Long,
                   distinct: Map[(Int, String), Long]) {
    /** Class labels must be non-null: a null would vanish from the
      * class marginal while its row still feeds the attribute slices —
      * an inconsistent n (the reference NPEs on it). */
    def requireLabels(who: String, clsCol: String): Probe = {
      require(nullLabels == 0L,
        s"$who requires non-null class labels: column '$clsCol' contains NULLs")
      this
    }
  }

  /** Rows carrying a NULL attribute value — the only rows that can fan
    * out under fractional missing-value routing. */
  def nullRow(schema: C45Schema): Column =
    schema.attrNames.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))

  /** The up-front probe, ONE aggregation job over `data`: the label
    * check, whether any attribute value is NULL (the fractional
    * machinery engages only when one is, so a null-free corpus takes
    * the count-based path bit for bit), and — when `maxBins > 0` — one
    * HLL sketch per (member filter, numeric attribute) for the binning
    * gate. HLL over a when()-filter equals HLL over the filtered rows:
    * the sketch only sees the value set. */
  def probe(data: DataFrame, schema: C45Schema, maxBins: Int,
            members: Seq[Column] = Seq(lit(true))): Probe = {
    val keys = if (maxBins <= 0) Nil
      else for { g <- members.indices; a <- schema.numericAttrs } yield (g, a.name)
    val aggs = Seq(count(when(col(schema.classCol).isNull, 1)),
      count(when(nullRow(schema), 1))) ++
      keys.map { case (g, a) => approx_count_distinct(when(members(g), col(a))) }
    val r = data.agg(aggs.head, aggs.tail: _*).head()
    Probe(r.getLong(0), r.getLong(1),
      keys.zipWithIndex.map { case (k, i) => k -> r.getLong(2 + i) }.toMap)
  }

  /** Quantile-bin the numeric attributes whose approx-distinct count
    * (`distinct`) exceeds `maxBins`, with one approxQuantile job over
    * `data`: values then snap to the smallest edge >= v, which keeps
    * split semantics exact (snap(v) <= e ⟺ v <= e for every edge e)
    * while bounding each (rule, attr) boundary scan at any scale. */
  def binEdges(data: DataFrame, schema: C45Schema, maxBins: Int,
               distinct: String => Long): Map[Int, Array[Double]] = {
    val need = if (maxBins <= 0) Nil
      else schema.numericAttrs.map(_.name).filter(distinct(_) > maxBins)
    if (need.isEmpty) Map.empty
    else {
      val probs = (1 until maxBins).map(_.toDouble / maxBins).toArray
      need.zip(data.stat.approxQuantile(need.toArray, probs, 1e-4)).collect {
        case (nm, es) if es.nonEmpty => schema.attrIndex(nm) -> es.distinct.sorted
      }.toMap
    }
  }

  /** The closed class-label set: declared, else discovered in one job
    * (the reference requires the declared set, Main.java:154-158). */
  def classLabels(data: DataFrame, schema: C45Schema): Seq[String] =
    if (schema.classLabels.nonEmpty) schema.classLabels
    else data.select(col(schema.classCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** `body` over the projection `cols` of `df`, cached for the fit.
    * Callers that already persisted the input keep THEIR cache: the
    * level loop then reads through it (a projection over a cache is
    * free at scan time) instead of materializing the same bytes again.
    * Otherwise the projection is widened to the session parallelism —
    * a 1-3-partition cache would run every level on 1-3 cores (Widen
    * scaladoc) — persisted, and freed when `body` returns or throws. */
  def cached[T](df: DataFrame, cols: Seq[Column])(body: DataFrame => T): T = {
    val pre = df.storageLevel != StorageLevel.NONE || C45.inputCacheBacked(df)
    val proj = df.select(cols: _*)
    val data = if (pre) proj
      else graft.operators.Widen.toParallelism(proj).persist(StorageLevel.MEMORY_AND_DISK)
    try body(data) finally if (!pre) data.unpersist()
  }

  /** Persist WITHOUT columnar compression — for the transient routed
    * bases, which live for one level and are scanned twice (this
    * level's histogram, the next level's route join): dictionary/RLE
    * encoding costs CPU on the build and on every scan, a net loss for
    * a frame that short-lived (~25% of a join-routed fit at 600k rows).
    * The conf is snapshotted by the InMemoryRelation at persist time,
    * so the temporary set/restore cannot leak to caller caches. */
  private def persistUncompressed(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    val old = s.conf.get(key)
    s.conf.set(key, "false")
    try df.persist(StorageLevel.MEMORY_AND_DISK)
    finally s.conf.set(key, old)
  }

  /** Level-wise C4.5 (SURVEY.md O4): the reference's one-MapReduce-job-
    * per-tree-level driver loop (Main.java:59-123) over a cached frame,
    * growing `groups.size` fits at once. Per level, ALL open rules of
    * ALL fits are scored by ONE histogram job: each row gets its rule
    * id (rid) in every fit it trains, one explode emits a class
    * sentinel (aid = -1) plus the fit's live (attr, value) pairs, and
    * one partially-aggregated groupBy(fit, rid, aid, value, class)
    * collapses the data to cells bounded by #fits × #rules × #attrs ×
    * #values × #classes — O(model), never O(data), with #values ≤
    * maxBins by the binning contract. The driver then replays
    * [[C45.levelStats]] + [[C45.decideLevel]] per fit on its slice, so
    * a fit grown here decides exactly as it would grown alone. This
    * replaces the reference's rule-queue HDFS files, distributed-cache
    * side input and combiner-less raw-pair shuffle (SURVEY.md §3.4, §4).
    *
    * Semantics choices vs the reference (SURVEY.md §2 quirks, all
    * chosen "correct", regression-documented in C45QuirksSpec):
    *  #1 numeric boundaries compare as typed doubles, never truncated
    *     strings; #2 leaves take the majority class, not last-seen;
    *  #3 boundaries are per (rule, attr), no cross-rule contamination;
    *  #4 rules with no positive-gain candidate close as majority leaves
    *     instead of silently dropping their rows; #5 an attribute is used
    *     at most once per path (replicated — it defines tree shape);
    *  #6 the ε=1e-5 splitInfo==0 case never wins (a zero-gain "split"
    *     replays the same node), so such rules close as majority leaves.
    *
    * Inputs. `data` holds the schema's attributes, the class column and
    * whatever `weight` and the groups' `mult` read. A row's histogram
    * weight in fit g is `weight` × g's `mult` (a row with weight 0 is not
    * in g); `holdOut` names a fold column when the groups are k-fold
    * complements — fit g then trains on the rows whose fold ≠ g.
    * `label` names the fit family in each level's Spark job description
    * (`"<label> level=<n> …"`).
    *
    * Rid pinning. An open rule's rid is its index in its fit's frontier.
    * The flat first-match CASE WHEN ([[C45.flatRidColumn]]), the
    * broadcast [[Route]] join and the [[RouteX]] chain's child rid all
    * assign that same index ([[C45.decideLevel]] numbers children in
    * frontier order), so the routing plan never changes a decision.
    *
    * Routing, chosen from the inputs only. With `fanOut` (fractional
    * missing values) the rows with a NULL attribute value ride a
    * weighted RouteX broadcast-join chain — a null-valued row descends
    * every child of its rule's split at known-mass share
    * ([[C45.routeXWeight]], micro rounding on the per-copy weight, the
    * multiplicity outside it) — while the null-free rows route flat at
    * their full weight; one union, still ONE aggregation job per level.
    * Without fan-out, one group whose frontier is wider than
    * `routeJoinThreshold` joins the previous level's routed base against
    * a broadcast (parent rid, condition) → child rid table (constant
    * expression size per level, no shuffle); every other level routes
    * flat. The level math ([[C45.levelStats]]/[[C45.decideLevel]]) runs
    * in fractional mode exactly when `micros`, i.e. when the weights are
    * exact micros (10⁶ per row) rather than counts.
    *
    * Level shortcuts. Without fan-out, the final level (level ==
    * maxDepth) derives its class marginals from the parent level's cells
    * ([[C45.deriveFinalCounts]]) and runs no job; with fan-out it
    * aggregates the class marginal only. Attributes used on every open
    * path of a fit leave its histogram map, and attributes dead in every
    * fit leave the routed base. With `holdOut` and no binning, level 0
    * aggregates per fold once and composes each fit's cells driver-side
    * (fit g = Σ over folds ≠ g), never fanning the corpus out k ways.
    *
    * Persist lifetime. A base routed by a join at level L < maxDepth is
    * persisted uncompressed; level L's histogram builds it, level L+1's
    * route join reads it, and it is freed as soon as level L+1's
    * histogram has run. A `finally` unpersists every base ever persisted,
    * so a failed level strands no cached blocks. `data` itself belongs
    * to the caller.
    *
    * Returns each group's model (rules, majority, leaf masses and
    * distributions in exact micros — counts × 10⁶ when not `micros`)
    * and its gain importance (Σ node mass × gain per attribute). */
  def grow(data: DataFrame, schema: C45Schema, params: C45Params,
           groups: IndexedSeq[FitGroup], label: String, weight: Column = lit(1L),
           micros: Boolean = false, fanOut: Boolean = false,
           holdOut: Option[String] = None): IndexedSeq[(C45Model, Map[Int, Double])] = {
    val spark = data.sparkSession
    import spark.implicits._
    val names = schema.attrNames
    val clsCol = schema.classCol
    def aid(a: AttrMeta): Int = schema.attrIndex(a.name)
    val unit = if (micros) 1e6 else 1.0
    val multi = groups.size > 1
    val tag = if (multi) Seq(col("__g")) else Nil
    val anyMult = groups.exists(_.mult.nonEmpty)
    def multOf: Column =
      if (!multi) groups(0).mult.get
      else element_at(array(groups.map(_.mult.getOrElse(lit(1))): _*), col("__g") + 1)
    val rowW = if (anyMult) weight * multOf else weight
    val dirty = nullRow(schema)

    final class State(val g: FitGroup) {
      var open = Vector(Rule.root)
      var closed = Vector.empty[(Rule, Long, Map[String, Long])]
      var majority: Option[String] = None
      var routes: Seq[Route] = Nil
      var routesX: Seq[RouteX] = Nil
      var cells: Array[Cell] = null
      val imp = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    }
    val states = groups.map(new State(_))
    var level = 0
    var prevBase: DataFrame = null
    var prevPersisted: Option[DataFrame] = None
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** One level's histogram job: every active fit's cells. */
    def histogram(active: IndexedSeq[Int]): Map[Int, Array[Cell]] = {
      // each fit's explode map: the class sentinel plus its live
      // attributes (only the sentinel at the final level, where every
      // open rule closes on its class marginal); numeric values are
      // snapped to the fit's bin edges and cast to string, which
      // doubles round-trip exactly
      def pairs(g: FitGroup, live: Int => Boolean): Seq[Column] =
        Seq(lit(-1), col("__cls")) ++ (if (level == params.maxDepth) Nil
        else schema.categoricalAttrs.filter(a => live(aid(a))).flatMap(a =>
          Seq(lit(aid(a)), col(a.name).cast("string"))) ++
          schema.numericAttrs.filter(a => live(aid(a))).flatMap { a =>
            val raw = col(a.name).cast("double")
            Seq(lit(aid(a)), g.binEdges.get(aid(a))
              .map(graft.functions.SortedCeilSnap.snapTo(_, raw))
              .getOrElse(raw).cast("string"))
          })
      def deadOf(s: State): Set[Int] = s.open.map(_.usedAttrs).reduce(_ intersect _)
      def attrMap(s: State): Column = s.g.sample match {
        case Some(draw) if level < params.maxDepth =>
          // per-node sampling: one map per open rid, so unsampled
          // attributes never reach the shuffle
          val byRid = s.open.zipWithIndex.map { case (r, rid) =>
            val live = names.indices.filter(a => s.g.attrs(a) && !r.usedAttrs(a))
            rid -> map(pairs(s.g, draw(level, rid, live)): _*)
          }
          byRid.tail.foldLeft(when(col("__rid") === byRid.head._1, byRid.head._2)) {
            case (acc, (rid, m)) => acc.when(col("__rid") === rid, m)
          }
        case _ =>
          val dead = deadOf(s)
          map(pairs(s.g, a => s.g.attrs(a) && !dead(a)): _*)
      }
      val attrMapCol =
        if (active.size == 1) attrMap(states(active.head))
        else active.tail.foldLeft(
          when(col("__g") === active.head, attrMap(states(active.head)))) {
          (acc, g) => acc.when(col("__g") === g, attrMap(states(g)))
        }
      def ridOf(g: Int): Column = {
        val rid = C45.flatRidColumn(states(g).open, names)
        holdOut.fold(rid)(h => when(col(h) === g, lit(-1)).otherwise(rid))
      }
      // flat routing: each row's rid in every fit it trains (rows no
      // open rule accepts leave)
      def flat(src: DataFrame): DataFrame =
        if (!multi)
          src.withColumn("__rid", ridOf(0)).filter(col("__rid") >= 0)
            .withColumn("__cls", col(clsCol).cast("string"))
        else src.withColumn("__cls", col(clsCol).cast("string"))
          .select(col("*"), explode(map(active.flatMap(g => Seq(lit(g), ridOf(g))): _*))
            .as(Seq("__g", "__rid")))
          .filter(col("__rid") >= 0)
      def exploded(b: DataFrame, w: Column, positive: Boolean,
                   keys: Seq[Column] = tag, m: Column = attrMapCol): DataFrame = {
        val (wb, wc) =
          if (positive) (b.withColumn("__w", w).filter(col("__w") > 0), col("__w"))
          else (b, w)
        wb.select(keys ++ Seq(col("__rid"), col("__cls").as("cls"), wc.as("__w"),
          explode(m).as(Seq("aid", "val"))): _*)
      }
      // the DIRTY rows' level-0 fan-out: one row per (row, fit it
      // trains) at the root, carrying the per-copy weight `__w` (the
      // only column RouteX rounding touches) and the multiplicity `__m`
      // separately, so every rounding happens exactly as on each
      // replicated copy
      def rootFanout: DataFrame = {
        val src = data.filter(dirty).withColumn("__cls", col(clsCol).cast("string"))
        val tagged =
          if (multi) src.withColumn("__g", explode(array(groups.indices.map(lit(_)): _*)))
          else src
        val kept = holdOut.fold(tagged)(h =>
          tagged.filter(col(h) =!= (if (multi) col("__g") else lit(0))))
        val withM = if (anyMult) kept.withColumn("__m", multOf).filter(col("__m") > 0) else kept
        withM.withColumn("__w", weight).withColumn("__rid", lit(0))
          .select(tag ++ Seq(col("__rid"), col("__w")) ++
            (if (anyMult) Seq(col("__m")) else Nil) ++
            (col("__cls") +: names.map(col)): _*)
      }
      val chain = fanOut && level > 0
      val joinRoute = !multi && !fanOut && level > 0 &&
        states(0).open.size > params.routeJoinThreshold
      var persistedNow: Option[DataFrame] = None
      val routed: DataFrame =
        if (chain || joinRoute) {
          val next =
            if (chain) {
              val xr = active.flatMap(g => states(g).routesX.map(x =>
                (g, x.prid, x.kind, x.aid, x.boundary, x.side, x.catval, x.crid, x.frac)))
              val routeDf = xr.toDF("__pg", "__prid", "__kind", "__aid",
                "__boundary", "__side", "__catval", "__crid", "__frac")
              val on = prevBase("__rid") === routeDf("__prid")
              val aids = xr.map(_._4).toSet
              prevBase.join(broadcast(routeDf),
                  if (multi) prevBase("__g") === routeDf("__pg") && on else on)
                .withColumn("__wN", C45.routeXWeight(
                  schema.numericAttrs.filter(a => aids(aid(a))),
                  schema.categoricalAttrs.filter(a => aids(aid(a))), schema))
                .filter(col("__wN").isNotNull && col("__wN") > 0)
                .drop("__rid", "__w", "__pg", "__prid", "__kind", "__aid",
                  "__boundary", "__side", "__catval", "__frac")
                .withColumnRenamed("__crid", "__rid")
                .withColumnRenamed("__wN", "__w")
            } else {
              val routes = states(0).routes
              val routeDf = routes.toDF("__prid", "__kind", "__aid", "__boundary",
                "__lrid", "__rrid", "__children")
              // a NULL split value satisfies no branch: the row leaves,
              // as the flat CASE WHEN's -1 sends it
              prevBase.join(broadcast(routeDf), prevBase("__rid") === routeDf("__prid"))
                .withColumn("__ridNext", C45.routedRid(routes, schema))
                .filter(col("__ridNext").isNotNull)
                .drop("__rid", "__prid", "__kind", "__aid", "__boundary",
                  "__lrid", "__rrid", "__children")
                .withColumnRenamed("__ridNext", "__rid")
            }
          // dead attributes leave the cache; monotone across levels (a
          // child's used set contains its parent's), so a column gone
          // from the previous base is never needed again
          val dead = active.map(g => deadOf(states(g))).reduce(_ intersect _)
          val slim = next.drop(names.filter(n => dead(schema.attrIndex(n))): _*)
          if (joinRoute && sys.props.get("graft.fit.capturePlans").contains("1"))
            C45.capturedRoutePlans.synchronized {
              C45.capturedRoutePlans += s"routes=${states(0).routes.size}\n" +
                slim.queryExecution.executedPlan.toString
            }
          // the persist exists for the NEXT level's route join
          if (level < params.maxDepth) {
            val p = persistUncompressed(slim)
            persisted += p
            persistedNow = Some(p)
            p
          } else slim
        } else if (fanOut) rootFanout
        else if (!multi) flat(data)
        else null
      val marginal0 = holdOut.nonEmpty && level == 0 && groups.forall(_.binEdges.isEmpty)
      val sc = spark.sparkContext
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$label level=$level fits=${active.size} histogram")
      val rows: DataFrame =
        if (marginal0)
          exploded(data.withColumn("__cls", col(clsCol).cast("string"))
            .withColumn("__rid", lit(0)), weight, positive = false,
            Seq(col(holdOut.get).as("__g")), attrMap(states(active.head)))
        else if (fanOut)
          exploded(routed, if (anyMult) col("__w") * col("__m") else col("__w"),
            positive = false)
            .unionByName(exploded(flat(data.filter(!dirty)), rowW, anyMult))
        else exploded(if (multi) flat(data) else routed, rowW, anyMult)
      val collected =
        try rows.filter(col("val").isNotNull)
          .groupBy(((if (multi || marginal0) Seq(col("__g")) else Nil) ++
            Seq("__rid", "aid", "val", "cls").map(col)): _*)
          .agg(sum(col("__w")).as("cnt"))
          .collect()
        finally sc.setJobDescription(prevDesc)
      // this level's histogram has materialized on top of the previous
      // persisted base: free it
      prevPersisted.foreach(_.unpersist())
      prevPersisted = persistedNow
      prevBase = routed
      val o = if (multi || marginal0) 1 else 0
      def cell(r: Row): Cell =
        (r.getInt(o), r.getInt(o + 1), r.getString(o + 2), r.getString(o + 3), r.getLong(o + 4))
      if (marginal0) {
        // fit g's root cells = Σ over folds ≠ g: exact long sums
        val byFold = collected.map(r => (r.getInt(0), cell(r)))
        active.map { g =>
          g -> byFold.iterator.filter(_._1 != g).map(_._2).toSeq
            .groupBy(c => (c._1, c._2, c._3, c._4))
            .map { case ((rid, a, v, c), cs) => (rid, a, v, c, cs.map(_._5).sum) }
            .toArray
        }.toMap
      } else if (multi) collected.groupBy(_.getInt(0)).view.mapValues(_.map(cell)).toMap
      else Map(active.head -> collected.map(cell))
    }


    try {
      while (states.exists(_.open.nonEmpty) && level <= params.maxDepth) {
        val active = states.indices.filter(states(_).open.nonEmpty)
        val derive = !fanOut && level == params.maxDepth && level > 0 &&
          active.forall(states(_).cells != null)
        val cellsOf: Map[Int, Array[Cell]] =
          if (derive) Map.empty else histogram(active)
        active.foreach { g =>
          val s = states(g)
          val cells = cellsOf.getOrElse(g, Array.empty[Cell])
          val st =
            if (derive) C45.LevelStats(C45.deriveFinalCounts(s.cells, s.routes),
              Map.empty, Map.empty, Map.empty)
            else C45.levelStats(cells, schema, s.g.classLabels, micros, unit, params)
          val d = C45.decideLevel(s.open, level, st, schema, params,
            s.g.classLabels, micros, unit, s.majority)
          s.closed ++= d.closedAdd
          d.importanceAdd.foreach { case (a, v) => s.imp(a) += v }
          s.majority = d.globalMajority
          s.open = d.nextOpen
          s.routes = d.routes
          s.routesX = d.routesX
          s.cells = cells
        }
        level += 1
      }
    } finally persisted.foreach(_.unpersist())

    states.map { s =>
      val majority = s.majority.getOrElse(s.g.classLabels.head)
      // maxDepth exhaustion: close survivors as majority leaves (#4)
      val leaves = s.closed ++ s.open.map(r => (r.closed(majority), 0L, Map.empty[String, Long]))
      (C45Model(schema.copy(classLabels = s.g.classLabels), leaves.map(_._1),
        majority, leaves.map(_._2), leaves.map(_._3)), s.imp.toMap)
    }
  }
}
