package graft.tree

import graft.functions.{Native, NodeValueTable, SplitTable}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The level-fit scaffold under [[LevelFit]], the one level loop of the
  * six level-wise learners (the three trees and their three fused
  * forests) and the three boosters: working set, input contract, node
  * routing, the level aggregate, per-pass pre-projection, weighted
  * aggregate kernels and the split pick. The fused forest fits are
  * documented to produce trees IDENTICAL to tree-at-a-time fitting;
  * defining each piece once is what keeps that invariant from drifting.
  *
  * Level passes are FIXED-SHAPE: routing (`routeExpr`) and the
  * per-node candidate thresholds (`levelThresholdExpr`) carry the
  * tree as data in codegen's references, so a fit compiles its level
  * pass once and every later level, threshold and chosen attribute
  * reuses that class (pinned by FixedShapeFitSpec). Their width does
  * not depend on the category dictionaries either: categorical cells
  * are rows of the level aggregate (`levelAggregate`, pinned by
  * LevelPassSpec). Width matters because of a cliff: an aggregate
  * with more than `spark.sql.codegen.maxFields` (100) output or input
  * fields runs outside whole-stage codegen, and then every task
  * regenerates the Java source of its projections. The compiled
  * class is cached, so a compile counter reads 0 and cannot see that
  * per-task cost; a profiler can (CodeGeneratorWithInterpretedFallback
  * .createObject). The numeric side still grows with |F|²: the k-ary
  * learner's is 2·|F|·(k + |F|) columns, and its partial aggregate
  * carries 2·|F|·(k + 2·|F|) buffer fields (a mean is a sum and a
  * count), past 100 at |F| ≥ 5 when k = 3.
  *
  * Counting compiles: Spark 4.1 keys its generated-class cache by
  * (class loader, source), and in local mode the driver and the
  * executor threads use different loaders, so every distinct
  * whole-stage class compiles twice from byte-identical source. A
  * cold count of two per distinct class is expected, not a leak.
  */
private[tree] object FitInternals {

  /** Per-feature category-cardinality cap. The level pass's width no
    * longer depends on |V| (categorical cells are rows, see
    * `levelAggregate`); the cap bounds the driver-side prefix scoring
    * (|V| − 1 candidates per node and feature, each summing |V| cells)
    * and the size of the IN-lists the fitted tree serves. A
    * higher-cardinality column (url, user id) is a HASH feature, not a
    * categorical split.
    */
  val MaxCategories = 64

  /** Cap on a k-ary fit's distinct labels: its level aggregate carries
    * features × k mass columns; past ~64 classes the label space is an
    * embedding problem, not a tree's.
    */
  val MaxClasses = 64

  /** Column names the level passes add to the working set themselves:
    * the node id, the forests' tree index and explode struct, and
    * every pre-projected aggregate input.
    */
  private val ReservedColumns = Set("node", "t", "e")
  private val PreProjectionPrefix = "__pv_"

  /** Reject fit input columns that would collide with a fit-internal
    * name — as an ambiguous reference deep inside a level pass, or
    * (for `__pv_*`) as a silently reused pre-projection.
    */
  def requireUnreserved(columns: Seq[String]): Unit = columns.foreach { c =>
    require(!ReservedColumns(c) && !c.startsWith(PreProjectionPrefix),
      s"fit input column $c collides with a fit-internal column name " +
        s"(${ReservedColumns.mkString(", ")} or $PreProjectionPrefix*); rename it")
  }

  /** Run `fit` on the projected, right-sized and cached working set of
    * `columns`: a fit scans its input once or twice per level, so the
    * upstream plan runs once instead of every pass. Ensemble learners
    * cache ONE base table this way and fit many trees against filtered
    * views of it.
    */
  def withWorkingSet[A](dataset: DataFrame, columns: Seq[String])(
      fit: DataFrame => A): A = {
    requireUnreserved(columns)
    val work = rightSizeForRepeatedScans(
      dataset.select(columns.distinct.map(col): _*))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try fit(work)
    finally { work.unpersist(blocking = false); () }
  }

  /** Categorical child thresholds compose from per-category sums and
    * weighted thresholds are w-weighted means: a ratio of sums is a
    * MEAN, never a median or midpoint.
    */
  def requireMeanSplitter(params: DecisionTreeParams, categorical: Boolean,
                          weighted: Boolean): Unit = {
    val composes = params.featureColumns.nonEmpty && params.method != MeanSplitter
    require(!(categorical && composes),
      "categorical splits compose child thresholds from per-category " +
        s"sums; use the mean splitter (got ${params.splittingMethod})")
    require(!(weighted && composes),
      "weighted fits use w-weighted mean thresholds; use the mean " +
        s"splitter (got ${params.splittingMethod})")
  }

  /** Weights must be present and strictly positive: zero or negative
    * mass poisons rates and stopping rules silently.
    */
  def requirePositiveWeights(dataset: DataFrame, weightColumn: Option[String]): Unit =
    weightColumn.foreach { c =>
      val w = col(c).cast("double")
      val bad = dataset.agg(
        count(when(w.isNull || w <= 0.0, lit(1)))).collect()(0).getLong(0)
      require(bad == 0L,
        s"weight column $c has $bad NULL/non-positive " +
          "rows; weighted fits require strictly positive weights")
    }

  /** Rows where `c` is NULL, as an aggregate. */
  def nullCount(c: Column): Column = count(when(c.isNull, lit(1)))

  /** Reject a label or target column with NULL rows: a NULL class
    * has no dictionary slot, and counts would include the row while
    * rates and sums skip it.
    */
  def requireNonNullLabel(column: String, nulls: Long): Unit =
    require(nulls == 0L, s"label column $column has $nulls NULL rows; " +
      "fit requires a non-null label or target")

  /** The fit's dictionaries from ONE non-grouped aggregate: with a
    * `classColumn`, its sorted distinct int labels (after rejecting
    * NULL labels, then an empty set or one past MaxClasses), and per
    * categorical feature its sorted distinct values, after rejecting
    * NULL categoricals and then any past MaxCategories. Per-category
    * cells exclude NULL rows while serving routes them right, and the
    * fused forests recompute child stats over routed rows while the
    * sequential paths compose them from cells — fitting on NULLs would
    * count rows the composed stats never saw and break the fused ≡
    * sequential contract. Impute a sentinel category upstream; NULL
    * routes right at serve time only.
    */
  def dictionaries(dataset: DataFrame, classColumn: Option[String],
                   catFeatures: Seq[String]): (Seq[Int], Map[String, Seq[String]]) = {
    val inputs = classColumn.map(c => col(c).cast("int")).toSeq ++
      catFeatures.map(q => col(q).cast("string"))
    if (inputs.isEmpty) return (Seq.empty, Map.empty)
    val aggs = inputs.flatMap(c => Seq(nullCount(c), collect_set(c)))
    val row = dataset.agg(aggs.head, aggs.tail: _*).collect()(0)
    def sorted[A: Ordering](i: Int): Seq[A] = row.getSeq[A](2 * i + 1).sorted
    val classes = classColumn.fold(Seq.empty[Int]) { c =>
      requireNonNullLabel(c, row.getLong(0))
      val cs = sorted[Int](0)
      require(cs.nonEmpty, "empty training set")
      require(cs.size <= MaxClasses,
        s"${cs.size} distinct labels exceed MaxClasses=$MaxClasses")
      cs
    }
    val first = classColumn.size
    catFeatures.zipWithIndex.foreach { case (q, i) =>
      val nulls = row.getLong(2 * (first + i))
      require(nulls == 0L,
        s"categorical feature $q has $nulls NULL rows; " +
          "fit requires non-null categorical columns (impute a " +
          "sentinel category upstream)")
    }
    val dict = catFeatures.zipWithIndex.map { case (q, i) =>
      val vs = sorted[String](first + i)
      require(vs.size <= MaxCategories,
        s"categorical feature $q has ${vs.size} values; " +
          s"MaxCategories=$MaxCategories — hash-encode it instead")
      q -> vs
    }.toMap
    (classes, dict)
  }

  /** A collected aggregate cell as a double; `dflt` for NULL. */
  def numOr(v: Any, dflt: Double): Double =
    if (v == null) dflt else v.asInstanceOf[Number].doubleValue()

  /** Each row's node id under the splits decided so far (numeric `<=`
    * goes left; a categorical IN-set goes left, NULL and unseen
    * categories right). The splits travel as a table in codegen's
    * references, so the level pass's generated code depends only on
    * the `numeric` and `categorical` input lists: one class serves
    * every level, and no node column is persisted.
    */
  def routeExpr(numeric: Seq[String], categorical: Seq[String],
                splits: collection.Map[Long, SplitParams],
                catSplits: collection.Map[Long, (String, Seq[String])]): Column =
    Native.treeRoute(numeric.map(col), categorical.map(col), SplitTable(numeric.size,
      splits.map { case (id, s) => id -> (numeric.indexOf(s.attribute), s.threshold) },
      catSplits.map { case (id, (a, vs)) => id -> (categorical.indexOf(a), vs) }))

  /** The fused forests' per-level input: each row once per tree whose
    * bag holds it, with the tree index `t` and that tree's `node`.
    * Rows outside a tree's bag get node = -1 inside the explode and
    * are dropped after it (cheaper than a filter() HOF allocating a
    * second array per row).
    */
  def forestMemberships(dataset: DataFrame, numTrees: Int,
                        bagFilter: Int => Column, route: Int => Column): DataFrame = {
    val membership = array((0 until numTrees).map { i =>
      struct(lit(i).as("t"),
        when(bagFilter(i), route(i)).otherwise(lit(-1L)).as("node"))
    }: _*)
    dataset
      .select(col("*"), explode(membership).as("e"))
      .select(col("*"), col("e.t").as("t"), col("e.node").as("node"))
      .where(col("node") >= 0)
  }

  /** One level pass, collected: the numeric-side row of each group, and
    * the categorical cells of each (group, categorical feature,
    * category).
    */
  final class LevelRows[K] private[FitInternals] (
      val groups: Map[K, Row], cells: Map[(K, Int, String), Row]) {
    def apply(group: K): Row = groups(group)

    /** Cell aggregate `name` of categorical feature `qi` (its index in
      * the fit's categorical list) at category `v`; NULL when no row of
      * the group holds `v`.
      */
    def cell(group: K, qi: Int, v: String, name: String): Any =
      cells.get((group, qi, v)).map(r => r.get(r.fieldIndex(name))).orNull
  }

  /** The level pass: `aggs` per group of `keys` (`node`, or `t`, `node`)
    * over the `routed` rows, under `pass`'s pre-projection, plus — when
    * the fit has `categorical` features — `cellAggs` per (group,
    * categorical feature, category), collected under the job
    * description `label`.
    *
    * Categorical cells are ROWS, not columns: each routed row becomes
    * one numeric cell plus one cell per categorical feature, and the
    * aggregate groups by (keys, slot, category). Its width is then
    * |aggs| + |cellAggs| whatever the dictionaries hold (why that
    * matters: the `maxFields` cliff in the object's Scaladoc). Only the
    * numeric cell's group is read for `aggs`, so they see each routed
    * row once; the `pass.side` conditions read NULL on the categorical
    * cells to skip work there. The cells' own aggregates also run over
    * the numeric cell, whose values nobody reads. A cell
    * sums the same rows, in the same order, as a per-category
    * `sum(when(q = v, …))` column would, so its values are
    * bit-identical to that column layout's. With no categorical
    * feature the pass is the plain group-by, with no Generate node.
    */
  def levelAggregate[K](routed: DataFrame, keys: Seq[String], pass: PreProjection,
                        aggs: Seq[Column], categorical: Seq[String],
                        cellAggs: => Seq[Column], label: String)(
      key: Row => K): LevelRows[K] = {
    val grouped =
      if (categorical.isEmpty)
        pass.under(routed).groupBy(keys.head, keys.tail: _*).agg(aggs.head, aggs.tail: _*)
      else {
        // before `under`: building the cell aggregates may register
        // pre-projections (and a numeric-only pass never builds them)
        val all = aggs ++ cellAggs
        val sides = pass.sideNames.toSeq
        def slot(i: Int, category: Column, side: String => Column): Column =
          struct(lit(i).as("__pv_slot") +: category.as("__pv_cat") +:
            sides.map(s => side(s).as(s)): _*)
        val slots = slot(0, lit(null).cast("string"), col) +:
          categorical.zipWithIndex.map { case (q, qi) =>
            slot(qi + 1, col(q).cast("string"), _ => lit(null).cast("boolean"))
          }
        pass.under(routed)
          .select(col("*"), explode(array(slots: _*)).as("__pv_cell"))
          .drop(sides: _*)
          .select(col("*"), col("__pv_cell.*"))
          .groupBy(keys.head, keys.tail :+ "__pv_slot" :+ "__pv_cat": _*)
          .agg(all.head, all.tail: _*)
      }
    val rows = graft.JobLabel(routed.sparkSession, label)(grouped.collect())
    val slotAt = keys.size
    val (numeric, cells) =
      rows.partition(r => categorical.isEmpty || r.getInt(slotAt) == 0)
    new LevelRows(numeric.map(r => key(r) -> r).toMap,
      cells.map(r => (key(r), r.getInt(slotAt) - 1, r.getString(slotAt + 1)) -> r).toMap)
  }

  /** Per-row PRE-PROJECTION of one pass's aggregate inputs. Inline, an
    * aggregate update re-evaluates its condition (the per-node
    * threshold CASE, a class-membership test) and its value product
    * (w·y, |y|·g, …) — Catalyst's subexpression elimination cannot
    * hoist them because they sit under conditional branches, so a
    * level pass pays O(aggs · expr-size) CPU per row. A pass instead
    * registers each condition and product ONCE under a `__pv_` name;
    * `under` places the projection beneath the aggregate, whose
    * expressions reference plain attributes. Same IEEE operations over
    * the same rows in the same order, merely factored — every
    * aggregate value is bit-identical (measured 25-30% off a level
    * pass; see OPTIMIZATION_r16.md). One registry per pass: the
    * thresholds differ level to level.
    */
  class PreProjection {
    private val registered = mutable.LinkedHashMap.empty[String, Column]

    /** Register `c` under `name` (first registration wins) and refer
      * to it by name. */
    def apply(name: String, c: => Column): Column = {
      registered.getOrElseUpdate(name, c); col(name)
    }

    /** Register a numeric-side condition (`x <= threshold`, `x >
      * threshold`): `levelAggregate` reads it as NULL on categorical
      * cell rows, so the aggregates it conditions skip those rows
      * instead of computing values nobody reads (12% off a 400k-row,
      * 64-category, three-feature k-ary fit on 4 cores). */
    def side(name: String, c: => Column): Column = {
      sideNames += name; apply(name, c)
    }

    private[FitInternals] val sideNames = mutable.LinkedHashSet.empty[String]

    def under(df: DataFrame): DataFrame =
      if (registered.isEmpty) df
      else df.select(col("*") +:
        registered.map { case (n, c) => c.as(n) }.toSeq: _*)
  }

  /** Weighted-aware aggregate kernels over one pass's pre-projection.
    * With no weight column they are EXACTLY the unweighted expressions
    * (count / avg / thresholdExpr / sum), so unweighted fits stay
    * byte-identical; with one, counts become sum(w) and rates and
    * thresholds w-weighted means (guarded — an all-excluded side
    * reads null, same as avg's). Integer weights ≡ row replication
    * (spec-pinned). `product` names the registered w·v column.
    */
  final class WeightedAggs(weight: Option[Column], method: SplittingMethod)
      extends PreProjection {
    /** Row count, or mass sum(w). */
    def mass(cond: Option[Column]): Column = weight match {
      case None => count(over(cond, lit(1)))
      case Some(w) => sum(over(cond, this("__pv_w", w)))
    }

    /** Mean of `v`, or its w-weighted mean. */
    def rate(cond: Option[Column], v: Column, product: String): Column = weight match {
      case None => avg(over(cond, v))
      case Some(w) =>
        val wp = this("__pv_w", w)
        val wv = this(product, w * v)
        val ws = sum(over(cond, wp))
        when(ws > 0.0, sum(over(cond, wv)) / ws)
    }

    /** The splitting method's threshold, or the w-weighted mean. */
    def threshold(cond: Option[Column], g: Column, product: String): Column =
      weight match {
        case None => method.thresholdExpr(over(cond, g))
        case Some(_) => rate(cond, g, product)
      }

    /** Sum of `v` (w·v when weighted). */
    def sumOf(v: Column, product: String): Column = weight match {
      case None => sum(v)
      case Some(w) => sum(this(product, w * v))
    }

    /** Sum of `v` (w·v when weighted), pre-projected either way. */
    def projectedSum(cond: Option[Column], v: Column, product: String): Column =
      sum(over(cond, this(product, weight.map(_ * v).getOrElse(v))))
  }

  /** `v` on the rows where `cond` holds (NULL elsewhere, which every
    * aggregate skips). */
  def over(cond: Option[Column], v: Column): Column = cond.map(c => when(c, v)).getOrElse(v)

  /** Deterministic argmin of candidate `cost`s — (cost, then `tie`) asc,
    * the same tie-break as Splitting.computeAllSplits (both split
    * metrics seek their minimum). None when there is no candidate.
    */
  def pickBest[A, K: Ordering](xs: Seq[A])(cost: A => Double, tie: A => K): Option[A] =
    if (xs.isEmpty) None else Some(xs.minBy(a => (cost(a), tie(a))))

  /** Fold a tree of heap-numbered splits (root 1, children 2i and
    * 2i + 1) bottom-up: `leaf` at each id with no split. */
  def foldSplits[A](splits: collection.Map[Long, SplitParams],
                    catSplits: collection.Map[Long, (String, Seq[String])])(leaf: Long => A)(
      numeric: (Long, SplitParams, A, A) => A,
      categorical: (Long, String, Seq[String], A, A) => A): A = {
    def go(id: Long): A = splits.get(id) match {
      case Some(s) => numeric(id, s, go(2 * id), go(2 * id + 1))
      case None => catSplits.get(id) match {
        case Some((a, vs)) => categorical(id, a, vs, go(2 * id), go(2 * id + 1))
        case None => leaf(id)
      }
    }
    go(1L)
  }

  /** Aggregate per-stage gain importances, weighted by each stage's
    * raw total gain (r12) — the boosters' cross-stage importance.
    */
  def aggregateImportances(ts: Seq[FittedRegressionTree]): Map[String, Double] = {
    val total = ts.map(_.totalGain).sum
    if (total <= 0.0) Map.empty
    else ts.flatMap(t => t.featureImportances.map {
        case (f, v) => f -> v * t.totalGain })
      .groupMapReduce(_._1)(_._2)(_ + _)
      .map { case (f, g) => f -> g / total }
  }

  /** Safety cap for maxDepth = -1. */
  val MaxLevels = 64

  /** Right-size a fit working set's partitioning for REPEATED scans.
    * The level-wise fit reads its cached working set once per level
    * (plus prediction passes): if the upstream plan yields fewer
    * partitions than the cluster's parallelism — a small file, a
    * single parquet row group, a collapsed shuffle — every one of
    * those scans runs on a fraction of the cores. Pay ONE shuffle up
    * front so each repeated scan uses the full cluster; at corpus
    * scale the source partition count is far above
    * defaultParallelism and this is the identity (it never coalesces
    * — only widens). The partition count is read off the STATIC
    * physical plan (`sparkPlan`, lazy RDD construction) because
    * executing the adaptive plan's RDD would materialize its query
    * stages just to count partitions; if the probe fails for any
    * reason the working set is left as-is.
    */
  private def rightSizeForRepeatedScans(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.queryExecution.sparkPlan.execute().getNumPartitions
      catch { case scala.util.control.NonFatal(_) => par }
    if (parts < par) df.repartition(par) else df
  }

  /** Per-level candidate thresholds keyed on the `node` column: a
    * node-keyed table in codegen's references holding one entry per
    * OPEN node; every other node (a leaf closed at a shallower level)
    * reads NaN, and its group's aggregates are never read.
    */
  def levelThresholdExpr(entries: Seq[(Long, Double)]): Column =
    Native.nodeValue(lit(0), col("node"),
      NodeValueTable(entries.map { case (id, t) => (0, id, t) }))

  /** Forest variant keyed on (`t`, `node`). */
  def levelThresholdExprForest(entries: Seq[(Int, Long, Double)]): Column =
    Native.nodeValue(col("t"), col("node"), NodeValueTable(entries))
}
