package graft.tree

import graft.tree.FitInternals.{WeightedAggs, numOr, over}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** What a level-wise learner aggregates per tree node, and how it scores,
  * stops and labels: the part of a fit that differs between the binary,
  * k-ary and regression learners. [[LevelFit]] is the one level loop
  * that drives it (PLANET's split of a level controller from a per-model
  * node statistic). `S` summarizes a node, or one side of a candidate
  * split. Each aggregate is named; the loop reads it back by name.
  */
private[tree] abstract class NodeStatistic[S] {
  /** A fresh pre-projection for one pass (weighted when the fit is). */
  def pass(): WeightedAggs
  /** A node pass's aggregates ahead of the thresholds, over the rows
    * where `cond` holds. */
  def nodeAggs(pass: WeightedAggs, cond: Option[Column]): Seq[Column]
  /** The label column (name, value) the node pass NULL-checks; None
    * where the dictionary step checks it. */
  def label: Option[(String, Column)]
  def node(row: Row): S
  /** Candidate threshold of numeric feature `g` over rows where `cond`
    * holds: the splitting method's, or the w-weighted mean. */
  def threshold(pass: WeightedAggs, g: String, cond: Option[Column]): Column =
    pass.threshold(cond, col(g).cast("double"), s"__pv_wv_$g")
  /** Numeric feature `f`'s side aggregates, for sides `le` and `gt`. */
  def sideAggs(pass: WeightedAggs, f: String, le: Column, gt: Column): Seq[Column]
  /** Numeric feature `f`'s (left, right) sides from a level row. */
  def sides(row: Row, f: String): (S, S)
  /** Per categorical cell, the aggregates named `cellNames`. */
  def cellAggs(pass: WeightedAggs): Seq[Column]
  def cellNames: Seq[String]
  /** A side from its cells' `cellNames` values, summed. */
  def fromCells(sums: IndexedSeq[Double]): S
  /** Per categorical cell, the sums a categorical split composes its
    * children's numeric thresholds from (`composedThreshold`). */
  def thresholdCellAggs(pass: WeightedAggs, numeric: Seq[String]): Seq[Column] =
    numeric.map(g => pass.sumOf(col(g).cast("double"), s"__pv_wv_$g").as(s"cg_$g"))
  /** A categorical child's threshold of `g`, from `sum(name)` over the
    * side's cells: mean = Σ sums / side mass. */
  def composedThreshold(g: String, side: S, sum: String => Double): Double = {
    val n = count(side)
    if (n == 0.0) Double.NaN else sum(s"cg_$g") / n
  }
  def count(s: S): Double
  /** Breiman's category order: categories sort by this key of their cell. */
  def orderKey(s: S): Double
  /** A candidate's cost; the loop takes the (cost, name) argmin. */
  def cost(parent: S, left: S, right: S): Double
  /** The impurity mass a split at `cost` removes (gain importances). */
  def gain(parent: S, cost: Double): Double = 0.0
  /** Whether the best candidate splits the node at all. */
  def accepts(parent: S, cost: Double): Boolean = true
  /** The stopping gates: split a node of statistic `s` at `depth`? */
  def splits(s: S, depth: Int): Boolean
  def leaf(s: S): Double
  /** The level loop's bound. */
  def maxLevels: Int = FitInternals.MaxLevels
  /** The binary reference rule: in a tree with no categorical feature,
    * degenerate candidates compete in the argmin and a degenerate winner
    * leafs the node (compute_all_splits' fill_nan(0.) + dtree.py:233-234).
    * Otherwise they are dropped first, so a constant or all-null numeric
    * feature cannot suppress a gainful split. */
  def degeneratesCompete: Boolean = false
  /** A node still open at `maxLevels` takes its own (composed) leaf
    * value when true, its nearest ancestor's otherwise. */
  def childLeafAtCap: Boolean = false
  protected def num(row: Row, name: String, dflt: Double): Double =
    numOr(row.get(row.fieldIndex(name)), dflt)
}

/** A binary node: its mass and class-1 rate. `n` is a Double: the
  * weighted fit's node mass is sum(w) (fractional for soft-dedup 1/n
  * weights); unweighted fits hold exact whole numbers (< 2^53). */
private[tree] final case class P1(n: Double, p1: Double)

/** Binary counts (DecisionTree, RandomForest): the reference's
  * unweighted metric(L) + metric(R) objective over class-1 rates, its
  * stopping rule (dtree.py:216-225: pure, below the entropy or count
  * floor, or at max depth; the stopping entropy is always the entropy
  * metric, dtree.py:211-213) and its majority (ties resolve to 1).
  */
private[tree] final class BinaryCounts(params: DecisionTreeParams, weight: Option[String])
    extends NodeStatistic[P1] {
  private val cls = col(params.classColumn).cast("double")
  private val metric = params.metric
  /** The weighted label product's pre-projection name: distinct from
    * every feature product (`__pv_wv_<feature>`). */
  private val LabelProduct = "__pv_wy"

  def pass(): WeightedAggs =
    new WeightedAggs(weight.map(c => col(c).cast("double")), params.method)
  def nodeAggs(pass: WeightedAggs, cond: Option[Column]): Seq[Column] =
    Seq(pass.mass(cond).as("n"), pass.rate(cond, cls, LabelProduct).as("p1"))
  def label: Option[(String, Column)] = Some(params.classColumn -> cls)
  def node(row: Row): P1 = P1(num(row, "n", 0.0), num(row, "p1", Double.NaN))
  def sideAggs(pass: WeightedAggs, f: String, le: Column, gt: Column): Seq[Column] = Seq(
    pass.rate(Some(le), cls, LabelProduct).as(s"lp1_$f"),
    pass.rate(Some(gt), cls, LabelProduct).as(s"rp1_$f"),
    pass.mass(Some(le)).as(s"ln_$f"),
    pass.mass(Some(gt)).as(s"rn_$f"))
  def sides(row: Row, f: String): (P1, P1) =
    (P1(num(row, s"ln_$f", 0.0), num(row, s"lp1_$f", 0.0)),
     P1(num(row, s"rn_$f", 0.0), num(row, s"rp1_$f", 0.0)))
  def cellAggs(pass: WeightedAggs): Seq[Column] =
    Seq(pass.sumOf(cls, LabelProduct).as("cs"), pass.mass(None).as("cn"))
  val cellNames: Seq[String] = Seq("cn", "cs")
  def fromCells(sums: IndexedSeq[Double]): P1 = P1(sums(0), sums(1) / sums(0))
  def count(s: P1): Double = s.n
  def orderKey(s: P1): Double = s.p1
  def cost(parent: P1, left: P1, right: P1): Double = {
    val m = metric.evalFromP1(left.p1) + metric.evalFromP1(right.p1)
    if (m.isNaN) 0.0 else m
  }
  def splits(s: P1, depth: Int): Boolean = {
    val entropy = EntropySplitMetric.evalFromP1(s.p1)
    entropy != 0.0 && entropy >= params.minSplitEntropy &&
      s.n >= params.minSplitSamples && depth != params.maxDepth
  }
  def leaf(s: P1): Double = if (s.p1 >= 0.5) 1.0 else 0.0
  override def degeneratesCompete: Boolean = true
}

/** K-ary class masses (MulticlassDecisionTree, MulticlassRandomForest),
  * one per label of `classes`. The binary stopping gates with the k-ary
  * entropy; the majority is the mass argmax, ties to the LARGER label
  * (the binary p1 >= 0.5 -> 1 direction). Candidates score by the
  * WEIGHTED child impurity (CART's objective), not the reference's
  * unweighted metric(L) + metric(R): at k ≥ 3 two real children's
  * unweighted sum typically exceeds the parent's impurity, so an
  * all-rows-one-side split would always win and the fit collapse to the
  * root majority. Weighted, a degenerate split scores exactly the parent
  * impurity, and any impurity-reducing split beats it.
  */
private[tree] final class ClassMasses(params: DecisionTreeParams, weight: Option[String],
                                      classes: Seq[Int])
    extends NodeStatistic[IndexedSeq[Double]] {
  private type M = IndexedSeq[Double]
  private val cls = col(params.classColumn).cast("int")
  private val metric = params.metric

  def pass(): WeightedAggs =
    new WeightedAggs(weight.map(c => col(c).cast("double")), params.method)
  def nodeAggs(pass: WeightedAggs, cond: Option[Column]): Seq[Column] =
    classes.map(c => pass.mass(Some(cond.fold(cls === c)(_ && cls === c))).as(s"n_$c"))
  def label: Option[(String, Column)] = None
  def node(row: Row): M = classes.map(c => num(row, s"n_$c", 0.0)).toIndexedSeq
  def sideAggs(pass: WeightedAggs, f: String, le: Column, gt: Column): Seq[Column] =
    classes.flatMap { c =>
      val cc = pass(s"__pv_c_$c", cls === c)
      Seq(pass.mass(Some(le && cc)).as(s"lc_${f}__$c"), pass.mass(Some(gt && cc)).as(s"rc_${f}__$c"))
    }
  def sides(row: Row, f: String): (M, M) =
    (classes.map(c => num(row, s"lc_${f}__$c", 0.0)).toIndexedSeq,
     classes.map(c => num(row, s"rc_${f}__$c", 0.0)).toIndexedSeq)
  def cellAggs(pass: WeightedAggs): Seq[Column] =
    classes.map(c => pass.mass(Some(pass(s"__pv_c_$c", cls === c))).as(s"cc_$c"))
  val cellNames: Seq[String] = classes.map(c => s"cc_$c")
  def fromCells(sums: M): M = sums
  def count(s: M): Double = s.sum
  /** The class-`classes.head` rate: Breiman's optimal order at k = 2,
    * the standard heuristic at k ≥ 3. */
  def orderKey(s: M): Double = s.head / s.sum
  def cost(parent: M, left: M, right: M): Double = {
    val m = (left.sum * metric.evalFromMasses(left)
      + right.sum * metric.evalFromMasses(right)) / parent.sum
    if (m.isNaN) 0.0 else m
  }
  override def gain(parent: M, cost: Double): Double =
    parent.sum * (metric.evalFromMasses(parent) - cost)
  def splits(s: M, depth: Int): Boolean = {
    val entropy = EntropySplitMetric.evalFromMasses(s)
    entropy != 0.0 && entropy >= params.minSplitEntropy &&
      s.sum >= params.minSplitSamples && depth != params.maxDepth
  }
  def leaf(s: M): Double = classes.zip(s).maxBy { case (label, n) => (n, label) }._1.toDouble
}

/** A regression node's moments. A side carries its (n, Σy, Σy²); a root
  * node, from avg and var_pop, only its mean and variance. */
private[tree] final case class Moments(n: Double, mean: Double, variance: Double,
                                       sum: Double, sumSq: Double)

private[tree] object Moments {
  /** Mean s/n, variance (q − s²/n)/n clamped at 0: the sum/sumsq form can
    * dip an ULP negative on a constant-target side. */
  def apply(n: Double, s: Double, q: Double): Moments =
    Moments(n, s / n, math.max(0.0, (q - s * s / n) / n), s, q)
}

/** Regression moments (RegressionTree, RegressionRandomForest, and the
  * boosters through RegressionTree): SSE cost, mean leaves, stop on zero
  * variance or too few rows, and a RELATIVE gain floor — at large target
  * magnitudes fp noise in the sum/sumsq aggregates exceeds any absolute
  * epsilon, producing "splits" whose children share one mean.
  *
  * Thresholds are the side's feature mean: they depend on features only,
  * so repeated fits over the same rows explore one fixed lattice (what
  * makes the fit SQL-oracle-able from rendered constants). With
  * `gradientWeighted` (boosting stages, where the target IS the current
  * residual) they are the |y|-weighted feature mean, on top of any
  * sample weight: thresholds concentrate where the ensemble is currently
  * wrong (LightGBM GOSS's large-gradient focus as a threshold choice
  * instead of a sampling step), falling back to the plain mean when the
  * side's residuals are all zero. The division is guarded: a zero weight
  * sum would throw under ANSI mode, not yield null.
  */
private[tree] final class RegressionMoments(
    target: String, maxDepth: Int, minSplitSamples: Long, minVarianceReduction: Double,
    gradientWeighted: Boolean, weight: Option[String])
    extends NodeStatistic[Moments] {
  private val y = col(target).cast("double")
  private val w = weight.map(c => col(c).cast("double"))
  private def weff: Column = w.map(_ * abs(y)).getOrElse(abs(y))

  def pass(): WeightedAggs = new WeightedAggs(w, MeanSplitter)
  def nodeAggs(pass: WeightedAggs, cond: Option[Column]): Seq[Column] = {
    val n = pass.mass(cond)
    w match {
      case None =>
        Seq(n.cast("double").as("n"), avg(over(cond, y)).as("mean"), var_pop(over(cond, y)).as("v"))
      case Some(w0) =>
        val m = sum(over(cond, pass("__pv_v_y", w0 * y))) / n
        Seq(n.as("n"), m.as("mean"), greatest(lit(0.0),
          sum(over(cond, pass("__pv_v_yy", w0 * y * y))) / n - m * m).as("v"))
    }
  }
  def label: Option[(String, Column)] = Some(target -> y)
  def node(row: Row): Moments = Moments(num(row, "n", 0.0), num(row, "mean", Double.NaN),
    num(row, "v", 0.0), Double.NaN, Double.NaN)
  override def threshold(pass: WeightedAggs, g: String, cond: Option[Column]): Column = {
    val gc = col(g).cast("double")
    if (!gradientWeighted) pass.rate(cond, gc, s"__pv_wg_$g")
    else {
      val wp = pass("__pv_weff", weff)
      val wg = pass(s"__pv_weffg_$g", weff * gc)
      val ws = sum(over(cond, wp))
      val fallback = w match {
        case None => avg(over(cond, gc))
        case Some(w0) =>
          sum(over(cond, pass(s"__pv_wg_$g", w0 * gc))) / sum(over(cond, pass("__pv_w", w0)))
      }
      when(ws > 0.0, sum(over(cond, wg)) / ws).otherwise(fallback)
    }
  }
  def sideAggs(pass: WeightedAggs, f: String, le: Column, gt: Column): Seq[Column] = Seq(
    pass.projectedSum(Some(le), y, "__pv_v_y").as(s"ls_$f"),
    pass.projectedSum(Some(le), y * y, "__pv_v_yy").as(s"lq_$f"),
    pass.mass(Some(le)).as(s"ln_$f"),
    pass.projectedSum(Some(gt), y, "__pv_v_y").as(s"rs_$f"),
    pass.projectedSum(Some(gt), y * y, "__pv_v_yy").as(s"rq_$f"),
    pass.mass(Some(gt)).as(s"rn_$f"))
  def sides(row: Row, f: String): (Moments, Moments) = {
    def side(s: String) =
      Moments(num(row, s"${s}n_$f", 0.0), num(row, s"${s}s_$f", 0.0), num(row, s"${s}q_$f", 0.0))
    (side("l"), side("r"))
  }
  def cellAggs(pass: WeightedAggs): Seq[Column] = Seq(
    pass.projectedSum(None, y, "__pv_v_y").as("cy"),
    pass.projectedSum(None, y * y, "__pv_v_yy").as("cyy"),
    pass.mass(None).as("cn"))
  val cellNames: Seq[String] = Seq("cn", "cy", "cyy")
  def fromCells(sums: IndexedSeq[Double]): Moments = Moments(sums(0), sums(1), sums(2))
  /** Gradient mode adds Σ|y|·g per feature and Σ|y|. */
  override def thresholdCellAggs(pass: WeightedAggs, numeric: Seq[String]): Seq[Column] =
    numeric.flatMap { g =>
      val gc = col(g).cast("double")
      pass.projectedSum(None, gc, s"__pv_v_g_$g").as(s"cg_$g") +:
        (if (!gradientWeighted) Seq.empty
         else Seq(sum(pass(s"__pv_weffg_$g", weff * gc)).as(s"cwg_$g")))
    } ++ (if (!gradientWeighted) Seq.empty else Seq(sum(pass("__pv_weff", weff)).as("cw")))
  override def composedThreshold(g: String, side: Moments, sum: String => Double): Double = {
    val plain = super.composedThreshold(g, side, sum)
    if (!gradientWeighted) plain
    else {
      val ws = sum("cw")
      if (ws > 0.0) sum(s"cwg_$g") / ws else plain
    }
  }
  def count(s: Moments): Double = s.n
  /** Target mean: Breiman's optimal order for binary partitions under
    * squared loss. */
  def orderKey(s: Moments): Double = s.mean
  /** n·Var = Σy² − (Σy)²/n per side; 0 for an empty side. */
  def cost(parent: Moments, left: Moments, right: Moments): Double = {
    def sse(s: Moments) = if (s.n == 0.0) 0.0 else s.sumSq - s.sum * s.sum / s.n
    sse(left) + sse(right)
  }
  override def gain(parent: Moments, cost: Double): Double = parent.variance * parent.n - cost
  override def accepts(parent: Moments, cost: Double): Boolean = {
    val parentCost = parent.variance * parent.n
    !(parentCost - cost < math.max(minVarianceReduction, 1e-9 * parentCost))
  }
  def splits(s: Moments, depth: Int): Boolean = s.variance > 0.0 && s.n >= minSplitSamples
  def leaf(s: Moments): Double = s.mean
  override def maxLevels: Int = maxDepth
  override def childLeafAtCap: Boolean = true
}
