package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Regression-tree node: mean-valued leaves. Shares the codegen
  * philosophy of the classifier (TreeNode.scala): the fitted tree is
  * ONE nested `when` expression.
  */
sealed trait RegTreeNode {
  def predictionExpr: Column

  /** The tree as portable SQL (leaf literals cast to DOUBLE so engines
    * whose bare numeric literals are DECIMAL — DuckDB — keep double
    * arithmetic). Lets any engine serve the fitted model, and lets the
    * correctness harness regenerate the oracle from the model fitted
    * AT THE GATE SCALE FACTOR instead of pinning one SF's constants.
    */
  def caseSql: String
}
final case class RegLeaf(value: Double) extends RegTreeNode {
  def predictionExpr: Column = lit(value)
  def caseSql: String = s"($value)::DOUBLE"
}
final case class RegSplit(attribute: String, threshold: Double,
                          left: RegTreeNode, right: RegTreeNode) extends RegTreeNode {
  def predictionExpr: Column =
    when(col(attribute) <= lit(threshold), left.predictionExpr)
      .otherwise(right.predictionExpr)
  def caseSql: String =
    s"(CASE WHEN $attribute <= $threshold THEN ${left.caseSql} ELSE ${right.caseSql} END)"
}

/** Categorical IN-set split for regression trees (r12) — the
  * [[CatDecisionNode]] shape with mean-valued children: the column is
  * cast to string on both sides (fit dictionaries are strings), NULL
  * and unseen categories route RIGHT in both engines.
  */
final case class RegCatSplit(attribute: String, values: Seq[String],
                             left: RegTreeNode, right: RegTreeNode) extends RegTreeNode {
  def predictionExpr: Column =
    when(col(attribute).cast("string").isin(values: _*), left.predictionExpr)
      .otherwise(right.predictionExpr)
  private def sqlQuote(v: String): String = "'" + v.replace("'", "''") + "'"
  def caseSql: String =
    s"(CASE WHEN CAST($attribute AS STRING) IN " +
      s"${values.map(sqlQuote).mkString("(", ", ", ")")}" +
      s" THEN ${left.caseSql} ELSE ${right.caseSql} END)"
}

final class FittedRegressionTree(val root: RegTreeNode,
    /** Gain-based feature importances (r12): each feature's share of
      * the fit's total SSE decrease (categorical columns included);
      * empty for a single-leaf tree or a JSON-reloaded model. */
    val featureImportances: Map[String, Double] = Map.empty,
    /** The fit's total SSE decrease — the raw mass behind
      * `featureImportances` (boosters weight stage importances by
      * this when aggregating). */
    val totalGain: Double = 0.0) {
  def transform(df: DataFrame): DataFrame =
    df.withColumn("prediction", root.predictionExpr)

  /** Portable SQL of the fitted tree (cf. RegTreeNode.caseSql). */
  def caseSql: String = root.caseSql
}

/** JSON serde for regression-tree nodes (r12) — the [[TreeNode]]
  * nested-dict conventions with DOUBLE leaves: decision nodes keyed
  * `"attr <= t"` / `"attr > t"`, categorical nodes
  * `"attr IN <json list>"` / `"attr NOT IN …"`, leaves
  * `{"value": v}`. Completes the train-once/serve-anywhere lifecycle
  * for the regression family (boosters/forests serialize as arrays
  * of these).
  */
object RegTreeNode {
  import org.json4s._

  def toJValue(n: RegTreeNode): JValue = n match {
    case RegLeaf(v) => JObject("value" -> JDouble(v))
    case RegSplit(a, t, l, r) =>
      JObject(s"$a <= $t" -> toJValue(l), s"$a > $t" -> toJValue(r))
    case RegCatSplit(a, vs, l, r) =>
      import org.json4s.jackson.JsonMethods
      val arr = JsonMethods.compact(JsonMethods.render(JArray(
        vs.toList.map(JString(_)))))
      JObject(s"$a IN $arr" -> toJValue(l), s"$a NOT IN $arr" -> toJValue(r))
  }

  def fromJValue(j: JValue): RegTreeNode = j match {
    case JObject(fields) =>
      val lt = fields.find(_._1.contains("<="))
      val in = fields.find(f => f._1.contains(" IN ") && !f._1.contains(" NOT IN "))
      // IN-shape keys dispatch FIRST — a category value containing
      // "<=" would otherwise be mis-read as a numeric split key
      // (r12 advice; same rule as TreeNode.fromJValue).
      (in, lt) match {
        case (Some((inKey, lv)), _) =>
          import org.json4s.jackson.JsonMethods
          val sep = inKey.indexOf(" IN ")
          val attr = inKey.substring(0, sep)
          val values = JsonMethods.parse(inKey.substring(sep + 4)) match {
            case JArray(vs) => vs.map {
              case JString(s) => s
              case other => throw new IllegalArgumentException(s"bad category: $other")
            }
            case other => throw new IllegalArgumentException(s"bad IN list: $other")
          }
          val rv = fields.find(_._1.contains(" NOT IN "))
            .getOrElse(throw new IllegalArgumentException(s"no NOT IN branch: $fields"))._2
          RegCatSplit(attr, values, fromJValue(lv), fromJValue(rv))
        case (_, Some((ltKey, lv))) =>
          val Array(attr, thresh) = ltKey.split("<=").map(_.trim)
          val rv = fields.find(f => f._1.contains(">") && !f._1.contains("<="))
            .getOrElse(throw new IllegalArgumentException(s"no > branch: $fields"))._2
          RegSplit(attr, thresh.toDouble, fromJValue(lv), fromJValue(rv))
        case _ => fields match {
          case ("value", v) :: Nil => RegLeaf(v match {
            case JDouble(d) => d
            case JInt(i) => i.toDouble
            case JDecimal(d) => d.toDouble
            case JLong(l) => l.toDouble
            case other => throw new IllegalArgumentException(s"bad leaf: $other")
          })
          case other => throw new IllegalArgumentException(s"bad leaf dict: $other")
        }
      }
    case other => throw new IllegalArgumentException(s"bad tree json: $other")
  }
}

/** Distributed regression tree: variance-reduction splits, mean
  * leaves. Same level-wise machinery as the classifier
  * (DecisionTree.scala): per level, one aggregate pass computes each
  * open node's count/mean/threshold, a second computes per-(node,
  * feature) left/right sum, sum-of-squares and count — from which the
  * weighted variance of every candidate split falls out without
  * another scan. Driver state stays O(nodes × features).
  *
  * `categoricalColumns` (r12) adds Breiman IN-set splits, the exact
  * L2 analogue of the k-ary learner's machinery
  * (MulticlassDecisionTree): the fused aggregate carries per-(node,
  * category) target sum/sumsq/count cells, categories are ordered by
  * their TARGET MEAN (Breiman 1984's provably optimal ordering for
  * binary partitions under squared loss), and every prefix boundary
  * of that order is scored driver-side by the same weighted-variance
  * cost as the numeric candidates — |V|−1 candidates from |V| cells,
  * never 2^|V|. A chosen set's child numeric thresholds compose from
  * per-category feature sums (mean = Σ sums / n; in gradient-weighted
  * mode from per-category |y|-weighted sums), so children still need
  * no stats pass of their own. This is what lets the BOOSTERS — which
  * fit a RegressionTree per stage — take lang/source/domain columns
  * directly.
  */
class RegressionTree(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val maxDepth: Int = 5,
    val minSplitSamples: Long = 2L,
    val minVarianceReduction: Double = 1e-12,
    val gradientWeightedThresholds: Boolean = false,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None) {
  import FitInternals.numOr

  private case class NodeStats(count: Double, mean: Double, variance: Double,
                               thresholds: Map[String, Double])

  def fit(dataset: DataFrame): FittedRegressionTree =
    FitInternals.withWorkingSet(dataset, featureColumns ++ categoricalColumns ++
      weightColumn :+ targetColumn)(fitOn(_)._1)

  /** Fit on an already-prepared working set (cf. DecisionTree.fitCached). */
  private[tree] def fitCached(dataset: DataFrame): FittedRegressionTree =
    fitOn(dataset)._1

  /** Fit with caller-supplied aggregates FUSED into the root-stats
    * pass (r17, guide §1.2 "don't compute things twice" / §2.3
    * "aggregate before you shuffle"): the early-stopped boosters used
    * to pay one dedicated held-out-loss SCAN per stage on top of the
    * fit's own root pass — but a filtered aggregate
    * (`df.filter(c).agg(e)`) reads exactly the rows a conditional
    * aggregate (`df.agg(f(when(c, …)))`) reads, in the same order, so
    * the loss rides the NEXT stage's root pass for free and the
    * dedicated scan disappears. `trainCond` restricts the fit itself
    * (root stats conditioned, level passes filtered — the same rows,
    * in the same order, the caller's own pre-filter produced, so the
    * fitted tree is bit-identical); `extraRootAggs` are evaluated
    * UNconditioned over the full frame (callers bake their own
    * `when(…)` in) and their values return positionally.
    */
  private[tree] def fitCachedWithRootExtras(
      dataset: DataFrame, trainCond: Option[Column],
      extraRootAggs: Seq[Column]): (FittedRegressionTree, Seq[Any]) =
    fitOn(dataset, trainCond, extraRootAggs)

  private def fitOn(dataset: DataFrame,
                    trainCond: Option[Column] = None,
                    extraRootAggs: Seq[Column] = Nil)
      : (FittedRegressionTree, Seq[Any]) = {
    // the fit's own rows: every pass below this line reads exactly the
    // rows the caller's pre-filtered frame would have held
    val train = trainCond.map(dataset.filter).getOrElse(dataset)
    // root-pass conditioning: count/avg/var_pop/sum all ignore the
    // NULL a non-matching `when` yields, so each conditional aggregate
    // sees the same contributing rows in the same scan order as the
    // filtered form — bit-identical values
    def rc(e: Column): Column = trainCond.map(c => when(c, e)).getOrElse(e)
    val y = col(targetColumn).cast("double")
    val catFeatures = categoricalColumns
    // WEIGHTED fit (r12): counts become sum(w), target sums w-scaled,
    // thresholds w-weighted means (FitInternals.WeightedAggs)
    val wcol = weightColumn.map(c => col(c).cast("double"))
    FitInternals.requirePositiveWeights(train, weightColumn)
    val splits = mutable.Map.empty[Long, SplitParams]
    val catSplits = mutable.Map.empty[Long, (String, Seq[String])]
    val leaves = mutable.Map.empty[Long, Double]
    val means = mutable.Map.empty[Long, Double]
    // per-feature total SSE decrease (gain-based importance, r12)
    val gains = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val catDict = FitInternals.dictionaries(train, None, catFeatures)._2

    var open: Seq[Long] = Seq(1L)
    var depth = 0

    // Candidate-threshold aggregate for feature g over the rows where
    // `cond` holds. Plain mode: the side's feature mean — thresholds
    // depend on FEATURES ONLY, so repeated fits over the same rows
    // explore one fixed lattice (fine for a standalone tree; it is
    // what makes the fit SQL-oracle-able from rendered constants).
    // Gradient-weighted mode (boosting stages, where y IS the current
    // residual): the |y|-weighted feature mean — thresholds
    // concentrate where the ensemble is currently WRONG, so each
    // stage can refine the partition instead of re-deriving it (the
    // large-gradient focus of LightGBM's GOSS, as a threshold choice
    // instead of a sampling step). Falls back to the plain mean when
    // the side's residuals are all zero; the division is guarded (a
    // zero weight sum would THROW under ANSI mode, not yield null).
    def thrAggOver(pass: FitInternals.WeightedAggs, g: String,
                   cond: Option[Column], name: String): Column = {
      val gc = col(g).cast("double")
      def over(e: Column): Column = cond.map(c => when(c, e)).getOrElse(e)
      if (!gradientWeightedThresholds) {
        pass.rate(cond, gc, s"__pv_wg_$g").as(name)
      } else {
        // gradient focus stacks ON TOP of sample weights: the
        // effective threshold weight is w·|residual|
        val wp = pass("__pv_weff", wcol.map(_ * abs(y)).getOrElse(abs(y)))
        val wg = pass(s"__pv_weffg_$g",
          wcol.map(_ * abs(y)).getOrElse(abs(y)) * gc)
        val ws = sum(over(wp))
        val fallback = wcol match {
          case None => avg(over(gc))
          case Some(w0) =>
            sum(over(pass(s"__pv_wg_$g", w0 * gc))) / sum(over(pass("__pv_w", w0)))
        }
        when(ws > 0.0, sum(over(wg)) / ws)
          .otherwise(fallback).as(name)
      }
    }

    // ROOT stats — the only dedicated stats pass (cf.
    // DecisionTree.fitOn): each deeper node's (count, mean, variance,
    // thresholds) are computed inside its parent's fused split
    // aggregate, so a fit of depth d runs d+1 jobs instead of 2d.
    val rootPass = new FitInternals.WeightedAggs(wcol, MeanSplitter)
    val rootAggs = (wcol match {
      case None => Seq(
        count(rc(lit(1))).cast("double").as("n"), avg(rc(y)).as("mean"),
        var_pop(rc(y)).as("v"))
      case Some(w) =>
        // weighted moments from sums: mean = Σwy/Σw, var clamped at 0
        val ws = sum(rc(rootPass("__pv_w", w)))
        val m = sum(rc(rootPass("__pv_v_y", w * y))) / ws
        Seq(ws.as("n"), m.as("mean"),
          greatest(lit(0.0),
            sum(rc(rootPass("__pv_v_yy", w * y * y))) / ws - m * m).as("v"))
    }) ++ featureColumns.map(f => thrAggOver(rootPass, f, trainCond, s"thr_$f")) ++
      (count(rc(when(y.isNull, lit(1)))).as("nulls") +: extraRootAggs)
    // the root pass runs over the FULL frame (trainCond rides inside
    // each aggregate) so the caller's extra aggregates can see every
    // row — the fit's own stats are unchanged (see rc())
    val rootRow = rootPass.under(dataset).agg(rootAggs.head, rootAggs.tail: _*).collect()(0)
    FitInternals.requireNonNullLabel(targetColumn, rootRow.getLong(3 + featureColumns.size))
    val extraValues: Seq[Any] = extraRootAggs.indices
      .map(i => rootRow.get(4 + featureColumns.size + i))
    var openStats: Map[Long, NodeStats] =
      if (numOr(rootRow.get(0), 0.0) == 0.0) Map.empty
      else Map(1L -> NodeStats(rootRow.getDouble(0), rootRow.getDouble(1),
        if (rootRow.isNullAt(2)) 0.0 else rootRow.getDouble(2),
        featureColumns.zipWithIndex.map { case (f, i) =>
          f -> numOr(rootRow.get(3 + i), Double.NaN)
        }.toMap))

    while (open.nonEmpty && depth < maxDepth) {
      val present = open.flatMap(id => openStats.get(id).map(id -> _))
      present.foreach { case (id, st) => means(id) = st.mean }
      val (toSplit, toLeaf) = present.partition { case (_, st) =>
        st.variance > 0.0 && st.count >= minSplitSamples
      }
      toLeaf.foreach { case (id, st) => leaves(id) = st.mean }
      open.filterNot(openStats.contains).foreach(id => leaves(id) = 0.0)

      if (toSplit.nonEmpty) {
        // per-node threshold dispatch (see FitInternals.levelThresholdExpr)
        def thrExpr(f: String): Column =
          FitInternals.levelThresholdExpr(
            toSplit.map { case (id, st) => id -> st.thresholds(f) })
        // fresh pre-projection per level: the side booleans are
        // computed once per row instead of inside every aggregate
        val pass = new FitInternals.WeightedAggs(wcol, MeanSplitter)
        val splitAggs = featureColumns.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pass(s"__pv_le_$f", fc <= thrExpr(f))
          val gt = pass(s"__pv_gt_$f", fc > thrExpr(f))
          Seq(
            pass.projectedSum(Some(le), y, "__pv_v_y").as(s"ls_$f"),
            pass.projectedSum(Some(le), y * y, "__pv_v_yy").as(s"lq_$f"),
            pass.mass(Some(le)).as(s"ln_$f"),
            pass.projectedSum(Some(gt), y, "__pv_v_y").as(s"rs_$f"),
            pass.projectedSum(Some(gt), y * y, "__pv_v_yy").as(s"rq_$f"),
            pass.mass(Some(gt)).as(s"rn_$f")) ++
          featureColumns.flatMap { g =>
            Seq(
              thrAggOver(pass, g, Some(le), s"cthl_${f}__$g"),
              thrAggOver(pass, g, Some(gt), s"cthr_${f}__$g"))
          }
        }
        // categorical cells, fused into the SAME aggregate (the k-ary
        // learner's layout, L2 flavor): per (feature, category) the
        // target sum/sumsq/count — every prefix split of the
        // mean-ordered categories scores from these, driver-side —
        // plus, per numeric feature, the sums a chosen set composes
        // its child thresholds from (plain Σg; gradient mode also
        // Σ|y| and Σ|y|·g for the |residual|-weighted mean).
        val catAggs = catFeatures.zipWithIndex.flatMap { case (q, qi) =>
          val qc = col(q).cast("string")
          catDict(q).zipWithIndex.flatMap { case (v, vi) =>
            val in = pass(s"__pv_in_${qi}_$vi", qc === v)
            val weff = pass("__pv_weff", wcol.map(_ * abs(y)).getOrElse(abs(y)))
            Seq(
              pass.projectedSum(Some(in), y, "__pv_v_y").as(s"qs_${qi}_$vi"),
              pass.projectedSum(Some(in), y * y, "__pv_v_yy").as(s"qq_${qi}_$vi"),
              pass.mass(Some(in)).as(s"qn_${qi}_$vi")) ++
            featureColumns.flatMap { g =>
              val gc = col(g).cast("double")
              pass.projectedSum(Some(in), gc, s"__pv_v_g_$g").as(s"qg_${qi}_${vi}_$g") +:
                (if (!gradientWeightedThresholds) Seq.empty
                 else Seq(sum(when(in, pass(s"__pv_weffg_$g",
                     wcol.map(_ * abs(y)).getOrElse(abs(y)) * gc)))
                   .as(s"qwg_${qi}_${vi}_$g")))
            } ++
            (if (!gradientWeightedThresholds) Seq.empty
             else Seq(sum(when(in, weff)).as(s"qw_${qi}_$vi")))
          }
        }
        val allAggs = splitAggs ++ catAggs
        val rows = pass.under(train.select(col("*"),
          FitInternals.routeExpr(featureColumns, catFeatures, splits, catSplits).as("node")))
          .groupBy("node").agg(allAggs.head, allAggs.tail: _*)
          .collect().map(r => r.getLong(0) -> r).toMap

        val nextOpen = mutable.Buffer.empty[Long]
        val nextStats = Map.newBuilder[Long, NodeStats]
        toSplit.foreach { case (id, st) =>
          val row = rows(id)
          def cellD(nm: String): Double = row.getDouble(row.fieldIndex(nm))
          def cellN(nm: String): Double =
            numOr(row.get(row.fieldIndex(nm)), 0.0)
          def cell(nm: String): Any = row.get(row.fieldIndex(nm))
          // weighted variance of a side from (sum, sumsq, n):
          // n·Var = sumsq − sum²/n  (0 for empty side)
          def sideCost(s: Double, q: Double, n: Double): Double = q - s * s / n
          // unified candidate: a numeric threshold (Left) or a
          // categorical left-set (Right); one weighted-variance
          // objective, one (cost, name) tie-break. Each side's
          // (sum, sumsq, n) rides along so the winner's child stats
          // need no second pass.
          case class Cand(name: String, choice: Either[Double, Seq[String]],
                          ln: Double, rn: Double, ls: Double, lq: Double,
                          rs: Double, rq: Double, cost: Double,
                          degenerate: Boolean)
          val scoredNumeric = featureColumns.sorted.map { f =>
            val ln = cellN(s"ln_$f"); val rn = cellN(s"rn_$f")
            val ls = if (ln == 0.0) 0.0 else cellD(s"ls_$f")
            val lq = if (ln == 0.0) 0.0 else cellD(s"lq_$f")
            val rs = if (rn == 0.0) 0.0 else cellD(s"rs_$f")
            val rq = if (rn == 0.0) 0.0 else cellD(s"rq_$f")
            val cost = (if (ln == 0.0) 0.0 else sideCost(ls, lq, ln)) +
              (if (rn == 0.0) 0.0 else sideCost(rs, rq, rn))
            Cand(f, Left(st.thresholds(f)), ln, rn, ls, lq, rs, rq, cost,
              degenerate =
                math.min(ln, rn) == 0.0 || st.thresholds(f).isNaN)
          }
          // categorical: Breiman target-MEAN ordering (provably
          // optimal for binary partitions under squared loss), then
          // every PREFIX boundary scored from the |V| cells
          val scoredCats = catFeatures.zipWithIndex.flatMap { case (q, qi) =>
            val perCat = catDict(q).zipWithIndex.map { case (v, vi) =>
              (v, cellN(s"qn_${qi}_$vi"),
                numOr(cell(s"qs_${qi}_$vi"), 0.0),
                numOr(cell(s"qq_${qi}_$vi"), 0.0))
            }.filter(_._2 > 0.0)
            if (perCat.size < 2) None
            else {
              val ordered = perCat.sortBy { case (v, n, s, _) => (s / n, v) }
              val bounds = (1 until ordered.size).map { b =>
                val (lf, rt) = ordered.splitAt(b)
                val ln = lf.map(_._2).sum; val rn = rt.map(_._2).sum
                val ls = lf.map(_._3).sum; val rs = rt.map(_._3).sum
                val lq = lf.map(_._4).sum; val rq = rt.map(_._4).sum
                (lf.map(_._1), ln, rn, ls, lq, rs, rq,
                  sideCost(ls, lq, ln) + sideCost(rs, rq, rn), b)
              }
              val bb = bounds.minBy(t => (t._8, t._9))
              Some(Cand(q, Right(bb._1), bb._2, bb._3, bb._4, bb._5,
                bb._6, bb._7, bb._8, degenerate = false))
            }
          }
          // degenerate candidates (NaN threshold from an all-null
          // feature scores 0.0; an empty side scores parent cost)
          // must not COMPETE in the argmin — a winning degenerate
          // would force a leaf and mask candidates with genuine gain
          // (the r11-advice pattern, k-ary learners); leaf only when
          // none survive or the gain floor fails.
          val cands = (scoredNumeric ++ scoredCats).filterNot(_.degenerate)
            .sortBy(_.name)
          val parentCost = st.variance * st.count
          // relative floor: at large target magnitudes, fp noise in the
          // sum/sumsq aggregates easily exceeds any absolute epsilon,
          // producing "splits" whose children share one mean
          val best = if (cands.isEmpty) None else {
            val c = cands.minBy(c => (c.cost, c.name))
            if (parentCost - c.cost <
                math.max(minVarianceReduction, 1e-9 * parentCost)) None
            else Some(c)
          }
          best match {
            case None => leaves(id) = st.mean
            case Some(c) =>
              gains(c.name) += parentCost - c.cost
              // child stats from the SAME row: mean = s/n, variance =
              // (q − s²/n)/n clamped at 0 (the sum/sumsq form can dip
              // an ULP negative on a constant-target side; the
              // relative floor above already guards the decision)
              // child numeric thresholds: numeric winner reads the
              // conditional cthl_/cthr_ cells; categorical winner
              // COMPOSES them from per-category sums (plain: Σg/n;
              // gradient mode: Σ|y|g/Σ|y|, plain fallback at Σ|y|=0)
              val (thrL, thrR) = c.choice match {
                case Left(bt) =>
                  splits(id) = SplitParams(c.name, bt)
                  (featureColumns.map(g => g ->
                     numOr(cell(s"cthl_${c.name}__$g"), Double.NaN)).toMap,
                   featureColumns.map(g => g ->
                     numOr(cell(s"cthr_${c.name}__$g"), Double.NaN)).toMap)
                case Right(leftSet) =>
                  catSplits(id) = (c.name, leftSet)
                  val qi = catFeatures.indexOf(c.name)
                  val inLeft = leftSet.toSet
                  val sideIdx = catDict(c.name).zipWithIndex
                  def composed(left: Boolean, n: Double): Map[String, Double] =
                    featureColumns.map { g =>
                      val cells = sideIdx.filter { case (v, _) =>
                        inLeft(v) == left }
                      def sumOf(pfx: String, perG: Boolean): Double =
                        cells.map { case (_, vi) =>
                          numOr(cell(
                            if (perG) s"${pfx}_${qi}_${vi}_$g"
                            else s"${pfx}_${qi}_$vi"), 0.0)
                        }.sum
                      val plain =
                        if (n == 0.0) Double.NaN else sumOf("qg", perG = true) / n
                      g -> (if (!gradientWeightedThresholds) plain
                            else {
                              val w = sumOf("qw", perG = false)
                              if (w > 0.0) sumOf("qwg", perG = true) / w
                              else plain
                            })
                    }.toMap
                  (composed(left = true, c.ln), composed(left = false, c.rn))
              }
              def childStats(n: Double, s: Double, q: Double,
                             thr: Map[String, Double]): NodeStats =
                NodeStats(n, s / n, math.max(0.0, (q - s * s / n) / n), thr)
              nextStats += (2 * id) -> childStats(c.ln, c.ls, c.lq, thrL)
              nextStats += (2 * id + 1) -> childStats(c.rn, c.rs, c.rq, thrR)
              nextOpen += 2 * id
              nextOpen += 2 * id + 1
          }
        }
        open = nextOpen.toSeq
        openStats = nextStats.result()
      } else open = Seq.empty
      depth += 1
    }
    // nodes still open at the depth cap: children created by the
    // FINAL level of splits never re-enter the loop, but their stats
    // were composed inside their parent's pass — use them (r12 fix: a
    // fallback that read the nearest ANCESTOR's mean made every
    // last-level split vacuous, both children repeating the parent's
    // prediction; measured as the composed-child-threshold spec's
    // identical-leaf render)
    open.foreach(id => leaves(id) =
      openStats.get(id).map(_.mean).getOrElse(means.getOrElse(id, {
        var cur = id
        while (cur >= 1 && !means.contains(cur)) cur /= 2
        means.getOrElse(cur, 0.0)
      })))

    def build(id: Long): RegTreeNode = splits.get(id) match {
      case Some(s) => RegSplit(s.attribute, s.threshold, build(2 * id), build(2 * id + 1))
      case None => catSplits.get(id) match {
        case Some((a, vs)) => RegCatSplit(a, vs, build(2 * id), build(2 * id + 1))
        case None => RegLeaf(leaves.getOrElse(id, means.getOrElse(id, 0.0)))
      }
    }
    // normalized gain importances (total SSE decrease per feature)
    val totalGain = gains.values.sum
    val importances =
      if (totalGain <= 0.0) Map.empty[String, Double]
      else gains.map { case (f, g) => f -> g / totalGain }.toMap
    (new FittedRegressionTree(build(1L), importances, math.max(totalGain, 0.0)),
      extraValues)
  }
}
