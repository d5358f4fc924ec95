package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
    ColumnRender.numeric(attribute, threshold, left.predictionExpr, right.predictionExpr)
  def caseSql: String = SqlRender.numeric(attribute, threshold, left.caseSql, right.caseSql)
}

/** Categorical IN-set split for regression trees (r12) — the
  * [[CatDecisionNode]] shape with mean-valued children: the column is
  * cast to string on both sides (fit dictionaries are strings), NULL
  * and unseen categories route RIGHT in both engines.
  */
final case class RegCatSplit(attribute: String, values: Seq[String],
                             left: RegTreeNode, right: RegTreeNode) extends RegTreeNode {
  def predictionExpr: Column =
    ColumnRender.categorical(attribute, values, left.predictionExpr, right.predictionExpr)
  def caseSql: String = SqlRender.categorical(attribute, values, left.caseSql, right.caseSql)
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
          case ("value", v) :: Nil => RegLeaf(TreeNode.jDouble(v))
          case other => throw new IllegalArgumentException(s"bad leaf dict: $other")
        }
      }
    case other => throw new IllegalArgumentException(s"bad tree json: $other")
  }
}

/** Distributed regression tree: variance-reduction splits, mean
  * leaves — [[LevelFit]] with the [[RegressionMoments]] statistic. A
  * root pass, then per level ONE fused aggregate of per-(node, feature)
  * left/right sum, sum-of-squares and mass, from which the SSE of every
  * candidate split falls out without another scan, plus every feature's
  * would-be child threshold. Fit state stays O(nodes × features).
  * Nodes still open at `maxDepth` take their own composed means (a
  * fallback to the nearest ANCESTOR's mean made every last-level split
  * vacuous, both children repeating the parent's prediction).
  *
  * `categoricalColumns` (r12) adds Breiman IN-set splits, the exact
  * L2 analogue of the k-ary learner's machinery: per-(node, category)
  * target sum/sumsq/mass cells, categories ordered by their TARGET MEAN
  * (Breiman 1984's provably optimal ordering for binary partitions under
  * squared loss), every prefix boundary of that order scored by the same
  * SSE cost as the numeric candidates. A chosen set's child numeric
  * thresholds compose from per-category feature sums (in
  * gradient-weighted mode from per-category |y|-weighted sums), so
  * children still need no stats pass of their own. This is what lets
  * the BOOSTERS — which fit a RegressionTree per stage — take
  * lang/source/domain columns directly.
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

  def fit(dataset: DataFrame): FittedRegressionTree =
    FitInternals.withWorkingSet(dataset, featureColumns ++ categoricalColumns ++
      weightColumn :+ targetColumn)(fitCached)

  /** Fit on an already-prepared working set (cf. DecisionTree.fitCached). */
  private[tree] def fitCached(dataset: DataFrame): FittedRegressionTree =
    fitCachedWithRootExtras(dataset, None, Nil)._1

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
      extraRootAggs: Seq[Column]): (FittedRegressionTree, Seq[Any]) = {
    val train = trainCond.map(dataset.filter).getOrElse(dataset)
    FitInternals.requirePositiveWeights(train, weightColumn)
    val catDict = FitInternals.dictionaries(train, None, categoricalColumns)._2
    val (trees, extras) = LevelFit.fit("RegressionTree",
      new RegressionMoments(targetColumn, maxDepth, minSplitSamples, minVarianceReduction,
        gradientWeightedThresholds, weightColumn),
      OneTree(dataset, trainCond), featureColumns, categoricalColumns, catDict,
      extraRootAggs = extraRootAggs)
    val tree = trees.head
    (new FittedRegressionTree(tree.regression, tree.importances,
      math.max(tree.totalGain, 0.0)), extras)
  }
}
