package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gradient-boosted regression trees (squared loss): stage m fits a
  * regression tree to the residual `y − F_{m−1}(x)` and the model adds
  * `lr · tree_m(x)`, from the base `F_0` = the (w-weighted) target mean.
  * One [[Boosting]] loop over a [[SquaredLoss]]; the model is one
  * codegen'd expression, base + Σ lr·tree_m.
  */
class GradientBoosting(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numStages: Int = 3,
    val learningRate: Double = 0.5,
    val maxDepth: Int = 3,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None,
    /** > 0 enables EARLY STOPPING: that fraction of rows — chosen by a
      * deterministic hash of the feature values, so fits stay
      * reproducible — is held out of every stage's fit, and boosting
      * stops once the held-out MSE fails to improve for
      * `earlyStoppingPatience` consecutive stages, keeping the best
      * prefix. The returned model's `stages.size` is the selected stage
      * count (≤ numStages).
      */
    val validationFraction: Double = 0.0,
    val earlyStoppingPatience: Int = 2,
    val seed: Long = 42L) {

  require(numStages >= 1 && learningRate > 0)
  require(validationFraction >= 0.0 && validationFraction < 1.0)

  def fit(dataset: DataFrame): FittedGBT = {
    val b = Boosting.fit("GradientBoosting", new SquaredLoss(targetColumn, weightColumn),
      dataset, featureColumns, categoricalColumns, numStages, learningRate, maxDepth,
      validationFraction, earlyStoppingPatience, seed)
    new FittedGBT(b.base(0), learningRate, b.stages.map(_(0)), b.importances)
  }
}

final class FittedGBT(
    val basePrediction: Double,
    val learningRate: Double,
    val stages: Seq[RegTreeNode],
    /** Gain importances aggregated across stages, weighted by each
      * stage's raw total gain (r12); empty when JSON-reloaded. */
    val featureImportances: Map[String, Double] = Map.empty) {

  /** The whole ensemble as one codegen'd expression. */
  def predictionExpr: Column = Boosting.margin(basePrediction, learningRate, stages)

  def transform(df: DataFrame): DataFrame =
    df.withColumn("prediction", predictionExpr)

  /** The whole ensemble as portable SQL: base + Σ lr·tree_m (cf.
    * RegTreeNode.caseSql — lets the harness regenerate the oracle
    * from the model fitted at the gate scale factor).
    */
  def modelSql: String = Boosting.marginSql(basePrediction, learningRate, stages)

  /** JSON serde (r12): {base, learning_rate, stages: [tree…]} with
    * stages in the [[RegTreeNode]] nested-dict format.
    */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "base" -> JDouble(basePrediction),
      "learning_rate" -> JDouble(learningRate),
      "stages" -> JArray(stages.toList.map(RegTreeNode.toJValue)))))
  }
}

object FittedGBT {
  def fromJson(s: String): FittedGBT = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    new FittedGBT(TreeNode.jDouble(fm("base")), TreeNode.jDouble(fm("learning_rate")),
      fm("stages").asInstanceOf[JArray].arr.map(RegTreeNode.fromJValue))
  }
}

/** Gradient-boosted CLASSIFICATION trees (logistic loss; Friedman
  * 2001 §4.5, "two-class logistic regression and classification"): the
  * model is an additive log-odds margin F(x) = F₀ + Σ lr·tree_m(x);
  * stage m fits a regression tree to the negative gradient of the log
  * loss, r_i = y_i − σ(F_{m−1}(x_i)), with fixed-step
  * (learning-rate-scaled mean-leaf) updates — scikit-learn's default
  * shrinkage-instead-of-Newton choice, which keeps each stage the house
  * [[RegressionTree]] verbatim, here with gradient-weighted thresholds.
  * One [[Boosting]] loop over a [[LogisticLoss]].
  *
  * The sigmoid appears only in FIT-side residual targets; the RENDERED
  * model is the margin — pure +/·/CASE arithmetic, bit-reproducible
  * cross-engine — and the decision is `margin > 0` (≡ p > 0.5), so the
  * oracle never evaluates a transcendental.
  */
class GradientBoostingClassifier(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numStages: Int = 3,
    val learningRate: Double = 0.5,
    val maxDepth: Int = 3,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None,
    /** > 0 enables early stopping on held-out LOG LOSS (see
      * [[GradientBoosting.validationFraction]] — same deterministic
      * hash split, same best-prefix selection).
      */
    val validationFraction: Double = 0.0,
    val earlyStoppingPatience: Int = 2,
    val seed: Long = 42L) {

  require(numStages >= 1 && learningRate > 0)
  require(validationFraction >= 0.0 && validationFraction < 1.0)

  def fit(dataset: DataFrame): FittedGBTClassifier = {
    val b = Boosting.fit("GradientBoostingClassifier",
      new LogisticLoss(targetColumn, weightColumn), dataset, featureColumns,
      categoricalColumns, numStages, learningRate, maxDepth,
      validationFraction, earlyStoppingPatience, seed)
    new FittedGBTClassifier(b.base(0), learningRate, b.stages.map(_(0)), b.importances)
  }
}

final class FittedGBTClassifier(
    val baseLogOdds: Double,
    val learningRate: Double,
    val stages: Seq[RegTreeNode],
    /** Gain importances aggregated across stages, weighted by each
      * stage's raw total gain (r12); empty when JSON-reloaded. */
    val featureImportances: Map[String, Double] = Map.empty) {

  /** The additive log-odds margin as one codegen'd expression. */
  def marginExpr: Column = Boosting.margin(baseLogOdds, learningRate, stages)

  /** σ(margin) — serving-side probability (JVM `exp`; see the class
    * note on why the ORACLE compares margins, not probabilities). */
  def probabilityExpr: Column =
    lit(1.0) / (lit(1.0) + exp(-marginExpr))

  /** margin > 0 ≡ p > 0.5 — transcendental-free decision. */
  def predictionExpr: Column = (marginExpr > 0.0).cast("int")

  def transform(df: DataFrame): DataFrame =
    df.withColumn("margin", marginExpr)
      .withColumn("probability", probabilityExpr)
      .withColumn("prediction", predictionExpr)

  /** The margin as portable SQL: base + Σ lr·tree_m — the same pure
    * CASE arithmetic as FittedGBT.modelSql, so every double matches
    * bit-for-bit cross-engine; decisions render as `(… ) > 0`.
    */
  def marginSql: String = Boosting.marginSql(baseLogOdds, learningRate, stages)

  /** JSON serde (r12): {base_log_odds, learning_rate, stages: […]}. */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "base_log_odds" -> JDouble(baseLogOdds),
      "learning_rate" -> JDouble(learningRate),
      "stages" -> JArray(stages.toList.map(RegTreeNode.toJValue)))))
  }
}

object FittedGBTClassifier {
  def fromJson(s: String): FittedGBTClassifier = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    new FittedGBTClassifier(TreeNode.jDouble(fm("base_log_odds")),
      TreeNode.jDouble(fm("learning_rate")),
      fm("stages").asInstanceOf[JArray].arr.map(RegTreeNode.fromJValue))
  }
}
