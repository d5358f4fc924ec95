package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bagged regression forest (r12) — the variance-reduction member of
  * the ensemble family (single and boosted regression trees existed;
  * bagging completes it), with [[RandomForest]]'s deterministic
  * [[Bags]].
  *
  * Scale design is the fused level-wise fit ([[LevelFit]] over a
  * [[Forest]] axis with [[RegressionTree]]'s statistic): ONE aggregate
  * pass per LEVEL for the whole ensemble, as child stats and
  * thresholds COMPOSE from the parent's pass exactly as in
  * RegressionTree, so the fused fit produces trees IDENTICAL to
  * tree-at-a-time fitting (spec-checked; exact on integer-valued
  * fixtures, the house parity convention). Numeric features only —
  * categorical IN-set splits live in the single tree and the boosters
  * (RegressionTree.categoricalColumns); route categorical ensembles
  * through [[MulticlassRandomForest]].
  *
  * Prediction is the ensemble MEAN: Σ tree CASE-chains / numTrees —
  * one codegen'd expression, no shuffle; `modelSql` renders the same
  * mean-of-CASEs portably.
  */
class RegressionRandomForest(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numTrees: Int,
    val featureSubsetSize: Int = 0,
    val bagFraction: Double = 0.7,
    val seed: Long = 42L,
    val maxDepth: Int = 5,
    val minSplitSamples: Long = 2L,
    val minVarianceReduction: Double = 1e-12) {

  require(numTrees >= 1)

  private[tree] val bags = Bags(numTrees, featureColumns, Nil, featureSubsetSize, bagFraction, seed)

  private def statistic = new RegressionMoments(targetColumn, maxDepth, minSplitSamples,
    minVarianceReduction, gradientWeighted = false, weight = None)

  def fit(dataset: DataFrame): FittedRegressionForest =
    FitInternals.withWorkingSet(dataset, featureColumns :+ targetColumn) { work =>
      val (trees, _) = LevelFit.fit("RegressionRandomForest", statistic,
        Forest(work, bags), featureColumns, Nil, Map.empty)
      new FittedRegressionForest(numTrees, trees.map(_.regression))
    }
}

/** Fitted bagged regression forest: ensemble mean of the per-tree
  * CASE-chains — one codegen'd expression; `modelSql` is the same
  * mean-of-CASEs rendered portably (division LAST so both engines
  * evaluate the identical double expression tree).
  */
final class FittedRegressionForest(
    val numTrees: Int,
    val trees: Seq[RegTreeNode]) {

  def predictionExpr: Column =
    trees.map(_.predictionExpr).reduce(_ + _) / lit(numTrees.toDouble)

  def transform(df: DataFrame): DataFrame =
    df.withColumn("prediction", predictionExpr)

  def modelSql: String =
    s"((${trees.map(_.caseSql).mkString(" + ")}) / ${numTrees.toDouble})"

  /** JSON serde (r12): {num_trees, trees: […]}. */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "num_trees" -> JInt(numTrees),
      "trees" -> JArray(trees.toList.map(RegTreeNode.toJValue)))))
  }
}

object FittedRegressionForest {
  def fromJson(s: String): FittedRegressionForest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    val n = fm("num_trees") match {
      case JInt(i) => i.toInt
      case other => throw new IllegalArgumentException(s"bad num_trees: $other")
    }
    new FittedRegressionForest(n,
      fm("trees").asInstanceOf[JArray].arr.map(RegTreeNode.fromJValue))
  }
}
