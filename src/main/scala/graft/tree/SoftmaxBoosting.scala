package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Softmax (k-ary) gradient boosting — the multiclass member of the
  * boosting family (Friedman 2001 §4.6, "multi-class logistic
  * regression and classification"): one additive margin F_c per
  * class, initialized at the log prior; stage m computes the softmax
  * probabilities p_c = exp(F_c)/Σ exp and fits one regression tree
  * per class to the negative gradient r_c = 1{y=c} − p_c, with
  * fixed-step shrinkage leaves and gradient-weighted thresholds. One
  * [[Boosting]] loop over a [[SoftmaxLoss]]: the k fits of a stage
  * share the cached working set and overlap on driver threads.
  *
  * The softmax appears only in FIT-side targets; the RENDERED model is
  * the k margins — pure +/·/CASE arithmetic — and the decision is the
  * margin argmax (softmax is monotone per row), rendered as a
  * comparison chain in DESCENDING class order so ties resolve to the
  * LARGER label, the house k-ary convention.
  */
class SoftmaxGradientBoosting(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numStages: Int = 3,
    val learningRate: Double = 0.5,
    val maxDepth: Int = 2,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None) {

  require(numStages >= 1 && learningRate > 0)

  def fit(dataset: DataFrame): FittedSoftmaxGBT = {
    val loss = new SoftmaxLoss(targetColumn, weightColumn)
    val b = Boosting.fit("SoftmaxGradientBoosting", loss, dataset, featureColumns,
      categoricalColumns, numStages, learningRate, maxDepth)
    val classes = loss.classes
    new FittedSoftmaxGBT(classes, classes.zip(b.base).toMap, learningRate,
      b.stages.map(st => classes.zip(st).toMap), b.importances)
  }
}

final class FittedSoftmaxGBT(
    val classes: Seq[Int],
    val baseLogPrior: Map[Int, Double],
    val learningRate: Double,
    val stages: Seq[Map[Int, RegTreeNode]],
    /** Gain importances aggregated across all (stage, class) trees,
      * weighted by raw total gain (r12); empty when JSON-reloaded. */
    val featureImportances: Map[String, Double] = Map.empty) {

  /** Class-c additive margin as one codegen'd expression. */
  def marginExpr(c: Int): Column =
    Boosting.margin(baseLogPrior(c), learningRate, stages.map(_(c)))

  /** Margin argmax over already-computed margin COLUMNS (ties to the
    * larger label): comparison chain in descending class order — the
    * exact shape the oracle renders, each margin referenced, never
    * re-inlined.
    */
  def argmaxOverColumns(colOf: Int => Column): Column = {
    val desc = classes.sorted.reverse
    desc.init.foldRight(lit(desc.last): Column) { (c, acc) =>
      val wins = desc.dropWhile(_ != c).tail
        .map(o => colOf(c) >= colOf(o)).reduce(_ && _)
      when(wins, lit(c)).otherwise(acc)
    }
  }

  /** Adds one `margin_<c>` column per class plus the argmax
    * `prediction` (computed FROM the margin columns — the aliased
    * shape, no margin re-inlined per comparison).
    */
  def transform(df: DataFrame): DataFrame = {
    val withM = classes.foldLeft(df)((d, c) =>
      d.withColumn(s"margin_$c", marginExpr(c)))
    withM.withColumn("prediction",
      argmaxOverColumns(c => col(s"margin_$c")).cast("int"))
  }

  /** Class-c margin as portable SQL (the FittedGBTClassifier
    * pattern: base forced DOUBLE so the whole chain stays double).
    */
  def marginSql(c: Int): String =
    Boosting.marginSql(baseLogPrior(c), learningRate, stages.map(_(c)))

  /** The argmax as SQL over margin COLUMN NAMES (render margins once
    * in a WITH stage, then reference them here — the aliased-render
    * rule from the k-ary forest).
    */
  def argmaxSql(colOf: Int => String): String = {
    val desc = classes.sorted.reverse
    "(CASE " + desc.init.map { c =>
      val conds = desc.dropWhile(_ != c).tail
        .map(o => s"${colOf(c)} >= ${colOf(o)}").mkString(" AND ")
      s"WHEN $conds THEN $c"
    }.mkString(" ") + s" ELSE ${desc.last} END)"
  }

  /** JSON serde (r12): {classes, base_log_prior, learning_rate,
    * stages: [{"<class>": tree}…]}.
    */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "classes" -> JArray(classes.toList.map(c => JInt(c))),
      "base_log_prior" -> JObject(classes.toList.map(c =>
        c.toString -> JDouble(baseLogPrior(c)))),
      "learning_rate" -> JDouble(learningRate),
      "stages" -> JArray(stages.toList.map(st =>
        JObject(classes.toList.map(c =>
          c.toString -> RegTreeNode.toJValue(st(c)))))))))
  }
}

object FittedSoftmaxGBT {
  def fromJson(s: String): FittedSoftmaxGBT = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    val classes = fm("classes").asInstanceOf[JArray].arr.map {
      case JInt(i) => i.toInt
      case other => throw new IllegalArgumentException(s"bad class: $other")
    }
    val JObject(priors) = fm("base_log_prior"): @unchecked
    val base = priors.map { case (k, v) => k.toInt -> TreeNode.jDouble(v) }.toMap
    val stages = fm("stages").asInstanceOf[JArray].arr.map { st =>
      val JObject(sf) = st: @unchecked
      sf.map { case (k, v) => k.toInt -> RegTreeNode.fromJValue(v) }.toMap
    }
    new FittedSoftmaxGBT(classes, base, TreeNode.jDouble(fm("learning_rate")), stages)
  }
}
