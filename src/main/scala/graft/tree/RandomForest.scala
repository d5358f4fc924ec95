package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Random-forest ensemble over the level-wise distributed tree
  * learner — the quality-classifier shape training-data pipelines
  * actually deploy (bagged trees voting on document keep/drop).
  *
  * Deterministic [[Bags]] keep fits reproducible and oracle-checkable.
  *
  * Prediction is majority vote: the sum of the per-tree codegen'd
  * when-chains compared to numTrees/2 — still ONE whole-stage-codegen
  * pass over the data, no shuffle.
  */
class RandomForest(
    val params: DecisionTreeParams,
    val numTrees: Int,
    val featureSubsetSize: Int = 0,
    val bagFraction: Double = 0.7,
    val seed: Long = 42L,
    val categoricalColumns: Seq[String] = Seq.empty) {

  require(numTrees >= 1)

  private val bags = Bags(numTrees, params.featureColumns, categoricalColumns,
    featureSubsetSize, bagFraction, seed)

  /** Deterministic per-tree row bag (see [[Bags]]). */
  private[tree] def bagFilter(tree: Int): Column = bags.filter(tree)

  /** Fused level-wise forest fit: [[LevelFit]] over a [[Forest]] axis
    * with the [[BinaryCounts]] statistic — ONE pair of aggregate passes
    * per LEVEL for the whole ensemble (a node pass, then the split
    * pass), so the job count is O(depth), independent of ensemble
    * size. Produces trees IDENTICAL to fitting each one with
    * DecisionTree.fit (spec-checked against the sequential path).
    */
  def fit(dataset: DataFrame): FittedRandomForest =
    FitInternals.withWorkingSet(dataset, workingColumns) { work =>
      FitInternals.requireMeanSplitter(params, categoricalColumns.nonEmpty, weighted = false)
      val catDict = FitInternals.dictionaries(work, None, categoricalColumns)._2
      val (trees, _) = LevelFit.fit("RandomForest", new BinaryCounts(params, None),
        Forest(work, bags), params.featureColumns, categoricalColumns, catDict,
        recompute = true)
      new FittedRandomForest(this, trees.map(DecisionTree.fitted(params, _, prune = false)))
    }

  /** The straightforward tree-at-a-time fit (kept as the reference
    * implementation the fused fit is verified against).
    */
  private[tree] def fitSequential(dataset: DataFrame): FittedRandomForest =
    FitInternals.withWorkingSet(dataset, workingColumns) { work =>
      val trees = (0 until numTrees).map { i =>
        val treeParams = params.copy(featureColumns = bags.features(i))
        new DecisionTree(treeParams, bags.categoricals(i))
          .fitCached(work.filter(bagFilter(i)))
      }
      new FittedRandomForest(this, trees)
    }

  private def workingColumns: Seq[String] =
    params.featureColumns ++ categoricalColumns :+ params.classColumn
}

final class FittedRandomForest(
    val forest: RandomForest,
    val trees: Seq[FittedDecisionTree]) {

  /** Majority vote as a single codegen'd expression. */
  def predictionExpr: Column = {
    val votes = trees.map(_.root.predictionExpr.cast("int")).reduce(_ + _)
    (votes * 2 > trees.size).cast("int")
  }

  def transform(samples: DataFrame): DataFrame =
    samples.withColumn("prediction", predictionExpr)

  /** OUT-OF-BAG error estimate (r12) — the forest's free validation:
    * because the bags are DETERMINISTIC expressions over the feature
    * values, each training row's out-of-bag trees are recomputable at
    * evaluation time, so the whole estimate is ONE codegen'd pass +
    * one tiny aggregate (no second fit, no held-out split, no
    * materialized bag table). A row votes only among trees whose bag
    * EXCLUDES it; an exact OOB vote tie resolves to 0, the same
    * strict-majority convention as predictionExpr's votes*2 >
    * trees.size. Rows in every bag are excluded from the rate.
    * Returns (oob_error, n_oob_rows).
    */
  def oobError(dataset: DataFrame): (Double, Long) = {
    val label = col(forest.params.classColumn).cast("int")
    val oobVotes = trees.indices.map { i =>
      when(!forest.bagFilter(i),
        trees(i).root.predictionExpr.cast("int")).otherwise(lit(0))
    }.reduce(_ + _)
    val nOob = trees.indices.map { i =>
      when(!forest.bagFilter(i), 1).otherwise(0)
    }.reduce(_ + _)
    val pred = (oobVotes * 2 > nOob).cast("int")
    val row = dataset
      .select(label.as("y"), pred.as("p"), nOob.as("n"))
      .filter(col("n") > 0)
      .agg(avg((col("y") =!= col("p")).cast("double")).as("err"),
        count(lit(1)).as("n"))
      .collect()(0)
    (if (row.isNullAt(0)) 0.0 else row.getDouble(0), row.getLong(1))
  }

  def toJValue: JValue = JObject(
    "num_trees" -> JInt(trees.size),
    "trees" -> JArray(trees.map(_.toJValue).toList))

  def json(indent: Option[Int] = None): String = indent match {
    case Some(_) => JsonMethods.pretty(JsonMethods.render(toJValue))
    case None    => JsonMethods.compact(JsonMethods.render(toJValue))
  }
}

object FittedRandomForest {
  def fromJson(s: String, forest: RandomForest): FittedRandomForest = {
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val JArray(treeJs) = fields.toMap.apply("trees"): @unchecked
    new FittedRandomForest(forest, treeJs.map(FittedDecisionTree.fromJValue))
  }
}
