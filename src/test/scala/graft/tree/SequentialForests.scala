package graft.tree

import org.apache.spark.sql.DataFrame

/** The tree-at-a-time forest fits: each tree fitted alone on its bag
  * by its single-tree learner, the reference the fused forest fits are
  * checked against. `import SequentialForests._` adds `fitSequential`
  * to the three forests.
  */
object SequentialForests {

  implicit class SequentialRandomForest(forest: RandomForest) {
    def fitSequential(dataset: DataFrame): FittedRandomForest =
      FitInternals.withWorkingSet(dataset, forest.workingColumns) { work =>
        val trees = (0 until forest.numTrees).map { i =>
          val treeParams = forest.params.copy(featureColumns = forest.bags.features(i))
          new DecisionTree(treeParams, forest.bags.categoricals(i))
            .fitCached(work.filter(forest.bagFilter(i)))
        }
        new FittedRandomForest(forest, trees)
      }
  }

  implicit class SequentialMulticlassForest(forest: MulticlassRandomForest) {
    def fitSequential(dataset: DataFrame): FittedMulticlassForest =
      FitInternals.withWorkingSet(dataset, forest.workingColumns) { work =>
        val fitted = (0 until forest.numTrees).map { i =>
          val treeParams = forest.params.copy(featureColumns = forest.bags.features(i))
          new MulticlassDecisionTree(treeParams, forest.bags.categoricals(i), forest.weightColumn)
            .fit(work.filter(forest.bagFilter(i)))
        }
        new FittedMulticlassForest(forest, fitted.head.classes, fitted)
      }
  }

  implicit class SequentialRegressionForest(forest: RegressionRandomForest) {
    def fitSequential(dataset: DataFrame): FittedRegressionForest =
      FitInternals.withWorkingSet(dataset, forest.featureColumns :+ forest.targetColumn) { work =>
        val trees = (0 until forest.numTrees).map { i =>
          new RegressionTree(forest.bags.features(i), forest.targetColumn,
            maxDepth = forest.maxDepth, minSplitSamples = forest.minSplitSamples,
            minVarianceReduction = forest.minVarianceReduction)
            .fitCached(work.filter(forest.bags.filter(i))).root
        }
        new FittedRegressionForest(forest.numTrees, trees)
      }
  }
}
