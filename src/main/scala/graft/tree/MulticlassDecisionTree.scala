package graft.tree

import org.apache.spark.sql.{Column, DataFrame}

/** K-ary-label decision-tree learner.
  *
  * The reference is binary by construction — splitting.py:70-86
  * computes p0/p1 only and dtree.py's majority is a two-way mode — so
  * reference parity never required more than two classes. But every
  * real curation label space (language, topic, quality tier) is
  * k-ary, and the binary machinery generalizes mechanically: per-node
  * CLASS-COUNT VECTORS replace the class-1 rate, the impurity is
  * `SplitMetric.evalFromCounts` (k-ary entropy/gini; reduces exactly
  * to the binary form at k = 2), and the majority is the count argmax
  * with ties resolved to the LARGER label — the same direction the
  * binary reference resolves its p1 >= 0.5 tie. ONE deliberate
  * departure: splits are scored by the WEIGHTED child impurity
  * (CART's objective; see [[ClassMasses]] for the k ≥ 3 collapse the
  * reference's unweighted metric(L)+metric(R) sum causes).
  *
  * Scale design is the [[DecisionTree]] level-wise fit ([[LevelFit]]
  * with the [[ClassMasses]] statistic): shuffled bytes are
  * O(partitions × nodes × features × k) scalars, never rows, for at
  * most FitInternals.MaxClasses labels.
  *
  * The fitted tree reuses [[TreeNode]] wholesale — classify is the
  * same single codegen'd when-chain, `caseSql` the same portable
  * ANSI-SQL export (labels are ints in any k) — and adds per-leaf
  * class DISTRIBUTIONS (the k-ary probability semantics: the leaf's
  * training-set class frequencies).
  */
class MulticlassDecisionTree(val params: DecisionTreeParams,
                             val categoricalColumns: Seq[String] = Seq.empty,
                             val weightColumn: Option[String] = None) {

  def fit(dataset: DataFrame, prune: Boolean = false): FittedMulticlassTree =
    FitInternals.withWorkingSet(dataset, params.featureColumns ++
      categoricalColumns ++ weightColumn :+ params.classColumn)(fitOn(_, prune))

  private def fitOn(dataset: DataFrame, prune: Boolean): FittedMulticlassTree = {
    FitInternals.requireMeanSplitter(params, categoricalColumns.nonEmpty, weightColumn.nonEmpty)
    FitInternals.requirePositiveWeights(dataset, weightColumn)
    val (classes, catDict) =
      FitInternals.dictionaries(dataset, Some(params.classColumn), categoricalColumns)
    val (trees, _) = LevelFit.fit("MulticlassDecisionTree",
      new ClassMasses(params, weightColumn, classes), OneTree(dataset),
      params.featureColumns, categoricalColumns, catDict)
    val tree = trees.head
    new FittedMulticlassTree(params, classes, tree.classifier(params.classColumn, prune),
      tree.splits.toMap, tree.nodes.toMap, tree.catSplits.toMap, tree.importances)
  }
}

/** A fitted k-ary tree: the [[TreeNode]] when-chain for hard labels
  * plus per-node class DISTRIBUTIONS for calibrated probabilities.
  */
final class FittedMulticlassTree(
    val params: DecisionTreeParams,
    val classes: Seq[Int],
    val root: TreeNode,
    val nodeSplits: Map[Long, SplitParams],
    val nodeCounts: Map[Long, Seq[Double]],
    val nodeCatSplits: Map[Long, (String, Seq[String])] = Map.empty,
    /** Gain-based feature importances (r12): each feature's share of
      * the fit's total impurity-mass decrease (categorical columns
      * included); empty for a single-leaf tree. */
    val featureImportances: Map[String, Double] = Map.empty) {

  def classify(samples: DataFrame): DataFrame = TreeNode.classify(root, samples)
  def transform(samples: DataFrame): DataFrame = classify(samples)

  /** Portable ANSI-SQL export of the label tree (TreeNode.caseSql). */
  def caseSql: String = root.caseSql

  /** Probability of class `c` at each row's leaf — the leaf's
    * training-set class-c fraction, one codegen'd when-chain (the
    * k-ary generalization of the binary `probExpr`).
    */
  def probExpr(c: Int): Column = probTree(ColumnRender, c)

  /** Append one probability column per class: `p_<label>`. The row's
    * columns sum to 1 (each leaf's distribution is a frequency
    * vector over the same denominator).
    */
  def transformProb(samples: DataFrame): DataFrame =
    classes.foldLeft(samples)((df, c) => df.withColumn(s"p_$c", probExpr(c)))

  /** Class-`c` probability tree as portable ANSI SQL — the k-ary
    * analogue of the binary `probCaseSql` (DecisionTree.scala).
    */
  def probCaseSql(c: Int): String = probTree(SqlRender, c)

  private def probTree[A](render: SplitRender[A], c: Int): A = {
    val ci = classes.indexOf(c)
    require(ci >= 0, s"unknown class $c (classes: $classes)")
    render.tree(nodeSplits, nodeCatSplits) { id =>
      var cur = id
      while (cur > 1 && !nodeCounts.contains(cur)) cur /= 2
      val cs = nodeCounts.getOrElse(cur, Seq.fill(classes.size)(0.0))
      val n = cs.sum
      if (n == 0.0) 0.0 else cs(ci) / n
    }
  }
}
