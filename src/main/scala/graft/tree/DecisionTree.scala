package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Hyper-parameters — field-for-field the reference's
  * `DecisionTreeParams` (dtree.py:175-182), with method/metric held by
  * name as in its string lookups (splitting.py:88-97).
  */
final case class DecisionTreeParams(
    featureColumns: Seq[String],
    classColumn: String = "class",
    splittingMethod: String = MeanSplitter.name,
    splitMetric: String = EntropySplitMetric.name,
    minSplitSamples: Long = 0L,
    minSplitEntropy: Double = 0.0,
    maxDepth: Int = -1) {
  def method: SplittingMethod = SplittingMethod.forName(splittingMethod)
  def metric: SplitMetric = SplitMetric.forName(splitMetric)
}

/** A fitted tree: immutable root + reference-compatible JSON serde
  * (dtree.py:272-297).
  */
final class FittedDecisionTree(
    val params: DecisionTreeParams,
    val root: TreeNode,
    val depth: Int = 0,
    val nodeSplits: Map[Long, SplitParams] = Map.empty,
    val nodeP1: Map[Long, Double] = Map.empty,
    val nodeCatSplits: Map[Long, (String, Seq[String])] = Map.empty) {

  /** Append the integer `prediction` column — one codegen'd pass. */
  def classify(samples: DataFrame): DataFrame = TreeNode.classify(root, samples)
  def transform(samples: DataFrame): DataFrame = classify(samples)

  /** Class-1 probability at each row's leaf (the leaf's training-set
    * class-1 fraction), as one codegen'd when-chain — calibrated
    * scores instead of hard labels. Built from the UNPRUNED split
    * structure recorded at fit time (`nodeSplits`/`nodeP1`); pruning
    * collapses agreeing LABELS, but the probability detail is kept.
    * Trees re-loaded from JSON carry no leaf stats (the reference
    * format has none) — there the probability is the hard 0/1 label.
    */
  def probExpr: Column = probTree(ColumnRender)

  def transformProb(samples: DataFrame, outCol: String = "p1"): DataFrame =
    samples.withColumn(outCol, probExpr)

  /** The probability tree as portable ANSI SQL (cf. TreeNode.caseSql). */
  def probCaseSql: String = probTree(SqlRender)

  private def probTree[A](render: SplitRender[A]): A =
    if (nodeSplits.nonEmpty || nodeCatSplits.nonEmpty || nodeP1.nonEmpty)
      render.tree(nodeSplits, nodeCatSplits) { id =>
        var cur = id
        while (cur > 1 && !nodeP1.contains(cur)) cur /= 2
        nodeP1.getOrElse(cur, 0.0)
      }
    else root.render(render)(label => render.leaf(label.toDouble))

  def leafClasses: Seq[Int] = root.leafLabels

  /** Split-count feature importance: the fraction of decision nodes
    * that split on each feature (0 for unused features; categorical
    * IN-set nodes count for their column like any other split).
    */
  def featureImportances: Map[String, Double] = {
    def splits(n: TreeNode): Seq[String] = n match {
      case DecisionNode(a, _, l, r) => a +: (splits(l) ++ splits(r))
      case CatDecisionNode(a, _, l, r) => a +: (splits(l) ++ splits(r))
      case _ => Seq.empty
    }
    val all = splits(root)
    val total = math.max(all.size, 1)
    (params.featureColumns.map(f =>
      f -> all.count(_ == f).toDouble / total) ++
      all.distinct.filterNot(params.featureColumns.contains).map(q =>
        q -> all.count(_ == q).toDouble / total)).toMap
  }

  def toJValue: JValue = JObject(
    "params" -> JObject(
      "feature_columns" -> JArray(params.featureColumns.map(JString(_)).toList),
      "class_column" -> JString(params.classColumn),
      "splitting_method" -> JString(params.splittingMethod),
      "split_metric" -> JString(params.splitMetric),
      "min_split_samples" -> JInt(params.minSplitSamples),
      "min_split_entropy" -> JDouble(params.minSplitEntropy),
      "max_depth" -> JInt(params.maxDepth)),
    "depth" -> JInt(depth),
    "nodes" -> root.toJValue)

  def json(indent: Option[Int] = None): String = indent match {
    case Some(_) => JsonMethods.pretty(JsonMethods.render(toJValue))
    case None    => JsonMethods.compact(JsonMethods.render(toJValue))
  }

  def saveJson(filepath: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(filepath), json(Some(4)))
}

object FittedDecisionTree {
  def fromJValue(j: JValue): FittedDecisionTree = {
    val JObject(fields) = j: @unchecked
    val fm = fields.toMap
    val JObject(p) = fm("params"): @unchecked
    val pm = p.toMap
    def str(v: JValue) = v.asInstanceOf[JString].s
    def int(v: JValue): Long = v match {
      case JInt(i) => i.toLong; case JLong(l) => l; case JDouble(d) => d.toLong
      case o => throw new IllegalArgumentException(s"not int: $o")
    }
    def dbl(v: JValue): Double = v match {
      case JDouble(d) => d; case JInt(i) => i.toDouble; case JDecimal(d) => d.toDouble
      case o => throw new IllegalArgumentException(s"not double: $o")
    }
    val params = DecisionTreeParams(
      featureColumns = pm("feature_columns").asInstanceOf[JArray].arr.map(str),
      classColumn = str(pm("class_column")),
      splittingMethod = str(pm("splitting_method")),
      splitMetric = str(pm("split_metric")),
      minSplitSamples = int(pm("min_split_samples")),
      minSplitEntropy = dbl(pm("min_split_entropy")),
      maxDepth = int(pm("max_depth")).toInt)
    new FittedDecisionTree(params, TreeNode.fromJValue(fm("nodes")), int(fm("depth")).toInt)
  }

  def fromJson(s: String): FittedDecisionTree = fromJValue(JsonMethods.parse(s))

  def loadJson(filepath: String): FittedDecisionTree =
    fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(filepath)))
}

/** Distributed binary decision-tree learner.
  *
  * Reference algorithm: dtree.py:203-254 — recursive: compute best
  * split, filter the frame into two halves, recurse. That is O(nodes)
  * full scans and keeps materialized per-node frames. At 100 TB it is
  * unusable.
  *
  * Spark-first design (level-wise, MLlib-style): [[LevelFit]] with the
  * [[BinaryCounts]] statistic. The data is never split or cached per
  * node: a fit runs a root pass, then ONE fused aggregate per level that
  * computes every open node's per-feature split stats and its children's
  * stats. Stopping rules, tie-breaks, empty-side handling and pruning
  * match the reference (dtree.py:216-250):
  *   - stop when entropy == 0, entropy < min_split_entropy,
  *     rows < min_split_samples, or depth == max_depth (leaf =
  *     majority class; ties resolve to 1);
  *   - stopping entropy is always the entropy metric, even when
  *     splitting on gini (dtree.py:211-213);
  *   - if the best split leaves one side empty the node stays a leaf
  *     (dtree.py:233-234);
  *   - prune=true collapses subtrees whose leaves all agree into a
  *     leaf labelled with the node's majority class (dtree.py:246-250).
  */
class DecisionTree(val params: DecisionTreeParams,
                   val categoricalColumns: Seq[String] = Seq.empty,
                   val weightColumn: Option[String] = None) {

  def fit(dataset: DataFrame, prune: Boolean = false): FittedDecisionTree =
    FitInternals.withWorkingSet(dataset, params.featureColumns ++
      categoricalColumns ++ weightColumn :+ params.classColumn)(fitCached(_, prune))

  /** Fit on an already-prepared (projected + cached) working set —
    * no extra projection or persist. Used by ensemble learners that
    * cache ONE base table and fit many trees against filtered views
    * of it, instead of materializing a fresh cache per tree.
    */
  private[tree] def fitCached(dataset: DataFrame, prune: Boolean = false): FittedDecisionTree = {
    FitInternals.requireMeanSplitter(params, categoricalColumns.nonEmpty, weightColumn.nonEmpty)
    FitInternals.requirePositiveWeights(dataset, weightColumn)
    val catDict = FitInternals.dictionaries(dataset, None, categoricalColumns)._2
    val (trees, _) = LevelFit.fit("DecisionTree", new BinaryCounts(params, weightColumn),
      OneTree(dataset), params.featureColumns, categoricalColumns, catDict)
    DecisionTree.fitted(params, trees.head, prune)
  }
}

private[tree] object DecisionTree {
  /** A grown binary tree, with its feature subset as its params'. */
  def fitted(params: DecisionTreeParams, tree: LevelFit.Grown[P1],
             prune: Boolean): FittedDecisionTree =
    new FittedDecisionTree(params.copy(featureColumns = tree.features),
      tree.classifier(params.classColumn, prune), nodeSplits = tree.splits.toMap,
      nodeP1 = tree.nodes.map { case (id, s) => id -> s.p1 }.toMap,
      nodeCatSplits = tree.catSplits.toMap)
}
