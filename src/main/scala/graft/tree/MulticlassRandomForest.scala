package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-ary random forest — [[RandomForest]]'s fused level-wise fit
  * ([[LevelFit]] over a [[Forest]] axis) with [[MulticlassDecisionTree]]'s
  * statistic ([[ClassMasses]]): the same row and feature [[Bags]], one
  * pair of aggregate passes per LEVEL for the whole ensemble, shuffled
  * bytes O(trees × nodes × features × k) scalars. The vote is the
  * per-class ballot argmax with ties to the LARGER label (the binary
  * votes·2 > trees convention extended). Produces trees IDENTICAL to
  * fitting each one with MulticlassDecisionTree.fit on its bag
  * (spec-checked against the sequential path).
  */
class MulticlassRandomForest(
    val params: DecisionTreeParams,
    val numTrees: Int,
    val featureSubsetSize: Int = 0,
    val bagFraction: Double = 0.7,
    val seed: Long = 42L,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None) {

  require(numTrees >= 1)

  private val bags = Bags(numTrees, params.featureColumns, categoricalColumns,
    featureSubsetSize, bagFraction, seed)

  /** Deterministic per-tree row bag (see [[Bags]]). */
  private[tree] def bagFilter(tree: Int): Column = bags.filter(tree)

  private def workingColumns: Seq[String] =
    params.featureColumns ++ categoricalColumns ++ weightColumn :+ params.classColumn

  def fit(dataset: DataFrame): FittedMulticlassForest =
    FitInternals.withWorkingSet(dataset, workingColumns) { work =>
      FitInternals.requireMeanSplitter(params, categoricalColumns.nonEmpty, weightColumn.nonEmpty)
      FitInternals.requirePositiveWeights(work, weightColumn)
      val (classes, catDict) =
        FitInternals.dictionaries(work, Some(params.classColumn), categoricalColumns)
      val (trees, _) = LevelFit.fit("MulticlassRandomForest",
        new ClassMasses(params, weightColumn, classes), Forest(work, bags),
        params.featureColumns, categoricalColumns, catDict, recompute = true)
      new FittedMulticlassForest(this, classes, trees.map { tree =>
        new FittedMulticlassTree(params.copy(featureColumns = tree.features), classes,
          tree.classifier(params.classColumn, prune = false), tree.splits.toMap,
          tree.nodes.toMap, tree.catSplits.toMap)
      })
    }

  /** Tree-at-a-time reference implementation the fused fit is
    * verified against. */
  private[tree] def fitSequential(dataset: DataFrame): FittedMulticlassForest =
    FitInternals.withWorkingSet(dataset, workingColumns) { work =>
      val fitted = (0 until numTrees).map { i =>
        val treeParams = params.copy(featureColumns = bags.features(i))
        new MulticlassDecisionTree(treeParams, bags.categoricals(i), weightColumn)
          .fit(work.filter(bagFilter(i)))
      }
      new FittedMulticlassForest(this, fitted.head.classes, fitted)
    }
}

/** A fitted k-ary forest: per-class ballot vote, ties to the larger
  * label, as ONE codegen'd expression (no shuffle, no UDF). */
final class FittedMulticlassForest(
    val forest: MulticlassRandomForest,
    val classes: Seq[Int],
    val trees: Seq[FittedMulticlassTree]) {

  /** votes_c = Σ_t 1[tree_t(x) = c]; prediction = argmax by
    * (votes, label) — the sort_array argmin pattern over
    * (−votes, −label) structs. */
  def predictionExpr: Column = {
    val perTree = trees.map(_.root.predictionExpr.cast("int"))
    val entries = classes.map { c =>
      val votes = perTree.map(p => when(p === c, 1).otherwise(0)).reduce(_ + _)
      struct((-votes).as("nv"), lit(-c).as("nc"))
    }
    -array_min(array(entries: _*)).getField("nc")
  }

  /** Ballot SHARE of class `c`: votes_c / trees — the k-ary analogue
    * of the binary forest's vote fraction, usable as a (crude)
    * probability for one-vs-rest calibration. Exact cross-engine:
    * int votes, one IEEE double division by a small int. */
  def probabilityExpr(c: Int): Column = {
    val perTree = trees.map(_.root.predictionExpr.cast("int"))
    val votes = perTree.map(p => when(p === c, 1).otherwise(0)).reduce(_ + _)
    round(votes.cast("double") / lit(trees.size), 6)
  }

  /** prediction + per-class ballot shares `p_<c>`. */
  def transform(samples: DataFrame): DataFrame =
    classes.foldLeft(samples.withColumn("prediction", predictionExpr)) {
      (df, c) => df.withColumn(s"p_$c", probabilityExpr(c))
    }

  /** OUT-OF-BAG error estimate (r12, the [[FittedRandomForest.oobError]]
    * contract k-ary): deterministic bags make each row's out-of-bag
    * trees recomputable, so the estimate is one codegen'd pass — a
    * row votes among trees whose bag EXCLUDES it, argmax ties to the
    * LARGER label (the house k-ary rule); all-bags rows are excluded.
    * Returns (oob_error, n_oob_rows).
    */
  def oobError(dataset: DataFrame): (Double, Long) = {
    val label = col(forest.params.classColumn).cast("int")
    val perTree = trees.map(_.root.predictionExpr.cast("int"))
    def oobVotes(c: Int): Column = trees.indices.map { i =>
      when(!forest.bagFilter(i) && perTree(i) === c, 1).otherwise(0)
    }.reduce(_ + _)
    val nOob = trees.indices.map { i =>
      when(!forest.bagFilter(i), 1).otherwise(0)
    }.reduce(_ + _)
    val entries = classes.map(c =>
      struct((-oobVotes(c)).as("nv"), lit(-c).as("nc")))
    val pred = -array_min(array(entries: _*)).getField("nc")
    val row = dataset
      .select(label.as("y"), pred.as("p"), nOob.as("n"))
      .filter(col("n") > 0)
      .agg(avg((col("y") =!= col("p")).cast("double")).as("err"),
        count(lit(1)).as("n"))
      .collect()(0)
    (if (row.isNullAt(0)) 0.0 else row.getDouble(0), row.getLong(1))
  }

  // ---- SQL export ---------------------------------------------------
  // Two renders: the INLINE scalar (`voteCaseSql`) whose size is
  // O(k² · trees · treeSize) — every pairwise vote comparison inlines
  // every tree's full CASE — acceptable only for small ensembles
  // (k·numTrees·2^depth ≲ 10³; fine at the house 3 classes × 5 trees
  // × depth 3, a liability beyond), and the ALIASED render below
  // (`treeSelectSql`/`voteSumsSql`/`argmaxOverVotesSql`) where each
  // tree CASE appears ONCE in a WITH stage, vote sums reference the
  // t<i> aliases, and the argmax references the v_<c> aliases —
  // O(trees·treeSize + k·trees + k²), the form the driver oracle uses.

  /** Portable ANSI-SQL export of the voted ensemble as ONE scalar
    * expression (see size ceiling note above; prefer the aliased
    * render for anything beyond toy ensembles). */
  def voteCaseSql: String = {
    val treeCases = trees.map(_.caseSql)
    def votes(c: Int): String =
      treeCases.map(t => s"(CASE WHEN $t = $c THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
    val desc = classes.sorted.reverse
    val branches = desc.init.map { c =>
      val conds = classes.sorted.filter(_ != c)
        .map(o => s"${votes(c)} >= ${votes(o)}").mkString(" AND ")
      s"WHEN $conds THEN $c"
    }.mkString(" ")
    s"(CASE $branches ELSE ${desc.last} END)"
  }

  /** Aliased render, stage 1: each tree's CASE once, as `t<i>`. */
  def treeSelectSql: String =
    trees.zipWithIndex.map { case (t, i) => s"${t.caseSql} AS t$i" }
      .mkString(", ")

  /** Aliased render, stage 2: per-class vote sums over the `t<i>`
    * aliases, as `v_<c>`. */
  def voteSumsSql: String =
    classes.sorted.map { c =>
      trees.indices.map(i => s"(CASE WHEN t$i = $c THEN 1 ELSE 0 END)")
        .mkString("(", " + ", s") AS v_$c")
    }.mkString(", ")

  /** Aliased render, stage 3: argmax over the `v_<c>` aliases, ties
    * to the larger label (larger labels tested first with >=). */
  def argmaxOverVotesSql: String = {
    val desc = classes.sorted.reverse
    val branches = desc.init.map { c =>
      val conds = classes.sorted.filter(_ != c)
        .map(o => s"v_$c >= v_$o").mkString(" AND ")
      s"WHEN $conds THEN $c"
    }.mkString(" ")
    s"(CASE $branches ELSE ${desc.last} END)"
  }

  /** Aliased render: ballot shares over the `v_<c>` aliases. */
  def probSharesSql: String =
    classes.sorted.map(c =>
      s"round(CAST(v_$c AS DOUBLE) / ${trees.size}, 6) AS p_$c")
      .mkString(", ")
}
