package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** K-ary random forest — [[RandomForest]]'s fused level-wise ensemble
  * fit generalized the same way [[MulticlassDecisionTree]] generalizes
  * [[DecisionTree]]: per-(tree, node) class-COUNT vectors replace the
  * class-1 rate, splits score by the WEIGHTED child impurity (the
  * k-ary-correct CART objective — see MulticlassDecisionTree's scorer
  * comment for why the reference's unweighted sum collapses at k ≥ 3),
  * and the vote is the per-class ballot argmax with ties to the
  * LARGER label (the binary votes·2 > trees convention extended).
  *
  * Determinism and scale shape are inherited unchanged: the same
  * feature-value-hash row bags and rotated feature subsets as the
  * binary forest (so fits are reproducible and oracle-renderable),
  * and ONE pair of aggregate passes per LEVEL for the whole ensemble
  * — each row explodes into its (tree, node) memberships, a single
  * groupBy(tree, node) computes every tree's stats simultaneously,
  * job count O(depth) independent of ensemble size, shuffled bytes
  * O(trees × nodes × features × k) scalars. Produces trees IDENTICAL
  * to fitting each one with MulticlassDecisionTree.fit on its bag
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

  private[tree] def featuresFor(tree: Int): Seq[String] = {
    val all = params.featureColumns
    val m = if (featureSubsetSize <= 0) all.size else math.min(featureSubsetSize, all.size)
    (0 until m).map(j => all(math.floorMod(tree + seed + j, all.size).toInt)).distinct
  }

  /** Per-tree categorical subset: the featuresFor rotation applied to
    * the categorical list (all of them when featureSubsetSize ≤ 0 or
    * there are that few). */
  private[tree] def catsFor(tree: Int): Seq[String] = {
    val all = categoricalColumns
    if (all.isEmpty) Seq.empty
    else {
      val m = if (featureSubsetSize <= 0) all.size
              else math.min(featureSubsetSize, all.size)
      (0 until m).map(j => all(math.floorMod(tree + seed + j, all.size).toInt)).distinct
    }
  }

  private def workingColumns: Seq[String] =
    params.featureColumns ++ categoricalColumns ++ weightColumn :+ params.classColumn

  /** Deterministic per-tree row bag: hash of the feature values —
    * identical arithmetic to [[RandomForest.bagFilter]] (categorical
    * columns join the hash; with none the bags are bit-identical to
    * the numeric-only forest's). */
  private[tree] def bagFilter(tree: Int): Column = {
    val h = xxhash64((lit(seed) +: lit(tree) +:
      (params.featureColumns ++ categoricalColumns).map(col)): _*)
    pmod(h, lit(1000L)) < lit((bagFraction * 1000).toLong)
  }

  def fit(dataset: DataFrame): FittedMulticlassForest =
    FitInternals.withWorkingSet(dataset, workingColumns)(fitFusedOn)

  /** Tree-at-a-time reference implementation the fused fit is
    * verified against. */
  private[tree] def fitSequential(dataset: DataFrame): FittedMulticlassForest =
    FitInternals.withWorkingSet(dataset, workingColumns) { work =>
      val fitted = (0 until numTrees).map { i =>
        val treeParams = params.copy(featureColumns = featuresFor(i))
        new MulticlassDecisionTree(treeParams, catsFor(i), weightColumn)
          .fit(work.filter(bagFilter(i)))
      }
      new FittedMulticlassForest(this, fitted.head.classes, fitted)
    }

  private def fitFusedOn(dataset: DataFrame): FittedMulticlassForest = {
    import FitInternals.{MaxLevels, numOr}
    val features = params.featureColumns
    val catFeatures = categoricalColumns
    val clsCol = col(params.classColumn).cast("int")
    val metric = params.metric
    val method = params.method
    val treeFeatures = (0 until numTrees).map(featuresFor)
    val treeCats = (0 until numTrees).map(catsFor)
    // WEIGHTED fit (r12): class counts become class MASSES sum(w),
    // thresholds w-weighted means — the MulticlassDecisionTree
    // kernels' values, so the fused ≡ sequential contract extends to
    // weighted fits unchanged
    val wcol = weightColumn.map(c => col(c).cast("double"))
    FitInternals.requireMeanSplitter(params, catFeatures.nonEmpty, weightColumn.nonEmpty)
    FitInternals.requirePositiveWeights(dataset, weightColumn)
    def clsMassAgg(cond: Column): Column = wcol match {
      case None => count(when(cond, lit(1)))
      case Some(w) => sum(when(cond, w))
    }
    def thrAgg(g: Column): Column = wcol match {
      case None => method.thresholdExpr(g)
      case Some(w) =>
        val ws = sum(w)
        when(ws > 0.0, sum(w * g) / ws)
    }

    // fused ≡ sequential is exact on null-free categoricals (rejected
    // by FitInternals.dictionaries) and, for the child-threshold
    // recompute-vs-compose step, only when numeric features are
    // integer-valued (both paths' mean thresholds are then the same
    // exact doubles; non-integer features can differ in ULPs and flip
    // a later split — the documented FP caveat the parity specs
    // fixture around)
    val (classes, catDict) = FitInternals.dictionaries(dataset,
      Some(params.classColumn), catFeatures,
      cs => require(cs.nonEmpty, "empty training set"))
    val k = classes.size

    final case class McStats(counts: Seq[Double], thresholds: Map[String, Double]) {
      def count: Double = counts.sum
      def entropy: Double = EntropySplitMetric.evalFromMasses(counts)
      def majority: Int =
        classes.zip(counts).maxBy { case (label, n) => (n, label) }._1
    }

    val splits = Array.fill(numTrees)(mutable.Map.empty[Long, SplitParams])
    val catSplits =
      Array.fill(numTrees)(mutable.Map.empty[Long, (String, Seq[String])])
    val leaves = Array.fill(numTrees)(mutable.Map.empty[Long, Int])
    val majorities = Array.fill(numTrees)(mutable.Map.empty[Long, Int])
    val dists = Array.fill(numTrees)(mutable.Map.empty[Long, Seq[Double]])

    def exploded: DataFrame = FitInternals.forestMemberships(dataset, numTrees,
      bagFilter, i => FitInternals.routeExpr(features, catFeatures, splits(i), catSplits(i)))

    val open = Array.fill(numTrees)(Seq(1L))
    var depth = 0

    while (open.exists(_.nonEmpty) && depth < MaxLevels) {
      // Pass 1: per-(tree, node) class counts + per-feature thresholds.
      val statAggs =
        classes.map(c => clsMassAgg(clsCol === c).as(s"n_$c")) ++
        features.map(f => thrAgg(col(f).cast("double")).as(s"thr_$f"))
      val stats = exploded.groupBy("t", "node").agg(statAggs.head, statAggs.tail: _*)
      val statRows = FitInternals.withJobDescription(stats,
          s"MulticlassRandomForest.fit level=$depth")(stats.collect())
        .map { r =>
          val counts = classes.indices.map(i => numOr(r.get(2 + i), 0.0))
          val thr = features.zipWithIndex.map { case (f, i) =>
            f -> numOr(r.get(2 + k + i), Double.NaN)
          }.toMap
          (r.getInt(0), r.getLong(1)) -> McStats(counts, thr)
        }.toMap

      // Per-tree k-ary stopping — the MulticlassDecisionTree gates.
      val toSplit = mutable.Buffer.empty[(Int, Long, McStats)]
      (0 until numTrees).foreach { i =>
        val openStats = open(i).flatMap(id => statRows.get((i, id)).map(id -> _))
        openStats.foreach { case (id, st) =>
          majorities(i)(id) = st.majority
          dists(i)(id) = st.counts
        }
        val (sp, lf) = openStats.partition { case (_, st) =>
          st.entropy != 0.0 &&
            st.entropy >= params.minSplitEntropy &&
            st.count >= params.minSplitSamples &&
            depth != params.maxDepth
        }
        lf.foreach { case (id, st) => leaves(i)(id) = st.majority }
        // stats-less fallback = nearest-ancestor majority (see
        // MulticlassDecisionTree — same rule as the post-loop path)
        open(i).filterNot(id => statRows.contains((i, id))).foreach(id =>
          leaves(i)(id) = FitInternals.ancestorMajority(majorities(i), id))
        sp.foreach { case (id, st) => toSplit += ((i, id, st)) }
      }

      if (toSplit.nonEmpty) {
        // Pass 2: per-(tree, node, feature) left/right class counts.
        def thrExpr(f: String): Column =
          FitInternals.levelThresholdExprForest(
            toSplit.map { case (i, id, st) => (i, id, st.thresholds(f)) }.toSeq)
        // side booleans and class memberships pre-projected once per
        // exploded row, not inside every aggregate
        val pv = new FitInternals.PreProjection
        def classIs(c: Int): Column = pv(s"__pv_c_$c", clsCol === c)
        val splitAggs = features.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pv.side(s"__pv_le_$f", fc <= thrExpr(f))
          val gt = pv.side(s"__pv_gt_$f", fc > thrExpr(f))
          classes.flatMap { c =>
            Seq(
              clsMassAgg(le && classIs(c)).as(s"lc_${f}__$c"),
              clsMassAgg(gt && classIs(c)).as(s"rc_${f}__$c"))
          }
        }
        // categorical cells (the MulticlassDecisionTree's): per
        // (feature, category) class masses; prefix splits score
        // driver-side. Child numeric thresholds need nothing here —
        // pass 1 of the next level recomputes them over the actual
        // child rows.
        val level = FitInternals.levelAggregate(exploded, Seq("t", "node"), pv,
          splitAggs, catFeatures, classes.map(c => clsMassAgg(classIs(c)).as(s"cc_$c")),
          s"MulticlassRandomForest.fit level=$depth")(r => (r.getInt(0), r.getLong(1)))

        val nextOpen = Array.fill(numTrees)(mutable.Buffer.empty[Long])
        toSplit.foreach { case (i, id, st) =>
          val row = level((i, id))
          def cnt(nm: String): Double =
            numOr(row.get(row.fieldIndex(nm)), 0.0)
          val n = st.count
          // unified numeric + categorical candidates — the
          // MulticlassDecisionTree scorer, per tree subset
          case class Cand(name: String, choice: Either[Double, Seq[String]],
                          ln: Double, rn: Double, cost: Double, degenerate: Boolean)
          val scoredNumeric = treeFeatures(i).map { f =>
            val lc = classes.map(c => cnt(s"lc_${f}__$c"))
            val rc = classes.map(c => cnt(s"rc_${f}__$c"))
            val m = (lc.sum * metric.evalFromMasses(lc)
              + rc.sum * metric.evalFromMasses(rc)) / n
            Cand(f, Left(st.thresholds(f)), lc.sum, rc.sum,
              if (m.isNaN) 0.0 else m,
              math.min(lc.sum, rc.sum) == 0.0 || st.thresholds(f).isNaN)
          }
          val scoredCats = treeCats(i).flatMap { q =>
            val qi = catFeatures.indexOf(q)
            val perCat = catDict(q).map { v =>
              (v, classes.map(c => numOr(level.cell((i, id), qi, v, s"cc_$c"), 0.0)))
            }.filter(_._2.sum > 0.0)
            if (perCat.size < 2) None
            else {
              val ordered = perCat.sortBy { case (v, cs) =>
                (cs.head / cs.sum, v)
              }
              val bounds = (1 until ordered.size).map { b =>
                val lc = classes.indices.map(ci => ordered.take(b).map(_._2(ci)).sum)
                val rc = classes.indices.map(ci => ordered.drop(b).map(_._2(ci)).sum)
                val m = (lc.sum * metric.evalFromMasses(lc)
                  + rc.sum * metric.evalFromMasses(rc)) / n
                (ordered.take(b).map(_._1), lc.sum, rc.sum,
                  if (m.isNaN) 0.0 else m, b)
              }
              val best = FitInternals.pickBest(bounds, metric)(_._4, _._5).get
              Some(Cand(q, Right(best._1), best._2, best._3, best._4,
                degenerate = false))
            }
          }
          // degenerates filtered BEFORE the argmin (see
          // MulticlassDecisionTree — same r11-advice fix, kept in
          // lockstep for the fused≡sequential parity contract)
          val cands = (scoredNumeric ++ scoredCats).filterNot(_.degenerate)
            .sortBy(_.name)
          FitInternals.pickBest(cands, metric)(_.cost, _.name) match {
            case None =>
              leaves(i)(id) = st.majority
            case Some(Cand(bf, Left(bt), _, _, _, _)) =>
              splits(i)(id) = SplitParams(bf, bt)
              nextOpen(i) += 2 * id
              nextOpen(i) += 2 * id + 1
            case Some(Cand(bf, Right(leftSet), _, _, _, _)) =>
              catSplits(i)(id) = (bf, leftSet)
              nextOpen(i) += 2 * id
              nextOpen(i) += 2 * id + 1
          }
        }
        (0 until numTrees).foreach(i => open(i) = nextOpen(i).toSeq)
      } else {
        (0 until numTrees).foreach(i => open(i) = Seq.empty)
      }
      depth += 1
    }

    val fitted = (0 until numTrees).map { i =>
      new FittedMulticlassTree(params.copy(featureColumns = treeFeatures(i)),
        classes, FitInternals.buildClassifier(splits(i), catSplits(i),
          leaves(i), majorities(i), params.classColumn),
        splits(i).toMap, dists(i).toMap, catSplits(i).toMap)
    }
    new FittedMulticlassForest(this, classes, fitted)
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
