package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Random-forest ensemble over the level-wise distributed tree
  * learner — the quality-classifier shape training-data pipelines
  * actually deploy (bagged trees voting on document keep/drop).
  *
  * Determinism by construction (so fits are reproducible and
  * oracle-checkable):
  *  - row bagging hashes the FEATURE VALUES (xxhash64 seeded by the
  *    tree index) — stable under any partitioning, unlike
  *    monotonically_increasing_id;
  *  - feature bagging rotates a deterministic window over the
  *    feature list per tree.
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

  private def featuresFor(tree: Int): Seq[String] = {
    val all = params.featureColumns
    val m = if (featureSubsetSize <= 0) all.size else math.min(featureSubsetSize, all.size)
    (0 until m).map(j => all(math.floorMod(tree + seed + j, all.size).toInt)).distinct
  }

  /** Per-tree categorical subset (the k-ary forest's rotation). */
  private def catsFor(tree: Int): Seq[String] = {
    val all = categoricalColumns
    if (all.isEmpty) Seq.empty
    else {
      val m = if (featureSubsetSize <= 0) all.size
              else math.min(featureSubsetSize, all.size)
      (0 until m).map(j => all(math.floorMod(tree + seed + j, all.size).toInt)).distinct
    }
  }

  /** Deterministic per-tree row bag: hash of the feature values
    * (categorical columns join the hash; with none the bags are
    * bit-identical to the pre-categorical forest's). */
  private[tree] def bagFilter(tree: Int): Column = {
    val h = xxhash64((lit(seed) +: lit(tree) +:
      (params.featureColumns ++ categoricalColumns).map(col)): _*)
    pmod(h, lit(1000L)) < lit((bagFraction * 1000).toLong)
  }

  /** Fused level-wise forest fit: ONE pair of aggregate passes per
    * LEVEL for the whole ensemble, not per tree. Every row explodes
    * into its (tree, node) memberships (bag filters applied inside
    * the explode), and a single groupBy(tree, node) aggregate
    * computes all trees' node stats simultaneously — so the job count
    * is O(depth), independent of ensemble size, and the shuffle
    * carries O(trees × nodes × features) scalars. Produces trees
    * IDENTICAL to fitting each one with DecisionTree.fit (spec-checked
    * against the sequential path).
    */
  def fit(dataset: DataFrame): FittedRandomForest =
    FitInternals.withWorkingSet(dataset, workingColumns)(fitFusedOn)

  /** The straightforward tree-at-a-time fit (kept as the reference
    * implementation the fused fit is verified against).
    */
  private[tree] def fitSequential(dataset: DataFrame): FittedRandomForest =
    FitInternals.withWorkingSet(dataset, workingColumns) { work =>
      val trees = (0 until numTrees).map { i =>
        val treeParams = params.copy(featureColumns = featuresFor(i))
        new DecisionTree(treeParams, catsFor(i))
          .fitCached(work.filter(bagFilter(i)))
      }
      new FittedRandomForest(this, trees)
    }

  private def workingColumns: Seq[String] =
    params.featureColumns ++ categoricalColumns :+ params.classColumn

  private def fitFusedOn(dataset: DataFrame): FittedRandomForest = {
    import FitInternals.{MaxLevels, NodeStats, numOr}
    import scala.collection.mutable
    val features = params.featureColumns
    val catFeatures = categoricalColumns
    val clsCol = col(params.classColumn).cast("double")
    val metric = params.metric
    val method = params.method
    val treeFeatures = (0 until numTrees).map(featuresFor)
    val treeCats = (0 until numTrees).map(catsFor)
    // the single tree's fit-time contracts (categorical child
    // thresholds compose from sums; NULL categoricals rejected)
    FitInternals.requireMeanSplitter(params, catFeatures.nonEmpty, weighted = false)
    val catDict = FitInternals.dictionaries(dataset, None, catFeatures)._2

    val splits = Array.fill(numTrees)(mutable.Map.empty[Long, SplitParams])
    val catSplits =
      Array.fill(numTrees)(mutable.Map.empty[Long, (String, Seq[String])])
    val leaves = Array.fill(numTrees)(mutable.Map.empty[Long, Int])
    val majorities = Array.fill(numTrees)(mutable.Map.empty[Long, Int])
    val p1s = Array.fill(numTrees)(mutable.Map.empty[Long, Double])

    def exploded: DataFrame = FitInternals.forestMemberships(dataset, numTrees,
      bagFilter, i => FitInternals.routeExpr(features, catFeatures, splits(i), catSplits(i)))

    val open = Array.fill(numTrees)(Seq(1L))
    var depth = 0

    while (open.exists(_.nonEmpty) && depth < MaxLevels) {
      // Pass 1: per-(tree, node) count, p1, and per-feature thresholds.
      // (the label NULL count rides along; the root level checks it)
      val statAggs =
        count(lit(1)).as("n") +:
        avg(clsCol).as("p1") +:
        features.map(f => method.thresholdExpr(col(f).cast("double")).as(s"thr_$f")) :+
        FitInternals.nullCount(clsCol).as("nulls")
      val stats = exploded.groupBy("t", "node").agg(statAggs.head, statAggs.tail: _*)
      val rawStats =
        FitInternals.withJobDescription(stats, s"RandomForest.fit level=$depth")(stats.collect())
      if (depth == 0) FitInternals.requireNonNullLabel(params.classColumn,
        rawStats.map(_.getLong(4 + features.size)).sum)
      val statRows = rawStats
        .map { r =>
          val thr = features.zipWithIndex.map { case (f, i) =>
            // layout: t, node, n, p1, thr_0, ...
            f -> numOr(r.get(4 + i), Double.NaN)
          }.toMap
          (r.getInt(0), r.getLong(1)) -> NodeStats(r.getLong(2).toDouble, r.getDouble(3), thr)
        }.toMap

      // Per-tree stopping rules — identical to DecisionTree.fitOn.
      val toSplit = mutable.Buffer.empty[(Int, Long, NodeStats)]
      (0 until numTrees).foreach { i =>
        val openStats = open(i).flatMap(id => statRows.get((i, id)).map(id -> _))
        openStats.foreach { case (id, st) =>
          majorities(i)(id) = st.majority
          p1s(i)(id) = st.p1
        }
        val (sp, lf) = openStats.partition { case (_, st) =>
          FitInternals.shouldSplit(st, params, depth)
        }
        lf.foreach { case (id, st) => leaves(i)(id) = st.majority }
        open(i).filterNot(id => statRows.contains((i, id)))
          .foreach(id => leaves(i)(id) = 0)
        sp.foreach { case (id, st) => toSplit += ((i, id, st)) }
      }

      if (toSplit.nonEmpty) {
        // Pass 2: per-(tree, node, feature) split stats. Candidate
        // threshold dispatch per (tree, node) via FitInternals.
        def thrExpr(f: String): Column =
          FitInternals.levelThresholdExprForest(
            toSplit.map { case (i, id, st) => (i, id, st.thresholds(f)) }.toSeq)
        // side booleans pre-projected once per exploded row, not
        // inside all four aggregates of every feature
        val pv = new FitInternals.PreProjection
        val splitAggs = features.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pv.side(s"__pv_le_$f", fc <= thrExpr(f))
          val gt = pv.side(s"__pv_gt_$f", fc > thrExpr(f))
          Seq(
            avg(when(le, clsCol)).as(s"lp1_$f"),
            avg(when(gt, clsCol)).as(s"rp1_$f"),
            count(when(le, lit(1))).as(s"ln_$f"),
            count(when(gt, lit(1))).as(s"rn_$f"))
        }
        // categorical cells (the k-ary forest's at k = 2): class-1 sum
        // + count; prefix splits score driver-side, child stats
        // recompute next level
        val level = FitInternals.levelAggregate(exploded, Seq("t", "node"), pv,
          splitAggs, catFeatures, Seq(sum(clsCol).as("cs"), count(lit(1)).as("cn")),
          s"RandomForest.fit level=$depth")(r => (r.getInt(0), r.getLong(1)))

        val nextOpen = Array.fill(numTrees)(mutable.Buffer.empty[Long])
        toSplit.foreach { case (i, id, st) =>
          val row = level((i, id))
          def cell(nm: String): Any = row.get(row.fieldIndex(nm))
          // unified candidates under the REFERENCE objective and
          // leaf-if-degenerate-best rule — the exact DecisionTree
          // scorer, per tree subset (parity contract)
          case class Cand(name: String, choice: Either[Double, Seq[String]],
                          ln: Long, rn: Long, m: Double, degenerate: Boolean)
          val scoredFeatures = treeFeatures(i).sorted.map { f =>
            val lp1 = numOr(cell(s"lp1_$f"), 0.0)
            val rp1 = numOr(cell(s"rp1_$f"), 0.0)
            val ln = row.getLong(row.fieldIndex(s"ln_$f"))
            val rn = row.getLong(row.fieldIndex(s"rn_$f"))
            val m = metric.evalFromP1(lp1) + metric.evalFromP1(rp1)
            Cand(f, Left(st.thresholds(f)), ln, rn, if (m.isNaN) 0.0 else m,
              degenerate = math.min(ln, rn) == 0L || st.thresholds(f).isNaN)
          }
          val scoredCats = treeCats(i).flatMap { q =>
            val qi = catFeatures.indexOf(q)
            val perCat = catDict(q).map { v =>
              (v, numOr(level.cell((i, id), qi, v, "cn"), 0.0).toLong,
                numOr(level.cell((i, id), qi, v, "cs"), 0.0))
            }.filter(_._2 > 0L)
            if (perCat.size < 2) None
            else {
              val ordered = perCat.sortBy { case (v, n, sm) => (sm / n, v) }
              val bounds = (1 until ordered.size).map { b =>
                val (lf, rt) = ordered.splitAt(b)
                val ln = lf.map(_._2).sum; val rn = rt.map(_._2).sum
                val lp1 = lf.map(_._3).sum / ln
                val rp1 = rt.map(_._3).sum / rn
                val m = metric.evalFromP1(lp1) + metric.evalFromP1(rp1)
                (lf.map(_._1), ln, rn, if (m.isNaN) 0.0 else m, b)
              }
              val bb = FitInternals.pickBest(bounds, metric)(_._4, _._5).get
              Some(Cand(q, Right(bb._1), bb._2, bb._3, bb._4,
                degenerate = false))
            }
          }
          // Lockstep with DecisionTree's rule (r12 advice): numeric-only
          // trees keep the reference leaf-if-degenerate-best semantics;
          // a tree that ALSO draws categorical candidates filters
          // degenerate numerics before the argmin so a constant/all-null
          // feature can't suppress a gainful IN-set split.
          val allCands = scoredFeatures ++ scoredCats
          val cands =
            (if (treeCats(i).isEmpty) allCands
             else allCands.filterNot(_.degenerate)).sortBy(_.name)
          val bestOpt = FitInternals.pickBest(cands, metric)(_.m, _.name)
          if (bestOpt.isEmpty || bestOpt.get.degenerate) {
            leaves(i)(id) = st.majority
          } else bestOpt.get.choice match {
            case Left(bt) =>
              splits(i)(id) = SplitParams(bestOpt.get.name, bt)
              nextOpen(i) += 2 * id
              nextOpen(i) += 2 * id + 1
            case Right(leftSet) =>
              catSplits(i)(id) = (bestOpt.get.name, leftSet)
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

    val trees = (0 until numTrees).map { i =>
      new FittedDecisionTree(params.copy(featureColumns = treeFeatures(i)),
        FitInternals.buildClassifier(splits(i), catSplits(i), leaves(i),
          majorities(i), params.classColumn),
        nodeSplits = splits(i).toMap, nodeP1 = p1s(i).toMap,
        nodeCatSplits = catSplits(i).toMap)
    }
    new FittedRandomForest(this, trees)
  }
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
