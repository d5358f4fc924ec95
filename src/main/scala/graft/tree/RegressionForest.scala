package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Bagged regression forest (r12) — the variance-reduction member of
  * the ensemble family (single and boosted regression trees existed;
  * bagging completes it). Deterministic by construction exactly like
  * [[RandomForest]]: row bags hash the FEATURE VALUES (xxhash64
  * seeded by the tree index — stable under any partitioning) and
  * feature bags rotate a deterministic window over the feature list.
  *
  * Scale design is the fused level-wise fit: ONE aggregate pass per
  * LEVEL for the whole ensemble (the [[RegressionTree]] single-pass
  * structure generalized by a tree index — each row explodes into its
  * (tree, node) memberships, bag filters applied inside the explode),
  * so the job count is O(depth), independent of ensemble size, and
  * the shuffle carries O(trees × nodes × features) scalars. Child
  * stats and thresholds COMPOSE from the parent's fused cells exactly
  * as in RegressionTree, so the fused fit produces trees IDENTICAL to
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

  private[tree] def featuresFor(tree: Int): Seq[String] = {
    val all = featureColumns
    val m = if (featureSubsetSize <= 0) all.size
            else math.min(featureSubsetSize, all.size)
    (0 until m).map(j => all(math.floorMod(tree + seed + j, all.size).toInt))
      .distinct
  }

  /** Deterministic per-tree row bag: hash of the feature values
    * (the [[RandomForest.bagFilter]] scheme).
    */
  private[tree] def bagFilter(tree: Int): Column = {
    val h = xxhash64((lit(seed) +: lit(tree) +: featureColumns.map(col)): _*)
    pmod(h, lit(1000L)) < lit((bagFraction * 1000).toLong)
  }

  def fit(dataset: DataFrame): FittedRegressionForest =
    FitInternals.withWorkingSet(dataset, featureColumns :+ targetColumn)(fitFusedOn)

  /** Tree-at-a-time reference fit the fused path is verified against. */
  private[tree] def fitSequential(dataset: DataFrame): FittedRegressionForest =
    FitInternals.withWorkingSet(dataset, featureColumns :+ targetColumn) { work =>
      val trees = (0 until numTrees).map { i =>
        new RegressionTree(featuresFor(i), targetColumn,
          maxDepth = maxDepth, minSplitSamples = minSplitSamples,
          minVarianceReduction = minVarianceReduction)
          .fitCached(work.filter(bagFilter(i))).root
      }
      new FittedRegressionForest(numTrees, trees)
    }

  private def fitFusedOn(dataset: DataFrame): FittedRegressionForest = {
    import FitInternals.{MaxLevels, numOr}
    val y = col(targetColumn).cast("double")
    val features = featureColumns
    val treeFeatures = (0 until numTrees).map(featuresFor)

    case class NodeStats(count: Long, mean: Double, variance: Double,
                         thresholds: Map[String, Double])

    val splits = Array.fill(numTrees)(mutable.Map.empty[Long, SplitParams])
    val leaves = Array.fill(numTrees)(mutable.Map.empty[Long, Double])
    val means = Array.fill(numTrees)(mutable.Map.empty[Long, Double])

    def exploded: DataFrame = FitInternals.forestMemberships(dataset, numTrees,
      bagFilter, i => FitInternals.routeExpr(features, Nil, splits(i), Map.empty))

    // ROOT stats — ONE aggregate for all trees (deeper nodes' stats
    // compose inside their parent's fused split pass, exactly as in
    // RegressionTree: d+1 jobs for a depth-d ensemble fit)
    val rootAggs =
      count(lit(1)).as("n") +: avg(y).as("mean") +: var_pop(y).as("v") +:
      features.map(f => avg(col(f).cast("double")).as(s"thr_$f")) :+
      FitInternals.nullCount(y).as("nulls")
    val rootRows = exploded
      .groupBy("t").agg(rootAggs.head, rootAggs.tail: _*).collect()
    FitInternals.requireNonNullLabel(targetColumn,
      rootRows.map(_.getLong(4 + features.size)).sum)
    var openStats: Map[(Int, Long), NodeStats] = rootRows.map { r =>
      (r.getInt(0), 1L) -> NodeStats(r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) 0.0 else r.getDouble(3),
        features.zipWithIndex.map { case (f, i) =>
          f -> numOr(r.get(4 + i), Double.NaN)
        }.toMap)
    }.toMap

    val open = Array.fill(numTrees)(Seq(1L))
    var depth = 0

    while (open.exists(_.nonEmpty) && depth < maxDepth) {
      val toSplit = mutable.Buffer.empty[(Int, Long, NodeStats)]
      (0 until numTrees).foreach { i =>
        val present = open(i).flatMap(id =>
          openStats.get((i, id)).map(id -> _))
        present.foreach { case (id, st) => means(i)(id) = st.mean }
        val (sp, lf) = present.partition { case (_, st) =>
          st.variance > 0.0 && st.count >= minSplitSamples
        }
        lf.foreach { case (id, st) => leaves(i)(id) = st.mean }
        open(i).filterNot(id => openStats.contains((i, id)))
          .foreach(id => leaves(i)(id) = 0.0)
        sp.foreach { case (id, st) => toSplit += ((i, id, st)) }
      }

      if (toSplit.nonEmpty) {
        def thrExpr(f: String): Column =
          FitInternals.levelThresholdExprForest(
            toSplit.map { case (i, id, st) => (i, id, st.thresholds(f)) }.toSeq)
        // side booleans pre-projected once per exploded row, not
        // inside every aggregate
        val pv = new FitInternals.PreProjection
        val splitAggs = features.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pv(s"__pv_le_$f", fc <= thrExpr(f))
          val gt = pv(s"__pv_gt_$f", fc > thrExpr(f))
          Seq(
            sum(when(le, y)).as(s"ls_$f"),
            sum(when(le, y * y)).as(s"lq_$f"),
            count(when(le, lit(1))).as(s"ln_$f"),
            sum(when(gt, y)).as(s"rs_$f"),
            sum(when(gt, y * y)).as(s"rq_$f"),
            count(when(gt, lit(1))).as(s"rn_$f")) ++
          features.flatMap { g =>
            val gc = col(g).cast("double")
            Seq(
              avg(when(le, gc)).as(s"cthl_${f}__$g"),
              avg(when(gt, gc)).as(s"cthr_${f}__$g"))
          }
        }
        val rows = FitInternals.levelAggregate(exploded, Seq("t", "node"), pv,
          splitAggs, Nil, Nil, s"RegressionRandomForest.fit level=$depth")(
          r => (r.getInt(0), r.getLong(1)))

        val nextOpen = Array.fill(numTrees)(mutable.Buffer.empty[Long])
        val nextStats = Map.newBuilder[(Int, Long), NodeStats]
        toSplit.foreach { case (i, id, st) =>
          val row = rows((i, id))
          def cellD(nm: String): Double = row.getDouble(row.fieldIndex(nm))
          def cellL(nm: String): Long = row.getLong(row.fieldIndex(nm))
          def cell(nm: String): Any = row.get(row.fieldIndex(nm))
          def sideCost(s: Double, q: Double, n: Long): Double = q - s * s / n
          // same scoring as RegressionTree: degenerate candidates
          // filtered before the argmin, relative gain floor
          val scored = treeFeatures(i).sorted.flatMap { f =>
            val ln = cellL(s"ln_$f"); val rn = cellL(s"rn_$f")
            val thr = st.thresholds(f)
            if (math.min(ln, rn) == 0L || thr.isNaN) None
            else {
              val ls = cellD(s"ls_$f"); val lq = cellD(s"lq_$f")
              val rs = cellD(s"rs_$f"); val rq = cellD(s"rq_$f")
              Some((f, thr, ln, rn, ls, lq, rs, rq,
                sideCost(ls, lq, ln) + sideCost(rs, rq, rn)))
            }
          }
          val parentCost = st.variance * st.count
          val best =
            if (scored.isEmpty) None
            else {
              val b = scored.minBy(t => (t._9, t._1))
              if (parentCost - b._9 <
                  math.max(minVarianceReduction, 1e-9 * parentCost)) None
              else Some(b)
            }
          best match {
            case None => leaves(i)(id) = st.mean
            case Some((bf, bt, ln, rn, ls, lq, rs, rq, _)) =>
              splits(i)(id) = SplitParams(bf, bt)
              def childStats(n: Long, s: Double, q: Double,
                             pfx: String): NodeStats =
                NodeStats(n, s / n, math.max(0.0, (q - s * s / n) / n),
                  features.map(g =>
                    g -> numOr(cell(s"$pfx${bf}__$g"), Double.NaN)).toMap)
              nextStats += (i, 2 * id) -> childStats(ln, ls, lq, "cthl_")
              nextStats += (i, 2 * id + 1) -> childStats(rn, rs, rq, "cthr_")
              nextOpen(i) += 2 * id
              nextOpen(i) += 2 * id + 1
          }
        }
        (0 until numTrees).foreach(i => open(i) = nextOpen(i).toSeq)
        openStats = nextStats.result()
      } else {
        (0 until numTrees).foreach(i => open(i) = Seq.empty)
      }
      depth += 1
    }
    // final-level children take their own composed means (the r12
    // RegressionTree fix), ancestor fallback otherwise
    (0 until numTrees).foreach { i =>
      open(i).foreach { id =>
        leaves(i)(id) = openStats.get((i, id)).map(_.mean)
          .getOrElse(means(i).getOrElse(id, {
            var cur = id
            while (cur >= 1 && !means(i).contains(cur)) cur /= 2
            means(i).getOrElse(cur, 0.0)
          }))
      }
    }

    def build(i: Int)(id: Long): RegTreeNode = splits(i).get(id) match {
      case Some(s) =>
        RegSplit(s.attribute, s.threshold, build(i)(2 * id), build(i)(2 * id + 1))
      case None =>
        RegLeaf(leaves(i).getOrElse(id, means(i).getOrElse(id, 0.0)))
    }
    new FittedRegressionForest(numTrees,
      (0 until numTrees).map(i => build(i)(1L)))
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
