package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.collection.mutable

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
    * format has none) — there the probability degenerates to the hard
    * 0/1 label.
    */
  def probExpr: Column = {
    import org.apache.spark.sql.functions.{col, lit, when}
    def p1Of(id: Long): Double = {
      var cur = id
      while (cur > 1 && !nodeP1.contains(cur)) cur /= 2
      nodeP1.getOrElse(cur, root.leafLabels.headOption.getOrElse(0).toDouble)
    }
    def go(id: Long): Column = nodeSplits.get(id) match {
      case Some(s) =>
        when(col(s.attribute) <= lit(s.threshold), go(2 * id)).otherwise(go(2 * id + 1))
      case None => nodeCatSplits.get(id) match {
        case Some((a, vs)) =>
          when(col(a).cast("string").isin(vs: _*), go(2 * id))
            .otherwise(go(2 * id + 1))
        case None => lit(p1Of(id))
      }
    }
    if (nodeSplits.isEmpty && nodeCatSplits.isEmpty && nodeP1.isEmpty)
      root.predictionExpr.cast("double")
    else go(1L)
  }

  def transformProb(samples: DataFrame, outCol: String = "p1"): DataFrame =
    samples.withColumn(outCol, probExpr)

  /** The probability tree as portable ANSI SQL (cf. TreeNode.caseSql). */
  def probCaseSql: String = {
    def p1Of(id: Long): Double = {
      var cur = id
      while (cur > 1 && !nodeP1.contains(cur)) cur /= 2
      nodeP1.getOrElse(cur, 0.0)
    }
    def go(id: Long): String = nodeSplits.get(id) match {
      case Some(s) =>
        s"(CASE WHEN ${s.attribute} <= ${s.threshold} THEN ${go(2 * id)} ELSE ${go(2 * id + 1)} END)"
      case None => nodeCatSplits.get(id) match {
        case Some((a, vs)) =>
          val inList = vs.map(v => "'" + v.replace("'", "''") + "'")
            .mkString("(", ", ", ")")
          s"(CASE WHEN CAST($a AS STRING) IN $inList THEN ${go(2 * id)} ELSE ${go(2 * id + 1)} END)"
        case None => s"(${p1Of(id)})"
      }
    }
    go(1L)
  }

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
  * Spark-first design (level-wise, MLlib-style): the data is never
  * split or cached per node. Each level costs exactly TWO scans of the
  * source, regardless of how many nodes are open:
  *
  *   1. `groupBy(nodeId)` aggregate → per-node count, class-1 rate and
  *      per-feature split threshold (partial aggregation → the shuffle
  *      carries O(partitions × nodes × features) values, not rows).
  *   2. `groupBy(nodeId)` aggregate with per-node conditional
  *      thresholds → per (node, feature) left/right class-1 rate and
  *      counts.
  *
  * The node id of each row is computed on the fly from a table of the
  * splits decided so far (FitInternals.routeExpr) — no node column is
  * persisted, and every level pass runs the same generated code.
  * Driver state is O(nodes × features) scalars; row data never reaches
  * the driver. Stopping rules, tie-breaks, empty-side handling and
  * pruning match the reference (dtree.py:216-250):
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
  import FitInternals.{MaxLevels, NodeStats, numOr}

  /** The weighted label product's pre-projection name: distinct from
    * every feature product (`__pv_wv_<feature>`), so a feature named
    * like the label never reuses it.
    */
  private val LabelProduct = "__pv_wy"

  def fit(dataset: DataFrame, prune: Boolean = false): FittedDecisionTree =
    FitInternals.withWorkingSet(dataset, params.featureColumns ++
      categoricalColumns ++ weightColumn :+ params.classColumn)(fitOn(_, prune))

  /** Fit on an already-prepared (projected + cached) working set —
    * no extra projection or persist. Used by ensemble learners that
    * cache ONE base table and fit many trees against filtered views
    * of it, instead of materializing a fresh cache per tree.
    */
  private[tree] def fitCached(dataset: DataFrame, prune: Boolean = false): FittedDecisionTree =
    fitOn(dataset, prune)

  private def fitOn(dataset: DataFrame, prune: Boolean): FittedDecisionTree = {
    val features = params.featureColumns
    val catFeatures = categoricalColumns
    val clsCol = col(params.classColumn).cast("double")
    val metric = params.metric
    val method = params.method
    // WEIGHTED fit (r12): every count becomes sum(w), every rate a
    // w-weighted mean (FitInternals.WeightedAggs)
    val wcol = weightColumn.map(c => col(c).cast("double"))
    FitInternals.requireMeanSplitter(params, catFeatures.nonEmpty, weightColumn.nonEmpty)
    FitInternals.requirePositiveWeights(dataset, weightColumn)
    val catDict = FitInternals.dictionaries(dataset, None, catFeatures)._2

    // nodeId -> decided split; nodeId -> leaf label; nodeId -> majority
    val splits = mutable.Map.empty[Long, SplitParams]
    val catSplits = mutable.Map.empty[Long, (String, Seq[String])]
    val leaves = mutable.Map.empty[Long, Int]
    val majorities = mutable.Map.empty[Long, Int]
    val p1s = mutable.Map.empty[Long, Double]

    var open: Seq[Long] = Seq(1L)
    var depth = 0

    // ROOT stats — the ONLY dedicated stats pass. Every deeper
    // node's (count, p1, thresholds) are computed inside its
    // PARENT's fused split aggregate below, halving the number of
    // jobs per level (the fit is a sequence of driver-coordinated
    // aggregate jobs over the cached working set, so job count is
    // the dominant cost at every scale where the scan itself is
    // sub-second — and at 100 TB, one saved pass per level is one
    // saved full-corpus scan).
    val rootPass = new FitInternals.WeightedAggs(wcol, method)
    val rootAggs =
      rootPass.mass(None).as("n") +:
      rootPass.rate(None, clsCol, LabelProduct).as("p1") +:
      features.map(f => rootPass.threshold(None, col(f).cast("double"),
        s"__pv_wv_$f").as(s"thr_$f")) :+
      FitInternals.nullCount(clsCol).as("nulls")
    val rootRow = rootPass.under(dataset).agg(rootAggs.head, rootAggs.tail: _*).collect()(0)
    FitInternals.requireNonNullLabel(params.classColumn, rootRow.getLong(2 + features.size))
    // open node -> stats, inherited level to level
    var openStats: Map[Long, NodeStats] =
      if (numOr(rootRow.get(0), 0.0) == 0.0) Map.empty
      else Map(1L -> NodeStats(numOr(rootRow.get(0), 0.0),
        numOr(rootRow.get(1), Double.NaN),
        features.zipWithIndex.map { case (f, i) =>
          f -> numOr(rootRow.get(2 + i), Double.NaN)
        }.toMap))

    while (open.nonEmpty && depth < MaxLevels) {
      val present = open.flatMap(id => openStats.get(id).map(id -> _))
      present.foreach { case (id, st) =>
        majorities(id) = st.majority
        p1s(id) = st.p1
      }

      // Stopping rules (reference dtree.py:216-225).
      val (toSplit, toLeaf) = present.partition { case (_, st) =>
        FitInternals.shouldSplit(st, params, depth)
      }
      toLeaf.foreach { case (id, st) => leaves(id) = st.majority }
      // Open ids with no stats = empty regions (cannot happen for
      // reachable nodes, but close them defensively).
      open.filterNot(openStats.contains).foreach(id => leaves(id) = 0)

      if (toSplit.nonEmpty) {
        // Fused pass: per-(node, feature) split stats AND, for every
        // candidate split feature f, the would-be CHILD thresholds of
        // every feature g (`thresholdExpr` over the when-filtered
        // side) — so after the best feature is picked, both children
        // arrive with complete NodeStats and need no stats pass of
        // their own. Candidate threshold dispatch per node via
        // FitInternals.levelThresholdExpr.
        val nodeCol = FitInternals.routeExpr(features, catFeatures, splits, catSplits).as("node")
        def thrExpr(f: String): Column =
          FitInternals.levelThresholdExpr(
            toSplit.map { case (id, st) => id -> st.thresholds(f) })
        // fresh pre-projection per level: the side booleans are
        // computed once per row instead of inside every aggregate
        val pass = new FitInternals.WeightedAggs(wcol, method)
        val splitAggs = features.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pass(s"__pv_le_$f", fc <= thrExpr(f))
          val gt = pass(s"__pv_gt_$f", fc > thrExpr(f))
          Seq(
            pass.rate(Some(le), clsCol, LabelProduct).as(s"lp1_$f"),
            pass.rate(Some(gt), clsCol, LabelProduct).as(s"rp1_$f"),
            pass.mass(Some(le)).as(s"ln_$f"),
            pass.mass(Some(gt)).as(s"rn_$f")) ++
          features.flatMap { g =>
            val gc = col(g).cast("double")
            Seq(
              pass.threshold(Some(le), gc, s"__pv_wv_$g").as(s"cthl_${f}__$g"),
              pass.threshold(Some(gt), gc, s"__pv_wv_$g").as(s"cthr_${f}__$g"))
          }
        }
        // categorical cells fused into the SAME aggregate (the k-ary
        // layout at k = 2): per (feature, category) the class-1 sum
        // and count — every prefix split of the p1-ordered categories
        // scores from these, driver-side — plus per numeric feature
        // the sums a chosen set composes its child thresholds from
        val catAggs = catFeatures.zipWithIndex.flatMap { case (q, qi) =>
          val qc = col(q).cast("string")
          catDict(q).zipWithIndex.flatMap { case (v, vi) =>
            val in = pass(s"__pv_in_${qi}_$vi", qc === v)
            Seq(
              pass.sumOf(in, clsCol, LabelProduct).as(s"qs_${qi}_$vi"),
              pass.mass(Some(in)).as(s"qn_${qi}_$vi")) ++
            features.map(g => pass.sumOf(in, col(g).cast("double"),
              s"__pv_wv_$g").as(s"qg_${qi}_${vi}_$g"))
          }
        }
        val allAggs = splitAggs ++ catAggs
        val splitRows = pass.under(dataset
          .select(col("*"), nodeCol))
          .groupBy("node")
          .agg(allAggs.head, allAggs.tail: _*)
          .collect()
          .map(r => r.getLong(0) -> r)
          .toMap

        val nextOpen = mutable.Buffer.empty[Long]
        val nextStats = Map.newBuilder[Long, NodeStats]
        toSplit.foreach { case (id, st) =>
          val row = splitRows(id)
          def cell(nm: String): Any = row.get(row.fieldIndex(nm))
          // unified candidate: a numeric threshold (Left) or a
          // categorical left-set (Right); the REFERENCE objective
          // (unweighted metric(L) + metric(R) — fine at k = 2) and
          // the reference (metric, name) tie-break
          case class Cand(name: String, choice: Either[Double, Seq[String]],
                          lp1: Double, rp1: Double, ln: Double, rn: Double,
                          m: Double, degenerate: Boolean)
          // Best feature by (metric asc, name asc) — same deterministic
          // tie-break as Splitting.computeAllSplits.
          val scoredFeatures = features.sorted.map { f =>
            val lp1 = numOr(cell(s"lp1_$f"), 0.0)
            val rp1 = numOr(cell(s"rp1_$f"), 0.0)
            val ln = numOr(cell(s"ln_$f"), 0.0)
            val rn = numOr(cell(s"rn_$f"), 0.0)
            val m = metric.evalFromP1(lp1) + metric.evalFromP1(rp1)
            Cand(f, Left(st.thresholds(f)), lp1, rp1, ln, rn,
              if (m.isNaN) 0.0 else m,
              degenerate = math.min(ln, rn) == 0.0 || st.thresholds(f).isNaN)
          }
          // categorical: Breiman p1-ordered prefixes (provably optimal
          // at k = 2 for concave impurities) from the |V| cells
          val scoredCats = catFeatures.zipWithIndex.flatMap { case (q, qi) =>
            val perCat = catDict(q).zipWithIndex.map { case (v, vi) =>
              (v, numOr(cell(s"qn_${qi}_$vi"), 0.0),
                numOr(cell(s"qs_${qi}_$vi"), 0.0))
            }.filter(_._2 > 0.0)
            if (perCat.size < 2) None
            else {
              val ordered = perCat.sortBy { case (v, n, s) => (s / n, v) }
              val bounds = (1 until ordered.size).map { b =>
                val (lf, rt) = ordered.splitAt(b)
                val ln = lf.map(_._2).sum; val rn = rt.map(_._2).sum
                val lp1 = lf.map(_._3).sum / ln
                val rp1 = rt.map(_._3).sum / rn
                val m = metric.evalFromP1(lp1) + metric.evalFromP1(rp1)
                (lf.map(_._1), lp1, rp1, ln, rn, if (m.isNaN) 0.0 else m, b)
              }
              val bb = FitInternals.pickBest(bounds, metric)(_._6, _._7).get
              Some(Cand(q, Right(bb._1), bb._2, bb._3, bb._4, bb._5, bb._6,
                degenerate = false))
            }
          }
          // Reference parity (numeric-only fits, the reference's whole
          // feature domain): degenerate candidates COMPETE in the argmin
          // and a degenerate winner leafs the node — exactly
          // compute_all_splits' fill_nan(0.) + dtree.py:233-234's
          // empty-side stop. In the categorical EXTENSION a constant /
          // all-null numeric feature scoring metric(parent) (or 0.0 from
          // NaN) under the unweighted metric(L)+metric(R) objective would
          // win the argmin and suppress a genuinely gainful IN-set split,
          // so there degenerates are filtered BEFORE the argmin — the
          // multiclass convention (r12 advice); leaf only when no
          // non-degenerate candidate remains.
          val allCands = scoredFeatures ++ scoredCats
          val cands =
            (if (catFeatures.isEmpty) allCands
             else allCands.filterNot(_.degenerate)).sortBy(_.name)
          val bestOpt = FitInternals.pickBest(cands, metric)(_.m, _.name)
          if (bestOpt.isEmpty || bestOpt.get.degenerate) {
            leaves(id) = st.majority // reference dtree.py:233-234
          } else {
            val best = bestOpt.get
            val (thrL, thrR) = best.choice match {
              case Left(bt) =>
                splits(id) = SplitParams(best.name, bt)
                (features.map(g =>
                   g -> numOr(cell(s"cthl_${best.name}__$g"), Double.NaN)).toMap,
                 features.map(g =>
                   g -> numOr(cell(s"cthr_${best.name}__$g"), Double.NaN)).toMap)
              case Right(leftSet) =>
                catSplits(id) = (best.name, leftSet)
                // child numeric thresholds composed from per-category
                // sums: mean = Σ side sums / side n
                val qi = catFeatures.indexOf(best.name)
                val inLeft = leftSet.toSet
                val sideIdx = catDict(best.name).zipWithIndex
                def composed(left: Boolean, n: Double): Map[String, Double] =
                  features.map { g =>
                    val s = sideIdx.collect {
                      case (v, vi) if inLeft(v) == left =>
                        numOr(cell(s"qg_${qi}_${vi}_$g"), 0.0)
                    }.sum
                    g -> (if (n == 0.0) Double.NaN else s / n)
                  }.toMap
                (composed(left = true, best.ln),
                 composed(left = false, best.rn))
            }
            nextStats += (2 * id) -> NodeStats(best.ln, best.lp1, thrL)
            nextStats += (2 * id + 1) -> NodeStats(best.rn, best.rp1, thrR)
            nextOpen += 2 * id
            nextOpen += 2 * id + 1
          }
        }
        open = nextOpen.toSeq
        openStats = nextStats.result()
      } else {
        open = Seq.empty
      }
      depth += 1
    }
    // nodes still open at the safety cap never got their own stats:
    // they take the nearest ancestor's majority
    val root = FitInternals.buildClassifier(splits, catSplits, leaves,
      majorities, params.classColumn, prune)
    new FittedDecisionTree(params, root,
      nodeSplits = splits.toMap, nodeP1 = p1s.toMap,
      nodeCatSplits = catSplits.toMap)
  }
}
