package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

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
  * (CART's objective), not the reference's unweighted
  * metric(L)+metric(R) sum — that convention only works at k = 2
  * (see the scorer comment in fitOn for the k ≥ 3 collapse it
  * causes).
  *
  * Scale design is the [[DecisionTree]] level-wise fit, unchanged:
  * the data is never split or cached per node; each level is ONE
  * fused `groupBy(nodeId)` aggregate computing, per (node, feature),
  * the left/right class-count vectors AND every feature's would-be
  * child threshold, so children arrive with complete stats and need
  * no pass of their own. Shuffled bytes are
  * O(partitions × nodes × features × k) scalars, never rows; driver
  * state is the same set of scalars. Row data never reaches the
  * driver.
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
  import FitInternals.{MaxLevels, numOr}

  /** Hard cap on distinct labels: the per-level aggregate carries
    * features × k count columns; past ~64 classes the label space is
    * an embedding problem, not a tree's.
    */
  val MaxClasses = 64

  def fit(dataset: DataFrame, prune: Boolean = false): FittedMulticlassTree =
    FitInternals.withWorkingSet(dataset, params.featureColumns ++
      categoricalColumns ++ weightColumn :+ params.classColumn)(fitOn(_, prune))

  private def fitOn(dataset: DataFrame, prune: Boolean): FittedMulticlassTree = {
    val features = params.featureColumns
    val catFeatures = categoricalColumns
    val clsCol = col(params.classColumn).cast("int")
    val metric = params.metric
    val method = params.method
    // WEIGHTED fit (r12): class counts become class MASSES sum(w),
    // thresholds w-weighted means (FitInternals.WeightedAggs)
    val wcol = weightColumn.map(c => col(c).cast("double"))
    FitInternals.requireMeanSplitter(params, catFeatures.nonEmpty, weightColumn.nonEmpty)
    FitInternals.requirePositiveWeights(dataset, weightColumn)

    // the label DICTIONARY (k values, sorted for a deterministic
    // column layout) and the category dictionaries: one aggregate
    val (classes, catDict) = FitInternals.dictionaries(dataset,
      Some(params.classColumn), catFeatures, { cs =>
        require(cs.nonEmpty, "empty training set")
        require(cs.size <= MaxClasses,
          s"${cs.size} distinct labels exceed MaxClasses=$MaxClasses")
      })

    final case class McStats(counts: Seq[Double], thresholds: Map[String, Double]) {
      def count: Double = counts.sum
      // stopping entropy is ALWAYS the entropy metric, even when
      // splitting on gini — the binary reference convention
      // (dtree.py:211-213) carried over
      def entropy: Double = EntropySplitMetric.evalFromMasses(counts)
      // argmax by (mass, label): ties resolve to the LARGER label,
      // matching the binary p1 >= 0.5 -> 1 convention
      def majority: Int =
        classes.zip(counts).maxBy { case (label, n) => (n, label) }._1
    }

    val splits = mutable.Map.empty[Long, SplitParams]
    val catSplits = mutable.Map.empty[Long, (String, Seq[String])]
    val leaves = mutable.Map.empty[Long, Int]
    val majorities = mutable.Map.empty[Long, Int]
    val dists = mutable.Map.empty[Long, Seq[Double]]
    // per-feature total impurity-mass decrease (gain importances, r12)
    val gains = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    // ROOT stats — the only dedicated stats pass (see DecisionTree:
    // every deeper node's stats are fused into its parent's split
    // aggregate)
    val rootPass = new FitInternals.WeightedAggs(wcol, method)
    val rootAggs =
      classes.map(c => rootPass.mass(Some(clsCol === c)).as(s"n_$c")) ++
      features.map(f => rootPass.threshold(None, col(f).cast("double"),
        s"__pv_wv_$f").as(s"thr_$f"))
    val rootRow = rootPass.under(dataset).agg(rootAggs.head, rootAggs.tail: _*).collect()(0)
    val rootCounts = classes.indices.map(i => numOr(rootRow.get(i), 0.0))
    var openStats: Map[Long, McStats] =
      if (rootCounts.sum == 0.0) Map.empty
      else Map(1L -> McStats(rootCounts,
        features.zipWithIndex.map { case (f, i) =>
          f -> numOr(rootRow.get(classes.size + i), Double.NaN)
        }.toMap))

    var open: Seq[Long] = Seq(1L)
    var depth = 0

    while (open.nonEmpty && depth < MaxLevels) {
      val present = open.flatMap(id => openStats.get(id).map(id -> _))
      present.foreach { case (id, st) =>
        majorities(id) = st.majority
        dists(id) = st.counts
      }

      // the binary stopping rule (FitInternals.shouldSplit) with the
      // k-ary entropy substituted — same four gates, same order
      val (toSplit, toLeaf) = present.partition { case (_, st) =>
        st.entropy != 0.0 &&
          st.entropy >= params.minSplitEntropy &&
          st.count >= params.minSplitSamples &&
          depth != params.maxDepth
      }
      toLeaf.foreach { case (id, st) => leaves(id) = st.majority }
      // stats-less open node (unreachable while empty-side splits are
      // rejected): fall back to the nearest ancestor's majority, the
      // same rule the post-loop handling uses — never class 0
      open.filterNot(openStats.contains).foreach(id =>
        leaves(id) = FitInternals.ancestorMajority(majorities, id))

      if (toSplit.nonEmpty) {
        val nodeCol = FitInternals.routeExpr(features, catFeatures, splits, catSplits).as("node")
        def thrExpr(f: String): Column =
          FitInternals.levelThresholdExpr(
            toSplit.map { case (id, st) => id -> st.thresholds(f) })
        // fresh pre-projection per level: side booleans and class
        // memberships computed once per row
        val pass = new FitInternals.WeightedAggs(wcol, method)
        val splitAggs = features.flatMap { f =>
          val fc = col(f).cast("double")
          val le = pass(s"__pv_le_$f", fc <= thrExpr(f))
          val gt = pass(s"__pv_gt_$f", fc > thrExpr(f))
          classes.flatMap { c =>
            val cc = pass(s"__pv_c_$c", clsCol === c)
            Seq(
              pass.mass(Some(le && cc)).as(s"lc_${f}__$c"),
              pass.mass(Some(gt && cc)).as(s"rc_${f}__$c"))
          } ++
          features.flatMap { g =>
            val gc = col(g).cast("double")
            Seq(
              pass.threshold(Some(le), gc, s"__pv_wv_$g").as(s"cthl_${f}__$g"),
              pass.threshold(Some(gt), gc, s"__pv_wv_$g").as(s"cthr_${f}__$g"))
          }
        }
        // categorical cells, fused into the SAME aggregate: per
        // (feature, category) the class-count vector (every prefix
        // split of the rate-ordered categories scores from these,
        // driver-side) and per numeric feature the side SUM (a chosen
        // set's child mean threshold = Σ sums / Σ counts — no second
        // pass). No per-candidate-set columns exist: the set is
        // decided AFTER the aggregate, from |V| cells, not 2^|V|.
        val catAggs = catFeatures.zipWithIndex.flatMap { case (q, qi) =>
          val qc = col(q).cast("string")
          catDict(q).zipWithIndex.flatMap { case (v, vi) =>
            val in = pass(s"__pv_in_${qi}_$vi", qc === v)
            classes.map { c =>
              val cc = pass(s"__pv_c_$c", clsCol === c)
              pass.mass(Some(in && cc)).as(s"qc_${qi}_${vi}_$c")
            } ++
            features.map(g => pass.sumOf(in, col(g).cast("double"),
              s"__pv_wv_$g").as(s"qs_${qi}_${vi}_$g"))
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
        val nextStats = Map.newBuilder[Long, McStats]
        toSplit.foreach { case (id, st) =>
          val row = splitRows(id)
          def cnt(nm: String): Double =
            numOr(row.get(row.fieldIndex(nm)), 0.0)
          def cell(nm: String): Any = row.get(row.fieldIndex(nm))
          // WEIGHTED child impurity (the standard CART objective),
          // deliberately NOT the binary reference's unweighted
          // metric(L) + metric(R) sum: that convention is k=2-
          // specific. At k=2 a genuine split halves both children's
          // impurity enough that the sum usually drops below the
          // parent's; at k ≥ 3 the impurity ceiling rises (uniform
          // gini 1−1/k), children stay k-ary mixtures, and the
          // unweighted sum of two real children typically EXCEEDS
          // the parent — so a degenerate all-rows-one-side split
          // (parent impurity + empty side's 0) would always "win"
          // and the fit collapses to the root majority (observed on
          // the tier fixture, where an all-zero feature offers
          // exactly that split). Weighting by child mass makes the
          // degenerate split score exactly the parent impurity —
          // never an improvement — and any genuinely impurity-
          // reducing split beat it.
          val n = st.count
          // unified candidate: a numeric threshold (Left) or a
          // categorical left-set (Right); one weighted-child-impurity
          // objective, one (cost, feature-name) tie-break
          case class Cand(name: String, choice: Either[Double, Seq[String]],
                          lc: Seq[Double], rc: Seq[Double], cost: Double,
                          degenerate: Boolean)
          val scoredNumeric = features.map { f =>
            val lc = classes.map(c => cnt(s"lc_${f}__$c"))
            val rc = classes.map(c => cnt(s"rc_${f}__$c"))
            val m = (lc.sum * metric.evalFromMasses(lc)
              + rc.sum * metric.evalFromMasses(rc)) / n
            Cand(f, Left(st.thresholds(f)), lc, rc,
              if (m.isNaN) 0.0 else m,
              math.min(lc.sum, rc.sum) == 0.0 || st.thresholds(f).isNaN)
          }
          // categorical: Breiman-style target-rate ordinal encoding —
          // order the node's present categories by their class-
          // `classes.head` rate (exactly Breiman's optimal ordering at
          // k = 2; the standard heuristic at k ≥ 3), then score every
          // PREFIX boundary of that order. |V|−1 candidates from |V|
          // count cells; the winning prefix becomes the IN-list.
          val scoredCats = catFeatures.zipWithIndex.flatMap { case (q, qi) =>
            val perCat = catDict(q).zipWithIndex.map { case (v, vi) =>
              (v, classes.map(c => cnt(s"qc_${qi}_${vi}_$c")))
            }.filter(_._2.sum > 0.0)
            if (perCat.size < 2) None
            else {
              val ordered = perCat.sortBy { case (v, cs) =>
                (cs.head / cs.sum, v)
              }
              val bounds = (1 until ordered.size).map { b =>
                val left = ordered.take(b)
                val lc = classes.indices.map(i => left.map(_._2(i)).sum)
                val rc = classes.indices.map(i =>
                  ordered.drop(b).map(_._2(i)).sum)
                val m = (lc.sum * metric.evalFromMasses(lc)
                  + rc.sum * metric.evalFromMasses(rc)) / n
                (left.map(_._1), lc, rc, if (m.isNaN) 0.0 else m, b)
              }
              val best = FitInternals.pickBest(bounds, metric)(_._4, _._5).get
              Some(Cand(q, Right(best._1), best._2, best._3, best._4,
                degenerate = false))
            }
          }
          // degenerate candidates (NaN threshold from an all-null
          // feature → cost 0.0; an empty side → cost = parent
          // impurity) must not COMPETE in the argmin — a winning
          // degenerate would force a leaf and suppress a valid
          // categorical/numeric split with genuine gain (r11 advice).
          // Leaf only when no non-degenerate candidate remains.
          val cands = (scoredNumeric ++ scoredCats).filterNot(_.degenerate)
            .sortBy(_.name)
          FitInternals.pickBest(cands, metric)(_.cost, _.name) match {
            case None =>
              leaves(id) = st.majority // every candidate degenerate
            case Some(Cand(bf, choice, lc, rc, bestCost, _)) =>
              // gain = parent impurity mass − children impurity mass
              // (both sides of the weighted-child-impurity objective
              // scaled back to mass units)
              gains(bf) +=
                n * (metric.evalFromMasses(st.counts) - bestCost)
              val (thrL, thrR) = choice match {
                case Left(bt) =>
                  splits(id) = SplitParams(bf, bt)
                  (features.map(g =>
                     g -> numOr(cell(s"cthl_${bf}__$g"), Double.NaN)).toMap,
                   features.map(g =>
                     g -> numOr(cell(s"cthr_${bf}__$g"), Double.NaN)).toMap)
                case Right(leftSet) =>
                  catSplits(id) = (bf, leftSet)
                  // child numeric thresholds composed from the
                  // per-category sums: mean = Σ side sums / side n
                  val qi = catFeatures.indexOf(bf)
                  val inLeft = leftSet.toSet
                  val sideIdx = catDict(bf).zipWithIndex
                  def composed(left: Boolean, total: Double): Map[String, Double] =
                    features.map { g =>
                      val s = sideIdx.collect {
                        case (v, vi) if inLeft(v) == left =>
                          cell(s"qs_${qi}_${vi}_$g")
                      }.filter(_ != null).map(_.asInstanceOf[Number].doubleValue())
                      g -> (if (total == 0.0 || s.isEmpty) Double.NaN
                            else s.sum / total)
                    }.toMap
                  (composed(left = true, lc.sum),
                   composed(left = false, rc.sum))
              }
              nextStats += (2 * id) -> McStats(lc, thrL)
              nextStats += (2 * id + 1) -> McStats(rc, thrR)
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
    val totalGain = gains.values.sum
    val importances =
      if (totalGain <= 0.0) Map.empty[String, Double]
      else gains.map { case (f, g) => f -> g / totalGain }.toMap
    new FittedMulticlassTree(params, classes,
      FitInternals.buildClassifier(splits, catSplits, leaves, majorities,
        params.classColumn, prune),
      splits.toMap, dists.toMap, catSplits.toMap, importances)
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

  private def countsOf(id: Long): Seq[Double] = {
    var cur = id
    while (cur > 1 && !nodeCounts.contains(cur)) cur /= 2
    nodeCounts.getOrElse(cur, Seq.fill(classes.size)(0.0))
  }

  /** Probability of class `c` at each row's leaf — the leaf's
    * training-set class-c fraction, one codegen'd when-chain (the
    * k-ary generalization of the binary `probExpr`).
    */
  def probExpr(c: Int): Column = {
    val ci = classes.indexOf(c)
    require(ci >= 0, s"unknown class $c (classes: $classes)")
    def go(id: Long): Column = nodeSplits.get(id) match {
      case Some(s) =>
        when(col(s.attribute) <= lit(s.threshold), go(2 * id)).otherwise(go(2 * id + 1))
      case None => nodeCatSplits.get(id) match {
        case Some((a, vs)) =>
          when(col(a).cast("string").isin(vs: _*), go(2 * id))
            .otherwise(go(2 * id + 1))
        case None =>
          val cs = countsOf(id)
          val n = cs.sum
          lit(if (n == 0.0) 0.0 else cs(ci) / n)
      }
    }
    go(1L)
  }

  /** Append one probability column per class: `p_<label>`. The row's
    * columns sum to 1 (each leaf's distribution is a frequency
    * vector over the same denominator).
    */
  def transformProb(samples: DataFrame): DataFrame =
    classes.foldLeft(samples)((df, c) => df.withColumn(s"p_$c", probExpr(c)))

  /** Class-`c` probability tree as portable ANSI SQL — the k-ary
    * analogue of the binary `probCaseSql` (DecisionTree.scala): leaf
    * frequencies rendered as double literals (Scala Double.toString
    * round-trips through standard SQL parsers bit-exactly).
    */
  def probCaseSql(c: Int): String = {
    val ci = classes.indexOf(c)
    require(ci >= 0, s"unknown class $c (classes: $classes)")
    def go(id: Long): String = nodeSplits.get(id) match {
      case Some(s) =>
        s"(CASE WHEN ${s.attribute} <= ${s.threshold} THEN ${go(2 * id)} ELSE ${go(2 * id + 1)} END)"
      case None => nodeCatSplits.get(id) match {
        case Some((a, vs)) =>
          val inList = vs.map(v => "'" + v.replace("'", "''") + "'")
            .mkString("(", ", ", ")")
          s"(CASE WHEN CAST($a AS STRING) IN $inList THEN ${go(2 * id)} ELSE ${go(2 * id + 1)} END)"
        case None =>
          val cs = countsOf(id)
          val n = cs.sum
          s"(${if (n == 0.0) 0.0 else cs(ci) / n})"
      }
    }
    go(1L)
  }
}
