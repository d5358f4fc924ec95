package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gradient-boosted regression trees (squared loss).
  *
  * Boosting for L2 loss is residual fitting: stage m trains a
  * regression tree on `y − F_{m−1}(x)` and the model adds
  * `lr · tree_m(x)`. Because every fitted tree is a pure Column
  * expression, the residual target of each stage is ALSO a pure
  * expression over the raw data — no per-stage materialization, no
  * extra table: stage m's fit scans the original data with the
  * residual computed on the fly inside the aggregates. The final
  * model is one codegen'd expression (base + Σ lr·tree_m).
  */
class GradientBoosting(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numStages: Int = 3,
    val learningRate: Double = 0.5,
    val maxDepth: Int = 3,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None,
    /** > 0 enables EARLY STOPPING (r12): that fraction of rows —
      * chosen by a deterministic hash of the feature values, the
      * bagFilter convention, so fits stay reproducible — is held out
      * of every stage's fit; after each stage the validation MSE is
      * ONE aggregate, and boosting stops once it fails to improve
      * for `earlyStoppingPatience` consecutive stages, keeping the
      * best prefix. The returned model's `stages.size` is the
      * selected stage count (≤ numStages).
      */
    val validationFraction: Double = 0.0,
    val earlyStoppingPatience: Int = 2,
    val seed: Long = 42L,
    /** Every K stages the running margin F_m(x) is MATERIALIZED into
      * the cached working set and the staged expression restarts from
      * that column (r12 verdict): without it, stage m's residual and
      * held-out loss re-evaluate the full m-stage CASE chain per scan
      * — O(stages²) expression work, harmless at ≤12 stages but a
      * real cost at 100+. Bit-identical to the unmaterialized path:
      * the margin is the SAME left-associated double chain, merely
      * stored and resumed (IEEE addition is deterministic), so the
      * fitted trees never change. 0 disables.
      *
      * Default 4 (r16, was 16): each stage runs depth+2 full scans of
      * the working set, every one re-evaluating the margin chain per
      * row, so the chain cost is paid (depth+2)·stages times per
      * growth step — at 8 stages the cap at ≤4 trees per chain
      * already beats the one cached-projection pass a checkpoint
      * costs (measured on q_gbt_early_stop; see OPTIMIZATION_r16.md).
      */
    val marginCheckpointInterval: Int =
      GradientBoosting.DefaultMarginCheckpointInterval) {

  require(numStages >= 1 && learningRate > 0)
  require(validationFraction >= 0.0 && validationFraction < 1.0)
  require(marginCheckpointInterval >= 0)

  // ONE projected + cached base table for all stages; the residual
  // is an expression over it, computed on the fly inside each stage's
  // aggregates (a per-stage fit would re-read the source and
  // materialize a fresh cache per stage).
  def fit(dataset: DataFrame): FittedGBT =
    FitInternals.withWorkingSet(dataset, featureColumns ++ categoricalColumns ++
      weightColumn :+ targetColumn)(fitOn)

  private def fitOn(work: DataFrame): FittedGBT = {
    val y = col(targetColumn).cast("double")
    // `cur` is the live working set: `work` until the first margin
    // checkpoint, then the latest checkpointed copy (owned = we must
    // unpersist it; `work` itself is released by withWorkingSet).
    var cur: DataFrame = work
    var curOwned = false
    try {
      val isVal = GradientBoosting.valSplit(
        featureColumns ++ categoricalColumns, validationFraction, seed)
      // weighted base = w-weighted target mean (plain avg unweighted)
      val base0 = if (validationFraction > 0.0) work.filter(!isVal) else work
      val base = weightColumn match {
        case None => base0.agg(avg(y)).head().getDouble(0)
        case Some(wc) =>
          val w = col(wc).cast("double")
          base0.agg(sum(w * y) / sum(w)).head().getDouble(0)
      }
      var modelExpr: Column = lit(base)
      val trees = scala.collection.mutable.Buffer.empty[FittedRegressionTree]
      // ROOT-FUSED early stopping (r17, supersedes the r16 pipelined
      // loss — guide §1.2 "don't compute things you can get for
      // free"): stage m's held-out MSE used to be its own full scan of
      // the working set (merely OVERLAPPED behind the next fit since
      // r16); it now rides stage m+1's root-stats pass as one extra
      // conditional aggregate (see fitCachedWithRootExtras) — same
      // value bit-for-bit (a conditional aggregate sees the identical
      // rows in the identical scan order as the filtered form), and
      // one full scan per stage is REMOVED, not overlapped. The
      // stopping rule consumes losses in the same order with the same
      // bestLoss/bestStages/sinceBest updates as the r16 loop, and at
      // most one speculatively fitted stage is discarded by the same
      // `trees.take(bestStages)` prefix selection; the FINAL prefix's
      // loss (no next root pass to ride) stays a dedicated aggregate.
      var bestLoss = Double.MaxValue
      var bestStages = 0
      var sinceBest = 0
      var stopped = false
      def applyLoss(k: Int, lossAny: Any): Unit = if (!stopped) {
        if (lossAny == null) {
          // the xxhash64 split co-assigns rows sharing feature values,
          // so on small/low-cardinality data the validation side can
          // be EMPTY → avg is NULL. Early stopping is then inert:
          // keep every fitted stage (the validationFraction=0
          // behavior) instead of throwing (r12 advice).
          bestStages = k; sinceBest = 0
        } else {
          val loss = lossAny.asInstanceOf[Double]
          if (loss < bestLoss) { bestLoss = loss; bestStages = k; sinceBest = 0 }
          else sinceBest += 1
        }
        if (sinceBest >= earlyStoppingPatience) stopped = true
      }
      val trainCond = if (validationFraction > 0.0) Some(!isVal) else None
      var stage = 0
      while (stage < numStages && (validationFraction == 0.0 || !stopped)) {
        val residualCol = "__residual"
        val withResidual = cur.withColumn(residualCol, y - modelExpr)
        val prevK = trees.size
        // validation MSE of the PREVIOUS prefix — the value the r16
        // loop launched after the previous fit — fused into this
        // stage's root pass (modelExpr still IS that prefix here)
        val lossAggs =
          if (validationFraction > 0.0 && prevK > 0)
            Seq(avg(when(isVal, (y - modelExpr) * (y - modelExpr))))
          else Seq.empty[Column]
        val (tree, extras) = new RegressionTree(featureColumns, residualCol,
          maxDepth = maxDepth,
          categoricalColumns = categoricalColumns,
          weightColumn = weightColumn)
          .fitCachedWithRootExtras(withResidual, trainCond, lossAggs)
        if (lossAggs.nonEmpty) applyLoss(prevK, extras.head)
        // a stop consumed above discards this (speculatively fitted)
        // stage via the same prefix selection the r16 loop used
        modelExpr = modelExpr + lit(learningRate) * tree.root.predictionExpr
        trees += tree
        stage += 1
        if (marginCheckpointInterval > 0 && stage < numStages &&
            stage % marginCheckpointInterval == 0 && !stopped) {
          val next = cur.withColumn(GradientBoosting.MarginCol, modelExpr)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count() // materialize BEFORE dropping the predecessor
          if (curOwned) cur.unpersist(blocking = false)
          cur = next; curOwned = true
          modelExpr = col(GradientBoosting.MarginCol)
        }
      }
      // the final prefix's loss has no next root pass to ride — one
      // dedicated aggregate, exactly the r16 loop's last launched loss
      if (validationFraction > 0.0 && !stopped && trees.nonEmpty) {
        val err = y - modelExpr
        val lossRow = cur.filter(isVal).agg(avg(err * err)).head()
        applyLoss(trees.size,
          if (lossRow.isNullAt(0)) null else lossRow.get(0))
      }
      val kept =
        if (validationFraction > 0.0) trees.take(math.max(bestStages, 1)).toSeq
        else trees.toSeq
      new FittedGBT(base, learningRate, kept.map(_.root),
        FitInternals.aggregateImportances(kept))
    } finally {
      if (curOwned) cur.unpersist(blocking = false)
    }
  }
}

object GradientBoosting {
  /** r16 A/B knob (temporary): the default margin-checkpoint
    * interval, overridable for interleaved same-window measurement.
    */
  private[tree] val DefaultMarginCheckpointInterval: Int =
    sys.env.getOrElse("GRAFT_MCI", "4").toInt

  /** Name of the materialized running-margin column (see
    * [[GradientBoosting.marginCheckpointInterval]]); `withColumn`
    * REPLACES it at each checkpoint, so successive checkpoints chain.
    */
  private[tree] val MarginCol = "__gbt_margin"

  /** Deterministic validation membership: hash of the feature values
    * (the RandomForest bagFilter convention — stable under any
    * partitioning, reproducible run to run).
    */
  private[tree] def valSplit(cols: Seq[String], fraction: Double,
                             seed: Long): Column = {
    if (fraction <= 0.0) lit(false)
    else {
      val h = xxhash64((lit(seed) +: lit(-1) +: cols.map(col)): _*)
      pmod(h, lit(1000L)) < lit((fraction * 1000).toLong)
    }
  }
}

final class FittedGBT(
    val basePrediction: Double,
    val learningRate: Double,
    val stages: Seq[RegTreeNode],
    /** Gain importances aggregated across stages, weighted by each
      * stage's raw total gain (r12); empty when JSON-reloaded. */
    val featureImportances: Map[String, Double] = Map.empty) {

  /** The whole ensemble as one codegen'd expression. */
  def predictionExpr: Column =
    stages.foldLeft(lit(basePrediction): Column)(
      (acc, t) => acc + lit(learningRate) * t.predictionExpr)

  def transform(df: DataFrame): DataFrame =
    df.withColumn("prediction", predictionExpr)

  /** The whole ensemble as portable SQL: base + Σ lr·tree_m (cf.
    * RegTreeNode.caseSql — lets the harness regenerate the oracle
    * from the model fitted at the gate scale factor).
    */
  def modelSql: String =
    stages.map(t => s" + $learningRate * ${t.caseSql}")
      .mkString(s"(($basePrediction)::DOUBLE", "", ")")

  /** JSON serde (r12): {base, learning_rate, stages: [tree…]} with
    * stages in the [[RegTreeNode]] nested-dict format.
    */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "base" -> JDouble(basePrediction),
      "learning_rate" -> JDouble(learningRate),
      "stages" -> JArray(stages.toList.map(RegTreeNode.toJValue)))))
  }
}

object FittedGBT {
  def fromJson(s: String): FittedGBT = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    def dbl(v: JValue): Double = v match {
      case JDouble(d) => d; case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"not double: $other")
    }
    new FittedGBT(dbl(fm("base")), dbl(fm("learning_rate")),
      fm("stages").asInstanceOf[JArray].arr.map(RegTreeNode.fromJValue))
  }
}

/** Gradient-boosted CLASSIFICATION trees (logistic loss) — the
  * standard strongest cheap distiller for binary quality gates
  * (Friedman 2001 §4.5, "two-class logistic regression and
  * classification"): the model is an additive log-odds margin
  * F(x) = F₀ + Σ lr·tree_m(x); stage m fits a regression tree to the
  * negative gradient of the log loss, r_i = y_i − σ(F_{m−1}(x_i)),
  * with fixed-step (learning-rate-scaled mean-leaf) updates — the
  * same shrinkage-instead-of-Newton choice as scikit-learn's default
  * `learning_rate` path, which keeps each stage the house
  * [[RegressionTree]] verbatim.
  *
  * Same staged-expression design as the L2 booster above: every
  * fitted tree is a pure Column expression, so stage m's residual
  * target σ(F_{m−1}) is ALSO a pure expression over the raw cached
  * working set — no per-stage materialization. The sigmoid appears
  * only in FIT-side residual targets (JVM `exp`); the RENDERED model
  * is the margin — pure +/·/CASE arithmetic, bit-reproducible
  * cross-engine — and the decision is `margin > 0` (≡ p > 0.5), so
  * the oracle never evaluates a transcendental.
  */
class GradientBoostingClassifier(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numStages: Int = 3,
    val learningRate: Double = 0.5,
    val maxDepth: Int = 3,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None,
    /** > 0 enables early stopping on held-out LOG LOSS (see
      * [[GradientBoosting.validationFraction]] — same deterministic
      * hash split, same best-prefix selection).
      */
    val validationFraction: Double = 0.0,
    val earlyStoppingPatience: Int = 2,
    val seed: Long = 42L,
    /** Materialize the running margin every K stages — see
      * [[GradientBoosting.marginCheckpointInterval]]; 0 disables. */
    val marginCheckpointInterval: Int =
      GradientBoosting.DefaultMarginCheckpointInterval) {

  require(numStages >= 1 && learningRate > 0)
  require(validationFraction >= 0.0 && validationFraction < 1.0)
  require(marginCheckpointInterval >= 0)

  def fit(dataset: DataFrame): FittedGBTClassifier =
    FitInternals.withWorkingSet(dataset, featureColumns ++ categoricalColumns ++
      weightColumn :+ targetColumn)(fitOn)

  private def fitOn(work: DataFrame): FittedGBTClassifier = {
    val y = col(targetColumn).cast("double")
    var cur: DataFrame = work
    var curOwned = false
    try {
      val isVal = GradientBoosting.valSplit(
        featureColumns ++ categoricalColumns, validationFraction, seed)
      val base0 = if (validationFraction > 0.0) work.filter(!isVal) else work
      // base log-odds of the positive rate (w-weighted when weighted),
      // clamped so an all-0 / all-1 fixture yields a finite margin
      // instead of ±Infinity
      val rate = weightColumn match {
        case None => base0.agg(avg(y)).head().getDouble(0)
        case Some(wc) =>
          val w = col(wc).cast("double")
          base0.agg(sum(w * y) / sum(w)).head().getDouble(0)
      }
      val p = math.min(math.max(rate, 1e-6), 1.0 - 1e-6)
      val base = math.log(p / (1.0 - p))
      var margin: Column = lit(base)
      val trees = scala.collection.mutable.Buffer.empty[FittedRegressionTree]
      // ROOT-FUSED early stopping — the regressor's r17 pattern (see
      // GradientBoosting.fit): stage m's held-out logistic loss rides
      // stage m+1's root-stats pass as one conditional aggregate
      // instead of being its own full scan; losses are consumed in
      // the same order with the identical stopping-rule updates, so
      // the kept prefix is bit-identical to the sequential loop's.
      var bestLoss = Double.MaxValue
      var bestStages = 0
      var sinceBest = 0
      var stopped = false
      def applyLoss(k: Int, lossAny: Any): Unit = if (!stopped) {
        if (lossAny == null) {
          // empty validation side (see the regressor) → early
          // stopping inert, keep every fitted stage (r12 advice)
          bestStages = k; sinceBest = 0
        } else {
          val loss = lossAny.asInstanceOf[Double]
          if (loss < bestLoss) { bestLoss = loss; bestStages = k; sinceBest = 0 }
          else sinceBest += 1
        }
        if (sinceBest >= earlyStoppingPatience) stopped = true
      }
      // held-out logistic loss of the prefix `margin` currently
      // denotes: ln(1 + e^(−(2y−1)·margin)) (log1p-exp of the signed
      // margin; JVM-side transcendentals, fit-only)
      def logisticLoss(m: Column): Column = {
        val signed = (lit(2.0) * y - 1.0) * m
        log(lit(1.0) + exp(-signed))
      }
      val trainCond = if (validationFraction > 0.0) Some(!isVal) else None
      var stage = 0
      while (stage < numStages && (validationFraction == 0.0 || !stopped)) {
        val residualCol = "__residual"
        val prob = lit(1.0) / (lit(1.0) + exp(-margin))
        val withResidual = cur.withColumn(residualCol, y - prob)
        val prevK = trees.size
        val lossAggs =
          if (validationFraction > 0.0 && prevK > 0)
            Seq(avg(when(isVal, logisticLoss(margin))))
          else Seq.empty[org.apache.spark.sql.Column]
        // gradient-weighted thresholds: with the house mean-threshold
        // splitter, candidate thresholds depend on features only, so
        // plain stages re-derive ONE fixed partition lattice and the
        // ensemble's decision can never out-resolve a single tree's.
        // Weighting each stage's thresholds by |residual| pulls the
        // splits toward the rows the current margin still gets wrong —
        // the refinement that makes boosting beat the single tree
        // (see RegressionMoments.threshold).
        val (tree, extras) = new RegressionTree(featureColumns, residualCol,
          maxDepth = maxDepth, gradientWeightedThresholds = true,
          categoricalColumns = categoricalColumns,
          weightColumn = weightColumn)
          .fitCachedWithRootExtras(withResidual, trainCond, lossAggs)
        if (lossAggs.nonEmpty) applyLoss(prevK, extras.head)
        margin = margin + lit(learningRate) * tree.root.predictionExpr
        trees += tree
        stage += 1
        if (marginCheckpointInterval > 0 && stage < numStages &&
            stage % marginCheckpointInterval == 0 && !stopped) {
          val next = cur.withColumn(GradientBoosting.MarginCol, margin)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count()
          if (curOwned) cur.unpersist(blocking = false)
          cur = next; curOwned = true
          margin = col(GradientBoosting.MarginCol)
        }
      }
      // the final prefix's loss has no next root pass to ride — one
      // dedicated aggregate, exactly the r16 loop's last launched loss
      if (validationFraction > 0.0 && !stopped && trees.nonEmpty) {
        val lossRow = cur.filter(isVal).agg(avg(logisticLoss(margin))).head()
        applyLoss(trees.size,
          if (lossRow.isNullAt(0)) null else lossRow.get(0))
      }
      val kept =
        if (validationFraction > 0.0) trees.take(math.max(bestStages, 1)).toSeq
        else trees.toSeq
      new FittedGBTClassifier(base, learningRate, kept.map(_.root),
        FitInternals.aggregateImportances(kept))
    } finally {
      if (curOwned) cur.unpersist(blocking = false)
    }
  }
}

final class FittedGBTClassifier(
    val baseLogOdds: Double,
    val learningRate: Double,
    val stages: Seq[RegTreeNode],
    /** Gain importances aggregated across stages, weighted by each
      * stage's raw total gain (r12); empty when JSON-reloaded. */
    val featureImportances: Map[String, Double] = Map.empty) {

  /** The additive log-odds margin as one codegen'd expression. */
  def marginExpr: Column =
    stages.foldLeft(lit(baseLogOdds): Column)(
      (acc, t) => acc + lit(learningRate) * t.predictionExpr)

  /** σ(margin) — serving-side probability (JVM `exp`; see the class
    * note on why the ORACLE compares margins, not probabilities). */
  def probabilityExpr: Column =
    lit(1.0) / (lit(1.0) + exp(-marginExpr))

  /** margin > 0 ≡ p > 0.5 — transcendental-free decision. */
  def predictionExpr: Column = (marginExpr > 0.0).cast("int")

  def transform(df: DataFrame): DataFrame =
    df.withColumn("margin", marginExpr)
      .withColumn("probability", probabilityExpr)
      .withColumn("prediction", predictionExpr)

  /** The margin as portable SQL: base + Σ lr·tree_m — the same pure
    * CASE arithmetic as FittedGBT.modelSql, so every double matches
    * bit-for-bit cross-engine; decisions render as `(… ) > 0`.
    */
  def marginSql: String =
    stages.map(t => s" + $learningRate * ${t.caseSql}")
      .mkString(s"(($baseLogOdds)::DOUBLE", "", ")")

  /** JSON serde (r12): {base_log_odds, learning_rate, stages: […]}. */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "base_log_odds" -> JDouble(baseLogOdds),
      "learning_rate" -> JDouble(learningRate),
      "stages" -> JArray(stages.toList.map(RegTreeNode.toJValue)))))
  }
}

object FittedGBTClassifier {
  def fromJson(s: String): FittedGBTClassifier = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    def dbl(v: JValue): Double = v match {
      case JDouble(d) => d; case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"not double: $other")
    }
    new FittedGBTClassifier(dbl(fm("base_log_odds")),
      dbl(fm("learning_rate")),
      fm("stages").asInstanceOf[JArray].arr.map(RegTreeNode.fromJValue))
  }
}
