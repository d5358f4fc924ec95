package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Softmax (k-ary) gradient boosting — the multiclass member of the
  * boosting family (Friedman 2001 §4.6, "multi-class logistic
  * regression and classification"): one additive margin F_c per
  * class, initialized at the log prior; stage m computes the softmax
  * probabilities p_c = exp(F_c)/Σ exp and fits one regression tree
  * per class to the negative gradient r_c = 1{y=c} − p_c, with
  * fixed-step shrinkage leaves and the gradient-weighted thresholds
  * that make boosting refine past the mean-threshold lattice (see
  * GradientBoostingClassifier).
  *
  * Same staged-expression design as the binary boosters: every
  * residual target is a pure Column over ONE cached working set — no
  * per-stage materialization, the k fits of a stage share the cache.
  * The softmax appears only in FIT-side targets (JVM `exp`); the
  * RENDERED model is the k margins — pure +/·/CASE arithmetic — and
  * the decision is the margin argmax (softmax is monotone per row),
  * rendered as a comparison chain in DESCENDING class order so ties
  * resolve to the LARGER label, the house k-ary convention.
  */
class SoftmaxGradientBoosting(
    val featureColumns: Seq[String],
    val targetColumn: String,
    val numStages: Int = 3,
    val learningRate: Double = 0.5,
    val maxDepth: Int = 2,
    val categoricalColumns: Seq[String] = Seq.empty,
    val weightColumn: Option[String] = None,
    /** Materialize the k running margins every K stages — see
      * [[GradientBoosting.marginCheckpointInterval]]; 0 disables. */
    val marginCheckpointInterval: Int =
      GradientBoosting.DefaultMarginCheckpointInterval) {

  require(numStages >= 1 && learningRate > 0)
  require(marginCheckpointInterval >= 0)

  def fit(dataset: DataFrame): FittedSoftmaxGBT =
    FitInternals.withWorkingSet(dataset, featureColumns ++ categoricalColumns ++
      weightColumn :+ targetColumn)(fitOn)

  private def fitOn(work: DataFrame): FittedSoftmaxGBT = {
    val cls = col(targetColumn).cast("int")
    var cur: DataFrame = work
    var curOwned = false
    try {
      // class priors: weighted mass per class when a weight column is
      // given, plain counts otherwise
      val massAgg = weightColumn match {
        case None => count(lit(1)).cast("double")
        case Some(wc) => sum(col(wc).cast("double"))
      }
      val counts = work.groupBy(cls.as("c")).agg(massAgg.as("m")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      require(counts.nonEmpty, "empty training set")
      val classes = counts.keys.toSeq.sorted
      val total = counts.values.sum
      // log prior, clamped like the binary base so a vanishing class
      // yields a finite margin
      val base: Map[Int, Double] = classes.map(c =>
        c -> math.log(math.max(counts(c) / total, 1e-6))).toMap
      var margins: Map[Int, Column] = classes.map(c => c -> lit(base(c))).toMap
      val fittedStages = (0 until numStages).map { stage =>
        val exps = classes.map(c => c -> exp(margins(c))).toMap
        val denom = classes.map(exps).reduce(_ + _)
        // the k per-class fits of one stage are INDEPENDENT (each
        // fits its own residual against the same frozen margins), so
        // they run on driver threads and their level-pass jobs
        // overlap (r16, guide §2.6) — each fit is deterministic, the
        // map is keyed by class, and the margins only update after
        // every class's tree is in hand, so the fitted stages are
        // identical to the sequential loop's
        val stageTrees = classes.map { c =>
          c -> scala.concurrent.Future {
            val resid = when(cls === c, 1.0).otherwise(0.0) - exps(c) / denom
            val withR = cur.withColumn("__residual", resid)
            new RegressionTree(featureColumns, "__residual",
              maxDepth = maxDepth, gradientWeightedThresholds = true,
              categoricalColumns = categoricalColumns,
              weightColumn = weightColumn)
              .fitCached(withR)
          }(scala.concurrent.ExecutionContext.global)
        }.map { case (c, f) =>
          c -> scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)
        }.toMap
        margins = classes.map(c =>
          c -> (margins(c) +
            lit(learningRate) * stageTrees(c).root.predictionExpr))
          .toMap
        if (marginCheckpointInterval > 0 && stage + 1 < numStages &&
            (stage + 1) % marginCheckpointInterval == 0) {
          // k margin columns materialized at once — same bit-identity
          // argument as the binary boosters, per class
          val next = classes.foldLeft(cur)((d, c) =>
            d.withColumn(s"__gbt_margin_$c", margins(c)))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count()
          if (curOwned) cur.unpersist(blocking = false)
          cur = next; curOwned = true
          margins = classes.map(c => c -> col(s"__gbt_margin_$c")).toMap
        }
        stageTrees
      }
      new FittedSoftmaxGBT(classes, base, learningRate,
        fittedStages.map(_.map { case (c, t) => c -> t.root }),
        FitInternals.aggregateImportances(
          fittedStages.flatMap(_.values.toSeq)))
    } finally {
      if (curOwned) cur.unpersist(blocking = false)
    }
  }
}

final class FittedSoftmaxGBT(
    val classes: Seq[Int],
    val baseLogPrior: Map[Int, Double],
    val learningRate: Double,
    val stages: Seq[Map[Int, RegTreeNode]],
    /** Gain importances aggregated across all (stage, class) trees,
      * weighted by raw total gain (r12); empty when JSON-reloaded. */
    val featureImportances: Map[String, Double] = Map.empty) {

  /** Class-c additive margin as one codegen'd expression. */
  def marginExpr(c: Int): Column =
    stages.foldLeft(lit(baseLogPrior(c)): Column)(
      (acc, st) => acc + lit(learningRate) * st(c).predictionExpr)

  /** Margin argmax over already-computed margin COLUMNS (ties to the
    * larger label): comparison chain in descending class order — the
    * exact shape the oracle renders, each margin referenced, never
    * re-inlined.
    */
  def argmaxOverColumns(colOf: Int => Column): Column = {
    val desc = classes.sorted.reverse
    desc.init.foldRight(lit(desc.last): Column) { (c, acc) =>
      val wins = desc.dropWhile(_ != c).tail
        .map(o => colOf(c) >= colOf(o)).reduce(_ && _)
      when(wins, lit(c)).otherwise(acc)
    }
  }

  /** Adds one `margin_<c>` column per class plus the argmax
    * `prediction` (computed FROM the margin columns — the aliased
    * shape, no margin re-inlined per comparison).
    */
  def transform(df: DataFrame): DataFrame = {
    val withM = classes.foldLeft(df)((d, c) =>
      d.withColumn(s"margin_$c", marginExpr(c)))
    withM.withColumn("prediction",
      argmaxOverColumns(c => col(s"margin_$c")).cast("int"))
  }

  /** Class-c margin as portable SQL (the FittedGBTClassifier
    * pattern: base forced DOUBLE so the whole chain stays double).
    */
  def marginSql(c: Int): String =
    stages.map(st => s" + $learningRate * ${st(c).caseSql}")
      .mkString(s"((${baseLogPrior(c)})::DOUBLE", "", ")")

  /** The argmax as SQL over margin COLUMN NAMES (render margins once
    * in a WITH stage, then reference them here — the aliased-render
    * rule from the k-ary forest).
    */
  def argmaxSql(colOf: Int => String): String = {
    val desc = classes.sorted.reverse
    "(CASE " + desc.init.map { c =>
      val conds = desc.dropWhile(_ != c).tail
        .map(o => s"${colOf(c)} >= ${colOf(o)}").mkString(" AND ")
      s"WHEN $conds THEN $c"
    }.mkString(" ") + s" ELSE ${desc.last} END)"
  }

  /** JSON serde (r12): {classes, base_log_prior, learning_rate,
    * stages: [{"<class>": tree}…]}.
    */
  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject(
      "classes" -> JArray(classes.toList.map(c => JInt(c))),
      "base_log_prior" -> JObject(classes.toList.map(c =>
        c.toString -> JDouble(baseLogPrior(c)))),
      "learning_rate" -> JDouble(learningRate),
      "stages" -> JArray(stages.toList.map(st =>
        JObject(classes.toList.map(c =>
          c.toString -> RegTreeNode.toJValue(st(c)))))))))
  }
}

object FittedSoftmaxGBT {
  def fromJson(s: String): FittedSoftmaxGBT = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val JObject(fields) = JsonMethods.parse(s): @unchecked
    val fm = fields.toMap
    def dbl(v: JValue): Double = v match {
      case JDouble(d) => d; case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"not double: $other")
    }
    val classes = fm("classes").asInstanceOf[JArray].arr.map {
      case JInt(i) => i.toInt
      case other => throw new IllegalArgumentException(s"bad class: $other")
    }
    val JObject(priors) = fm("base_log_prior"): @unchecked
    val base = priors.map { case (k, v) => k.toInt -> dbl(v) }.toMap
    val stages = fm("stages").asInstanceOf[JArray].arr.map { st =>
      val JObject(sf) = st: @unchecked
      sf.map { case (k, v) => k.toInt -> RegTreeNode.fromJValue(v) }.toMap
    }
    new FittedSoftmaxGBT(classes, base, dbl(fm("learning_rate")), stages)
  }
}
