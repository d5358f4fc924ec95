package graft.tree

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A boosting loss over k additive margins F_1 … F_k (Friedman 2001):
  * the base margins, each margin's residual target (the loss's
  * negative gradient under the current margins) and, when early
  * stopping applies, the per-row held-out loss. Residuals and losses
  * are Columns over the raw working set, so no stage materializes a
  * margin. `gradientWeighted` weights each stage's split thresholds by
  * |residual| (see RegressionMoments.threshold): with mean thresholds,
  * plain stages re-derive one fixed partition lattice and the ensemble
  * can never out-resolve a single tree.
  */
private[tree] sealed abstract class BoostLoss(val target: String, val weight: Option[String],
                                              val gradientWeighted: Boolean) {
  /** The k base margins, from the training rows. */
  def base(train: DataFrame): IndexedSeq[Double]

  /** Each margin's residual target under `margins`. */
  def residuals(margins: IndexedSeq[Column]): IndexedSeq[Column]

  /** The per-row held-out loss under `margins`; None disables early stopping. */
  def heldOut(margins: IndexedSeq[Column]): Option[Column]

  protected val y: Column = col(target).cast("double")

  /** The w-weighted target mean (plain mean unweighted). */
  protected def meanTarget(train: DataFrame): Double = weight match {
    case None => train.agg(avg(y)).head().getDouble(0)
    case Some(wc) =>
      val w = col(wc).cast("double")
      train.agg(sum(w * y) / sum(w)).head().getDouble(0)
  }
}

/** Squared loss, one margin: residual fitting from the target mean. */
private[tree] final class SquaredLoss(target: String, weight: Option[String])
    extends BoostLoss(target, weight, gradientWeighted = false) {
  def base(train: DataFrame): IndexedSeq[Double] = IndexedSeq(meanTarget(train))
  def residuals(m: IndexedSeq[Column]): IndexedSeq[Column] = IndexedSeq(y - m(0))
  def heldOut(m: IndexedSeq[Column]): Option[Column] = Some((y - m(0)) * (y - m(0)))
}

/** Logistic loss on a 0/1 target, one log-odds margin: base at the
  * positive rate's log-odds (clamped, so an all-0 or all-1 fixture
  * yields a finite margin), residual y − σ(F), held-out loss
  * ln(1 + e^(−(2y−1)·F)). The transcendentals are fit-side only.
  */
private[tree] final class LogisticLoss(target: String, weight: Option[String])
    extends BoostLoss(target, weight, gradientWeighted = true) {
  def base(train: DataFrame): IndexedSeq[Double] = {
    val p = math.min(math.max(meanTarget(train), 1e-6), 1.0 - 1e-6)
    IndexedSeq(math.log(p / (1.0 - p)))
  }
  def residuals(m: IndexedSeq[Column]): IndexedSeq[Column] =
    IndexedSeq(y - lit(1.0) / (lit(1.0) + exp(-m(0))))
  def heldOut(m: IndexedSeq[Column]): Option[Column] =
    Some(log(lit(1.0) + exp(-((lit(2.0) * y - 1.0) * m(0)))))
}

/** Softmax loss, one margin per class: base at the clamped log prior
  * (class mass, w-weighted when weighted), residual 1{y=c} − p_c with
  * p_c = exp(F_c)/Σ exp. No held-out loss: the softmax booster does
  * not stop early.
  */
private[tree] final class SoftmaxLoss(target: String, weight: Option[String])
    extends BoostLoss(target, weight, gradientWeighted = true) {
  private val cls = col(target).cast("int")

  /** The sorted class labels, margin by margin; set by `base`. */
  var classes: IndexedSeq[Int] = IndexedSeq.empty

  def base(train: DataFrame): IndexedSeq[Double] = {
    val mass = weight match {
      case None => count(lit(1)).cast("double")
      case Some(wc) => sum(col(wc).cast("double"))
    }
    val counts = train.groupBy(cls.as("c")).agg(mass.as("m")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    require(counts.nonEmpty, "empty training set")
    classes = counts.keys.toIndexedSeq.sorted
    val total = counts.values.sum
    classes.map(c => math.log(math.max(counts(c) / total, 1e-6)))
  }

  def residuals(m: IndexedSeq[Column]): IndexedSeq[Column] = {
    val exps = m.map(exp(_))
    val denom = exps.reduce(_ + _)
    classes.indices.map(i => when(cls === classes(i), 1.0).otherwise(0.0) - exps(i) / denom)
  }

  def heldOut(m: IndexedSeq[Column]): Option[Column] = None
}

/** The one boosting loop under GradientBoosting,
  * GradientBoostingClassifier and SoftmaxGradientBoosting.
  *
  * Every fitted tree is a pure Column expression, so stage m's
  * residuals are too: all stages scan ONE cached working set with the
  * residual computed inside each fit's aggregates, and the model is
  * the codegen'd fold `margin`. Each stage fits one [[RegressionTree]]
  * per margin; with k > 1 margins the k fits are independent (each
  * reads the same frozen margins) and run on driver threads, so their
  * level-pass jobs overlap.
  *
  * Early stopping (`validationFraction` > 0): a deterministic hash of
  * the feature values (`valSplit`) holds rows out of every fit. The
  * held-out loss of the prefix fitted so far rides the next stage's
  * root pass as one conditional aggregate (fitCachedWithRootExtras),
  * which reads the same rows in the same order as a filtered aggregate
  * would; only the final prefix's loss is its own aggregate. Boosting
  * stops once the loss fails to improve for `patience` consecutive
  * stages and keeps the best prefix, discarding at most one
  * speculatively fitted stage.
  *
  * Jobs are labelled "`name`.fit base", "`name`.fit stage=<m>" (the
  * root pass of stage m's fits), "RegressionTree.fit level=<d>" and
  * "`name`.fit loss".
  */
private[tree] object Boosting {

  /** Each stage's fit target, under the reserved pre-projection prefix
    * so no fit input column can share its name. */
  private val Target = "__pv_residual"

  /** A fit's base margins, its kept stages (one tree per margin each)
    * and their gain importances, weighted by each tree's total gain. */
  final case class Boosted(base: IndexedSeq[Double], stages: Seq[IndexedSeq[RegTreeNode]],
                           importances: Map[String, Double])

  def fit(name: String, loss: BoostLoss, dataset: DataFrame, features: Seq[String],
          categorical: Seq[String], numStages: Int, learningRate: Double, maxDepth: Int,
          validationFraction: Double = 0.0, patience: Int = 0, seed: Long = 0L): Boosted =
    FitInternals.withWorkingSet(dataset,
        features ++ categorical ++ loss.weight :+ loss.target) { work =>
      def labelled[A](phase: String)(body: => A): A =
        graft.JobLabel(work.sparkSession, s"$name.fit $phase")(body)
      val validating = validationFraction > 0.0
      val isVal = valSplit(features ++ categorical, validationFraction, seed)
      val train = if (validating) Some(!isVal) else None
      val base = labelled("base")(loss.base(train.fold(work)(work.filter)))
      val stages = mutable.Buffer.empty[IndexedSeq[FittedRegressionTree]]
      def margins: IndexedSeq[Column] =
        base.indices.map(i => margin(base(i), learningRate, stages.map(_(i).root)))

      var bestLoss = Double.MaxValue
      var bestStages = 0
      var sinceBest = 0
      var stopped = false
      def applyLoss(k: Int, value: Any): Unit = {
        value match {
          // the hash split co-assigns rows sharing feature values, so a
          // small fit's validation side can be empty and avg reads NULL:
          // early stopping is then inert and every fitted stage is kept
          case null => bestStages = k; sinceBest = 0
          case l: Double if l < bestLoss => bestLoss = l; bestStages = k; sinceBest = 0
          case _ => sinceBest += 1
        }
        if (sinceBest >= patience) stopped = true
      }

      while (stages.size < numStages && !stopped) {
        val m = margins
        val residual = loss.residuals(m)
        val lossAggs = loss.heldOut(m).filter(_ => validating && stages.nonEmpty)
          .map(l => avg(when(isVal, l))).toSeq
        val phase = s"stage=${stages.size + 1}"
        def fitOne(i: Int) = labelled(phase) {
          new RegressionTree(features, Target, maxDepth = maxDepth,
            gradientWeightedThresholds = loss.gradientWeighted,
            categoricalColumns = categorical, weightColumn = loss.weight)
            .fitCachedWithRootExtras(work.withColumn(Target, residual(i)), train,
              if (i == 0) lossAggs else Nil)
        }
        val fitted =
          if (base.size == 1) IndexedSeq(fitOne(0))
          else {
            implicit val ec: ExecutionContext = ExecutionContext.global
            base.indices.map(i => Future(fitOne(i))).map(Await.result(_, Duration.Inf))
          }
        if (lossAggs.nonEmpty) applyLoss(stages.size, fitted(0)._2.head)
        stages += fitted.map(_._1)
      }
      if (validating && !stopped && stages.nonEmpty)
        loss.heldOut(margins).foreach { l =>
          applyLoss(stages.size, labelled("loss")(work.filter(isVal).agg(avg(l)).head()).get(0))
        }

      val kept = if (validating) stages.take(math.max(bestStages, 1)) else stages
      Boosted(base, kept.map(_.map(_.root)).toSeq,
        FitInternals.aggregateImportances(kept.flatten.toSeq))
    }

  /** The additive margin base + lr·tree₁ + lr·tree₂ + …, a left fold:
    * what the loop fits against and what every fitted booster serves. */
  def margin(base: Double, learningRate: Double, trees: Iterable[RegTreeNode]): Column =
    trees.foldLeft(lit(base): Column)((acc, t) => acc + lit(learningRate) * t.predictionExpr)

  /** `margin` as portable SQL, base forced DOUBLE so the whole chain
    * stays double (cf. RegTreeNode.caseSql). */
  def marginSql(base: Double, learningRate: Double, trees: Seq[RegTreeNode]): String =
    trees.map(t => s" + $learningRate * ${t.caseSql}").mkString(s"(($base)::DOUBLE", "", ")")

  /** Deterministic validation membership: hash of the feature values
    * (the forests' bag convention — stable under any partitioning,
    * reproducible run to run).
    */
  def valSplit(cols: Seq[String], fraction: Double, seed: Long): Column =
    if (fraction <= 0.0) lit(false)
    else {
      val h = xxhash64((lit(seed) +: lit(-1) +: cols.map(col)): _*)
      pmod(h, lit(1000L)) < lit((fraction * 1000).toLong)
    }
}
