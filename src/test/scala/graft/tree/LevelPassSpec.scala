package graft.tree

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, when}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The level pass of every learner with categorical features: its
  * width does not grow with the category dictionary, so its
  * HashAggregate stays inside whole-stage codegen at MaxCategories
  * values, and its jobs carry a "<Learner>.fit level=<d>" description.
  */
class LevelPassSpec extends SparkSpec {
  import spark.implicits._

  /** (x1, x2, lang, class, bin, y): `lang` takes `categories` values,
    * x2 is NaN now and then, `class` has k = 3 labels.
    */
  private def frame(categories: Int): DataFrame = (0 until 600).map { r =>
    val c = r % categories
    val x1 = (r % 13).toDouble
    val x2 = if (r % 11 == 0) Double.NaN else ((r * 7) % 17).toDouble
    val cls = (c + r / categories) % 3
    (x1, x2, f"v$c%02d", cls, cls % 2, x1 + 3.0 * (c % 4))
  }.toDF("x1", "x2", "lang", "class", "bin", "y")

  private val numeric = Seq("x1", "x2")
  private def params(label: String) =
    DecisionTreeParams(numeric, label, "mean", "gini", maxDepth = 2)

  /** The five learners with categorical features, each fit on `df`. */
  private val learners: Seq[(String, DataFrame => Any)] = Seq(
    "DecisionTree" -> (df => new DecisionTree(params("bin"), Seq("lang")).fit(df)),
    "MulticlassDecisionTree" ->
      (df => new MulticlassDecisionTree(params("class"), Seq("lang")).fit(df)),
    "RegressionTree" -> (df => new RegressionTree(numeric, "y", maxDepth = 2,
      categoricalColumns = Seq("lang")).fit(df)),
    "RandomForest" -> (df => new RandomForest(params("bin"), numTrees = 2,
      categoricalColumns = Seq("lang")).fit(df)),
    "MulticlassRandomForest" -> (df => new MulticlassRandomForest(params("class"),
      numTrees = 2, categoricalColumns = Seq("lang")).fit(df)))

  /** Every plan `body` executes, final (post-AQE) form. */
  private def executedPlans(body: => Any): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Each HashAggregate of `plan` with whether a whole-stage codegen
    * stage generates it. */
  private def aggregates(plan: SparkPlan): Seq[(HashAggregateExec, Boolean)] = {
    def walk(p: SparkPlan, inStage: Boolean): Seq[(HashAggregateExec, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage = false)
      case q: QueryStageExec => walk(q.plan, inStage = false)
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case i: InputAdapter => walk(i.child, inStage = false)
      case e: Exchange => e.children.flatMap(walk(_, inStage = false))
      case h: HashAggregateExec => (h, inStage) +: h.children.flatMap(walk(_, inStage))
      case other => other.children.flatMap(walk(_, inStage))
    }
    walk(plan, inStage = false)
  }

  /** The level passes' aggregates: those grouped by the node id. */
  private def levelAggregates(plans: Seq[SparkPlan]): Seq[(HashAggregateExec, Boolean)] =
    plans.flatMap(aggregates).filter { case (h, _) =>
      h.groupingExpressions.exists(_.references.exists(_.name == "node"))
    }

  test("level passes stay in whole-stage codegen, at the same width for 2 and 64 categories") {
    val narrow = frame(2).cache()
    val wide = frame(FitInternals.MaxCategories).cache()
    try learners.foreach { case (name, fit) =>
      def widths(df: DataFrame): Set[Int] = {
        val aggs = levelAggregates(executedPlans(fit(df)))
        assert(aggs.nonEmpty, s"$name: no level pass recorded")
        val outside = aggs.collect { case (h, false) => h.output.size }
        assert(outside.isEmpty,
          s"$name: level-pass HashAggregate of width(s) ${outside.mkString(", ")} " +
            "runs outside whole-stage codegen")
        aggs.map(_._1.output.size).toSet
      }
      val at2 = widths(narrow)
      val at64 = widths(wide)
      assert(at2 == at64, s"$name: level aggregate widths $at2 at 2 categories, $at64 at 64")
    } finally { narrow.unpersist(); wide.unpersist(); () }
  }

  test("level cells hold exactly the rows of their (node, categorical, category)") {
    val df = (0 until 900).map { r =>
      val x = if (r % 7 == 0) Double.NaN else (r % 5).toDouble
      (1L + r % 3, x, f"v${(r * 13) % FitInternals.MaxCategories}%02d", s"s${r % 4}")
    }.toDF("node", "x", "lang", "src").repartition(4)
    val pass = new FitInternals.PreProjection
    val le = pass.side("__pv_le_x", col("x") <= 2.0)
    val level = FitInternals.levelAggregate(df, Seq("node"), pass,
      Seq(count(when(le, lit(1))).as("ln"), sum(when(le, col("x"))).as("ls")),
      Seq("lang", "src"), Seq(count(lit(1)).as("cn"), sum(col("x")).as("cs")),
      "LevelPassSpec")(_.getLong(0))
    def same(a: Any, b: Any): Boolean = java.util.Objects.equals(a, b)
    df.groupBy("node").agg(count(when(col("x") <= 2.0, lit(1))), sum(when(col("x") <= 2.0, col("x"))))
      .collect().foreach { r =>
        val got = level(r.getLong(0))
        assert(same(got.get(got.fieldIndex("ln")), r.get(1)) &&
          same(got.get(got.fieldIndex("ls")), r.get(2)), s"numeric cell of node ${r.getLong(0)}: $got, want $r")
      }
    Seq("lang", "src").zipWithIndex.foreach { case (q, qi) =>
      val want = df.groupBy(col("node"), col(q)).agg(count(lit(1)), sum(col("x"))).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.get(2), r.get(3))).toMap
      for (node <- 1L to 3L; v <- (df.select(q).distinct().collect().map(_.getString(0)) :+ "absent")) {
        val got = (level.cell(node, qi, v, "cn"), level.cell(node, qi, v, "cs"))
        want.get((node, v)) match {
          case Some((n, x)) => assert(same(got._1, n) && same(got._2, x), s"($node, $q=$v): $got, want ($n, $x)")
          case None => assert(got == ((null, null)), s"($node, $q=$v) holds no rows, read $got")
        }
      }
    }
  }

  /** Jobs per fit on `frame(4)`, as the level-wise fits ran them before
    * they shared one level loop: a shared loop must neither add nor drop
    * a pass. The boosters' counts are those of their copied stage loops
    * before they shared one boosting loop, less the three jobs with which
    * the 5-stage classifier materialized its margin after stage 4. */
  private val Jobs = Map(
    "DecisionTree" -> 9, "MulticlassDecisionTree" -> 9, "RegressionTree" -> 9,
    "RandomForest" -> 13, "MulticlassRandomForest" -> 13,
    "RegressionRandomForest" -> 7, "RegressionTree (numeric only)" -> 7,
    "GradientBoosting" -> 29, "GradientBoostingClassifier" -> 43,
    "SoftmaxGradientBoosting" -> 51)

  /** The learners whose jobs are counted, each with the label prefix of
    * its level passes and, for a booster, the phases its own jobs must
    * show (labelled "<Booster>.fit <phase>"): the five above, the numeric-only regression forest, a numeric-only tree
    * (their level passes are plain group-bys, with no Generate node)
    * and the three boosters (their level passes are RegressionTree's):
    * an L2 fit with early stopping, so it runs the final-prefix loss, a
    * 5-stage classifier, and a softmax fit, whose per-class fits run on
    * driver threads.
    */
  private val counted: Seq[(String, String, Seq[String], DataFrame => Any)] =
    learners.map { case (name, fit) => (name, name, Nil, fit) } ++ Seq(
      ("RegressionRandomForest", "RegressionRandomForest", Nil, (df: DataFrame) =>
        new RegressionRandomForest(numeric, "y", numTrees = 2, maxDepth = 2).fit(df)),
      ("RegressionTree (numeric only)", "RegressionTree", Nil, (df: DataFrame) =>
        new RegressionTree(numeric, "y", maxDepth = 2).fit(df)),
      ("GradientBoosting", "RegressionTree", Seq("base", "stage=3", "loss"), (df: DataFrame) =>
        new GradientBoosting(numeric, "y", numStages = 3, maxDepth = 2,
          categoricalColumns = Seq("lang"), validationFraction = 0.25).fit(df)),
      ("GradientBoostingClassifier", "RegressionTree", Seq("base", "stage=5"), (df: DataFrame) =>
        new GradientBoostingClassifier(numeric, "bin", numStages = 5,
          maxDepth = 2, categoricalColumns = Seq("lang")).fit(df)),
      ("SoftmaxGradientBoosting", "RegressionTree", Seq("base", "stage=2"), (df: DataFrame) =>
        new SoftmaxGradientBoosting(numeric, "class", numStages = 2,
          maxDepth = 2, categoricalColumns = Seq("lang")).fit(df)))

  test("level-pass jobs carry <Learner>.fit level=<d>; the caller's description is restored") {
    val df = frame(4).cache()
    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    df.count()
    try {
      val ran = counted.map { case (name, label, phases, fit) =>
        ListenerBusDrain(sc)
        descriptions.clear()
        fit(df)
        ListenerBusDrain(sc)
        val fitJobs = descriptions.size
        df.count()
        ListenerBusDrain(sc)
        val seen = descriptions.asScala.toSeq
        Seq(0, 1).foreach { d =>
          assert(seen.contains(s"$label.fit level=$d"), s"$name level $d unlabelled: $seen")
        }
        phases.foreach(p => assert(seen.contains(s"$name.fit $p"), s"$name: no $p job in $seen"))
        assert(seen.last == "caller", s"$name left its label behind: $seen")
        // a booster labels all its jobs; a single learner's root pass
        // runs under the caller's description
        val own = if (phases.isEmpty) "caller" else s"$name.fit "
        assert(seen.take(fitJobs).forall(s =>
          s.startsWith(own) || s.startsWith(s"$label.fit level=")), s"$name: $seen")
        name -> fitJobs
      }.toMap
      assert(ran == Jobs, "jobs per fit")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
      df.unpersist(); ()
    }
  }
}
