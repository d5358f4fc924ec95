package graft.tree

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, when}

/** The fit-time input contract, checked table-driven across all six
  * level-wise learners: NULL labels, NULL categoricals, categoricals past
  * FitInternals.MaxCategories, k-ary labels past FitInternals.MaxClasses,
  * non-positive weights (where the learner takes weights) and column
  * names reserved by the level passes are each rejected with an
  * IllegalArgumentException before any fit work. A booster's own
  * stage target never shadows an input column.
  */
class FitContractSpec extends SparkSpec {
  import spark.implicits._

  /** A learner under contract: fit(data, feature, categoricals, weight). */
  private case class Learner(name: String, categorical: Boolean, weighted: Boolean,
                             fit: (DataFrame, String, Seq[String], Option[String]) => Any,
                             kary: Boolean = false)

  private def params(feature: String) =
    DecisionTreeParams(Seq(feature), "class", "mean", "gini", maxDepth = 2)

  private val learners = Seq(
    Learner("DecisionTree", categorical = true, weighted = true, (df, f, cats, w) =>
      new DecisionTree(params(f), cats, w).fit(df)),
    Learner("MulticlassDecisionTree", categorical = true, weighted = true, (df, f, cats, w) =>
      new MulticlassDecisionTree(params(f), cats, w).fit(df), kary = true),
    Learner("RegressionTree", categorical = true, weighted = true, (df, f, cats, w) =>
      new RegressionTree(Seq(f), "class", maxDepth = 2, categoricalColumns = cats,
        weightColumn = w).fit(df)),
    Learner("RandomForest", categorical = true, weighted = false, (df, f, cats, _) =>
      new RandomForest(params(f), numTrees = 2, categoricalColumns = cats).fit(df)),
    Learner("MulticlassRandomForest", categorical = true, weighted = true, (df, f, cats, w) =>
      new MulticlassRandomForest(params(f), numTrees = 2, categoricalColumns = cats,
        weightColumn = w).fit(df), kary = true),
    Learner("RegressionRandomForest", categorical = false, weighted = false, (df, f, _, _) =>
      new RegressionRandomForest(Seq(f), "class", numTrees = 2, maxDepth = 2).fit(df)))

  /** (x, lang, class, w) rows; `lang` takes `categories` values. */
  private def rows(categories: Int, lang: Int => Option[String] = i => Some(s"v$i"),
                   w: Int => Double = _ => 1.0): DataFrame =
    (0 until math.max(categories, 4)).map { i =>
      (i.toDouble, lang(i % categories), i % 2, w(i))
    }.toDF("x", "lang", "class", "w")

  private def rejected(fit: => Any): String =
    intercept[IllegalArgumentException](fit).getMessage

  learners.foreach { l =>
    if (l.categorical) {
      test(s"${l.name} rejects a NULL categorical") {
        val df = rows(3, lang = i => if (i == 0) None else Some(s"v$i"))
        assert(rejected(l.fit(df, "x", Seq("lang"), None)).contains("NULL"))
      }
      test(s"${l.name} rejects a categorical past MaxCategories") {
        val df = rows(FitInternals.MaxCategories + 1)
        val msg = rejected(l.fit(df, "x", Seq("lang"), None))
        assert(msg.contains(s"${FitInternals.MaxCategories + 1} values") &&
          msg.contains(s"MaxCategories=${FitInternals.MaxCategories}"), msg)
      }
    }
    if (l.weighted) {
      test(s"${l.name} rejects a non-positive weight") {
        val df = rows(3, w = i => if (i == 1) 0.0 else 1.0)
        assert(rejected(l.fit(df, "x", Seq.empty, Some("w"))).contains("positive"))
      }
    }
    if (l.kary) {
      test(s"${l.name} rejects labels past MaxClasses") {
        val df = (0 to FitInternals.MaxClasses).map(i => (i.toDouble, "v", i, 1.0))
          .toDF("x", "lang", "class", "w")
        val msg = rejected(l.fit(df, "x", Seq.empty, None))
        assert(msg.contains(s"${FitInternals.MaxClasses + 1} distinct labels") &&
          msg.contains(s"MaxClasses=${FitInternals.MaxClasses}"), msg)
      }
    }
    test(s"${l.name} rejects a NULL label") {
      val df = rows(8).withColumn("class",
        when($"x" % 2 === 0.0, lit(null)).otherwise($"class"))
      val msg = rejected(l.fit(df, "x", Seq.empty, None))
      assert(msg.contains("label column class has") && msg.contains("NULL"), msg)
    }
    test(s"${l.name} rejects reserved input column names") {
      Seq("node", "t", "e", "__pv_le_x").foreach { reserved =>
        val df = rows(3).withColumnRenamed("x", reserved)
        val msg = rejected(l.fit(df, reserved, Seq.empty, None))
        assert(msg.contains(s"input column $reserved "), msg)
      }
    }
  }

  /** The three boosters as fit(data, features) => model JSON, on the
    * targets of [[boostRows]]. */
  private val boosters: Seq[(String, (DataFrame, Seq[String]) => String)] = Seq(
    "GradientBoosting" -> ((df, fs) =>
      new GradientBoosting(fs, "y", numStages = 2, maxDepth = 2).fit(df).toJson),
    "GradientBoostingClassifier" -> ((df, fs) =>
      new GradientBoostingClassifier(fs, "class", numStages = 2, maxDepth = 2).fit(df).toJson),
    "SoftmaxGradientBoosting" -> ((df, fs) =>
      new SoftmaxGradientBoosting(fs, "k", numStages = 2, maxDepth = 2).fit(df).toJson))

  /** (x, z, y, class, k): a real target y = 3x + noise, its binary and
    * 3-class cuts, and an unrelated column z; continuous values, so
    * no two candidate splits tie. */
  private lazy val boostRows: DataFrame = {
    val rng = new scala.util.Random(7)
    (0 until 96).map { _ =>
      val (x, z, e) = (rng.nextDouble(), rng.nextDouble(), rng.nextGaussian() * 0.3)
      val y = 3 * x + e
      (x, z, y, if (y > 1.5) 1 else 0, if (y < 1.0) 0 else if (y < 2.0) 1 else 2)
    }.toDF("x", "z", "y", "class", "k")
  }

  boosters.foreach { case (name, fit) =>
    test(s"$name fits a feature named __residual like any other column") {
      val renamed = fit(boostRows, Seq("x", "z")).replace("\"z ", "\"__residual ")
      val named = fit(boostRows.withColumnRenamed("z", "__residual"), Seq("x", "__residual"))
      assert(named == renamed)
    }
  }
}
