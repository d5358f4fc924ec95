package graft.tree

import graft.SparkSpec
import graft.tree.SequentialForests._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MulticlassForestSpec extends SparkSpec {
  import spark.implicits._

  /** The MulticlassTreeSpec planted 3-class rule, replicated enough
    * times that every 0.7-bag still contains all three regions. */
  def threeClassDf: DataFrame = Seq.tabulate(8) { r =>
    Seq(
      (1.0 + r * 0.01, 0.0, 0), (2.0 + r * 0.01, 1.0, 0),
      (3.0 + r * 0.01, 0.0, 1), (4.0 + r * 0.01, 0.3, 1),
      (3.0 + r * 0.01, 1.0, 2), (4.0 + r * 0.01, 0.9, 2))
  }.flatten.toDF("x", "y", "class")

  val params = DecisionTreeParams(Seq("x", "y"), "class", "mean", "entropy",
    maxDepth = 4)

  test("fused ensemble fit produces trees identical to the sequential path") {
    val forest = new MulticlassRandomForest(params, numTrees = 5)
    val fused = forest.fit(threeClassDf)
    val seq = forest.fitSequential(threeClassDf)
    fused.trees.zip(seq.trees).zipWithIndex.foreach { case ((f, s), i) =>
      assert(f.root == s.root, s"tree $i:\nfused ${f.root}\nseq ${s.root}")
    }
  }

  test("voted prediction recovers the planted rule; vote is codegen'd") {
    val fitted = new MulticlassRandomForest(params, numTrees = 5)
      .fit(threeClassDf)
    val out = fitted.transform(threeClassDf)
      .select("class", "prediction").collect()
    assert(out.forall(r => r.getInt(0) == r.getInt(1)),
      out.filter(r => r.getInt(0) != r.getInt(1)).take(5).mkString(","))
    val plan = fitted.transform(threeClassDf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"))
  }

  test("voteCaseSql evaluates identically to the when-chain vote") {
    val fitted = new MulticlassRandomForest(params, numTrees = 5)
      .fit(threeClassDf)
    threeClassDf.createOrReplaceTempView("mcf_fixture")
    val viaSql = spark.sql(
        s"SELECT class, CAST(${fitted.voteCaseSql} AS INT) AS p FROM mcf_fixture")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val viaExpr = fitted.transform(threeClassDf)
      .select("class", "prediction").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(viaSql.sorted.sameElements(viaExpr.sorted))
  }

  test("categorical forest: fused ≡ sequential, planted IN-set rule recovered") {
    // categorical rule + an INTEGER-valued numeric distractor: with
    // integer sums both paths' mean thresholds are exact doubles, so
    // the sequential path's composed child means and the fused path's
    // recomputed ones agree bitwise and tree-for-tree parity is exact
    val rows = for {
      lang <- Seq("en", "de", "fr", "zh")
      src <- Seq("a", "b", "c")
      rep <- 1 to 4
    } yield {
      val cls = if (lang == "en" || lang == "de") 0
                else if (src == "a" || src == "b") 1 else 2
      (lang, src, (rep % 3).toDouble, cls)
    }
    val df = rows.toDF("lang", "src", "z", "class")
    val p = DecisionTreeParams(Seq("z"), "class", "mean", "gini", maxDepth = 4)
    val forest = new MulticlassRandomForest(p, numTrees = 3,
      categoricalColumns = Seq("lang", "src"))
    val fused = forest.fit(df)
    val seq = forest.fitSequential(df)
    fused.trees.zip(seq.trees).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.caseSql == b.caseSql, s"tree $i diverged:\n${a.caseSql}\nvs\n${b.caseSql}")
    }
    // the voted ensemble classifies the planted rule perfectly and
    // its trees carry IN-set nodes
    val out = fused.transform(df).select("class", "prediction").collect()
    assert(out.forall(r => r.getInt(0) == r.getInt(1)))
    assert(fused.trees.exists(_.caseSql.contains(" IN (")),
      fused.trees.map(_.caseSql).mkString("\n"))
  }

  test("categorical forest at MaxCategories categories, NaN numerics: fused ≡ sequential") {
    val df = WideCategorical.rows.map { case (lang, x, z, cls, _) => (lang, x, z, cls) }
      .toDF("lang", "x", "z", "class")
    val p = DecisionTreeParams(Seq("x", "z"), "class", "mean", "gini", maxDepth = 4)
    val forest = new MulticlassRandomForest(p, numTrees = 3,
      categoricalColumns = Seq("lang"))
    val fused = forest.fit(df).trees.map(_.caseSql)
    val seq = forest.fitSequential(df).trees.map(_.caseSql)
    fused.zip(seq).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"tree $i diverged:\n$a\nvs\n$b")
    }
    assert(fused.exists(_.contains("CAST(lang AS STRING) IN")), fused.mkString("\n"))
  }

  test("vote ties resolve to the larger label") {
    // two single-leaf trees voting for different labels -> 1-1 tie
    val p0 = DecisionTreeParams(Seq("x"), "class", "mean", "entropy", maxDepth = 0)
    val t0 = new MulticlassDecisionTree(p0)
      .fit(Seq((1.0, 0), (2.0, 0), (3.0, 1)).toDF("x", "class"))
    val t1 = new MulticlassDecisionTree(p0)
      .fit(Seq((1.0, 1), (2.0, 1), (3.0, 0)).toDF("x", "class"))
    val forest = new MulticlassRandomForest(p0, numTrees = 2)
    val voted = new FittedMulticlassForest(forest, Seq(0, 1), Seq(t0, t1))
    val out = voted.transform(Seq(Tuple1(1.0)).toDF("x"))
      .select("prediction").head.getInt(0)
    assert(out == 1, s"tie must go to the larger label, got $out")
  }

  test("aliased WITH render equals the inline vote and the expression path") {
    // the O(trees·treeSize) staged render must agree with both the
    // O(k²·trees·treeSize) inline scalar and the Column vote
    val fitted = new MulticlassRandomForest(params, numTrees = 5)
      .fit(threeClassDf)
    threeClassDf.createOrReplaceTempView("mcf_aliased")
    val staged = spark.sql(
        s"""WITH per_tree AS (
           |  SELECT x, y, class, ${fitted.treeSelectSql} FROM mcf_aliased),
           |votes AS (
           |  SELECT x, y, class, ${fitted.voteSumsSql} FROM per_tree)
           |SELECT class, CAST(${fitted.argmaxOverVotesSql} AS INT) AS p,
           |  ${fitted.probSharesSql}
           |FROM votes""".stripMargin)
      .collect()
    val inline = spark.sql(
        s"SELECT class, CAST(${fitted.voteCaseSql} AS INT) AS p FROM mcf_aliased")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(staged.map(r => (r.getInt(0), r.getInt(1))).sorted
      .sameElements(inline.sorted))
    // ballot shares: sum to 1, and the predicted class holds the max
    staged.foreach { r =>
      val ps = Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(ps.sum - 1.0) < 1e-9, s"shares $ps")
      assert(ps(r.getInt(1)) == ps.max, s"pred ${r.getInt(1)} not argmax of $ps")
    }
    // the Column path emits the same p_<c> values
    val viaExpr = fitted.transform(threeClassDf)
      .select("prediction", "p_0", "p_1", "p_2").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val viaSql = staged
      .map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(viaExpr.sorted.sameElements(viaSql.sorted))
  }
}
