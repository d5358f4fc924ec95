package graft.tree

import graft.SparkSpec
import graft.tree.SequentialForests._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sample-weighted fits (r12): the semantic contract is INTEGER
  * WEIGHTS ≡ ROW REPLICATION — a weighted fit with w = k must produce
  * the IDENTICAL tree to an unweighted fit on the k-times-replicated
  * rows. Fixtures use integer-valued features/targets so every
  * weighted sum is the same exact double as the replicated sum and
  * the equality is bitwise, not approximate (the house categorical-
  * parity fixture rule).
  */
class WeightedFitSpec extends SparkSpec {
  import spark.implicits._

  /** (lang, x, y-or-class, w) with integer values and weights 1..3. */
  private def base: Seq[(String, Double, Int, Int)] = for {
    lang <- Seq("en", "de", "fr")
    x <- Seq(1.0, 2.0, 3.0, 4.0)
    rep <- 1 to 2
  } yield {
    val cls = if (lang != "fr" && x > 2) 1 else 0
    val w = ((x.toInt + rep) % 3) + 1
    (lang, x, cls, w)
  }

  private def weightedDf: DataFrame = base.toDF("lang", "x", "class", "w")
  private def replicatedDf: DataFrame =
    base.flatMap { case (l, x, c, w) => Seq.fill(w)((l, x, c)) }
      .toDF("lang", "x", "class")

  test("binary tree: integer weights ≡ row replication (with categoricals)") {
    val p = DecisionTreeParams(Seq("x"), "class", "mean", "entropy", maxDepth = 4)
    val wFit = new DecisionTree(p, categoricalColumns = Seq("lang"),
      weightColumn = Some("w")).fit(weightedDf)
    val rFit = new DecisionTree(p, categoricalColumns = Seq("lang"))
      .fit(replicatedDf)
    assert(wFit.root == rFit.root,
      s"weighted ${wFit.root.caseSql}\nreplicated ${rFit.root.caseSql}")
  }

  test("k-ary tree: integer weights ≡ row replication, weighted leaf distributions") {
    val rows = base.map { case (l, x, c, w) =>
      (l, x, if (l == "fr") 2 else c, w) }
    val wDf = rows.toDF("lang", "x", "class", "w")
    val rDf = rows.flatMap { case (l, x, c, w) => Seq.fill(w)((l, x, c)) }
      .toDF("lang", "x", "class")
    val p = DecisionTreeParams(Seq("x"), "class", "mean", "gini", maxDepth = 4)
    val wFit = new MulticlassDecisionTree(p, categoricalColumns = Seq("lang"),
      weightColumn = Some("w")).fit(wDf)
    val rFit = new MulticlassDecisionTree(p, categoricalColumns = Seq("lang"))
      .fit(rDf)
    assert(wFit.root == rFit.root)
    // leaf probability masses agree too (weighted counts = replicated)
    rFit.classes.foreach { c =>
      assert(wFit.probCaseSql(c) == rFit.probCaseSql(c), s"class $c")
    }
  }

  test("regression tree: integer weights ≡ row replication") {
    val rows = base.map { case (l, x, c, w) => (l, x, c * 10.0, w) }
    val wDf = rows.toDF("lang", "x", "y", "w")
    val rDf = rows.flatMap { case (l, x, y, w) => Seq.fill(w)((l, x, y)) }
      .toDF("lang", "x", "y")
    val wFit = new RegressionTree(Seq("x"), "y", maxDepth = 4,
      categoricalColumns = Seq("lang"), weightColumn = Some("w")).fit(wDf)
    val rFit = new RegressionTree(Seq("x"), "y", maxDepth = 4,
      categoricalColumns = Seq("lang")).fit(rDf)
    assert(wFit.root == rFit.root,
      s"weighted ${wFit.caseSql}\nreplicated ${rFit.caseSql}")
  }

  /** The boosters' weighted ≡ replicated contract. The single-tree
    * learners' parity is BITWISE because integer fixtures make every
    * weighted sum the exact replicated sum. A boosted stage's target
    * is a residual — y − σ(margin), or y minus a non-dyadic mean — so
    * w·r and r summed w times differ in the last ULP by fp
    * associativity (the same honest bound as the spill-path spec's
    * order-dependent aggregates). Contract: identical STRUCTURE (split
    * features, IN-sets), thresholds and leaves ≤ 1e-9 relative. With
    * `ordered = false` an IN-list may list its values in another
    * order: categories whose rates tie up to that last ULP sort either
    * way in the prefix order, the set they form does not move.
    */
  private def structEq(a: RegTreeNode, b: RegTreeNode, ordered: Boolean = true): Boolean =
    (a, b) match {
      case (RegLeaf(x), RegLeaf(y)) =>
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case (RegSplit(fa, ta, la, ra), RegSplit(fb, tb, lb, rb)) =>
        fa == fb && math.abs(ta - tb) <= 1e-9 * math.max(1.0, math.abs(ta)) &&
          structEq(la, lb, ordered) && structEq(ra, rb, ordered)
      case (RegCatSplit(fa, va, la, ra), RegCatSplit(fb, vb, lb, rb)) =>
        fa == fb && (if (ordered) va == vb else va.sorted == vb.sorted) &&
          structEq(la, lb, ordered) && structEq(ra, rb, ordered)
      case _ => false
    }

  test("logistic GBT: integer weights ≡ row replication across stages (structural, fp-tolerant)") {
    val wFit = new GradientBoostingClassifier(Seq("x"), "class",
      numStages = 3, learningRate = 0.5, maxDepth = 2,
      categoricalColumns = Seq("lang"), weightColumn = Some("w"))
      .fit(weightedDf)
    val rFit = new GradientBoostingClassifier(Seq("x"), "class",
      numStages = 3, learningRate = 0.5, maxDepth = 2,
      categoricalColumns = Seq("lang")).fit(replicatedDf)
    assert(wFit.baseLogOdds == rFit.baseLogOdds) // integer y: exact
    assert(wFit.stages.size == rFit.stages.size)
    wFit.stages.zip(rFit.stages).zipWithIndex.foreach { case ((a, b), i) =>
      assert(structEq(a, b), s"stage $i:\n${a.caseSql}\n${b.caseSql}")
    }
  }

  test("fractional soft-dedup weights shift the fit toward distinct content") {
    // 10 copies of an (x=1, class=1) row would dominate an unweighted
    // fit; 1/n dedup weights make the copies ONE unit of mass, so the
    // weighted majority flips back to the distinct rows' class
    val rows = Seq.fill(10)((1.0, 1, 0.1)) ++
      Seq((2.0, 0, 1.0), (3.0, 0, 1.0), (4.0, 0, 1.0))
    val df = rows.toDF("x", "class", "w")
    val p = DecisionTreeParams(Seq.empty, "class", "mean", "entropy",
      maxDepth = 0) // root only: pure majority
    val unweighted = new MulticlassDecisionTree(
      p.copy(featureColumns = Seq.empty)).fit(df.select("x", "class"))
    val weighted = new MulticlassDecisionTree(p, weightColumn = Some("w"))
      .fit(df)
    assert(unweighted.root == LeafNode(1, "class"))
    assert(weighted.root == LeafNode(0, "class"),
      "1 unit of duplicated mass vs 3 units distinct → majority 0")
  }

  test("k-ary FOREST: weighted fused ≡ weighted sequential ≡ replicated unweighted") {
    val rows = base.map { case (l, x, c, w) =>
      (l, x, if (l == "fr") 2 else c, w) }
    val wDf = rows.toDF("lang", "x", "class", "w")
    val rDf = rows.flatMap { case (l, x, c, w) => Seq.fill(w)((l, x, c)) }
      .toDF("lang", "x", "class")
    val p = DecisionTreeParams(Seq("x"), "class", "mean", "gini", maxDepth = 3)
    def roots(f: FittedMulticlassForest) = f.trees.map(_.root)
    val fused = new MulticlassRandomForest(p, numTrees = 3,
      categoricalColumns = Seq("lang"), weightColumn = Some("w")).fit(wDf)
    val seq = new MulticlassRandomForest(p, numTrees = 3,
      categoricalColumns = Seq("lang"), weightColumn = Some("w"))
      .fitSequential(wDf)
    assert(roots(fused) == roots(seq), "weighted fused ≠ weighted sequential")
    // the bags hash FEATURE VALUES only (never the weight), so a
    // replicated row bags identically to its weighted original and
    // integer weights ≡ replication holds tree-for-tree
    val repl = new MulticlassRandomForest(p, numTrees = 3,
      categoricalColumns = Seq("lang")).fit(rDf)
    assert(roots(fused) == roots(repl), "weighted ≠ replicated")
  }

  test("every weighted learner at MaxCategories categories, NaN numerics: weights ≡ replication") {
    val wDf = WideCategorical.rows.toDF("lang", "x", "z", "class", "w")
      .withColumn("bin", col("class") % 2)
      .withColumn("y", col("class") * 10.0 + col("z"))
    val rDf = wDf.withColumn("w", explode(sequence(lit(1), col("w")))).drop("w")
    val cats = Seq("lang")
    val p = DecisionTreeParams(Seq("x", "z"), "class", "mean", "gini", maxDepth = 4)
    def splitsOnLang(caseSql: String) = assert(caseSql.contains("CAST(lang AS STRING) IN"), caseSql)

    val bin = p.copy(classColumn = "bin", splitMetric = "entropy")
    val dt = Seq(new DecisionTree(bin, cats, Some("w")).fit(wDf),
      new DecisionTree(bin, cats).fit(rDf)).map(_.root.caseSql)
    assert(dt(0) == dt(1), s"DecisionTree weighted ${dt(0)}\nreplicated ${dt(1)}")
    splitsOnLang(dt(0))

    val mc = Seq(new MulticlassDecisionTree(p, cats, Some("w")).fit(wDf),
      new MulticlassDecisionTree(p, cats).fit(rDf))
    assert(mc(0).caseSql == mc(1).caseSql,
      s"MulticlassDecisionTree weighted ${mc(0).caseSql}\nreplicated ${mc(1).caseSql}")
    mc(1).classes.foreach(c => assert(mc(0).probCaseSql(c) == mc(1).probCaseSql(c), s"class $c"))
    splitsOnLang(mc(0).caseSql)

    Seq(false, true).foreach { gradient =>
      def rt(w: Option[String]) = new RegressionTree(Seq("x", "z"), "y", maxDepth = 4,
        gradientWeightedThresholds = gradient, categoricalColumns = cats, weightColumn = w)
      val (a, b) = (rt(Some("w")).fit(wDf).caseSql, rt(None).fit(rDf).caseSql)
      assert(a == b, s"RegressionTree (gradient=$gradient) weighted $a\nreplicated $b")
      splitsOnLang(a)
    }

    def forest(w: Option[String]) = new MulticlassRandomForest(p.copy(maxDepth = 3),
      numTrees = 3, categoricalColumns = cats, weightColumn = w)
    val fused = forest(Some("w")).fit(wDf).trees.map(_.caseSql)
    assert(fused == forest(Some("w")).fitSequential(wDf).trees.map(_.caseSql),
      "weighted fused ≠ weighted sequential")
    assert(fused == forest(None).fit(rDf).trees.map(_.caseSql), "weighted ≠ replicated")

    def stagesEq(name: String, a: Seq[RegTreeNode], b: Seq[RegTreeNode]): Unit = {
      assert(a.size == b.size, name)
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        assert(structEq(x, y, ordered = false), s"$name stage $i:\n${x.caseSql}\n${y.caseSql}")
      }
    }
    def gbt(w: Option[String]) = new GradientBoosting(Seq("x", "z"), "y", maxDepth = 2,
      categoricalColumns = cats, weightColumn = w)
    stagesEq("GradientBoosting", gbt(Some("w")).fit(wDf).stages, gbt(None).fit(rDf).stages)
    def gbc(w: Option[String]) = new GradientBoostingClassifier(Seq("x", "z"), "bin",
      maxDepth = 2, categoricalColumns = cats, weightColumn = w)
    stagesEq("GradientBoostingClassifier",
      gbc(Some("w")).fit(wDf).stages, gbc(None).fit(rDf).stages)
    def sgb(w: Option[String]) = new SoftmaxGradientBoosting(Seq("x", "z"), "class",
      numStages = 2, categoricalColumns = cats, weightColumn = w)
    val (sw, sr) = (sgb(Some("w")).fit(wDf), sgb(None).fit(rDf))
    stagesEq("SoftmaxGradientBoosting", sw.stages.flatMap(m => m.toSeq.sortBy(_._1).map(_._2)),
      sr.stages.flatMap(m => m.toSeq.sortBy(_._1).map(_._2)))
  }

  test("binary tree: a weighted fit with a feature named y ≡ the same feature renamed") {
    // the weighted label product and the feature products share one
    // pre-projection registry: a feature literally named `y` must not
    // pick up the label product (or vice versa)
    def renamed(n: TreeNode): TreeNode = n match {
      case DecisionNode(a, t, l, r) =>
        DecisionNode(if (a == "x") "y" else a, t, renamed(l), renamed(r))
      case CatDecisionNode(a, vs, l, r) =>
        CatDecisionNode(a, vs, renamed(l), renamed(r))
      case leaf => leaf
    }
    def fitOn(feature: String): TreeNode = {
      val p = DecisionTreeParams(Seq(feature), "class", "mean", "entropy", maxDepth = 4)
      new DecisionTree(p, categoricalColumns = Seq("lang"), weightColumn = Some("w"))
        .fit(base.toDF("lang", feature, "class", "w")).root
    }
    val asY = fitOn("y")
    val asX = fitOn("x")
    assert(asY == renamed(asX), s"feature y ${asY.caseSql}\nfeature x ${asX.caseSql}")
  }

  test("NULL / non-positive weights are rejected at fit time") {
    val df = Seq((1.0, 1, 0.0), (2.0, 0, 1.0)).toDF("x", "class", "w")
    val p = DecisionTreeParams(Seq("x"), "class", "mean", "gini", maxDepth = 2)
    val ex = intercept[IllegalArgumentException] {
      new DecisionTree(p, weightColumn = Some("w")).fit(df)
    }
    assert(ex.getMessage.contains("positive"))
  }
}
