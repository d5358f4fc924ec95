package graft.tree

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13 fixes, each pinned (r12 advice + verdict):
  *  - binary learners: degenerate numeric candidates no longer
  *    suppress gainful categorical splits, while numeric-only fits
  *    keep EXACT reference leaf-if-degenerate-best parity;
  *  - booster early stopping survives an empty validation side;
  *  - one fit per boosting loss pinned by the digest of its model;
  *  - IN-set serde keys dispatch before numeric "<=" keys;
  *  - isotonicFit enforces its distinct-score driver-collect bound.
  */
class R13FixesSpec extends SparkSpec {
  import spark.implicits._

  /** Parent 50/50, so parent entropy = 1.0. The constant numeric
    * feature offers the degenerate all-rows-left split scoring
    * metric(parent) + metric(0) = 1.0; the categorical split (a:
    * 3/4 pos, b: 1/4 pos) scores H(.75)+H(.25) ≈ 1.62 under the
    * reference UNWEIGHTED objective — so pre-fix the degenerate
    * candidate won the argmin and forced a root leaf.
    */
  def mixedFixture = Seq(
    ("a", 5.0, 1), ("a", 5.0, 1), ("a", 5.0, 1), ("a", 5.0, 0),
    ("b", 5.0, 0), ("b", 5.0, 0), ("b", 5.0, 0), ("b", 5.0, 1)
  ).toDF("lang", "zconst", "class")

  test("binary tree: degenerate numeric candidate does not suppress a gainful IN-set split") {
    val tree = new DecisionTree(
      DecisionTreeParams(Seq("zconst"), maxDepth = 1),
      categoricalColumns = Seq("lang")).fit(mixedFixture)
    tree.root match {
      case CatDecisionNode(attr, values, _, _) =>
        assert(attr == "lang" && (values == Seq("b") || values == Seq("a")))
      case other => fail(s"expected a categorical root split, got $other")
    }
    // and the split is USED: per-lang majorities recovered
    val preds = tree.transform(mixedFixture)
      .groupBy("lang").agg(avg("prediction").as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(preds("a") == 1.0 && preds("b") == 0.0)
  }

  test("binary fused forest stays in lockstep: categorical split wins over the degenerate numeric") {
    val forest = new RandomForest(
      DecisionTreeParams(Seq("zconst"), maxDepth = 1),
      numTrees = 3, bagFraction = 1.0,
      categoricalColumns = Seq("lang")).fit(mixedFixture)
    forest.trees.foreach { t =>
      t.root match {
        case CatDecisionNode("lang", _, _, _) => ()
        case other => fail(s"expected lang IN-set root, got $other")
      }
    }
  }

  test("numeric-only parity pin: a degenerate best STILL leafs the node (reference dtree.py:233-234)") {
    // zconst is the ONLY feature: its degenerate split is the argmin
    // winner, and the reference semantics leaf the root
    val tree = new DecisionTree(
      DecisionTreeParams(Seq("zconst"), maxDepth = 2)).fit(mixedFixture)
    tree.root match {
      case LeafNode(label, _) => assert(label == 0 || label == 1)
      case other => fail(s"numeric-only degenerate best must leaf, got $other")
    }
  }

  // ---- early stopping with an empty validation side ----------------

  test("booster early stopping survives an empty validation split (no NPE, keeps all stages)") {
    // one shared feature value across ALL rows → the xxhash64 split
    // puts every row on one side; pick a constant whose bucket lands
    // in TRAIN so the validation side is empty
    val c = (1 to 50).map(_.toDouble).find { v =>
      spark.range(1)
        .select((pmod(xxhash64(lit(42L), lit(-1), lit(v)), lit(1000L)) >= 100L)
          .as("train"))
        .head().getBoolean(0)
    }.get
    val df = (0 until 40).map(i => (c, i % 7 + 0.0)).toDF("x", "y")
    val gbt = new GradientBoosting(Seq("x"), "y", numStages = 3,
      validationFraction = 0.1).fit(df)
    assert(gbt.stages.size == 3, "early stopping must be inert, keeping all stages")
    val clf = new GradientBoostingClassifier(Seq("x"), "yy", numStages = 3,
      validationFraction = 0.1)
      .fit(df.withColumn("yy", (col("y") > 3.0).cast("int")))
    assert(clf.stages.size == 3)
  }

  // ---- booster models pinned past stages 4 and 8 ------------------

  def boostFixture = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    .withColumn("y", col("l_quantity") * 10.0 +
      when(col("l_discount") > 0.05, 100.0).otherwise(0.0))
    .withColumn("cls", (col("l_quantity") > 25.0).cast("int"))

  private val boostFeatures = Seq("l_quantity", "l_discount")

  private def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // 9-stage fits, one per loss: the digests of their toJson were taken
  // when the boosters still materialized the running margin every 4
  // stages, so they pin that dropping the materialization left every
  // fitted tree and the early-stopped prefix as they were
  test("pinned 9-stage L2 fit with early stopping") {
    val gbt = new GradientBoosting(boostFeatures, "y", numStages = 9,
      validationFraction = 0.2).fit(boostFixture)
    assert(gbt.stages.size == 7)
    assert(md5(gbt.toJson) == "76d9bc47eff03efd7bc180728667e821")
  }

  test("pinned 9-stage logistic fit") {
    val gbt = new GradientBoostingClassifier(boostFeatures, "cls", numStages = 9)
      .fit(boostFixture)
    assert(md5(gbt.toJson) == "778fe092974ae884a7658fdb3fe3ae47")
  }

  test("pinned 9-stage 3-class softmax fit") {
    val df = boostFixture.withColumn("k",
      when(col("l_quantity") > 35.0, 2)
        .when(col("l_quantity") > 15.0, 1).otherwise(0))
    val gbt = new SoftmaxGradientBoosting(boostFeatures, "k", numStages = 9).fit(df)
    assert(md5(gbt.toJson) == "1d2d27f39116a8eb4c4bfd49fa4eaf67")
  }

  // ---- serde key-shape dispatch --------------------------------------

  test("IN-set keys whose category values contain '<=' round-trip (classifier serde)") {
    val tree = CatDecisionNode("lang", Seq("a<=b", "c"),
      LeafNode(1, "class"),
      DecisionNode("x", 2.5, LeafNode(0, "class"), LeafNode(1, "class")))
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(tree.toJValue))
    assert(TreeNode.fromJValue(JsonMethods.parse(json)) == tree)
  }

  test("IN-set keys whose category values contain '<=' round-trip (regression serde)") {
    val tree: RegTreeNode = RegCatSplit("lang", Seq("x<=y"),
      RegLeaf(1.5), RegSplit("x", 3.5, RegLeaf(0.25), RegLeaf(0.75)))
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(RegTreeNode.toJValue(tree)))
    assert(RegTreeNode.fromJValue(JsonMethods.parse(json)) == tree)
  }

  // ---- isotonic cardinality guard ------------------------------------

  test("isotonicFit fails fast past the distinct-score bound with a pre-round hint") {
    import graft.ops.Evaluation
    val n = Evaluation.MaxScoreGroups + 1000
    val continuous = spark.range(n.toLong)
      .select((col("id") / n).as("p"), (col("id") % 2).cast("int").as("y"))
    val err = intercept[IllegalArgumentException] {
      Evaluation.isotonicFit(continuous, "y", "p")
    }
    assert(err.getMessage.contains("pre-round"))
  }
}
