package graft.tree

import graft.SparkSpec
import graft.tree.SequentialForests._
import org.apache.spark.sql.functions._

class RandomForestSpec extends SparkSpec {

  lazy val labeled = graft.Tables.labeledLineitem(spark, "/root/testdata/sf0.001")

  test("forest fit is deterministic") {
    val params = DecisionTreeParams(Seq("l_discount", "l_quantity", "l_tax"),
      "class", "mean", "entropy", maxDepth = 2)
    val f1 = new RandomForest(params, numTrees = 3).fit(labeled)
    val f2 = new RandomForest(params, numTrees = 3).fit(labeled)
    assert(f1.toJValue == f2.toJValue)
  }

  test("forest learns the feature-derived label and beats a stump") {
    val params = DecisionTreeParams(Seq("l_discount", "l_quantity", "l_tax"),
      "class", "mean", "entropy", maxDepth = 3)
    val forest = new RandomForest(params, numTrees = 5).fit(labeled)
    val out = forest.transform(labeled)
    val acc = out.filter(col("class") === col("prediction")).count().toDouble / out.count()
    assert(acc > 0.95, s"forest accuracy $acc")
    val stump = new DecisionTree(params.copy(maxDepth = 0)).fit(labeled)
    val stumpAcc = stump.transform(labeled)
      .filter(col("class") === col("prediction")).count().toDouble / out.count()
    assert(acc > stumpAcc)
  }

  test("vote is a majority: unanimous leaves dominate") {
    val params = DecisionTreeParams(Seq("l_quantity"), "class", "mean", "entropy",
      maxDepth = 1)
    val forest = new RandomForest(params, numTrees = 3).fit(labeled)
    val preds = forest.transform(labeled).select("prediction").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(preds.subsetOf(Set(0, 1)))
  }

  test("forest json round-trips") {
    val params = DecisionTreeParams(Seq("l_discount", "l_quantity"),
      "class", "mean", "entropy", maxDepth = 2)
    val rf = new RandomForest(params, numTrees = 3)
    val fitted = rf.fit(labeled)
    val loaded = FittedRandomForest.fromJson(fitted.json(), rf)
    assert(loaded.toJValue == fitted.toJValue)
    val a = fitted.transform(labeled).select("prediction").collect().map(_.getInt(0)).toSeq
    val b = loaded.transform(labeled).select("prediction").collect().map(_.getInt(0)).toSeq
    assert(a == b)
  }

  test("fused level-wise fit produces trees identical to the sequential fit") {
    val labeled = graft.Tables.labeledLineitem(spark, "/root/testdata/sf0.001")
    val params = DecisionTreeParams(
      Seq("l_discount", "l_quantity", "l_tax"), "class", "mean", "entropy", maxDepth = 3)
    val forest = new RandomForest(params, numTrees = 3)
    val fused = forest.fit(labeled)
    val sequential = forest.fitSequential(labeled)
    assert(fused.trees.size == sequential.trees.size)
    fused.trees.zip(sequential.trees).foreach { case (f, s) =>
      assert(f.json() == s.json())
    }
  }

  test("OOB error: sane rate, coverage, and a hand-checkable construction") {
    val params = DecisionTreeParams(Seq("l_discount", "l_quantity", "l_tax"),
      "class", "mean", "entropy", maxDepth = 3)
    val forest = new RandomForest(params, numTrees = 5, bagFraction = 0.6)
    val fitted = forest.fit(labeled)
    val (err, n) = fitted.oobError(labeled)
    val total = labeled.count()
    // with bagFraction 0.6 and 5 trees, virtually every row is OOB
    // for at least one tree: P(all bags) ≈ 0.6^5 ≈ 7.8%
    assert(n > total / 2, s"OOB coverage $n of $total")
    // the label is feature-derived (learnable): OOB error must beat
    // the base rate by a wide margin
    assert(err < 0.2, s"OOB error $err")
    // cross-check against a manual reconstruction over a sample: a
    // row votes only among trees whose bag EXCLUDES it
    val manual = {
      val preds = fitted.trees.zipWithIndex.map { case (t, i) =>
        when(!forest.bagFilter(i), t.root.predictionExpr.cast("int"))
      }
      val votes = preds.map(p => coalesce(p, lit(0))).reduce(_ + _)
      val cnt = fitted.trees.indices
        .map(i => when(!forest.bagFilter(i), 1).otherwise(0)).reduce(_ + _)
      labeled.select(col("class").cast("int").as("y"),
          ((votes * 2 > cnt)).cast("int").as("p"), cnt.as("n"))
        .filter(col("n") > 0)
        .agg(avg((col("y") =!= col("p")).cast("double"))).head().getDouble(0)
    }
    assert(math.abs(manual - err) < 1e-12, s"manual $manual vs $err")
  }

  test("binary forest categorical splits: fused ≡ sequential, planted rule recovered") {
    // class 1 ⇔ lang ∈ {en, de}, with an INTEGER-valued numeric
    // distractor (the house parity convention — recomputed child
    // thresholds equal composed ones exactly)
    import spark.implicits._
    val rows = for {
      lang <- Seq("en", "de", "fr", "zh")
      x <- Seq(1.0, 2.0, 3.0, 4.0)
      rep <- 1 to 3
    } yield (lang, x, if (lang == "en" || lang == "de") 1 else 0)
    val df = rows.toDF("lang", "x", "class")
    val p = DecisionTreeParams(Seq("x"), "class", "mean", "entropy",
      maxDepth = 3)
    val forest = new RandomForest(p, numTrees = 3,
      categoricalColumns = Seq("lang"))
    val fused = forest.fit(df)
    val seq = forest.fitSequential(df)
    fused.trees.zip(seq.trees).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.root == b.root, s"tree $i")
    }
    val out = fused.transform(df).select("class", "prediction").collect()
    assert(out.forall(r => r.getInt(0) == r.getInt(1)))
    // at least one tree split on the categorical
    assert(fused.trees.exists(_.root match {
      case CatDecisionNode("lang", _, _, _) => true
      case _ => false
    }))
    // no categoricals ⇒ bags and trees bit-identical to the
    // pre-categorical forest (the hash adds nothing)
    val plain = new RandomForest(p.copy(
      featureColumns = Seq("x")), numTrees = 3)
    assert(plain.fit(df.select("x", "class")).toJValue ==
      new RandomForest(p.copy(featureColumns = Seq("x")), numTrees = 3,
        categoricalColumns = Seq.empty).fit(df).toJValue)
  }

  test("binary forest at MaxCategories categories, NaN numerics: fused ≡ sequential") {
    import spark.implicits._
    val df = WideCategorical.rows.map { case (lang, x, z, cls, _) => (lang, x, z, cls % 2) }
      .toDF("lang", "x", "z", "class")
    val p = DecisionTreeParams(Seq("x", "z"), "class", "mean", "entropy", maxDepth = 4)
    val forest = new RandomForest(p, numTrees = 3, categoricalColumns = Seq("lang"))
    val fused = forest.fit(df).trees.map(_.root.caseSql)
    val seq = forest.fitSequential(df).trees.map(_.root.caseSql)
    fused.zip(seq).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"tree $i diverged:\n$a\nvs\n$b")
    }
    assert(fused.exists(_.contains("CAST(lang AS STRING) IN")), fused.mkString("\n"))
  }

  test("k-ary OOB error mirrors the binary contract") {
    val tiers = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .withColumn("class",
        when(col("l_quantity") <= 15, 0)
          .when(col("l_quantity") <= 35, 1).otherwise(2))
    val p = DecisionTreeParams(Seq("l_quantity", "l_discount"), "class",
      "mean", "gini", maxDepth = 3)
    val fitted = new MulticlassRandomForest(p, numTrees = 5,
      bagFraction = 0.6).fit(tiers)
    val (err, n) = fitted.oobError(tiers)
    assert(n > 0 && err < 0.2, s"k-ary OOB error $err over $n rows")
  }
}
