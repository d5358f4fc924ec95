package graft.tree

import graft.SparkSpec
import graft.tree.SequentialForests._
import org.apache.spark.sql.functions._

class RegressionForestSpec extends SparkSpec {
  import spark.implicits._

  /** Integer-valued target/features (the house parity convention: all
    * sums are exact doubles, so fused ≡ sequential is bitwise).
    */
  private def df = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    .withColumn("y", col("l_quantity") * 10.0 +
      when(col("l_discount") > 0.05, 100.0).otherwise(0.0))

  test("fused level-wise fit produces trees identical to the sequential fit") {
    val rf = new RegressionRandomForest(
      Seq("l_quantity", "l_discount", "l_tax"), "y",
      numTrees = 3, featureSubsetSize = 2, maxDepth = 3)
    val fused = rf.fit(df)
    val seq = rf.fitSequential(df)
    fused.trees.zip(seq.trees).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"tree $i:\n${a.caseSql}\n${b.caseSql}")
    }
  }

  test("prediction is the ensemble mean of the per-tree chains") {
    val rf = new RegressionRandomForest(Seq("l_quantity", "l_discount"), "y",
      numTrees = 3, maxDepth = 2).fit(df)
    val out = rf.transform(df).limit(50)
      .withColumn("manual",
        rf.trees.map(_.predictionExpr).reduce(_ + _) / 3.0)
      .filter(abs(col("prediction") - col("manual")) > 0.0)
    assert(out.count() == 0)
    assert(rf.modelSql.startsWith("((") && rf.modelSql.endsWith("/ 3.0)"))
  }

  test("bagged ensemble tracks the target about as well as a single tree") {
    val single = new RegressionTree(Seq("l_quantity", "l_discount"), "y",
      maxDepth = 4).fit(df)
    val forest = new RegressionRandomForest(
      Seq("l_quantity", "l_discount"), "y", numTrees = 5, maxDepth = 4).fit(df)
    def mae(d: org.apache.spark.sql.DataFrame): Double =
      d.agg(avg(abs(col("prediction") - col("y")))).head().getDouble(0)
    val sm = mae(single.transform(df)); val fm = mae(forest.transform(df))
    val range = df.agg(max("y") - min("y")).head().getDouble(0)
    assert(fm < range * 0.1, s"forest MAE $fm vs range $range")
    assert(fm < sm * 1.5, s"forest MAE $fm vs single $sm")
  }

  test("deterministic: refit gives the identical ensemble") {
    def roots() = new RegressionRandomForest(
      Seq("l_quantity", "l_discount"), "y", numTrees = 2, maxDepth = 2)
      .fit(df).trees
    assert(roots() == roots())
  }
}
