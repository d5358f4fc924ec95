package graft.tree

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style checks (raw ScalaCheck generators sampled on a
  * fixed seed): serde round-trips arbitrary trees and the codegen'd
  * classify agrees with a driver-side interpreter on arbitrary data.
  */
class TreePropertySpec extends SparkSpec {
  import spark.implicits._

  val attrs = Seq("f0", "f1", "f2")

  def genTree(depth: Int): Gen[TreeNode] =
    if (depth == 0) Gen.oneOf(0, 1).map(LeafNode(_))
    else Gen.frequency(
      3 -> (for {
        a <- Gen.oneOf(attrs)
        t <- Gen.chooseNum(-5.0, 5.0)
        l <- genTree(depth - 1)
        r <- genTree(depth - 1)
      } yield DecisionNode(a, t, l, r)),
      1 -> Gen.oneOf(0, 1).map(LeafNode(_)))

  def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  def interpret(n: TreeNode, row: Map[String, Double]): Int = n match {
    case LeafNode(l, _) => l
    case DecisionNode(a, t, lt, rt) =>
      if (row(a) <= t) interpret(lt, row) else interpret(rt, row)
  }

  test("serde round-trips arbitrary trees") {
    samples(genTree(4), 50).foreach { tree =>
      assert(TreeNode.fromJValue(tree.toJValue) == tree, s"round-trip failed for $tree")
    }
  }

  test("codegen classify agrees with driver-side interpretation") {
    val dataGen = Gen.listOfN(20, Gen.listOfN(3, Gen.chooseNum(-6.0, 6.0)))
    val trees = samples(genTree(3), 15)
    val datasets = samples(dataGen, 15)
    trees.zip(datasets).foreach { case (tree, rows) =>
      val df = rows.map { case List(a, b, c) => (a, b, c) }.toDF("f0", "f1", "f2")
      val got = TreeNode.classify(tree, df)
        .select("prediction").collect().map(_.getInt(0)).toSeq
      val want = rows.map(r => interpret(tree, attrs.zip(r).toMap))
      assert(got == want, s"mismatch for $tree")
    }
  }

  test("condition string parsing inverts rendering") {
    samples(Gen.zip(Gen.oneOf(attrs), Gen.chooseNum(-100.0, 100.0)), 50)
      .foreach { case (a, t) =>
        val node = DecisionNode(a, t, LeafNode(0), LeafNode(1))
        assert(DecisionNode.fromConditionStr(node.conditionStr(lt = true)) == ((a, t)))
        assert(DecisionNode.fromConditionStr(node.conditionStr(lt = false), lt = false) == ((a, t)))
      }
  }

  test("deep fit past depth 12 routes through the same node-keyed lookup") {
    import spark.implicits._
    // a single impure path: only x ∈ {0, 1} mix labels, so midpoint
    // splits walk one branch down to depth ~15 with ≤2 open nodes per
    // level — the realistic deep-tree shape, whose node ids outgrow
    // any dense per-level array
    val df = (0 until (1 << 15)).map(i => (i.toDouble, if (i < 2) i % 2 else 0))
      .toDF("x", "class")
    val fitted = new DecisionTree(
      DecisionTreeParams(Seq("x"), "class", "midpoint", "entropy", maxDepth = 16)).fit(df)
    assert(fitted.nodeSplits.keys.exists(_ >= (1L << 13)), "expected splits past depth 12")
    // the deep boundary is learned exactly
    val got = fitted.transform(Seq(0.0, 1.0, 2.0, 100.0).toDF("x"))
      .orderBy("x").select("prediction").as[Int].collect().toSeq
    assert(got == Seq(0, 1, 0, 0))
  }
}
