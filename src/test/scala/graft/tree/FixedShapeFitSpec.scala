package graft.tree

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** The fixed-shape level pass: `FitInternals.routeExpr` and the
  * node-keyed threshold lookup carry the tree as data, so (1) every
  * row reaches the node the literal `when` chain sends it to, on the
  * generated and on the interpreted path, and (2) deeper levels and
  * new thresholds reuse the classes the first levels compiled.
  */
class FixedShapeFitSpec extends SparkSpec {
  import spark.implicits._

  private val numeric = Seq("d", "i", "m")
  private val categorical = Seq("c", "k")
  private val numPool = Seq(-2.5, -1.0, -0.0, 0.0, 0.5, 1.0, 3.0, 7.25)
  private val catPool = Seq("a", "b", "c", "d", "e", "0", "1", "2", "3")

  /** Rows over double `d` (with NaN), int `i`, decimal `m`, string `c`
    * and int `k` categoricals, each NULL now and then; `c`/`k` also
    * take values no IN-set holds ("zz", 9).
    */
  private def frame(rnd: Random, n: Int): DataFrame = {
    def maybe[A](a: => A): Any = if (rnd.nextInt(8) == 0) null else a
    val rows = (0 until n).map { r =>
      Row(r.toLong,
        maybe(if (rnd.nextInt(10) == 0) Double.NaN else numPool(rnd.nextInt(numPool.size))),
        maybe(rnd.nextInt(9) - 3),
        maybe(java.math.BigDecimal.valueOf(numPool(rnd.nextInt(numPool.size)))
          .setScale(3, java.math.RoundingMode.HALF_EVEN)),
        maybe((catPool.take(5) :+ "zz")(rnd.nextInt(6))),
        maybe(Seq(0, 1, 2, 3, 9)(rnd.nextInt(5))))
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType),
      StructField("i", IntegerType), StructField("m", DecimalType(12, 3)),
      StructField("c", StringType), StructField("k", IntegerType)))
    // an RDD source, not a local relation: the optimizer would
    // evaluate projections over local data itself, bypassing codegen
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** A random tree: one spine of splits down to `depth`, side branches
    * that stop early; thresholds include NaN, and IN-sets values the
    * data never holds.
    */
  private def tree(rnd: Random, depth: Int)
      : (Map[Long, SplitParams], Map[Long, (String, Seq[String])]) = {
    val splits = Map.newBuilder[Long, SplitParams]
    val cats = Map.newBuilder[Long, (String, Seq[String])]
    def grow(id: Long, level: Int, spine: Boolean): Unit =
      if (level < depth && (spine || rnd.nextInt(3) == 0)) {
        if (rnd.nextInt(3) == 0) {
          val set = catPool.filter(_ => rnd.nextBoolean())
          cats += id -> (categorical(rnd.nextInt(2)) -> set)
        } else {
          val t = if (rnd.nextInt(12) == 0) Double.NaN else numPool(rnd.nextInt(numPool.size))
          splits += id -> SplitParams(numeric(rnd.nextInt(3)), t)
        }
        val leftSpine = rnd.nextBoolean()
        grow(2 * id, level + 1, spine && leftSpine)
        grow(2 * id + 1, level + 1, spine && !leftSpine)
      }
    grow(1L, 0, spine = true)
    (splits.result(), cats.result())
  }

  /** The literal `when` chain the routing table replaced. */
  private def whenChain(splits: Map[Long, SplitParams],
                        cats: Map[Long, (String, Seq[String])]): Column = {
    def go(id: Long): Column = splits.get(id) match {
      case Some(s) =>
        when(col(s.attribute) <= lit(s.threshold), go(2 * id)).otherwise(go(2 * id + 1))
      case None => cats.get(id) match {
        case Some((a, vs)) =>
          when(col(a).cast("string").isin(vs: _*), go(2 * id)).otherwise(go(2 * id + 1))
        case None => lit(id)
      }
    }
    go(1L)
  }

  private def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def routesLikeWhenChain(seed: Int): Unit = {
    val rnd = new Random(seed)
    val df = frame(rnd, 3000).cache()
    try (1 to 12).foreach { trial =>
      val (splits, cats) = tree(rnd, depth = if (trial % 3 == 0) 16 else 1 + rnd.nextInt(16))
      val got = FitInternals.routeExpr(numeric, categorical, splits, cats)
      val out = df.select(got.as("got"), whenChain(splits, cats).as("want"))
      val bad = out.where(col("got") =!= col("want")).count()
      assert(bad == 0L, s"$bad rows routed differently (trial $trial, " +
        s"${splits.size} numeric + ${cats.size} categorical splits)")
      assert(out.select("got").distinct().count() > 1L || splits.size + cats.size == 0)
    } finally { df.unpersist(); () }
  }

  private def thresholdsLikeMap(seed: Int): Unit = {
    val rnd = new Random(seed)
    val entries = (0 until 200).map(_ => (rnd.nextInt(4), 1L + rnd.nextInt(5000)))
      .distinct.map { case (t, id) => (t, id, rnd.nextGaussian()) }
    val byKey = entries.map { case (t, id, v) => (t, id) -> v }.toMap
    val probes = entries.map { case (t, id, _) => (t, id) } ++
      (0 until 300).map(_ => (rnd.nextInt(5), 1L + rnd.nextInt(6000)))
    val got = spark.createDataFrame(spark.sparkContext.parallelize(probes, 3))
      .toDF("t", "node")
      .select($"t", $"node", FitInternals.levelThresholdExprForest(entries).as("v"))
      .as[(Int, Long, Double)].collect()
    got.foreach { case (t, id, v) =>
      val want = byKey.getOrElse((t, id), Double.NaN)
      assert(v.equals(want), s"($t, $id) read $v, want $want")
    }
    val single = entries.filter(_._1 == 0).map { case (_, id, v) => (id, v) }
    val gotSingle = spark.createDataFrame(spark.sparkContext.parallelize(probes.map(_._2), 3)
        .map(Tuple1(_))).toDF("node")
      .select($"node", FitInternals.levelThresholdExpr(single).as("v"))
      .as[(Long, Double)].collect()
    gotSingle.foreach { case (id, v) =>
      assert(v.equals(byKey.getOrElse((0, id), Double.NaN)), s"node $id read $v")
    }
  }

  test("routeExpr routes every row like the when chain (whole-stage codegen)") {
    routesLikeWhenChain(seed = 11)
  }

  test("routeExpr routes every row like the when chain (interpreted eval)") {
    interpreted(routesLikeWhenChain(seed = 12))
  }

  test("node-keyed thresholds read the table, NaN off it (codegen and interpreted)") {
    thresholdsLikeMap(seed = 21)
    interpreted(thresholdsLikeMap(seed = 22))
  }

  test("deeper levels and new thresholds compile no new classes") {
    def rows(shift: Double): DataFrame = (0 until 600).map { r =>
      val x1 = (r % 37).toDouble + shift
      val x2 = ((r * 7) % 23).toDouble + shift
      val y = math.sin(r % 37) * 10 + (r * 7) % 23 + (r % 5)
      (x1, x2, y, r % 37 % 3 + (r * 7) % 23 % 2, s"v${r % 5}")
    }.toDF("x1", "x2", "y", "class", "lang")
    def regTree(depth: Int, df: DataFrame): RegTreeNode =
      new RegressionTree(Seq("x1", "x2"), "y", maxDepth = depth).fit(df).root
    def mcTree(depth: Int, df: DataFrame): FittedMulticlassTree =
      new MulticlassDecisionTree(DecisionTreeParams(Seq("x1", "x2"), "class",
        maxDepth = depth), Seq("lang")).fit(df)
    def regDepth(n: RegTreeNode): Int = n match {
      case s: RegSplit => 1 + math.max(regDepth(s.left), regDepth(s.right))
      case s: RegCatSplit => 1 + math.max(regDepth(s.left), regDepth(s.right))
      case _ => 0
    }
    val base = rows(0.0)
    val shifted = rows(1000.0)
    regTree(2, base); mcTree(2, base)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val deep = Seq(regTree(5, base), regTree(5, shifted))
    val deepMc = Seq(mcTree(5, base), mcTree(5, shifted))
    val delta = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    // the pinned fits really do go past the warm-up's levels
    deep.foreach(t => assert(regDepth(t) > 2))
    deepMc.foreach(t =>
      assert((t.nodeSplits.keys ++ t.nodeCatSplits.keys).max >= 8L))
    assert(delta == 0L, s"$delta classes compiled by the deeper / shifted fits")
  }
}
