package graft.tree

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProbabilitySpec extends SparkSpec {
  import spark.implicits._

  // x < 5 is mostly class 0 (1 of 4), x >= 5 mostly class 1 (3 of 4)
  private lazy val df = Seq(
    (1.0, 0), (2.0, 0), (3.0, 0), (4.0, 1),
    (6.0, 1), (7.0, 1), (8.0, 1), (9.0, 0)).toDF("x", "class")

  private lazy val fitted =
    new DecisionTree(DecisionTreeParams(Seq("x"), "class", "mean", "entropy", maxDepth = 1))
      .fit(df)

  test("transformProb yields the leaf class-1 training fraction") {
    val got = fitted.transformProb(df).orderBy("x")
      .select("x", "p1").as[(Double, Double)].collect().toMap
    assert(math.abs(got(1.0) - 0.25) < 1e-12)
    assert(math.abs(got(9.0) - 0.75) < 1e-12)
  }

  test("prediction equals thresholded probability") {
    val rows = fitted.transform(fitted.transformProb(df))
      .select("prediction", "p1").as[(Int, Double)].collect()
    rows.foreach { case (pred, p1) =>
      assert(pred == (if (p1 >= 0.5) 1 else 0))
    }
  }

  test("probCaseSql renders the same fractions") {
    val sql = fitted.probCaseSql
    assert(sql.contains("0.25") && sql.contains("0.75"), sql)
  }

  test("caseSql exports the prediction tree as a CASE expression") {
    val sql = fitted.root.caseSql
    assert(sql.startsWith("(CASE WHEN x <= ") && sql.contains("THEN (0)") &&
      sql.contains("ELSE (1)"), sql)
  }

  test("JSON round-trip degenerates probabilities to hard labels") {
    val loaded = FittedDecisionTree.fromJson(fitted.json())
    val got = loaded.transformProb(df).orderBy("x")
      .select("p1").as[Double].collect()
    assert(got.toSet == Set(0.0, 1.0))
    df.createOrReplaceTempView("prob_round_trip")
    val viaSql = spark.sql(s"SELECT CAST(${loaded.probCaseSql} AS DOUBLE) AS p1 " +
      "FROM prob_round_trip ORDER BY x").as[Double].collect()
    assert(viaSql.toSeq == got.toSeq, loaded.probCaseSql)
  }
}
