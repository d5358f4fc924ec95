package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `graft_dot` and `graft_binary_dot` refuse what they cannot multiply
  * element by element: vectors of different lengths, and a NULL element
  * of a double vector. The error names the lengths or the element's
  * index, from the Column API and from SQL, compiled and interpreted,
  * where a truncating loop would return a number.
  */
class DotInputSpec extends SparkSpec {

  private lazy val registered: Unit = graft.sql.GraftSql.register(spark)

  private val schema = StructType(Seq(
    StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
    StructField("p", ArrayType(LongType)), StructField("q", ArrayType(LongType))))

  /** One row from an RDD, so no optimizer rule folds the dot away. */
  private def input(a: Seq[Any], b: Seq[Any], p: Seq[Long], q: Seq[Long]): DataFrame = {
    registered
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(a, b, p, q)), 1), schema)
    df.createOrReplaceTempView("dot_input")
    df
  }

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** The dot as a Column over `df`, and as SQL over the same rows. */
  private def dots(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "Native.doubleDot" -> df.select(Native.doubleDot(col("a"), col("b"))),
    "graft_dot" -> spark.sql("SELECT graft_dot(a, b) FROM dot_input"))

  private def binaryDots(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "Native.binaryDot" ->
      df.select(Native.binaryDot(Native.packInt8(col("p")), Native.packInt8(col("q")))),
    "graft_binary_dot" ->
      spark.sql("SELECT graft_binary_dot(graft_pack_int8(p), graft_pack_int8(q)) FROM dot_input"))

  /** Every message along the cause chain of the error `df` raises. */
  private def failure(df: DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  private def assertFails(entries: Seq[(String, DataFrame)], expected: String): Unit =
    entries.foreach { case (entry, df) =>
      val message = failure(df)
      assert(message.contains(expected), s"$entry: $message")
    }

  for ((mode, conf) <- modes) {
    test(s"vectors of different lengths fail with both lengths named ($mode)") {
      withConf(conf: _*) {
        assertFails(dots(input(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0), Nil, Nil)),
          "graft_dot: vector lengths differ: 3 and 2")
        assertFails(dots(input(Nil, Seq(1.0), Nil, Nil)), "graft_dot: vector lengths differ: 0 and 1")
        assertFails(binaryDots(input(Nil, Nil, Seq(1L, 2L, 3L), Seq(3L, 4L))),
          "graft_binary_dot: vector lengths differ: 3 and 2")
      }
    }

    test(s"a NULL element fails with its index named ($mode)") {
      withConf(conf: _*) {
        assertFails(dots(input(Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0), Nil, Nil)),
          "graft_dot: NULL element at index 1")
        assertFails(dots(input(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, null), Nil, Nil)),
          "graft_dot: NULL element at index 2")
      }
    }

    test(s"equal lengths still give the dot, and a NULL vector NULL ($mode)") {
      withConf(conf: _*) {
        def values(entries: Seq[(String, DataFrame)]): Seq[Any] =
          entries.map(_._2.head().get(0))
        assert(values(dots(input(Seq(1.0, 2.0), Seq(3.0, 4.0), Nil, Nil))) == Seq(11.0, 11.0))
        assert(values(dots(input(null, Seq(3.0, 4.0), Nil, Nil))) == Seq(null, null))
        assert(values(binaryDots(input(Nil, Nil, Seq(1L, -2L, 300L), Seq(2L, 2L, 1L)))) ==
          Seq(125.0, 125.0))
      }
    }
  }
}
