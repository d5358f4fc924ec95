package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, HtmlExtract, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8

/** `Native.lower` / `Native.upper` equal Spark's `lower` / `upper` by
  * UTF-8 bytes, with ICU case mapping on and off, in whole-stage
  * codegen and interpreted, on case-mapping traps and ill-formed
  * UTF-8; collated input is mapped as Spark maps it; and no text
  * operator plans Spark's `Lower` or `Upper`.
  */
class CaseMapSpec extends SparkSpec {

  private def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray

  private val traps: Seq[String] = Seq(
    "", " ", "plain ascii", "MiXeD CaSe 123 !?", "\u0000\u007F\t\n",
    "stra\u00DFe STRASSE \u1E9E", // ß and capital ẞ
    "\u0130stanbul \u0130 i\u0307", // İ, and i with a combining dot
    "\u0131 I i \u0130", // dotless ı
    "\u039F\u0394\u039F\u03A3 \u03BF\u03B4\u03BF\u03C2 \u03A3\u0391\u03A3", // final sigma
    "\u212A \u212Aelvin \u212B", // Kelvin and Ångström signs
    "\uFB01 \uFB02 \uFB03 \uFB06", // ligatures fi, fl, ffi, st
    "\u10D0\u10D1\u10D2 \u1C90\u1C91 \u10A0", // Georgian Mkhedruli, Mtavruli, Asomtavruli
    "\u13A0\u13A1 \uAB70\uAB71", // Cherokee, upper and lower
    "\uD801\uDC00\uD801\uDC28 \uD83D\uDE00 \uD835\uDD18", // Deseret, emoji, math letter
    "\u01C5 \u01C4 \u01C6 \u0149 \u0390", // title-case digraphs, one-to-many
    "\u019B \uA7C1 \u1C8A", // letters newer than the JDK's Unicode tables
    "caf\u00E9 na\u00EFve e\u0301 \u00C9COLE")

  /** Ill-formed UTF-8, cast from BINARY as it arrives in a corpus. */
  private val illFormed: Seq[Array[Byte]] = Seq(
    bytes(0xff), bytes(0x41, 0x80, 0x42), bytes(0xe2, 0x82, 0x20, 0x54),
    bytes(0xc0, 0xaf, 0x41), bytes(0xed, 0xa0, 0x80, 0x61), bytes(0xf4, 0x90, 0x80, 0x80),
    bytes(0x61, 0xf0, 0x9f, 0x98), bytes(0xc3, 0x28, 0xc4, 0xb0, 0x49))

  /** Random strings over all planes: ASCII, Latin, Greek, Cyrillic,
    * Armenian, Georgian, Cherokee, CJK, supplementary code points,
    * and lone surrogates (which the UTF-8 encoder replaces).
    */
  private val random: Seq[Array[Byte]] = {
    val rng = new scala.util.Random(20261019)
    val ranges = Seq((0x20, 0x7f), (0xa0, 0x250), (0x370, 0x530), (0x530, 0x590),
      (0x10a0, 0x1100), (0x13a0, 0x1400), (0x1c90, 0x1cc0), (0x1e00, 0x2000),
      (0x2100, 0x2200), (0x4e00, 0x4e40), (0xab70, 0xabc0), (0xd800, 0xe000),
      (0xfb00, 0xfb50), (0xff20, 0xff60), (0x10400, 0x10450), (0x1d400, 0x1d500),
      (0x1e900, 0x1e950), (0x0, 0x110000))
    Seq.fill(300) {
      val sb = new java.lang.StringBuilder
      (0 until rng.nextInt(20)).foreach { _ =>
        val (lo, hi) = ranges(rng.nextInt(ranges.size))
        sb.appendCodePoint(lo + rng.nextInt(hi - lo))
      }
      sb.toString.getBytes(UTF_8)
    }
  }

  /** (id, raw, text), text cast from the raw bytes; row 0 is NULL. The
    * rows come from an RDD so no optimizer rule folds the projections.
    */
  private lazy val docs: DataFrame = {
    val raws: Seq[Array[Byte]] = Seq(null) ++ traps.map(_.getBytes(UTF_8)) ++ illFormed ++ random
    val rows = raws.zipWithIndex.map { case (r, i) => Row(i.toLong, r) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("id", LongType), StructField("raw", BinaryType))))
      .select(col("id"), col("raw"), col("raw").cast("string").as("text"))
  }

  /** Rows where `got` and `want` differ by bytes (NULL only equals NULL). */
  private def mismatches(df: DataFrame, pairs: Seq[(String, Column, Column)]): Seq[String] = {
    val rows = df.select(col("id") +: pairs.flatMap { case (n, got, want) =>
      Seq(got.cast("binary").as(s"got_$n"), want.cast("binary").as(s"want_$n"))
    }: _*).collect()
    assert(rows.length == df.count())
    for {
      r <- rows.toSeq
      ((name, _, _), i) <- pairs.zipWithIndex
      got = Option(r.getAs[Array[Byte]](1 + 2 * i)).map(_.toSeq)
      want = Option(r.getAs[Array[Byte]](2 + 2 * i)).map(_.toSeq)
      if got != want
    } yield s"$name of row ${r.getLong(0)}: got ${got.map(_.map("%02x".format(_)).mkString(" "))}, " +
      s"Spark ${want.map(_.map("%02x".format(_)).mkString(" "))}"
  }

  /** Spark's optimizer folds its own `lower(upper(x))` to `lower(x)`,
    * which is not the composition on non-ASCII text (ß → SS → ss);
    * `Native` case maps are never folded, so the composed pair is
    * compared with that rule excluded.
    */
  private def caseMaps(t: Column): Seq[(String, Column, Column)] = Seq(
    ("lower", Native.lower(t), lower(t)),
    ("upper", Native.upper(t), upper(t)),
    ("lower(upper)", Native.lower(Native.upper(t)), lower(upper(t))))

  private val unfolded = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.SimplifyCaseConversionExpressions"

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.fallback" -> "false", unfolded),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", unfolded))

  for (icu <- Seq("true", "false"); (mode, conf) <- modes)
    test(s"Native.lower / upper equal Spark's by bytes (ICU case mappings $icu, $mode)") {
      withConf(conf :+ ("spark.sql.icu.caseMappings.enabled" -> icu): _*) {
        val bad = mismatches(docs, caseMaps(col("text")))
        assert(bad.isEmpty, bad.take(20).mkString("\n"))
      }
    }

  test("the traps differ between ICU and JDK case mapping, so both flags are exercised") {
    def mapped(icu: String): Seq[Row] = withConf("spark.sql.icu.caseMappings.enabled" -> icu) {
      docs.orderBy("id").select(Native.upper(col("text")).cast("binary")).collect().toSeq
    }
    val icuOn = mapped("true")
    val icuOff = mapped("false")
    assert(icuOn.zip(icuOff).exists { case (a, b) =>
      !java.util.Arrays.equals(a.getAs[Array[Byte]](0), b.getAs[Array[Byte]](0))
    })
  }

  test("collated input is mapped exactly as Spark maps it, and keeps its collation") {
    val collations = Seq("UTF8_BINARY", "UTF8_LCASE", "UNICODE", "UNICODE_CI", "tr", "el",
      "UTF8_BINARY_RTRIM")
    for (icu <- Seq("true", "false"); (mode, conf) <- modes) {
      withConf(conf :+ ("spark.sql.icu.caseMappings.enabled" -> icu): _*) {
        val pairs = collations.flatMap { c =>
          val t = collate(col("text"), c)
          caseMaps(t).map { case (n, got, want) => (s"$n[$c]", got, want) }
        }
        val bad = mismatches(docs, pairs)
        assert(bad.isEmpty, s"ICU $icu, $mode:\n" + bad.take(20).mkString("\n"))
        collations.foreach { c =>
          val t = collate(col("text"), c)
          val types = docs.select(Native.lower(t), lower(t), Native.upper(t), upper(t))
            .schema.map(_.dataType)
          assert(types.distinct.size == 1, s"$c: $types")
        }
      }
    }
  }

  test("Native.lower / upper take Spark's name and implicit casts") {
    val df = spark.range(3).select(col("id"), (col("id") * 1.5).as("d"))
    assert(df.select(Native.lower(col("d")), Native.upper(col("id"))).columns.toSeq ==
      df.select(lower(col("d")), upper(col("id"))).columns.toSeq)
    assert(df.select(Native.upper(col("d"))).collect().toSeq ==
      df.select(upper(col("d"))).collect().toSeq)
  }

  test("the text operators' optimized plans hold no Lower or Upper node") {
    val t = col("text")
    val ops: Seq[(String, Column)] = Seq(
      "alphaRatio" -> TextAnalysis.alphaRatio(t),
      "punctRatio" -> TextAnalysis.punctRatio(t),
      "qualityScore" -> TextAnalysis.qualityScore(t),
      "langId" -> TextAnalysis.langId(t),
      "langIdScore" -> TextAnalysis.langIdScore(t),
      "Dedup.normalizeText" -> Dedup.normalizeText(t),
      "Dedup.normalizedContentKey" -> Dedup.normalizedContentKey(t),
      "HtmlExtract.extractText" -> HtmlExtract.extractText(t),
      "HtmlExtract.pageKept" -> HtmlExtract.pageKept(t, lit(3)))
    ops.foreach { case (name, c) =>
      val plan = docs.select(c.as("v")).queryExecution.optimizedPlan
      val spark = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: Lower => e
        case e: Upper => e
      }))
      assert(spark.isEmpty, s"$name plans ${spark.map(_.prettyName).distinct.mkString(", ")}")
    }
  }
}
