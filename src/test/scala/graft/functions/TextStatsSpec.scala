package graft.functions

import graft.SparkSpec
import graft.ops.TextAnalysis
import graft.ops.TextAnalysis.Composed
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, RegExpReplace, StringSplit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8

/** `WsTokens`, `TextStats` and every text signal rebuilt on them are
  * bit-identical to the composed regex/lambda forms they replace, in
  * whole-stage codegen, interpreted, and in the legacy (ANSI off)
  * dialect, on hostile text; and the rebuilt plans keep no regex or
  * higher-order-function node.
  */
class TextStatsSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray

  private val hostileText: Seq[String] = Seq(
    "", " ", "     ", "\t", "\n", "\u000B", "\f", "\r", " \t\n\u000B\f\r ",
    "  lead", "trail  ", "in  ner\t\tgaps\n\nhere", "a\tb\nc\u000Bd\fe\rf",
    "\u00A0", "a\u00A0b", "the\u00A0of the", "x\u2003y \u2003 ", " the\u2003",
    "\u0130stanbul \u0130 i\u0307", "\u212A \u212Aelvin \u212A k", "\u0130\u212A",
    "emoji \uD83D\uDE00 de \uD83C\uDF89x the", "\uD835\uDD18\uD835\uDD2B",
    "\u7684 \u662F \u4E86 \u5728 \u6211 \u7684\u662F", "\u4E2D\u6587 \u6587\u672C\u7684",
    "123 456.7 !!! ?? , ... 0", "Der die das und ist ein nicht", "THE The the",
    "le la les et est un une el la los de que y es", "a,b;c:d the-of",
    "caf\u00E9 na\u00EFve e\u0301", "\u03A3\u0391\u03A3 \u03C3\u03B1\u03C2",
    "\u0000nul\u0000 the", "tab\u0085nel\u2028ls", "the a and of to in is")

  /** Ill-formed UTF-8, which the composed forms decode with U+FFFD. */
  private val illFormed: Seq[Array[Byte]] = Seq(
    bytes(0xff), bytes(0x61, 0x80, 0x20, 0x62),
    bytes(0xe2, 0x82, 0x20, 0x74, 0x68, 0x65), // truncated € then " the"
    bytes(0xe2, 0x20, 0x20, 0x61), // Spark's length() skips the spaces
    bytes(0xc0, 0xaf, 0x20, 0x6f, 0x66), // overlong '/'
    bytes(0xed, 0xa0, 0x80, 0x20, 0x61), // UTF-8-encoded surrogate
    bytes(0xf4, 0x90, 0x80, 0x80), // past U+10FFFF
    bytes(0x74, 0x68, 0x65, 0x20, 0xf0, 0x9f, 0x98), // truncated emoji at the end
    bytes(0x74, 0x68, 0x65, 0xfe, 0x20, 0x6f, 0x66),
    bytes(0xc3, 0x28, 0x09, 0xa9, 0x0a, 0xc4, 0xb0))

  /** Random documents over words, stopwords, separators, non-`\s`
    * spaces, case-mapping traps, supplementary and CJK characters and
    * now and then an ill-formed byte.
    */
  private val randomDocs: Seq[Array[Byte]] = {
    val rng = new scala.util.Random(20261018)
    val pieces: IndexedSeq[Array[Byte]] = (
      TextAnalysis.LangProfiles.flatMap(_._2) ++ Seq(
        "word", "Alpha", "x", "42", "3.14", "!", "...", "-", "(", "the", "a", "THE",
        " ", " ", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", "\u2003",
        "\u0130", "\u212A", "\uD83D\uDE00", "\u7684", "\u4E2D\u6587", "e\u0301"))
      .map(utf8).toIndexedSeq ++ Seq(bytes(0x80), bytes(0xe2, 0x82), bytes(0xff))
    Seq.fill(400) {
      val n = rng.nextInt(24)
      Array.concat(Seq.fill(n)(pieces(rng.nextInt(pieces.size))): _*)
    }
  }

  /** (id, text): NULL, the hostile strings, the ill-formed bytes and
    * the random documents. The rows come from an RDD so no optimizer
    * rule folds the projections into a local relation.
    */
  private lazy val docs: DataFrame = {
    val texts: Seq[Array[Byte]] =
      Seq(null) ++ hostileText.map(utf8) ++ illFormed ++ randomDocs
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
        StructType(Seq(StructField("id", LongType), StructField("raw", BinaryType))))
      .select(col("id"), col("raw"), col("raw").cast("string").as("text"))
  }

  /** Each (name, rebuilt, composed) pair. Token arrays compare in SQL
    * (byte equality, on the codegen'd path) and as hex of their bytes
    * (which `transform` evaluates interpreted). The raw struct fields
    * are NULL for NULL text, where `size` may read -1.
    */
  private def pairs(t: Column): Seq[(String, Column, Column)] = {
    val st = Native.textStats(t, TextAnalysis.LangProfiles)
    def hexes(a: Column) = transform(a, x => hex(x))
    Seq(
      ("wsTokens", TextAnalysis.wsTokens(t) <=> Composed.wsTokens(t), lit(true)),
      ("wsTokens bytes", hexes(TextAnalysis.wsTokens(t)), hexes(Composed.wsTokens(t))),
      ("wsTokenCount", TextAnalysis.wsTokenCount(t), Composed.wsTokenCount(t)),
      ("chars", st("chars"), length(t)),
      ("alpha", st("alpha"), length(regexp_replace(lower(t), "[^a-z]", ""))),
      ("punct", st("punct"), length(regexp_replace(lower(t), "[a-z0-9\\s]", ""))),
      ("nonspace", st("nonspace"), length(regexp_replace(t, "\\s", ""))),
      ("tokens", st("tokens"), when(t.isNotNull, Composed.wsTokenCount(t))),
      ("alphaRatio", TextAnalysis.alphaRatio(t), Composed.alphaRatio(t)),
      ("punctRatio", TextAnalysis.punctRatio(t), Composed.punctRatio(t)),
      ("meanWordLen", TextAnalysis.meanWordLen(t), Composed.meanWordLen(t)),
      ("stopwordRatio", TextAnalysis.stopwordRatio(t), Composed.stopwordRatio(t)),
      ("qualityScore", TextAnalysis.qualityScore(t), Composed.qualityScore(t)),
      ("langId", TextAnalysis.langId(t), Composed.langId(t)),
      ("langIdScore", TextAnalysis.langIdScore(t), Composed.langIdScore(t))) ++
      TextAnalysis.LangProfiles.map { case (l, _) =>
        (s"langScore($l)", TextAnalysis.langScore(t, l), Composed.langScore(t, l))
      }
  }

  /** Doubles by their raw bits, everything else by value. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  /** Bit-identity on every row; with `skipNull`, on every row but the
    * NULL text. */
  private def assertBitIdentical(skipNull: Boolean = false): Unit = {
    val ps = pairs(col("text"))
    val rows = docs.select(col("id") +: col("raw") +: ps.flatMap { case (name, got, want) =>
      Seq(got.as(s"got_$name"), want.as(s"want_$name"))
    }: _*).collect()
    assert(rows.length == 1 + hostileText.size + illFormed.size + randomDocs.size)
    val mismatches = for {
      r <- rows.toSeq if !(skipNull && r.isNullAt(1))
      ((name, _, _), i) <- ps.zipWithIndex
      got = r.get(2 + 2 * i)
      want = r.get(3 + 2 * i)
      if !same(got, want)
    } yield {
      val raw = Option(r.getAs[Array[Byte]](1)).map(_.map("%02x".format(_)).mkString(" "))
      s"$name of doc ${r.getLong(0)} [$raw]: got $got, composed $want"
    }
    assert(mismatches.isEmpty, mismatches.take(20).mkString("\n"))
  }

  test("WsTokens, TextStats and the rebuilt signals equal the composed forms bit for bit (whole-stage codegen)") {
    withConf("spark.sql.codegen.fallback" -> "false")(assertBitIdentical())
  }

  test("... and interpreted (no whole-stage codegen, NO_CODEGEN expression factory)") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertBitIdentical())
  }

  test("... and in the legacy dialect, where size(NULL) is -1") {
    // there the composed forms read size(NULL) = -1 for NULL text
    // (stopword and lang scores 1.0); the rebuilt signals read the NULL
    // row as they do under ANSI: every signal NULL, langId too
    val signals = pairs(col("text")).dropWhile(_._1 != "alphaRatio")
    def nullRow: Seq[Any] = docs.filter(col("raw").isNull)
      .select(signals.map(_._2): _*).collect().head.toSeq
    val ansi = nullRow
    assert(ansi.forall(_ == null), signals.map(_._1).zip(ansi))
    withConf("spark.sql.ansi.enabled" -> "false",
      "spark.sql.codegen.fallback" -> "false") {
      assertBitIdentical(skipNull = true)
      assert(nullRow == ansi)
    }
  }

  test("the rebuilt operators plan no higher-order function, regex replace or regex split") {
    val t = col("text")
    val ops: Seq[(String, Column)] = Seq(
      "wsTokens" -> TextAnalysis.wsTokens(t),
      "wsTokenCount" -> TextAnalysis.wsTokenCount(t),
      "alphaRatio" -> TextAnalysis.alphaRatio(t),
      "punctRatio" -> TextAnalysis.punctRatio(t),
      "meanWordLen" -> TextAnalysis.meanWordLen(t),
      "stopwordRatio" -> TextAnalysis.stopwordRatio(t),
      "qualityScore" -> TextAnalysis.qualityScore(t),
      "langScore(fr)" -> TextAnalysis.langScore(t, "fr"),
      "langId" -> TextAnalysis.langId(t),
      "langIdScore" -> TextAnalysis.langIdScore(t))
    ops.foreach { case (name, c) =>
      val plan = docs.select(c.as("v")).queryExecution.optimizedPlan
      val slow = plan.flatMap(_.expressions.flatMap(_.collect {
        case e: HigherOrderFunction => e
        case e: RegExpReplace => e
        case e: StringSplit => e
      }))
      assert(slow.isEmpty, s"$name plans ${slow.map(_.prettyName).distinct.mkString(", ")}")
    }
  }

  test("a projection of every quality signal evaluates the TextStats kernel once per row") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val t = col("text")
    val df = docs.select(TextAnalysis.alphaRatio(t), TextAnalysis.punctRatio(t),
      TextAnalysis.meanWordLen(t), TextAnalysis.stopwordRatio(t),
      TextAnalysis.qualityScore(t), TextAnalysis.langId(t), TextAnalysis.langIdScore(t))
    val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
    assert("TextScan.stats\\(".r.findAllMatchIn(code).size == 1, code)
  }
}
