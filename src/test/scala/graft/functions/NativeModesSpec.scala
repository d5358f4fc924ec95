package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8

/** Every scalar native expression gives the same bytes under
  * whole-stage codegen (compile errors not forgiven) and fully
  * interpreted, on one hostile input set, and those bytes hash to the
  * digest recorded when the sweep was written. In the codegen mode the
  * generated source must name the expression's kernel, so a projection
  * that never reached codegen cannot pass.
  */
class NativeModesSpec extends SparkSpec {

  private def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray

  private val illFormed: Seq[Array[Byte]] = Seq(
    bytes(0xff), bytes(0xed, 0xa0, 0x80), bytes(0xc0, 0xaf), bytes(0x61, 0xf0, 0x9f, 0x98),
    bytes(0x61, 0x80, 0x62), bytes(0xf4, 0x90, 0x80, 0x80))

  /** A string (UTF-8), raw bytes or NULL, as the bytes a binary column holds. */
  private def bin(x: Any): Array[Byte] = x match {
    case null => null
    case s: String => s.getBytes(UTF_8)
    case b: Array[Byte] => b
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("raw_toks", ArrayType(BinaryType)), StructField("raw", BinaryType),
    StructField("longs", ArrayType(LongType)),
    StructField("s1", ArrayType(LongType)), StructField("s2", ArrayType(LongType)),
    StructField("v1", ArrayType(DoubleType, containsNull = false)),
    StructField("v2", ArrayType(DoubleType, containsNull = false)),
    StructField("b1", BinaryType), StructField("b2", BinaryType),
    StructField("budget", LongType), StructField("excl", ArrayType(IntegerType)),
    StructField("tree", IntegerType), StructField("node", LongType),
    StructField("num", DoubleType), StructField("cat", StringType)))

  /** One input row; the text defaults to the tokens joined by spaces,
    * and each pair of dot inputs has one length.
    */
  private case class In(
      toks: Seq[Any] = Seq("a", "b"), text: Any = "",
      longs: Seq[Any] = Seq(1L, 2L), s1: Seq[Any] = Seq(1L, 3L), s2: Seq[Any] = Seq(3L),
      v1: Seq[Double] = Seq(1.5, -2.0), v2: Seq[Double] = Seq(0.25, 4.0),
      b1: Array[Byte] = bytes(1, -2), b2: Array[Byte] = bytes(3, 4),
      budget: Any = 3L, excl: Seq[Any] = Seq(1),
      tree: Any = 0, node: Any = 1L, num: Any = 0.25, cat: Any = "a") {

    def row(id: Long): Row = {
      val t = if (text != "") bin(text)
        else if (toks == null) null
        else Array.concat(toks.map(x => Option(bin(x)).getOrElse(Array.emptyByteArray))
          .flatMap(b => Seq(bytes(0x20), b)).drop(1): _*)
      Row(id, Option(toks).map(_.map(bin)).orNull, t, longs, s1, s2, v1, v2, b1, b2,
        budget, excl, tree, node, num, cat)
    }
  }

  private val hand: Seq[In] = Seq(
    In(null, null, null, null, null, null, null, null, null, null, null, null, null, null, null),
    In(Nil, "", Nil, Nil, Nil, Nil, Nil, Array.emptyByteArray, Array.emptyByteArray, 0L, Nil,
      0, 0L, 0.0, ""),
    In(toks = Seq("a", null, "b", "a", null, "b", "a"), longs = Seq(1L, null, 3L, 1L, null),
      s1 = Seq(1L, null, 3L, 5L), s2 = Seq(null, 3L, 5L), excl = Seq(null, 1, 1, 7),
      budget = null, tree = null, node = null, num = null, cat = null),
    In(toks = Seq("x"), longs = Seq(7L), s1 = Seq(7L), s2 = Seq(7L), excl = Seq(0)),
    In(toks = Seq("x", "y"), longs = Seq(-1L, -1L), excl = Nil, num = Double.NaN, cat = "naïve"),
    In(toks = Seq("naïve", "İstanbul", "straße", "ΣΑΣ",
      "中文", "é", "café", "İstanbul"), num = -0.0, cat = "z"),
    In(toks = Seq("😀", "𝔘𝔫", "a😀b",
      "😀😀", "😀"), tree = 1, node = 3L, num = 0.5),
    In(toks = illFormed :+ "ok", text = Array.concat(illFormed: _*), tree = 2, node = Long.MaxValue),
    In(toks = Seq("the", "the", "the", "cat", "the", "cat", "the", "cat", "the", "cat", "sat"),
      longs = Seq(5L, 5L, 5L, 9L, 5L, 9L, 5L, 9L), excl = Seq(0, 2, 4, 6, 8, 10)),
    In(text = "café Å \t tab\u000bvt nbsp Kİ ab ab ab"),
    In(text = "\u0000nul\u0000 aaaa abab", v1 = Seq(Double.NaN, 1.0), v2 = Seq(1.0, 2.0)),
    In(v1 = Seq(-0.0), v2 = Seq(0.0)),
    In(v1 = Seq(-0.0, -0.0), v2 = Seq(1.0, 1.0)),
    In(v1 = Seq(Double.PositiveInfinity, 1.0), v2 = Seq(Double.NegativeInfinity, 1.0)),
    In(v1 = Seq(Double.PositiveInfinity), v2 = Seq(0.0)),
    In(v1 = Seq(Double.MaxValue, Double.MaxValue), v2 = Seq(2.0, -2.0),
      b1 = bytes(-128, -128, 127), b2 = bytes(-128, 127, 127)),
    In(longs = Seq(Long.MinValue, Long.MaxValue, -128L, 127L, 128L, -127L, 0L, null),
      s1 = Seq(Long.MinValue, 0L, Long.MaxValue), s2 = Seq(Long.MinValue, Long.MaxValue)),
    In(longs = Seq(1L, 2L, 0L, 3L), budget = 0L),
    In(longs = Seq(-5L, 3L, -1L, 10L, 2L, null), budget = 4L),
    In(longs = Seq(2L, 2L), budget = -1L),
    In(toks = Seq("a", "b", "c", "d"), excl = Seq(-3, null, 0, 0, 2, 2, 99)),
    In(toks = Seq("a", "b", "c", "d"), excl = Seq(3, 1)),
    In(toks = Seq("a", "b", "c"), excl = Seq(0, 1, 2)))

  /** Random rows over the same pieces, plus one 10k-token document. */
  private val generated: Seq[In] = {
    val rng = new scala.util.Random(20261020)
    val words: IndexedSeq[Any] = IndexedSeq("the", "cat", "sat", "on", "a", "mat", "x", "42",
      "naïve", "😀", "中", "") ++ illFormed
    def toks(n: Int): Seq[Any] = Seq.fill(n)(if (rng.nextInt(25) == 0) null
      else words(rng.nextInt(words.size)))
    def longs(n: Int): Seq[Any] = Seq.fill(n)(if (rng.nextInt(25) == 0) null
      else rng.nextInt(12).toLong - 3L)
    def sorted(n: Int): Seq[Any] = Seq.fill(n)(rng.nextInt(30).toLong).distinct.sorted
    val specials = IndexedSeq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e308, -1e-308)
    def doubles(n: Int): (Seq[Double], Seq[Double]) = {
      def one() = if (rng.nextInt(8) == 0) specials(rng.nextInt(specials.size))
        else rng.nextGaussian()
      (Seq.fill(n)(one()), Seq.fill(n)(one()))
    }
    def packed(n: Int): (Array[Byte], Array[Byte]) = {
      val (a, b) = (new Array[Byte](n), new Array[Byte](n))
      rng.nextBytes(a); rng.nextBytes(b)
      (a, b)
    }
    def random(n: Int): In = {
      val (v1, v2) = doubles(n)
      val (b1, b2) = packed(n)
      In(toks = toks(n), longs = longs(n), s1 = sorted(n), s2 = sorted(n), v1 = v1, v2 = v2,
        b1 = b1, b2 = b2, budget = rng.nextInt(12).toLong - 2L,
        excl = Seq.fill(rng.nextInt(4))(rng.nextInt(n + 2) - 1).sorted,
        tree = rng.nextInt(3), node = rng.nextInt(5).toLong, num = rng.nextGaussian(),
        cat = if (rng.nextBoolean()) "a" else "b")
    }
    Seq.fill(60)(random(rng.nextInt(14))) :+ random(10000)
  }

  /** The rows come from an RDD, so no optimizer rule folds a projection
    * into a local relation evaluated through `eval`.
    */
  private lazy val input: DataFrame = {
    val rows = (hand ++ generated).zipWithIndex.map { case (in, i) => in.row(i.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .select(col("*"), col("raw_toks").cast("array<string>").as("toks"),
        col("raw").cast("string").as("text"))
  }

  private val params = Seq((3L, 7L), (1000000006L, 5L), (12345L, 0L))
  private val splits = SplitTable(1, Map(1L -> ((0, 0.5)), 3L -> ((0, -0.0))),
    Map(2L -> ((0, Seq("a", "naïve")))))
  private val nodeValues = NodeValueTable(Seq((0, 1L, 1.5), (0, 2L, -0.0), (1, 3L, Double.NaN),
    (2, Long.MaxValue, -1.0)))

  /** (probe, column, the kernel call or table class its generated source
    * names, in `graft.functions`).
    */
  private val probes: Seq[(String, Column, String)] = {
    val toks = col("toks")
    val text = col("text")
    Seq(
      ("DoubleDot", Native.doubleDot(col("v1"), col("v2")), "Kernels.doubleDot("),
      ("SortedIntersectCount", Native.sortedIntersectCount(col("s1"), col("s2")),
        "Kernels.sortedIntersectCount("),
      ("MinHashSig", Native.minHashSig(col("longs"), 4), "Kernels.minHashSig("),
      ("PolyMinHash", Native.polyMinHash(toks, 3, params), "Kernels.polyMinHashGrams("),
      ("PolyMinHashGrams n=1", Native.polyMinHashGrams(toks, 1, 3, params),
        "Kernels.polyMinHashGrams("),
      ("PolyMinHashGrams n=3", Native.polyMinHashGrams(toks, 3, 3, params),
        "Kernels.polyMinHashGrams("),
      ("SimHash30", Native.simHash30(toks), "Kernels.simHash30("),
      ("MaxFreq", Native.maxFreq(toks), "Kernels.maxFreq("),
      ("MaxFreqLong", Native.maxFreqLong(col("longs")), "Kernels.maxFreqLong("),
      ("GramHashes n=1", Native.gramHashes(toks, 1), "Kernels.gramHashes("),
      ("GramHashes n=3", Native.gramHashes(toks, 3), "Kernels.gramHashes("),
      ("DupGramCounts", Native.dupGramCounts(col("longs"), 3), "Kernels.dupGramCounts("),
      ("WinnowMins", Native.winnowMins(toks, 3, 4), "Kernels.winnowMins("),
      ("WinnowMins k=1 window=1", Native.winnowMins(toks, 1, 1), "Kernels.winnowMins("),
      ("GreedyChunkIndices", Native.greedyChunkIndices(col("longs"), col("budget")),
        "Kernels.greedyChunkIndices("),
      ("PackInt8", Native.packInt8(col("longs")), "Kernels.packInt8("),
      ("BinaryDot", Native.binaryDot(col("b1"), col("b2")), "Kernels.binaryDot("),
      ("ConcatExcludingPositions", Native.concatExcluding(toks, col("excl")),
        "Kernels.concatExcluding("),
      ("NormalizeNfc", Native.normalizeNfc(text), "Kernels.normalizeNfc("),
      ("CharBigramStats", Native.charBigramStats(text), "Kernels.charBigramStats("),
      ("CaseMap lower", Native.lower(text), "CaseMapping.lower("),
      ("CaseMap upper", Native.upper(text), "CaseMapping.upper("),
      ("WsTokens", Native.wsTokens(text), "TextScan.wsTokens("),
      ("TextStats", Native.textStats(text, graft.ops.TextAnalysis.LangProfiles),
        "TextScan.stats("),
      ("TreeRoute", Native.treeRoute(Seq(col("num")), Seq(col("cat")), splits),
        "SplitTable)"),
      ("NodeValue", Native.nodeValue(col("tree"), col("node"), nodeValues),
        "NodeValueTable)"))
  }

  /** SHA-256 of each probe's rendered output on every input row, in id
    * order, as recorded when this sweep was written.
    */
  private val digests: Map[String, String] = Map(
    "DoubleDot" -> "3fa8ad6983ef3a378d0770729f151b9e06c6fe37780192a5b539a439fdf3de78",
    "SortedIntersectCount" -> "f109ee315af0b2d5d172a94d418c43bd792b7c74f5135f58982e7279cf18e567",
    "MinHashSig" -> "dedf247985a2c8f0f664313a43294541767e92c133ff654d4345ec8792e92560",
    "PolyMinHash" -> "18ccf8b21a7ccb1d482d205e663dda4cb32e9350fb1b472dec52654f97eeeb86",
    "PolyMinHashGrams n=1" -> "18ccf8b21a7ccb1d482d205e663dda4cb32e9350fb1b472dec52654f97eeeb86",
    "PolyMinHashGrams n=3" -> "0191c0501356df4dfa97c8219d14cde6c5d0bfea1a8c4993b2cc544e2b253b99",
    "SimHash30" -> "1e40f4c05df5754fc178ed64b6346986a0cde69c240976f26696ad9c7c0b83d0",
    "MaxFreq" -> "cc0cfc1abd9acaa342fd89d940edfc3ff979fa29d25d3235acefa13914891871",
    "MaxFreqLong" -> "a160acc1da009ba4b9f71a22b5720ac014586954a18109e08c7c8029a5ef1a6f",
    "GramHashes n=1" -> "7d20e548f350793b7c0fb7a829282fac60adff1ce705e94f86cfda599443e544",
    "GramHashes n=3" -> "21c09be457bac53524fd059ef6efb4ab8fd273ca684ac20e067099cbc33b30ba",
    "DupGramCounts" -> "9cb9a695d52165c48a7614a5e28e45255f93060ad01664ee8d3f184bf5a881b8",
    "WinnowMins" -> "bc870d89d74a6a6587ced9a82a04da24cbc3631d0b093e57f5e42dd6c17b92ba",
    "WinnowMins k=1 window=1" -> "71cd75b6071bb7c7fcb5ba0c26fed09d9a8827175a3be0e61297604161d5f5d6",
    "GreedyChunkIndices" -> "dd4281bc4d391eac9e4820b2c83a937dd58dab0485c05ce5f7fee0a4fd7c00e2",
    "PackInt8" -> "a6d6c08bcfadb9c4753107cdd2cea023d9ae05baedc783bbcfcb2f12a50a04c5",
    "BinaryDot" -> "a5aeda315d17a0094bf4cf4c95b27eb2484a73a4d26a8902982a6a3442e396c6",
    "ConcatExcludingPositions" -> "5b2e78def71290e4b5f29c0ec19f9910af20f5f66622cbb8f3177f1e594ac526",
    "NormalizeNfc" -> "5de21c0dce44d57b3cb7ad67d2db97ddd6ff4fbacb595973b3f40c4e20973326",
    "CharBigramStats" -> "06b274e43800eaa5906912f87714f7e7c1c7bb485b1d7237723d36c07814206a",
    "CaseMap lower" -> "f9bcc80cdbf59288235c98076038b4250737c862c8325a4315e130d78041be59",
    "CaseMap upper" -> "d426353b475529ea080cee7669cdf3c1a05b42c943924facd94c7c8fcdda987a",
    "WsTokens" -> "e203242e5adc57155e5d31570e635d656fe83c1034e960a18408a17c69835e7a",
    "TextStats" -> "e05e67a9f67e164faf4323ab37ee3286bc4e020fcfefad2643dc8ee0e080db13",
    "TreeRoute" -> "e5b725de1a27925a5b7ba2a7ffa246eafcb8d33aa540070b1dcec4a60560ac90",
    "NodeValue" -> "64d0eb0811593ffe92b8d47591f55ffd5b924032e4331668b14d44d78fcfcdf9")

  /** Bytes as hex, doubles by their raw bits, NULL as "null". A NaN
    * is "NaN": Java leaves the bits of a computed NaN unspecified, and
    * which operand's NaN an addition keeps follows the JIT's operand
    * order, so NaN bits differ between two builds of one loop.
    */
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case d: Double => "d%016x".format(java.lang.Double.doubleToRawLongBits(d))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Strings are compared as their bytes, which survive ill-formed UTF-8. */
  private def asBytes(c: Column, t: DataType): Column = t match {
    case _: StringType => c.cast("binary")
    case ArrayType(_: StringType, _) => c.cast("array<binary>")
    case _ => c
  }

  /** (id, rendered output) rows of `probe` and the generated source. */
  private def run(probe: Column): (Seq[(Long, String)], String) = {
    val out = input.select(col("id"), probe.as("out"))
    val df = out.select(col("id"), asBytes(col("out"), out.schema("out").dataType))
    val rows = df.collect().map(r => (r.getLong(0), render(r.get(1)))).sortBy(_._1).toSeq
    (rows, codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n"))
  }

  private def sha256(rows: Seq[(Long, String)]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.map { case (i, s) => s"$i:$s" }.mkString("\n").getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  test("every scalar native expression: codegen and interpreted agree byte for byte, on the recorded digest") {
    assert(probes.size >= 26 && input.count() == hand.size + generated.size)
    val results = probes.map { case (name, probe, kernel) =>
      val (compiled, code) = withConf("spark.sql.codegen.fallback" -> "false")(run(probe))
      val (interpreted, noCode) = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run(probe))
      assert(code.contains("graft.functions." + kernel),
        s"$name: the generated code never names $kernel")
      assert(noCode.isEmpty, s"$name: whole-stage codegen ran in the interpreted mode")
      val diff = compiled.zip(interpreted).find { case (a, b) => a != b }
      assert(compiled.size == interpreted.size && diff.isEmpty,
        s"$name: codegen and interpreted differ at row ${diff.map(_._1._1)}:\n$diff")
      name -> sha256(compiled)
    }
    val wrong = results.filter { case (name, d) => !digests.get(name).contains(d) }
    assert(wrong.isEmpty, "digests differ from the recorded ones:\n" +
      wrong.map { case (n, d) => s"""      "$n" -> "$d",""" }.mkString("\n"))
  }
}
