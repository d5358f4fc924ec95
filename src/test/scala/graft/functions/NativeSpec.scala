package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NativeSpec extends SparkSpec {
  import spark.implicits._

  test("native dot product matches composed expression bit-for-bit") {
    val df = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(transform($"embedding", x => x.cast("double")).as("v"))
    val both = df.select(
      Native.doubleDot($"v", $"v").as("native"),
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (a, x) => a + x).as("composed"))
    assert(both.filter($"native" =!= $"composed").count() == 0)
  }

  test("charBigramStats: hand values, edge cases, and parity with explode-groupBy") {
    val hand = Seq("aaaa", "abab", "", "x", "ab").toDF("text")
      .select(Native.charBigramStats($"text").as("st"))
      .select($"st.n_grams", $"st.n_distinct", $"st.clogc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hand(0) === ((3L, 1L, 3.0 * math.log(3.0))))
    assert(hand(1)._1 == 3L && hand(1)._2 == 2L &&
      math.abs(hand(1)._3 - 2.0 * math.log(2.0)) < 1e-12)
    assert(hand(2) === ((0L, 0L, 0.0)))
    assert(hand(3) === ((0L, 0L, 0.0)))
    assert(hand(4) === ((1L, 1L, 0.0)))

    // null text stays null
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(Native.charBigramStats($"text").as("st")).collect()(0)
    assert(nullRow.isNullAt(0))

    // parity with the explode-groupBy composed form on real docs
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val native = docs
      .select($"doc_id", Native.charBigramStats($"text").as("st"))
      .select($"doc_id", $"st.n_grams", $"st.n_distinct", $"st.clogc")
    docs.createOrReplaceTempView("cbs_docs")
    val comp = spark.sql(
      """SELECT doc_id, count(*) AS d, sum(c) AS n, sum(c * ln(c)) AS s FROM (
        |  SELECT doc_id, gr, count(*) AS c FROM (
        |    SELECT doc_id, explode(transform(sequence(1, char_length(text) - 1),
        |      i -> substring(text, i, 2))) AS gr
        |    FROM cbs_docs WHERE char_length(text) >= 2) GROUP BY doc_id, gr
        |) GROUP BY doc_id""".stripMargin)
    val j = native.join(comp, Seq("doc_id"))
      .select($"doc_id",
        ($"n_grams" === $"n").as("nok"),
        ($"n_distinct" === $"d").as("dok"),
        (abs($"clogc" - $"s") < 1e-9).as("sok"))
    assert(j.filter(!$"nok" || !$"dok" || !$"sok").count() == 0)
  }

  test("every scalar native kernel codegen-COMPILES (fallback disabled)") {
    // Janino rejects some valid-Java constructs; with the default
    // fallback the kernel silently runs interpreted and nothing fails.
    // This sweep pins compile success for every scalar kernel (the
    // TypedImperativeAggregates are interpreted by design). A
    // higher-order function in a projection keeps the whole projection
    // out of whole-stage codegen, and expression-level codegen falls
    // back to `eval` silently, so the inputs are built without one:
    // per-token xxhash64 is GramHashes at n = 1, and sort_array sorts.
    withConf("spark.sql.codegen.fallback" -> "false") {
      val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
        .limit(20)
        .select($"text", split($"text", "\\s+").as("toks"))
        .select($"text", $"toks", Native.gramHashes($"toks", 1).as("hashes"))
      val probes = docs.select(
        Native.charBigramStats($"text").as("a"),
        Native.normalizeNfc($"text").as("b"),
        Native.minHashSig($"hashes", 4).as("c"),
        Native.maxFreq($"toks").as("d"),
        Native.maxFreqLong($"hashes").as("e"),
        Native.gramHashes($"toks", 3).as("f"),
        Native.polyMinHash($"toks", 4, Seq((3L, 7L), (5L, 11L), (7L, 13L), (11L, 17L))).as("g"),
        Native.simHash30($"toks").as("h"),
        Native.polyMinHashGrams($"toks", 3, 4, Seq((3L, 7L), (5L, 11L), (7L, 13L), (11L, 17L))).as("i"),
        Native.winnowMins($"toks", 5, 4).as("j"),
        Native.sortedIntersectCount(
          sort_array($"hashes"), sort_array($"hashes")).as("k"),
        Native.concatExcluding($"toks", array(lit(0))).as("l"),
        Native.dupGramCounts(Native.gramHashes($"toks", 2), 2).as("m"),
        Native.wsTokens($"text").as("n"),
        Native.textStats($"text", graft.ops.TextAnalysis.LangProfiles).as("o"))
      assert(probes.collect().length == 20)
      assertCalls(probes, Seq("Kernels.charBigramStats", "Kernels.normalizeNfc",
        "Kernels.minHashSig", "Kernels.maxFreq", "Kernels.maxFreqLong", "Kernels.gramHashes",
        "Kernels.polyMinHashGrams", "Kernels.simHash30", "Kernels.winnowMins",
        "Kernels.sortedIntersectCount", "Kernels.concatExcluding", "Kernels.dupGramCounts",
        "TextScan.wsTokens", "TextScan.stats"))
      val vecs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .limit(10)
        .select($"embedding".cast("array<double>").as("v"))
      val p2 = vecs.select(
        Native.doubleDot($"v", $"v").as("a"),
        Native.binaryDot(Native.packInt8($"v".cast("array<long>")),
          Native.packInt8($"v".cast("array<long>"))).as("b"),
        Native.greedyChunkIndices(array_repeat(lit(1L), size($"v")), lit(4L)).as("c"))
      assert(p2.collect().length == 10)
      assertCalls(p2, Seq("Kernels.doubleDot", "Kernels.binaryDot", "Kernels.packInt8",
        "Kernels.greedyChunkIndices"))
    }
  }

  /** Each of `kernels` is called from `df`'s generated code. */
  private def assertCalls(df: org.apache.spark.sql.DataFrame, kernels: Seq[String]): Unit = {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
    val missing = kernels.filterNot(k => code.contains(s"graft.functions.$k("))
    assert(missing.isEmpty, s"no generated call to ${missing.mkString(", ")}")
  }

  test("native dot participates in whole-stage codegen") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(transform($"embedding", x => x.cast("double")).as("v"))
    val plan = emb.select(Native.doubleDot($"v", $"v"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage; the
    // doubledot projection must carry it (note the transform() lambda
    // projection does NOT — higher-order functions break codegen,
    // which is exactly why the native expression exists)
    val dotLine = plan.linesIterator.find(_.contains("doubledot")).get
    assert(dotLine.trim.startsWith("*("), plan)
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val v = df.select(Native.doubleDot($"a", $"b").as("d")).head().getDouble(0)
    assert(v == 11.0)
  }

  test("topk aggregate keeps k best with deterministic ties") {
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 7L), (1L, 0.5, 3L), (1L, 0.99, 4L),
      (2L, 0.1, 1L)
    ).toDF("g", "score", "id")
    val out = df.groupBy("g").agg(Native.topKPairs($"score", $"id", 2).as("top"))
      .select($"g", $"top").collect()
    val g1 = out.find(_.getLong(0) == 1L).get.getSeq[org.apache.spark.sql.Row](1)
    assert(g1.map(r => (r.getDouble(0), r.getLong(1))) == Seq((0.99, 4L), (0.9, 7L)))
    val g2 = out.find(_.getLong(0) == 2L).get.getSeq[org.apache.spark.sql.Row](1)
    assert(g2.map(r => (r.getDouble(0), r.getLong(1))) == Seq((0.1, 1L)))
  }

  test("topk agg survives partial aggregation across many partitions") {
    val df = spark.range(0, 10000, 1, 16)
      .select(lit(1L).as("g"), (col("id") % 97).cast("double").as("score"), col("id"))
    val top = df.groupBy("g").agg(Native.topKPairs($"score", $"id", 5).as("top"))
      .select(explode($"top").as("p")).select("p.score", "p.id").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    // best score is 96; ties broken by smallest id (id=96 first hits 96)
    assert(top.length == 5)
    assert(top.head == ((96.0, 96L)))
    assert(top.forall(_._1 == 96.0))
    assert(top.map(_._2).toSeq == Seq(96L, 193L, 290L, 387L, 484L))
  }

  test("agg top-k equals window top-k on real embeddings") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qv"))
    val a = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "qid", "qv", 8)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = graft.ops.Similarity.bruteForceTopKAgg(emb, "vec_id", "embedding", q, "qid", "qv", 8)
      .select("qid", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
  }

  test("sortedIntersectCount matches size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      rng.shuffle((0 until 50).map(_.toLong).toVector).take(rng.nextInt(20) + 1).toArray.sorted,
      rng.shuffle((0 until 50).map(_.toLong).toVector).take(rng.nextInt(20) + 1).toArray.sorted))
    val df = rows.toDF("a", "b")
    val got = df.select(
      Native.sortedIntersectCount(col("a"), col("b")).as("c"),
      size(array_intersect(col("a"), col("b"))).as("expected"))
    assert(got.filter(col("c") =!= col("expected")).count() == 0)
  }

  test("sortedIntersectCount handles empty and disjoint arrays") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 3L), Array(2L, 4L)),
      (Array(5L), Array(5L))).toDF("a", "b")
    val got = df.select(Native.sortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 0, 1))
  }

  test("sortedIntersectCount skips null element slots (SQL-exposed input)") {
    import org.apache.spark.sql.functions._
    // user-supplied SQL arrays can contain nulls; the walk must skip
    // them, both interpreted and codegen'd
    val df = spark.sql(
      "SELECT array(1L, NULL, 3L, 5L) AS a, array(NULL, 3L, 5L) AS b")
    val got = df.select(Native.sortedIntersectCount(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2))
  }

  test("every scalar kernel's generated code actually compiles (no silent interpreted fallback)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // A janino compile error does NOT fail the query — Spark quietly
    // re-runs the stage interpreted, so the oracle stays green while
    // the codegen path is dead (this caught MaxFreq/MaxFreqLong:
    // janino erases generics, so `Integer c = map.get(k)` needs an
    // explicit cast). With spark.sql.codegen.fallback=false the
    // compile error surfaces as a test failure instead. The rows come
    // from an RDD and BinaryDot's bytes from columns: a `Seq.toDF`
    // frame is a local relation whose projection the optimizer
    // evaluates through `eval`, as it folds a call on literals.
    withConf("spark.sql.codegen.fallback" -> "false") {
      val schema = StructType(Seq(
        StructField("toks", ArrayType(StringType)), StructField("longs", ArrayType(LongType)),
        StructField("vec", ArrayType(DoubleType)),
        StructField("p", BinaryType), StructField("q", BinaryType)))
      val rows = Seq(
        Row(Seq("a", "b", "a", "c", "b", "a"), Seq(1L, 2L, 1L, 9L), Seq(1.0, 2.0, 3.0),
          Array[Byte](1, 2), Array[Byte](3, 4)),
        Row(Seq.empty[String], Seq.empty[Long], Seq(0.5, 0.5, 0.5),
          Array[Byte](1, 2), Array[Byte](3, 4)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      val params = Seq((3L, 7L), (11L, 13L))
      val projected = df.select(
        Native.maxFreq($"toks"),
        Native.maxFreqLong($"longs"),
        Native.gramHashes($"toks", 2),
        Native.minHashSig($"longs", 4),
        Native.polyMinHash($"toks", 2, params),
        Native.polyMinHashGrams($"toks", 2, 2, params),
        Native.simHash30($"toks"),
        Native.doubleDot($"vec", $"vec"),
        Native.binaryDot($"p", $"q"),
        Native.sortedIntersectCount($"longs", $"longs"),
        Native.concatExcluding($"toks", array(lit(1))),
        Native.greedyChunkIndices($"longs", lit(10L)),
        Native.packInt8($"longs"))
      val out = projected.collect()
      assert(out.length == 2)
      assert(out(0).getInt(0) == 3) // maxFreq("a") over the first row
      assertCalls(projected, Seq("Kernels.maxFreq", "Kernels.maxFreqLong", "Kernels.gramHashes",
        "Kernels.minHashSig", "Kernels.polyMinHashGrams", "Kernels.simHash30",
        "Kernels.doubleDot", "Kernels.binaryDot", "Kernels.sortedIntersectCount",
        "Kernels.concatExcluding", "Kernels.greedyChunkIndices", "Kernels.packInt8"))
    }
  }

  test("vectorMoments matches hand-computed mean and covariance") {
    val df = Seq(
      Array(1.0, 2.0), Array(3.0, 4.0), Array(5.0, 0.0))
      .toDF("v")
    val m = df.agg(Native.vectorMoments($"v").as("m")).select("m.*").collect()(0)
    assert(m.getLong(0) === 3L)
    assert(m.getSeq[Double](1) === Seq(3.0, 2.0))
    // cov_pop: var(x)=8/3·… — hand: xs=(1,3,5) mean 3, var=(4+0+4)/3
    val pairs = m.getSeq[org.apache.spark.sql.Row](2)
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(math.abs(pairs((0, 0)) - 8.0 / 3.0) < 1e-12)
    assert(math.abs(pairs((1, 1)) - 8.0 / 3.0) < 1e-12)
    // cov(x,y) = E[xy]-E[x]E[y] = (2+12+0)/3 - 6 = -4/3
    assert(math.abs(pairs((0, 1)) - (-4.0 / 3.0)) < 1e-12)
    assert(pairs.size === 3)
  }

  test("vectorMoments is partitioning-invariant and skips null vectors") {
    val base = spark.range(0, 1000)
      .select(array((col("id") % 13).cast("double"),
        (col("id") % 7).cast("double"), lit(1.0)).as("v"))
    val withNulls = base.unionAll(
      spark.range(3).select(lit(null).cast("array<double>").as("v")))
    def moments(df: org.apache.spark.sql.DataFrame) =
      df.agg(Native.vectorMoments($"v").as("m"))
        .select("m.n", "m.means", "m.pairs").collect()(0)
    val a = moments(withNulls.repartition(1))
    val b = moments(withNulls.repartition(17))
    assert(a.getLong(0) === 1000L && b.getLong(0) === 1000L)
    assert(a.getSeq[Double](1).zip(b.getSeq[Double](1))
      .forall { case (x, y) => math.abs(x - y) < 1e-9 })
    val pa = a.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(2))
    val pb = b.getSeq[org.apache.spark.sql.Row](2).map(_.getDouble(2))
    assert(pa.zip(pb).forall { case (x, y) => math.abs(x - y) < 1e-9 })
  }

  test("vectorMoments shuffles bounded state, not exploded pairs") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // the aggregate subplan: partial+final ObjectHashAggregate over
    // the raw vector column — no Generate/explode below the agg (the
    // pair explosion happens AFTER, on the single 2080-struct row)
    val aggPlan = emb.agg(Native.vectorMoments($"embedding").as("m"))
      .queryExecution.executedPlan.toString
    assert(aggPlan.contains("ObjectHashAggregate"), aggPlan)
    assert(!aggPlan.contains("Generate"), aggPlan)
    val full = graft.ops.Embeddings.covarianceMatrix(emb, "embedding")
    assert(full.count() === 64L * 65L / 2L)
  }

  test("normalizeNfc composes decomposed sequences and is identity on NFC text") {
    val df = Seq(
      "cafe\u0301",     // cafe + combining acute, composes to caf\u00e9
      "caf\u00e9",       // already composed
      "plain ascii",
      "",
      "A\u030a")         // A + combining ring, composes to U+00C5
      .toDF("t")
      .select(Native.normalizeNfc($"t").as("n"))
    val got = df.collect().map(_.getString(0))
    assert(got(0) === "caf\u00e9")
    assert(got(1) === "caf\u00e9")
    assert(got(2) === "plain ascii")
    assert(got(3) === "")
    assert(got(4) === "\u00c5")
    // null propagates
    val n = Seq[Option[String]](None).toDF("t")
      .select(Native.normalizeNfc($"t")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("normalizeNfc makes composed/decomposed renderings hash-equal") {
    val df = Seq(("caf\u00e9", "cafe\u0301")).toDF("a", "b")
    val r = df.select(
      (md5(Native.normalizeNfc($"a")) === md5(Native.normalizeNfc($"b"))).as("eq"),
      (md5($"a") === md5($"b")).as("raw_eq")).collect()(0)
    assert(r.getBoolean(0))     // normalized: duplicates
    assert(!r.getBoolean(1))    // raw bytes: missed duplicate
  }

  test("vectorMoments rejects dimension mismatch instead of truncating") {
    val df = Seq(Array(1.0, 2.0), Array(1.0, 2.0, 3.0)).toDF("v")
    val e = intercept[org.apache.spark.SparkException] {
      df.agg(Native.vectorMoments($"v")).collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause != null && e.getCause.getMessage.contains("dimension mismatch"))
  }
}
