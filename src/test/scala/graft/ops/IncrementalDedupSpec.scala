package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-vs-delta dedup: an incoming batch is deduped against the
  * existing index (band-key equi-join, never a history self-join) and
  * within itself.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val existing = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    .select(col("doc_id"), col("text"))

  test("minhashPairsAgainst finds every near-dup of existing content") {
    // every 4th doc re-enters with a small edit: a NEAR dup (not exact)
    val edited = existing.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tiny edit")).as("text"))
    val novel = existing.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        upper(col("text")).as("text"))
    val pairs = Dedup.minhashPairsAgainst(existing, edited.unionAll(novel),
      "doc_id", "text", shingleN = 3, k = 32, bands = 16, threshold = 0.5)
    val caught = pairs.select("id_in").distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = edited.select("doc_id").collect().map(_.getLong(0)).toSet
    // every edited re-entry is caught against its original...
    assert((expected -- caught).isEmpty,
      s"missed ${(expected -- caught).size} of ${expected.size} edited re-entries")
    // ...and no genuinely novel (case-flipped) doc is matched
    val novelIds = novel.select("doc_id").collect().map(_.getLong(0)).toSet
    assert((caught & novelIds).isEmpty, s"false matches: ${(caught & novelIds).take(5)}")
  }

  test("a bucketed banded-signature index joins deltas without shuffling the index") {
    // the 100 TB shape promised in minhashPairsAgainst's doc: persist
    // the existing corpus's banded signatures bucketed by band key;
    // each daily delta's (much smaller) banding then joins with NO
    // exchange on the index side
    val bandIndex = {
      val collapsed = existing.groupBy(Dedup.contentKey(col("text")).as("ck"))
        .agg(min("doc_id").as("id"), first("text").as("text"))
      collapsed.select(col("id"),
        posexplode(Dedup.bandKeys(
          Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 32),
          32, 16)).as(Seq("band", "key")))
        .withColumn("bkey", xxhash64(col("band"), col("key")))
    }
    graft.io.Sources.writeBucketed(bandIndex, "dedup_band_index", "bkey", 8)
    val delta = existing.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" delta edit")).as("text"))
    val deltaBands = delta.select(col("doc_id").as("id_in"),
      posexplode(Dedup.bandKeys(
        Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 32),
        32, 16)).as(Seq("band", "key")))
      .withColumn("bkey", xxhash64(col("band"), col("key")))
      .repartition(8, col("bkey"))
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("dedup_band_index")
        .join(deltaBands, Seq("bkey"))
      val planned = joined.queryExecution.executedPlan.toString
      // at most ONE hash exchange may appear: the delta's explicit
      // repartition. A second would mean the bucketed index got
      // re-shuffled, defeating the write-time exchange.
      val exchanges = planned.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"index side re-shuffled ($exchanges exchanges):\n$planned")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("persisted band index serves successive deltas without re-signing history") {
    // The API form of the hand-built shape above: build the index
    // ONCE, run two different deltas against it, and get exactly what
    // the from-scratch corpus-vs-delta path computes — with zero
    // exchanges on any index table (each is bucketed on its join key;
    // only the small delta side shuffles).
    Dedup.buildBandIndex(existing, "doc_id", "text", "graft_test_idx",
      shingleN = 3, k = 32, bands = 16, buckets = 8)

    def delta(mod: Int, offset: Long) = existing.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" delta edit")).as("text"))

    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_ex", "id_in").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((mod, offset) <- Seq((13, 3000000L), (19, 4000000L))) {
        val d = delta(mod, offset)
        // signature parameters come from the index's _meta table —
        // the caller only chooses the query-time threshold
        val viaIndex = Dedup.minhashPairsAgainstIndex(spark, "graft_test_idx",
          d, "doc_id", "text", threshold = 0.5)
        // no exchange may move raw index rows: the bucketed tables'
        // write-time shuffle must be the only one. REAL post-AQE walk
        // (r15) — the former inputPlan-based shuffle assertion was
        // vacuous (inputPlan predates EnsureRequirements in Spark 4
        // and so never contains exchanges); see graft.PlanChecks.
        import org.apache.spark.sql.execution.FileSourceScanExec
        val idxScans = graft.PlanChecks.finalPlanNodes(viaIndex).collect {
          case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table.startsWith("graft_test_idx")) => s
        }
        assert(idxScans.size == 3, s"expected 3 index scans, got $idxScans")
        val shuffledIndexScans = graft.PlanChecks.directlyShuffledScans(
          viaIndex, "graft_test_idx")
        assert(shuffledIndexScans.isEmpty,
          s"index tables re-shuffled: $shuffledIndexScans")
        val fromScratch = Dedup.minhashPairsAgainst(existing, d,
          "doc_id", "text", shingleN = 3, k = 32, bands = 16, threshold = 0.5)
        assert(pairSet(viaIndex) == pairSet(fromScratch))
        assert(pairSet(viaIndex).nonEmpty)
        spark.catalog.clearCache()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("the index probes leave the session's cache as they found it") {
    // a long-lived session probes once per delta: neither probe may
    // leave the incoming collapse or its signatures cached behind it
    val name = "graft_test_cache"
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val probe = existing.filter(col("doc_id") % 9 === 1)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat(col("text"), lit(" probe edit")).as("text"))
    try {
      Dedup.buildBandIndex(existing.filter(col("doc_id") % 3 === 1), "doc_id", "text", name,
        shingleN = 3, k = 32, bands = 16, buckets = 4)
      spark.catalog.clearCache()
      assert(Dedup.minhashPairsAgainstIndex(spark, name, probe, "doc_id", "text",
        threshold = 0.5).count() > 0)
      assert(cache.isEmpty, "the pairs probe left cached data")
      assert(Dedup.minhashHitsAgainstIndex(spark, name, probe, "doc_id", "text",
        threshold = 0.5).count() > 0)
      assert(cache.isEmpty, "the hits probe left cached data")
    } finally {
      graft.io.PersistedIndex.drop(spark, name, Dedup.BandIndexTables)
      spark.catalog.clearCache()
    }
  }

  test("appendToBandIndex: grown index probes exactly like a full rebuild") {
    // build on part of the corpus, append the rest (params derived
    // from _meta, bucket count from the catalog); probing the grown
    // index must equal probing an index rebuilt from the full corpus
    // — including content present on BOTH sides (the append keeps one
    // rep per side; member expansion unions them, same pair set)
    val partA = existing.filter(col("doc_id") % 3 =!= 0)
    val partB = existing.filter(col("doc_id") % 3 === 0)
      // overlap: re-add some of A's content under B-side ids
      .unionAll(existing.filter(col("doc_id") % 11 === 1)
        .select((col("doc_id") + 7000000L).as("doc_id"), col("text")))
    Dedup.buildBandIndex(partA, "doc_id", "text", "graft_test_grow",
      shingleN = 3, k = 32, bands = 16, buckets = 8)
    Dedup.appendToBandIndex(spark, "graft_test_grow", partB, "doc_id", "text")
    Dedup.buildBandIndex(existing.unionAll(partB.filter(col("doc_id") >= 7000000L)),
      "doc_id", "text", "graft_test_full",
      shingleN = 3, k = 32, bands = 16, buckets = 8)
    val probe = existing.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        concat(col("text"), lit(" probe edit")).as("text"))
    def pairSet(name: String) =
      Dedup.minhashPairsAgainstIndex(spark, name, probe, "doc_id", "text",
          threshold = 0.5)
        .select("id_ex", "id_in").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val grown = pairSet("graft_test_grow")
    val full = pairSet("graft_test_full")
    assert(grown.nonEmpty && grown == full,
      s"extra=${(grown -- full).take(5)} missing=${(full -- grown).take(5)}")
    // the append must have preserved the NON-default bucket layout
    // (bucket count comes from the catalog, not a guessed constant)
    for (t <- Seq("bands", "sigs", "members"))
      assert(graft.io.Sources.numBuckets(spark, s"graft_test_grow_$t")
        .contains(8), s"graft_test_grow_$t lost its 8-bucket spec")
    spark.catalog.clearCache()
  }

  test("appendToBandIndex refuses an index whose bands table has no bucket spec") {
    // ... and so does every index family's append, with one message:
    // a hot table whose catalog entry lost its bucket spec must not be
    // appended under a guessed layout, which would silently route rows
    // to buckets the pruned probes never read
    val outcomes = IndexFamilies.all.map { f =>
      val name = s"graft_test_nospec_${f.family}"
      val hot = s"${name}_${f.hot}"
      val expected = s"$hot has no bucket spec in the catalog; " +
        "refusing to write it under a guessed layout"
      try {
        f.build(spark, name)
        IndexFamilies.unbucket(spark, hot)
        f.family -> (scala.util.Try(f.append(spark, name)) match {
          case scala.util.Failure(e: IllegalStateException) if e.getMessage == expected => "refused"
          case scala.util.Failure(e) => s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          case scala.util.Success(_) => "appended"
        })
      } finally IndexFamilies.dropAll(spark, name)
    }
    assert(outcomes.forall(_._2 == "refused"), outcomes.mkString("\n"))
  }

  test("compactBandIndex: fewer files, same bucket spec, same probe results") {
    // build + two appends (each append adds a file per task×bucket),
    // then compact: the file count must strictly drop, the bucket
    // spec must survive the swap (so probe plans stay exchange-free),
    // and probe output must be byte-for-byte what it was
    Dedup.buildBandIndex(existing.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "graft_test_cpt",
      shingleN = 3, k = 32, bands = 16, buckets = 8)
    def delta(mod: Int, offset: Long) = existing.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" delta edit")).as("text"))
    Dedup.appendToBandIndex(spark, "graft_test_cpt", delta(7, 6000000L), "doc_id", "text")
    Dedup.appendToBandIndex(spark, "graft_test_cpt", delta(11, 7000000L), "doc_id", "text")
    val probe = delta(13, 8000000L)
    def pairSet() =
      Dedup.minhashPairsAgainstIndex(spark, "graft_test_cpt", probe,
          "doc_id", "text", threshold = 0.5)
        .select("id_ex", "id_in").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def fileCount(table: String): Int = {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val dir = new java.io.File(
        new java.net.URI(wh).getPath, table.toLowerCase)
      Option(dir.listFiles()).toSeq.flatten
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val before = pairSet()
    val filesBefore = fileCount("graft_test_cpt_bands")
    assert(filesBefore > 8, s"appends produced only $filesBefore files")
    Dedup.compactBandIndex(spark, "graft_test_cpt")
    val filesAfter = fileCount("graft_test_cpt_bands")
    assert(filesAfter <= 8 && filesAfter < filesBefore,
      s"compaction left $filesAfter files (was $filesBefore)")
    assert(graft.io.Sources.numBuckets(spark, "graft_test_cpt_bands").contains(8))
    assert(before.nonEmpty && pairSet() == before)
    spark.catalog.clearCache()
  }

  test("dedupIncrement keeps exactly the novel content, min-id per in-batch group") {
    val recrawl = existing.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val fresh = existing.filter(col("doc_id") % 6 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), upper(col("text")).as("text"))
    val freshDup = fresh
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val incoming = recrawl.unionAll(fresh).unionAll(freshDup)
    val survivors = Dedup.dedupIncrement(existing, incoming, "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, threshold = 1.0)
      .select("doc_id").as[Long].collect().toSet
    // expected: one survivor per distinct fresh TEXT, at the min id
    val expected = fresh.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == expected,
      s"extra=${(survivors -- expected).take(5)} missing=${(expected -- survivors).take(5)}")
    // the index-probing form is the same operator with history
    // pre-signed once: identical survivor set (signatures are
    // bit-identical between the built index and the inline path)
    Dedup.buildBandIndex(existing, "doc_id", "text", "graft_test_incr_idx",
      shingleN = 3, k = 32, bands = 16, buckets = 8, membersTable = false)
    try {
      val viaIndex = Dedup.dedupIncrementAgainstIndex(spark,
          "graft_test_incr_idx", incoming, "doc_id", "text", threshold = 1.0)
        .select("doc_id").as[Long].collect().toSet
      // dedupIncrement resolves in-batch groups by NEAR-dup components,
      // the index form identically at threshold 1.0 (transitive); both
      // must keep the same survivors
      assert(viaIndex == survivors,
        s"extra=${(viaIndex -- survivors).take(5)} missing=${(survivors -- viaIndex).take(5)}")
    } finally {
      for (t <- Seq("meta", "bands", "sigs", "members"))
        spark.sql(s"DROP TABLE IF EXISTS `graft_test_incr_idx_$t`")
    }
    spark.catalog.clearCache()
  }
}
