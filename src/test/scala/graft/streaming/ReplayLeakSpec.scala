package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every streaming replay entry point leaves the JVM's temp root and
  * the session's cache as it found them, and a replay over a rewritten
  * input replays the new rows.
  */
class ReplayLeakSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
  private def replayDirs: Set[String] =
    Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft-stream-")).toSet
  private def cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  private lazy val rows = Seq(("a", 1L), ("a", 4L), ("a", 4L), ("b", 2L), ("b", 9L),
    ("c", 7L), ("c", 1L), ("c", 0L), ("d", 100L)).toDF("g", "v")
  private lazy val docs = spark.createDataFrame((0 until 60).map { i =>
    (i.toLong, s"document about topic ${i % 12} with words w${i % 7} w${i % 5} and a tail")
  }).toDF("doc_id", "text")
  private lazy val incoming = docs.filter(col("doc_id") % 4 === 0)
    .select((col("doc_id") + 1000L).as("doc_id"), upper(col("text")).as("text"))
  private lazy val events = (0 until 80).map { i =>
    (i.toLong, new java.sql.Timestamp(1704067200000L + i * 7L * 60000L), (i % 5).toLong,
      if (i % 3 == 0) "view" else "click", i * 0.25)
  }.toDF("event_id", "ts", "user_id", "event_type", "value")
  private lazy val emb = (0 until 60).map { i =>
    (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d * 1.3)))
  }.toDF("vec_id", "embedding")

  /** Runs `body` and asserts it left no replay directory and no
    * CacheManager entry behind. Another JVM replaying under the same
    * temp root at the same time would show up here too.
    */
  private def leavesNothing(body: => Any): Unit = {
    spark.catalog.clearCache()
    val before = replayDirs
    body
    val left = replayDirs -- before
    assert(left.isEmpty, s"replay directories left under $tmp: $left")
    assert(cache.isEmpty, "the replay left cached data in the session")
  }

  test("maintainedStats leaves no replay directory and no cached data") {
    leavesNothing(StreamingStats.maintainedStats(rows, "g", "v").collect())
  }

  test("maintainedDistinct leaves no replay directory and no cached data") {
    leavesNothing(StreamingDistinct.maintainedDistinct(rows, "g", "v").collect())
  }

  test("maintainedQuantiles leaves no replay directory and no cached data") {
    leavesNothing(
      StreamingQuantiles.maintainedQuantiles(rows, "g", "v", Seq((1, 2))).collect())
  }

  test("streamedDrift leaves no replay directory and no cached data") {
    leavesNothing(
      StreamingDrift.streamedDrift(docs, incoming, "doc_id", "text").collect())
  }

  test("maintainedCorpus leaves no replay directory and no cached data") {
    val corpus = (1L to 12L).map(i => (i, s"doc$i")).toDF("k", "v")
    val deltas = ((3L to 12L by 3L).map(i => (i, s"upd$i", false)) ++
      Seq((5L, "", true))).toDF("k", "v", "is_delete")
    leavesNothing(
      StreamingMerge.maintainedCorpus(corpus, deltas, "k", "is_delete").collect())
  }

  test("streamedDailyAgg leaves no replay directory and no cached data") {
    leavesNothing(
      Sessionize.streamedDailyAgg(events).collect())
  }

  test("streamedSessionize leaves no replay directory and no cached data") {
    leavesNothing(
      Sessionize.streamedSessionize(events).collect())
  }

  test("streamedDedupIncrement leaves no replay directory and no cached data") {
    leavesNothing(
      StreamingDedup.streamedDedupIncrement(docs, incoming, "doc_id", "text").collect())
  }

  test("ingestGate leaves no replay directory and no cached data") {
    leavesNothing(
      StreamingIngest.ingestGate(docs, incoming, "doc_id", "text", minTokens = 3).collect())
  }

  test("streamedFingerprintDedup leaves no replay directory and no cached data") {
    val media = Seq(0L -> "one", 1L -> "two", 2L -> "one", 3L -> "three")
      .map { case (id, s) => (id, s.getBytes("UTF-8")) }.toDF("doc_id", "payload")
    leavesNothing(
      StreamingMedia.streamedFingerprintDedup(media, "doc_id", "payload").collect())
  }

  test("streamedAnnServe leaves no replay directory and no cached data") {
    val idx = "graft_test_replay_leak_ivf"
    graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", idx,
      nCells = 4, buckets = 4)
    try leavesNothing(
      StreamingAnn.streamedAnnServe(emb, idx, nQueries = 4, k = 3, nprobe = 4,
        overfetch = 16).collect())
    finally graft.io.PersistedIndex.drop(spark, idx, graft.ops.Similarity.IvfIndexTables)
  }

  test("streamedGraphMaintain leaves no replay directory and no cached data") {
    val idx = "graft_test_replay_leak_graph"
    graft.ops.GraphIndex.buildGraphIndex(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", idx, k = 4, layerMod = 4, iters = 2, buckets = 4)
    try leavesNothing(
      StreamingGraphIndex.streamedGraphMaintain(emb.filter(col("vec_id") % 5 === 0),
        idx, "vec_id", "embedding"))
    finally spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(idx)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("a second replay over rewritten parquet replays the new rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-replay-stale")
    val path = root.resolve("rows").toString
    def stats(df: DataFrame) = df.orderBy("g").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    try {
      rows.write.parquet(path)
      assert(stats(StreamingStats.maintainedStats(spark.read.parquet(path), "g", "v")) ==
        stats(graft.ops.Merge.groupStats(rows, "g", "v")))
      val rewritten = Seq(("x", 3L), ("y", 5L), ("x", 8L)).toDF("g", "v")
      rewritten.write.mode("overwrite").parquet(path)
      assert(stats(StreamingStats.maintainedStats(spark.read.parquet(path), "g", "v")) ==
        stats(graft.ops.Merge.groupStats(rewritten, "g", "v")))
    } finally StreamingDedup.deleteRecursively(root)
  }
}
