package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality-gated streaming ingest — the COMPLETE production loop of a
  * training-data pipeline, composed from pieces this library proves
  * individually: each micro-batch is
  *
  *   1. gated by the published Gopher quality rules
  *      ([[graft.ops.TextAnalysis.gopherFilter]] — one codegen'd
  *      projection, rejects carry a reason),
  *   2. deduped NEAR-dup against the existing corpus's persisted
  *      MinHash band index (hits-only probe, zero index-side
  *      exchanges — the [[StreamingDedup]] shape), and
  *   3. deduped EXACT against the accepted-so-far stream history
  *      (first-accepted-wins, min-id within a batch),
  *
  * with ledger rows written to the sink's batchId-keyed partition
  * directory inside the ordered micro-batch loop — at-least-once
  * IDEMPOTENT (a retried batch overwrites its own directory; see
  * [[BatchProcessors]]). The output is the per-document ingest
  * LEDGER — (doc_id,
  * status ∈ {accepted, dropped_quality, dropped_duplicate}) — the
  * auditable disposition record a governed corpus keeps next to its
  * data card: every incoming id appears exactly once, and the ledger
  * explains the gap between crawl volume and release volume.
  *
  * Scale shape: identical to [[StreamingDedup.streamedDedupIncrement]]
  * (corpus index written once per version, each batch pays one banded
  * probe + one content anti-join; accepted state rides as an eagerly
  * checkpointed frame), plus one codegen'd projection per batch for
  * the quality gate — the gate adds no shuffle and runs BEFORE the
  * probe, so low-quality documents never cost signature work.
  */
object StreamingIngest {

  /** Replay `incoming` as an ordered chunked file stream through the
    * quality→near-dup→exact-dup gate against `existing`; returns the
    * ledger (doc_id, status). Harness entry — the foreachBatch body
    * is the production path. `prebuiltIndex` as in
    * [[StreamingDedup.streamedDedupIncrement]].
    */
  def ingestGate(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 50,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 16,
      threshold: Double = 1.0,
      nChunks: Int = 3,
      prebuiltIndex: Option[String] = None): DataFrame = {
    val spark = existing.sparkSession
    import org.apache.spark.sql.expressions.Window
    val indexName = prebuiltIndex.getOrElse {
      val n = "graft_ingest_idx_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      graft.ops.Dedup.buildBandIndex(existing, idCol, textCol, n,
        shingleN, k, bands, buckets = 16, membersTable = false)
      n
    }
    val srcPath = Sessionize.preparedSource("graft-stream-ingest-src",
      incoming.queryExecution.logical.semanticHash().toLong * 37L + nChunks) { p =>
      val base = incoming.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      val n = base.count()
      val per = math.max(1L, (n + nChunks - 1) / nChunks)
      val chunked = base
        .withColumn("_rn", row_number().over(Window.orderBy("doc_id")))
        .withColumn("_c", ((col("_rn") - 1) / per).cast("int"))
        .drop("_rn")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seen = scala.collection.mutable.Set.empty[java.nio.file.Path]
      val stampBase = System.currentTimeMillis() - (nChunks + 2) * 60000L
      try {
        for (c <- 0 until nChunks) {
          chunked.filter(col("_c") === c).drop("_c").coalesce(1)
            .write.mode("append").parquet(p.toString)
          Sessionize.stampNewFiles(p, seen, stampBase + c * 60000L)
        }
      } finally { chunked.unpersist(); () }
    }
    val ledgerPath = java.nio.file.Files.createTempDirectory("graft-ingest-ledger")
    try {
      val base = incoming.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      // seed inside a batchId-keyed partition directory (r12): batch
      // writes are per-batch OVERWRITE dirs, so the root stays a
      // valid partitioned table even with zero batches
      base.limit(0).select(col("doc_id"), lit("init").as("status"))
        .write.mode("overwrite")
        .parquet(BatchProcessors.batchDir(ledgerPath, -1L))
      val schema = spark.read.parquet(srcPath.toString).schema
      val ss = Sessionize.streamSession(spark)
      val stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcPath.toString)
      val initialState = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .select("doc_id", "text")
      // batchId-keyed idempotent body (r12, see BatchProcessors): a
      // retry overwrites its own batch_id directory instead of
      // double-appending, and the state fold applies once per batchId
      val proc = new IngestBatchProcessor(indexName, threshold, minTokens,
        ledgerPath, initialState)
      val q = stream.writeStream.foreachBatch {
        (batch: DataFrame, batchId: Long) => proc.process(batch, batchId)
      }.start()
      try q.processAllAvailable() finally q.stop()
      val out = spark.read.parquet(ledgerPath.toString)
        .select("doc_id", "status")
        .filter(col("status") =!= "init")
        .orderBy("doc_id")
      // materialize on the EXECUTORS before the ledger dir is deleted:
      // a corpus-sized ledger must never funnel through the driver
      // (the old collect+parallelize shape) NOR through one task —
      // the sort's range partitioning is checkpointed as-is, parallel
      out.localCheckpoint(true)
    } finally {
      if (prebuiltIndex.isEmpty)
        graft.io.PersistedIndex.drop(spark, indexName,
          graft.ops.Dedup.BandIndexTables)
      StreamingDedup.deleteRecursively(ledgerPath)
    }
  }
}
