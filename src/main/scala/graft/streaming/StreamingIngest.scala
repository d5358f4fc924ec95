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
    val indexName = prebuiltIndex.getOrElse {
      val n = "graft_ingest_idx_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      graft.ops.Dedup.buildBandIndex(existing, idCol, textCol, n,
        shingleN, k, bands, buckets = 16, membersTable = false)
      n
    }
    val base = incoming.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    try Replay.withDir("ingest-ledger") { ledgerPath =>
      // seed inside a batchId-keyed partition directory (r12): batch
      // writes are per-batch OVERWRITE dirs, so the root stays a
      // valid partitioned table even with zero batches
      base.limit(0).select(col("doc_id"), lit("init").as("status"))
        .write.parquet(BatchProcessors.batchDir(ledgerPath, -1L))
      // batchId-keyed idempotent body (r12, see BatchProcessors): a
      // retry overwrites its own batch_id directory instead of
      // double-appending, and the state fold applies once per batchId
      val proc = new IngestBatchProcessor(indexName, threshold, minTokens,
        ledgerPath, base.limit(0))
      Replay.fold(Replay.Source("ingest", base, Seq("doc_id"), nChunks), ()) {
        (_, batch, id) => proc.process(batch, id)
      }
      // materialize on the EXECUTORS before the ledger dir is deleted:
      // a corpus-sized ledger must never funnel through the driver
      // (the old collect+parallelize shape) NOR through one task —
      // the sort's range partitioning is checkpointed as-is, parallel
      spark.read.parquet(ledgerPath.toString)
        .select("doc_id", "status")
        .filter(col("status") =!= "init")
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      if (prebuiltIndex.isEmpty)
        graft.io.PersistedIndex.drop(spark, indexName,
          graft.ops.Dedup.BandIndexTables)
    }
  }
}
