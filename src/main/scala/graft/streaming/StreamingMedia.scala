package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming PERCEPTUAL media dedup — the multimodal member of the
  * streamed-ingest family ([[StreamingDedup]] dedups text by content
  * key / band index; this dedups media payloads by their 64-bit
  * perceptual fingerprint, [[graft.ops.Multimodal.videoFingerprint]]):
  * each micro-batch decodes its payloads once, keeps the minimum id
  * per fingerprint WITHIN the batch, and accepts only fingerprints
  * never accepted before — first-accepted-wins across batches. A
  * re-encoded or brightness-shifted re-upload arriving days later
  * carries different BYTES but the same fingerprint (the exact
  * invariances of the spatio-temporal hash), so the stream drops it
  * without any byte-level comparison — the property that makes
  * perceptual (not content-key) identity the right streaming dedup
  * key for media.
  *
  * State/scale shape: cross-batch state is the accepted
  * (fingerprint, id) table — O(accepted), narrow, ridden between
  * batches as an eagerly-checkpointed frame ([[DedupBatchProcessor]]'s
  * discipline); survivors land in batchId-keyed sink directories
  * (at-least-once IDEMPOTENT — a retry overwrites its own directory).
  * Per batch the cost is one decode pass over the batch plus one
  * anti-join against the state by the 8-byte key.
  *
  * Batch equivalence (what the oracle checks): identical-fingerprint
  * is an EQUIVALENCE relation (unlike near-duplicacy at sub-1.0
  * thresholds), so with chunks replayed in ascending-id order the
  * accepted set is exactly the batch answer: minimum id per distinct
  * fingerprint.
  */
object StreamingMedia {

  /** Replay `incoming` (idCol, payloadCol: binary) as an ordered
    * chunked file stream, perceptually deduped; returns the accepted
    * survivor ids as a single-partition (doc_id) frame. Harness
    * entry — the foreachBatch body is the production path.
    */
  def streamedFingerprintDedup(incoming: DataFrame, idCol: String,
                               payloadCol: String,
                               nChunks: Int = 3): DataFrame = {
    val spark = incoming.sparkSession
    val base = incoming.select(col(idCol).as("doc_id"),
      col(payloadCol).cast("binary").as("payload"))
    Replay.withDir("media-out") { outPath =>
      val accepted = spark.range(0).select(col("id").as("doc_id"), lit(0L).as("vhash"))
        .limit(0)
      accepted.write.parquet(BatchProcessors.batchDir(outPath, -1L))
      val proc = new MediaDedupBatchProcessor(outPath, accepted)
      // ascending-id chunks: first-accepted-wins must agree with the
      // batch min-id-per-fingerprint rule
      Replay.fold(Replay.Source("media", base, Seq("doc_id"), nChunks), ()) {
        (_, batch, id) => proc.process(batch, id)
      }
      // executor-side materialization, not a driver collect — see
      // StreamingIngest: the ledger may be corpus-sized
      spark.read.parquet(outPath.toString).select("doc_id").orderBy("doc_id")
        .localCheckpoint(true)
    }
  }
}

/** [[StreamingMedia.streamedFingerprintDedup]] body: decode →
  * in-batch min-per-fingerprint → anti-join accepted state →
  * batchId-keyed sink. At-least-once idempotent.
  */
final class MediaDedupBatchProcessor(
    outPath: java.nio.file.Path, initialState: DataFrame) {
  private var acceptedState: DataFrame = initialState
  private var lastApplied: Long = -1L

  def accepted: DataFrame = acceptedState

  def process(batch: DataFrame, batchId: Long): Unit = {
    if (batchId <= lastApplied) return // at-least-once retry: no-op
    val media = batch.select(col("doc_id").as("media_id"),
      lit("unknown").as("media_type"),
      coalesce(octet_length(col("payload")).cast("long"), lit(0L))
        .as("byte_len"),
      col("payload"))
    val hashes = graft.ops.Multimodal.videoFingerprint(
        media.as(org.apache.spark.sql.Encoders.product[
          graft.ops.Multimodal.MediaRow]))
      .toDF()
    val inBatch = hashes.groupBy("vhash")
      .agg(min("media_id").as("doc_id"))
    val novel = inBatch
      .join(acceptedState.select("vhash"), Seq("vhash"), "left_anti")
      .select("doc_id", "vhash")
      .localCheckpoint()
    novel.write.mode("overwrite")
      .parquet(BatchProcessors.batchDir(outPath, batchId))
    acceptedState = acceptedState.unionByName(novel)
    lastApplied = batchId
  }
}
