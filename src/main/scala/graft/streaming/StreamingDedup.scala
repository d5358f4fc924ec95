package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming incremental deduplication — the production INGEST shape:
  * a document stream is consumed in micro-batches via `foreachBatch`,
  * and each batch is deduped
  *
  *   1. against the PERSISTED minhash band index of the existing
  *      corpus (`Dedup.buildBandIndex` / `minhashPairsAgainstIndex` —
  *      near-dup, zero index-side exchanges: the same write-once /
  *      read-every-delta shape the batch path proves), and
  *   2. against the accepted-so-far stream history by exact content
  *      (a growing parquet table — the survivor sink doubles as the
  *      cross-batch state, so there is no unbounded driver or state-
  *      store footprint),
  *
  * with survivors written to the sink's batchId-keyed partition
  * directory inside the same micro-batch loop — at-least-once
  * IDEMPOTENT (a retried batch overwrites its own directory, never
  * double-appends; see [[BatchProcessors]]). At 100 TB the corpus index is built once
  * per version and each micro-batch costs one banded probe of the
  * batch (never a history self-join) plus one content-key anti-join
  * against the accepted table.
  *
  * Batch equivalence (what the oracle checks): with chunks replayed in
  * ascending-id order and `threshold = 1.0`, the accepted set equals
  * the batch incremental dedup — drop incoming docs whose minhash
  * estimate reaches 1.0 against the corpus, then keep the minimum id
  * per distinct surviving content. At est_jaccard = 1.0 the relation
  * "identical signature" IS transitive, so sequential micro-batch
  * resolution and the batch connected-components resolution agree;
  * at lower thresholds near-duplicacy is not transitive and the
  * streamed (first-accepted-wins) and batch (component-wide) answers
  * legitimately diverge — the harness pins 1.0 for oracle-ability,
  * the operator accepts any threshold for production use.
  */
object StreamingDedup {

  /** Replay `incoming` as an ordered chunked file stream deduped
    * against `existing` (via its band index) and against itself;
    * returns the accepted survivors as (doc_id).
    * Harness entry — the foreachBatch body is the production path.
    *
    * `prebuiltIndex = Some(name)` probes an EXISTING persisted band
    * index (built with `Dedup.buildBandIndex(membersTable = false)`
    * over `existing` with the same shingleN/k/bands) and leaves it in
    * place — the production shape, where the corpus index is written
    * once per corpus version and every ingest stream reads it. With
    * `None` the harness builds a throwaway index and drops it.
    */
  def streamedDedupIncrement(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 32,
      bands: Int = 16,
      threshold: Double = 1.0,
      nChunks: Int = 3,
      prebuiltIndex: Option[String] = None): DataFrame = {
    val spark = existing.sparkSession
    val indexName = prebuiltIndex.getOrElse {
      val n = "graft_stream_dedup_idx_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // ingest-only index: the drop path never expands existing-side
      // ids, so the _members table is skipped (see buildBandIndex)
      graft.ops.Dedup.buildBandIndex(existing, idCol, textCol, n,
        shingleN, k, bands, buckets = 16, membersTable = false)
      n
    }
    val base = incoming.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    try Replay.withDir("dedup-out") { outPath =>
      // seed the sink inside a batchId-keyed partition directory so
      // the root stays a valid partitioned table even with zero
      // batches (r12: batch writes are per-batch OVERWRITE dirs)
      base.limit(0).write.parquet(BatchProcessors.batchDir(outPath, -1L))
      // Accepted-so-far rides BETWEEN batches as an eagerly
      // checkpointed in-memory frame (each generation's lineage is
      // truncated, so the chain never deepens): the parquet sink
      // stays the durable OUTPUT, but re-reading it per batch paid a
      // file-listing + footer pass per micro-batch just to rebuild
      // state the driver already had. A restarted stream would
      // re-seed `acceptedState` from one read of the sink.
      // batchId-keyed idempotent body (r12, see BatchProcessors): a
      // retry overwrites its own batch_id directory instead of
      // double-appending, and the state fold applies once per batchId
      val proc = new DedupBatchProcessor(indexName, threshold, outPath, base.limit(0))
      // ascending-id chunks: the batch survivor rule is min-id per
      // content, so the stream must see smaller ids first for
      // first-accepted-wins to agree with it
      Replay.fold(Replay.Source("dedup", base, Seq("doc_id"), nChunks), ()) {
        (_, batch, id) => proc.process(batch, id)
      }
      // executor-side materialization, not a driver collect — see
      // StreamingIngest: the survivor ledger may be corpus-sized
      spark.read.parquet(outPath.toString).select("doc_id").orderBy("doc_id")
        .localCheckpoint(true)
    } finally {
      if (prebuiltIndex.isEmpty)
        graft.io.PersistedIndex.drop(spark, indexName,
          graft.ops.Dedup.BandIndexTables)
    }
  }

  private[streaming] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
