package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus-drift monitor — the live form of
  * [[graft.ops.Snapshot.driftReport]]: as a new corpus version
  * streams in (a recrawl landing over hours), maintain its unigram
  * counts INCREMENTALLY and report Jensen–Shannon divergence + vocab
  * churn against a static reference without ever re-scanning the
  * documents already ingested.
  *
  * The state is exactly [[graft.ops.Snapshot.tokenCounts]]'s frame:
  * vocab-bounded (token, count), folded per micro-batch by token-wise
  * sum (counts are mergeable, the same reason partial aggregation
  * works) and eagerly checkpointed so lineage stays flat across
  * batches. At any point the current state + the reference counts
  * yield the full drift report — the monitor a promotion gate polls
  * while a version is still landing. The final report over the whole
  * replay must equal the batch [[graft.ops.Snapshot.driftReport]]
  * bit-for-bit, which is what the DuckDB oracle checks.
  */
object StreamingDrift {

  /** Replay `incoming` as an ordered chunked file stream, folding
    * token counts per micro-batch; return the final drift report vs
    * `reference` (one row, the [[graft.ops.Snapshot.driftReport]]
    * schema).
    */
  def streamedDrift(reference: DataFrame, incoming: DataFrame,
                    idCol: String, textCol: String,
                    nChunks: Int = 3): DataFrame = {
    val spark = reference.sparkSession
    val base = incoming.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val counts = Replay.fold(Replay.Source("drift", base, Seq("doc_id"), nChunks),
        spark.range(0).select(lit("").as("tok"), lit(0L).as("c2")).limit(0)) {
      (counts, batch, _) =>
        counts.unionByName(graft.ops.Snapshot.tokenCounts(batch, "text", "c2"))
          .groupBy("tok").agg(sum("c2").as("c2"))
          .localCheckpoint()
    }
    graft.ops.Snapshot.driftFromCounts(
      graft.ops.Snapshot.tokenCounts(reference, textCol, "c1"), counts)
  }
}
