package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming GRAPH-INDEX maintenance (r15 — the r14 verdict's missing
  * #5, the last index family without a streaming fold): vector deltas
  * arrive in micro-batches and each batch folds into the PERSISTED
  * graph-ANN index inside `foreachBatch`
  * ([[graft.ops.GraphIndex.addToGraphIndex]] — append-only overlay
  * writes, O(batch·k + touched·k) per fold, history never rewritten;
  * the engine serializes micro-batches, satisfying the fold's
  * single-writer contract). Serving then probes the folded index —
  * the graph mirror of [[StreamingAnn]]'s serve-per-batch and
  * [[StreamingDedup]]'s maintain-per-batch.
  *
  * IDEMPOTENT under at-least-once delivery (the 40i foreachBatch
  * contract): the fold drops ids already present in `_vecs`, so a
  * retried batch re-folds to a no-op — no ledger needed.
  *
  * Replay shape ([[Replay]]): the delta replays as 2 id-ordered
  * chunks, 2 real micro-batches on a cloned stream session; once they
  * are folded, the CALLER serves against the index by name.
  */
object StreamingGraphIndex {

  def streamedGraphMaintain(delta: DataFrame, indexName: String,
                            idCol: String, vecCol: String): Unit = {
    Replay.fold(Replay.Source("graph", delta, Seq(idCol), 2), ()) { (_, batch, _) =>
      graft.ops.GraphIndex.addToGraphIndex(batch.sparkSession, indexName, batch, idCol, vecCol)
    }
  }
}
