package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ANN SERVING (r13, oracles the §2.7 spec-only row): query
  * vectors arrive in micro-batches and every batch is answered inside
  * `foreachBatch` against the PERSISTED int8 IVF index — the
  * online-serving composition of the index lifecycle: build once,
  * probe per batch with zero index-side exchanges, the probe cost per
  * batch O(batch × probed cells), never a corpus scan.
  *
  * Replay shape ([[Replay]]): the query set replays as 2 qid-ordered
  * chunks, 2 real micro-batches on a cloned stream session; per batch the
  * answers write to a batchId-keyed parquet sink (idempotent under
  * retry — a replayed batch overwrites its own directory; answers
  * never transit the driver) and the replay returns the read-back
  * union, executor-materialized. At all-cells probe + corpus-covering
  * overfetch the index path is EXACT, so the whole replay is
  * oracle-checkable against brute-force cosine top-k — the
  * q_ann_filtered argument, streamed.
  */
object StreamingAnn {

  def streamedAnnServe(emb: DataFrame, indexName: String,
                       nQueries: Int, k: Int, nprobe: Int,
                       overfetch: Int): DataFrame = {
    val spark = emb.sparkSession
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Replay.withDir("ann-answers") { outPath =>
      Replay.fold(Replay.Source("ann", queries, Seq("qid"), 2), ()) { (_, batch, batchId) =>
        // batchId-keyed idempotent sink: answers land on the
        // executors' writers, never in a driver buffer — at serving
        // scale the answer stream is unbounded
        graft.ops.Similarity.ivfTopKAgainstIndex(batch.sparkSession, indexName,
            batch, "qid", "qv", k, nprobe = nprobe, overfetch = overfetch)
          .write.mode("overwrite")
          .parquet(BatchProcessors.batchDir(outPath, batchId))
      }
      // materialize before the temp sink is deleted (see
      // StreamingIngest — executor-side, parallel)
      spark.read.parquet(outPath.toString)
        .select(col("qid"), col("id"), col("rank"), round(col("cos"), 6).as("cos"))
        .orderBy("qid", "rank")
        .localCheckpoint(true)
    }
  }
}
