package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuously-maintained per-group QUANTILES — the streaming form
  * of [[graft.ops.QuantileSketch]] maintenance and the percentile
  * member of the maintained-state family ([[StreamingStats]] =
  * counts/sums/spread, [[StreamingDistinct]] = cardinalities): each
  * micro-batch's log-histogram sketch folds into persisted state by
  * elementwise integer add, so "p95 document length right now" reads
  * from a groups·buckets-sized frame without ever rescanning the
  * corpus — the incremental-median story (n, s, s2) cannot give.
  *
  * The sketch merge is an exact commutative monoid (integer adds),
  * so the maintained state after any replay order is EXACTLY the
  * batch-built sketch and the quantile estimates are bit-identical
  * to the batch oracle.
  */
object StreamingQuantiles {

  /** Replay `rows` as an ordered chunked file stream, folding each
    * micro-batch's sketch into maintained state; returns the final
    * per-group estimates (groupCol, q_num, q_den, n, est). Harness
    * entry — the foreachBatch body is the production path.
    */
  def maintainedQuantiles(rows: DataFrame, groupCol: String,
                          valueCol: String, qs: Seq[(Int, Int)],
                          m: Int = graft.ops.QuantileSketch.MantissaBits,
                          nChunks: Int = 3): DataFrame = {
    import graft.ops.QuantileSketch.{mergeSketches, quantiles, sketch}
    val base = rows.select(col(groupCol).cast("string").as("g"),
      col(valueCol).cast("long").as("v"))
    val state = Replay.fold(Replay.Source("quantiles", base, Seq("g", "v"), nChunks),
        sketch(base.limit(0), "g", "v", m)) { (state, batch, _) =>
      mergeSketches(state, sketch(batch, "g", "v", m), "g").localCheckpoint()
    }
    quantiles(state, "g", qs, m).withColumnRenamed("g", groupCol)
  }
}
