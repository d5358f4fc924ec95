package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuously-maintained per-group DISTINCT counts — the streaming
  * member of the maintained-state family
  * ([[StreamingStats]] = counts/sums/spread,
  * [[StreamingQuantiles]] = percentiles, this = cardinalities):
  * each micro-batch folds its portable-HLL register table
  * ([[graft.ops.Profiling.hllRegisters]]) into the persisted state by
  * bucketwise max. Registers are a max-monoid, so the maintained
  * table after ANY replay order is exactly the batch-computed
  * registers — the estimate finishes from state, the raw keys are
  * never revisited, and the corpus is never rescanned.
  *
  * Scale shape: per batch O(batch) register extraction + an
  * O(groups·2^b) merge; state is a groups·buckets-sized frame riding
  * as an eager checkpoint (the [[StreamingDedup]] accepted-state
  * pattern). The register internals are integer-exact (Σ2^(zr−M)),
  * so the final estimate is bit-identical to the batch oracle.
  */
object StreamingDistinct {

  /** Replay `rows` as an ordered chunked file stream, folding each
    * micro-batch's HLL registers into maintained state; returns the
    * final per-group estimates (groupCol, hll_est). Harness entry —
    * the foreachBatch body is the production path.
    */
  def maintainedDistinct(rows: DataFrame, groupCol: String, keyCol: String,
                         b: Int = 8, nChunks: Int = 3): DataFrame = {
    import graft.ops.Profiling.{hllEstimateFromRegisters, hllRegisters, maintainHllRegisters}
    val base = rows.select(col(groupCol).cast("string").as("g"),
      col(keyCol).cast("string").as("k"))
    val regs = Replay.fold(Replay.Source("distinct", base, Seq("g", "k"), nChunks),
        hllRegisters(base.limit(0), "g", "k", b)) { (regs, batch, _) =>
      maintainHllRegisters(regs, hllRegisters(batch, "g", "k", b)).localCheckpoint()
    }
    hllEstimateFromRegisters(regs, b).withColumnRenamed("g", groupCol)
  }
}
