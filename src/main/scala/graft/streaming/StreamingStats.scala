package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuously-maintained corpus statistics — the streaming form of
  * [[graft.ops.Merge.maintainGroupStats]]: each micro-batch's group
  * aggregates fold into the persisted (group, n, sum) stats table
  * with one groups-sized merge, so the dashboard number is always
  * current and the corpus is NEVER rescanned. Because counts and
  * sums are a commutative monoid, the maintained table after any
  * replay order is EXACTLY the batch recompute — which is what the
  * oracle checks.
  *
  * Scale shape: per batch, one map-side-combined aggregate over the
  * batch (O(batch)) plus a full-outer join against O(groups) state;
  * state rides as an eagerly checkpointed groups-sized frame (the
  * [[StreamingDedup]] accepted-state pattern). No windows, no
  * watermarks — additive state has no lateness semantics to manage.
  */
object StreamingStats {

  /** Replay `rows` as an ordered chunked file stream, folding each
    * micro-batch into the maintained stats; returns the final
    * (groupCol, n, s) table. Harness entry — the foreachBatch body
    * is the production path.
    */
  def maintainedStats(rows: DataFrame, groupCol: String, valueCol: String,
                      nChunks: Int = 3): DataFrame = {
    val base = rows.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    Replay.fold(Replay.Source("stats", base, Seq("g", "v"), nChunks),
        graft.ops.Merge.groupStats(base.limit(0), "g", "v")) { (stats, batch, _) =>
      graft.ops.Merge.maintainGroupStats(stats, batch, "g", "v").localCheckpoint()
    }.select(col("g").as(groupCol), col("n"), col("s"), col("s2"), col("mn"), col("mx"))
  }
}
