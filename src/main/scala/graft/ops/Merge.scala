package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upsert-merge — the lakehouse `MERGE INTO` shape for keyed corpus
  * tables: matched keys take the delta row, unmatched corpus rows
  * pass through, brand-new delta keys append. This is the daily
  * re-crawl/correction path of a training corpus (docs get re-fetched
  * and re-scored; the corpus table must absorb them without a
  * rewrite-the-world job).
  *
  * Scale design: the corpus is the 100 TB side and is NEVER
  * shuffled — the only corpus-side operation is a `left_anti` join
  * against the delta's KEY COLUMN. When the delta is small (the
  * steady state: one day of updates against years of corpus) the key
  * set is broadcast, so the whole merge is one corpus scan + a
  * union. Past `maxBroadcastKeys` the anti-join falls back to a
  * shuffle on the key — the same data-dependent gate as
  * `Similarity.lshTopK`. The count that decides the gate only scans
  * the (small) delta.
  *
  * Contract: delta keys must be unique (two delta rows for one key
  * would both survive). That is the caller's invariant — the
  * standard MERGE "multiple matches" error — and is cheap to assert
  * upstream with `groupBy(key).count.filter(n>1)` when in doubt; this
  * operator does not force an extra aggregate over every delta on
  * the hot path.
  *
  * The result preserves no physical layout by itself; write it back
  * with the bucketed write-then-swap used by the index families
  * (`graft.io.PersistedIndex.replace`; `PersistedIndex.compact`
  * reconsolidates the small files appends accumulate).
  */
object Merge {

  def upsert(corpus: DataFrame, delta: DataFrame, key: String,
             maxBroadcastKeys: Long = 2000000L): DataFrame = {
    // materialize the delta ONCE before the gate count: without it
    // the delta plan executes twice (count + merge) — doubling an
    // expensive delta pipeline — and a non-deterministic delta
    // source could be gated on a different row set than the one
    // merged (the lshTopK gate pattern). Cluster caveat: this is a
    // NON-RELIABLE checkpoint (executor-local blocks, freed only at
    // GC) — fine for the single-node target; a multi-executor
    // deployment that can lose executors, or a driver looping over
    // many upserts, should persist the delta to a table instead and
    // merge from that.
    val d = delta.localCheckpoint(true)
    val keys = d.select(key)
    val antiSide =
      if (d.count() <= maxBroadcastKeys) broadcast(keys) else keys
    corpus.join(antiSide, Seq(key), "left_anti").unionByName(d)
  }

  /** Full MERGE: upsert + the WHEN MATCHED THEN DELETE clause. Corpus
    * rows whose key appears in `deleteKeys` are dropped; matched
    * `delta` keys take the delta row; unmatched corpus rows pass
    * through; brand-new delta keys append — the GDPR-erasure /
    * takedown path alongside the daily re-crawl.
    *
    * Scale shape is IDENTICAL to [[upsert]]: the two key sets union
    * into ONE anti-join side, so the 100 TB corpus is still scanned
    * once and never shuffled (broadcast under the same
    * `maxBroadcastKeys` gate, counted over the small side only). A
    * key in both `delta` and `deleteKeys` is a caller contract
    * violation (the standard MERGE multiple-clause-match error) —
    * here the delete wins is NOT silently chosen; we fail fast, since
    * silently resurrecting a deleted key (or silently dropping an
    * update) is the worst outcome for an erasure pipeline.
    */
  def upsertDelete(corpus: DataFrame, delta: DataFrame,
                   deleteKeys: DataFrame, key: String,
                   maxBroadcastKeys: Long = 2000000L): DataFrame = {
    val d = delta.localCheckpoint(true)
    // deleteKeys column resolution is by NAME when the merge key is
    // present; a multi-column frame without it is ambiguous (which
    // column is the key?) — fail fast rather than silently erasing by
    // whatever happens to be first, the worst bug a GDPR path can have
    val delCol =
      if (deleteKeys.columns.contains(key)) col(key)
      else {
        require(deleteKeys.columns.length == 1,
          s"upsertDelete: deleteKeys has columns " +
            s"${deleteKeys.columns.mkString("[", ", ", "]")} — none named " +
            s"'$key'; pass a single-column frame or name the key column")
        col(deleteKeys.columns.head)
      }
    val del = deleteKeys.select(delCol.as(key)).localCheckpoint(true)
    require(d.select(key).join(del, Seq(key), "left_semi").isEmpty,
      "upsertDelete: a key appears in BOTH delta and deleteKeys — " +
        "ambiguous MERGE clauses; resolve upstream")
    val gone = d.select(key).unionByName(del)
    val antiSide =
      if (d.count() + del.count() <= maxBroadcastKeys) broadcast(gone)
      else gone
    corpus.join(antiSide, Seq(key), "left_anti").unionByName(d)
  }

  /** Incremental maintenance of per-group (n, sum, sumsq, min, max)
    * statistics — the nightly-stats answer that never rescans the
    * corpus: fold a delta's group aggregates into the PERSISTED stats
    * table with a full-outer merge. n/s/s2 are additive and min/max a
    * commutative monoid under least/greatest, so maintained stats are
    * EXACTLY the full recompute — not an approximation — at cost
    * O(delta + groups) instead of O(corpus). Means, variances, and
    * coefficients of variation derive from (n, s, s2) at read time;
    * incremental QUANTILES are [[QuantileSketch]]'s job (the same
    * fold-a-delta lifecycle over mergeable histogram state).
    * Deletions are delta rows with negative contribution for n/s/s2 —
    * min/max do NOT support retraction (a monoid, not a group);
    * deleting an extremum requires a rebuild of the affected groups.
    *
    * `stats` schema: (group, n, s, s2, mn, mx) — the output of a
    * previous call or of `groupStats` below. One aggregate over the
    * delta, one groups-sized join; the corpus is never touched.
    * Values fold as longs: s2 is exact while Σv² < 2⁶³ (values to
    * ~3·10⁵ with 10⁸ rows per group) — scale wider values down or
    * shard groups before that.
    */
  def maintainGroupStats(stats: DataFrame, delta: DataFrame,
                         groupCol: String, valueCol: String): DataFrame =
    stats.join(groupStats(delta, groupCol, valueCol)
        .withColumnsRenamed(Map("n" -> "dn", "s" -> "ds", "s2" -> "ds2",
          "mn" -> "dmn", "mx" -> "dmx")),
      Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("s"),
        (coalesce(col("s2"), lit(0L)) + coalesce(col("ds2"), lit(0L))).as("s2"),
        least(col("mn"), col("dmn")).as("mn"),
        greatest(col("mx"), col("dmx")).as("mx"))

  /** The bootstrap aggregate for [[maintainGroupStats]]. Values fold
    * as exact longs, so the value column MUST already be integral —
    * a silent cast("long") would truncate 2.7 to 2 and change a
    * double-valued caller's stats without a peep. Fail fast instead;
    * a fractional caller decides its own rounding (or scales to
    * micro-units) upstream.
    */
  def groupStats(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = df.schema(valueCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"groupStats folds exact longs; value column '$valueCol' is $dt — " +
        "round or scale to an integral type explicitly upstream")
    val v = col(valueCol).cast("long")
    df.groupBy(col(groupCol))
      .agg(count(v).as("n"), coalesce(sum(v), lit(0L)).as("s"),
        coalesce(sum(v * v), lit(0L)).as("s2"),
        min(v).as("mn"), max(v).as("mx"))
  }
}
