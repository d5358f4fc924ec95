package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The persistence rules every index family shares: the MinHash band
  * index (`Dedup.buildBandIndex`), the inverted and trigram text
  * indexes (`TextIndex`, `TrigramIndex`), IVF
  * (`Similarity.buildIvfIndex`), IVF-PQ (`IvfPq`) and the graph index
  * (`GraphIndex`).
  *
  * An index `name` is a set of managed tables `<name>_<table>`:
  * bucketed tables written once by `Sources.writeBucketed` and grown
  * delta by delta with `Sources.appendBucketed`, plus the one-row
  * `<name>_meta` of build parameters that probes and appends validate
  * against. Each family owns its table layout, build algorithm and
  * probe plans; this object owns what they share: the `_meta` row, the
  * catalog as the one source of an append's bucket count, the
  * crash-safe rewrite and the drop. Maintenance is single-writer:
  * readers mid-query during a swap are not protected.
  */
object PersistedIndex {

  /** Write `row` (one row of build parameters) as `<name>_meta`. */
  def writeMeta(row: DataFrame, name: String): Unit =
    Sources.writeTable(row, s"${name}_meta")

  /** The one row of `<name>_meta`; any other row count is refused. */
  def meta(spark: SparkSession, name: String): Row = {
    val rows = spark.table(s"${name}_meta").collect()
    require(rows.length == 1, s"index $name: malformed ${name}_meta")
    rows(0)
  }

  /** Bucket count the catalog records for `table`. A table without a
    * bucket spec is refused: writing it under a guessed layout would
    * route rows to buckets the pruned probes never read.
    */
  def buckets(spark: SparkSession, table: String): Int =
    Sources.numBuckets(spark, table).getOrElse(throw new IllegalStateException(
      s"$table has no bucket spec in the catalog; refusing to write it under a guessed layout"))

  /** Replace bucketed `table` by `df` under its catalog bucket spec,
    * crash-safely: the fresh copy is written COMPLETELY, then swapped
    * in by rename-rename-drop, not drop-then-rename — a crash between
    * any two statements leaves both copies on disk under recoverable
    * names, where drop-first would lose the table name (and with it
    * the catalog's bucket spec) until a manual rename. `df` may read
    * `table` itself: it is written in full before the swap.
    */
  def replace(df: DataFrame, table: String, bucketCol: String): Unit = {
    val spark = df.sparkSession
    val tmp = s"${table}__new"
    val old = s"${table}__old"
    Sources.writeBucketed(df, tmp, bucketCol, buckets(spark, table))
    spark.sql(s"DROP TABLE IF EXISTS `$old`")
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$old`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$old`")
  }

  /** Compact a bucketed table in place down to ONE file per bucket,
    * WITHOUT a shuffle.
    *
    * Every `Sources.appendBucketed` delta adds a file per (write task,
    * bucket); after months of daily appends a bucket is hundreds of
    * small files and every probe pays their open/footer cost. The
    * rewrite forces a BUCKETED scan of the source (autoBucketedScan
    * off — by default the planner both disables the bucketed read
    * for a scan with no join to feed AND drops any explicit
    * repartition as "redundant" against the catalog bucket spec,
    * leaving misaligned file-split partitions), so each read task
    * holds exactly one bucket's rows end-to-end and the bucketed
    * write emits exactly one file per bucket: a pure per-bucket file
    * merge, no exchange at any scale, swapped in by [[replace]].
    * Bucket count, sort order, and therefore every exchange-free
    * probe plan are unchanged (spec'd: probe results identical
    * before/after, file count drops to ≤ buckets).
    */
  def compact(spark: SparkSession, table: String, bucketCol: String): Unit = {
    val scanConf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = spark.conf.get(scanConf)
    try {
      spark.conf.set(scanConf, "false")
      replace(spark.table(table), table, bucketCol)
    } finally spark.conf.set(scanConf, prior)
  }

  /** Drop the tables `<name>_<t>` of an index, those that exist. */
  def drop(spark: SparkSession, name: String, tables: Seq[String]): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${name}_$t`"))
}
