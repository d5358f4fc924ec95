package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink helpers: multi-format IO and bucketed tables.
  *
  * Bucketing is the 100 TB co-location tool: two tables bucketed by
  * the same key into the same bucket count join WITHOUT a shuffle —
  * the exchange happens once at write time instead of on every query.
  */
object Sources {

  val Formats: Seq[String] = Seq("parquet", "orc", "json", "csv")

  /** Write in any supported format (csv gets a header). */
  def write(df: DataFrame, path: String, format: String,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  /** Read any supported format; csv/json take an explicit schema so
    * types round-trip exactly (inference is a correctness trap).
    */
  def read(spark: SparkSession, path: String, format: String,
           schema: Option[StructType] = None): DataFrame = {
    var r = spark.read.format(format)
    schema.foreach(s => r = r.schema(s))
    if (format == "csv") r = r.option("header", "true")
    r.load(path)
  }

  /** Write as a bucketed managed table (co-located by `bucketCol`).
    * Drops any previous incarnation first, INCLUDING a stale
    * warehouse directory left by a prior session: the default
    * in-memory catalog forgets its tables on restart but the
    * warehouse dir persists, and `saveAsTable(Overwrite)` then fails
    * with LOCATION_ALREADY_EXISTS instead of overwriting.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append to an EXISTING bucketed table written by `writeBucketed`
    * — the delta-ingest path for persisted indexes: new rows land in
    * the same bucket layout (`buckets` from `PersistedIndex.buckets`;
    * Spark validates the spec against the catalog), so readers keep
    * their exchange-free joins while the index grows file-by-file
    * instead of being rebuilt.
    */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String,
                     buckets: Int): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Bucket count of a bucketed catalog table (None if unbucketed). */
  def numBuckets(spark: SparkSession, table: String): Option[Int] = {
    import org.apache.spark.sql.functions.col
    spark.sql(s"DESCRIBE EXTENDED `$table`")
      .filter(col("col_name") === "Num Buckets")
      .collect().headOption.map(_.getString(1).trim.toInt)
  }

  /** Compact a directory-partitioned parquet SINK (e.g. a streaming
    * foreachBatch sink's `root/batch_id=<id>/` directories, one per
    * micro-batch) down to one file per partition directory (r13):
    * long-running streams accumulate a directory per micro-batch,
    * each holding one file per writing task, and small-file count —
    * not data volume — becomes the read-side cost. Shuffle-free: each
    * partition directory is read and `coalesce(1)`-rewritten
    * independently (a narrow dependency; no exchange anywhere), so
    * compaction cost is one pass over the sink, partition by
    * partition. Replayed reads are row-identical: the directory name
    * (the partition column) and row contents are untouched.
    *
    * Crash-safe by the `PersistedIndex.replace` discipline — write to a
    * `_`-prefixed temp dir (hidden from Spark/Hadoop readers, so a
    * crash mid-compaction never corrupts the partition-value parse of
    * the root), rename-rename-delete. Skips directories already at
    * one data file; returns the number of directories compacted.
    */
  def compactPartitionedDir(spark: SparkSession, root: String): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0
    val parts = fs.listStatus(rootPath)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    var compacted = 0
    parts.foreach { p =>
      val dir = p.getPath
      val dataFiles = fs.listStatus(dir).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if (dataFiles.length > 1) {
        // temp names carry NO '=': partition discovery parses any
        // `name=value` directory as a partition column (even
        // underscore-prefixed), so a crash leftover with '=' would
        // poison the root's partition inference
        val safe = dir.getName.replace('=', '.')
        val tmp = new org.apache.hadoop.fs.Path(dir.getParent,
          s"_compact_$safe")
        val old = new org.apache.hadoop.fs.Path(dir.getParent,
          s"_old_$safe")
        spark.read.parquet(dir.toString).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        fs.delete(old, true)
        require(fs.rename(dir, old), s"compact: could not stage $dir")
        require(fs.rename(tmp, dir), s"compact: could not promote $tmp")
        fs.delete(old, true)
        compacted += 1
      }
    }
    compacted
  }

  /** Write a small unbucketed managed table (index metadata and the
    * like), with the same drop-stale-incarnation hygiene as
    * `writeBucketed`.
    */
  def writeTable(df: DataFrame, table: String): Unit = {
    dropWithLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** Drop `table` and any stale warehouse directory of its name. */
  private def dropWithLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Hive-style partitioned write — the 100 TB layout tool for
    * partition PRUNING: a reader filtering on `partitionCols` lists
    * and reads only the matching directories (the scan shows
    * `PartitionFilters`, and non-matching files are never opened).
    * Choose low-cardinality columns (day, source, split); combine
    * with `writeBucketed` inside partitions when co-located joins are
    * also needed.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
