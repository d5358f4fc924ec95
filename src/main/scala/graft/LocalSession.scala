package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of every command-line harness — Bench,
  * Verify, ProfileQuery, ExplainDump, PlanAudit, DialectAudit and
  * ScaleUp — so the timed, verified, profiled and audited plans run
  * under one set of pins. Pins:
  *
  *  - shuffle partitions = cores;
  *  - session time zone UTC: the NTZ timestamp normalization in
  *    Tables.events interprets naive values in the session time zone
  *    and the DuckDB oracle reads them naively, so both sides must
  *    agree on UTC;
  *  - ANSI on, the one SQL dialect everywhere (the Spark 4 default).
  *    An unpinned harness once ran ANSI-off, where `size(NULL)` = -1,
  *    and a query passed the specs but failed the driver.
  *    SPARK_GRAFT_ANSI=false opts into the legacy mode for A/B audits;
  *    graft.DialectAudit hash-compares the two modes per query;
  *  - subset co-partitioning: the persisted indexes are bucketed on ONE
  *    key (bkey/cell/id/src) while some probe joins carry extra
  *    equi-keys; with the Spark default (true) the planner refuses the
  *    single-key co-partition and reshuffles the bucketed index side on
  *    every probe. SPARK_GRAFT_COPART=true restores the default for
  *    A/B runs;
  *  - a 4096-entry generated-class cache (the static default is 100):
  *    one fit alone generates more than 100 distinct classes, so with
  *    the default a repeated query recompiles and re-JITs every pass
  *    (see OPTIMIZATION_r16.md). Cost: ~50 KB of bytecode per class.
  *    SPARK_GRAFT_CODEGEN_CACHE=100 restores the default;
  *  - no UI.
  */
object LocalSession {

  /** SPARK_GRAFT_CPUS, or `default`. */
  def cores(default: Int): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  def apply(cores: String, logLevel: String = "WARN",
            extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val env = sys.env
    val pinned = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", env.getOrElse("SPARK_GRAFT_ANSI", "true"))
      .config("spark.sql.requireAllClusterKeysForCoPartition",
        env.getOrElse("SPARK_GRAFT_COPART", "false"))
      .config("spark.sql.codegen.cache.maxEntries",
        env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(pinned) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
