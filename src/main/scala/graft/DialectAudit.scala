package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Mechanical SQL-dialect bit-invariance audit.
  *
  * Runs every `SparkEntry.queries` entry TWICE — once under
  * `spark.sql.ansi.enabled=true` (the Spark 4 default and the pinned
  * project dialect) and once under `false` (the legacy dialect) — and
  * compares an order-independent content hash of the two results.
  * This turns the "bit-identical under either SQL dialect mode" claim
  * from prose into an artifact: the committed `DIALECT_AUDIT.md`.
  *
  * Why this exists: in round 9 a `coalesce(size(col), 0)` expression
  * read -1 under ANSI-off (`size(NULL)` is -1 there, so the coalesce
  * never fired) while specs — which ran ANSI-on, where `size(NULL)` IS
  * NULL — stayed green. The audit would have caught it; to prove the
  * detector actually fires, a deliberate red probe with exactly that
  * bug ships inside the audit and MUST be reported divergent (the
  * audit fails loudly if the probe reads equal).
  *
  * Hash: per query, columns sorted by name, each row serialized with
  * `to_json(struct(...))`, hashed with xxhash64, then SUM + COUNT
  * aggregated — row-order-independent, schema-order-independent, and
  * computed entirely on executors (no driver-side collect of data).
  * The DataFrame is CONSTRUCTED after the mode switch, because
  * dialect-sensitive expressions (e.g. `Size.legacySizeOfNull`) read
  * SQLConf at construction time, not at execution time.
  *
  *   sbt "runMain graft.DialectAudit /root/testdata/sf0.01 DIALECT_AUDIT.md"
  */
object DialectAudit {

  /** Order-independent (sum-of-row-hashes, row count) fingerprint.
    * The sum runs in decimal(38,0) — a long sum of ~9e18-magnitude
    * hashes overflows (and under ANSI-on, throws) after a handful of
    * rows; 38 digits absorbs 1e19 rows' worth. */
  def fingerprint(df: DataFrame): (String, Long) = {
    val cols = df.columns.sorted.map(col)
    val row = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")).as("s"), count(lit(1)).as("n"))
      .collect()(0)
    (if (row.isNullAt(0)) "0" else row.getDecimal(0).toBigInteger.toString,
      row.getLong(1))
  }

  /** The deliberate ANSI-sensitivity probe: `coalesce(size(x), 0)`
    * over a NULL array reads 0 under ANSI-on but -1 under ANSI-off —
    * the exact round-9 bug shape. Must diverge, or the audit is not
    * detecting anything. */
  def redProbe(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, Some(Seq(1, 2))), (2L, None)).toDF("id", "xs")
      .select(col("id"), coalesce(size(col("xs")), lit(0)).as("n"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else "DIALECT_AUDIT.md"
    val spark = LocalSession(LocalSession.cores(8), logLevel = "ERROR")

    val only = sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    def keep(name: String) = only.forall(_.contains(name))

    def inMode[A](ansi: Boolean)(body: => A): A = {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try body finally spark.conf.set("spark.sql.ansi.enabled", "true")
    }

    case class RowResult(name: String, on: Option[(String, Long)],
                         off: Option[(String, Long)], err: Option[String]) {
      def equalModes: Boolean = err.isEmpty && on == off
    }

    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => keep(kv._1))
    val results = queries.map { case (name, fn) =>
      try {
        // construct AND execute per mode, so construction-time conf
        // reads (Size.legacySizeOfNull et al.) see the intended mode
        val onFp = inMode(ansi = true) { fingerprint(fn(spark, sfDir)) }
        val offFp = inMode(ansi = false) { fingerprint(fn(spark, sfDir)) }
        RowResult(name, Some(onFp), Some(offFp), None)
      } catch { case e: Throwable =>
        RowResult(name, None, None, Some(e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").take(160)))
      }
    }

    // the probe must DIVERGE — a detector that can't see the planted
    // bug proves nothing about the 181 queries it cleared
    val probeOn = inMode(ansi = true) { fingerprint(redProbe(spark)) }
    val probeOff = inMode(ansi = false) { fingerprint(redProbe(spark)) }
    val probeCaught = probeOn != probeOff

    val divergent = results.filter(r => r.err.isEmpty && !r.equalModes)
    val errored = results.filter(_.err.nonEmpty)
    val sb = new StringBuilder
    sb ++= "# DIALECT_AUDIT — ANSI-on vs ANSI-off bit-invariance\n\n"
    sb ++= s"Data: `$sfDir`. Hash: per query, columns sorted by name, " +
      "rows serialized with to_json(struct(..)), xxhash64, sum+count " +
      "(order-independent).\n\n"
    sb ++= s"- queries audited: ${results.size}\n"
    sb ++= s"- equal in both modes: ${results.count(_.equalModes)}\n"
    sb ++= s"- divergent: ${divergent.size}" +
      (if (divergent.nonEmpty) divergent.map(_.name).mkString(" (", ", ", ")") else "") + "\n"
    sb ++= s"- errored: ${errored.size}" +
      (if (errored.nonEmpty) errored.map(r => s"${r.name}: ${r.err.get}").mkString(" (", "; ", ")") else "") + "\n"
    sb ++= s"- red probe (deliberate `coalesce(size(NULL),0)`): " +
      (if (probeCaught) s"CAUGHT — on=$probeOn off=$probeOff (detector fires)"
       else "MISSED — AUDIT INVALID") + "\n\n"
    sb ++= "| query | ansi-on (hash, rows) | ansi-off (hash, rows) | equal |\n"
    sb ++= "|---|---|---|---|\n"
    results.foreach { r =>
      val onS = r.on.map { case (h, n) => s"$h, $n" }.getOrElse("—")
      val offS = r.off.map { case (h, n) => s"$h, $n" }.getOrElse("—")
      val eq = if (r.err.nonEmpty) s"ERR: ${r.err.get}"
               else if (r.equalModes) "yes" else "**NO**"
      sb ++= s"| ${r.name} | $onS | $offS | $eq |\n"
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"[dialect-audit] ${results.count(_.equalModes)}/${results.size} equal, " +
      s"${divergent.size} divergent, ${errored.size} errored, " +
      s"probe ${if (probeCaught) "caught" else "MISSED"} -> $outPath")
    spark.stop()
    if (!probeCaught || divergent.nonEmpty || errored.nonEmpty) sys.exit(1)
  }
}
