package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sql = spark.sqlContext

  /** `body` with the session conf keys in `conf` set; afterwards each
    * key is back at its previous value, or unset if it had none.
    */
  def withConf[A](conf: (String, String)*)(body: => A): A = {
    val previous = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // ONE SQL dialect across specs, Verify, Bench, PlanAudit: ANSI
      // on (the Spark 4 default) — pinned explicitly after the r9
      // incident where specs ran ANSI-on while Verify defaulted off
      // and a size(NULL) divergence passed specs but failed the
      // driver. Mode-sensitivity itself is audited by DialectAudit.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // subset co-partitioning ON (r15): the persisted indexes are
      // bucketed on ONE key (bkey/cell/id/src) while some probe joins
      // carry extra equi-keys; with the Spark default (true) the
      // planner refuses the single-key co-partition and RESHUFFLES the
      // bucketed index side on every probe (caught by the r15 real
      // plan walk - the old inputPlan-based spec was vacuous)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
