package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * plan evidence the optimization rounds commit under `plans/rNN/`.
  *
  *   sbt "runMain graft.ExplainDump plans/r16 before q_a,q_b [sfDir]"
  *
  * Writes `<outDir>/<query>_<tag>.txt` per query. The session is
  * Bench's (`LocalSession`), so the dumped plan is the timed plan's
  * initial form; note AQE finalizes at runtime — exchange counts here
  * are the static plan's.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val spark = LocalSession(LocalSession.cores(8), logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[explain] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: $e")
      }
    }
    spark.stop()
  }
}
