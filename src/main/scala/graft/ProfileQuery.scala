package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Measurement tool (r16, guide §1 — cf. ExplainDump): run one
  * declared query through the bench's exact session and print a
  * per-job/per-stage time decomposition (job wall + inter-job driver
  * gaps + per-stage executor run/cpu/gc/rows). This is how the
  * round-16 fit-query analysis was produced (OPTIMIZATION_r16.md O7:
  * the always-cold-codegen finding). `GRAFT_PROFILE_PLANS=1` also
  * dumps executed plans of executions 3-8;
  * `SPARK_GRAFT_EXTRA_CONF=k=v,...` injects session conf for A/Bs.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(",")).map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
    val spark = LocalSession(LocalSession.cores(32), extraConf = extraConf)
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }
    for (w <- Seq("q1_agg", "q_dt_fit_predict", "q_text_quality"))
      evaluate(SparkEntry.queries(w)(spark, sfDir))

    case class J(id: Int, site: String, var t0: Long = 0L, var ms: Long = -1L)
    val jobs = mutable.LinkedHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim)
          .getOrElse("?")
        jobs(e.jobId) = J(e.jobId, site, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(j => j.ms = e.time - j.t0)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        println(f"    [stage ${si.stageId}%4d] tasks=${si.numTasks}%3d " +
          f"run=${m.executorRunTime}%6d ms cpu=${m.executorCpuTime / 1000000}%6d ms " +
          f"deser=${m.executorDeserializeTime}%5d ms gc=${m.jvmGCTime}%5d ms " +
          f"rows=${m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead}%8d ${si.name.take(60)}")
      }
    })
    if (sys.env.contains("GRAFT_PROFILE_PLANS")) {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                                 d: Long): Unit = {
            val i = counter.incrementAndGet()
            if (i >= 3 && i <= 8)
              println(s"==== execution $i ($f, ${d / 1000000} ms) ====\n" +
                qe.executedPlan.treeString.linesIterator.take(45).mkString("\n"))
          }
          override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                                 e: Exception): Unit = {}
        })
    }
    val fn = SparkEntry.queries(name)
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    evaluate(fn(spark, sfDir))
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    jobs.synchronized {
      val bySite = jobs.values.groupBy(_.site).map { case (s, js) =>
        (s, js.size, js.map(_.ms).sum)
      }.toSeq.sortBy(-_._3)
      println(f"PROFILE $name total=$total%.2f s, jobs=${jobs.size}, jobtime=${jobs.values.map(_.ms).sum / 1000.0}%.2f s")
      bySite.foreach { case (s, n, ms) =>
        println(f"  ${ms / 1000.0}%8.2f s  n=$n%-4d $s")
      }
      println("  --- sequential job list (first 100, gap = driver time since prior job end) ---")
      var prevEnd = 0L
      jobs.values.take(100).foreach { j =>
        val gap = if (prevEnd == 0L) 0L else j.t0 - prevEnd
        prevEnd = j.t0 + j.ms
        println(f"   job ${j.id}%4d ${j.ms}%6d ms  gap=$gap%6d ms  ${j.site}")
      }
    }
    spark.stop()
  }
}
