package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** One benchmark process. Builds the session with the pins graft.Bench
  * uses, warms up on queries outside every workload, then runs
  * `passes` passes over a fixed query list. Each query's output is
  * written as parquet (that write is the timed materialization) and its
  * oracle SQL is read after the query, so fitted models are rendered.
  * Everything measured goes to `out/result.json`; run.py checks the
  * outputs and derives the metrics.
  *
  * Arguments are key=value: data, out, queries, warmup, warmupData,
  * passes, cores, trace. With trace=1 the listeners of [[Tracer]] record every pass.
  */
object Driver {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val data = opt("data")
    val out = opt("out")
    val queries = opt("queries").split(",").toSeq
    val warmup = opt("warmup").split(",").filter(_.nonEmpty).toSeq
    val passes = opt("passes").toInt
    val cores = opt("cores")
    val traced = opt("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      // persisted indexes and shuffle files stay inside this run's
      // directory, so every process starts with an empty warehouse
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()

    for (w <- warmup) SparkEntry.queries(w)(spark, opt("warmupData")).queryExecution.toRdd.count()
    val warmedMs = System.currentTimeMillis()
    settle()
    val readyMs = System.currentTimeMillis()

    val tracer = new Tracer(spark)
    if (traced) tracer.attach()
    val runs = mutable.ArrayBuffer[String]()
    for (pass <- 0 until passes) {
      if (pass > 0) settle()
      for (q <- queries) {
        spark.catalog.clearCache()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val ruleNs0 = RuleExecutor.getCurrentMetrics().time
        tracer.current = s"$q#$pass"
        val path = s"$out/result/$pass/$q"
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val error =
          try { SparkEntry.queries(q)(spark, data).write.parquet(path); None }
          catch { case NonFatal(e) => Some(e.toString) }
        val wallNs = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        if (traced) ListenerBus.drain(spark.sparkContext)
        val oracle = if (error.isEmpty) SparkEntry.oracleSql.get(q) else None
        runs += Json.obj(
          "query" -> Json.str(q), "pass" -> pass.toString,
          "start_ms" -> startMs.toString, "end_ms" -> endMs.toString,
          "wall_ns" -> wallNs.toString,
          "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toString,
          "compile_ns" -> (CodeGenerator.compileTime - compileNs0).toString,
          "rule_ns" -> (RuleExecutor.getCurrentMetrics().time - ruleNs0).toString,
          "error" -> error.map(Json.str).getOrElse("null"),
          "oracle" -> oracle.map(Json.str).getOrElse("null"),
          "output" -> Json.str(path))
      }
    }

    val body = Json.obj(
      "session_ms" -> sessionMs.toString,
      "warmed_ms" -> warmedMs.toString,
      "ready_ms" -> readyMs.toString,
      "peak_rss_kb" -> peakRssKb.toString,
      "runs" -> runs.mkString("[", ",", "]"),
      "jobs" -> tracer.jobs.values.map(_.json).mkString("[", ",", "]"),
      "stages" -> tracer.stages.mkString("[", ",", "]"),
      "executions" -> tracer.executions.mkString("[", ",", "]"))
    spark.stop()
    Files.writeString(Paths.get(s"$out/result.json"), body)
  }

  /** Lets the previous pass's garbage and JIT backlog clear before a
    * timed pass: a full GC, then wait until the JIT compilers have been
    * idle for half a second (at most 5 s). */
  private def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + 5000
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
  }

  /** Resident-set high-water mark of this process (Linux VmHWM). */
  private def peakRssKb: Long = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}

/** Records Spark jobs, stages and query executions while attached.
  * Jobs and stages carry their own event times, so run.py assigns them
  * to queries by time; executions carry the query that was running,
  * because the bus is drained before the next query starts.
  *
  * A job's `site` is the innermost graft (or benchmark) stack frame that
  * caused it. Adaptive execution submits most SQL jobs from a thread
  * pool, so for those the frame comes from the SQL execution's call
  * site rather than from the job's own. */
final class Tracer(spark: SparkSession) {
  final class Job(val id: Int, val startMs: Long, val site: String,
                  val stageIds: Seq[Int]) {
    var endMs: Long = -1L
    def json: String = Json.obj(
      "id" -> id.toString, "start_ms" -> startMs.toString,
      "end_ms" -> endMs.toString, "site" -> Json.str(site),
      "stages" -> stageIds.mkString("[", ",", "]"))
  }

  @volatile var current: String = ""
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.ArrayBuffer[String]()
  val executions = mutable.ArrayBuffer[String]()
  private val sqlSites = mutable.Map[Long, String]()

  private def graftFrame(callSite: String): String =
    callSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench.")).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSites(s.executionId) = graftFrame(s.details)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val own = if (e.stageInfos.isEmpty) "" else graftFrame(e.stageInfos.maxBy(_.stageId).details)
      val sql = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSites.get(id.toLong)).filter(_.nonEmpty)
      jobs(e.jobId) = new Job(e.jobId, e.time, sql.getOrElse(own), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += Json.obj(
        "id" -> si.stageId.toString,
        "submit_ms" -> si.submissionTime.getOrElse(-1L).toString,
        "done_ms" -> si.completionTime.getOrElse(-1L).toString,
        "tasks" -> si.numTasks.toString,
        "run_ms" -> m.executorRunTime.toString,
        "cpu_ns" -> m.executorCpuTime.toString,
        "gc_ms" -> m.jvmGCTime.toString,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toString,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toString,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toString,
        "input_rows" -> m.inputMetrics.recordsRead.toString,
        "output_bytes" -> m.outputMetrics.bytesWritten.toString)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L).toString
      executions += Json.obj(
        "run" -> Json.str(current),
        "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
}

/** Minimal JSON rendering: values are passed in already rendered. */
object Json {
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
