package graft.streaming

import graft.JobLabel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import java.nio.file.{Files, Path}

/** The streaming family's one replay harness: a batch frame replayed
  * through a real parquet file-source stream, one chunk file per
  * micro-batch, on a cloned stream session. It is how each streaming
  * operator is checked against its batch answer; the operator's batch
  * body is the production path.
  *
  * Contract:
  *   - chunks are in key order: one range-partitioned write cuts the
  *     rows on `order`, and chunk i replays before chunk i + 1, so no
  *     key of a micro-batch is below a key of an earlier one;
  *   - each `drain` / `fold` call writes its source into its own
  *     directory under `java.io.tmpdir` and deletes it before it
  *     returns.
  */
object Replay {

  /** Name prefix of every replay directory. */
  val DirPrefix = "graft-stream-"

  /** A replay input: `rows` cut on `order` into at most `nChunks`
    * key-ordered chunks. `last`, if given, replays after them as its
    * own micro-batch (Sessionize's watermark sentinel). An
    * order-independent fold may cut on any key.
    */
  final case class Source(tag: String, rows: DataFrame, order: Seq[String],
                          nChunks: Int, last: Option[DataFrame] = None)

  /** Stream `query` of the replayed source into a memory sink in
    * `mode`, drain it, and return `shape` of the sink's table,
    * materialized on the executors.
    */
  def drain(src: Source, mode: OutputMode)(query: DataFrame => DataFrame)(
      shape: DataFrame => DataFrame): DataFrame =
    stream(src) { (in, dir) =>
      val name = "graft_replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
      run(query(in).writeStream.format("memory").queryName(name).outputMode(mode), dir)
      val ss = in.sparkSession
      try shape(ss.table(name)).localCheckpoint(true)
      finally ss.catalog.dropTempView(name)
    }

  /** Fold each micro-batch into the state with `step(state, batch,
    * batchId)`; returns the final state.
    */
  def fold[S](src: Source, init: S)(step: (S, DataFrame, Long) => S): S =
    stream(src) { (in, dir) =>
      var state = init
      run(in.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
        state = JobLabel(batch.sparkSession, s"Replay.${src.tag} batch=$id") {
          step(state, batch, id)
        }
      }, dir)
      state
    }

  /** Run `body` on a fresh directory under `java.io.tmpdir`, deleted
    * afterwards (a replay's source, checkpoint or sink).
    */
  def withDir[A](tag: String)(body: Path => A): A = {
    val dir = Files.createTempDirectory(DirPrefix + tag)
    try body(dir) finally StreamingDedup.deleteRecursively(dir)
  }

  private def stream[A](src: Source)(body: (DataFrame, Path) => A): A =
    withDir(src.tag) { dir =>
      val chunks = dir.resolve("source")
      write(src, chunks)
      body(streamSession(src.rows.sparkSession).readStream.schema(src.rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(chunks.toString), dir)
    }

  private def run(writer: DataStreamWriter[Row], dir: Path): Unit = {
    val q = writer.option("checkpointLocation", dir.resolve("checkpoint").toString).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** One range-partitioned write cuts the chunks: partition i holds
    * the i-th key range, and its file is stamped i minutes after a
    * base time. The file source replays in modification-time order,
    * and explicit stamps keep that order where two writes could share
    * an mtime.
    */
  private def write(src: Source, dir: Path): Unit = {
    val base = System.currentTimeMillis() - (src.nChunks + 2) * 60000L
    def parts = Option(dir.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
    JobLabel(src.rows.sparkSession, s"Replay.${src.tag} source") {
      src.rows.repartitionByRange(src.nChunks, src.order.map(col): _*)
        .write.parquet(dir.toString)
      val chunks = parts
      chunks.foreach(f => f.setLastModified(base + f.getName.split('-')(1).toInt * 60000L))
      src.last.foreach { last =>
        last.coalesce(1).write.mode("append").parquet(dir.toString)
        parts.filterNot(chunks.contains).foreach(_.setLastModified(base + src.nChunks * 60000L))
      }
    }
  }

  /** Cloned session for a replay's stream: same SparkContext and
    * catalog, isolated SQLConf. Stateful operators disable AQE and
    * open one state store per shuffle partition per micro-batch, so
    * the partition count is sized to the stream, not inherited from
    * the batch session; AQE is off because it turns every exchange of
    * a sub-second micro-batch into its own job.
    */
  private def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss
  }
}
