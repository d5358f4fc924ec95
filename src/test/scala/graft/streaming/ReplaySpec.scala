package graft.streaming

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** `Replay`'s chunking contract, seen from inside the stream: a
  * recording fold keeps each micro-batch's keys, so the spec sees how
  * many batches ran and in which order their key ranges arrived.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Replays `rows` (one long column `k`) and returns each micro-batch's
    * keys, sorted, in batch order.
    */
  private def batches(rows: DataFrame, nChunks: Int,
                      last: Option[DataFrame] = None): Seq[Seq[Long]] =
    Replay.fold(Replay.Source("order", rows, Seq("k"), nChunks, last),
        Vector.empty[Seq[Long]]) { (seen, batch, _) =>
      seen :+ batch.as[Long].collect().toSeq.sorted
    }

  private def assertKeyOrdered(got: Seq[Seq[Long]]): Unit =
    got.filter(_.nonEmpty).sliding(2).foreach {
      case Seq(a, b) => assert(b.head >= a.last, s"batch out of key order: $got")
      case _ =>
    }

  test("nChunks = 4 over 12 rows replays several micro-batches in key order") {
    // keys arrive shuffled and repeated; ties must stay in one chunk
    val keys = Seq(9L, 3L, 11L, 0L, 7L, 7L, 2L, 10L, 5L, 1L, 8L, 4L)
    val got = batches(keys.toDF("k").repartition(3), nChunks = 4)
    assert(got.size > 1, s"the replay collapsed to one micro-batch: $got")
    assert(got.size <= 4, got)
    assertKeyOrdered(got)
    assert(got.flatten.sorted == keys.sorted, "the batches must hold every input row once")
  }

  test("an empty input and nChunks above the row count replay the batch answer") {
    assert(batches(Seq.empty[Long].toDF("k"), nChunks = 4).flatten.isEmpty)
    val few = batches(Seq(5L, 1L, 3L).toDF("k"), nChunks = 8)
    assertKeyOrdered(few)
    assert(few.flatten.sorted == Seq(1L, 3L, 5L))

    def stats(df: DataFrame) = df.orderBy("g").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
    assert(stats(StreamingStats.maintainedStats(empty, "g", "v", nChunks = 4)).isEmpty)
    val three = Seq(("a", 2L), ("b", 5L), ("a", 7L)).toDF("g", "v")
    assert(stats(StreamingStats.maintainedStats(three, "g", "v", nChunks = 8)) ==
      stats(graft.ops.Merge.groupStats(three, "g", "v")))
  }

  test("`last` replays after every chunk as its own micro-batch") {
    val got = batches((0L until 9L).toDF("k"), nChunks = 3,
      last = Some(Seq(-1L).toDF("k")))
    assert(got.last == Seq(-1L), s"the sentinel is not its own last batch: $got")
    assertKeyOrdered(got.init)
    assert(got.init.flatten == (0L until 9L))
  }

  test("the source write and each fold batch carry Replay job labels") {
    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    val rows = Seq(("a", 1L), ("a", 4L), ("b", 2L), ("b", 9L), ("c", 7L),
      ("c", 1L), ("d", 100L), ("d", 3L), ("e", 5L)).toDF("g", "v")
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      StreamingStats.maintainedStats(rows, "g", "v", nChunks = 4).collect()
      ListenerBusDrain(sc)
      val labels = descriptions.asScala.toSeq
      assert(labels.contains("Replay.stats source"), labels)
      assert(labels.contains("Replay.stats batch=0") && labels.contains("Replay.stats batch=1"),
        labels)
      descriptions.clear()
      spark.range(10).count()
      ListenerBusDrain(sc)
      assert(descriptions.asScala.toSeq.forall(_ == "caller"), descriptions)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
