package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The persisted band index labels its Spark jobs by operator and
  * phase: "Dedup.buildBandIndex write=<table>" while it builds,
  * "Dedup.probe hits" / "Dedup.probe pairs" while a probe runs.
  */
class DedupJobLabelSpec extends SparkSpec {

  test("band-index build and probe jobs carry their labels; the caller's description is restored") {
    val docs = spark.createDataFrame((0 until 120).map { i =>
      (i.toLong, s"document about topic ${i % 12} with words w${i % 7} w${i % 5} and a tail")
    }).toDF("doc_id", "text")
    val probe = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val name = "graft_test_label_idx"
    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    def labelsOf(body: => Any): Seq[String] = {
      descriptions.clear()
      body
      ListenerBusDrain(sc)
      descriptions.asScala.toSeq
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val build = labelsOf(Dedup.buildBandIndex(docs, "doc_id", "text", name,
        shingleN = 2, buckets = 4))
      Seq("meta", "bands", "sigs", "members").foreach { t =>
        assert(build.contains(s"Dedup.buildBandIndex write=$t"), s"write=$t unlabelled: $build")
      }
      assert(build.forall(_.startsWith("Dedup.buildBandIndex write=")), build)
      val hits = labelsOf(Dedup.minhashHitsAgainstIndex(spark, name, probe, "doc_id", "text"))
      assert(hits.nonEmpty && hits.forall(_ == "Dedup.probe hits"), hits)
      val pairs = labelsOf(Dedup.minhashPairsAgainstIndex(spark, name, probe, "doc_id", "text"))
      assert(pairs.nonEmpty && pairs.forall(_ == "Dedup.probe pairs"), pairs)
      val after = labelsOf(spark.range(100).count())
      assert(after.nonEmpty && after.forall(_ == "caller"), after)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
      for (t <- Seq("meta", "bands", "sigs", "members"))
        spark.sql(s"DROP TABLE IF EXISTS `${name}_$t`")
      spark.catalog.clearCache()
    }
  }
}
