package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One persisted-index family as a fixture: build a small index under
  * a name, append a delta to it, probe it. `hot` is the table whose
  * catalog bucket count an append takes; `layout` pins every table's
  * on-disk format as [[IndexFamilies.layoutOf]] renders it.
  */
final case class IndexFamily(
    family: String,
    build: (SparkSession, String) => Unit,
    append: (SparkSession, String) => Unit,
    probe: (SparkSession, String) => Unit,
    hot: String,
    layout: Seq[String])

/** The six index families sharing `graft.io.PersistedIndex`. */
object IndexFamilies {

  private def docs(spark: SparkSession, from: Int): DataFrame =
    spark.createDataFrame((from until from + 24).map { i =>
      (i.toLong, s"document $i about topic ${i % 4} with words w${i % 5} and w${i % 3}")
    }).toDF("doc_id", "text")

  private def vecs(spark: SparkSession, from: Int): DataFrame =
    spark.createDataFrame((from until from + 24).map { i =>
      (i.toLong, Seq.tabulate(4)(j => math.sin(i * (j + 1.0))))
    }).toDF("id", "v")

  private def queries(spark: SparkSession): DataFrame =
    vecs(spark, 0).filter("id < 3").withColumnRenamed("id", "qid")
      .withColumnRenamed("v", "qv")

  val all: Seq[IndexFamily] = Seq(
    IndexFamily("dedup",
      (s, n) => Dedup.buildBandIndex(docs(s, 0), "doc_id", "text", n,
        shingleN = 2, k = 8, bands = 4, buckets = 4),
      (s, n) => Dedup.appendToBandIndex(s, n, docs(s, 100), "doc_id", "text"),
      (s, n) => Dedup.minhashHitsAgainstIndex(s, n, docs(s, 100), "doc_id", "text").count(),
      "bands", Seq(
        "bands: bkey BIGINT,band INT,key BIGINT,id BIGINT | [`bkey`] x 4 by [`bkey`]",
        "members: rep_id BIGINT,id BIGINT | [`rep_id`] x 4 by [`rep_id`]",
        "meta: shingle_n INT,k INT,bands INT",
        "sigs: id BIGINT,sig ARRAY<BIGINT> | [`id`] x 4 by [`id`]")),
    IndexFamily("text",
      (s, n) => TextIndex.buildInvertedIndex(docs(s, 0), "doc_id", "text", n, buckets = 4),
      (s, n) => TextIndex.appendToInvertedIndex(s, n, docs(s, 100), "doc_id", "text"),
      (s, n) => TextIndex.tokenSearch(s, n, "topic").count(),
      "postings", Seq(
        "docs: doc_id BIGINT,dl BIGINT | [`doc_id`] x 4 by [`doc_id`]",
        "meta: tokenizer STRING",
        "postings: token STRING,doc_id BIGINT,positions ARRAY<INT> | [`token`] x 4 by [`token`]")),
    IndexFamily("trgm",
      (s, n) => TrigramIndex.buildTrigramIndex(docs(s, 0), "doc_id", "text", n, buckets = 4),
      (s, n) => TrigramIndex.appendToTrigramIndex(s, n, docs(s, 100), "doc_id", "text"),
      (s, n) => TrigramIndex.substringSearch(s, n, "topic").count(),
      "postings", Seq(
        "meta: n INT",
        "postings: doc_id BIGINT,gram STRING | [`gram`] x 4 by [`gram`]",
        "text: doc_id BIGINT,text STRING | [`doc_id`] x 4 by [`doc_id`]")),
    IndexFamily("ivf",
      (s, n) => Similarity.buildIvfIndex(vecs(s, 0), "id", "v", n, nCells = 2, buckets = 4),
      (s, n) => Similarity.appendToIvfIndex(s, n, vecs(s, 100), "id", "v"),
      (s, n) => Similarity.ivfTopKAgainstIndex(s, n, queries(s), "qid", "qv", 2).count(),
      "cells", Seq(
        "cells: cell BIGINT,id BIGINT,q8 BINARY,s DOUBLE,n DOUBLE | [`cell`] x 4 by [`cell`]",
        "centroids: cell BIGINT,c ARRAY<DOUBLE> | [`cell`] x 1 by [`cell`]",
        "meta: n_cells INT,dim INT,buckets INT",
        "vecs: id BIGINT,v ARRAY<DOUBLE> | [`id`] x 4 by [`id`]")),
    IndexFamily("ivfpq",
      (s, n) => IvfPq.buildIndex(vecs(s, 0), "id", "v", n, nCells = 2, m = 2, kCodes = 4,
        buckets = 4),
      (s, n) => IvfPq.appendToIndex(s, n, vecs(s, 100), "id", "v"),
      (s, n) => IvfPq.topKAgainstIndex(s, n, queries(s), "qid", "qv", 2).count(),
      "pqcells", Seq(
        "centroids: cell BIGINT,c ARRAY<DOUBLE> | [`cell`] x 1 by [`cell`]",
        "codebooks: sub INT,code INT,c ARRAY<DOUBLE> | [`sub`] x 1 by [`sub`]",
        "meta: n_cells INT,dim INT,buckets INT,m INT,k_codes INT",
        "pqcells: cell BIGINT,id BIGINT,codes ARRAY<INT> | [`cell`] x 4 by [`cell`]",
        "vecs: id BIGINT,v ARRAY<DOUBLE> | [`id`] x 4 by [`id`]")),
    IndexFamily("graph",
      (s, n) => GraphIndex.buildGraphIndex(vecs(s, 0), "id", "v", n, k = 2, layerMod = 2,
        iters = 1, buckets = 4),
      (s, n) => GraphIndex.addToGraphIndex(s, n, vecs(s, 100), "id", "v", beam = 4,
        hops = 1, seedMod = 2),
      (s, n) => GraphIndex.graphSearchAgainstIndex(s, n, queries(s), "qid", "qv", k = 2,
        beam = 4, hops = 1, seedMod = 2).count(),
      "und", Seq(
        "adj: layer INT,src BIGINT,dst BIGINT,rank INT,cos DOUBLE | [`src`] x 4 by [`src`]",
        "adj_delta: layer INT,src BIGINT,dst BIGINT,rank INT,cos DOUBLE,gen BIGINT " +
          "| [`src`] x 4 by [`src`]",
        "meta: dim INT,k INT,layer_mod INT,buckets INT",
        "und: layer INT,src BIGINT,dst BIGINT | [`src`] x 4 by [`src`]",
        "und_delta: layer INT,src BIGINT,dst BIGINT | [`src`] x 4 by [`src`]",
        "vecs: id BIGINT,v ARRAY<DOUBLE> | [`id`] x 4 by [`id`]")))

  /** The tables `<name>_<table>` in the catalog, sorted. */
  private def tablesOf(spark: SparkSession, name: String): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${name}_")).sorted.toSeq

  /** `<table>: <schema DDL>[ | <bucket columns> x <count> by <sort columns>]`
    * for every table `<name>_<table>`. */
  def layoutOf(spark: SparkSession, name: String): Seq[String] =
    tablesOf(spark, name).map { t =>
      val described = spark.sql(s"DESCRIBE EXTENDED `$t`").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val bucketing = described.get("Num Buckets").map { nb =>
        s" | ${described("Bucket Columns")} x $nb by ${described("Sort Columns")}"
      }.getOrElse("")
      s"${t.stripPrefix(s"${name}_")}: ${spark.table(t).schema.toDDL}$bucketing"
    }

  /** Rewrite `table` empty and unbucketed, keeping its schema — a
    * catalog entry that lost its bucket spec. */
  def unbucket(spark: SparkSession, table: String): Unit =
    graft.io.Sources.writeTable(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], spark.table(table).schema), table)

  /** Rewrite `<name>_meta` with its one row twice. */
  def doubleMeta(spark: SparkSession, name: String): Unit = {
    val meta = spark.table(s"${name}_meta")
    val rows = meta.collect().toSeq
    graft.io.Sources.writeTable(
      spark.createDataFrame(spark.sparkContext.parallelize(rows ++ rows), meta.schema),
      s"${name}_meta")
  }

  /** Drop every table of index `name`. */
  def dropAll(spark: SparkSession, name: String): Unit =
    graft.io.PersistedIndex.drop(spark, name,
      tablesOf(spark, name).map(_.stripPrefix(s"${name}_")))
}
