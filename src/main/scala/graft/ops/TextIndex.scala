package graft.ops

import graft.io.PersistedIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional inverted text index + phrase search — the
  * classic IR structure (Zobel & Moffat 2006, "Inverted files for
  * text search engines") re-expressed as a bucketed Spark table, the
  * third member of the persisted-index family next to the MinHash
  * band index (`Dedup.buildBandIndex`) and the IVF ANN index
  * (`Similarity.buildIvfIndex`).
  *
  * Layout: `<name>_postings(token, doc_id, positions)` — one row per
  * (token, document), positions sorted ascending — bucketed AND
  * sorted by `token`, plus `<name>_meta(tokenizer)` carrying the
  * build-time tokenization so a probe can never silently mix
  * tokenizers (the parameter-drift hazard the band/IVF `_meta`
  * tables exist to prevent).
  *
  * Scale shape (100 TB corpus): the index is written once per corpus
  * version (one shuffle, at write time); a phrase probe reads ONLY
  * the buckets holding the phrase's tokens (Spark bucket pruning on
  * the `token IN (...)` filter — `SelectedBucketsCount` in the scan
  * node, spec-asserted), so probe cost is O(postings of the queried
  * tokens), never a corpus scan. Adjacency is then one aggregation
  * over those postings keyed on (doc_id, aligned start) — the
  * standard positional-intersection query plan, with the alignment
  * map joined in as a broadcast literal frame (≤ phrase-length
  * rows). Daily deltas append new (token, doc_id) rows into the same
  * bucket layout (`appendToInvertedIndex`) — doc_ids are disjoint
  * across deltas so append never rewrites history; compaction
  * bounds file counts. The `_meta` check, the append bucket count
  * (from the catalog), compaction and dropping follow the shared
  * contract of `graft.io.PersistedIndex`.
  */
object TextIndex {

  private val Tokenizer = "ws" // TextAnalysis.wsTokens

  /** Build the persisted index over `df`. One wide shuffle
    * (posexplode → groupBy token,doc) then the bucketed write; the
    * postings write IS the bucket shuffle, so the whole build is a
    * single exchange of the exploded token stream.
    */
  def buildInvertedIndex(df: DataFrame, idCol: String, textCol: String,
                         name: String, buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    PersistedIndex.writeMeta(Seq(Tokenizer).toDF("tokenizer"), name)
    graft.io.Sources.writeBucketed(
      postings(df, idCol, textCol), s"${name}_postings", "token", buckets)
    graft.io.Sources.writeBucketed(
      docLengths(df, idCol, textCol), s"${name}_docs", "doc_id", buckets)
  }

  /** Append a delta corpus's postings into the existing bucket
    * layout. Caller contract (same as the band/IVF appends): delta
    * doc ids are disjoint from the corpus's — re-ingesting an id
    * would leave two postings rows for it rather than replacing.
    */
  def appendToInvertedIndex(spark: SparkSession, name: String,
                            delta: DataFrame, idCol: String,
                            textCol: String): Unit = {
    requireMeta(spark, name)
    val buckets = PersistedIndex.buckets(spark, s"${name}_postings")
    graft.io.Sources.appendBucketed(
      postings(delta, idCol, textCol), s"${name}_postings", "token", buckets)
    graft.io.Sources.appendBucketed(
      docLengths(delta, idCol, textCol), s"${name}_docs", "doc_id", buckets)
  }

  /** Compact after many appends; probe plans unchanged. */
  def compactInvertedIndex(spark: SparkSession, name: String): Unit = {
    PersistedIndex.compact(spark, s"${name}_postings", "token")
    PersistedIndex.compact(spark, s"${name}_docs", "doc_id")
  }

  private def postings(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextAnalysis.wsTokens(col(textCol)))
          .as(Seq("pos", "token")))
      .groupBy("token", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  private def docLengths(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("dl"))

  private def requireMeta(spark: SparkSession, name: String): Unit =
    require(PersistedIndex.meta(spark, name).getString(0) == Tokenizer,
      s"index $name: ${name}_meta names another tokenizer")

  /** Documents containing `token`, with its term frequency —
    * `(doc_id, tf)`. A one-bucket pruned scan, no joins.
    */
  def tokenSearch(spark: SparkSession, name: String,
                  token: String): DataFrame = {
    requireMeta(spark, name)
    spark.table(s"${name}_postings")
      .filter(col("token") === token)
      .select(col("doc_id"), size(col("positions")).cast("long").as("tf"))
  }

  /** Okapi BM25 ranked retrieval (Robertson & Zaragoza 2009, "The
    * Probabilistic Relevance Framework: BM25 and Beyond", eq. 3.15)
    * against the persisted index — `(doc_id, score)` for every doc
    * matching ≥ 1 query term, score rounded to 6 dp (the formula is
    * deterministic given exact tf/df/dl integers, so the whole
    * ranking is cross-engine oracled — rare for an IR scorer).
    *
    * avgdl is computed as exact-integer sum(dl)/N, not a float
    * `avg`, so both engines divide identical numerators.
    *
    * Plan shape: corpus stats are one O(1)-row aggregate; the scan
    * is bucket-pruned to the query's tokens; df comes from a
    * ≤|terms|-row aggregate over that pruned scan (broadcast back);
    * the dl join hashes only matched postings against `_docs`. Cost
    * is O(postings of queried terms), like every probe here.
    */
  def bm25(spark: SparkSession, name: String, query: String,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireMeta(spark, name)
    val terms = query.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25: empty query")
    val docs = spark.table(s"${name}_docs")
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
      .collect()(0)
    val n = stats.getLong(0)
    if (n == 0) return docs.select(col("doc_id"), lit(0.0).as("score")).limit(0)
    val avgdl = stats.getLong(1).toDouble / n
    val matched = spark.table(s"${name}_postings")
      .filter(col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"),
        size(col("positions")).cast("double").as("tf"))
    val dfs = matched.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5))
    val tfc = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    matched
      .join(broadcast(dfs), "token")
      .join(docs, "doc_id")
      .select(col("doc_id"), (idf * tfc).as("s"))
      .groupBy("doc_id").agg(round(sum(col("s")), 6).as("score"))
  }

  /** Exact phrase occurrences per document — `(doc_id, n_matches)`,
    * only docs with ≥ 1 match. The phrase is tokenized with the
    * index's own tokenizer (validated via `_meta`).
    *
    * Plan: prune the postings scan to the phrase's tokens, broadcast
    * the (token, offset) alignment frame (phrase-length rows; a
    * repeated token carries one row per offset), align every
    * occurrence to its implied phrase start (`pos - offset`), and
    * count aligned hits: a start position where ALL `p` offsets are
    * present is a match. Positions are distinct within a posting row,
    * so the count per (doc_id, start) is exact with no dedup step.
    */
  def phraseSearch(spark: SparkSession, name: String,
                   phrase: String): DataFrame = {
    requireMeta(spark, name)
    import spark.implicits._
    val toks = phrase.split("\\s+").filter(_.nonEmpty).toSeq
    require(toks.nonEmpty, "phraseSearch: empty phrase")
    val p = toks.length
    val offsets = toks.zipWithIndex.toDF("token", "offset")
    spark.table(s"${name}_postings")
      .filter(col("token").isin(toks.distinct: _*))
      .join(broadcast(offsets), "token")
      .select(col("doc_id"),
        explode(col("positions")).as("pos"), col("offset"))
      .select(col("doc_id"), (col("pos") - col("offset")).as("start"))
      .filter(col("start") >= 0)
      .groupBy("doc_id", "start").count()
      .filter(col("count") === p)
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }
}
