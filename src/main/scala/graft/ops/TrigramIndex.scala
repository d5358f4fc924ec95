package graft.ops

import graft.io.PersistedIndex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted character-TRIGRAM index for SUBSTRING search — the
  * pg_trgm recipe (PostgreSQL contrib; Navarro & Baeza-Yates 1998 on
  * q-gram filters) as a bucketed Spark table, fourth member of the
  * persisted-index family (band / IVF / inverted). `LIKE '%needle%'`
  * over 100 TB is otherwise a full corpus scan per query; here it is
  * a bucket-pruned postings probe.
  *
  * Filter-and-verify: a document containing `pattern` necessarily
  * contains every trigram of `pattern` (windows of a substring are
  * windows of the string), so candidates = docs holding ALL pattern
  * trigrams — a pruned postings scan + one counting aggregate — and
  * the (rare) gram-scattered false positives are removed by an exact
  * `contains` check against the id-bucketed `_text` table. No false
  * negatives by construction; the verify join touches candidates
  * only. Patterns shorter than 3 chars have no trigram and ERROR
  * (the caller must scan — better loud than a silent wrong answer).
  *
  * Layout: `<name>_postings(gram, doc_id)` distinct per doc, bucketed
  * by gram; `<name>_text(doc_id, text)` bucketed by doc_id;
  * `<name>_meta(n)` pinning the gram size. The `_meta` check, the
  * append bucket count (from the catalog), compaction and dropping
  * follow the shared contract of `graft.io.PersistedIndex`.
  */
object TrigramIndex {

  val N = 3

  /** All distinct character `N`-grams of a text column. Texts shorter
    * than `N` code points have NO grams: without the guard,
    * `sequence(1, 0)` infers step -1 and evaluates to `[1, 0]`,
    * writing junk sub-`N`-char grams (and a position-0 substr) into
    * the postings.
    */
  def charGrams(text: Column): Column =
    when(length(text) >= N,
      array_distinct(transform(
        sequence(lit(1), length(text) - (N - 1)),
        i => text.substr(i, lit(N)))))
      .otherwise(array().cast("array<string>"))

  def buildTrigramIndex(df: DataFrame, idCol: String, textCol: String,
                        name: String, buckets: Int = 32): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    PersistedIndex.writeMeta(Seq(N).toDF("n"), name)
    graft.io.Sources.writeBucketed(
      df.select(col(idCol).as("doc_id"),
        explode(charGrams(col(textCol))).as("gram")),
      s"${name}_postings", "gram", buckets)
    graft.io.Sources.writeBucketed(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      s"${name}_text", "doc_id", buckets)
  }

  /** Append a delta corpus into the existing bucket layout — the
    * daily-ingest path, same contract as the band/IVF/inverted
    * appends: delta doc ids must be disjoint from the corpus's.
    */
  def appendToTrigramIndex(spark: SparkSession, name: String,
                           delta: DataFrame, idCol: String,
                           textCol: String): Unit = {
    requireMeta(spark, name)
    val buckets = PersistedIndex.buckets(spark, s"${name}_postings")
    graft.io.Sources.appendBucketed(
      delta.select(col(idCol).as("doc_id"),
        explode(charGrams(col(textCol))).as("gram")),
      s"${name}_postings", "gram", buckets)
    graft.io.Sources.appendBucketed(
      delta.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      s"${name}_text", "doc_id", buckets)
  }

  /** Shuffle-free per-bucket file merge of both index tables. */
  def compactTrigramIndex(spark: SparkSession, name: String): Unit = {
    requireMeta(spark, name)
    PersistedIndex.compact(spark, s"${name}_postings", "gram")
    PersistedIndex.compact(spark, s"${name}_text", "doc_id")
  }

  private def requireMeta(spark: SparkSession, name: String): Unit =
    require(PersistedIndex.meta(spark, name).getInt(0) == N,
      s"index $name: ${name}_meta pins another gram size")

  /** Candidate sets up to this size verify via the POINT-LOOKUP path:
    * ids collected to the driver and pushed as an `isin` predicate,
    * which bucket-prunes AND filter-pushes the `_text` scan — the
    * heap-fetch analogue of pg_trgm's recheck. A selective pattern
    * (the reason to use a trigram index) stays far under this; past
    * it the verify falls back to a join, where Catalyst pushes the
    * `contains` onto the text scan — one filtered pass, still never
    * shuffled.
    */
  val MaxLookupIds = 10000L

  /** Documents whose text contains `pattern` (exact, case-sensitive):
    * (doc_id). Cost: a postings scan bucket-pruned to the pattern's
    * trigrams, one counting aggregate, then the candidates-only
    * verify (point-lookup path below [[MaxLookupIds]] candidates).
    */
  def substringSearch(spark: SparkSession, name: String,
                      pattern: String): DataFrame = {
    requireMeta(spark, name)
    // Gram the pattern by CODE POINT, not UTF-16 char: the index builds
    // grams with Spark substring/length, which count code points, so a
    // String.sliding over chars would split surrogate pairs (emoji,
    // supplementary CJK) and produce grams that never match a posting —
    // a silent false negative despite the no-false-negative guarantee.
    val cps = pattern.codePoints().toArray
    require(cps.length >= N,
      s"substringSearch: pattern '$pattern' shorter than $N code points " +
        "has no trigram filter — scan the corpus instead of probing the index")
    val grams = cps.sliding(N)
      .map(w => new String(w, 0, w.length)).toSeq.distinct
    // Force the BUCKETED read for the probe: with autoBucketedScan
    // left on, the planner sees no join/exchange benefiting from the
    // gram bucketing and silently falls back to a plain scan — which
    // reads EVERY bucket and drops the SelectedBucketsCount pruning
    // the whole layout exists for (the PersistedIndex.compact conf pattern).
    // The toggle is safe to scope here because the checkpoint below
    // materializes the probe eagerly.
    val scanConf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prior = spark.conf.get(scanConf)
    // checkpoint: the candidate set is read twice (gate count +
    // verify) and must be the same row set for both
    val candidates = try {
      spark.conf.set(scanConf, "false")
      spark.table(s"${name}_postings")
        .filter(col("gram").isin(grams: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("ng"))
        .filter(col("ng") === grams.size)
        .select("doc_id")
        .localCheckpoint(true)
    } finally spark.conf.set(scanConf, prior)
    val text = spark.table(s"${name}_text")
    val verified =
      if (candidates.count() <= MaxLookupIds) {
        val ids = candidates.collect().map(_.get(0))
        if (ids.isEmpty) text.limit(0)
        else text.filter(col("doc_id").isin(ids: _*))
      } else text.join(candidates, Seq("doc_id"))
    verified.filter(col("text").contains(pattern)).select("doc_id")
  }
}
