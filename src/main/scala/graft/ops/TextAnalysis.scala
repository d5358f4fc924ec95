package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is a pure `Column` expression (no UDFs), so the
  * operators scale linearly with the corpus — the same expressions
  * work unchanged on a 100 TB documents table. The per-document
  * signals (the ratios, `qualityScore`, `langScore`, `langId`,
  * `langIdScore`) read one native `TextStats` struct of counts, and
  * whitespace tokens come from the native `WsTokens` byte scan (both
  * in `graft.functions`, codegen'd): no regex split and no lambda per
  * document. The letter and punctuation counts are those of Spark's
  * `lower(text)`: the kernel reads them off the bytes of ASCII text,
  * and only other text is lower-cased, by the function Spark's `lower`
  * calls, under the session's `spark.sql.icu.caseMappings.enabled`.
  * Every other case mapping in `src/main` goes through
  * `Native.lower` / `Native.upper`; Spark's own `lower` stays only in
  * `Composed`, the reference. The struct sits in every `when`'s
  * always-evaluated predicate, so subexpression elimination computes
  * it once per row however many signals a projection asks for. Some
  * operators further down (`gopherRules`, `ngrams`, `fingerprint`)
  * still compose higher-order functions, which Spark runs interpreted.
  *
  * All formulas are deliberately SQL-expressible so each operator has
  * a DuckDB oracle (see SparkEntry.oracleSql).
  */
object TextAnalysis {

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punct.
    * RE2-compatible (no lookahead) so the same pattern runs in DuckDB.
    */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Small per-language stopword profiles for the lang-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Whitespace tokens ([] for blank input): the runs between Java
    * `\s` characters, as `split(text, "\\s+")` with its empty
    * strings dropped — mirrored by list_filter in the SQL oracles.
    */
  def wsTokens(text: Column): Column = graft.functions.Native.wsTokens(text)

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish regex token count (letter runs / digit runs / punct). */
  def regexTokenCount(text: Column): Column = regexp_count(text, lit(TokenPattern))

  /** The per-document counts every signal below reads: one struct
    * (see graft.functions.TextStats) for all of them.
    */
  private def stats(text: Column): Column =
    graft.functions.Native.textStats(text, LangProfiles)

  private def ratio(num: Column, den: Column): Column =
    when(den === 0, 0.0).otherwise(num.cast("double") / den)

  /** Fraction of characters that are letters, case-insensitive
    * (0 for empty).
    */
  def alphaRatio(text: Column): Column = ratio(stats(text)("alpha"), stats(text)("chars"))

  /** Fraction of characters that are punctuation (non-alnum,
    * non-space, case-insensitive).
    */
  def punctRatio(text: Column): Column = ratio(stats(text)("punct"), stats(text)("chars"))

  /** Mean whitespace-token length (0 when no tokens). */
  def meanWordLen(text: Column): Column =
    ratio(stats(text)("nonspace"), stats(text)("tokens"))

  /** Fraction of whitespace tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = langScore(text, "en")

  /** Composite document-quality score in [0,1]:
    * 0.3·min(tokens,100)/100 + 0.3·alpha + 0.2·(1−punct) + 0.2·stopword.
    * The exact weights are a convention; what matters is that the
    * formula is deterministic and cheap (single codegen'd pass).
    */
  def qualityScore(text: Column): Column =
    quality(stats(text)("tokens"), alphaRatio(text), punctRatio(text),
      stopwordRatio(text))

  private def quality(tokens: Column, alpha: Column, punct: Column, stop: Column): Column =
    lit(0.3) * (least(tokens, lit(100)).cast("double") / 100.0) +
      lit(0.3) * alpha +
      lit(0.2) * (lit(1.0) - punct) +
      lit(0.2) * stop

  /** Per-language stopword-hit score (hits / tokens). */
  def langScore(text: Column, lang: String): Column = {
    require(LangProfiles.exists(_._1 == lang), s"no stopword profile for language $lang")
    ratio(stats(text)(s"stop_$lang"), stats(text)("tokens"))
  }

  /** Heuristic language-ID: argmax of langScore over the profiles,
    * ties broken by language code ascending; NULL for NULL text.
    * Implemented as array_min over (−score, lang) structs (r16 — was
    * sort_array + getItem(0): same least element under the identical
    * struct ordering, one linear pass instead of a per-row sort) —
    * pure expression.
    */
  def langId(text: Column): Column = langIdOf(langScore(text, _))

  /** Best lang-ID score (the max over profiles). */
  def langIdScore(text: Column): Column = -bestLang(langScore(text, _)).getField("s")

  private def bestLang(score: String => Column): Column =
    array_min(array(LangProfiles.map { case (l, _) =>
      struct((-score(l)).as("s"), lit(l).as("l"))
    }: _*))

  /** NULL text scores NULL for every profile, where `array_min` would
    * tie-break on the language code; its id is NULL instead.
    */
  private def langIdOf(score: String => Column): Column = {
    val best = bestLang(score)
    when(best.getField("s").isNotNull, best.getField("l"))
  }

  /** The composed forms the kernels replace — regex splits and
    * interpreted lambdas — kept ONLY as the independent reference for
    * TextStatsSpec's bit-identity checks. They share the arithmetic
    * above (`ratio`, `quality`, `bestLang`); only the counts differ.
    */
  private[graft] object Composed {
    def wsTokens(text: Column): Column = filter(split(text, "\\s+"), t => length(t) > 0)
    def wsTokenCount(text: Column): Column = size(wsTokens(text))
    def alphaRatio(text: Column): Column =
      ratio(length(regexp_replace(lower(text), "[^a-z]", "")), length(text))
    def punctRatio(text: Column): Column =
      ratio(length(regexp_replace(lower(text), "[a-z0-9\\s]", "")), length(text))
    def meanWordLen(text: Column): Column =
      ratio(length(regexp_replace(text, "\\s", "")), wsTokenCount(text))
    def stopwordRatio(text: Column): Column = langScore(text, "en")
    def qualityScore(text: Column): Column =
      quality(wsTokenCount(text), alphaRatio(text), punctRatio(text), stopwordRatio(text))
    def langScore(text: Column, lang: String): Column = {
      val stops = LangProfiles.toMap.apply(lang)
      ratio(size(filter(wsTokens(text), t => t.isInCollection(stops))), wsTokenCount(text))
    }
    def langId(text: Column): Column = langIdOf(langScore(text, _))
    def langIdScore(text: Column): Column = -bestLang(langScore(text, _)).getField("s")
  }

  /** 31-base polynomial rolling-hash fingerprint mod 1e9+7 over the
    * document's characters — the classic Rabin–Karp document
    * fingerprint, as a codegen'd `aggregate` over the char array.
    */
  def fingerprint(text: Column): Column =
    when(length(text) === 0, 0L).otherwise(
      aggregate(
        transform(split(text, ""), c => ascii(c).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31L + x) % 1000000007L))

  // ---- repetition / diversity signals (Gopher-style filters) --------

  /** ALL word n-grams of a document in order (NOT distinct — repeats
    * are the signal here, unlike Dedup.wordShingles).
    */
  def ngrams(text: Column, n: Int): Column = {
    val toks = wsTokens(text)
    if (n == 1) toks
    else {
      val cnt = size(toks) - (n - 1)
      // n shifted slices zipped with string concat. NOT
      // transform(sequence(...), i => concat_ws(slice(toks, i, n))):
      // a captured array inside an HOF lambda is re-evaluated per
      // OUTPUT ELEMENT (text re-tokenized ~|tokens| times per row).
      val shifted = (0 until n).map(j => slice(toks, lit(j + 1), greatest(cnt, lit(0))))
      val combined = shifted.reduce((a, b) =>
        zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
      when(cnt <= 0, array().cast("array<string>")).otherwise(combined)
    }
  }

  /** Fraction of the document's n-grams taken up by its single most
    * frequent n-gram — the Gopher repetition filter. High values mean
    * boilerplate / degenerate repetition.
    *
    * Shape: one codegen'd hash-count pass (`Native.MaxFreq`) over the
    * gram array, O(total) per doc with ONE evaluation of the n-gram
    * build. The original
    * `transform(array_distinct(g), x => size(filter(g, ...)))` form
    * hit the HOF-capture trap this file warns about: `g` re-evaluated
    * (the whole slices+zip n-gram build!) once per DISTINCT gram,
    * O(distinct × build) per doc — measured 87 s for the sf0.1
    * scoring query once the bench stopped letting count() prune the
    * projection; identical values, ~30× faster.
    */
  def topNgramFraction(text: Column, n: Int): Column = {
    // count gram HASHES (one rolling-hash kernel pass), never the
    // gram strings: the n-way slice/zip_with string concat the
    // string form pays per document is pure allocation, and equal
    // counts survive hashing up to the ~2⁻⁶⁴ xxhash64 collision
    // rate — the same accepted trade as shingleHashes.
    val g = graft.functions.Native.gramHashes(wsTokens(text), n)
    val m = size(g)
    when(m === 0, 0.0).otherwise(
      graft.functions.Native.maxFreqLong(g).cast("double") / m)
  }

  /** Type-token ratio: distinct tokens / total tokens (vocabulary
    * diversity; low = repetitive).
    */
  def typeTokenRatio(text: Column): Column = {
    val toks = wsTokens(text)
    val n = size(toks)
    when(n === 0, 0.0).otherwise(size(array_distinct(toks)).cast("double") / n)
  }

  /** Within-document duplicated-n-gram statistics — the Gopher
    * repetition-rule family (Rae et al. 2021, "Scaling Language
    * Models", appendix A1.1: "fraction of characters in duplicate
    * n-grams"; here in token units, n=2 default to match the
    * published dup-2-gram rule). Per document:
    *
    *   - `dup_gram_frac`: fraction of n-gram occurrences whose gram
    *     appears ≥ 2 times in the SAME document;
    *   - `dup_token_frac`: fraction of tokens covered by at least one
    *     such duplicated n-gram occurrence.
    *
    * Complements `topNgramFraction` (which sees only the single most
    * frequent gram — a doc with many DIFFERENT repeated grams scores
    * low there but high here) and the `duplicateSpans` family (which
    * is CROSS-document and must shuffle by gram).
    *
    * Shape: one codegen'd kernel per row — ZERO shuffles at any
    * corpus size. `DupGramCounts` finds the duplicated-gram set by
    * sort + adjacency (O(m log m) per doc), flags occurrences by
    * binary search, and counts covered tokens by interval union —
    * the earlier composed HOF chain ran INTERPRETED and allocated
    * one `slice` per token position (O(tokens × n) allocations/row;
    * measured 4.9 s at sf0.1 where this kernel form is sub-second).
    * Grams are 64-bit `GramHashes` (the shingleHashes collision
    * trade, ~2⁻⁶⁴). The composed form survives in the spec as the
    * continuously-checked reference.
    */
  def dupGramStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2): DataFrame = {
    require(n >= 2, s"dupGramStats needs n >= 2, got $n")
    df
      .withColumn("_toks", wsTokens(col(textCol)))
      .withColumn("_g", graft.functions.Native.gramHashes(col("_toks"), n))
      .withColumn("_c", graft.functions.Native.dupGramCounts(col("_g"), n))
      .select(
        col(idCol).as("doc_id"),
        size(col("_toks")).cast("long").as("n_tokens"),
        round(when(size(col("_g")) === 0, 0.0).otherwise(
          col("_c.dup_occ").cast("double") / size(col("_g"))),
          6).as("dup_gram_frac"),
        round(when(size(col("_toks")) === 0, 0.0).otherwise(
          col("_c.covered").cast("double") / size(col("_toks"))),
          6).as("dup_token_frac"))
  }

  // ---- PII scrubbing -------------------------------------------------

  /** RE2-compatible (no lookaround) so the identical patterns run in
    * the DuckDB oracle.
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\b[0-9]{3}-[0-9]{4}\\b"

  def emailCount(text: Column): Column = regexp_count(text, lit(EmailPattern))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhonePattern))

  /** Redact emails then phone numbers. Order matters (a phone-shaped
    * substring inside an email must not survive the email redaction),
    * so the oracle applies the same two passes in the same order.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  // ---- LM quality scoring -------------------------------------------

  /** Per-document average bigram log-likelihood under the corpus's
    * OWN add-one-smoothed bigram model — the CCNet-style LM quality
    * signal (public methodology: score each doc with a language model
    * and filter/bucket on perplexity; here the LM is the corpus
    * bigram model itself, so no external model is needed):
    *
    *   p(w2|w1) = (count(w1 w2) + 1) / (count(w1·) + V)
    *   lm_score(doc) = avg over the doc's bigrams of ln p  (≤ 0;
    *   higher = more typical of the corpus; boilerplate scores high,
    *   gibberish low)
    *
    * Output: (doc_id, lm_score rounded to 6dp, n_bigrams); docs with
    * fewer than 2 tokens report null score and 0 bigrams.
    *
    * Scale: two corpus-wide map-side-combined aggregates (bigram and
    * unigram-prefix counts), one join of doc bigrams against the
    * probability table, one per-doc re-aggregate. CAVEAT at open-web
    * scale: bigram TYPES grow with the corpus, so the model tables
    * are corpus-sized state, and the score-side join key is raw
    * bigram strings whose multiplicity is Zipfian — hashing the key
    * spreads distinct keys, not one hot key's rows, so "of the"
    * lands its ~1% of all rows on one join partition (AQE skew
    * handling splits it for sort-merge joins, but the state cost
    * stands). This exact-bigram form is the deterministic ORACLE
    * reference; the production path at 100 TB is
    * [[lmScoresHashedAgainst]], whose model is a FIXED bucket space
    * (O(buckets) rows, broadcast both sides — the published DSIR
    * construction).
    */
  def lmScores(df: DataFrame, idCol: String, textCol: String): DataFrame =
    lmScoresAgainst(df, df, idCol, textCol)

  /** `lmScores` with the MODEL corpus decoupled from the SCORED one:
    * counts and vocabulary come from `train`, every document of
    * `score` is scored — including bigrams the model never saw, which
    * smooth to ln(1) − ln(c1(w1) + V) with c1 = 0 for an unseen
    * prefix (plain add-one, no backoff). This is the cross-corpus
    * scorer importance resampling needs (a target-domain model
    * scoring the whole crawl — see [[Sampling.dsirWeights]]); with
    * `train eq score` it degrades to exactly `lmScores` (unseen
    * coalesces never fire).
    *
    * Scale: the model tables are bounded by the TRAIN corpus's
    * observed vocabulary — for the intended use (a small target
    * domain modeling a big crawl) they broadcast; the scored side is
    * one scan + hash join + per-doc re-aggregate, as `lmScores`.
    * V (distinct train unigrams) rides along as a broadcast 1-row
    * aggregate, not a driver-side action — calling this builds a
    * plan, it does not run jobs.
    */
  def lmScoresAgainst(train: DataFrame, score: DataFrame,
                      idCol: String, textCol: String): DataFrame = {
    def bigramsOf(d: DataFrame) = d.select(col(idCol).as("doc_id"),
      explode(ngrams(col(textCol), 2)).as("bg"))
    val trainBigrams = bigramsOf(train)
    val bgCounts = trainBigrams.groupBy("bg").agg(count(lit(1)).as("c12"))
    val prefixCounts = trainBigrams
      .select(substring_index(col("bg"), " ", 1).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = train.select(explode(wsTokens(col(textCol))).as("w"))
      .agg(count_distinct(col("w")).as("_v"))
    val docBigrams = bigramsOf(score)
    val scored = docBigrams
      .join(bgCounts, Seq("bg"), "left")
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(prefixCounts, Seq("w"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        // V clamps to >= 1: an EMPTY model (no training text at all)
        // degrades to the uniform floor ln(1/1) = 0 instead of
        // ln(0)-poisoning every score to null (spec'd; real corpora
        // always have V >= 1, so oracles are unaffected)
        (log((coalesce(col("c12"), lit(0L)) + 1L).cast("double")) -
         log((coalesce(col("c1"), lit(0L)) +
           greatest(col("_v"), lit(1L))).cast("double"))).as("lp"))
      .groupBy("doc_id")
      .agg(round(avg("lp"), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
    score.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lm_score"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** Log-likelihood RATIO of every `score` doc under TWO exact-bigram
    * models (target `trainT` vs base `trainB`) in ONE corpus pass —
    * the fused kernel behind [[Sampling.dsirWeights]]. Semantically
    * identical to running [[lmScoresAgainst]] twice and differencing
    * the 6dp-rounded scores (each side's average rounds to 6 dp
    * before the difference, which rounds again — the exact contract
    * the oracle mirrors), but the scored corpus is exploded into
    * bigrams ONCE and both models join onto that single stream, one
    * per-doc aggregate instead of two plus an O(docs)⋈O(docs) join —
    * measured ~40% off the two-pass form at sf0.1.
    *
    * Output: (doc_id, lw, n_bigrams); lw null for docs with < 2
    * tokens.
    */
  def lmScoreRatio(trainT: DataFrame, trainB: DataFrame, score: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def modelOf(train: DataFrame, sfx: String) = {
      val tb = train.select(explode(ngrams(col(textCol), 2)).as("bg"))
      val bgC = tb.groupBy("bg").agg(count(lit(1)).as(s"c12$sfx"))
      val pfC = tb.select(substring_index(col("bg"), " ", 1).as("w"))
        .groupBy("w").agg(count(lit(1)).as(s"c1$sfx"))
      val v = train.select(explode(wsTokens(col(textCol))).as("w"))
        .agg(count_distinct(col("w")).as(s"v$sfx"))
      (bgC, pfC, v)
    }
    val (bgT, pfT, vT) = modelOf(trainT, "_t")
    val (bgB, pfB, vB) = modelOf(trainB, "_b")
    def lp(c12: Column, c1: Column, v: Column) =
      log((coalesce(c12, lit(0L)) + 1L).cast("double")) -
        log((coalesce(c1, lit(0L)) + greatest(v, lit(1L))).cast("double"))
    val scored = score
      .select(col(idCol).as("doc_id"), explode(ngrams(col(textCol), 2)).as("bg"))
      .withColumn("w", substring_index(col("bg"), " ", 1))
      .join(bgT, Seq("bg"), "left").join(pfT, Seq("w"), "left")
      .join(bgB, Seq("bg"), "left").join(pfB, Seq("w"), "left")
      .crossJoin(broadcast(vT)).crossJoin(broadcast(vB))
      .select(col("doc_id"),
        lp(col("c12_t"), col("c1_t"), col("v_t")).as("lp_t"),
        lp(col("c12_b"), col("c1_b"), col("v_b")).as("lp_b"))
      .groupBy("doc_id")
      .agg(round(round(avg("lp_t"), 6) - round(avg("lp_b"), 6), 6).as("lw"),
        count(lit(1)).as("n_bigrams"))
    score.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lw"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  // ---- hashed fixed-bucket LM (the 100 TB form) ---------------------

  /** Bucket id in [0, buckets) for a bigram string — the same
    * portable content hash as [[Sampling.hashPercentile]] (md5 first
    * 8 hex digits), so any engine reproduces the bucketing exactly.
    */
  def hashedLmBucket(bg: Column, buckets: Int): Column =
    pmod(conv(substring(md5(bg), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** The hashed model table: (bkt, c) with AT MOST `buckets` rows
    * regardless of corpus size — the fixed-bucket construction of
    * Xie et al. 2023 (DSIR hashes n-grams into 10k buckets precisely
    * to bound model state). One map-side-combined aggregate whose
    * key space is [0, buckets); no vocabulary-sized state anywhere.
    */
  def hashedLmModel(train: DataFrame, textCol: String,
                    buckets: Int): DataFrame = {
    require(buckets > 0, s"hashed LM needs buckets > 0: $buckets")
    train.select(explode(ngrams(col(textCol), 2)).as("bg"))
      .select(hashedLmBucket(col("bg"), buckets).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))
  }

  /** Per-document average log-likelihood under a FIXED-BUCKET hashed
    * bigram model (add-one smoothing over the bucket space):
    *
    *   p(bg) = (c(bucket(bg)) + 1) / (N + buckets),  N = model bigrams
    *   lm_score(doc) = avg over the doc's bigrams of ln p
    *
    * Same output contract as [[lmScoresAgainst]]: (doc_id, lm_score
    * rounded to 6dp, n_bigrams), null score for docs with < 2 tokens.
    *
    * This is the form that survives 100 TB where the exact-bigram
    * model cannot: the model table is O(buckets) rows (broadcast), N
    * is a broadcast 1-row aggregate, so the scored corpus is ONE scan
    * + two broadcast joins + a per-doc partial aggregate — zero
    * shuffle keyed on anything Zipfian. A hot bigram ("of the" at ~1%
    * of all rows) costs nothing: its rows never shuffle on the bigram
    * key, they just probe the broadcast table (spec'd with a planted
    * hot gram). The trade is hash collisions folding rare bigrams'
    * counts together — the published method's accepted approximation;
    * the exact-bigram form stays as the oracle reference.
    */
  def lmScoresHashedAgainst(train: DataFrame, score: DataFrame,
                            idCol: String, textCol: String,
                            buckets: Int = 10000): DataFrame = {
    val model = hashedLmModel(train, textCol, buckets)
    val total = model.agg(coalesce(sum("c"), lit(0L)).as("_n"))
    val scored = score
      .select(col(idCol).as("doc_id"), explode(ngrams(col(textCol), 2)).as("bg"))
      .select(col("doc_id"), hashedLmBucket(col("bg"), buckets).as("bkt"))
      .join(broadcast(model), Seq("bkt"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        (log((coalesce(col("c"), lit(0L)) + 1L).cast("double")) -
         log((col("_n") + buckets).cast("double"))).as("lp"))
      .groupBy("doc_id")
      .agg(round(avg("lp"), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
    score.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lm_score"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** [[lmScoresHashedAgainst]] with the corpus as its own model. */
  def lmScoresHashed(df: DataFrame, idCol: String, textCol: String,
                     buckets: Int = 10000): DataFrame =
    lmScoresHashedAgainst(df, df, idCol, textCol, buckets)

  /** [[lmScoreRatio]] on the fixed-bucket hashed models — the fused
    * kernel behind [[Sampling.dsirWeightsHashed]]: one corpus explode,
    * BOTH O(buckets) models broadcast onto it, one per-doc aggregate.
    * Same 6dp round-then-difference contract as the two-pass form.
    *
    * `includeEmptyDocs = false` drops the null-preserving rejoin
    * against the full id set — bigram-less docs simply don't appear.
    * A caller that filters `lw IS NOT NULL` anyway (the DSIR
    * selection paths) pays a whole corpus-id shuffle for rows it
    * immediately discards if it leaves this on.
    */
  def lmScoreRatioHashed(trainT: DataFrame, trainB: DataFrame,
                         score: DataFrame, idCol: String, textCol: String,
                         buckets: Int = 10000,
                         includeEmptyDocs: Boolean = true): DataFrame = {
    val mT = hashedLmModel(trainT, textCol, buckets)
      .withColumnRenamed("c", "c_t")
    val mB = hashedLmModel(trainB, textCol, buckets)
      .withColumnRenamed("c", "c_b")
    val nT = mT.agg(coalesce(sum("c_t"), lit(0L)).as("n_t"))
    val nB = mB.agg(coalesce(sum("c_b"), lit(0L)).as("n_b"))
    def lp(c: Column, n: Column) =
      log((coalesce(c, lit(0L)) + 1L).cast("double")) -
        log((n + buckets).cast("double"))
    val scored = score
      .select(col(idCol).as("doc_id"), explode(ngrams(col(textCol), 2)).as("bg"))
      .select(col("doc_id"), hashedLmBucket(col("bg"), buckets).as("bkt"))
      .join(broadcast(mT), Seq("bkt"), "left")
      .join(broadcast(mB), Seq("bkt"), "left")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nB))
      .select(col("doc_id"),
        lp(col("c_t"), col("n_t")).as("lp_t"),
        lp(col("c_b"), col("n_b")).as("lp_b"))
      .groupBy("doc_id")
      .agg(round(round(avg("lp_t"), 6) - round(avg("lp_b"), 6), 6).as("lw"),
        count(lit(1)).as("n_bigrams"))
    if (!includeEmptyDocs) scored
    else score.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lw"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** The Gopher required-stopword list (Rae et al. 2021, A1.1): a
    * document must contain at least 2 of these to pass the filter.
    */
  val GopherRequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A1.1 — the subset whose
    * signals this file already computes; the published thresholds):
    * named boolean rules, each true = PASS. Composition over pure
    * codegen'd per-row expressions — zero shuffles at any corpus
    * size, and every rule is individually reportable so a curation
    * run can account WHY documents were dropped (the q_data_card
    * companion: that op counts what's in a release, this one decides
    * and explains membership).
    */
  def gopherRules(text: Column, minTokens: Int = 50,
                  maxTokens: Int = 100000): Seq[(String, Column)] = {
    val toks = wsTokens(text)
    val n = size(toks)
    val alphaFrac = when(n === 0, 0.0).otherwise(
      size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") / n)
    val stopHits = size(filter(typedLit(GopherRequiredStopwords),
      w => array_contains(toks, w)))
    Seq(
      "token_count" -> (n >= minTokens && n <= maxTokens),
      "mean_word_len" -> (meanWordLen(text) >= 3.0 && meanWordLen(text) <= 10.0),
      "alpha_words" -> (alphaFrac >= 0.8),
      "stopwords" -> (stopHits >= 2),
      "repetition" -> (topNgramFraction(text, 2) <= 0.2))
  }

  /** Per-doc Gopher filter decision: one boolean column per rule plus
    * the conjunction `keep` — the published quality gate as a single
    * codegen'd projection.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 50, maxTokens: Int = 100000): DataFrame = {
    // NULL text evaluates as empty, not as null rules: a null `keep`
    // would slip through BOTH keep and !keep filters downstream (the
    // ingest ledger's exactly-once contract), so every rule must be
    // a real boolean for every row
    val rules = gopherRules(coalesce(col(textCol), lit("")),
      minTokens, maxTokens)
    df.select(col(idCol).as("doc_id") +:
      rules.map { case (name, c) => c.as(s"r_$name") } :+
      rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Corpus DATA CARD: the per-(slice…) release-accounting table every
    * corpus version ships — documents, token/char volume, mean
    * quality, PII incidence, empty docs, and distinct-content count
    * (exact-dup accounting) per group. This is the governance
    * artifact (Datasheets for Datasets, Gebru et al. 2021; the
    * "data card" of public model releases) expressed as ONE
    * map-side-combined aggregate over ONE corpus scan: every per-doc
    * metric is a codegen'd projection, so the shuffle carries one
    * partial row per group per task (the distinct-content count is
    * the standard two-phase distinct aggregate — keyed on the
    * 128-bit content hash, never the text).
    *
    * Output per group: (groupCols…, n_docs, total_tokens,
    * total_chars, avg_quality [6dp], n_pii_docs, n_empty_docs,
    * n_unique_contents).
    */
  def dataCard(df: DataFrame, groupCols: Seq[String], textCol: String): DataFrame = {
    require(groupCols.nonEmpty, "dataCard needs at least one group column")
    // NULL text accounts as empty: the release accounting must cover
    // every row (null metrics would silently drop rows from the
    // token/quality/dup aggregates while n_docs still counted them)
    val t = coalesce(col(textCol), lit(""))
    val perDoc = df.select(groupCols.map(col) ++ Seq(
      wsTokenCount(t).cast("long").as("_tok"),
      length(t).cast("long").as("_chars"),
      qualityScore(t).as("_q"),
      ((emailCount(t) + phoneCount(t)) > 0).cast("long").as("_pii"),
      (wsTokenCount(t) === 0).cast("long").as("_empty"),
      md5(t).as("_h")): _*)
    perDoc.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum("_tok").as("total_tokens"),
        sum("_chars").as("total_chars"),
        round(avg("_q"), 6).as("avg_quality"),
        sum("_pii").as("n_pii_docs"),
        sum("_empty").as("n_empty_docs"),
        count_distinct(col("_h")).as("n_unique_contents"))
  }

  // ---- cross-slice vocabulary statistics ----------------------------

  /** Pairwise vocabulary overlap between corpus slices (sources,
    * languages, snapshots): per unordered slice pair, the distinct-
    * token vocabulary sizes, intersection size, and Jaccard — the
    * source-similarity matrix a mixture designer reads before
    * setting [[Sampling.mixtureSample]] rates (two near-identical
    * crawls should not BOTH get high keep rates), and a cheap drift
    * probe between corpus versions.
    *
    * Output: (g_a, g_b, n_a, n_b, n_common, jaccard) with g_a < g_b,
    * jaccard rounded to 6 dp; pairs sharing no token are absent
    * (their jaccard is 0 by definition).
    *
    * Scale: the corpus collapses FIRST to distinct (slice, token) —
    * one map-side-combined aggregate, output bounded by per-slice
    * vocabulary, never corpus size. The pair join is keyed on token
    * over that vocabulary frame; each token contributes
    * O(slices-containing-it²) rows, bounded by the (small) slice
    * count — the corpus itself is scanned once and never re-joined.
    * Per-slice sizes broadcast back onto the ≤ slices² result.
    */
  def vocabularyOverlap(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val vocab = df.select(col(groupCol).cast("string").as("g"),
        explode(wsTokens(col(textCol))).as("tok"))
      .distinct()
    val sizes = vocab.groupBy("g").agg(count(lit(1)).as("n"))
    val inter = vocab.select(col("g").as("g_a"), col("tok"))
      .join(vocab.select(col("g").as("g_b"), col("tok")), "tok")
      .filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b").agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("g").as("g_a"), col("n").as("n_a"))), "g_a")
      .join(broadcast(sizes.select(col("g").as("g_b"), col("n").as("n_b"))), "g_b")
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
  }

  /** Per-slice unigram KL divergence from the whole-corpus token
    * distribution — "how unlike the average crawl does this source
    * talk": KL(p_slice ‖ p_corpus) = Σ_w p_s(w)·ln(p_s(w)/q(w)).
    * Every slice token is by construction in the corpus, so no zero
    * q(w) and no smoothing is needed — the statistic is exact and
    * cross-engine oracle-able. The domain-DISTINCTIVENESS companion
    * to [[vocabularyOverlap]]'s pairwise similarity: overlap says
    * which sources duplicate each other, KL says which diverge from
    * the mix (both feed [[Sampling.mixtureSample]] rate choices).
    *
    * Output: (g, n_tokens, vocab, kl), kl rounded to 6 dp.
    *
    * Scale: the corpus collapses to (slice, token) COUNTS
    * (map-side-combined, vocab-bounded); corpus counts and totals
    * re-aggregate from those counts, so every post-collapse frame is
    * vocabulary-sized (the plan audit shows a second scan only for
    * the corpus-total branch — a narrow token projection, no payload
    * rescan); the only join is vocab-frame × vocab-frame on token
    * (≤ slices rows per token); totals broadcast.
    */
  def sliceKlDivergence(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val sliceCounts = df.select(col(groupCol).cast("string").as("g"),
        explode(wsTokens(col(textCol))).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("c_s"))
    val sliceTotals = sliceCounts.groupBy("g")
      .agg(sum("c_s").as("t_s"), count(lit(1)).as("vocab"))
    val corpusCounts = sliceCounts.groupBy("tok").agg(sum("c_s").as("c"))
    val corpusTotal = sliceCounts.agg(sum("c_s").as("t"))
    val ps = col("c_s").cast("double") / col("t_s")
    val qs = col("c").cast("double") / col("t")
    sliceCounts
      .join(corpusCounts, "tok")
      .join(broadcast(sliceTotals), "g")
      .crossJoin(broadcast(corpusTotal))
      .select(col("g"), col("t_s"), col("vocab"),
        (ps * (log(ps) - log(qs))).as("term"))
      .groupBy("g")
      .agg(first(col("t_s")).as("n_tokens"), first(col("vocab")).as("vocab"),
        round(sum("term"), 6).as("kl"))
  }

  /** Collocation mining (Manning & Schütze ch. 5): the corpus's
    * frequent bigrams ranked by PMI against the unigram model —
    * "new york" scores high, "of the" scores low despite its count.
    * The corpus-analysis tool behind phrase vocabularies, tokenizer
    * merge seeding, and boilerplate phrase discovery.
    *
    * Exact answer over an unbounded vocabulary WITHOUT a
    * vocabulary-sized shuffle: frequent bigrams come from the
    * Misra–Gries sketch-then-recount pass ([[HeavyHitters]] — shuffle
    * O(partitions × k)); only the ≤ k candidates' member words get
    * exact unigram recounts (broadcast `isin` filter, ≤ 2k keys);
    * totals ride one narrow token-count scan. Four bounded-shuffle
    * scans of the tokenized text, zero corpus-vocabulary state —
    * the same reason `q_heavy_hitters` scales where a naive
    * `groupBy(bigram)` does not. Result is exact, hence oracled.
    *
    * Output: (w1, w2, n, pmi) for every bigram with exact count ≥
    * support·N_bigrams; pmi = ln((n/N_bg) / ((c₁/N_uni)·(c₂/N_uni)))
    * rounded to 6 dp; ordered n desc, then bigram asc.
    */
  def collocations(df: DataFrame, textCol: String,
                   support: Double): DataFrame = {
    require(support > 0 && support <= 1, s"support in (0,1], got $support")
    // Pass 1 of 2: MG sketch + exact bigram-stream length in one
    // partial-aggregating scan (the HeavyHitters shape, inlined so
    // pass 2 can fuse everything else — the 4-scan form this replaces
    // paid two extra corpus tokenizations, the r8 verdict's 3.1 s
    // watch item on q_collocations).
    val k = 2 * math.ceil(1.0 / support).toInt
    val sketchRow = df.select(explode(ngrams(col(textCol), 2)).as("bg"))
      .agg(graft.functions.Native.misraGries(col("bg"), k).as("cand"),
        count(col("bg")).as("n_bg"))
      .collect()(0)
    val nBg = sketchRow.getLong(1)
    val cand = sketchRow.getSeq[org.apache.spark.sql.Row](0)
      .map(_.getString(0))
    val minN = math.ceil(support * nBg).toLong
    if (cand.isEmpty || nBg == 0)
      return df.sparkSession.emptyDataFrame
        .select(lit("").as("w1"), lit("").as("w2"),
          lit(0L).as("n"), lit(0.0).as("pmi")).limit(0)
    val words = cand.flatMap(_.split(" ", 2)).distinct.toSeq
    // Pass 2 of 2: ONE scan emits every exact count as weighted
    // (key, w) pairs — candidate-bigram occurrences, member-word
    // occurrences (key spaces are disjoint: a bigram contains a
    // space, a token cannot), and the unigram total as one synthetic
    // NUL-prefixed key per row weighted by the row's token count.
    // ≤ 3k+1 keys after the map-side combine; checkpointed because
    // three tiny slices read it (the bounded-frame house pattern).
    val toksCol = wsTokens(col(textCol))
    val uniKey = "\u0000uni"
    val counts = df.select(explode(concat(
        transform(filter(ngrams(col(textCol), 2),
          b => b.isInCollection(cand)),
          b => struct(b.as("key"), lit(1L).as("w"))),
        transform(filter(toksCol, t => t.isInCollection(words)),
          t => struct(t.as("key"), lit(1L).as("w"))),
        array(struct(lit(uniKey).as("key"),
          size(toksCol).cast("long").as("w"))))).as("p"))
      .groupBy(col("p.key").as("key")).agg(sum(col("p.w")).as("n"))
      .localCheckpoint(true)
    val nUni = counts.filter(col("key") === uniKey)
      .collect()(0).getLong(1).toDouble
    val wordCounts = counts
      .filter(!col("key").contains(" ") && col("key") =!= uniKey)
    counts.filter(col("key").contains(" ") && col("n") >= minN)
      .withColumn("w1", substring_index(col("key"), " ", 1))
      .withColumn("w2", substring_index(col("key"), " ", -1))
      .join(broadcast(wordCounts.select(col("key").as("w1"),
        col("n").as("c1"))), "w1")
      .join(broadcast(wordCounts.select(col("key").as("w2"),
        col("n").as("c2"))), "w2")
      .select(col("w1"), col("w2"), col("n"),
        round(log((col("n") / nBg.toDouble) /
          ((col("c1") / nUni) * (col("c2") / nUni))), 6).as("pmi"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
  }

  /** Pointwise mutual information between two categorical columns —
    * for corpus metadata, "which language over/under-indexes in
    * which source": pmi(a,b) = ln(p(a,b) / (p(a)·p(b))), positive
    * when the pair co-occurs more than independence predicts. The
    * per-cell companion to [[sliceKlDivergence]]'s per-slice
    * divergence; together they tell a mixture designer which
    * (lang, source) cells to re-weight rather than whole sources.
    *
    * Output: (a, b, n, pmi), pmi rounded to 6 dp; cells with n = 0
    * are absent (their pmi is −∞ by definition).
    *
    * Scale: ONE map-side-combined groupBy (a, b) over the corpus;
    * marginals and the total re-aggregate from the O(|A|·|B|) joint
    * frame — the corpus is never rescanned or rejoined — and
    * broadcast back onto it. Counts multiply as doubles (two
    * corpus-sized longs would overflow their product).
    */
  def categoryPmi(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val joint = df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("n"))
    val ma = joint.groupBy("a").agg(sum("n").as("n_a"))
    val mb = joint.groupBy("b").agg(sum("n").as("n_b"))
    val tot = joint.agg(sum("n").as("t"))
    joint.join(broadcast(ma), "a").join(broadcast(mb), "b")
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("n"),
        round(log(col("n").cast("double") * col("t").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** Mutual information I(A;B) = Σ_{a,b} p(a,b)·pmi(a,b) — the
    * single dependence number (0 ⇔ independent; ≤ min entropy).
    * Same one-scan shape as [[categoryPmi]]; output (mi, n_rows).
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val joint = df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("n"))
    val ma = joint.groupBy("a").agg(sum("n").as("n_a"))
    val mb = joint.groupBy("b").agg(sum("n").as("n_b"))
    val tot = joint.agg(sum("n").as("t"))
    joint.join(broadcast(ma), "a").join(broadcast(mb), "b")
      .crossJoin(broadcast(tot))
      .select(((col("n").cast("double") / col("t")) *
        log(col("n").cast("double") * col("t").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")))).as("term"),
        col("t"))
      .agg(round(sum("term"), 6).as("mi"), first("t").as("n_rows"))
  }

  // ---- benchmark decontamination ------------------------------------

  /** N-gram-overlap contamination audit — the published
    * decontamination methodology of the GPT-3/Llama reports: a
    * training document is contaminated iff it shares any word n-gram
    * (n=13 standard) with the benchmark/eval set. Output per training
    * doc: (doc_id, n_contaminated_grams — DISTINCT shared grams —
    * and the contaminated flag). Complements the exact-content audit
    * (`q_contamination`): that catches verbatim leakage, this catches
    * partial/quoted leakage.
    *
    * Scale: grams are 64-bit hashes (never strings, see
    * Dedup.shingleHashes); the benchmark side is tiny by definition,
    * so its distinct gram set broadcasts and the corpus side is ONE
    * scan + semi-join + per-doc count — no corpus-gram shuffle at
    * any size. Collision odds (~|grams|²·2⁻⁶⁴) are far below any
    * audit threshold.
    */
  def ngramContamination(train: DataFrame, idCol: String, textCol: String,
                         bench: DataFrame, benchTextCol: String,
                         n: Int = 13): DataFrame = {
    val bg = bench
      .select(explode(Dedup.shingleHashes(col(benchTextCol), n)).as("h"))
      .distinct()
    val tg = train.select(col(idCol).as("doc_id"),
      explode(Dedup.shingleHashes(col(textCol), n)).as("h"))
    val hits = tg.join(broadcast(bg), Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
    train.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated_grams"), lit(0L)).as("n_contaminated_grams"))
      .withColumn("contaminated", col("n_contaminated_grams") > 0L)
  }

  /** Zipf-law fit of the token frequency distribution — the corpus
    * health check behind "does this look like natural language?":
    * natural text follows freq ∝ rank^s with s ≈ −1 (Zipf 1949);
    * machine-generated, templated, or truncated-vocabulary corpora
    * deviate (|s| ≪ 1 = too uniform; |s| ≫ 1 = too concentrated),
    * and drift in s between snapshots flags a pipeline change.
    * Ordinary least squares of ln(freq) on ln(rank) over the top-k
    * tokens: one row (n_points, slope, intercept, r2).
    *
    * Scale: the token count aggregate is the only corpus-sized step
    * (map-side combined); the fit runs on the top-k rows (take-
    * ordered, then a single-partition window over k rows) with
    * closed-form OLS sums. 4dp rounding absorbs the summation-order
    * ULP (the q_corr_stats precedent).
    */
  def zipfFit(df: DataFrame, tokenCol: String, k: Int = 100): DataFrame = {
    require(k >= 3, "need at least 3 rank points")
    import org.apache.spark.sql.expressions.Window
    val pts = df.groupBy(col(tokenCol)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(tokenCol)).limit(k)
      .withColumn("rank", row_number().over(
        Window.partitionBy().orderBy(col("n").desc, col(tokenCol))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    val np = count(lit(1)).cast("double")
    val det = np * sum(col("x") * col("x")) - sum("x") * sum("x")
    val cov = np * sum(col("x") * col("y")) - sum("x") * sum("y")
    val varY = np * sum(col("y") * col("y")) - sum("y") * sum("y")
    // Zero-guard the degenerate fits (the groupOls rule): an exactly
    // uniform distribution gives varY = 0 and identical-rank ties could
    // zero det — unguarded that is null in default Spark but a
    // job-killing error under ANSI mode and inf/NaN in a DuckDB oracle.
    val slope = when(det =!= 0.0, cov / det)
    pts.agg(
      count(lit(1)).as("n_points"),
      round(slope, 4).as("slope"),
      round((sum("y") - slope * sum("x")) / np, 4).as("intercept"),
      round(when(det * varY =!= 0.0, cov * cov / (det * varY)), 4).as("r2"))
  }
}
