package graft.ops

import graft.io.PersistedIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (100 TB): nothing here ever materializes the O(n²)
  * pair space. Exact dedup is a single hash aggregate (map-side
  * combined, so identical documents collapse before the shuffle —
  * which also removes the skew risk of a self-join on duplicate
  * keys). Near-dup candidates come from LSH banding: a self-join on
  * (band index, band hash), i.e. a shuffle on a uniform key, after
  * which only bucket-local pairs are compared.
  */
object Dedup {

  // ---- exact --------------------------------------------------------

  /** Content key for exact dedup. */
  def contentKey(text: Column): Column = md5(text.cast("binary"))

  /** One row per distinct content: the surviving (minimum) id and the
    * duplicate count. A groupBy, not a join: skew-proof.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(contentKey(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Duplication-factor audit: the cluster-size histogram every dedup
    * report leads with (cf. Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better", Table 2 — how much of the
    * corpus sits in clusters of size 1, 2, 3, …). One row per exact
    * cluster size: how many content clusters have that many copies,
    * how many documents they hold, their share of the corpus, and the
    * docs a hard dedup would remove (`excess_docs` = docs − clusters).
    *
    * Two cascaded map-side-combined aggregates — content-key counts
    * (the dedup shuffle the pipeline already pays) then a histogram
    * over cluster sizes whose cardinality is O(distinct sizes), a few
    * dozen rows on any real corpus. The corpus total for `doc_share`
    * comes from a global window over the HISTOGRAM rows (single
    * partition of a few dozen rows), not a second aggregate branch —
    * a self-join on the cluster table would re-run the whole dedup
    * shuffle, since Spark does not share work between plan branches.
    * The corpus is scanned exactly once.
    */
  def clusterSizeProfile(df: DataFrame, textCol: String,
                         idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = exactDedup(df, textCol, idCol)
      .groupBy(col("n_copies").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum("n_copies").as("n_docs"))
    hist.withColumn("n_total", sum("n_docs").over(Window.partitionBy()))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("doc_share"),
        (col("n_docs") - col("n_clusters")).as("excess_docs"))
  }

  /** Exact-duplicate PAIRS (`id_a` < `id_b`, equal content) in the
    * generic near-dup pair shape, so the exact path can feed the same
    * pairs → resolveGroups → anti-join pipeline as the approximate
    * detectors (and oracle it end-to-end — content groups are exactly
    * computable in any engine). One aggregation emitting (group min,
    * other) star pairs: output is LINEAR in corpus size — there is no
    * self-join that would go quadratic on mass-duplicated content,
    * and no per-group id array at ANY copy count (see below).
    */
  def exactPairs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactPairsByKey(df, idCol, contentKey(col(textCol)))

  /** `exactPairs` over an arbitrary caller-supplied grouping key —
    * e.g. `normalizedContentKey` for case/punctuation-insensitive
    * exact dedup, or a URL / fingerprint column.
    *
    * Shape: one map-side-combined `min`/`count` aggregate per key
    * (each group collapses to a single tiny row — skew-proof), then
    * the keyed ids join back on the key to stream out (min, other)
    * star pairs. No `collect_list`: the previous formulation's
    * per-key member array put a ~GB buffer on one reducer for a
    * 10⁸-copy viral content; here that key is one aggregate row and
    * a probe-side-skewed hash join that AQE can split — constant
    * memory per task. Costs a second (2-column) scan of `df`; at
    * corpus scale a linear re-scan beats a single-reducer array by
    * construction.
    *
    * Null keys never pair: the inner join back on `content_key` drops
    * them (SQL null ≠ null), which is the semantics we want — a null
    * text is absent content, not content equal to other null texts.
    */
  def exactPairsByKey(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val keyed = df.select(key.as("content_key"), col(idCol).as("__pair_id"))
    val mins = keyed.groupBy("content_key")
      .agg(min(col("__pair_id")).as("id_a"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1).drop("__n")
    keyed.join(mins, "content_key")
      .filter(col("__pair_id") =!= col("id_a"))
      .select(col("id_a"), col("__pair_id").as("id_b"))
  }

  /** SOFT dedup: per-doc sampling weight 1/n over its exact-content
    * group, so each distinct content contributes ONE unit of training
    * mass regardless of copy count — the suppression alternative to
    * hard removal (keeps provenance diversity, no survivor choice).
    * One map-side-combined count per content key joined back on the
    * key — no member lists, no windows; a 10⁸-copy content is one
    * aggregation row and a hash-join fan-out.
    */
  def dedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("id"),
      contentKey(col(textCol)).as("content_key"))
    val counts = keyed.groupBy("content_key").agg(count(lit(1)).as("n"))
    keyed.join(counts, "content_key")
      .select(col("id"), (lit(1.0) / col("n")).as("weight"))
  }

  /** Canonical text form for normalization-insensitive exact dedup
    * (the C4-style cleanup): lowercase, strip everything but
    * `[a-z0-9 ]` (punctuation, digits stay), collapse whitespace
    * runs, trim. Pure codegen'd string expressions — one pass.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(graft.functions.Native.lower(text), "[^a-z0-9 ]", ""),
      " +", " "))

  /** Content key of the NORMALIZED text: case / punctuation /
    * whitespace variants of the same content collapse to one group
    * while the raw texts (and so their quality scores) stay distinct —
    * the grouping that `resolveGroupsByQuality` discriminates within.
    */
  def normalizedContentKey(text: Column): Column =
    contentKey(normalizeText(text))

  // ---- shingling / MinHash ------------------------------------------

  /** Distinct word n-gram shingles of a document (string form — see
    * shingleHashes for the cheaper hashed form; TextAnalysis.ngrams
    * documents why this is slices+zip_with, not transform+slice).
    */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(TextAnalysis.ngrams(text, n))

  /** Distinct n-gram shingles as 64-bit HASHES, never materializing
    * the shingle strings: tokens are hashed once, and a shingle hash
    * combines the n consecutive token hashes (xxhash64 over n longs =
    * a few ns, vs. slice+concat building an ~20-char string per
    * position). Measured at sf0.1 this is the dominant cost of
    * minhash dedup — string shingling alone was 3.8 s of a 5.5 s
    * signature pass; hashed shingling removes it. Collisions
    * (~2⁻⁶⁴ per pair) are far below LSH's own error.
    */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(positionalShingleHashes(text, n))

  /** n-gram shingle hashes at EVERY token position (no distinct):
    * element i is the hash of tokens [i, i+n). For callers that count
    * occurrences or need to rebuild a gram string at a known position
    * (passage dedup, boilerplate detection) — the same "never
    * materialize the shingle strings" trick as shingleHashes, whose
    * measured saving (3.8 s of a 5.5 s signature pass at sf0.1) was
    * entirely the per-position string building.
    */
  def positionalShingleHashes(text: Column, n: Int): Column =
    graft.functions.Native.gramHashes(TextAnalysis.wsTokens(text), n)

  /** The composed-HOF form `gramHashes` replaces — kept ONLY as the
    * independent reference for the kernel's bit-identity spec. The
    * slices+zip_with shape (vs transform+element_at, which
    * re-evaluates the token-hash array per OUTPUT element — no
    * subexpression elimination inside HOF lambdas, ~100x slower)
    * was itself the optimized composed form; the kernel replaces its
    * n interpreted zip_with passes and n−1 intermediate arrays per
    * document with one primitive loop.
    */
  private[graft] def positionalShingleHashesComposed(text: Column, n: Int): Column = {
    val th = transform(TextAnalysis.wsTokens(text), t => xxhash64(t))
    if (n == 1) th
    else {
      val cnt = size(th) - (n - 1)
      val shifted = (0 until n).map(j => slice(th, lit(j + 1), greatest(cnt, lit(0))))
      val combined = shifted.reduce((a, b) => zip_with(a, b, (x, y) => xxhash64(x, y)))
      when(cnt <= 0, array().cast("array<bigint>")).otherwise(combined)
    }
  }

  /** k-permutation MinHash signature of a shingle array. Each
    * "permutation" is xxhash64 seeded by the permutation index (the
    * index is mixed in as an extra hashed column); the signature
    * component is the minimum over shingles. Works on string shingles
    * or on shingleHashes output (hashing a long is cheaper).
    *
    * ONE fold over the shingle array computes all k minima (a k-vector
    * accumulator), instead of k separate scans — at 100 TB the
    * difference is k× the per-row work. Empty input → all-MaxValue
    * signature, so ALL empty-shingle docs (fewer than shingleN
    * tokens) estimate jaccard 1.0 with each other even when their
    * texts differ — pre-filter short docs or lower shingleN if that
    * cross-matching is unwanted.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    aggregate(
      shingles,
      array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, i) => least(m, xxhash64(i, s))))

  /** Universal-hash MinHash: permutation i is the affine map
    * h_i(x) = (a_i·H(x) + b_i) mod p over the 31-base polynomial
    * shingle hash H (the same DuckDB-reproducible hash as
    * TextAnalysis.fingerprint), with a_i odd and p = 1e9+7. Unlike the
    * xxhash64 family this is expressible in ANSI SQL, so the signature
    * COMPUTATION is oracle-checkable cross-engine, not just its
    * downstream use. One fold computes the base hashes, one fold the
    * k minima.
    */
  val UniversalP = 1000000007L

  /** Seeded pseudo-random (a, b) pairs for the affine permutations.
    * a must be a LARGE odd-ish multiplier — tiny a (1, 3, 5…) barely
    * permutes the hash order, making every component pick nearly the
    * same minimum and wrecking the jaccard estimate.
    */
  def universalParams(k: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(9001)
    Seq.fill(k)((
      (math.abs(rng.nextLong()) % (UniversalP - 2)) + 1,
      math.abs(rng.nextLong()) % UniversalP))
  }

  def universalMinhashSignature(shingles: Column, k: Int): Column =
    // native codegen'd kernel; bit-identical to the fold form below
    // (spec'd), which remains as the cross-checkable reference
    graft.functions.Native.polyMinHash(shingles, k, universalParams(k))

  /** `universalMinhashSignature(wordShingles(text, n), k)` fused into
    * one kernel pass over the tokens: the polynomial composes over
    * concatenation and a minimum is multiplicity-blind, so neither
    * the gram strings nor their distinct need materializing
    * (bit-identity spec'd against the string form).
    */
  def universalMinhashGramSignature(text: Column, n: Int, k: Int): Column =
    graft.functions.Native.polyMinHashGrams(
      TextAnalysis.wsTokens(text), n, k, universalParams(k))

  /** The composed-HOF reference form of universalMinhashSignature —
    * kept so the bit-identity of the native kernel is continuously
    * spec-checked against an independent implementation.
    */
  private[ops] def universalMinhashSignatureFold(shingles: Column, k: Int): Column = {
    val params = array(universalParams(k).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    val baseHashes = transform(shingles, (s: Column) => tokenHash(s))
    aggregate(
      baseHashes,
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc, params,
        (m, p) => least(m, pmod(h * p.getField("a") + p.getField("b"), lit(UniversalP)))))
  }

  /** LSH band keys: the signature split into `bands` equal bands, each
    * band hashed to one long. Docs sharing any band key are candidate
    * pairs at jaccard ≈ (1/b)^(1/r).
    */
  def bandKeys(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    array((0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until r).map(j => signature.getItem(b * r + j))): _*)
    }: _*)
  }

  /** Estimated jaccard from two signatures: matching fraction. */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA)

  /** Exact jaccard of two (distinct-element) arrays. */
  def exactJaccard(a: Column, b: Column): Column = {
    val unionSize = size(array_union(a, b))
    when(unionSize === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") / unionSize)
  }

  // ---- exact-content collapse (shared by the near-dup detectors) ----

  /** One row per distinct (blocking keys, content): the content key,
    * the representative (minimum) id, the member count, and one copy
    * of the text. Near-dup candidate generation runs on these
    * REPRESENTATIVES, because mass-duplicated content — the normal
    * state of a web corpus, where boilerplate repeats millions of
    * times — multiplies every LSH bucket by the copy count and the
    * candidate-pair space by its SQUARE (measured on a 10×-replicated
    * corpus: blocked jaccard 50× slower, minhash 12×). The collapse
    * is one LINEAR md5-keyed aggregation (map-side combined; the
    * shuffle carries each distinct text once), after which member
    * pairs are re-expanded by linear joins against `memberFrame`.
    * Trade-off vs per-copy signatures: one pass of text bytes through
    * a shuffle buys duplication-invariant candidate generation and
    * computes the (dominant) shingling/signature cost once per
    * DISTINCT content instead of once per copy.
    *
    * The collapse carries NO per-group id list: a single viral
    * content with ~10⁸ copies would land one ~0.8 GB
    * `collect_list` array on one reducer — an OOM at exactly the
    * corpus pathology the collapse exists to survive. Member-level
    * expansion instead joins back through `memberFrame`; a join's
    * per-key buffer streams and spills to disk, an aggregation
    * buffer does not.
    *
    * NULL-text rows are EXCLUDED (here and in `memberFrame`): null is
    * "content unknown", not "equal content" — grouping nulls would
    * silently report every null-text doc as an exact duplicate of
    * every other and a dedup pipeline would drop all but one.
    */
  private[ops] def collapseByContent(df: DataFrame, idCol: String,
                                textCol: String,
                                blockCols: Seq[String] = Nil): DataFrame =
    df.filter(col(textCol).isNotNull)
      .groupBy(blockCols.map(col) :+ contentKey(col(textCol)).as("content_key"): _*)
      .agg(min(col(idCol)).as("rep_id"),
        count(lit(1)).as("n_copies"),
        first(col(textCol)).as("rep_text"))

  /** The (blocking keys, content_key, id) member rows backing a
    * collapse — the join-back side for member-level pair expansion.
    * A narrow projection of the source (one md5 per row), not an
    * aggregation: nothing here is per-group state.
    */
  private[ops] def memberFrame(df: DataFrame, idCol: String, textCol: String,
                               blockCols: Seq[String] = Nil): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(blockCols.map(col) ++ Seq(
        contentKey(col(textCol)).as("content_key"), col(idCol).as("id")): _*)

  /** All ordered member pairs of each multi-copy group, each scored by
    * the group's `score` expression (evaluated against `collapsed`'s
    * columns). Two joins of the member frame against the multi-copy
    * groups on the hash-uniform `keyCols`: the output is the group's
    * full pair clique — inherently quadratic in the copy count,
    * because that IS the answer — but it is produced streaming
    * through spillable join buffers, never as a per-key in-memory
    * array. `carry` must be a subset of `keyCols`.
    */
  private[ops] def withinGroupPairs(collapsed: DataFrame, members: DataFrame,
                               keyCols: Seq[String], score: Column,
                               scoreName: String,
                               carry: Seq[String] = Nil): DataFrame =
    collapsed.filter(col("n_copies") > 1)
      .select(keyCols.map(col) :+ score.as(scoreName): _*)
      .join(members.select(keyCols.map(col) :+ col("id").as("id_a"): _*), keyCols)
      .join(members.select(keyCols.map(col) :+ col("id").as("id_b"): _*), keyCols)
      .filter(col("id_a") < col("id_b"))
      .select(carry.map(col) ++ Seq(col("id_a"), col("id_b"), col(scoreName)): _*)

  /** Expand representative-level pairs to member-level pairs: the
    * member frame picks up its group's `rep_id` by joining `collapsed`
    * on `keyCols`, then each pair side joins on the representative id,
    * re-orienting so id_a < id_b (members of different groups
    * interleave arbitrarily). Linear in output size; every join
    * shuffles on a hash-uniform key; no per-key arrays anywhere.
    */
  private[ops] def expandRepPairs(repPairs: DataFrame, collapsed: DataFrame,
                             members: DataFrame, keyCols: Seq[String],
                             scoreName: String,
                             carry: Seq[String] = Nil): DataFrame = {
    val mem = members
      .join(collapsed.select(keyCols.map(col) :+ col("rep_id"): _*), keyCols)
      .select(col("rep_id"), col("id"))
    repPairs
      .join(mem.select(col("rep_id").as("ra"), col("id").as("ia")), "ra")
      .join(mem.select(col("rep_id").as("rb"), col("id").as("ib")), "rb")
      .select(carry.map(col) ++ Seq(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col(scoreName)): _*)
  }

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * Plan shape: exact-content collapse → per-DISTINCT-content
    * signature (one scan) → explode band keys → self-equi-join on
    * (band, key) → distinct rep pairs → estimated jaccard filter →
    * member expansion (plus the within-group exact pairs, whose
    * identical signatures estimate jaccard 1.0 by definition). The
    * shuffles are the collapse, the band-key join and the pair
    * distinct; all keys are hash-uniform, and none of them grows with
    * the corpus's duplication factor.
    */
  /** Per-DISTINCT-content minhash signatures of a collapse:
    * (id = rep_id, sig). The expensive leaf of every minhash path.
    */
  private[ops] def repSignatures(collapsed: DataFrame, shingleN: Int,
                                 k: Int): DataFrame =
    // the PORTABLE fused kernel (polynomial gram hash mod P — the
    // same construction q_minhash_sig oracles cross-engine), so every
    // minhash path — pairs, band indexes, incremental probes — rides
    // one hash family a DuckDB oracle can replicate exactly. Equally
    // fused/codegen'd as the previous xxhash64-combined shingle form
    // (neither materializes gram strings); signatures from the two
    // families don't interoperate, so this is a one-time index-format
    // change, versioned by the index `_meta` convention.
    collapsed.select(
      col("rep_id").as("id"),
      universalMinhashGramSignature(col("rep_text"), shingleN, k).as("sig"))

  /** Representative-level MinHash+LSH candidate pairs
    * (`ra` < `rb`, `est_jaccard` ≥ threshold) from a signature table
    * (id, sig). Split out — like simhashRepPairs — so the
    * duplication-invariance spec can assert the candidate set is
    * literally identical whatever the corpus's copy factor, and so
    * the persisted band-index path reuses the exact same join.
    *
    * Band join carries only ids — the k-long signatures are re-joined
    * once per side AFTER the pair-distinct, so the (bands ×
    * candidates) shuffle moves two longs per row, not arrays.
    */
  private[ops] def minhashRepPairs(sigs: DataFrame, k: Int, bands: Int,
                                   threshold: Double): DataFrame = {
    val banded = sigs.select(col("id"),
      posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
    banded.select(col("band"), col("key"), col("id").as("ra"))
      .join(banded.select(col("band"), col("key"), col("id").as("rb")), Seq("band", "key"))
      .filter(col("ra") < col("rb"))
      .select("ra", "rb").distinct()
      .join(sigs.select(col("id").as("ra"), col("sig").as("sig_a")), "ra")
      .join(sigs.select(col("id").as("rb"), col("sig").as("sig_b")), "rb")
      .select(col("ra"), col("rb"),
        estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 1,
      k: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    // The collapse feeds the signature table AND both member
    // expansions; signatures are the expensive leaf and feed FOUR
    // plan subtrees (both self-join sides + both rejoins) — persist
    // both so each is computed once. NOTE: the caches must outlive
    // the returned (lazy) DataFrame, so they are NOT unpersisted
    // here; callers running this repeatedly in a long-lived session
    // should materialize the result and spark.catalog.clearCache()
    // between batches.
    val collapsed = collapseByContent(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = memberFrame(df, idCol, textCol)
    val sigs = repSignatures(collapsed, shingleN, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repPairs = minhashRepPairs(sigs, k, bands, threshold)
    withinGroupPairs(collapsed, members, Seq("content_key"), lit(1.0), "est_jaccard")
      .filter(col("est_jaccard") >= threshold)
      .unionByName(expandRepPairs(repPairs, collapsed, members,
        Seq("content_key"), "est_jaccard"))
  }

  /** Blocked exact n-gram-jaccard near-dup pairs: all pairs within a
    * blocking key (e.g. source) — lossless within the block and fully
    * SQL-expressible, for corpora where a natural partition bounds the
    * pair space. The unblocked scale path is minhashPairs + this
    * metric on candidates only.
    */
  def blockedJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleN: Int,
      threshold: Double): DataFrame = {
    // Exact-content collapse first (per block): identical texts would
    // otherwise multiply the within-block pair space by the copy
    // count SQUARED while every such pair's jaccard is knowable
    // without an intersection (1.0, or 0.0 for shingle-less texts).
    // The expensive per-pair merge walk then runs once per DISTINCT
    // content pair. Persisted because it feeds both join sides and
    // the member expansion.
    val collapsed = collapseByContent(df, idCol, textCol, Seq(blockCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = memberFrame(df, idCol, textCol, Seq(blockCol))
    // Shingles are carried as SORTED distinct hashes and each pair's
    // intersection is a native codegen'd merge walk
    // (SortedIntersectCount) — the per-pair cost is what dominates a
    // blocked similarity join, and array_intersect's per-call hash
    // set multiplied by the pair count was the single slowest step of
    // the whole suite. |union| = |a| + |b| − |∩| for distinct sets.
    // (Hash collisions could in principle inflate a jaccard by
    // ~|sh|²/2⁶⁴ — far below any meaningful threshold granularity.)
    val d = collapsed.select(col(blockCol).as("block"), col("rep_id").as("id"),
      array_sort(shingleHashes(col("rep_text"), shingleN)).as("sh"))
    val a = d.select(col("block"), col("id").as("ra"), col("sh").as("sh_a"),
      size(col("sh")).as("n_a"))
    val b = d.select(col("block"), col("id").as("rb"), col("sh").as("sh_b"),
      size(col("sh")).as("n_b"))
    val c = graft.functions.Native.sortedIntersectCount(col("sh_a"), col("sh_b"))
    val unionSize = col("n_a") + col("n_b") - col("c")
    val repPairs = a.join(b, "block")
      .filter(col("ra") < col("rb"))
      // size prefilter: jaccard <= min(|a|,|b|)/max(|a|,|b|), so pairs
      // failing the ratio can't clear the threshold — skip the
      // expensive intersect for them (semantics unchanged)
      .filter(least(col("n_a"), col("n_b")) >=
              greatest(col("n_a"), col("n_b")) * threshold)
      .select(col("block"), col("ra"), col("rb"), col("n_a"), col("n_b"),
        c.as("c"))
      .select(col("block"), col("ra"), col("rb"),
        when(unionSize === 0, 0.0)
          .otherwise(col("c").cast("double") / unionSize).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // Identical texts: jaccard 1.0 when they have shingles at all,
    // 0.0 otherwise (matching exactJaccard on two empty sets).
    val exactScore = when(
      size(shingleHashes(col("rep_text"), shingleN)) > 0, 1.0).otherwise(0.0)
    withinGroupPairs(collapsed, members, Seq(blockCol, "content_key"),
        exactScore, "jaccard", carry = Seq(blockCol))
      .withColumnRenamed(blockCol, "block")
      .filter(col("jaccard") >= threshold)
      .unionByName(expandRepPairs(repPairs, collapsed, members,
        Seq(blockCol, "content_key"), "jaccard", carry = Seq("block")))
  }

  // ---- exact substring-level dedup -----------------------------------

  /** Exact duplicated-substring SPANS, the scalable form of
    * suffix-array training-data dedup (the public-literature standard
    * for "this passage appears elsewhere in the corpus"): a token
    * position is covered when its n-token gram occurs at least
    * `minCount` times corpus-wide (any second occurrence — another
    * doc or the same one — exactly as a suffix array would match it);
    * maximal runs of consecutive covered positions merge into one
    * span row (`doc_id`, `start_token`, `end_token`, `n_tokens`).
    * Every duplicated substring of ≥ n tokens is reported (all its
    * grams are duplicated), and every reported gram IS a duplicated
    * n-token substring — exact up to the ~2⁻⁶⁴ xxhash64 collision
    * rate, with no suffix array to build.
    *
    * Plan shape: one positional-gram-hash explode (linear in corpus
    * tokens, fixed-width rows, no gram strings), a map-side-combined
    * count on the uniform hash key, a semi-join back, and a per-doc
    * window over COVERED positions only (gaps-and-islands:
    * pos − row_number). Downstream filters use it as the C4-style
    * "drop docs with high duplicate coverage" signal or to cut the
    * spans out.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = df.select(col(idCol).as("doc_id"),
      posexplode(positionalShingleHashes(col(textCol), n)).as(Seq("pos", "h")))
    // Occurrence count as a map-side-combined groupBy(h) + semi-join
    // back, NOT count().over(Window.partitionBy("h")): the window form
    // lands EVERY occurrence of one gram hash on one task, and a hot
    // boilerplate 8-gram in a web corpus has 10⁸⁺ occurrences — one
    // straggler buffering the whole posting list. The aggregate
    // partial-combines to one row per distinct gram per map task, and
    // the join back is AQE-skew-splittable (a window is not). Costs a
    // second corpus explode; worth it for the bounded-task guarantee.
    val dupGrams = pos.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val covered = pos
      .join(dupGrams.select("h"), Seq("h"), "left_semi")
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    covered
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).cast("long").as("start_token"),
        (max(col("pos")) + (n - 1)).cast("long").as("end_token"),
        (max(col("pos")) - min(col("pos")) + n).cast("long").as("n_tokens"))
      .select("doc_id", "start_token", "end_token", "n_tokens")
  }

  /** Per-doc duplicate-coverage fraction: distinct tokens covered by
    * some duplicated n-gram over total tokens — the scalar the
    * "drop docs that are mostly duplicated text" filter thresholds
    * on. Docs with no duplicated gram report 0.0.
    */
  def duplicateCoverage(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 8, minCount: Long = 2L): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, n, minCount)
    // token spans of nearby runs can overlap (two runs separated by
    // < n gram positions), so count DISTINCT covered token positions
    val coveredTokens = spans
      .select(col("doc_id"),
        explode(sequence(col("start_token"), col("end_token"))).as("tok"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("total"))
      .join(coveredTokens, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("total") === 0, 0.0)
          .otherwise(coalesce(col("covered"), lit(0L)).cast("double") / col("total"))
          .as("dup_fraction"))
  }

  /** The dedup ACTION behind `duplicateSpans`: remove each duplicated
    * passage everywhere EXCEPT its canonical (globally first, by
    * (doc, pos)) occurrence, re-emitting cleaned single-space-joined
    * token text. A token is removed iff some duplicated n-gram covers
    * it AND no CANONICAL duplicated occurrence covers it — so the
    * first copy of a repeated passage survives intact and later
    * copies (in other docs, or later in the same doc) are cut, the
    * keep-one-copy semantics of suffix-array training-data dedup.
    * Output: (doc_id, clean_text, n_removed).
    *
    * Per-doc removed-position sets ride a `collect_set` bounded by
    * the DOC's token count (not by corpus duplication), so there is
    * no unbounded per-key state.
    */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minCount: Long = 2L): DataFrame = {
    val pos = df.select(col(idCol).as("doc_id"),
      posexplode(positionalShingleHashes(col(textCol), n)).as(Seq("pos", "h")))
    // Count + canonical-first-occurrence as ONE map-side-combined
    // aggregate per distinct gram (count, min(struct(doc_id, pos)))
    // joined back — the skew-safe shape; see duplicateSpans for why a
    // Window.partitionBy("h") is a single-task posting list at scale.
    val gramStats = pos.groupBy("h")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("mn"))
      .filter(col("cnt") >= minCount)
    val marked = pos
      .join(gramStats, Seq("h"))
      .select(col("doc_id"), col("pos"),
        (struct(col("doc_id"), col("pos")) === col("mn")).as("canon"))
    val removed = marked
      .select(col("doc_id"), col("canon"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tok"))
      .groupBy("doc_id", "tok").agg(max(col("canon")).as("any_canon"))
      .filter(!col("any_canon"))
      .groupBy("doc_id").agg(collect_set(col("tok")).as("rm"))
    // Token rebuild is a codegen'd merge walk over the SORTED removed
    // set (O(tokens + removed) per doc); the per-token array_contains
    // it replaces was O(tokens × removed) — quadratic on a long
    // fully-duplicated doc. coalesce keeps concat_ws's never-null
    // contract for null-text rows.
    df.select(col(idCol).as("doc_id"), TextAnalysis.wsTokens(col(textCol)).as("toks"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(
          graft.functions.Native.concatExcluding(col("toks"),
            array_sort(coalesce(col("rm"), array().cast("array<int>")))),
          lit("")).as("clean_text"),
        // size() on the COALESCED array, not coalesce(size(),0):
        // under ANSI-off SQL, size(NULL) is -1 (not NULL), so the
        // outer coalesce never fires and every no-removal doc reads
        // -1. Coalescing the array first is dialect-mode-invariant.
        size(coalesce(col("rm"), array().cast("array<int>")))
          .cast("long").as("n_removed"))
  }

  // ---- incremental (corpus vs delta) --------------------------------

  /** Near-dup pairs BETWEEN an existing corpus and an incoming batch:
    * (`id_ex`, `id_in`, `est_jaccard`). Both sides collapse exact
    * content first; candidates come from an equi-join of the incoming
    * batch's band keys against the existing corpus's — the
    * daily-delta path, where the index is scanned once and history is
    * never re-paired against itself. At 100 TB, persist the existing
    * side's banded signatures as a bucketed table
    * (io.Sources.writeBucketed on the band key) so successive deltas
    * join shuffle-free.
    */
  def minhashPairsAgainst(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 1,
      k: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val (ce, ci, repPairs, _) = repPairsAgainstImpl(existing, incoming,
      idCol, textCol, shingleN, k, bands, threshold)
    val me = memberFrame(existing, idCol, textCol)
      .join(ce.select("content_key", "rep_id"), "content_key")
      .select(col("rep_id").as("ra"), col("id").as("id_ex"))
    val mi = memberFrame(incoming, idCol, textCol)
      .join(ci.select("content_key", "rep_id"), "content_key")
      .select(col("rep_id").as("rb"), col("id").as("id_in"))
    repPairs.join(me, "ra").join(mi, "rb")
      .select(col("id_ex"), col("id_in"), col("est_jaccard"))
  }

  /** Representative-level cross pairs plus both collapses and the
    * persisted datasets, so each caller expands only the member side
    * it needs — dedupIncrement consumes only incoming ids, and
    * expanding the EXISTING side there would cost a full extra
    * history scan + content-key shuffle per delta — and can release
    * the caches once the pairs are materialized.
    */
  private def repPairsAgainstImpl(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      k: Int,
      bands: Int,
      threshold: Double): (DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    def side(df: DataFrame) = {
      val collapsed = collapseByContent(df, idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sigs = repSignatures(collapsed, shingleN, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val banded = sigs.select(col("id"),
        posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
      (collapsed, sigs, banded)
    }
    val (ce, se, be) = side(existing)
    val (ci, si, bi) = side(incoming)
    val repPairs = be.select(col("band"), col("key"), col("id").as("ra"))
      .join(bi.select(col("band"), col("key"), col("id").as("rb")), Seq("band", "key"))
      .select("ra", "rb").distinct()
      .join(se.select(col("id").as("ra"), col("sig").as("sig_a")), "ra")
      .join(si.select(col("id").as("rb"), col("sig").as("sig_b")), "rb")
      .select(col("ra"), col("rb"),
        estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    (ce, ci, repPairs, Seq(ce, se, ci, si))
  }

  /** Build and PERSIST the minhash band index of a corpus as three
    * bucketed tables, so successive deltas dedup against history
    * without ever re-collapsing or re-signing it:
    *
    *   `<name>_bands`   (bkey, band, key, id)  bucketed by bkey
    *   `<name>_sigs`    (id, sig)              bucketed by id
    *   `<name>_members` (rep_id, id)           bucketed by rep_id
    *   `<name>_meta`    (shingle_n, k, bands)  one row
    *
    * Each table is bucketed on exactly the key the delta path joins
    * it on, so every index-side join in `minhashPairsAgainstIndex`
    * is exchange-free — the shuffle happened once, at write time.
    * This is the promoted form of the hand-built shape proven in
    * IncrementalDedupSpec; at 100 TB the index is written once per
    * corpus version and read by every daily delta. The `_meta` check,
    * the append bucket count, compaction and dropping follow the
    * shared contract of `graft.io.PersistedIndex`.
    */
  /** `membersTable = false` builds an INGEST-ONLY index: the
    * `_members` table (the largest, one row per corpus doc) exists to
    * expand existing-side ids in `minhashPairsAgainstIndex`; a
    * drop-decision consumer (`minhashHitsAgainstIndex`, streaming
    * ingest) never reads it, and skipping it cuts the biggest write
    * of the build (~20% at sf0.1).
    */
  def buildBandIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      name: String,
      shingleN: Int = 1,
      k: Int = 32,
      bands: Int = 16,
      buckets: Int = 32,
      membersTable: Boolean = true): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    def write(table: String)(body: => Unit): Unit =
      graft.JobLabel(spark, s"Dedup.buildBandIndex write=$table")(body)
    // Build parameters ride with the index in `<name>_meta` and the
    // probe path derives them from there: probing a shingleN=3 index
    // with shingleN=1 signatures would silently yield a wrong or
    // near-empty pair set — parameters must be a property of the
    // index, not a caller convention.
    write("meta")(PersistedIndex.writeMeta(
      Seq((shingleN, k, bands)).toDF("shingle_n", "k", "bands"), name))
    val collapsed = collapseByContent(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sigs persisted too: the signature pass is the expensive leaf
    // and BOTH the bands write and the sigs write consume it — left
    // lazy it runs twice (measured ~2 s of a 7.7 s sf0.1 build). It
    // runs inside the first write, so its jobs carry write=bands.
    val sigs = repSignatures(collapsed, shingleN, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = sigs.select(col("id"),
          posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
        .withColumn("bkey", xxhash64(col("band"), col("key")))
        .select("bkey", "band", "key", "id")
      write("bands")(graft.io.Sources.writeBucketed(banded, s"${name}_bands", "bkey", buckets))
      write("sigs")(graft.io.Sources.writeBucketed(sigs, s"${name}_sigs", "id", buckets))
      if (membersTable) {
        val members = memberFrame(df, idCol, textCol)
          .join(collapsed.select("content_key", "rep_id"), "content_key")
          .select(col("rep_id"), col("id"))
        write("members")(
          graft.io.Sources.writeBucketed(members, s"${name}_members", "rep_id", buckets))
      }
    } finally { collapsed.unpersist(); sigs.unpersist() }
  }

  /** The tables of a band index, `<name>_<table>`. */
  val BandIndexTables: Seq[String] = Seq("meta", "bands", "sigs", "members")

  /** Append a DELTA corpus to a persisted band index: collapse, sign
    * and band the delta with the index's own `_meta` parameters and
    * append to the bucketed tables — growing the corpus never
    * re-collapses or re-signs history (the mirror of
    * `Similarity.appendToIvfIndex`). Content present on both sides
    * ends up with one representative per side; that is harmless:
    * probes see identical signatures either way, and member expansion
    * unions both sides' member rows, so `minhashPairsAgainstIndex`
    * output is exactly what an index rebuilt from the full corpus
    * yields (spec'd). The `_members` table is appended only if the
    * index was built with one.
    */
  def appendToBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      delta: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val (shingleN, k, bands) = bandMeta(spark, name)
    val buckets = PersistedIndex.buckets(spark, s"${name}_bands")
    val collapsed = collapseByContent(delta, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = repSignatures(collapsed, shingleN, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = sigs.select(col("id"),
          posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
        .withColumn("bkey", xxhash64(col("band"), col("key")))
        .select("bkey", "band", "key", "id")
      graft.io.Sources.appendBucketed(banded, s"${name}_bands", "bkey", buckets)
      graft.io.Sources.appendBucketed(sigs, s"${name}_sigs", "id", buckets)
      if (spark.catalog.tableExists(s"${name}_members")) {
        val members = memberFrame(delta, idCol, textCol)
          .join(collapsed.select("content_key", "rep_id"), "content_key")
          .select(col("rep_id"), col("id"))
        graft.io.Sources.appendBucketed(members, s"${name}_members", "rep_id", buckets)
      }
    } finally { collapsed.unpersist(); sigs.unpersist() }
  }

  /** Compact a persisted band index's bucketed tables to one file
    * per bucket (see `PersistedIndex.compact`) — the periodic
    * maintenance step after many `appendToBandIndex` deltas. Probe
    * results and the exchange-free probe plan are unchanged; only
    * the file count drops. `_meta` is one tiny unbucketed file and
    * needs no compaction.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       name: String): Unit = {
    PersistedIndex.compact(spark, s"${name}_bands", "bkey")
    PersistedIndex.compact(spark, s"${name}_sigs", "id")
    if (spark.catalog.tableExists(s"${name}_members"))
      PersistedIndex.compact(spark, s"${name}_members", "rep_id")
  }

  /** (shingleN, k, bands) of a persisted band index, from its `_meta`. */
  private def bandMeta(spark: org.apache.spark.sql.SparkSession,
                       name: String): (Int, Int, Int) = {
    val m = PersistedIndex.meta(spark, name)
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** Near-dup pairs (`id_ex`, `id_in`, `est_jaccard`) between a
    * PERSISTED band index (see `buildBandIndex`) and an incoming
    * batch. Only the incoming side is collapsed, signed and banded;
    * the index tables are scanned in place, and because each is
    * bucketed on its join key the index side adds ZERO exchanges —
    * the incoming (small) side shuffles to match the bucketing.
    * Same semantics as `minhashPairsAgainst` with `existing` = the
    * corpus the index was built from. The signature parameters
    * (shingleN, k, bands) are DERIVED from the index's `_meta` table
    * — they are build-time properties, and a probe signed with
    * different parameters is meaningless. LAZY and cache-free: the
    * incoming collapse and signatures are recomputed wherever the plan
    * reads them, and the caller's cache is left as it was.
    */
  def minhashPairsAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9): DataFrame = graft.JobLabel(spark, "Dedup.probe pairs") {
    val (ci, _, repPairs) = repPairsAgainstIndexImpl(
      spark, name, incoming, idCol, textCol, threshold)
    val idxMembers = spark.table(s"${name}_members")
    val mi = memberFrame(incoming, idCol, textCol)
      .join(ci.select("content_key", "rep_id"), "content_key")
      .select(col("rep_id").as("rb"), col("id").as("id_in"))
    repPairs
      .join(idxMembers.select(col("rep_id").as("ra"), col("id").as("id_ex")), "ra")
      .join(mi, "rb")
      .select(col("id_ex"), col("id_in"), col("est_jaccard"))
  }

  /** Just the INCOMING ids that near-duplicate any indexed content —
    * the drop set of streaming/batch ingest. Skips the `_members`
    * expansion of the existing side entirely (the biggest index
    * table is never read): per micro-batch that is one less
    * corpus-sized scan+join than `minhashPairsAgainstIndex`. EAGER:
    * the (tiny) id set is materialized via localCheckpoint and the
    * batch-scoped collapse/signature caches are released before
    * returning, so a long-running ingest loop calling this per
    * micro-batch accretes no cached partitions.
    */
  /** `materialize = false` skips the collapse/signature persists and
    * the eager localCheckpoint: right when the result is consumed
    * exactly once by a SMALL probe (a streaming micro-batch), where
    * recomputing the sub-second signature pass is cheaper than the
    * persist + checkpoint jobs themselves. The default stays
    * materialized for large deltas, where the signature pass is the
    * expensive leaf and is referenced from multiple joins.
    */
  def minhashHitsAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9,
      materialize: Boolean = true): DataFrame = graft.JobLabel(spark, "Dedup.probe hits") {
    val (ci, si, repPairs) = repPairsAgainstIndexImpl(
      spark, name, incoming, idCol, textCol, threshold, smallProbe = !materialize)
    val hitReps = repPairs.select("rb").distinct()
    if (!materialize) {
      // Small-probe member expansion without the memberFrame⋈collapse
      // shuffle chain: the hit representatives pull their content_key
      // from the (rep-level, tiny) collapse, broadcast, and one
      // shuffle-free pass over the probe keys every id whose content
      // hit — identical to expanding rep hits to member ids, since
      // members ARE the rows sharing the rep's content_key.
      val hitKeys = ci.select("content_key", "rep_id")
        .join(hitReps, col("rep_id") === col("rb"))
        .select("content_key")
      incoming.filter(col(textCol).isNotNull)
        .select(contentKey(col(textCol)).as("content_key"), col(idCol))
        .join(broadcast(hitKeys), "content_key")
        .select(col(idCol))
    } else {
      // the collapse and its signatures feed several joins of the one
      // materializing job: cached for it, released after it
      Seq(ci, si).foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val mi = memberFrame(incoming, idCol, textCol)
        .join(ci.select("content_key", "rep_id"), "content_key")
        .select(col("rep_id").as("rb"), col("id").as(idCol))
      try hitReps.join(mi, "rb").select(col(idCol)).distinct().localCheckpoint()
      finally Seq(ci, si).foreach(_.unpersist(false))
    }
  }

  /** Incoming-side collapse + representative-level pairs against a
    * persisted band index (parameters derived from `_meta`). Nothing
    * is cached here: a caller that caches the collapse or signatures
    * releases them itself.
    */
  private def repPairsAgainstIndexImpl(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      smallProbe: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val (shingleN, k, bands) = bandMeta(spark, name)
    val idxBands = spark.table(s"${name}_bands")
    val idxSigs = spark.table(s"${name}_sigs")
    val ci = collapseByContent(incoming, idCol, textCol)
    val si = repSignatures(ci, shingleN, k)
    // In the small-probe mode (a streaming micro-batch or other
    // delta ≪ index) every probe-derived side is broadcast: each
    // index-table join becomes a broadcast hash join over the bucketed
    // scan, with zero shuffles and zero sorts of either side. The
    // large-delta mode keeps the shuffle joins — broadcasting an
    // unbounded delta would be wrong.
    def probeSide(df: DataFrame): DataFrame =
      if (smallProbe) broadcast(df) else df
    val bi = si.select(col("id").as("rb"),
        posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "key")))
      .withColumn("bkey", xxhash64(col("band"), col("key")))
    // Join on (bkey, band, key): bkey alone satisfies the clustering
    // (equal join tuples hash equal), so the bucketed index needs no
    // exchange, while band+key keep exactness under xxhash64
    // collisions. NOTE (r15): Spark only accepts the single-key
    // co-partition when spark.sql.requireAllClusterKeysForCoPartition
    // is false (all graft sessions set it; the Spark default true
    // makes the planner reshuffle the bucketed side by the full
    // triple — results identical, the write-time bucketing wasted).
    // The banded match set is bounded by |probe| × bands — still
    // probe-sized, so it broadcasts too in small-probe mode and the
    // signature fetch becomes a second shuffle-free pass over the
    // bucketed sigs table.
    val matches = probeSide(
      idxBands.join(probeSide(bi), Seq("bkey", "band", "key"))
        .select(col("id").as("ra"), col("rb")).distinct())
    val repPairs = matches
      .join(idxSigs.select(col("id").as("ra"), col("sig").as("sig_a")), "ra")
      .join(probeSide(si.select(col("id").as("rb"), col("sig").as("sig_b"))), "rb")
      .select(col("ra"), col("rb"),
        estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    (ci, si, repPairs)
  }

  /** Survivors of an incoming batch deduped against an existing
    * corpus AND within itself: drop incoming docs that near-duplicate
    * existing content, then resolve the batch's internal near-dup
    * groups to their minimum id. Both stages are the linear bucketed
    * paths above — history is never re-paired.
    *
    * The cross stage's hit set is MATERIALIZED (localCheckpoint) and
    * its four persisted side datasets released before the self stage
    * runs. At bench scale (sf0.1) this is ~15% SLOWER than leaving
    * everything lazy (the materialization barrier costs more than the
    * cache pressure saves); it is kept because the lazy form pins two
    * full collapse+signature working sets — one of them HISTORY-sized
    * — in the block manager simultaneously and embeds the entire
    * cross-stage plan under every scan the self stage makes of
    * `afterCross`, both of which turn into eviction/recompute storms
    * when the working set outgrows memory at real corpus scale.
    */
  def dedupIncrement(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 1,
      k: Int = 32,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val (_, ci, repPairs, crossCaches) = repPairsAgainstImpl(
      existing, incoming, idCol, textCol, shingleN, k, bands, threshold)
    // Only the INCOMING side expands to member ids — the existing
    // side's ids are never consumed here, and expanding them would
    // re-scan and re-shuffle the whole history per delta.
    val mi = memberFrame(incoming, idCol, textCol)
      .join(ci.select("content_key", "rep_id"), "content_key")
      .select(col("rep_id").as("rb"), col("id").as(idCol))
    // localCheckpoint (not persist): eager, lineage-truncating, and
    // NOT registered in the SQL cache — it survives a caller's
    // clearCache() and lets the cross-stage caches be dropped now.
    val hitExisting = repPairs.join(mi, "rb").select(col(idCol)).distinct()
      .localCheckpoint()
    crossCaches.foreach(_.unpersist(false))
    val afterCross = incoming.join(hitExisting, Seq(idCol), "left_anti")
    val selfRemovals = resolveGroups(
        minhashPairs(afterCross, idCol, textCol, shingleN, k, bands, threshold))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as(idCol))
    afterCross.join(selfRemovals, Seq(idCol), "left_anti")
  }

  /** `dedupIncrement` against a PERSISTED band index (see
    * `buildBandIndex`): identical output, but the existing corpus is
    * never re-collapsed or re-signed — the delta probes the
    * write-once bucketed tables (parameters from `<name>_meta`),
    * then self-dedups the survivors. At 100 TB this is the correct
    * batch shape for a daily delta: per-day cost is O(delta), not
    * O(corpus), and the index-side joins are exchange-free.
    */
  def dedupIncrementAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9): DataFrame = {
    val (shingleN, k, bands) = bandMeta(spark, name)
    val hitExisting = minhashHitsAgainstIndex(
      spark, name, incoming, idCol, textCol, threshold)
    val afterCross = incoming.join(hitExisting, Seq(idCol), "left_anti")
    val selfRemovals = resolveGroups(
        minhashPairs(afterCross, idCol, textCol, shingleN, k, bands, threshold))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as(idCol))
    afterCross.join(selfRemovals, Seq(idCol), "left_anti")
  }

  /** Resolve near-dup PAIRS into survivor groups: transitive closure
    * via Components, mapping every involved doc to its group's
    * surviving (minimum) id. Docs in no pair are absent — they
    * survive untouched. The end-to-end dedup recipe is
    * minhashPairs → resolveGroups → anti-join docs where
    * doc_id != keep_id.
    */
  def resolveGroups(pairs: DataFrame,
                    idA: String = "id_a", idB: String = "id_b"): DataFrame =
    Components.minLabelPropagate(pairs.select(col(idA).as("a"), col(idB).as("b")))
      .select(col("node").as("doc_id"), col("component").as("keep_id"))

  /** Quality-aware survivor selection: like `resolveGroups`, but each
    * duplicate group keeps its HIGHEST-quality member (ties → minimum
    * id) instead of the minimum id — the production cleaning choice
    * (keep the best-scoring copy of a page, not the first-crawled
    * one). `quality` maps id → a numeric score (`qualityScore`, token
    * count, …); the caller must supply a non-null score for every doc
    * that can appear in a pair (coalesce upstream — null scores would
    * make the struct-min below undefined).
    *
    * Shape: the argmax is a map-side-combined `min(struct(-q, id))`
    * per group — no per-group member list, no window over the group
    * (a viral 10⁸-copy group stays one aggregation row); the winner
    * joins back to the (id → group) mapping, which is the same
    * linear frame `resolveGroups` already produces.
    */
  def resolveGroupsByQuality(pairs: DataFrame, quality: DataFrame,
                             idCol: String = "doc_id", qCol: String = "q",
                             idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val groups = resolveGroups(pairs, idA, idB)
    val best = groups
      .join(quality.select(col(idCol).as("doc_id"), col(qCol).as("_q")), "doc_id")
      .groupBy(col("keep_id").as("grp"))
      .agg(min(struct((-col("_q")).as("nq"), col("doc_id").as("bid"))).as("b"))
      .select(col("grp"), col("b.bid").as("best_id"))
    groups.select(col("doc_id"), col("keep_id").as("grp"))
      .join(best, "grp")
      .select(col("doc_id"), col("best_id").as("keep_id"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — the MOSS local-fingerprinting scheme): positional k-gram
    * polynomial hashes, then the MINIMUM hash of every sliding window
    * of `window` consecutive grams, deduplicated per doc. Guarantee:
    * any shared token run of ≥ window + k − 1 tokens between two docs
    * yields at least one SHARED fingerprint, while only ~2/(window+1)
    * of positions survive — the sparse middle ground between
    * `fingerprint` (whole-doc) and `duplicateSpans` (every gram).
    * Plain min, not MOSS's rightmost-min tie rule, so selection is a
    * pure expression; the detection guarantee is unchanged. Hashes
    * are the same 31-base polynomial mod 1e9+7 as `fingerprint` /
    * `simhash`, so the pipeline is ANSI-SQL-reproducible and oracled
    * end-to-end. The gram hashes are projected to an attribute FIRST:
    * captured inside the window lambda as an expression they would
    * re-evaluate per window position (the documented HOF-capture
    * trap — O(grams²) per doc).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, window: Int = 4): DataFrame =
    // one codegen'd pass: per-token polynomial + gram composition +
    // window minima + distinct (fingerprint-set-identical to the
    // composed form below, which the spec keeps as the reference;
    // the composed HOFs ran interpreted with one slice allocation
    // per window position — 2.8 s at sf0.1 vs sub-second here)
    df.select(col(idCol),
      explode(graft.functions.Native.winnowMins(
        TextAnalysis.wsTokens(col(textCol)), k, window)).as("fp"))

  /** The composed-HOF reference form of `winnowFingerprints` — kept
    * ONLY so the native kernel's fingerprint-set identity is
    * continuously spec-checked against the independently-derived
    * expression pipeline (same polynomial the DuckDB oracle runs).
    */
  def winnowFingerprintsComposed(df: DataFrame, idCol: String, textCol: String,
                                 k: Int = 3, window: Int = 4): DataFrame = {
    val hashed = df.select(col(idCol),
      transform(TextAnalysis.ngrams(col(textCol), k),
        (g: Column) => tokenHash(g)).as("_h"))
    val h = col("_h")
    val fps = array_distinct(
      when(size(h) >= window,
        transform(sequence(lit(0), size(h) - lit(window)),
          w => array_min(slice(h, w + lit(1), lit(window)))))
      .otherwise(array().cast("array<bigint>")))
    hashed.select(col(idCol), explode(fps).as("fp"))
  }

  // ---- SimHash ------------------------------------------------------

  /** Bits used by the SimHash below (30 so the per-token hash — the
    * same 31-base polynomial mod 1e9+7 as TextAnalysis.fingerprint —
    * is reproducible in ANSI SQL for the oracle).
    */
  val SimHashBits = 30

  /** Per-token polynomial hash (DuckDB-reproducible). */
  private def tokenHash(t: Column): Column =
    aggregate(
      transform(split(t, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31L + x) % 1000000007L)

  /** 30-bit SimHash over the document's distinct tokens: bit k of the
    * result is 1 iff more token-hashes have bit k set than not.
    *
    * ONE fold with a 30-counter vector accumulator (the same k-vector
    * trick as minhashSignature): the previous 30 separate folds each
    * re-evaluated their COLLECTION argument — tokenize + distinct +
    * per-token polynomial hash ran 30× per document, because HOFs are
    * interpreted and a non-attribute collection argument is not
    * shared between sibling expressions.
    */
  def simhash(text: Column): Column =
    // native one-pass kernel; bit-identical to the composed fold
    // below (spec'd), which remains as the cross-checkable reference
    graft.functions.Native.simHash30(TextAnalysis.wsTokens(text))

  /** The composed-HOF reference form of `simhash` — kept ONLY so the
    * native kernel's bit-identity is continuously spec-checked
    * against an independent implementation.
    */
  private[ops] def simhashComposed(text: Column): Column = {
    val hashes = transform(array_distinct(TextAnalysis.wsTokens(text)),
      (t: Column) => tokenHash(t))
    val powers = typedLit((0 until SimHashBits).map(k => 1L << k))
    val bitSums = aggregate(
      hashes,
      array_repeat(lit(0L), SimHashBits),
      (acc, h) => zip_with(acc, powers,
        (c, p) => c + when(h.bitwiseAND(p) =!= 0L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(bitSums, powers, (s, p) => when(s > 0L, p).otherwise(0L)),
      lit(0L), (a, x) => a + x)
  }

  /** Hamming distance between two simhashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Representative-level SimHash candidate pairs over an exact-content
    * collapse (see collapseByContent): band each rep's 30-bit simhash
    * into `bands` chunks; reps sharing any exact chunk are candidates
    * (any pair within hamming distance < bands shares a chunk by
    * pigeonhole); then filter on true hamming distance. Split out so
    * the duplication-invariance spec can assert the candidate set is
    * literally identical whatever the corpus's copy factor.
    */
  private[ops] def simhashRepPairs(collapsed: DataFrame, bands: Int,
                                   maxHamming: Int): DataFrame = {
    require(SimHashBits % bands == 0)
    val r = SimHashBits / bands
    val mask = (1L << r) - 1
    // sh is one long per DISTINCT content — cheap enough to carry
    // through the band join (unlike minhash's k-long signatures, which
    // rejoin after the pair-distinct).
    val sh = collapsed.select(col("rep_id").as("id"),
      simhash(col("rep_text")).as("sh"))
    val banded = sh.select(col("id"), col("sh"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sh"), b * r).bitwiseAND(mask)): _*)).as(Seq("band", "chunk")))
    val a = banded.select(col("band"), col("chunk"), col("id").as("ra"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("rb"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "chunk"))
      .filter(col("ra") < col("rb"))
      .select("ra", "rb", "sh_a", "sh_b").distinct()
      .select(col("ra"), col("rb"),
        hammingDist(col("sh_a"), col("sh_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs, duplication-invariant like minhashPairs:
    * exact-content collapse → per-DISTINCT-content simhash → chunk
    * band join on representatives → member expansion, plus the
    * within-group exact pairs (identical text ⇒ identical simhash ⇒
    * hamming 0). Without the collapse, a content duplicated c times
    * lands c rows in every one of its chunks' buckets and the bucket
    * join emits O(c²) candidates — the blow-up measured and killed for
    * the other near-dup detectors, and mass duplication is the normal
    * state of a web corpus. Same persist/unpersist contract as
    * minhashPairs: the collapse cache must outlive the returned lazy
    * DataFrame; long-lived sessions should materialize and
    * spark.catalog.clearCache() between batches.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 5,
      maxHamming: Int = 4): DataFrame = {
    val collapsed = collapseByContent(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = memberFrame(df, idCol, textCol)
    val repPairs = simhashRepPairs(collapsed, bands, maxHamming)
    withinGroupPairs(collapsed, members, Seq("content_key"),
        lit(0).cast("int"), "hamming")
      .unionByName(expandRepPairs(repPairs, collapsed, members,
        Seq("content_key"), "hamming"))
  }

  /** Content-defined chunking (CDC): cut each document's token
    * stream AFTER every position whose `gram`-token window hashes to
    * 0 mod `mask` — boundaries depend on CONTENT, not offsets, so an
    * insertion near the start only perturbs chunks until the next
    * boundary resyncs, and every later chunk hash survives verbatim
    * (the property fixed-size chunking lacks, and the reason rsync /
    * LBFS-style dedup uses content-defined cuts). Chunk hashes then
    * dedup across documents that share moved or shifted passages.
    *
    * The boundary hash is md5-derived (the [[Sampling.hashPercentile]]
    * convention) so boundaries are engine-portable and the whole
    * chunk table is exactly oracle-able. Expected chunk length ≈
    * `mask` tokens. Pure per-row array work — zero shuffle at any
    * corpus size; documents with no tokens emit no chunks.
    *
    * Output: (doc_id, chunk_no, start_token, n_tokens, chunk_hash).
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                mask: Int = 16, gram: Int = 4): DataFrame = {
    require(mask >= 2 && gram >= 1, "mask >= 2 and gram >= 1")
    val t = col("_toks"); val n = size(t)
    def boundary(i: Column) =
      pmod(conv(substring(md5(concat_ws(" ", slice(t, i, lit(gram)))), 1, 8),
        16, 10).cast("long"), lit(mask.toLong)) === 0
    val cuts = when(n > lit(gram),
      filter(
        transform(sequence(lit(1), n - lit(gram)),
          i => when(boundary(i), i + lit(gram - 1))
            .otherwise(lit(null).cast("int"))),
        c => c.isNotNull))
      .otherwise(array().cast("array<int>"))
    val base = df
      .select(col(idCol).as("doc_id"),
        TextAnalysis.wsTokens(col(textCol)).as("_toks"))
      .filter(n > 0)
      .withColumn("_cuts", cuts)
      .withColumn("_starts",
        concat(array(lit(1)), transform(col("_cuts"), c => c + 1)))
      .withColumn("_ends", concat(col("_cuts"), array(n)))
    base
      .select(col("doc_id"), col("_toks"),
        posexplode(arrays_zip(col("_starts"), col("_ends"))).as(Seq("_p", "_se")))
      .select(col("doc_id"), (col("_p") + 1).as("chunk_no"),
        col("_se._starts").as("start_token"),
        (col("_se._ends") - col("_se._starts") + 1).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("_toks"), col("_se._starts"),
            col("_se._ends") - col("_se._starts") + 1))).as("chunk_hash"))
  }
}
