package graft.ops

import graft.io.PersistedIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector math as pure codegen'd Column expressions over
  * `array<float>` / `array<double>` columns. The fold order of
  * `aggregate` is the array order, which DuckDB's list_sum/list_reduce
  * shares — so results are bit-identical across engines and
  * oracle-able.
  */
object VectorOps {
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd dot product (same ascending-index fold order as
    * the composed `aggregate(zip_with(...))` form and DuckDB's
    * list_sum, so results are bit-identical — just without the
    * per-element lambda dispatch and intermediate array).
    */
  def dot(a: Column, b: Column): Column = graft.functions.Native.doubleDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }
}

/** Similarity search over an embedding column.
  *
  * Scale design (100 TB):
  * - Brute force: the query set is broadcast (it is small by
  *   definition); one scan of the corpus computes all cosines; per-query
  *   top-k is a windowed rank — shuffle is O(corpus × queries) rows of
  *   (qid, id, score), partitioned by qid. This is the exact baseline.
  * - LSH: random-hyperplane signatures put vectors into buckets;
  *   joins are bucket-equi-joins, so the pair space never materializes.
  *   Multiple hash tables trade compute for recall.
  * - IVF: a fixed set of centroids (deterministic sample) is broadcast;
  *   vectors are assigned to their nearest centroid once (one scan);
  *   queries probe the nearest `nprobe` cells — the join key is the
  *   centroid id, shrinking the scanned fraction to ~nprobe/ncells.
  */
object Similarity {
  import VectorOps._

  /** Vector dimensionality of a corpus column (0 for an empty corpus,
    * so LSH/IVF degrade to empty results instead of throwing).
    */
  private[ops] def vecDim(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol)))
      .take(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Exact cosine top-k for each query vector (broadcast the queries). */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val q = queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Semantic (embedding-level) contamination audit — the
    * vector-space companion to the exact-content (`q_contamination`)
    * and 13-gram (`q_ngram_contamination`) audits: an eval/benchmark
    * item is contaminated iff SOME training item's embedding cosine
    * reaches `tau` (catches paraphrases and translations that no
    * lexical overlap test sees). Output per eval item: (eval_id,
    * max_cos, nn_id — the nearest training item, ties to the
    * smallest id — and the contaminated flag); eval items absent
    * from a (possibly empty) corpus report max_cos NULL / false.
    *
    * Scale: the eval set is tiny by definition, so it BROADCASTS and
    * the 100 TB training corpus is ONE scan with a map-side-combined
    * per-eval max aggregate — shuffle O(eval × partitions), never a
    * corpus-side exchange. Cosines are 6dp-rounded BEFORE the argmax
    * so an accumulation-order ULP can neither flip the flag nor the
    * reported neighbor (exact duplicates tie at 1.0 and fall to the
    * smallest id on both engines) — which is what makes this exact
    * audit fully oracle-able despite float scoring.
    */
  def semanticContamination(
      train: DataFrame, idCol: String, vecCol: String,
      eval: DataFrame, eIdCol: String, eVecCol: String,
      tau: Double): DataFrame = {
    val c = train.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val q = eval.select(col(eIdCol).as("eval_id"), toDoubleVec(col(eVecCol)).as("qv"))
    // max over (cos, -id): max cosine, ties to the smallest train id;
    // "+ 0.0" folds a rounded -0.0 to +0.0 on both engines
    val best = c.crossJoin(broadcast(q))
      .select(col("eval_id"),
        struct((round(cosine(col("qv"), col("v")), 6) + lit(0.0)).as("cos"),
          (-col("id")).as("nid")).as("m"))
      .groupBy("eval_id").agg(max("m").as("m"))
    q.select(col("eval_id"))
      .join(best, Seq("eval_id"), "left")
      .select(col("eval_id"),
        col("m.cos").as("max_cos"),
        (-col("m.nid")).as("nn_id"),
        coalesce(col("m.cos") >= lit(tau), lit(false)).as("contaminated"))
  }

  /** Exact cosine top-k via the bounded top-k AGGREGATE instead of a
    * window rank: partial aggregation ships at most k pairs per query
    * per map task, so the shuffle is O(queries × k) instead of
    * O(corpus × queries) — the form that survives a 100 TB corpus.
    * Same results as bruteForceTopK (deterministic tie-break).
    */
  def bruteForceTopKAgg(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val q = queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv"))
    c.crossJoin(broadcast(q))
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("cos"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(col("qid"), col("pair.id").as("id"),
        (col("r") + 1).cast("int").as("rank"), col("pair.score").as("cos"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, ACL — the
    * LASER/CCMatrix recipe): mine translation pairs between two
    * embedding sets by MARGIN, not raw cosine — a hubby vector that
    * is everyone's near-neighbor has high cosine to everything, so
    * raw-cosine thresholds drown in hubs. The margin of a candidate
    * pair discounts each side's average k-NN similarity:
    * margin(x,y) = cos(x,y) − (avgₖcos(x,·) + avgₖcos(·,y)) / 2,
    * and a pair is mined iff it is MUTUAL best-by-margin (x's best y
    * and y's best x) with margin > `minMargin`.
    *
    * Takes the two directional top-k tables (qid, id, cos) as input:
    * at 100 TB those come from the IVF/LSH index paths
    * ([[ivfTopKAgainstIndex]] per side); [[marginMine]] below wires
    * the exact brute-force reference. Everything here is LINEAR in
    * the top-k tables: two per-entity aggregates, hash joins on ids,
    * two max-struct argmaxes — no pair blowup beyond the k-lists.
    *
    * Determinism: cosines are scaled to micro-units and rounded to
    * INTEGERS before any summation, so the k-NN sums are exact and
    * order-independent, every derived margin is the same IEEE double
    * on any engine, and the mutual-best argmax (ties to the smaller
    * partner id) is fully oracle-able — the same trick as
    * [[semanticContamination]]'s round-before-argmax, extended to
    * sums that a 6dp-round alone would leave accumulation-ordered.
    */
  def marginFromTopK(fwd: DataFrame, bwd: DataFrame,
                     minMargin: Double): DataFrame = {
    def c6(c: Column) = round(c * 1e6).cast("long")
    // each direction's k-list is read twice (k-NN sums + candidate
    // scoring); materialize once — Spark shares no work between plan
    // branches, and the upstream top-k may be a brute-force scan.
    // O(n·k) rows of three longs, the lshTopK/Merge checkpoint shape.
    val f = fwd.select(col("qid").as("x_id"), col("id").as("y_id"),
      c6(col("cos")).as("c")).localCheckpoint(true)
    val b = bwd.select(col("qid").as("y_id"), col("id").as("x_id"),
      c6(col("cos")).as("c")).localCheckpoint(true)
    val fAgg = f.groupBy("x_id").agg(sum("c").as("f_sum"), count(lit(1)).as("f_n"))
    val bAgg = b.groupBy("y_id").agg(sum("c").as("b_sum"), count(lit(1)).as("b_n"))
    def score(cand: DataFrame) = cand
      .join(fAgg, "x_id").join(bAgg, "y_id")
      .withColumn("margin",
        (col("c").cast("double") -
          (col("f_sum").cast("double") / col("f_n") +
            col("b_sum").cast("double") / col("b_n")) / 2.0) / 1e6)
    val fBest = score(f).groupBy("x_id")
      .agg(max(struct(col("margin"), (-col("y_id")).as("ny"))).as("m"))
      .select(col("x_id"), (-col("m.ny")).as("y_id"), col("m.margin").as("margin"))
    val bBest = score(b).groupBy("y_id")
      .agg(max(struct(col("margin"), (-col("x_id")).as("nx"))).as("m"))
      .select((-col("m.nx")).as("x_id"), col("y_id"))
    fBest.join(bBest, Seq("x_id", "y_id"))
      .filter(col("margin") > minMargin)
      .select(col("x_id"), col("y_id"), round(col("margin"), 6).as("margin"))
  }

  /** Exact brute-force [[marginFromTopK]] wiring — the oracle-able
    * reference (and the right form when one side is small enough to
    * broadcast). Both directions share the same bit-identical cosine
    * (dot products commute elementwise), so forward and backward
    * margins of a mutual pair agree exactly.
    */
  def marginMine(
      x: DataFrame, xIdCol: String, xVecCol: String,
      y: DataFrame, yIdCol: String, yVecCol: String,
      k: Int, minMargin: Double = 0.0): DataFrame =
    marginFromTopK(
      bruteForceTopKAgg(y, yIdCol, yVecCol, x, xIdCol, xVecCol, k),
      bruteForceTopKAgg(x, xIdCol, xVecCol, y, yIdCol, yVecCol, k),
      minMargin)

  /** Deterministic pseudo-random unit-free hyperplanes (fixed seed). */
  def randomHyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit signature of a vector against a set of hyperplanes. */
  def hyperplaneSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      val planeCol = array(p.map(lit): _*)
      acc + when(dot(vec, planeCol) >= 0.0, lit(1L << i)).otherwise(0L)
    }

  /** Multi-table LSH ANN: for each table, bucket on a `bitsPerTable`-bit
    * hyperplane signature; candidates = bucket collisions in any table;
    * rerank candidates by exact cosine; top-k per query.
    */
  /** Candidate-set size above which lshTopK's payload rejoin stops
    * broadcasting and falls back to a shuffle join. Candidates are
    * (qid, id) pairs — two longs — so 2M rows is a few tens of MB
    * serialized, comfortably inside executor memory; beyond that a
    * data-dependent broadcast (hot buckets, many queries) risks OOMing
    * every executor at once.
    */
  val MaxBroadcastCandidates = 2000000L

  def lshTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, bitsPerTable: Int = 8, tables: Int = 8, seed: Long = 42L,
      probes: Int = 0,
      maxBroadcastCandidates: Long = MaxBroadcastCandidates): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    // no corpus vector: no hyperplane to draw, no neighbour to find
    if (dim == 0)
      return queries.select(col(qIdCol).as("qid")).limit(0)
        .crossJoin(corpus.select(col(idCol).as("id")))
        .select(col("qid"), col("id"), lit(0).cast("int").as("rank"), lit(0.0).as("cos"))
    def sigs(vc: Column): Column = array((0 until tables).map { t =>
      hyperplaneSignature(vc, randomHyperplanes(dim, bitsPerTable, seed + t))
    }: _*)
    val cBase = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val qBase = queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv"))
    // Candidate generation carries IDS ONLY (payload-late, same as
    // cosinePairs): the bucket join and the multi-table dedup shuffle
    // (qid, id) pairs, never the vectors — at dim 768 that is a ~100×
    // shuffle-byte reduction on the candidate stage. The query side is
    // small by definition, so both its banding and its payload rejoin
    // broadcast.
    val cb = cBase.select(col("id"), posexplode(sigs(col("v"))).as(Seq("table", "bucket")))
    // Multi-probe (Lv et al., VLDB'07): with probes > 0 each QUERY
    // additionally probes, per table, the buckets reached by flipping
    // the `probes` sign bits whose hyperplane margin |dot(qv, p)| is
    // smallest — a near-boundary query's true neighbors most likely
    // hide exactly one such flip away. Recall rises without more
    // tables (i.e. without re-signing or growing the CORPUS side at
    // all — the extra rows are queries × tables × probes, trivially
    // broadcast). Candidate supersets ⇒ recall is monotone in probes
    // (spec'd).
    def probedSigs(vc: Column): Column = {
      val powers = typedLit((0 until bitsPerTable).map(i => 1L << i))
      array((0 until tables).map { t =>
        val planes = randomHyperplanes(dim, bitsPerTable, seed + t)
        val base = hyperplaneSignature(vc, planes)
        if (probes <= 0) array(base)
        else {
          val margins = array(planes.zipWithIndex.map { case (p, i) =>
            struct(abs(dot(vc, array(p.map(lit): _*))).as("m"), lit(i).as("i"))
          }: _*)
          val flips = slice(sort_array(margins), 1, probes)
          concat(array(base), transform(flips,
            f => base.bitwiseXOR(element_at(powers, f.getField("i") + 1))))
        }
      }: _*)
    }
    val qb = qBase
      .select(col("qid"), posexplode(probedSigs(col("qv"))).as(Seq("table", "buckets")))
      .select(col("qid"), col("table"), explode(col("buckets")).as("bucket"))
    // localCheckpoint, not persist: eager, lineage-truncating, and —
    // unlike a persisted DataFrame, which stays pinned in the SQL
    // cache until someone unpersists it — its blocks are released by
    // the ContextCleaner once the returned DataFrame is unreferenced,
    // so repeated calls in a long-lived session don't accrete cached
    // candidate sets. The count() below reads the materialized blocks.
    val cand = cb.join(broadcast(qb.select("qid", "table", "bucket")), Seq("table", "bucket"))
      .select("qid", "id").distinct()
      .localCheckpoint()
    // Payload rejoin: broadcasting the candidate id set keeps the
    // corpus side a pure scan+filter — the corpus payloads are never
    // shuffled. But the candidate set is DATA-DEPENDENT (hot buckets ×
    // many queries can make it arbitrarily large), so the broadcast is
    // gated on its actual size; past the gate it degrades to a shuffle
    // join on hash-uniform ids. The count reuses the persisted
    // candidates, which the rerank join reads anyway. Rerank is the
    // bounded top-k aggregate: O(queries × k) shuffle rows regardless
    // of candidate count.
    val candSide = if (cand.count() <= maxBroadcastCandidates) broadcast(cand) else cand
    candSide.join(cBase, "id").join(broadcast(qBase), "qid")
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("cos"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(col("qid"), col("pair.id").as("id"),
        (col("r") + 1).cast("int").as("rank"), col("pair.score").as("cos"))
  }

  /** IVF-style ANN: deterministic seed centroids (the `nCells` lowest
    * ids) refined by `lloydIters` k-means iterations (assign to
    * nearest → recompute means; each iteration is one scan plus a
    * (cell, dim)-keyed aggregate, so it scales like any groupBy);
    * every vector is then assigned to its nearest centroid once, and
    * queries probe the `nprobe` nearest cells and rerank within them.
    */
  /** Per-row (−score, cell) structs for every centroid, scores inlined
    * as literals. `sort_array` ascending puts the best cell (highest
    * cosine, lowest cell id on ties) first — the same pure-expression
    * argmin pattern as `TextAnalysis.langId`. The score is
    * dot(v, cv)/‖cv‖ with ‖cv‖ precomputed driver-side: dividing by
    * the row-constant ‖v‖ cannot change the per-row ordering, so this
    * ranks cells identically to full cosine at a third of the FLOPs.
    */
  private[ops] def cellEntries(v: Column, cents: Seq[(Long, Array[Double])]): Column = {
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    if (cents.size.toLong * dim <= MaxInlineCentroidScalars) cellEntriesInline(v, cents)
    else cellEntriesBulk(v, cents)
  }

  /** nCells × dim ceiling for inlining each centroid component as its
    * own literal (fast: one codegen'd dot per cell). Past it — e.g.
    * nCells=1024 × dim=768 ≈ 8·10⁵ literals — the expression tree and
    * generated code blow up, so the centroids become ONE
    * array<array<double>> literal and the per-cell scoring runs
    * through higher-order functions: slower per row (interpreted
    * lambda) but bounded in plan size at any nCells × dim.
    */
  val MaxInlineCentroidScalars = 16384

  private[ops] def cellEntriesInline(v: Column, cents: Seq[(Long, Array[Double])]): Column =
    array(cents.map { case (cellId, cv) =>
      val n = math.sqrt(cv.map(x => x * x).sum)
      val s = if (n == 0.0) lit(0.0)
              else -(dot(v, array(cv.map(lit).toIndexedSeq: _*)) / lit(n))
      struct(s.as("s"), lit(cellId).as("c"))
    }.toIndexedSeq: _*)

  private[ops] def cellEntriesBulk(v: Column, cents: Seq[(Long, Array[Double])]): Column = {
    val centArr = typedLit(cents.map(_._2.toSeq))
    val cellIds = typedLit(cents.map(_._1))
    val norms = typedLit(cents.map { case (_, cv) => math.sqrt(cv.map(x => x * x).sum) })
    transform(sequence(lit(0), lit(cents.size - 1)), i =>
      struct(
        when(element_at(norms, i + 1) === 0.0, lit(0.0))
          .otherwise(-(dot(v, element_at(centArr, i + 1)) / element_at(norms, i + 1)))
          .as("s"),
        element_at(cellIds, i + 1).as("c")))
  }

  /** The fitted IVF centroids alone — for callers that need the
    * model itself (e.g. to render the q_ann_ivf oracle): the same
    * deterministic seeded-init + Lloyd fit ivfTopK runs inline.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int = 16,
                   lloydIters: Int = 1): Seq[(Long, Array[Double])] = {
    val c = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    trainCentroids(c, vecDim(corpus, vecCol), nCells, lloydIters)
  }

  def ivfTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nCells: Int = 16, nprobe: Int = 4, lloydIters: Int = 1,
      precomputedCents: Option[Seq[(Long, Array[Double])]] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val q = queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv"))
    val dim = vecDim(corpus, vecCol)
    // Centroids live DRIVER-SIDE throughout — nCells × dim doubles,
    // the same O(k·d) state MLlib k-means keeps — and are inlined as
    // literals into a projection argmin. Cell assignment therefore
    // shuffles NOTHING: the previous form (crossJoin(centroids) →
    // window-argmin) shuffled corpus × nCells rows per pass; this one
    // is a scan. Each Lloyd iteration costs one partial-aggregated
    // groupBy(cell) (nCells × dim aggregate values) plus a driver
    // collect of nCells rows.
    val cents = precomputedCents
      .getOrElse(trainCentroids(c, dim, nCells, lloydIters))
    if (cents.isEmpty)
      return q.crossJoin(c)
        .select(col("qid"), col("id"), lit(0).as("rank"), lit(0.0).as("cos")).limit(0)
    val assigned = c.select(col("id"), col("v"),
      array_min(cellEntries(col("v"), cents)).getField("c").as("cell"))
    val probes = q.select(col("qid"), col("qv"),
      explode(transform(
        slice(sort_array(cellEntries(col("qv"), cents)), 1, nprobe),
        e => e.getField("c"))).as("cell"))
    // Probes broadcast (queries × nprobe rows), so the rerank join is
    // a scan-side hash probe; top-k is the bounded aggregate —
    // O(queries × k) shuffle rows regardless of corpus size.
    broadcast(probes).join(assigned, "cell")
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("cos"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(col("qid"), col("pair.id").as("id"),
        (col("r") + 1).cast("int").as("rank"), col("pair.score").as("cos"))
  }

  /** Build and PERSIST an IVF index as four tables:
    *
    *   `<name>_cells`     (cell, id, q8, s, n)  bucketed by cell —
    *                      the HOT scan: packed-int8 vectors (binary,
    *                      ~dim bytes each — 8× smaller than float64)
    *                      plus quantization scale and L2 norm.
    *   `<name>_vecs`      (id, v)               bucketed by id —
    *                      full-precision vectors, read ONLY for the
    *                      overfetch·k·queries rerank candidates.
    *   `<name>_centroids` (cell, c)             nCells rows.
    *   `<name>_meta`      (n_cells, dim, buckets) — build parameters,
    *                      validated by the serving/append paths so a
    *                      mismatched probe errors instead of silently
    *                      returning garbage.
    *
    * Query batches then probe the PERSISTED assignment
    * (`ivfTopKAgainstIndex`) instead of re-running Lloyd iterations
    * and a full corpus re-assignment per batch — at 100 TB the
    * assignment scan is the expensive step and it happens once per
    * corpus version, exactly like the dedup band index. Each table is
    * bucketed on exactly the key its serving join uses, so the index
    * side adds zero exchanges. The `_meta` check, the append bucket
    * count (from the catalog; `_meta.buckets` is informational), the
    * crash-safe rewrites and dropping follow `graft.io.PersistedIndex`.
    */
  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      name: String, nCells: Int = 16, lloydIters: Int = 1,
      buckets: Int = 32, metaCols: Seq[String] = Seq.empty): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("id") +:
        toDoubleVec(col(vecCol)).as("v") +: metaCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = vecDim(corpus, vecCol)
      val cents = trainCentroids(c, dim, nCells, lloydIters)
      graft.io.Sources.writeBucketed(
        cents.map { case (cell, arr) => (cell, arr.toSeq) }.toDF("cell", "c"),
        s"${name}_centroids", "cell", 1)
      PersistedIndex.writeMeta(
        Seq((nCells, dim, buckets)).toDF("n_cells", "dim", "buckets"), name)
      graft.io.Sources.writeBucketed(quantizedCells(c, cents, metaCols),
        s"${name}_cells", "cell", buckets)
      graft.io.Sources.writeBucketed(
        c.select((Seq("id", "v") ++ metaCols).map(col): _*),
        s"${name}_vecs", "id", buckets)
    } finally c.unpersist()
  }

  /** The tables of an IVF index, `<name>_<table>`. */
  val IvfIndexTables: Seq[String] = Seq("cells", "vecs", "centroids", "meta")

  /** Metadata columns an index carries: everything in `_cells` beyond
    * the serving layout (r12 — filtered ANN). Discovered from the
    * persisted schema, so append/recenter preserve them without the
    * caller restating the list.
    */
  private[ops] def ivfMetaCols(spark: org.apache.spark.sql.SparkSession,
                               name: String): Seq[String] =
    spark.table(s"${name}_cells").columns.toSeq
      .filterNot(Set("cell", "id", "q8", "s", "n"))

  /** (cell, id, q8, s, n, meta…) rows for a batch of (id, v, meta…):
    * nearest-cell assignment against the given centroids plus the
    * packed-int8 serving layout of `quantizedTopK`; `metaCols` ride
    * along for predicate-filtered serving. Empty centroids (an empty
    * corpus) still ANALYZE — `sort_array(array())[0].c` is an
    * analysis error, not just an empty result — so the cell falls
    * back to a constant; with no centroids there are no rows anyway.
    */
  private[ops] def quantizedCells(c: DataFrame,
                             cents: Seq[(Long, Array[Double])],
                             metaCols: Seq[String] = Seq.empty): DataFrame = {
    val cellExpr =
      if (cents.isEmpty) lit(0L)
      else array_min(cellEntries(col("v"), cents)).getField("c")
    c.select(col("id") +: col("v") +: cellExpr.as("cell") +:
        Embeddings.quantScale(col("v")).as("s") +: metaCols.map(col): _*)
      .select(col("cell") +: col("id") +:
        graft.functions.Native.packInt8(
          Embeddings.quantizeInt8(col("v"), col("s"))).as("q8") +:
        col("s") +: Embeddings.l2Norm(col("v")).as("n") +:
        metaCols.map(col): _*)
  }

  /** Load + validate the index metadata written by `buildIvfIndex`. */
  private[ops] def ivfMeta(spark: org.apache.spark.sql.SparkSession,
                      name: String): (Int, Int, Int) = {
    val m = PersistedIndex.meta(spark, name)
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** Assign an incoming DELTA batch against the PERSISTED centroids
    * and append it to the index's bucketed cells/vecs tables — the
    * daily-delta path: adding a day to a 100 TB corpus costs one scan
    * of the DELTA, never a re-assignment of history (the mirror of
    * `Dedup.minhashPairsAgainstIndex`). Centroids are intentionally
    * NOT retrained — serving results stay consistent between appends,
    * at the standard IVF cost that cells drift from the true k-means
    * as the corpus shifts; rebuild per major corpus version.
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      delta: DataFrame, idCol: String, vecCol: String): Unit = {
    val (_, dim, _) = ivfMeta(spark, name)
    val buckets = PersistedIndex.buckets(spark, s"${name}_cells")
    // metadata columns are part of the index schema: a delta must
    // carry every one the index was built with (discovered, not
    // restated — see ivfMetaCols)
    val metaCols = ivfMetaCols(spark, name)
    val d = delta.select(col(idCol).as("id") +:
      toDoubleVec(col(vecCol)).as("v") +: metaCols.map(col): _*)
    val dDim = vecDim(d, "v")
    require(dDim == 0 || dim == 0 || dDim == dim,
      s"index $name built at dim=$dim, delta has dim=$dDim")
    val cents = loadCentroids(spark, name)
    require(cents.nonEmpty || dDim == 0,
      s"index $name has no centroids (built on an empty corpus); rebuild before appending")
    graft.io.Sources.appendBucketed(quantizedCells(d, cents, metaCols),
      s"${name}_cells", "cell", buckets)
    graft.io.Sources.appendBucketed(
      d.select((Seq("id", "v") ++ metaCols).map(col): _*),
      s"${name}_vecs", "id", buckets)
  }

  /** Compact a persisted IVF index's bucketed tables to one file per
    * bucket (see `PersistedIndex.compact`) — the maintenance step
    * after many `appendToIvfIndex` deltas. Serving results and the
    * zero-exchange probe plan are unchanged; `_centroids` (nCells
    * rows, 1 bucket) and `_meta` stay as-is.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      name: String): Unit = {
    PersistedIndex.compact(spark, s"${name}_cells", "cell")
    PersistedIndex.compact(spark, s"${name}_vecs", "id")
  }

  /** Re-train the centroids from the index's CURRENT contents and
    * rewrite the cell assignment — the recluster that closes the
    * drift loop `appendToIvfIndex` documents: months of deltas
    * against frozen centroids degrade recall as the corpus shifts
    * (appended vectors from a new mode split across whichever old
    * cells happen to be nearest, so a bounded-nprobe probe sees only
    * a slice of them — the drift spec plants exactly this). Running
    * recenter during the compaction window restores k-means-quality
    * cells; `nCells` may grow with the corpus (0 = keep the current
    * count). The serving API is unchanged — probes read the same
    * tables by the same names.
    *
    * Cost shape: Lloyd on the full `_vecs` table (the once-per-
    * corpus-version price `buildIvfIndex` paid), one assignment scan,
    * and the bucketed `_cells` rewrite (also a compaction — one file
    * per bucket). `_vecs` is untouched. The fresh cells/centroids
    * tables are COMPLETELY written before the swap
    * (`PersistedIndex.replace`); `_meta` is rewritten
    * last — it only carries informational n_cells plus dim/buckets,
    * both unchanged mid-swap.
    */
  def recenterIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       name: String, nCells: Int = 0,
                       lloydIters: Int = 1): Unit = {
    import spark.implicits._
    val (oldCells, dim, buckets) = ivfMeta(spark, name)
    val cells = if (nCells > 0) nCells else oldCells
    val c = spark.table(s"${name}_vecs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(c, dim, cells, lloydIters)
      // preserve the index's metadata columns through the rewrite
      // (`_vecs` carries them; everything beyond (id, v) is metadata)
      val metaCols = c.columns.toSeq.filterNot(Set("id", "v"))
      PersistedIndex.replace(quantizedCells(c, cents, metaCols),
        s"${name}_cells", "cell")
      PersistedIndex.replace(
        cents.map { case (cell, arr) => (cell, arr.toSeq) }.toDF("cell", "c"),
        s"${name}_centroids", "cell")
      PersistedIndex.writeMeta(
        Seq((cells, dim, buckets)).toDF("n_cells", "dim", "buckets"), name)
    } finally c.unpersist()
  }

  private[ops] def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            name: String): Seq[(Long, Array[Double])] =
    spark.table(s"${name}_centroids").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** ANN top-k for a query batch against a PERSISTED IVF index (see
    * `buildIvfIndex`): centroids load driver-side (nCells rows),
    * probes broadcast, and the HOT scan reads only the probed cells
    * of the bucketed packed-int8 layout — zero index-side exchanges,
    * no re-assignment of the corpus, and the scanned bytes are 8×
    * smaller than float64. Two stages, like `quantizedTopK`: the int8
    * scan keeps `overfetch·k` candidates per query (bounded top-k
    * aggregate), then an exact float rerank reads full vectors from
    * the id-bucketed `_vecs` table for JUST those candidates. Query
    * dimensionality is validated against the index metadata.
    */
  def ivfTopKAgainstIndex(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nprobe: Int = 4, overfetch: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(k > 0 && nprobe > 0 && overfetch > 0)
    val (_, dim, _) = ivfMeta(spark, name)
    val q = queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv"))
    val qDim = vecDim(q, "qv")
    require(qDim == 0 || dim == 0 || qDim == dim,
      s"index $name built at dim=$dim, queries have dim=$qDim")
    val cents = loadCentroids(spark, name)
    // metadata-filtered serving (r12): the predicate — over the
    // metadata columns the index was built with
    // (buildIvfIndex(metaCols = …)) — applies to the CELLS scan
    // before the int8 dot, so Catalyst pushes it into the bucketed
    // parquet read (filtered rows never pay distance work) and the
    // candidate set IS the filtered top-k (the rerank sees only
    // surviving ids — no post-filter recall loss).
    val cells = filter.foldLeft(spark.table(s"${name}_cells"))(_.filter(_))
    val vecs = spark.table(s"${name}_vecs")
    // empty index: return the (empty) correctly-schemed result rather
    // than hit the sort_array(array())[0] analysis error
    if (cents.isEmpty)
      return q.limit(0).crossJoin(vecs.select(col("id")))
        .select(col("qid"), col("id"),
          lit(0).cast("int").as("rank"), lit(0.0).as("cos"))
    val qq = q.withColumn("qs", Embeddings.quantScale(col("qv")))
      .withColumn("q8", graft.functions.Native.packInt8(
        Embeddings.quantizeInt8(col("qv"), col("qs"))))
      .withColumn("qn", Embeddings.l2Norm(col("qv")))
    val probes = qq.select(col("qid"), col("q8").as("qq8"), col("qs"), col("qn"),
      explode(transform(
        slice(sort_array(cellEntries(col("qv"), cents)), 1, nprobe),
        e => e.getField("c"))).as("cell"))
    // Stage 1 — int8 scan of the probed cells: approximate cosine
    // dot(q8_c, q8_q)/(s_c·s_q·‖c‖·‖q‖), candidates bounded to
    // overfetch·k per query by the partial-aggregating top-k.
    val denom = col("s") * col("qs") * col("n") * col("qn")
    val cand = broadcast(probes).join(cells, "cell")
      .select(col("qid"),
        when(denom === 0.0, 0.0)
          .otherwise(graft.functions.Native.binaryDot(col("qq8"), col("q8")) / denom)
          .as("ascore"),
        col("id"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("ascore"), col("id"), k * overfetch).as("top"))
      .select(col("qid"), explode(col("top")).as("pair"))
      .select(col("qid"), col("pair.id").as("id"))
    // Stage 2 — exact float rerank of the candidates only: the _vecs
    // table is bucketed by id, so the (small) candidate side shuffles
    // to meet it and the index side stays exchange-free.
    cand.join(vecs, "id").join(broadcast(q), "qid")
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("cos"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(col("qid"), col("pair.id").as("id"),
        (col("r") + 1).cast("int").as("rank"), col("pair.score").as("cos"))
  }

  /** Deterministic seed centroids (lowest ids) refined by Lloyd
    * iterations — the shared trainer behind ivfTopK and
    * buildIvfIndex. Centroid state is driver-side (nCells × dim).
    */
  private[ops] def trainCentroids(c: DataFrame, dim: Int, nCells: Int,
                             lloydIters: Int): Seq[(Long, Array[Double])] = {
    var cents: Seq[(Long, Array[Double])] =
      c.orderBy("id").limit(nCells).collect().toSeq.map { r =>
        (r.get(0).asInstanceOf[Number].longValue(),
         r.getSeq[Double](1).toArray)
      }
    if (dim > 0 && cents.nonEmpty) {
      val dimAggs = (0 until dim).map(i => avg(element_at(col("v"), i + 1)).as(s"m_$i"))
      for (_ <- 0 until lloydIters) {
        cents = c.select(
            array_min(cellEntries(col("v"), cents)).getField("c").as("cell"),
            col("v"))
          .groupBy("cell").agg(dimAggs.head, dimAggs.tail: _*)
          .collect().toSeq
          .map(r => (r.getLong(0), Array.tabulate(dim)(i => r.getDouble(i + 1))))
          .sortBy(_._1)
      }
    }
    cents
  }

  /** Two-stage quantized ANN: a cheap INT8 scan picks overfetch·k
    * candidates per query, an exact float rerank orders the final k.
    * At 100 TB the scan stage's stored vectors are 8× smaller than
    * float64 (the production layout keeps only int8 + scale + norm
    * columns hot; the full-precision vectors are touched just for the
    * overfetch·k·queries candidate rows), and the shuffle is bounded
    * by the `TopKPairs` aggregate — O(queries × overfetch·k) rows.
    * cos(v, q) ≈ dot(v8, q8) / (s_v·s_q·‖v‖·‖q‖), since v8 ≈ v·s_v.
    */
  def quantizedTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, overfetch: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && overfetch > 0)
    val base = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def quantSide(df: DataFrame, vc: String): DataFrame = {
      val s = Embeddings.quantScale(col(vc))
      df.withColumn("_s", s)
        .withColumn("_q", toDoubleVec(Embeddings.quantizeInt8(col(vc), col("_s"))))
        .withColumn("_n", Embeddings.l2Norm(col(vc)))
    }
    val cq = quantSide(base, "v").select(col("id"), col("_q").as("cv"),
      col("_s").as("cs"), col("_n").as("cn"))
    val qq = quantSide(
      queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv")), "qv")
      .select(col("qid"), col("qv"), col("_q").as("qv8"),
        col("_s").as("qs"), col("_n").as("qn"))
    val denom = col("cs") * col("qs") * col("cn") * col("qn")
    val approx = cq.crossJoin(broadcast(qq))
      .select(col("qid"),
        when(denom === 0.0, 0.0).otherwise(dot(col("cv"), col("qv8")) / denom)
          .as("ascore"),
        col("id"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("ascore"), col("id"), k * overfetch).as("top"))
      .select(col("qid"), explode(col("top")).as("pair"))
      .select(col("qid"), col("pair.id").as("id"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    approx
      .join(base, "id")
      .join(broadcast(qq.select(col("qid"), col("qv"))), "qid")
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("rank").cast("int").as("rank"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs via multi-table hyperplane
    * LSH buckets, exact-cosine filtered.
    */
  /** Exact-vector collapse shared by `cosinePairs` and `semDedup`:
    * returns (`collapsed(vk, rep_id, n_copies, v)` — PERSISTED, the
    * caller must arrange its release — and `members(vk, id)`).
    */
  private def collapseVectors(df: DataFrame, idCol: String,
                              vecCol: String): (DataFrame, DataFrame) = {
    val withKey = df.select(toDoubleVec(col(vecCol)).as("v"), col(idCol).as("id"))
      .withColumn("vk", struct(
        xxhash64(lit(1L), col("v")).as("h1"),
        xxhash64(lit(2L), col("v")).as("h2")))
    val members = withKey.select(col("vk"), col("id"))
    val collapsed = withKey
      .groupBy(col("vk"))
      .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_copies"),
        first(col("v")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (collapsed, members)
  }

  def cosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bitsPerTable: Int = 4, tables: Int = 16,
      seed: Long = 42L): DataFrame = {
    val dim = vecDim(df, vecCol)
    // Exact-vector collapse first (groupBy on the vector itself): a
    // corpus where the same embedding repeats (re-crawled pages,
    // boilerplate) would otherwise multiply every LSH bucket by the
    // copy count and the candidate-pair space by its square — the
    // same duplication hazard Dedup.collapseByContent removes for
    // text. Within-group pairs score cosine(v, v) (1.0, or NaN for a
    // zero vector, exactly as the uncollapsed computation would);
    // cross-group pairs are detected among representatives and
    // re-expanded. One linear shuffle of (vector, id).
    // Like Dedup.collapseByContent, the collapse carries rep_id +
    // count only — no per-group id list (a viral embedding with 10⁸
    // copies must not land one giant array on one reducer); member
    // expansion joins back through the (vk, id) member frame.
    // The collapse/member KEY is a 128-bit seeded-hash pair of the
    // vector, NOT the vector itself: grouping and joining on the raw
    // dim-768 array shuffles ~6 KB of key bytes per row where two
    // longs suffice (~100× narrower), and array keys defeat the
    // columnar shuffle fast paths. Two independent xxhash64 seeds put
    // accidental key collisions at ~2⁻¹²⁸ — far below the float-exact
    // equality the collapse models. One exemplar vector rides the
    // collapse (first), so scoring still sees real values.
    val (collapsed, members) = collapseVectors(df, idCol, vecCol)
    val base = collapsed.select(col("rep_id").as("id"), col("v"))
    // Bucket join carries only ids; vectors are re-joined after the
    // pair-distinct (same payload-late pattern as Dedup.minhashPairs).
    // The persisted collapse/banding must outlive the lazy result —
    // see the cache lifecycle note in Dedup.minhashPairs.
    // persisted: both sides of the self-join read it, and the
    // signature computation (tables × bits dot products per row)
    // should run once per vector, not once per join side
    val banded = base.select(col("id"),
      posexplode(array((0 until tables).map { t =>
        hyperplaneSignature(col("v"), randomHyperplanes(dim, bitsPerTable, seed + t))
      }: _*)).as(Seq("table", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repPairs = banded.select(col("table"), col("bucket"), col("id").as("ra"))
      .join(banded.select(col("table"), col("bucket"), col("id").as("rb")),
        Seq("table", "bucket"))
      .filter(col("ra") < col("rb"))
      .select("ra", "rb").distinct()
      .join(base.select(col("id").as("ra"), col("v").as("v_a")), "ra")
      .join(base.select(col("id").as("rb"), col("v").as("v_b")), "rb")
      .select(col("ra"), col("rb"), cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
    Dedup.withinGroupPairs(collapsed, members, Seq("vk"),
        cosine(col("v"), col("v")), "cos")
      .filter(col("cos") >= threshold)
      .unionByName(Dedup.expandRepPairs(repPairs, collapsed, members, Seq("vk"), "cos"))
  }

  /** SemDeDup — cluster-scoped semantic deduplication (Abbas et al.
    * 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): k-means the embedding space, find
    * ε-similar pairs WITHIN each cluster only, connect them into
    * semantic groups, and keep exactly one document per group — the
    * member LEAST similar to its cluster centroid (the paper's
    * choice: boundary examples carry the most training signal).
    *
    * Output: `(id, sem_group, kept)` for every input id — kept=false
    * rows are the semantic duplicates a pipeline would drop.
    *
    * Scale shape: the quadratic step is confined to single cells —
    * the paper's own trick for web scale: pick nCells so the expected
    * cell size is bounded (cells grow ~corpus/nCells), and the
    * within-cell self-join is an equi-join on `cell`, so each cell's
    * pair space is one task's hash probe, never a global cross join.
    * Exact-copy collapse happens first (`collapseVectors`): a
    * 10⁸-copy viral embedding is ONE node in its cell, not 10⁸ —
    * identical copies reach the same cell by construction, so
    * collapse changes no answer, only the pair count. Cluster
    * assignment is the zero-shuffle driver-side-centroid argmin scan
    * of `ivfTopK`; components use the checkpointed label propagation
    * of `Components` (dedup groups are stars/cliques — 2-3 rounds).
    * Survivor choice is one `min(struct(csim, id))` aggregate per
    * group — no window, no per-group sort.
    */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16,
      lloydIters: Int = 2,
      centsSink: Seq[(Long, Array[Double])] => Unit = _ => ()): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = vecDim(df, vecCol)
    val (collapsed, members) = collapseVectors(df, idCol, vecCol)
    try {
      val base = collapsed.select(col("rep_id").as("id"), col("v"))
      val cents = trainCentroids(base, dim, nCells, lloydIters)
      centsSink(cents)
      if (cents.isEmpty)
        return df.select(col(idCol).as("id"), col(idCol).as("sem_group"),
          lit(true).as("kept")).limit(0)
      val centsDf = cents.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "cv")
      // cell = argmin over driver-side centroids (zero shuffle);
      // csim = true cosine to the chosen centroid (the survivor key)
      val assigned = base.select(col("id"), col("v"),
          array_min(cellEntries(col("v"), cents)).getField("c").as("cell"))
        .join(broadcast(centsDf), "cell")
        .select(col("cell"), col("id"), col("v"),
          cosine(col("v"), col("cv")).as("csim"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val edges = assigned.select(col("cell"), col("id").as("a"), col("v").as("v_a"))
          .join(assigned.select(col("cell"), col("id").as("b"), col("v").as("v_b")),
            Seq("cell"))
          .filter(col("a") < col("b"))
          .filter(cosine(col("v_a"), col("v_b")) >= threshold)
          .select("a", "b")
        val comps = Components.minLabelPropagate(edges)
        // singleton reps (no ε-neighbor in their cell) keep their own
        // id as the group and always survive
        val labeled = assigned
          .join(comps.withColumnRenamed("node", "id"), Seq("id"), "left")
          .select(col("id"), coalesce(col("component"), col("id")).as("sem_group"),
            col("csim"))
        val survivors = labeled.groupBy("sem_group")
          .agg(min(struct(col("csim"), col("id"))).as("m"))
          .select(col("sem_group"), col("m.id").as("surv_id"))
        val repVerdict = labeled.join(survivors, "sem_group")
          .select(col("id").as("rep_id"), col("sem_group"),
            (col("id") === col("surv_id")).as("kept"))
        // Checkpoint the per-DISTINCT-vector verdict (narrow rows:
        // vk, rep_id, group, kept) so the collapse/assignment caches
        // can be released NOW rather than leaking past the call (the
        // lshTopK lesson: localCheckpoint blocks are freed by GC when
        // the frame is dropped; SQL-cache entries are not). The lazy
        // result then only recomputes `members` — a hash projection
        // of the input, no aggregation.
        val verdictByVec = collapsed.select(col("vk"), col("rep_id"))
          .join(repVerdict, "rep_id")
          .localCheckpoint(true)
        // exact-copy members ride their representative's group; only
        // the representative itself can be the group's survivor
        members
          .join(verdictByVec, "vk")
          .select(col("id"), col("sem_group"),
            (col("kept") && col("id") === col("rep_id")).as("kept"))
      } finally assigned.unpersist(false)
    } finally collapsed.unpersist(false)
  }
}
