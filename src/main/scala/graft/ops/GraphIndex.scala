package graft.ops

import graft.io.PersistedIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import VectorOps._

/** PERSISTED graph-ANN index lifecycle (r15 — the r14 verdict's
  * "missing #1"): the kNN graph + HNSW-style upper layer as write-once
  * bucketed tables, so serving probes an index instead of paying a
  * full NN-Descent rebuild per session — the exact lifecycle contract
  * the IVF family already has ([[Similarity.buildIvfIndex]] /
  * `appendToIvfIndex` / `compactIvfIndex` / `recenterIvfIndex`),
  * instantiated for the graph family.
  *
  * Table layout (`<name>_…`), every table bucketed on exactly the key
  * its consumer joins/filters on:
  *
  *   `_adj`        (layer, src, dst, rank, cos)  bucketed by src —
  *                 the canonical DIRECTED top-k adjacency, both
  *                 layers (layer 0 = base, 1 = upper), the
  *                 maintenance input.
  *   `_adj_delta`  (layer, src, dst, rank, cos, gen) bucketed by src —
  *                 the APPEND-ONLY overlay: each [[addToGraphIndex]]
  *                 fold appends only the CHANGED rows (new nodes +
  *                 re-topped touched srcs) at the next `gen`; a src's
  *                 newest gen supersedes its base rows. History is
  *                 never rewritten — the write volume of a fold is
  *                 O(delta·k + touched·k), never O(N·k).
  *   `_und`        (layer, src, dst) bucketed by src — the serving
  *                 HOT table: the symmetrized edge list beam search
  *                 expands, persisted so a query batch never pays the
  *                 O(N·k) symmetrize shuffle.
  *   `_und_delta`  (layer, src, dst) — overlay of the fold's changed
  *                 edges, symmetrized. Union-resolved (duplicates and
  *                 superseded edges are harmless to beam search: they
  *                 only add expansion CANDIDATES, which are scored
  *                 against true vectors — [[compactGraphIndex]] keeps
  *                 them, [[redescentGraphIndex]] prunes them).
  *   `_vecs`       (id, v) bucketed by id — scoring vectors; folds
  *                 append.
  *   `_meta`       (dim, k, layer_mod, buckets) — build parameters,
  *                 validated by every serving/fold path so a
  *                 mismatched probe errors instead of silently
  *                 returning garbage.
  *
  * The upper layer is STATELESS-membership (a node is promoted iff
  * xxhash64(id) ≡ 0 mod layer_mod — [[KnnGraph.upperLayerGraph]]'s
  * rule), so the promoted node set is derived from `_vecs` at serve
  * time and folds route promoted delta nodes into the upper layer's
  * own overlay automatically.
  *
  * The `_meta` check, the append bucket count (from the catalog
  * entry of `_und`; `_meta.buckets` is informational), the crash-safe
  * rewrites and dropping follow `graft.io.PersistedIndex`.
  * Maintenance is single-writer; readers racing a fold see either the
  * pre- or post-fold overlay tail. Lifecycle: [[buildGraphIndex]]
  * once per corpus version → [[addToGraphIndex]] per delta batch →
  * [[compactGraphIndex]]
  * (layout fold, served rows PRESERVED bit-exactly) on small-file /
  * overlay pressure → [[redescentGraphIndex]] (full re-descent — the
  * `recenterIvfIndex` analogue) when accumulated folds degrade graph
  * quality.
  */
object GraphIndex {

  private val BaseLayer = 0
  private val UpperLayer = 1

  private def promotedFilter(layerMod: Int) =
    pmod(xxhash64(col("id")), lit(layerMod)) === 0

  /** Load + validate the metadata written by [[buildGraphIndex]]:
    * (dim, k, layerMod).
    */
  def graphMeta(spark: SparkSession, name: String): (Int, Int, Int) = {
    val m = PersistedIndex.meta(spark, name)
    (m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** Both layers' NN-Descent adjacency of vectors `c` (id, v) as one
    * materialized (layer, src, dst, rank, cos) frame. */
  private def descend(c: DataFrame, k: Int, layerMod: Int, iters: Int,
                      buildK: Int): DataFrame = {
    def layer(vs: DataFrame, l: Int) =
      KnnGraph.nnDescent(vs, "id", "v", k, iters, buildK = buildK)
        .select(lit(l).as("layer"), col("src"), col("dst"), col("rank"), col("cos"))
    layer(c, BaseLayer)
      .unionByName(layer(c.filter(promotedFilter(layerMod)), UpperLayer))
      .localCheckpoint(true)
  }

  /** Build and persist the two-layer graph index. Deterministic end to
    * end (NN-Descent is — see [[KnnGraph.nnDescent]]), so a rebuild on
    * the same corpus reproduces the same tables bit-for-bit.
    */
  def buildGraphIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      name: String, k: Int = 8, layerMod: Int = 16,
                      iters: Int = 4, buckets: Int = 32,
                      buildK: Int = 0): Unit = {
    require(k > 0 && layerMod > 1 && iters >= 0 && buckets > 0,
      s"bad buildGraphIndex params k=$k layerMod=$layerMod iters=$iters " +
        s"buckets=$buckets")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).cast("long").as("id"),
      toDoubleVec(col(vecCol)).as("v"))
    val dim = Similarity.vecDim(c, "v")
    val adj = descend(c, k, layerMod, iters, buildK)
    graft.io.Sources.writeBucketed(adj, s"${name}_adj", "src", buckets)
    graft.io.Sources.writeBucketed(symmetrized(adj).distinct(),
      s"${name}_und", "src", buckets)
    graft.io.Sources.writeBucketed(c, s"${name}_vecs", "id", buckets)
    // overlays start empty but fully schemed, so resolution and the
    // first fold never branch on table existence
    graft.io.Sources.writeBucketed(
      adj.withColumn("gen", lit(0L)).limit(0),
      s"${name}_adj_delta", "src", buckets)
    graft.io.Sources.writeBucketed(
      adj.select(col("layer"), col("src"), col("dst")).limit(0),
      s"${name}_und_delta", "src", buckets)
    PersistedIndex.writeMeta(
      Seq((dim, k, layerMod, buckets)).toDF("dim", "k", "layer_mod", "buckets"), name)
  }

  /** (layer, src, dst) + (layer, dst, src) of a layered edge frame. */
  private def symmetrized(adj: DataFrame): DataFrame =
    adj.select(col("layer"), col("src"), col("dst"))
      .unionByName(adj.select(col("layer"), col("dst").as("src"),
        col("src").as("dst")))

  /** One layer's EFFECTIVE directed adjacency: overlay rows at a src's
    * newest gen supersede its base rows. The superseding src set is
    * overlay-sized (bounded by compaction cadence), so it broadcasts
    * and the base table is anti-joined without an exchange.
    */
  def resolveAdj(spark: SparkSession, name: String,
                 layer: Int = BaseLayer): DataFrame = {
    val base = spark.table(s"${name}_adj").filter(col("layer") === layer)
      .select("src", "dst", "rank", "cos")
    val ov = spark.table(s"${name}_adj_delta").filter(col("layer") === layer)
    val latest = ov.groupBy("src").agg(max("gen").as("gen"))
    val effective = ov.join(latest, Seq("src", "gen"))
      .select("src", "dst", "rank", "cos")
    base.join(broadcast(latest.select("src")), Seq("src"), "left_anti")
      .unionByName(effective)
  }

  /** One layer's serving edge list: persisted und plus the overlay's
    * symmetrized changed edges. No dedup — a duplicate or superseded
    * edge only re-proposes an expansion candidate beam search scores
    * against the true vectors, so results are unaffected and the
    * union stays exchange-free.
    */
  private def resolveUnd(spark: SparkSession, name: String,
                         layer: Int): DataFrame =
    spark.table(s"${name}_und").filter(col("layer") === layer)
      .select("src", "dst")
      .unionByName(
        spark.table(s"${name}_und_delta").filter(col("layer") === layer)
          .select("src", "dst"))

  private def queriesFrame(spark: SparkSession, name: String, dim: Int,
                           queries: DataFrame, qIdCol: String,
                           qVecCol: String): DataFrame = {
    val q = queries.select(col(qIdCol).cast("long").as("qid"),
      toDoubleVec(col(qVecCol)).as("qv"))
    val qDim = Similarity.vecDim(q, "qv")
    require(qDim == 0 || dim == 0 || qDim == dim,
      s"index $name built at dim=$dim, queries have dim=$qDim")
    q
  }

  /** Flat beam-search serving against the PERSISTED index — no
    * rebuild: the edge list is the bucketed `_und` (+ overlay tail)
    * and vectors join in from `_vecs` (bucketed by id). Semantics of
    * [[KnnGraph.graphSearch]]; per round O(queries·beam·k) candidate
    * rows, the index tables are only ever scanned, never reshuffled.
    */
  def graphSearchAgainstIndex(spark: SparkSession, name: String,
                              queries: DataFrame, qIdCol: String,
                              qVecCol: String, k: Int, beam: Int = 32,
                              hops: Int = 3, seedMod: Int = 16): DataFrame = {
    require(k > 0 && beam >= k && hops >= 0 && seedMod > 0,
      s"bad graphSearchAgainstIndex params k=$k beam=$beam hops=$hops " +
        s"seedMod=$seedMod")
    val (dim, _, _) = graphMeta(spark, name)
    val c = spark.table(s"${name}_vecs")
    val q = queriesFrame(spark, name, dim, queries, qIdCol, qVecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val und = resolveUnd(spark, name, BaseLayer)
    val seeds = c.filter(pmod(xxhash64(col("id")), lit(seedMod)) === 0)
      .select("id")
    val best = KnnGraph.beamSearchFrom(und, c, q,
      q.select("qid").crossJoin(broadcast(seeds)), beam, hops)
    q.unpersist()
    best.filter(col("rank") <= k)
  }

  /** Hierarchical serving against the PERSISTED index — the
    * [[KnnGraph.graphSearchHier]] loop with both layers' edge lists
    * read from the bucketed tables and the upper node set derived
    * from `_vecs` by the stateless layer rule (no stored layer
    * table). Same degradation rungs as the in-memory operator: empty
    * hash subsample → all upper nodes; empty upper layer → flat
    * base-corpus seeding.
    */
  def graphSearchHierAgainstIndex(spark: SparkSession, name: String,
                                  queries: DataFrame, qIdCol: String,
                                  qVecCol: String, k: Int, beam: Int = 32,
                                  hops: Int = 2, entryBeam: Int = 8,
                                  upperHops: Int = 2,
                                  seedMod: Int = 4): DataFrame = {
    require(k > 0 && beam >= k && hops >= 0 && entryBeam > 0 &&
      upperHops >= 0 && seedMod > 0,
      s"bad graphSearchHierAgainstIndex params k=$k beam=$beam hops=$hops " +
        s"entryBeam=$entryBeam upperHops=$upperHops seedMod=$seedMod")
    val (dim, _, layerMod) = graphMeta(spark, name)
    val c = spark.table(s"${name}_vecs")
    val q = queriesFrame(spark, name, dim, queries, qIdCol, qVecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val upperNodes = c.filter(promotedFilter(layerMod)).select("id")
    val entries = if (upperNodes.isEmpty) {
      val baseHash = c.filter(pmod(xxhash64(col("id")), lit(seedMod)) === 0)
        .select(col("id"))
      val baseSeeds = if (baseHash.isEmpty) c.select(col("id")) else baseHash
      q.select("qid").crossJoin(broadcast(baseSeeds))
    } else {
      val hashSeeds = upperNodes
        .filter(pmod(xxhash64(col("id")), lit(seedMod)) === 0)
      val upperSeeds = if (hashSeeds.isEmpty) upperNodes else hashSeeds
      KnnGraph.beamSearchFrom(resolveUnd(spark, name, UpperLayer), c, q,
        q.select("qid").crossJoin(broadcast(upperSeeds)),
        beam = math.max(entryBeam, 2), hops = upperHops)
        .filter(col("rank") <= entryBeam)
        .select("qid", "id")
    }
    val best = KnnGraph.beamSearchFrom(resolveUnd(spark, name, BaseLayer),
      c, q, entries, beam, hops)
    q.unpersist()
    best.filter(col("rank") <= k)
  }

  /** Fold a DELTA batch of vectors into the persisted index — the
    * daily-ingest path ([[Similarity.appendToIvfIndex]]'s analogue):
    * [[KnnGraph.addToGraphParts]] computes the changed adjacency rows
    * (each arrival beam-searches the EXISTING graph; only touched old
    * srcs re-rank), and the fold APPENDS them — changed directed rows
    * to `_adj_delta` at the next gen, their symmetrized edges to
    * `_und_delta`, the vectors to `_vecs`. Promoted delta nodes
    * (xxhash64 ≡ 0 mod layer_mod) fold into the upper layer the same
    * way. History is never rewritten; write volume is
    * O(delta·k + touched·k).
    *
    * Crash note: overlays are written before `_vecs`, so a crash
    * between leaves adjacency rows whose vectors are absent — serving
    * joins simply drop them (inner join on `_vecs`) until the fold is
    * retried; no torn or corrupted state.
    */
  def addToGraphIndex(spark: SparkSession, name: String, delta: DataFrame,
                      idCol: String, vecCol: String, beam: Int = 32,
                      hops: Int = 3, seedMod: Int = 16): Unit = {
    val (dim, k, layerMod) = graphMeta(spark, name)
    val buckets = PersistedIndex.buckets(spark, s"${name}_und")
    val corpus = spark.table(s"${name}_vecs")
    val d0 = delta.select(col(idCol).cast("long").as("id"),
      toDoubleVec(col(vecCol)).as("v"))
    // validated BEFORE the already-present filter so a mismatched
    // delta errors even when its ids would all be dropped
    val dDim = Similarity.vecDim(d0, "v")
    require(dDim == 0 || dim == 0 || dDim == dim,
      s"index $name built at dim=$dim, delta has dim=$dDim")
    // ids already in the index are dropped: re-ingesting a batch is a
    // NO-OP, which makes the fold IDEMPOTENT under at-least-once
    // delivery (a retried streaming micro-batch re-folds to nothing —
    // the 40i idempotent-foreachBatch contract) and protects `_vecs`
    // from duplicate rows a re-ingest would otherwise append
    val d = d0.join(corpus.select("id"), Seq("id"), "left_anti")
      .localCheckpoint(true)
    if (d.isEmpty) return
    val nextGen = spark.table(s"${name}_adj_delta")
      .agg(coalesce(max("gen"), lit(0L))).head().getLong(0) + 1
    def foldLayer(layer: Int, lCorpus: DataFrame, lDelta: DataFrame): Unit = {
      val graph = resolveAdj(spark, name, layer)
      val (_, changed) = KnnGraph.addToGraphParts(graph, lCorpus, lDelta,
        "id", "v", k, beam, hops, seedMod)
      graft.io.Sources.appendBucketed(
        changed.select(lit(layer).as("layer"), col("src"), col("dst"),
          col("rank"), col("cos"), lit(nextGen).as("gen")),
        s"${name}_adj_delta", "src", buckets)
      graft.io.Sources.appendBucketed(
        symmetrized(changed.withColumn("layer", lit(layer)))
          .select("layer", "src", "dst").distinct(),
        s"${name}_und_delta", "src", buckets)
    }
    foldLayer(BaseLayer, corpus, d)
    val dUpper = d.filter(promotedFilter(layerMod))
    if (!dUpper.isEmpty)
      foldLayer(UpperLayer, corpus.filter(promotedFilter(layerMod)), dUpper)
    graft.io.Sources.appendBucketed(d, s"${name}_vecs", "id", buckets)
  }

  /** Fold the overlays into the base tables and reset them — the
    * small-file/overlay maintenance step ([[Similarity.compactIvfIndex]]
    * analogue). PURE LAYOUT: `_adj` becomes the resolved adjacency,
    * `_und` becomes the distinct union of persisted + overlay edges —
    * the same edge SET serving resolved before, so served rows are
    * preserved bit-exactly (spec'd). `_vecs` is compacted to one file
    * per bucket. Graph QUALITY is untouched — that is
    * [[redescentGraphIndex]]'s job.
    */
  def compactGraphIndex(spark: SparkSession, name: String): Unit = {
    val adj = Seq(BaseLayer, UpperLayer).map { l =>
      resolveAdj(spark, name, l)
        .select(lit(l).as("layer"), col("src"), col("dst"),
          col("rank"), col("cos"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val und = spark.table(s"${name}_und")
      .unionByName(spark.table(s"${name}_und_delta"))
      .distinct().localCheckpoint(true)
    PersistedIndex.replace(adj, s"${name}_adj", "src")
    PersistedIndex.replace(und, s"${name}_und", "src")
    truncate(spark, s"${name}_adj_delta")
    truncate(spark, s"${name}_und_delta")
    PersistedIndex.compact(spark, s"${name}_vecs", "id")
  }

  /** Full NN-Descent rebuild of both layers from the index's CURRENT
    * vectors — the quality-restoring maintenance step
    * ([[Similarity.recenterIvfIndex]]'s analogue): accumulated folds
    * track serving recall well (spec'd) but a fresh descent re-mixes
    * the whole corpus and prunes the overlay's stale edges. Overlays
    * reset; `_meta` unchanged; the serving API reads the same tables
    * by the same names.
    */
  def redescentGraphIndex(spark: SparkSession, name: String,
                          iters: Int = 4, buildK: Int = 0): Unit = {
    val (_, k, layerMod) = graphMeta(spark, name)
    val c = spark.table(s"${name}_vecs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val adj = descend(c, k, layerMod, iters, buildK)
      PersistedIndex.replace(adj, s"${name}_adj", "src")
      PersistedIndex.replace(symmetrized(adj).distinct(), s"${name}_und", "src")
      truncate(spark, s"${name}_adj_delta")
      truncate(spark, s"${name}_und_delta")
    } finally c.unpersist()
  }

  /** Rewrite an overlay table as empty, keeping its schema — through
    * [[PersistedIndex.replace]]: a direct writeBucketed DROPs the old
    * table first, so a crash in that window would leave the overlay
    * table nonexistent and every subsequent resolveAdj/serve throwing
    * table-not-found.
    */
  private def truncate(spark: SparkSession, table: String): Unit =
    PersistedIndex.replace(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], spark.table(table).schema), table, "src")
}
