package graft.ops

import graft.io.PersistedIndex
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the persisted IVF index with PRODUCT-QUANTIZED cells — the
  * standard billion-vector serving layout (Jégou, Douze & Schmid 2011
  * §IV "IVFADC"; FAISS's IndexIVFPQ): coarse centroids route each
  * vector to a cell, and within the cell the vector stores as m
  * sub-space codes (m small ints ≈ m bytes — 8× smaller again than
  * the int8 layout's dim bytes, 64× smaller than float64). A query
  * probes `nprobe` cells and ADC-scans ONLY those cells' codes — the
  * corpus fraction touched is ~nprobe/nCells of an already-64×-
  * compressed table — then an exact float rerank over the
  * overfetch·k candidates reads full vectors from the id-bucketed
  * `_vecs` table. This closes the round-9 watch item: corpus-wide
  * `ProductQuantization.adcTopK` scans every code; here the code scan
  * is cell-pruned.
  *
  * Encoding is RESIDUAL (FAISS `by_residual=true`, the standard
  * IVFADC accuracy rung): each vector stores the PQ codes of
  * r = v̂ − centroid(cell), whose variance is far smaller than v̂'s,
  * so the same m bytes quantize much finer. The textbook cost of
  * residuals — a per-cell LUT, m·k·nprobe work per query — does NOT
  * apply under the dot/cosine metric this engine serves: the score
  * decomposes additively, q̂·v̂ ≈ q̂·cent + q̂·r̃, so ONE global m·k
  * LUT (over the residual codebooks) still suffices and the only
  * extra per-probe work is q̂·cent — a dot the probe ranking already
  * pays for. Encoding likewise needs no per-row residual vector:
  * argmax_c [r_sub·cb_c − ‖cb_c‖²/2] = argmax_c [v̂_sub·cb_c −
  * (cent_sub·cb_c + ‖cb_c‖²/2)], and the parenthesized term is a
  * DRIVER-computed constant per (cell, subspace, code) — a flat
  * literal array indexed by cell, keeping the encode one codegen'd
  * projection and the fitted model renderable for the oracle
  * ([[residOffsets]]).
  *
  * Tables (the `buildIvfIndex` lifecycle, inherited):
  *   `<name>_pqcells`   (cell, id, codes)  bucketed by cell — HOT.
  *   `<name>_vecs`      (id, v)            bucketed by id — rerank.
  *   `<name>_centroids` (cell, c)          nCells rows.
  *   `<name>_codebooks` (sub, code, c)     m·k rows.
  *   `<name>_meta`      (n_cells, dim, buckets, m, k_codes).
  * Each table is bucketed on exactly the key its serving join uses,
  * so the index side adds ZERO exchanges (plan-spec'd); probes prune
  * to the probed cells' buckets. Append assigns and encodes the
  * delta against the PERSISTED models (one delta scan, history
  * untouched); compact reconsolidates files; recenter retrains both
  * models from `_vecs` and rewrites the cells during a maintenance
  * window (the `recenterIvfIndex` drift story, unchanged). The
  * `_meta` check, the append bucket count (from the catalog), the
  * crash-safe rewrites and dropping follow `graft.io.PersistedIndex`.
  */
object IvfPq {
  import VectorOps._
  import ProductQuantization.PqModel

  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 name: String, nCells: Int = 16, m: Int = 8,
                 kCodes: Int = 16, lloydIters: Int = 1, pqIters: Int = 4,
                 buckets: Int = 32, metaCols: Seq[String] = Seq.empty): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("id") +:
        toDoubleVec(col(vecCol)).as("v") +: metaCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = Similarity.vecDim(corpus, vecCol)
      val cents = Similarity.trainCentroids(c, dim, nCells, lloydIters)
      val model = fitResidualModel(c, cents, m, kCodes, pqIters)
      graft.io.Sources.writeBucketed(
        cents.map { case (cell, arr) => (cell, arr.toSeq) }.toDF("cell", "c"),
        s"${name}_centroids", "cell", 1)
      graft.io.Sources.writeBucketed(
        (for (s <- 0 until m; cd <- 0 until kCodes)
          yield (s, cd, model.codebooks(s)(cd).toSeq)).toDF("sub", "code", "c"),
        s"${name}_codebooks", "sub", 1)
      PersistedIndex.writeMeta(
        Seq((nCells, dim, buckets, m, kCodes))
          .toDF("n_cells", "dim", "buckets", "m", "k_codes"), name)
      graft.io.Sources.writeBucketed(pqCells(c, cents, model, metaCols),
        s"${name}_pqcells", "cell", buckets)
      graft.io.Sources.writeBucketed(
        c.select((Seq("id", "v") ++ metaCols).map(col): _*),
        s"${name}_vecs", "id", buckets)
    } finally { c.unpersist(); () }
  }

  /** Fit the PQ codebooks on the RESIDUALS v̂ − centroid(cell): one
    * extra projection (assign cell, subtract its centroid elementwise)
    * ahead of the standard fused-Lloyd fit, un-normalized — residuals
    * are deviations, not directions. Build-time only; serving never
    * materializes a residual (see [[pqCells]]/[[residOffsets]]).
    */
  private def fitResidualModel(c: DataFrame, cents: Seq[(Long, Array[Double])],
                               m: Int, kCodes: Int, pqIters: Int): PqModel = {
    if (cents.isEmpty)
      return ProductQuantization.fit(c, "id", "v", m, kCodes, pqIters)
    val staged = c.select(col("id"),
      ProductQuantization.normed(col("v")).as("nv"),
      cellIndexExpr(array_min(Similarity.cellEntries(col("v"), cents))
        .getField("c"), cents).as("cidx"))
    val centArr = typedLit(cents.map(_._2.toSeq))
    val resid = staged.select(col("id"),
      zip_with(col("nv"), element_at(centArr, col("cidx") + 1),
        (a, b) => a - b).as("rv"))
    ProductQuantization.fit(resid, "id", "rv", m, kCodes, pqIters,
      normalize = false)
  }

  /** Position of a cell id in the (id-sorted) centroid list — the
    * index into the flat [[residOffsets]] literal. */
  private def cellIndexExpr(cell: Column,
                            cents: Seq[(Long, Array[Double])]): Column =
    cents.zipWithIndex.init.foldRight(lit(cents.size - 1): Column) {
      case (((id, _), i), acc) => when(cell === id, lit(i)).otherwise(acc)
    }

  /** The flat per-(cell, subspace, code) encode offsets
    * K = cent_sub·cb + ‖cb‖²/2, laid out cellIdx·(m·k) + s·k + c.
    * Residual encoding reduces to argmax_c [v̂_sub·cb_c − K]: these
    * driver-computed doubles ride into the Spark plan as ONE literal
    * array and into the DuckDB oracle as the SAME rendered literals,
    * so the stored codes are bit-reproducible cross-engine. Public
    * because the oracle renderer needs the exact doubles.
    */
  def residOffsets(cents: Seq[(Long, Array[Double])],
                   model: PqModel): IndexedSeq[Double] =
    (for ((_, cv) <- cents.toIndexedSeq;
          s <- 0 until model.m; c <- 0 until model.k) yield {
      val cb = model.codebooks(s)(c)
      var d = 0.0
      var i = 0
      while (i < model.subDim) { d += cv(s * model.subDim + i) * cb(i); i += 1 }
      d + cb.map(x => x * x).sum / 2.0
    })

  /** (cell, id, codes) for a batch of (id, v): nearest-cell routing
    * plus the m-code RESIDUAL PQ encoding via the constant-folded
    * argmax (no residual vector is ever materialized) — two stacked
    * codegen'd projections, no build-side join, no shuffle before the
    * bucketed write. */
  private def pqCells(c: DataFrame, cents: Seq[(Long, Array[Double])],
                      model: PqModel,
                      metaCols: Seq[String] = Seq.empty): DataFrame = {
    if (cents.isEmpty)
      return c.select(lit(0L).as("cell") +: col("id") +:
        ProductQuantization.codesExpr(col("v"), model).as("codes") +:
        metaCols.map(col): _*)
    val staged = c.select(
        array_min(Similarity.cellEntries(col("v"), cents))
          .getField("c").as("cell") +:
        col("id") +:
        ProductQuantization.normed(col("v")).as("nv") +:
        metaCols.map(col): _*)
      .withColumn("cidx", cellIndexExpr(col("cell"), cents))
    val kLit = typedLit(residOffsets(cents, model))
    val mk = model.m * model.k
    val cidx = col("cidx")
    def codeOf(s: Int): Column = {
      val entries = (0 until model.k).map { cc =>
        val score = graft.functions.Native.doubleDot(
          slice(col("nv"), s * model.subDim + 1, model.subDim),
          typedLit(model.codebooks(s)(cc).toSeq)) -
          element_at(kLit, cidx * mk + lit(s * model.k + cc + 1))
        struct((-score).as("d"), lit(cc).as("c"))
      }
      array_min(array(entries: _*)).getField("c")
    }
    staged.select(col("cell") +: col("id") +:
      array((0 until model.m).map(codeOf): _*).as("codes") +:
      metaCols.map(col): _*)
  }

  private def loadMeta(spark: SparkSession, name: String): (Int, Int, Int, Int, Int) = {
    val r = PersistedIndex.meta(spark, name)
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
  }

  /** The persisted centroids and residual PQ model of index `name`
    * (public: the q_ann_ivfpq oracle renders exactly these). */
  def loadModels(spark: SparkSession,
                 name: String): (Seq[(Long, Array[Double])], PqModel) = {
    val (_, dim, _, m, kCodes) = loadMeta(spark, name)
    (Similarity.loadCentroids(spark, name), loadModel(spark, name, m, kCodes, dim))
  }

  private def loadModel(spark: SparkSession, name: String,
                        m: Int, kCodes: Int, dim: Int): PqModel = {
    val cb = Array.ofDim[Array[Double]](m, kCodes)
    spark.table(s"${name}_codebooks").collect().foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    require(cb.forall(_.forall(_ != null)),
      s"index $name: incomplete ${name}_codebooks")
    PqModel(m, kCodes, dim / m, cb)
  }

  /** Append a delta against the PERSISTED centroids + codebooks — one
    * delta scan, history never re-encoded. Models intentionally not
    * retrained (serving stays consistent between appends); rebuild or
    * [[recenterIndex]] per major corpus version.
    */
  def appendToIndex(spark: SparkSession, name: String,
                    delta: DataFrame, idCol: String, vecCol: String): Unit = {
    val (_, dim, _, m, kCodes) = loadMeta(spark, name)
    val buckets = PersistedIndex.buckets(spark, s"${name}_pqcells")
    // metadata columns discovered from the persisted schema (the
    // Similarity.ivfMetaCols contract): a delta must carry every one
    val metaCols = spark.table(s"${name}_pqcells").columns.toSeq
      .filterNot(Set("cell", "id", "codes"))
    val d = delta.select(col(idCol).as("id") +:
      toDoubleVec(col(vecCol)).as("v") +: metaCols.map(col): _*)
    val dDim = Similarity.vecDim(d, "v")
    require(dDim == 0 || dim == 0 || dDim == dim,
      s"index $name built at dim=$dim, delta has dim=$dDim")
    val cents = Similarity.loadCentroids(spark, name)
    require(cents.nonEmpty || dDim == 0,
      s"index $name has no centroids; rebuild before appending")
    val model = loadModel(spark, name, m, kCodes, dim)
    graft.io.Sources.appendBucketed(pqCells(d, cents, model, metaCols),
      s"${name}_pqcells", "cell", buckets)
    graft.io.Sources.appendBucketed(
      d.select((Seq("id", "v") ++ metaCols).map(col): _*),
      s"${name}_vecs", "id", buckets)
  }

  /** One file per bucket after many appends; serving plans unchanged. */
  def compactIndex(spark: SparkSession, name: String): Unit = {
    PersistedIndex.compact(spark, s"${name}_pqcells", "cell")
    PersistedIndex.compact(spark, s"${name}_vecs", "id")
  }

  /** ANN top-k against the persisted index. Stage 1 ADC-scans ONLY
    * the probed cells: probes (queries × nprobe rows, each carrying
    * the per-query m·k LUT) broadcast against the cell-bucketed
    * `_pqcells` — zero index-side exchanges — and the bounded
    * `TopKPairs` aggregate keeps overfetch·k candidates per query.
    * Stage 2 reranks exactly from `_vecs` by true cosine. Output
    * (qid, id, rank, cos) — the `quantizedTopK` contract.
    */
  def topKAgainstIndex(spark: SparkSession, name: String,
                       queries: DataFrame, qIdCol: String, qVecCol: String,
                       k: Int, nprobe: Int = 4, overfetch: Int = 4,
                       filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(k > 0 && nprobe > 0 && overfetch > 0)
    val (_, dim, _, m, kCodes) = loadMeta(spark, name)
    val q = queries.select(col(qIdCol).as("qid"), toDoubleVec(col(qVecCol)).as("qv"))
    val qDim = Similarity.vecDim(q, "qv")
    require(qDim == 0 || dim == 0 || qDim == dim,
      s"index $name built at dim=$dim, queries have dim=$qDim")
    val cents = Similarity.loadCentroids(spark, name)
    // metadata-filtered serving (r12, the ivfTopKAgainstIndex
    // contract): the predicate — over buildIndex(metaCols = …)
    // columns — applies to the pqcells scan BEFORE the ADC sum, so
    // Catalyst pushes it into the bucketed read and the candidate
    // set IS the filtered top-k
    val cells = filter.foldLeft(spark.table(s"${name}_pqcells"))(_.filter(_))
    val vecs = spark.table(s"${name}_vecs")
    if (cents.isEmpty)
      return q.limit(0).crossJoin(vecs.select(col("id")))
        .select(col("qid"), col("id"),
          lit(0).cast("int").as("rank"), lit(0.0).as("cos"))
    val model = loadModel(spark, name, m, kCodes, dim)
    // normalized query staged once, then the per-query LUT over the
    // RESIDUAL codebooks (lut[s·k + c] = q̂_sub(s)·cb) and the nprobe
    // nearest cells; each probe carries cdot = q̂·centroid(cell) — the
    // additive centroid term of the residual ADC score
    val qn = sqrt(dot(col("qv"), col("qv")))
    val nq = when(qn === 0.0, col("qv"))
      .otherwise(transform(col("qv"), x => x / qn))
    val qstage = q.select(col("qid"), col("qv"), nq.as("nqv"))
    val lut = array((for (s <- 0 until m; c <- 0 until kCodes) yield
      dot(slice(col("nqv"), s * model.subDim + 1, model.subDim),
        typedLit(model.codebooks(s)(c).toSeq))): _*)
    val cdot = cents.init.foldRight(
        dot(col("nqv"), typedLit(cents.last._2.toSeq)): Column) {
      case ((id, cv), acc) =>
        when(col("cell") === id, dot(col("nqv"), typedLit(cv.toSeq)))
          .otherwise(acc)
    }
    val probes = qstage
      .select(col("qid"), col("nqv"), lut.as("lut"),
        explode(transform(
          slice(sort_array(Similarity.cellEntries(col("qv"), cents)), 1, nprobe),
          e => e.getField("c"))).as("cell"))
      .select(col("qid"), col("lut"), cdot.as("cdot"), col("cell"))
    // left-assoc chain STARTING at the centroid term — the oracle
    // renders `qc + l_0 + l_1 + …`, which SQL parses left-assoc
    val adc = (col("cdot") +: (0 until m)
      .map(s => element_at(col("lut"),
        lit(s * kCodes) + element_at(col("codes"), s + 1) + 1)))
      .reduce(_ + _)
    val cand = broadcast(probes).join(cells, "cell")
      .select(col("qid"), adc.as("ascore"), col("id"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("ascore"), col("id"),
        k * overfetch).as("top"))
      .select(col("qid"), explode(col("top")).as("pair"))
      .select(col("qid"), col("pair.id").as("id"))
    cand.join(vecs, "id").join(broadcast(q), "qid")
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("cos"))
      .groupBy("qid")
      .agg(graft.functions.Native.topKPairs(col("cos"), col("id"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "pair")))
      .select(col("qid"), col("pair.id").as("id"),
        (col("r") + 1).cast("int").as("rank"), col("pair.score").as("cos"))
  }

  /** Retrain BOTH models (centroids + codebooks) from the index's
    * current `_vecs` and rewrite `_pqcells` — the drift-closing
    * recluster, same crash-safety order as `recenterIvfIndex`
    * (fresh tables fully written before the rename swap; `_vecs`
    * untouched).
    */
  def recenterIndex(spark: SparkSession, name: String,
                    nCells: Int = 0, lloydIters: Int = 1,
                    pqIters: Int = 4): Unit = {
    import spark.implicits._
    val (oldCells, dim, buckets, m, kCodes) = loadMeta(spark, name)
    val cellsN = if (nCells > 0) nCells else oldCells
    val c = spark.table(s"${name}_vecs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = Similarity.trainCentroids(c, dim, cellsN, lloydIters)
      val model = fitResidualModel(c, cents, m, kCodes, pqIters)
      // preserve the index's metadata columns through the rewrite
      // (`_vecs` carries them; everything beyond (id, v) is metadata)
      val metaCols = c.columns.toSeq.filterNot(Set("id", "v"))
      PersistedIndex.replace(pqCells(c, cents, model, metaCols),
        s"${name}_pqcells", "cell")
      PersistedIndex.replace(
        cents.map { case (cell, arr) => (cell, arr.toSeq) }.toDF("cell", "c"),
        s"${name}_centroids", "cell")
      PersistedIndex.replace(
        (for (s <- 0 until m; cd <- 0 until kCodes)
          yield (s, cd, model.codebooks(s)(cd).toSeq)).toDF("sub", "code", "c"),
        s"${name}_codebooks", "sub")
      PersistedIndex.writeMeta(
        Seq((cellsN, dim, buckets, m, kCodes))
          .toDF("n_cells", "dim", "buckets", "m", "k_codes"), name)
    } finally { c.unpersist(); () }
  }
}
