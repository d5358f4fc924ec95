package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cores(4)
    val spark = LocalSession(cpus)
    // JVM/Spark warmup so the first timed queries aren't charged for
    // classloading + JIT/codegen compiler spin-up. One representative
    // per expression family: relational agg, level-wise fit (large
    // generated aggregates), text/array HOFs. Measured: a fit-shaped
    // query costs ~2x its steady state on a cold JIT.
    // Force FULL evaluation of every output column, not df.count():
    // count() lets Catalyst eliminate left-join enrichments whose
    // right side is key-unique (the shape of the per-doc scoring
    // queries), so a count-based bench measured only the base scan
    // there — while the DuckDB baseline fetches all rows. toRdd
    // materializes the physical plan's own output rows.
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.toRdd.count(); ()
    }
    for (w <- Seq("q1_agg", "q_dt_fit_predict", "q_text_quality")) {
      val fn = SparkEntry.queries.getOrElse(w,
        sys.error(s"warmup query $w missing from SparkEntry.queries"))
      try evaluate(fn(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[bench] warmup $w failed: $e") }
    }
    // Best-of-N per query: a single pass is exposed to one-off GC /
    // codegen-compile / page-cache hiccups (observed: a 15s outlier
    // on a query whose steady state is 1s, +40% on the suite total).
    // The minimum of two runs measures the plan, not the JVM's mood.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // Optional standalone re-measure of a subset (comma-separated
    // names): marathon suite runs accumulate GC/block-manager
    // pressure that can move individual numbers 2x with no code
    // change, so a regression suspect gets re-timed alone before it
    // is believed.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.map(names => SparkEntry.queries.view.filterKeys(names).toMap)
      .getOrElse(SparkEntry.queries)
    // INTERLEAVED live baseline: each query's DuckDB oracle is timed
    // seconds after its Spark passes, through a synchronous
    // line-protocol server (tools/bench_duckdb.py --serve) — the two
    // engines never run concurrently (the request blocks this thread;
    // Spark's executor threads are idle while DuckDB times). Three
    // consecutive rounds showed the marathon-then-sweep pairing
    // misreading window drift as an engine ratio (Spark total swings
    // ~2x with ambient load over 25 minutes, DuckDB's sweep lands in
    // a different window); pairing per-query collapses the drift to
    // the seconds scale. Falls back to the post-stop sweep when the
    // server can't start, and to the committed files when neither
    // runs.
    // One watchdog kill must not strip live pairing from every LATER
    // query (r11 advice: a single slow oracle used to permanently
    // kill the serve child while the artifact still read
    // live_mode=interleaved over a silently shrunken set) — restart
    // the server after a kill, bounded so a genuinely wedged DuckDB
    // can't loop the bench forever.
    var oracleServer = OracleServer.start(sfDir)
    var serverRestartsLeft = 3
    val liveInterleaved = scala.collection.mutable.Map[String, Double]()
    // 1-minute load average sampled right after each query's passes
    // (r14 advice #8): flag triage keeps re-deriving per-query load
    // from session logs — carry it in the artifact instead
    val load1s = scala.collection.mutable.Map[String, Double]()
    val results = selected.map { case (name, fn) =>
      val best = (0 until math.max(1, passes)).map { _ =>
        // isolate queries: persisted intermediates (minhash
        // signatures, LSH bandings, fit working sets) must not leak
        // memory pressure into later measurements
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        // a throwing query must read as a FAILURE sentinel, not as a
        // suspiciously fast timing
        val ok = try { evaluate(fn(spark, sfDir)); true }
                 catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else Double.MaxValue
      }.min
      load1s(name) = load1()
      if (oracleServer.exists(_.isDead) && serverRestartsLeft > 0) {
        serverRestartsLeft -= 1
        oracleServer.foreach(_.close())
        oracleServer = OracleServer.start(sfDir)
      }
      for (srv <- oracleServer; sql <- SparkEntry.oracleSql.get(name);
           sec <- srv.time(name, sql, passes))
        liveInterleaved(name) = sec
      name -> (if (best == Double.MaxValue) -1.0 else best)
    }
    oracleServer.foreach(_.close())
    // per-query rows carry {sec, load1} (r15): the timing plus the
    // ambient load it was taken under, so a marathon flag is triaged
    // from the artifact alone
    val qs = results.map { case (k, v) =>
      s""""$k":{"sec":$v,"load1":${load1s.getOrElse(k, -1.0)}}"""
    }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Gate ratio vs the committed single-node DuckDB baseline (see
    // BASELINE.md): sum of our times over the queries the baseline
    // covers, divided by the baseline's sum. "Within 2x of BASELINE"
    // = ratio <= 2.0.
    // Two ratios, both reported: the conservative ENVELOPE (slowest
    // observed DuckDB per query across windows — the regression
    // alarm that one fast DuckDB window can't trip) and the honest
    // same-session PAIR (the fresh round-6 window's DuckDB numbers;
    // BASELINE.md documents both). The gate is the PAIR staying
    // <= 2.0.
    def ratioAgainst(file: String, key: String): String =
      baselineTimings(file).map { base =>
        val shared = results.filter(_._2 >= 0).keySet.intersect(base.keySet)
        val ours = shared.toSeq.map(results).sum
        val theirs = shared.toSeq.map(base).sum
        s""","$key":${if (theirs > 0) ours / theirs else -1.0},"${key}_queries":${shared.size}"""
      }.getOrElse("")
    val vsBaseline =
      ratioAgainst(sys.env.getOrElse("SPARK_GRAFT_BASELINE",
        "tools/baseline_duckdb_sf0.1.json"), "bench_vs_baseline") +
      ratioAgainst(sys.env.getOrElse("SPARK_GRAFT_BASELINE_PAIR",
        "tools/baseline_pair_sf0.1.json"), "bench_vs_baseline_pair")
    spark.stop()
    // LIVE same-window baseline. Preferred source: the INTERLEAVED
    // per-query timings collected above (each oracle timed seconds
    // after its Spark query — same best-of-N reduction, engines
    // strictly sequential). Fallback when the serve-mode process
    // couldn't start: the legacy post-stop sweep (one DuckDB pass
    // over all oracles after the full Spark marathon — drift-exposed
    // but still same-session). Strictly optional: no python3/duckdb
    // (or any failure) -> the committed ratios above stand alone.
    val liveBase: Option[Map[String, Double]] =
      if (liveInterleaved.nonEmpty) Some(liveInterleaved.toMap)
      else measureLiveBaseline(sfDir, passes)
    val live = liveBase.map { base =>
      val shared = results.filter(_._2 >= 0).keySet.intersect(base.keySet)
      val ours = shared.toSeq.map(results).sum
      val theirs = shared.toSeq.map(base).sum
      // The live pair is ALSO reported with the structurally-
      // asymmetric queries excluded (see StructuralQueries): the
      // aggregate conflates engine speed with harness asymmetry once
      // the suite carries many real-fit/replay/iterative queries
      // whose oracles merely evaluate. Both numbers are honest; they
      // answer different questions (BASELINE.md defines the gate).
      val comp = shared -- StructuralQueries
      val struct = shared.intersect(StructuralQueries)
      val compOurs = comp.toSeq.map(results).sum
      val compTheirs = comp.toSeq.map(base).sum
      val structOurs = struct.toSeq.map(results).sum
      val structTheirs = struct.toSeq.map(base).sum
      s""","live_mode":"${if (liveInterleaved.nonEmpty) "interleaved" else "sweep"}"""" +
        s""","bench_vs_baseline_live":${if (theirs > 0) ours / theirs else -1.0},"bench_vs_baseline_live_queries":${shared.size},"live_duckdb_total":$theirs""" +
        s""","bench_vs_baseline_live_comparable":${if (compTheirs > 0) compOurs / compTheirs else -1.0},"live_comparable_queries":${comp.size}""" +
        s""","live_structural_spark":$structOurs,"live_structural_duckdb":$structTheirs,"live_structural_queries":${struct.size}"""
    }.getOrElse("")
    // r16 NOTE (the r15 driver-window postmortem): everything below
    // `structuralReport` is computed BEFORE the first println, and the
    // main JSON line is emitted BEFORE self-adjudication spawns any
    // child — the r15 driver marathon died at rc=124 mid-adjudication
    // and, because the single println sat after the children, the
    // ENTIRE marathon's per-query data died with it. The driver
    // parses the LAST stdout line, so the full line (with
    // `structural_adjudication` appended) is re-printed after the
    // children complete; if the window expires mid-adjudication the
    // already-flushed main line still parses.
    // BASELINE.md's structural-regression rule, enforced by the
    // artifact instead of by prose: a structural query >1.5x its best
    // recorded STANDALONE time is a regression regardless of the
    // aggregate ratio (the structural set must not silently absorb
    // growth). Best-known times live in tools/structural_best.json
    // (sf0.1 only); the file self-maintains — any new best observed
    // here is merged back, so "best" means best-ever, not
    // best-this-round. Suite-context numbers can read high on a
    // loaded window: a flagged query is a SUSPECT to re-time with
    // SPARK_GRAFT_BENCH_ONLY, not a verdict — but it is now a suspect
    // the artifact itself names.
    val structuralInfo: Option[(String, Seq[(String, Double, Double)])] = {
      val path = "tools/structural_best.json"
      if (!sfDir.endsWith("sf0.1")) None
      else baselineTimings(path).map { bestKnown =>
        val current = results.filter { case (k, v) =>
          StructuralQueries.contains(k) && v >= 0 }
        val regressions = current.toSeq.collect {
          case (k, v) if bestKnown.get(k).exists(b => v > 1.5 * b) =>
            (k, v, bestKnown(k))
        }.sortBy(_._1)
        val merged = (bestKnown.keySet ++ current.keySet).map { k =>
          k -> math.min(bestKnown.getOrElse(k, Double.MaxValue),
            current.getOrElse(k, Double.MaxValue))
        }.toMap
        try {
          val body = merged.toSeq.sortBy(_._1)
            .map { case (k, v) => s""" "$k": $v""" }.mkString("{\n", ",\n", "\n}")
          java.nio.file.Files.write(java.nio.file.Paths.get(path),
            body.getBytes("UTF-8"))
        } catch { case scala.util.control.NonFatal(_) => }
        val frag = regressions
          .map { case (k, v, b) => s""""$k":{"cur":$v,"best":$b}""" }
          .mkString("{", ",", "}")
        (s""","structural_regressions":$frag""", regressions)
      }
    }
    val structuralReport = structuralInfo.map(_._1).getOrElse("")
    // queries map FIRST, headline scalars LAST: the driver keeps only
    // the tail of long output, and this line exceeds its buffer once
    // the suite passed ~90 queries — the scalars must survive.
    val mainBody =
      s"""{"queries":$qs,"metric":"total","value":$total,"unit":"sec","sf":"$sfDir"$vsBaseline$live$structuralReport"""
    // the marathon's numbers are SAFE from here on: flushed before any
    // adjudication child spawns (r16 — see the postmortem note above)
    println(mainBody + "}")
    Console.out.flush()
    // SELF-ADJUDICATION (r15, the r14 verdict's #1 ask): every flagged
    // structural query is re-timed STANDALONE — a fresh JVM running
    // this same main under SPARK_GRAFT_BENCH_ONLY, best-of-N, the
    // exact BASELINE.md procedure — and the verdict lands in the
    // artifact. Three rounds of driver-window flags all resolved to
    // marathon ambience only after a human spent hours re-timing; the
    // artifact now adjudicates itself. Skipped inside a BENCH_ONLY
    // child (no recursion) and under SPARK_GRAFT_ADJUDICATE=0.
    val adjudication = structuralInfo
      .map(_._2)
      .filter(_.nonEmpty)
      .filter(_ => only.isEmpty)
      .filter(_ => !sys.env.get("SPARK_GRAFT_ADJUDICATE").contains("0"))
      .map(regs => selfAdjudicate(regs, sfDir, cpus, passes))
      .getOrElse("")
    // re-print the FULL line (main + adjudication) so the driver's
    // last-line parse picks up the verdicts when the window allowed
    // them; a died-mid-adjudication window still has the main line
    if (adjudication.nonEmpty) println(mainBody + adjudication + "}")
  }

  /** 1-minute load average, -1.0 where /proc is unavailable. */
  private def load1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Re-time each flagged structural query standalone — one FRESH JVM
    * per query (java -cp classes:spark-jars graft.Bench with
    * SPARK_GRAFT_BENCH_ONLY=<query>, live baseline off, adjudication
    * off), best-of-`passes` inside the child — and emit
    * `structural_adjudication`. The child's own structural-best merge
    * folds a better solo time back into tools/structural_best.json,
    * so the "best" self-maintains from the legit standalone source.
    * Verdicts: `ambience` (solo ≤ 1.5× best — the marathon number was
    * window load), `regression` (still >1.5× alone), `error` (child
    * failed/timed out), `skipped` (past the child cap or the
    * wall-clock budget — EXPLICIT, never silent: the r15 artifact's
    * `regs.take(16)` silently dropped the round's largest flag).
    * Bounds: ≤16 children adjudicated in DESCENDING marathon/best
    * ratio (the biggest flag always goes first), ≤600 s each, total
    * wall-clock ≤ SPARK_GRAFT_ADJUDICATE_BUDGET_SEC (default 1800 —
    * the r15 driver window died mid-adjudication with the bound
    * unset).
    */
  private def selfAdjudicate(regs: Seq[(String, Double, Double)],
                             sfDir: String, cpus: String,
                             passes: Int): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    // self-contained classpath — NOT java.class.path, which is the
    // sbt launcher when run via sbt: this class's OWN code-source dir
    // (target/scala-2.13/classes however the parent was launched,
    // independent of cwd — the r15 fixed relative path broke under a
    // different working directory) plus the directory holding Spark's
    // own jars (resolved from SparkSession's code source, not a
    // hard-coded image path). Falls back to the parent's classpath
    // when a code source is unavailable (correct when the parent was
    // launched via plain `java -cp`).
    def codeSource(c: Class[_]): Option[java.io.File] =
      Option(c.getProtectionDomain.getCodeSource)
        .flatMap(cs => Option(cs.getLocation))
        .map(u => new java.io.File(u.toURI))
        .filter(_.exists)
    // The parent's REAL resolved classpath, not a guessed layout: walk
    // the classloader chain collecting every URLClassLoader entry
    // (under sbt the run classpath lives in such a loader while
    // java.class.path is just the launcher; the r15 spark-jar-sibling
    // guess broke there — coursier caches each artifact in its OWN
    // directory, so `<spark-sql-dir>/*` missed scala-library and the
    // children all died NoClassDefFoundError, r16 marathon 1).
    // Plain `java -cp` launches have a non-URLClassLoader app loader
    // and fall through to java.class.path, which is correct there.
    def loaderEntries(cl: ClassLoader): Seq[java.io.File] = cl match {
      case null => Nil
      case u: java.net.URLClassLoader =>
        u.getURLs.toSeq.flatMap(url =>
          scala.util.Try(new java.io.File(url.toURI)).toOption) ++
          loaderEntries(u.getParent)
      case other => loaderEntries(other.getParent)
    }
    val walked = loaderEntries(Bench.getClass.getClassLoader)
      .filter(_.exists).map(_.getPath).distinct
    val cp = ((codeSource(Bench.getClass).toSeq ++
        codeSource(classOf[SparkSession]).toSeq).map(_.getPath) ++
      walked ++
      System.getProperty("java.class.path")
        .split(java.io.File.pathSeparator).toSeq)
      .distinct.mkString(java.io.File.pathSeparator)
    // JDK-17 module opens Spark needs outside spark-submit — the same
    // list build.sbt forks with (JavaModuleOptions.defaultModuleOptions)
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // DESCENDING marathon/best ratio: when a bound fires, what got
    // skipped is the SMALLEST flag, never the largest (r15: alphabetical
    // take(16) dropped the round's 8.54× headline unadjudicated)
    val ordered = regs.sortBy { case (_, cur, best) =>
      -(if (best > 0) cur / best else Double.MaxValue)
    }
    val maxChildren = 16
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_ADJUDICATE_BUDGET_SEC", "1800").toLong
    val deadlineNanos = System.nanoTime() + budgetSec * 1000000000L
    val entries = ordered.zipWithIndex.map { case ((name, cur, best), i) =>
      val remainingSec = (deadlineNanos - System.nanoTime()) / 1000000000L
      if (i >= maxChildren || remainingSec <= 0) {
        val why =
          if (i >= maxChildren) s"child cap ($maxChildren)"
          else s"wall-clock budget (${budgetSec}s)"
        System.err.println(s"[bench] adjudication of $name skipped: $why")
        s""""$name":{"verdict":"skipped","reason":"$why"}"""
      } else adjudicateOne(name, cur, best, javaBin, cp, addOpens, sfDir,
        cpus, passes, math.min(600L, remainingSec))
    }
    s""","structural_adjudication":${entries.mkString("{", ",", "}")}"""
  }

  /** One fresh-JVM standalone re-time (see [[selfAdjudicate]]). */
  private def adjudicateOne(name: String, cur: Double, best: Double,
                            javaBin: String, cp: String,
                            addOpens: Seq[String], sfDir: String,
                            cpus: String, passes: Int,
                            timeoutSec: Long): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    {
      val (solo, soloLoad) = try {
        val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
          s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "48g")}",
          "-Dspark.ui.enabled=false",
          "-cp", cp, "graft.Bench")).toArray
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_BENCH_ONLY", name)
        pb.environment().put("SPARK_GRAFT_LIVE_BASELINE", "0")
        pb.environment().put("SPARK_GRAFT_ADJUDICATE", "0")
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_BENCH_PASSES", passes.toString)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val outFile = java.nio.file.Files.createTempFile("graft_adj", ".json")
        pb.redirectOutput(ProcessBuilder.Redirect.to(outFile.toFile))
        val proc = pb.start()
        val finished =
          proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
        if (!finished) proc.destroyForcibly()
        val out = new String(
          java.nio.file.Files.readAllBytes(outFile), "UTF-8")
        java.nio.file.Files.deleteIfExists(outFile)
        def num(v: JValue): Double = v match {
          case JDouble(x) => x
          case JInt(x) => x.toDouble
          case JDecimal(x) => x.toDouble
          case _ => -1.0
        }
        if (!finished || proc.exitValue() != 0) (-1.0, -1.0)
        else out.linesIterator.toSeq.lastOption.map { line =>
          val q = JsonMethods.parse(line) \ "queries" \ name
          (num(q \ "sec"), num(q \ "load1"))
        }.getOrElse((-1.0, -1.0))
      } catch { case scala.util.control.NonFatal(_) => (-1.0, -1.0) }
      val ratio = if (solo > 0 && best > 0) solo / best else -1.0
      // verdict is mechanical (the BASELINE.md 1.5x house rule); the
      // recorded load1 is the triage context — a "regression" taken at
      // high ambient load is a re-time-next-calm-window suspect, not a
      // believed defect (r15: a degraded evening window read 13/16
      // "regression" incl. diff-less queries; same-code A/Bs swung 2-3x)
      val verdict =
        if (solo < 0) "error"
        else if (solo <= 1.5 * best) "ambience"
        else "regression"
      System.err.println(
        f"[bench] adjudicated $name: marathon $cur%.2f s, solo $solo%.2f s " +
          f"(load1 $soloLoad%.1f) vs best $best%.2f s -> $verdict")
      s""""$name":{"solo":$solo,"ratio":$ratio,"load1":$soloLoad,"verdict":"$verdict"}"""
    }
  }

  /** Queries whose SPARK side does categorically more work than the
    * oracle SQL that times the DuckDB side — the three structural
    * asymmetries BASELINE.md documents: (a) real model FITS whose
    * oracle evaluates the already-fitted tree as a CASE expression,
    * (b) real Structured-Streaming REPLAYS whose oracle is one batch
    * SQL, (c) iterative graph convergence whose oracle unrolls a
    * fixed 3 rounds as CTEs, (d) persisted-index build+probe
    * machinery (q_dedup_incr builds and probes a MinHash band index)
    * whose oracle shortcuts the same ANSWER via exact content joins
    * on the small fixture. Membership is structural (what the two
    * sides compute), NOT performance-based — a query may never be
    * added here because it is slow. Used only to report the live
    * pair decomposed; the aggregate is still emitted.
    */
  val StructuralQueries: Set[String] = Set(
    "q_dt_fit_predict", "q_rf_fit_predict", "q_regtree_fit_predict",
    "q_gbt_fit_predict", "q_gbt_classify", "q_gbt_softmax", "q_dt_prob",
    "q_dt_quality_distill",
    // the eval pair FITS the tree its oracle merely evaluates as a
    // rendered CASE — same fit-vs-evaluate asymmetry as the rows above
    "q_model_eval", "q_calibration", "q_calibration_multiclass", "q_isotonic",
    "q_stream_agg", "q_stream_sessionize", "q_stream_dedup_incr",
    "q_stream_ingest", "q_stream_drift",
    // the maintained-state replays: real micro-batched Structured
    // Streaming folds whose oracles are one batch SQL each — the same
    // (b) replay asymmetry as the rows above
    "q_stream_stats", "q_stream_distinct", "q_stream_quantiles",
    "q_stream_merge",
    // the r9 rendered-model ANN oracles put these INTO the live
    // compare for the first time — with the (a) fit asymmetry: Spark
    // FITS the k-means/PQ codebooks its oracle merely evaluates as
    // rendered literals. The fit-free rendered oracles (quantized,
    // lsh, dedup_embed, dedup_minhash) compute the full same pipeline
    // on both sides and stay comparable.
    "q_ann_ivf", "q_ann_pq", "q_semdedup",
    // q_dt_multiclass FITS the k-ary tree its oracle evaluates as
    // rendered CASEs ((a) fit asymmetry); q_ann_ivfpq BUILDS the
    // persisted IVF-PQ index (centroid + codebook fits + bucketed
    // writes) its oracle evaluates as rendered literals — the same
    // build+probe-vs-shortcut asymmetry as q_dedup_incr
    "q_dt_multiclass", "q_dt_tier_distill", "q_dt_categorical", "q_rf_multiclass", "q_ann_ivfpq", "q_outlier_iforest", "q_outlier_embed", "q_rf_categorical",
    // the r12 fit queries: Spark fits the categorical booster /
    // weighted k-ary tree / one-vs-rest PAV maps / bagged regression
    // forest its oracle merely evaluates as rendered CASEs — the (a)
    // fit asymmetry (q_ann_filtered stays comparable: both sides
    // compute the same filtered cosine top-k end to end)
    "q_gbt_categorical", "q_dt_weighted_distill", "q_isotonic_multiclass",
    "q_rf_regression", "q_gbt_early_stop",
    "q_components", "q_components_incr", "q_pagerank", "q_dedup_incr",
    // r13: Spark GENERATES the planted PNG payloads and header-DECODES
    // them; the oracle recomputes the expected metadata as pure
    // doc_id arithmetic — the build-vs-shortcut asymmetry again.
    // (q_audio_dedup follows q_dhash_pairs comparable precedent —
    // both sides compute the content-pair join; q_bpe_bytes /
    // q_bpe_fertility_bytes follow q_bpe_tokens comparable precedent;
    // q_sql_pipeline is computed end-to-end on both sides.)
    "q_image_meta", "q_stream_ann",
    // r13: Spark WRITES four table versions (three data commits + a
    // manifest rollback) and time-travel-reads them back; the oracle
    // recomputes each version's content as CTEs — build-vs-shortcut.
    "q_corpus_versions",
    // r13 late window: Spark GENERATES + DECODES the planted Y4M
    // clips the oracle reduces to doc_id arithmetic (q_image_meta's
    // asymmetry); the two graph queries RUN NN-Descent/beam search
    // beside the exact side their oracle recomputes; the classifier
    // FITS the weights its oracle merely evaluates as a VALUES table
    "q_video_dedup", "q_video_meta", "q_audio_meta", "q_knn_graph", "q_knn_graph_incr",
    "q_graph_ann", "q_quality_classifier", "q_classifier_calibrated",
    "q_stream_media",
    // r14: hierarchical serving runs TWO beam searches + an upper-
    // layer descent beside the exact side its oracle recomputes —
    // structural from birth like q_graph_ann. (q_label_prop_multi is
    // COMPARABLE: both engines unroll the same per-class rounds.)
    "q_graph_ann_hier",
    // r15: the persisted-index serve runs the layered beam search +
    // the brute recall audit (and, first call in a JVM, the index
    // BUILD) beside the exact side its oracle recomputes — the same
    // serve-beside-audit asymmetry as q_graph_ann/q_graph_ann_hier;
    // q_stream_graph additionally pays the streamed delta folds on
    // its first call
    "q_graph_ann_index", "q_stream_graph")

  /** Synchronous line-protocol client for `bench_duckdb.py --serve`:
    * one JSON request per query ({name, sql, passes}), one JSON
    * response ({name, sec} | {name, err}). Requests block the bench
    * thread, so Spark and DuckDB never execute concurrently; a
    * per-request watchdog kills a hung server instead of hanging the
    * bench (subsequent queries then simply have no live pairing —
    * the shared-key intersection shrinks, it never blocks).
    */
  private final class OracleServer(proc: Process,
      out: java.io.BufferedWriter, in: java.io.BufferedReader) {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    private val reader =
      java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "duckdb-oracle-reader"); t.setDaemon(true); t })
    @volatile private var dead = false
    def isDead: Boolean = dead
    private def readLine(timeoutSec: Long): Option[String] = {
      val f = reader.submit(new java.util.concurrent.Callable[String] {
        def call(): String = in.readLine()
      })
      try Option(f.get(timeoutSec, java.util.concurrent.TimeUnit.SECONDS))
      catch { case scala.util.control.NonFatal(_) =>
        f.cancel(true); dead = true; proc.destroyForcibly(); None }
    }
    def awaitReady(): Boolean = readLine(60).exists(_.contains("\"ready\""))
    def time(name: String, sql: String, passes: Int): Option[Double] = {
      if (dead) return None
      try {
        out.write(JsonMethods.compact(JsonMethods.render(JObject(List(
          "name" -> JString(name), "sql" -> JString(sql),
          "passes" -> JInt(passes))))))
        out.write("\n"); out.flush()
      } catch { case scala.util.control.NonFatal(_) =>
        dead = true; proc.destroyForcibly(); return None }
      // generous per-oracle ceiling, scaled with passes (a fixed
      // 120 s can fire on a merely-slow oracle at larger SFs — r11
      // advice): the slowest observed oracle is ~8 s/pass, so 60 s
      // of slack + 60 s per pass only ever fires on a genuine hang
      readLine(60L + 60L * passes).flatMap { line =>
        JsonMethods.parse(line) match {
          case JObject(fields) =>
            val m = fields.toMap
            m.get("sec").collect {
              case JDouble(v) => v
              case JInt(v) => v.toDouble
              case JDecimal(v) => v.toDouble
            }.orElse {
              m.get("err").foreach(e => System.err.println(
                s"[bench] oracle $name failed in DuckDB: $e"))
              None
            }
          case _ => None
        }
      }
    }
    def close(): Unit = {
      try { out.close() } catch { case scala.util.control.NonFatal(_) => }
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS))
        proc.destroyForcibly()
      reader.shutdownNow(); ()
    }
  }

  private object OracleServer {
    def start(sfDir: String): Option[OracleServer] = {
      if (sys.env.get("SPARK_GRAFT_LIVE_BASELINE").contains("0")) return None
      val tool = new java.io.File("tools/bench_duckdb.py")
      if (!tool.isFile) return None
      try {
        val pb = new ProcessBuilder("python3", tool.getPath, "--serve", sfDir)
        // stderr passes through (oracle failures must be visible);
        // stdout stays ours alone via the pipe
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val srv = new OracleServer(proc,
          new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            proc.getOutputStream, "UTF-8")),
          new java.io.BufferedReader(new java.io.InputStreamReader(
            proc.getInputStream, "UTF-8")))
        if (srv.awaitReady()) Some(srv)
        else { proc.destroyForcibly(); None }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Run tools/bench_duckdb.py over this run's own oracle SQLs in
    * this same session window. None when the tool, python3, or the
    * duckdb module is unavailable — the committed baselines remain
    * the only ratios then.
    */
  private def measureLiveBaseline(sfDir: String,
                                  passes: Int): Option[Map[String, Double]] = {
    if (sys.env.get("SPARK_GRAFT_LIVE_BASELINE").contains("0")) return None
    val tool = new java.io.File("tools/bench_duckdb.py")
    if (!tool.isFile) return None
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val sqlJson = JsonMethods.compact(JsonMethods.render(
        JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })))
      val tmp = java.nio.file.Files.createTempFile("graft_oracle_sql", ".json")
      java.nio.file.Files.write(tmp, sqlJson.getBytes("UTF-8"))
      val pb = new ProcessBuilder("python3", tool.getPath, tmp.toString,
        sfDir, passes.toString)
      // stderr -> our stderr (never stdout: the JSON line must stay
      // the only stdout); stdout -> a temp file so waitFor's timeout
      // actually fires — reading the pipe inline would block until
      // process EOF and a hung duckdb would hang the whole bench
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val outFile = java.nio.file.Files.createTempFile("graft_duckdb_out", ".json")
      pb.redirectOutput(ProcessBuilder.Redirect.to(outFile.toFile))
      val proc = pb.start()
      val finished = proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
      java.nio.file.Files.deleteIfExists(tmp)
      if (!finished) {
        proc.destroyForcibly()
        java.nio.file.Files.deleteIfExists(outFile)
        return None
      }
      val out = new String(java.nio.file.Files.readAllBytes(outFile), "UTF-8")
      java.nio.file.Files.deleteIfExists(outFile)
      if (proc.exitValue() != 0) return None
      val line = out.linesIterator.toSeq.lastOption.getOrElse(return None)
      Some(JsonMethods.parse(line).asInstanceOf[JObject].obj.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JDecimal(v)) => k -> v.toDouble
      }.toMap).filter(_.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-query seconds of a committed DuckDB baseline file
    * (regenerate with `check_oracle.py <dump> <sf0.1> --bench`).
    * None if the file is absent or the bench targets a different
    * scale factor.
    */
  private def baselineTimings(path: String): Option[Map[String, Double]] = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (!sfDir.endsWith("sf0.1")) return None
    val f = new java.io.File(path)
    if (!f.isFile) return None
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      Some(JsonMethods.parse(txt).asInstanceOf[JObject].obj.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JDecimal(v)) => k -> v.toDouble
      }.toMap)
    } catch { case _: Throwable => None }
  }
}
