package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Session, SparkEntry}

/** Empirical scale-up probe: synthesize a `factor`× corpus ("sf1" for
  * factor=10 over sf0.1), run the most expensive queries at BOTH scales in
  * one process, and report sec-ratios. A plan audited as scale-safe should
  * come in well under `factor`× wall-clock on 32 local cores (sub-linear is
  * common: fixed per-query overhead amortizes); anything super-linear has a
  * hidden quadratic term and gets flagged.
  *
  * Replication semantics — a 10× corpus, not 10 copies of one corpus:
  *   - every key column is offset per copy (`key + i·10⁹`), so TPC-H joins
  *     keep their exact fan-out and group counts scale linearly;
  *   - document text is token-salted per copy (each token gets a copy
  *     suffix), so the copies are disjoint sub-corpora: shingle/minhash/
  *     simhash buckets never match across copies and the near-dup pair
  *     count scales linearly, like a real corpus with constant duplicate
  *     density. Naive replication would put 10 identical docs in every
  *     bucket and inflate all-pairs work 100× — a measurement artifact, not
  *     a scale signal;
  *   - embedding vectors get a small deterministic per-copy jitter for the
  *     same reason (identical vectors across copies would multiply
  *     every cosine-threshold candidate set).
  *   - dims (region, nation) stay single-copy: they are genuinely fixed.
  *
  * q_ngram_jaccard is deliberately NOT probed: it is the fenced all-pairs
  * verifier whose cost is quadratic BY DESIGN; its scale path
  * (q_jaccard_prefix / q_minhash_neardup) is what gets measured.
  *
  * Usage: sbt "Test/runMain graft.dev.ScaleProbe [factor] [srcDir] [outDir] [nameSub...]"
  * (extra args filter probeQueries by substring — single-query iteration)
  */
object ScaleProbe {

  /** Deepest cause of `e`, robust to CYCLIC cause chains (a self-caused or
    * mutually-caused Throwable — legal via initCause — would spin the naive
    * `Iterator.iterate(_.getCause).takeWhile(_ != null)` walk forever).
    * Identity-set bounded, Guava-getRootCause style: stop at the first
    * already-visited link and return the last NEW throwable seen. */
  private[graft] def rootCause(e: Throwable): Throwable = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    var cur = e
    seen.add(cur)
    while (cur.getCause != null && seen.add(cur.getCause)) cur = cur.getCause
    cur
  }

  private val KeyOffset = 1000000000L

  /** Key columns to offset per copy, by table. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val singleCopy = Set("region", "nation")

  private val probeQueries = Seq(
    "q_bigram_lm", "q_dedup_clusters", "q_jaccard_prefix", "q_assoc_rules",
    "q_lpa_communities", "q_minhash_neardup", "q_simhash_fast",
    "q_simhash_neardup", "q_tfidf", "q_bm25", "q_dbscan_core",
    "q_triangle_count", "q_tpch_q1", "q_tpch_q2", "q_tpch_q7", "q_tpch_q9",
    "q_tpch_q11", "q_tpch_q16", "q_tpch_q18", "q_tpch_q21",
    "q_stream_dedup", "q_stream_tumbling",
    // round-8/9 heavy tiers (VERDICT r8 §4): leakage + weighted-jaccard ride
    // the prefix-filtered pair stream, coverage is the postings semi-join,
    // kn_bigram collapses the corpus once, containment is the asymmetric
    // prefix join, bootstrap is the flat x32 explode, and the two rank-stat
    // queries exercise the two-phase bucketed prefix sum.
    "q_split_leakage", "q_weighted_jaccard", "q_ngram_coverage",
    "q_kn_bigram", "q_containment_prefix", "q_bootstrap_ci",
    "q_mann_whitney", "q_auc_roc",
    // round-10 additions (VERDICT r9 §next-round item 7): BFS frontier
    // growth is the classic super-linear risk; the two streaming queries
    // have a fixed micro-batch + RocksDB floor that should AMORTIZE (ratio
    // well under factor), with state bounded by active keys / join window.
    "q_graph_reachability", "q_tws_sessions", "q_stream_outer_join",
    // statestore-reader query: write-side state is one row per (window,
    // event_type) — key-cardinality-bounded — and the read scans state
    // files partition-parallel; expect the same amortizing fixed-floor
    // shape as the other bounded drains.
    "q_state_inspect",
    "q_rfm", "q_lorenz_share", "q_gini", "q_skyline", "q_ks_stat",
    "q_perplexity_filter",
    // the two most expensive COMPOSITION queries (funnel = exact dedup +
    // cluster canonicals + boilerplate screen over one corpus): their
    // sub-operators are probed individually above; these rows prove the
    // composition itself adds no super-linear term.
    "q_curation_funnel", "q_cluster_canonical",
    // the embedding/ANN family (added for the round-10 100x probe, which
    // caught the dedup family's broadcast OOM): IVF probe-limited search
    // and the 20-query brute-force/hard-negative baselines are linear in
    // the corpus as-is; the three index-parameterized queries derive their
    // parameters from the corpus size since round 13 (no knobs — the probe
    // times the unconfigured path). q_embed_neardup is deliberately
    // NOT probed — like q_ngram_jaccard it is the FENCED all-pairs exact
    // verifier, quadratic by design; q_semdedup / q_lsh_ann are its
    // measured scale paths.
    "q_ann_ivf", "q_lsh_ann", "q_semdedup",
    "q_cosine_topk", "q_hard_negatives", "q_knn_classify",
    // round-14: kAnonymize's plan changed (the per-group window count is
    // now pinned by ONE lazy localCheckpoint feeding both the star pool
    // and the release branch) — probe the materialization posture rather
    // than assert it.
    "q_kanonymity")

  // No per-query conf overrides: since round 13 the ANN/LSH index
  // parameters derive from the corpus size (Scale.derivedIntKnob —
  // ceil(log2 N) bits, ceil(sqrt N) centroids) and the probe deliberately
  // runs that UNCONFIGURED path, i.e. exactly what an out-of-the-box
  // production call runs at each scale. Only the oracle-replay runs pin
  // them (Session.gatePins).

  /** The rank-stat family is probed with `graft.prefixsum.threshold=-1`
    * (two-phase FORCED at both scales). Under the adaptive default most of
    * these inputs never cross the 100k threshold even on the 10× corpus —
    * replication offsets keys but does not grow distinct-VALUE histograms
    * (q_skyline's price histogram stays ~1k rows, q_ks_stat's value
    * histogram duplicates verbatim per copy) — so an unforced probe would
    * silently time the single-window fast path and report a meaningless
    * ratio for the plan that actually runs at production scale. Forcing
    * the two-phase plan at BOTH scales makes the ratio a scaling signal
    * for the 100 TB path (and executes the size-gated code path that hid
    * the r10 AQE bucket-id bug).
    */
  private val forceTwoPhase = Set(
    "q_mann_whitney", "q_auc_roc", "q_rfm", "q_lorenz_share", "q_gini",
    "q_skyline", "q_ks_stat", "q_perplexity_filter")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse("/tmp/graft-sfscale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // unpinned: the probe times the corpus-derived index parameters
    val spark = Session.builder(cpus, gatePins = false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    generate(spark, srcDir, outDir, factor)

    def time(name: String, dir: String): Double = {
      if (forceTwoPhase(name))
        spark.conf.set("graft.prefixsum.threshold", "-1")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        // walk to the root cause: Spark wraps task/broadcast failures in
        // layers whose own getMessage ("Boxed Exception") hides the fault
        val root = rootCause(e)
        System.err.println(s"[scaleprobe] $name @ $dir failed: ${e.getMessage}" +
          (if (root ne e) s" | root: ${root.toString.take(500)}" else ""))
        -1.0
      } finally {
        spark.conf.unset("graft.prefixsum.threshold")
        graft.operators.Dedup.unpersistIntermediates()
        spark.catalog.clearCache()
      }
    }

    // Warmup: JIT + page cache, untimed (same methodology as Bench).
    time("q_tpch_q1", srcDir)

    // comma-separated lists inside one arg split too, same contract as
    // Verify: "a,b" as a single substring can never match a query name —
    // it silently selects NOTHING and the probe reports an empty table
    val nameFilter = args.drop(3).flatMap(_.split(',')).map(_.trim)
      .filter(_.nonEmpty)
    val selected =
      if (nameFilter.isEmpty) probeQueries
      else probeQueries.filter(n => nameFilter.exists(n.contains))
    require(nameFilter.isEmpty || selected.nonEmpty,
      s"ScaleProbe: name filter ${nameFilter.mkString(",")} matched no " +
        "probe query — nothing would be measured")
    val rows = selected.map { name =>
      val base = time(name, srcDir)
      val scaled = time(name, outDir)
      val ratio = if (base > 0 && scaled > 0) scaled / base else -1.0
      println(f"[scaleprobe] $name%-22s sf0.1=$base%7.2fs  x$factor=$scaled%7.2fs  ratio=$ratio%6.2f")
      (name, base, scaled, ratio)
    }

    println("| query | sf0.1 (s) | sf1 (s) | ratio |")
    println("|---|---|---|---|")
    rows.foreach { case (n, b, s, r) =>
      println(f"| $n | $b%.2f | $s%.2f | $r%.1f× |")
    }
    Session.stop(spark)
  }

  /** Build the scaled tables under `outDir` (skipped if already present). */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val marker = java.nio.file.Paths.get(outDir, s"_GENERATED_x$factor")
    if (java.nio.file.Files.exists(marker)) {
      println(s"[scaleprobe] reusing generated corpus at $outDir")
      return
    }
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      val src = spark.read.parquet(s"$srcDir/$t.parquet")
      val scaled: DataFrame =
        if (singleCopy(t)) src
        else (0 until factor).map(i => copyOf(src, t, i)).reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleprobe] wrote $t x${if (singleCopy(t)) 1 else factor}")
    }
    java.nio.file.Files.createFile(marker)
  }

  private def copyOf(src: DataFrame, table: String, i: Int): DataFrame = {
    var df = src
    keyCols.getOrElse(table, Nil).foreach { k =>
      df = df.withColumn(k, col(k) + lit(i * KeyOffset))
    }
    if (i > 0) table match {
      case "documents" =>
        // Disjoint sub-corpus: suffix every token with the copy tag so no
        // shingle/band/fingerprint bucket matches across copies.
        df = df.withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"x$i"))), " "))
      case "embeddings" =>
        // Per-copy ORTHOGONAL transform: rotate the components by the copy
        // index and flip signs with a deterministic per-(copy, component)
        // pattern. Each copy is an isometric image of the base corpus —
        // within-copy norms/cosines/near-dup structure are EXACTLY the
        // base corpus's — while cross-copy cosines collapse to ~0
        // (rotation decorrelates; the sign flips kill the rotation-lag
        // collisions that would recur every `dim` copies). The previous
        // small additive jitter left copies at cos≈0.999, so every
        // cosine-threshold result (LSH buckets, semdedup drops, near-dup
        // pairs) grew QUADRATICALLY with factor — a synthesis artifact,
        // not a scale signal (the embedding analog of naive text
        // replication, which token-salting already avoids).
        df = df.withColumn("embedding",
          transform(col("embedding"), (_, j) =>
            (element_at(col("embedding"),
                ((j + lit(i)) % size(col("embedding"))) + 1)
              * when(sin(j * 17 + lit(i * 29) + lit(0.5)) >= 0, 1.0f)
                .otherwise(-1.0f))
              .cast("float")))
      case _ => ()
    }
    df
  }
}
