package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout (driver contract).
  *
  * Timing methodology: each query is materialized with a noop-format write —
  * `count()` would let Catalyst prune the projections being measured (a
  * window-function query degenerates to a row count). One untimed warmup of
  * the flagship query JIT-compiles the hot paths first.
  */
object Bench {
  /** The RocksDB/micro-batch drain family: queries whose wall time is
    * dominated by the host-boot-dependent fixed floor the calibration
    * drain measures. Must stay identical to DRAIN_FAMILY in
    * tools/merge_bench.py (ToolingSyncSpec pins the two lists together).
    */
  val drainCalibFamily: Set[String] = Set(
    "q_doc_pipeline", "q_session_window", "q_state_inspect",
    "q_stateful_indicators", "q_stream_dedup", "q_stream_join",
    "q_stream_outer_join", "q_stream_session", "q_stream_static",
    "q_stream_tumbling", "q_tws_sessions", "q_tws_totals")

  /** 1-minute loadavg ("?" off-Linux) — host-posture stamp for the bench
    * record. Captured at start AND finish (round 20, r19 verdict ask #4:
    * r19's run 1 started under residual gate load, and the finish-only
    * stamp couldn't distinguish "started loaded" from "got loaded"
    * without shell archaeology).
    */
  def loadavg1m(): String = try {
    java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ").head
  } catch { case _: Throwable => "?" }

  def main(args: Array[String]): Unit = {
    // before the SparkSession boots: this is the posture the run STARTED in
    val loadavgStart = loadavg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // gate pins (round 13, same as Verify): keep the oracle-replayed index
    // parameters so bench timings stay anchor-comparable; the unconfigured
    // derived path is timed by the scale probe instead
    // (src/test/scala/graft/dev/ScaleProbe.scala). The recipe's stage-id-free
    // class names (round 16) matter most here: with 300+ queries sharing
    // operator pipelines, stage-id class names recompiled byte-identical
    // stage code — measured ~85 compiles inside q_cluster_canonical's cold
    // timed region, of which the warm pass below + that setting remove ~75.
    val spark = Session.builder(cpus, gatePins = true).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // keys a query cold-staged during its timed run (empty for memo hits):
    // the noise-guard re-run invalidates exactly these so it pays the same
    // staging cost the first run did — a warm re-run of a cold-staged
    // query would mask a staging-path regression behind the memo
    val stagedBy = scala.collection.mutable.Map.empty[String, Seq[String]]
    def materialize(name: String): Double = {
      graft.streaming.StagedDirs.drainRecentlyStaged() // discard stale log
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        stagedBy(name) = graft.streaming.StagedDirs.drainRecentlyStaged()
        t
      } catch { case e: Throwable =>
        // e.toString, not getMessage: an NPE's message is null, which
        // logged an undiagnosable "failed: null" (round-13 fix)
        System.err.println(s"[bench] $name failed: $e")
        -1.0
      } finally {
        // The dedup family persists intermediates; left cached across
        // queries they build heap pressure that shows up as multi-second GC
        // spikes in UNRELATED later queries (observed: q_rollup 1.5 s ->
        // 15 s). Each query is measured cold — drop the cache outside the
        // timed section, on the failure path too, via the library's own
        // contract call plus a catalog sweep.
        graft.operators.Dedup.unpersistIntermediates()
        spark.catalog.clearCache()
      }
    }

    // warmup: JIT + parquet footer / OS page caches (untimed). The flagship
    // only touches events; touch every corpus table too, otherwise whichever
    // query happens to run first per table pays its cold file reads while
    // the rest run warm — unfair to the alphabetically-early queries.
    // each step guarded SEPARATELY (round-13 fix: one try around the whole
    // block meant the first failure silently skipped every later step — a
    // single missing table left the fixture staging cold and the first
    // timed query on that path paid it inside its timed region, with no
    // log line saying the warmup was cut short)
    def warm(step: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warmup step '$step' failed: $e")
      }
    warm("flagship")(
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      warm(s"table $t")(spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save())
    }
    // q_partitioned_scan's partitioned copy and q_binary_source's blob
    // landing zone are fixtures — stage them here so the timed queries
    // measure the scans, not the staging writes
    warm("partitioned-scan fixture")(
      graft.queries.Ext6Queries.ensureStaged(spark, sfDir))
    warm("binary-source landing zone")(
      graft.queries.Ext14Queries.binarySource(spark, sfDir).limit(1).collect())
    // Optional dev-only filter (the driver passes no args): any arg keeps
    // only queries whose name contains it — single-query perf iteration.
    // Computed BEFORE the dedup-cluster warm so the warm — the most
    // expensive warmup step — can skip dev-filtered runs that never touch
    // the dedup family.
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.isEmpty) names0 else names0.filter(n => args.exists(n.contains))
    // Round 16: the flagship warmup compiles scan/agg paths, but the
    // dedup family's ~90 generated stage classes were compiled INSIDE the
    // first family query's timed region — q_cluster_canonical,
    // alphabetically first, paid 3-5 s of janino + C2 churn while its
    // siblings ran warm (the r15 "bimodal high mode"; the low readings
    // were the noise-guard's warm re-runs). Same unfairness argument as
    // the per-table warm above, fixed the same way — see
    // [[warmDedupClusterCodegen]].
    val dedupClusterFamily =
      Set("q_cluster_canonical", "q_dedup_clusters", "q_curation_funnel")
    if (names.exists(dedupClusterFamily))
      warm("dedup-cluster codegen")(warmDedupClusterCodegen(spark))
    val firstPass = names.map(n => n -> materialize(n))
    // NOISE GUARD (round-9 verdict: the driver host can be loaded, and a
    // one-off 9.94 s reading for a 1.3 s query is indistinguishable from a
    // regression in the artifact). Any query exceeding 2x its
    // BASELINE_ANCHOR.json entry is re-run once and the MIN kept — a real
    // regression reproduces, a GC/host spike doesn't.
    val anchor: Map[String, Double] = try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get("BASELINE_ANCHOR.json"))
      "\"(q[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    val results = firstPass.map { case (n, t) =>
      anchor.get(n) match {
        case Some(a) if t > 2 * a && t > 0 =>
          System.err.println(
            f"[bench] $n%s $t%.2f s > 2x anchor $a%.2f s - re-running once")
          graft.streaming.StagedDirs.invalidate(
            stagedBy.getOrElse(n, Nil))
          val t2 = materialize(n)
          n -> (if (t2 >= 0) math.min(t, t2) else t)
        case _ => n -> t
      }
    }
    // per-query seconds rounded to ms: keeps the single JSON line compact
    // enough (~3 KB at 150 queries) that log-tail capture can't truncate it
    // mid-object (BENCH_r04's tail cut at 67 queries and failed to parse)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // DRAIN-FAMILY HOST-FLOOR CALIBRATION (round-17 ask #3). The r16
    // settlement proved the RocksDB/micro-batch drain family's floor moves
    // ~1.4x between HOST BOOTS, uniformly across the family, while
    // CPU-bound queries reproduce exactly — so a drain-family reading is
    // only comparable across records after normalizing by the host's floor
    // that day. This measures that floor directly: one FIXED-SHAPE drain
    // (4k rows, 50 keys — constant regardless of SF) through the same
    // machinery the family pays for (micro-batch planner, RocksDB store
    // spin-up on 8 partitions, checkpoint-dir fsync, memory sink), run
    // AFTER the timed loop (warm JVM, and it cannot pre-warm any timed
    // query), min-of-2 so one-off scheduler jitter doesn't pollute the
    // stamp. To compare drain-family entries across two records, divide
    // each by its record's calib_drain_sec first (see BASELINE.md).
    //
    // Round-18 (r17 advice): only calibrate when a drain-family query
    // actually RAN in this invocation — a dev-filtered perf loop on a
    // CPU-bound query was paying ~2 s of staging + two drains for a stamp
    // nothing consumes. Field OMITTED when skipped (vs -1.0, which keeps
    // its meaning of attempted-and-failed). Full runs always include the
    // family, so driver records are unaffected.
    val calibDrainSec: Option[Double] =
      if (!names.exists(drainCalibFamily)) None
      else Some(try {
        // fixed single-part landing zone, staged OUTSIDE the timed region
        // (staging is a batch write, not part of the drain floor)
        val dir = java.nio.file.Files.createTempDirectory("graft-calib-drain")
        try {
          spark.range(0, 4000).selectExpr(
              "id % 50 AS user_id", "CAST(id AS DOUBLE) * 0.5 AS value")
            .coalesce(1).write.mode("overwrite").parquet(dir.toString)
          def once(): Double = {
            val in = spark.readStream
              .schema("user_id LONG, value DOUBLE").parquet(dir.toString)
            val t0 = System.nanoTime()
            graft.streaming.RunningTotals.drain(spark, in).count()
            (System.nanoTime() - t0) / 1e9
          }
          r3(math.min(once(), once()))
        } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration drain failed: $e"); -1.0
      })
    // Build the metric record ONCE as ordered (key, rendered-value) fields
    // and serialize with a single renderer (round-17 advice: the previous
    // note-splice string surgery could only be guarded, never proven) —
    // stdout gets the fields, BENCHLOCAL gets fields + note, same renderer.
    import graft.util.MiniJson
    val qs = MiniJson.obj(
      results.map { case (k, v) => k -> r3(v).toString })
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // finish posture: after the timed loop AND the calibration drain
    val loadavgFinish = loadavg1m()
    val fields = Vector(
      "metric" -> MiniJson.str("total"),
      "value" -> total.toString,
      "unit" -> MiniJson.str("sec"),
      "queries" -> qs,
      "sf" -> MiniJson.str(sfDir)) ++
      calibDrainSec.map(c => "calib_drain_sec" -> c.toString) ++
      // start/finish loadavg as REAL fields on the stdout line too, so
      // tools/merge_bench.py can carry the per-run posture into min-of-N
      // records (r19 verdict ask #4)
      Vector("loadavg_start" -> MiniJson.str(loadavgStart),
        "loadavg_finish" -> MiniJson.str(loadavgFinish))
    // Provenance note for the repo-side record (round-16 ask: stop future
    // judges re-deriving which file is the quiet-host floor): run count is
    // implicit (this writer emits SINGLE-PASS runs; min-of-N records come
    // from tools/merge_bench.py, which stamps its own note), host posture
    // is the 1-min loadavg bracket around the run.
    // The driver's BENCH_r{N}.json keeps only a log TAIL, so the judge's
    // round-over-round comparison sees ~90 of 300+ per-query timings. Write
    // the full map into the repo as BENCHLOCAL_r{N}.json too (N inferred as
    // next after the newest driver artifact present; driver runs land as
    // the round they benchmark). Dev-filtered runs (args given) skip this —
    // a 3-query artifact must not shadow a full one.
    //
    // ORDER (r22, r21 verdict ask #4: BENCH_r20 landed rc=0 but
    // parsed=null — the one-line stdout contract is fragile against
    // driver-side tail truncation): land the repo-side sidecar FIRST, then
    // print the stdout line and flush it explicitly, so a cut-off stdout
    // stream can never leave the round without a complete record. The
    // stdout line itself is unchanged (same renderer, same fields).
    if (args.isEmpty) {
      val n = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toInt))
        .foldLeft(0)(math.max) + 1
      // never clobber an existing record: the committed BENCHLOCAL is a
      // quiet-host min-of-N measurement, and a later (possibly loaded-
      // host, single-pass) run landing on the same round number would
      // silently replace it — land reruns beside it instead
      val base = f"BENCHLOCAL_r$n%02d"
      // round-13 fix: one fixed alternate name meant a THIRD run in the
      // same round truncate-overwrote the previous rerun record — walk
      // _rerun, _rerun2, _rerun3, ... to the first free name instead
      val target = (Iterator(s"$base.json", s"${base}_rerun.json") ++
        Iterator.from(2).map(i => s"${base}_rerun$i.json"))
        .find(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
        .get
      val note = s"single-pass run (min-of-N records are merge_bench " +
        s"artifacts with their own note); 1-min loadavg at start " +
        s"$loadavgStart, at finish $loadavgFinish"
      // same renderer as the stdout line, note appended as a real field —
      // no string surgery on an already-serialized record (round-17 advice)
      val stamped = MiniJson.obj(fields :+ ("note" -> MiniJson.str(note)))
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(target), stamped + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCHLOCAL write failed: ${e.getMessage}")
      }
    }
    // the driver contract's ONE JSON line — last stdout the program emits,
    // explicitly flushed (see the ORDER note above)
    println(MiniJson.obj(fields))
    System.out.flush()
    Session.stop(spark)
  }

  /** Codegen/JIT warm for the dedup-cluster pipeline: runs the EXACT
    * cluster-canonical builder (one code path — generated stage sources
    * match the timed query's) over a synthetic near-dup corpus,
    * round-tripped through parquet. The round-trip is load-bearing: the
    * warm corpus must be SCANNED the way the timed query scans
    * (FileSourceScan), not as a parallelized local RDD — the scan stage's
    * generated source feeds the sources of every consuming stage, and an
    * RDD-scan warm left ~35 stage classes still compiling inside the
    * timed region (measured; the parquet-scan warm leaves ZERO). Runs the
    * pipeline TWICE: run 1 compiles (janino), run 2 executes compiled
    * code hot enough for C2 to finish its tier-up outside any timed
    * region. Data caches are dropped after; only compiled code stays hot,
    * which is precisely what a warmup is for. Shared with the
    * ClusterProbe dev harness so probe and bench warm identically.
    */
  def warmDedupClusterCodegen(spark: SparkSession): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta")
    val rows = (0 until 8000).map { i =>
      val g = i / 2 // near-identical doc pairs -> guaranteed dup pairs
      val toks = (0 until 50).map(j => words(j % 8) + "g" + g + "x" + j)
      val text = (if (i % 2 == 0) toks
        else toks.drop(1) :+ ("tail" + g)).mkString(" ")
      Row(i.toLong, text, "en", "synthetic", text.length.toLong)
    }
    val docs0 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 16), schema)
    val warmDir = graft.util.TempDirs.create("graft-codegen-warm")
    docs0.write.mode("overwrite").parquet(warmDir.toString)
    val docs = spark.read.parquet(warmDir.toString)
    for (_ <- 1 to 2) {
      graft.queries.Ext32Queries.clusterCanonicalOn(docs)
        .write.format("noop").mode("overwrite").save()
      graft.operators.Dedup.unpersistIntermediates()
      spark.catalog.clearCache()
    }
    org.apache.commons.io.FileUtils.deleteDirectory(warmDir.toFile)
  }
}
