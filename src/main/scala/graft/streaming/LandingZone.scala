package graft.streaming

import org.apache.spark.sql.DataFrame

/** File landing zone staged for DETERMINISTIC multi-batch streaming drains.
  *
  * Watermark-gated state (event-time timers, outer-join null padding,
  * dropDuplicatesWithinWatermark eviction) only releases when the watermark
  * ADVANCES PAST the state's horizon — and the watermark is published at the
  * END of each micro-batch, gating emission to a SUBSEQUENT batch. A
  * single-batch replay of a finite table therefore never flushes the tail.
  * The staging contract here makes the flush provable: the real rows land
  * as the first step, then far-future sentinel rows land as later steps.
  * Every step holds EXACTLY `filesPerStep` part files sharing one mtime
  * (strictly increasing across steps), and the drain reads with
  * `maxFilesPerTrigger = filesPerStep` — the file source takes the k
  * oldest unread files per batch, so batch j is exactly step j regardless
  * of within-step tie order. Batch 2 then publishes the data watermark and
  * batch 3 runs with the sentinel watermark, past every horizon the data
  * could have set. Sentinel rows carry an out-of-domain key — one RESERVED
  * value per caller (e.g. [[SessionTimers.SentinelKey]] = Long.MinValue),
  * never a broad "any negative id" convention that would swallow
  * signed-hash keys — so query logic can exclude them from results while
  * they still advance the clock.
  *
  * This is exactly how a production landing zone behaves (late files keep
  * arriving and push the watermark); the sentinels just make the tail flush
  * happen inside the bounded drain instead of "on the next day's data".
  *
  * Scale note (round-15): `filesPerStep > 1` splits each step with
  * `repartition(k)` so the drain reads and folds k files in k parallel
  * source tasks per batch — the round-14 single-task drain
  * (`coalesce(1)` + `maxFilesPerTrigger=1`) is the `filesPerStep = 1`
  * degenerate case. The writer may emit FEWER than k part files (small
  * frames; AQE-coalesced tiny shuffles — and the coalesced write can even
  * include a zero-row part file: observed on Spark 4.1.2, 1 row through
  * repartition(4) wrote 2 files, one empty), so steps are PADDED to
  * exactly k files with empty (schema-only) parquet files. The pad
  * arithmetic (`k - written.size`) is correct for ANY written count in
  * [0, k] — zero-row written files are data-free exactly like pads — and
  * a write producing MORE than k files throws loudly in [[stage]] rather
  * than smearing a step across two batches (Ext37Spec round-16 pins this
  * boundary against Spark upgrades).
  */
object LandingZone {

  /** Session-conf key bounding a single part FILE of a staged step. Each
    * part file is one source task's read unit, so the per-file cap is the
    * per-task bound; a file over the cap throws with a pointer to the
    * partitioned writer instead of silently serializing gigabytes through
    * one task. -1 disables.
    */
  val MaxStepBytesKey = "graft.landing.maxStepBytes"
  val DefaultMaxStepBytes: Long = 1L << 30 // 1 GiB

  /** Files per staged step used by the built-in drains
    * ([[SessionTimers.drain]], `Ext37Queries.streamOuterJoin`): the
    * source-side read width (k parallel source tasks per batch). Since
    * r21 the drains' STATE width derives separately from the replay
    * input's size ([[DrainWidth]]); this staging width stays fixed — it
    * bounds file count per step, not state-store count.
    */
  val DrainFilesPerStep: Int = 8

  /** Write `first` then each of `sentinels` as steps of a landing-zone
    * directory — exactly `filesPerStep` parquet part files per step, one
    * shared mtime per step, strictly increasing across steps (the file
    * source's processing order) — and return the directory path. All
    * frames must share one schema. Drain with
    * `maxFilesPerTrigger = filesPerStep` so one batch consumes exactly one
    * step — the default here deliberately EQUALS [[SessionTimers
    * .sessionStream]]'s default `maxFilesPerTrigger` ([[DrainFilesPerStep]])
    * so a caller pairing the two public APIs on defaults keeps the
    * batch/step alignment the sentinel-flush proof rides on; override BOTH
    * together or neither.
    */
  def stage(first: DataFrame, sentinels: Seq[DataFrame],
      filesPerStep: Int = DrainFilesPerStep): String = {
    require(filesPerStep >= 1,
      s"stage: filesPerStep must be >= 1, got $filesPerStep")
    val maxStepBytes = graft.util.Knob.long(first.sparkSession,
      MaxStepBytesKey, DefaultMaxStepBytes, "-1 disables the guard")
    val staged = graft.util.TempDirs.create("graft-landing")
    val t0 = System.currentTimeMillis() - 60000L

    def partFiles(tmp: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val listing = java.nio.file.Files.list(tmp)
      try {
        val b = Seq.newBuilder[java.nio.file.Path]
        val it = listing.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) b += p
        }
        // stable order so replays of the same stage lay files out
        // identically
        b.result().sortBy(_.getFileName.toString)
      } finally listing.close()
    }

    // Empty (schema-only) parquet used to pad steps short of filesPerStep:
    // small frames write fewer than k part files (empty partitions are
    // usually skipped; AQE may coalesce the tiny shuffle outright), but
    // batch alignment needs exactly k files per step. Built lazily ONCE
    // per stage() call
    // from the first frame's schema (its dir is eagerly deleted at the end
    // of staging); a padding file carries zero rows, so readers see no
    // extra data.
    var padDir: java.nio.file.Path = null
    def padTemplate: java.nio.file.Path = {
      if (padDir == null) {
        padDir = graft.util.TempDirs.create("graft-landing-pad")
        first.limit(0).coalesce(1).write.mode("overwrite")
          .parquet(padDir.toString)
      }
      val fs = partFiles(padDir)
      require(fs.nonEmpty,
        "landing-zone pad template wrote no parquet file — cannot pad " +
          s"steps to $filesPerStep files")
      fs.head
    }

    (first +: sentinels).zipWithIndex.foreach { case (df, i) =>
      // exit-registered like every staging dir: a write that FAILS below
      // (disk full, task error) must not orphan a populated intermediate;
      // the eager delete on the success path still runs (exit hook no-ops
      // on missing paths)
      val tmp = graft.util.TempDirs.create("graft-landing-stage")
      val shaped =
        if (filesPerStep == 1) df.coalesce(1) else df.repartition(filesPerStep)
      shaped.write.mode("overwrite").parquet(tmp.toString)
      val written = partFiles(tmp)
      // a NON-EMPTY frame that writes zero part files is a write anomaly
      // the drain would silently turn into a skipped batch (round-14
      // loudness, restored for the padded path too: padding an anomaly
      // into an all-empty step would eat a watermark advance). A genuinely
      // empty frame (e.g. an empty source table) pads to a zero-row step,
      // which is correct — there is nothing to fold and sentinels still
      // advance the clock.
      require(written.nonEmpty || df.isEmpty,
        s"landing-zone step $i wrote no .parquet part file under $tmp " +
          "for a NON-EMPTY frame — the drain would silently skip a batch")
      // more files than the drain's maxFilesPerTrigger would smear one step
      // across two batches and silently break the batch/step alignment the
      // sentinel flush proof rides on
      require(written.size <= filesPerStep,
        s"landing-zone step $i wrote ${written.size} part files, over the " +
          s"filesPerStep=$filesPerStep drain contract (maxRecordsPerFile " +
          "splitting or speculative leftovers?)")
      written.foreach { src =>
        val stepBytes = java.nio.file.Files.size(src)
        if (maxStepBytes >= 0 && stepBytes > maxStepBytes)
          throw new IllegalStateException(
            s"landing-zone step $i part file is $stepBytes bytes, over " +
              s"the $MaxStepBytesKey cap of $maxStepBytes: each part file " +
              "is read by ONE source task. For bulk data use " +
              "Scale.writePartitioned and a normal file-source stream; " +
              s"raise filesPerStep, or set $MaxStepBytesKey=-1 to override.")
      }
      val mtime =
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000L)
      (written ++ Seq.fill(filesPerStep - written.size)(padTemplate))
        .zipWithIndex.foreach { case (src, j) =>
          val dst = staged.resolve(f"step-$i%03d-$j%02d.parquet")
          // written files: metadata-only rename (both dirs live under the
          // same TempDirs root — a byte-copy would double the write I/O the
          // per-file cap scales to filesPerStep x 1 GiB). The pad template
          // is COPIED: it is reused across steps.
          if (src.startsWith(tmp)) java.nio.file.Files.move(src, dst)
          else java.nio.file.Files.copy(src, dst)
          java.nio.file.Files.setLastModifiedTime(dst, mtime)
        }
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    if (padDir != null)
      org.apache.commons.io.FileUtils.deleteDirectory(padDir.toFile)
    staged.toString
  }
}
