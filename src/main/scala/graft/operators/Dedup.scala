package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication ladder for large-scale training-data pipelines:
  * exact (hash groupBy), exact n-gram Jaccard (self-join on shingles),
  * MinHash+LSH (band-bucketed candidates + exact verification), and SimHash
  * (bit-voting fingerprint + pigeonhole-banded Hamming candidates).
  *
  * Scale posture: every method is shuffle-on-key, no driver-side loops.
  *   - exact: one hash aggregate;
  *   - exact Jaccard: shuffle on shingle — O(sum of postings²) worst case,
  *     only viable as the verifier or at small SF;
  *   - MinHash LSH: shuffle on (band index, band hash) buckets; candidate
  *     verification joins fixed-size shingle SETS (collect_set per doc), so
  *     the expensive exact pass touches only bucket-collision pairs. This is
  *     the 100 TB path;
  *   - SimHash: 64-bit fingerprint per doc, 4x16-bit band buckets guarantee
  *     recall for Hamming distance <= 3 (pigeonhole), verify with bit_count.
  *
  * All hashes are Spark-native (xxhash64 / murmur hash / md5) — codegen'd,
  * deterministic across runs and cluster layouts.
  */
object Dedup {

  // --- cache contract ----------------------------------------------------------

  /** Persist MEMORY_AND_DISK + track. The pair-join operators below pin
    * their shingle/signature intermediates (each feeds 2-3 plan branches;
    * pinning materializes the tokenize+hash pipeline once). persist — not
    * localCheckpoint — so partitions lost at scale recompute from lineage.
    * The RETURNED plans reference those cached tables, so they cannot be
    * unpersisted before the caller's terminal action — the contract is:
    * consume the result, then call [[unpersistIntermediates]] (or
    * `spark.catalog.clearCache()`). Verify and Bench both do; a library
    * caller that skips it leaks MEMORY_AND_DISK blocks for the session's
    * lifetime. Tracking is shared with every other persisting operator via
    * [[CachedIntermediates]].
    */
  private def pin(df: DataFrame): DataFrame =
    CachedIntermediates.track(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Drop every intermediate persisted by graft operators since the last
    * drain (delegates to [[CachedIntermediates.unpersistAll]]). Safe to call
    * any time after the terminal action on the consumed results;
    * `blocking = true` waits for the block eviction (tests).
    */
  def unpersistIntermediates(blocking: Boolean = false): Unit =
    CachedIntermediates.unpersistAll(blocking)

  // --- exact -----------------------------------------------------------------

  /** Exact dedup: one surviving id per identical `textCol` (md5 fingerprint
    * groupBy — the content-hash generalization of dropDuplicates that also
    * yields group sizes).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper_" + idCol), count(lit(1)).as("n_copies"))

  // --- shingling -------------------------------------------------------------

  /** Word n-gram shingles from a MATERIALIZED token-array column (distinct).
    * Tokenization is a plain single-space split, matching the oracle's
    * string_split.
    *
    * The tokens must be a plan attribute, not an inline `split(...)`
    * expression: interpreted HOF lambdas have no common-subexpression
    * elimination, so an inline split would re-run once per element_at
    * reference — O(tokens^2) per document (measured 6 s of an 8 s minhash
    * run before this was hoisted).
    */
  def shingleArray(toksCol: Column, n: Int): Column = {
    // n = 0 would silently emit one empty-string shingle per position
    // (concat_ws over zero columns) — every doc then shares one shingle
    // and every downstream candidate join degrades to all-pairs
    require(n >= 1, s"shingleArray: n must be >= 1, got $n")
    val ngram = (i: Column) =>
      concat_ws(" ", (1 to n).map(j => element_at(toksCol, (i + lit(j)).cast("int"))): _*)
    // Docs shorter than n tokens yield ZERO shingles, like the oracle's
    // QUALIFY lead IS NOT NULL. Unguarded, sequence(0, size-n) with size<n
    // descends (default step -1) into index 0 — an ANSI INVALID_INDEX error.
    when(size(toksCol) >= n,
      array_distinct(transform(sequence(lit(0), size(toksCol) - n), ngram)))
      .otherwise(array().cast("array<string>"))
  }

  /** Exploded distinct (id, shingle) postings. */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("_toks"))
      .select(col("id"), explode(shingleArray(col("_toks"), n)).as("shingle"))

  /** Postings with shingles pre-hashed to 64-bit longs: the shuffle key drops
    * from ~n-word strings to 8 bytes and set-intersection verify runs on
    * longs. Jaccard over hashed shingles equals Jaccard over shingles except
    * under a 64-bit collision (P ~ m^2/2^65 — irrelevant below billions of
    * distinct shingles per doc pair).
    */
  def hashedPostings(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shinglePostings(df, idCol, textCol, n)
      .select(col("id"), xxhash64(col("shingle")).as("shingle"))

  /** Corpora at or below this doc count broadcast their per-doc
    * signature/shingle-set tables into the candidate stream; larger corpora
    * shuffle the candidates against them sort-merge instead. The per-doc
    * tables carry a ~1 KB array per doc, so the 200k default keeps each
    * broadcast around ~200 MB — comfortably inside executor memory while
    * still covering every corpus where the broadcast is the clear win
    * (candidates ≫ docs). Found empirically: at the 100x scale probe
    * (500k docs) the unconditioned broadcast OOM'd the driver. ANY
    * negative value means always broadcast (no probe), 0 never; a
    * non-numeric value is rejected with the conf key named. Read from the
    * session conf through [[graft.util.Knob]]. */
  private[graft] def docBroadcastCutoff(df: DataFrame): Long =
    graft.util.Knob.long(df.sparkSession, "graft.dedup.broadcastMaxDocs",
      200000L, "any negative = always broadcast, 0 = never, " +
        "N > 0 = broadcast up to N docs")

  /** Memoized corpus counts for the broadcast probe, keyed by the
    * CANONICALIZED analyzed plan (+ owning session + input-file-set token,
    * see [[memoizedCount]]'s staleness guard): composed queries that
    * feed one input through several gated operators (q_curation_funnel
    * pays exact dedup AND cluster canonicals over the same docs) execute
    * the upstream plan for the probe ONCE, not once per operator. Bounded
    * LRU — each entry is one plan reference + a Long, and distinct gated
    * inputs per JVM are few, but the bound makes the worst case explicit. */
  private val docCountCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[
        (org.apache.spark.sql.SparkSession,
          org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
        java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (org.apache.spark.sql.SparkSession,
              org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
            java.lang.Long]): Boolean = size() > 64
    })
  private[graft] val docCountProbeRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Total [[memoizedCount]] calls, hit or miss — lets Bench detect
    * whether a query DEPENDS on the probe memo at all (a before/after
    * delta), so its noise-guard re-run invalidates the memo only for
    * probe-gated queries instead of globally (a global clear made a later
    * unrelated query in the same sweep pay a probe inside its timed
    * region). */
  private[graft] val docCountTouches =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop all memoized probe counts so the next gated operator pays a
    * genuinely fresh probe job. Measurement honesty, same contract as
    * StagedDirs.invalidate: Bench's noise-guard re-run calls this,
    * otherwise the re-run of a dedup-gated query would skip the probe job
    * the first run paid and min-merge could mask a probe-path regression
    * behind the memo. */
  def invalidateDocCountCache(): Unit = docCountCache.clear()

  /** Staleness token for [[memoizedCount]]'s key: an MD5 over (a) every
    * path `df.inputFiles` reports — which covers V1 relations, DSv2 file
    * scans, Hive tables, and custom file relations alike — and (b) one
    * stat block per file index the plan exposes (per-file length + mtime
    * from the driver-cached index for V1 HadoopFsRelation and DSv2
    * FileTable; the index's total size where per-file stats are not
    * exposed). Paths alone would miss a same-NAME in-place rewrite (a
    * fixture regenerated under a constant filename); stats alone would
    * narrow coverage to the two stat-bearing source shapes. Entries are
    * digested LENGTH-PREFIXED, so no separator choice can make two
    * different entry sets collide (paths may contain anything but NUL,
    * including newlines). Non-file inputs contribute nothing and fall
    * back to plan equality (sound: an in-memory relation's data IS part
    * of its canonicalized plan). Returns None when some file index
    * exposes NO per-file stats (a custom non-partitioning-aware
    * FileIndex): its index-level sizeInBytes may be an estimate, so a
    * same-name same-estimated-size rewrite would collide — such plans
    * are not memoized at all rather than memoized with a weaker
    * guarantee than this contract promises. A catalog-backed table
    * (CatalogFileIndex — the Hive-metastore shape a production corpus
    * actually has) is NOT such a case: its listing is materialized via
    * `filterPartitions(Nil)` into a partitioning-aware index first, so
    * catalog tables keep full per-file-stat memoization instead of
    * falling to the probe-every-call path.
    *
    * Returning Some for plans with NO file index at all is sound only
    * when the leaves carry their data or generate it deterministically
    * (LocalRelation — data is part of the canonicalized plan — Range,
    * OneRowRelation, in-memory caches of those). An EXTERNAL non-file
    * leaf (a JDBCRelation, a custom DSv2 table) canonicalizes equal
    * across server-side data changes, so plan equality would freeze the
    * count — and round 13 widened this memo to index-parameter
    * derivation, making a frozen count doubly wrong. Such plans return
    * None (probe every call). */
  private def inputFilesToken(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, OneRowRelation, Range => LogicalRange}
    import org.apache.spark.sql.execution.datasources.{
      CatalogFileIndex, FileIndex, HadoopFsRelation, LogicalRelation,
      PartitioningAwareFileIndex}
    import org.apache.spark.sql.execution.datasources.v2.{
      DataSourceV2Relation, FileTable}
    val analyzed = df.queryExecution.analyzed
    // subquery plans (scalar/EXISTS/IN) are NOT reached by collect/
    // collectLeaves on the outer plan — a filter like `region IN (SELECT
    // ... FROM jdbc_tbl)` would otherwise pass the leaf guard while its
    // external subquery changes server-side under an equal canonical plan
    val allPlans = analyzed +: analyzed.subqueriesAll
    val indexes: Seq[FileIndex] = allPlans.flatMap(_.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => Seq(fs.location)
        case _ => Seq.empty[FileIndex]
      }
      case r: DataSourceV2Relation => r.table match {
        case ft: FileTable => Seq(ft.fileIndex)
        case _ => Seq.empty[FileIndex]
      }
    }).flatten.map {
      // materialize a catalog table's listing (per-file stats included)
      case c: CatalogFileIndex => c.filterPartitions(Nil)
      case other => other
    }
    // every leaf must be file-backed or self-describing for plan
    // equality (+ file token) to imply data equality
    val leavesGuarded = allPlans.flatMap(_.collectLeaves()).forall {
      case lr: LogicalRelation => lr.relation.isInstanceOf[HadoopFsRelation]
      case r: DataSourceV2Relation => r.table.isInstanceOf[FileTable]
      // a LocalRelation's data IS its canonicalized plan (sound), but the
      // memo key then RETAINS that data in a JVM-global map — bound the
      // retention to small fixtures; big in-memory corpora re-probe
      // (their count is cheap relative to having built them in memory)
      case l: LocalRelation => l.data.length <= 10000
      case _: OneRowRelation | _: LogicalRange => true
      case _ => false
    }
    if (!leavesGuarded ||
        !indexes.forall(_.isInstanceOf[PartitioningAwareFileIndex])) None
    else {
      val statEntries: Seq[String] = indexes.map {
        case p: PartitioningAwareFileIndex =>
          p.allFiles()
            .map(f => s"${f.getPath} ${f.getLen} ${f.getModificationTime}")
            .sorted.mkString("stats:", "|", "")
        case other => // unreachable (forall guard above); keep total
          other.inputFiles.sorted.mkString("size-only:", "|",
            s"|${other.sizeInBytes}")
      }
      val entries = (df.inputFiles.toSeq ++ statEntries).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.foreach { e =>
        val b = e.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
        md.update(b)
      }
      Some(java.util.Base64.getEncoder.encodeToString(md.digest()))
    }
  }

  /** Shared with [[Scale.derivedIntKnob]] (round 13): index-parameter
    * derivation rides the same memoized, staleness-guarded corpus count
    * as the broadcast probe. */
  private[graft] def memoizedCount(df: DataFrame): Long = {
    // STALENESS GUARD: two fresh reads of one parquet path canonicalize
    // EQUAL (verified empirically — InMemoryFileIndex does not partake in
    // plan equality), so a plan-only key would keep returning a count
    // taken before the dir was appended/rewritten and wave a grown corpus
    // past the broadcast cutoff — the driver-OOM the cutoff exists to
    // prevent. Folding the input-file token into the key makes a
    // file-level change (new/removed part files, or a same-name rewrite —
    // caught by per-file length/mtime) a cache miss.
    docCountTouches.incrementAndGet()
    inputFilesToken(df) match {
      case None =>
        // a file index without per-file stats cannot be staleness-guarded
        // (see inputFilesToken): pay the probe every time rather than
        // memoize with a weaker guarantee — correctness (the OOM cutoff)
        // beats the probe's one metadata-count job
        docCountProbeRuns.incrementAndGet()
        df.count()
      case Some(token) =>
        val key =
          (df.sparkSession, df.queryExecution.analyzed.canonicalized, token)
        val cached = docCountCache.get(key)
        if (cached ne null) cached.longValue()
        else {
          // count OUTSIDE the map lock — it runs a Spark job; a duplicate
          // probe under a race is cheaper than serializing jobs on the cache
          docCountProbeRuns.incrementAndGet()
          val n = df.count()
          docCountCache.put(key, java.lang.Long.valueOf(n))
          n
        }
    }
  }

  /** True iff the doc count clears [[docBroadcastCutoff]]: the gated
    * operators then broadcast their per-doc tables, else they join them
    * sort-merge. The count is one lightweight eager job (column-pruned to
    * a metadata count for parquet inputs), MEMOIZED per canonical input
    * plan so repeated gated operators over the same input (and re-runs in
    * bench / the determinism spec) never re-execute the upstream plan for
    * the probe. */
  private def broadcastDocs(df: DataFrame): Boolean = {
    val cut = docBroadcastCutoff(df)
    cut < 0L || (cut > 0L && memoizedCount(df) <= cut)
  }

  // --- set-similarity core ---------------------------------------------------
  // The pair operators below share these pieces; each operator keeps only
  // its score, threshold arithmetic, length filter and guards.

  /** Per-doc shingle count `(id, sz)` of a postings table. */
  private def sizesOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))

  /** Shared-shingle count `i` of every doc pair with a common shingle, by
    * self-joining the postings (shuffle on shingle), with both docs' sizes
    * broadcast in (one row per doc — fine up to ~10M docs):
    * `(id_1, id_2, i, sz_1, sz_2)`, `id_1 < id_2`. */
  private def sharedCounts(sh: DataFrame): DataFrame = {
    val sizes = broadcast(sizesOf(sh))
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_1"), col("b.id").as("id_2"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.as("s1"), col("id_1") === col("s1.id"))
      .join(sizes.as("s2"), col("id_2") === col("s2.id"))
      .select(col("id_1"), col("id_2"), col("i"),
        col("s1.sz").as("sz_1"), col("s2.sz").as("sz_2"))
  }

  /** Pinned prefix postings `(id, shingle, sz)`: each doc's shingles in
    * global rarity order (document frequency asc, shingle asc — a total
    * order, consistent across docs), keeping ranks `<= keep(sz)`. The
    * frequency table is one extra agg on the postings already in memory.
    * Pinned because the prefix feeds both sides of a candidate join —
    * unpersisted, the freq join + rarity window (the two heaviest shuffles
    * here) run twice. `sz` rides along (one long per posting) so the
    * candidate join's length filter needs no extra join. */
  private def rarityPrefix(sh: DataFrame, sizes: DataFrame,
      keep: Column => Column): DataFrame = {
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    pin(sh.join(freq, "shingle")
      .withColumn("rnk", row_number().over(w))
      .join(sizes, "id")
      .filter(col("rnk") <= keep(col("sz")))
      .select(col("id"), col("shingle"), col("sz")))
  }

  /** `d` with a broadcast hint iff `bcast` (see [[broadcastDocs]]): the
    * candidate stream is the big side (potentially ~|pairs|), the per-doc
    * tables are |docs| rows — without the hint Spark has no stats for
    * these aggregation outputs and falls back to shuffling the candidate
    * stream twice per join. */
  private def docTable(d: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(d) else d

  /** Exact verify input: both docs' SORTED shingle sets (`sa.set`,
    * `sb.set`) attached to each candidate pair (id columns `l`, `r`) —
    * broadcast when `bcast` ([[docTable]]), else joined sort-merge — plus
    * their intersection size `i` (double) from one count-only merge walk
    * over the two in-row arrays ([[graft.functions.SortedIntersectCount]]).
    * The previous formulations, in order of replacement: re-joining both
    * docs' FULL postings per pair (a |cand| x avg_set_size explosion
    * through two shuffles — 5.2 s -> 1.9 s for q_jaccard_prefix at sf0.1
    * when replaced), then size(array_intersect(...)), whose per-row
    * hash-set build + boxed probes + materialized intersection array
    * dominated the verify stage (r21 profile: ~12 CPU-seconds warm at
    * sf0.1, ~5x that cold). */
  private def withIntersection(cands: DataFrame, l: String, r: String,
      sh: DataFrame, bcast: Boolean): DataFrame = {
    val sets = sh.groupBy(col("id"))
      .agg(sort_array(collect_set(col("shingle"))).as("set"))
    cands
      .join(docTable(sets.as("sa"), bcast), col(l) === col("sa.id"))
      .join(docTable(sets.as("sb"), bcast), col(r) === col("sb.id"))
      .withColumn("i", graft.functions.SetFunctions
        .sorted_intersect_count(col("sa.set"), col("sb.set")).cast("double"))
  }

  /** Distinct doc pairs `(id_1, id_2)`, `id_1 < id_2`, sharing any
    * `(band, key)` bucket of `banded` — shuffle on the bucket. Each
    * `(column, name)` in `carry` rides along from both sides as
    * `name_1` / `name_2`. */
  private def bandPairs(banded: DataFrame, key: String,
      carry: (String, String)*): DataFrame = {
    val carried = carry.flatMap { case (c, name) =>
      Seq(col(s"a.$c").as(s"${name}_1"), col(s"b.$c").as(s"${name}_2"))
    }
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col(s"a.$key") === col(s"b.$key") &&
          col("a.id") < col("b.id"))
      .select(Seq(col("a.id").as("id_1"), col("b.id").as("id_2")) ++ carried: _*)
      .distinct()
  }

  // --- exact n-gram Jaccard --------------------------------------------------

  /** All pairs with shingle-set Jaccard >= threshold, by self-joining the
    * postings list (shuffle on shingle). Output: (id_1, id_2, jaccard).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      hashShingles: Boolean = true): DataFrame = {
    ScaleFence.guard(df, "Dedup.jaccardPairs",
      "Dedup.jaccardPrefixPairs (lossless prefix filter, identical output) " +
        "or Dedup.minhashNearDup (LSH candidates + exact verify)")
    // the postings feed three consumers (sizes + both sides of the self-join)
    val sh = pin(if (hashShingles) hashedPostings(df, idCol, textCol, n)
      else shinglePostings(df, idCol, textCol, n))
    sharedCounts(sh)
      .withColumn("jaccard",
        col("i").cast("double") / (col("sz_1") + col("sz_2") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  /** Directed containment pairs: C(sub ⊂ super) = |sub ∩ super| / |sub| —
    * the asymmetric cousin of Jaccard that catches near-SUBSET duplicates
    * (a quote, an excerpt, a doc embedded in a larger page) which
    * symmetric Jaccard misses whenever the size ratio is large
    * (J ≤ |sub|/|super| no matter how complete the overlap). Emits a row
    * per DIRECTION crossing the threshold, so a near-identical pair emits
    * both directions. Same all-pairs-verifier posture as [[jaccardPairs]]
    * (shuffle on shingle, fenced); [[containmentPrefixPairs]] is its
    * lossless corpus-scale path.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    ScaleFence.guard(df, "Dedup.containmentPairs",
      "Dedup.containmentPrefixPairs (lossless prefix filter, identical " +
        "output)")
    val inter = sharedCounts(pin(hashedPostings(df, idCol, textCol, n)))
    val dir1 = inter.select(col("id_1").as("sub_id"),
      col("id_2").as("super_id"),
      (col("i").cast("double") / col("sz_1")).as("containment"))
    val dir2 = inter.select(col("id_2").as("sub_id"),
      col("id_1").as("super_id"),
      (col("i").cast("double") / col("sz_2")).as("containment"))
    dir1.unionByName(dir2).filter(col("containment") >= threshold)
  }

  // --- MinHash + LSH ---------------------------------------------------------

  /** k minhash values per doc in ONE typed-aggregate pass
    * ([[graft.functions.MinHashAgg]]: a k-slot min array per group), not k
    * separate `min(xxhash64(i, s))` aggregate expressions — k aggregation
    * buffers and k framework dispatches per posting made the signature stage
    * the dedup family's bottleneck at k=128. String shingles (the unhashed
    * formulation) are xxhash64'd to longs first.
    */
  def minhashSignatures(postings: DataFrame, k: Int): DataFrame = {
    val h =
      if (postings.schema("shingle").dataType ==
        org.apache.spark.sql.types.StringType) xxhash64(col("shingle"))
      else col("shingle")
    val sig = org.apache.spark.sql.functions.udaf(
      new graft.functions.MinHashAgg(k), org.apache.spark.sql.Encoders.scalaLong)
    postings.groupBy(col("id")).agg(sig(h).as("sig"))
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * k/bands rows each; docs sharing any (band index, band hash) bucket
    * become candidates. Shuffles on the bucket key.
    */
  def lshCandidates(sigs: DataFrame, bands: Int): DataFrame = {
    // bands = 0 is a runtime div-by-zero in the slice expression; the
    // k-multiple contract is enforced by minhashNearDup, but a direct
    // caller still deserves the loud half of that check
    require(bands >= 1, s"lshCandidates: bands must be >= 1, got $bands")
    // rows per band = size(sig) div bands, computed at runtime; callers
    // must keep size(sig) a positive multiple of bands (minhashNearDup
    // enforces it statically)
    val banded = sigs.select(col("id"),
      posexplode(expr(s"transform(sequence(0, $bands - 1), " +
        s"b -> hash(slice(sig, b * (size(sig) div $bands) + 1, size(sig) div $bands)))")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bandPairs(banded, "bucket")
  }

  /** MinHash-LSH near-dup detection with exact verification: LSH proposes
    * candidate pairs, then true shingle-set Jaccard (per-doc sorted sets,
    * one count-only merge walk per pair) filters them. With r=2-row bands the
    * probability of missing a pair at J >= 0.5 is (1 - 0.25)^bands — ~1e-8
    * at 64 bands — so the verified output matches the exact algorithm's
    * output in expectation AND the exact filter guarantees precision. The
    * per-doc signature/shingle-set tables are broadcast into the candidate
    * stream up to [[docBroadcastCutoff]] docs (default 200k), above which
    * those joins run sort-merge.
    */
  def minhashNearDup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, k: Int = 128,
      bands: Int = 64): DataFrame = {
    // round-13 guard: bands > k would make every band hash an EMPTY
    // signature slice to one constant bucket — all docs collide in all
    // bands and the candidate join silently degrades to all-pairs O(n^2);
    // a k not divisible by bands would silently ignore the signature tail
    require(bands > 0 && k >= bands && k % bands == 0,
      s"minhashNearDup: k ($k) must be a positive multiple of bands " +
        s"($bands) — each band hashes k/bands signature rows")
    val bcast = broadcastDocs(df)
    // postings feed signatures + exact-verify sets; signatures feed banding
    // + both estimate joins
    val postings = pin(hashedPostings(df, idCol, textCol, n))
    val sigs = pin(minhashSignatures(postings, k))
    val cands = lshCandidates(sigs, bands)
    // Stage 1 — estimate: signature agreement approximates Jaccard with
    // sigma = sqrt(J(1-J)/k) ~ 0.044 at k=128. Pruning candidates below
    // threshold - 0.2 (>4.5 sigma) costs ~3e-6 miss probability per true
    // pair and cuts the exact-verify set by orders of magnitude (2-row bands
    // make most moderately-similar pairs candidates). The estimate is
    // DETERMINISTIC given the data (fixed hash functions), not per-run noise.
    val estCut = math.max(0.0, threshold - 0.2)
    val estimated = cands
      .join(docTable(sigs.as("ga"), bcast), col("id_1") === col("ga.id"))
      .join(docTable(sigs.as("gb"), bcast), col("id_2") === col("gb.id"))
      .filter(graft.functions.VectorFunctions.match_fraction(
        col("ga.sig"), col("gb.sig")) >= estCut)
      .select(col("id_1"), col("id_2"))
    // Stage 2 — exact verify on the survivors only
    withIntersection(estimated, "id_1", "id_2", postings, bcast)
      .withColumn("jaccard",
        col("i") / (size(col("sa.set")) + size(col("sb.set")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  // --- cluster resolution ----------------------------------------------------

  /** Connected components over a near-dup pair graph: every doc gets the
    * MINIMUM doc id reachable through pairs as its cluster label — the
    * "keep one canonical doc per duplicate cluster" step a dedup pipeline
    * actually ships.
    *
    * Distributed small-label propagation: each iteration joins current
    * labels across the (symmetrized) edge list and keeps the per-node min;
    * converges in O(diameter) rounds, each one shuffle on the node id.
    * Label tables are checkpointed per round (localCheckpoint) so the plan
    * does not grow exponentially across iterations.
    *
    * @param pairs (id_1, id_2) near-dup pairs (e.g. from [[minhashNearDup]])
    * @param nodes one-column DataFrame of all ids (singletons label selves)
    * @param smallGraphEdges edge-count threshold below which the whole
    *        component resolution runs as ONE single-task union-find pass
    *        instead of the iterative join loop. Near-dup pair graphs are
    *        sparse relative to the corpus (the pair stage already collapsed
    *        it), so even huge corpora usually land here; the distributed
    *        loop is the overflow path for genuinely large edge sets.
    * @throws IllegalStateException if that loop has not converged after
    *         `maxIter` propagations (see [[memberLabels]]).
    */
  def clusterLabels(pairs: DataFrame, nodes: DataFrame, maxIter: Int = 20,
      smallGraphEdges: Long = 5000000L): DataFrame = {
    val idCol = nodes.columns.head
    // round-13 guard: node ids must be integral end to end. The
    // union-find path decodes (Long, Long) — loud — but the distributed
    // path's singleton rejoin casts ids to long, which for string ids is
    // NULL: every singleton silently collapsed to one (null, null) row
    // set. Make the contract uniform and size-independent instead.
    Seq(nodes.schema(idCol)).foreach { f =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
        s"Dedup.clusterLabels: id column '${f.name}' must be integral " +
          s"(got ${f.dataType.simpleString}) — map string ids to longs " +
          "(e.g. xxhash64) before clustering")
    }
    val members = memberLabels(pairs, maxIter, smallGraphEdges)
    // Singletons rejoin (self-labeled) once, at the end: members is pinned
    // (checkpointed) by memberLabels, so the anti-join's build side reads
    // pinned blocks, not a recompute.
    val singletons = nodes.select(col(idCol).cast("long").as("node"))
      .join(members.select("node"), Seq("node"), "left_anti")
      .withColumn("label", col("node"))
    members.unionByName(singletons)
  }

  /** Labels for EDGE-TOUCHING nodes ONLY — [[clusterLabels]] minus the
    * singleton rejoin. Every node appearing in `pairs` gets the minimum
    * reachable id as its label (roots label themselves); nodes absent from
    * `pairs` are absent from the output. This is the right call when the
    * consumer only cares about duplicate-cluster MEMBERS (dedup canonical
    * selection drops singletons anyway): it avoids a full corpus re-scan
    * and an anti-join whose only product would be rows the caller filters
    * back out — at 100 TB that second scan is the dominant cost of the
    * full-labeling variant. Output is pinned (checkpointed), so multiple
    * consumers do not re-run the resolution.
    *
    * Reflexive pairs (id_1 == id_2) are dropped when building the edge
    * list (round-17 advice): a self-pair carries no connectivity, and
    * without the filter a node whose ONLY pair is itself would surface as
    * a phantom one-member "cluster" — the library's pair producers
    * ([[jaccardPrefixPairs]], [[lshCandidates]]) enforce id_1 < id_2, but
    * this public API must not depend on that. Null-id pairs fall out with
    * them (null =!= null is null → filtered), which is the right call:
    * a null id cannot participate in a labeled component.
    *
    * @throws IllegalStateException if the distributed loop has not
    *         converged after `maxIter` propagations.
    */
  def memberLabels(pairs: DataFrame, maxIter: Int = 20,
      smallGraphEdges: Long = 5000000L): DataFrame = {
    Seq(pairs.schema("id_1"), pairs.schema("id_2")).foreach { f =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
        s"Dedup.memberLabels: id column '${f.name}' must be integral " +
          s"(got ${f.dataType.simpleString}) — map string ids to longs " +
          "(e.g. xxhash64) before clustering")
    }
    // cast to long HERE so both resolution paths emit the same schema:
    // the union-find path decodes (Long, Long) anyway, but the distributed
    // loop would otherwise preserve a narrower input type (Int/Short) —
    // the same call flipping output schema when the corpus crosses the
    // smallGraphEdges threshold is a downstream append/union landmine
    // drop reflexive (and null-id) pairs BEFORE symmetrizing — see scaladoc
    val properPairs = pairs.filter(col("id_1") =!= col("id_2"))
    // symmetrize IN-ROW (explode of both orientations), not via a union of
    // two selects over `pairs`: a union evaluates the pair producer once
    // PER SIDE, and the producers this feeds (prefix-filtered candidate
    // verify) are the most expensive stage of the cluster queries — the
    // r21 profile showed the whole verify pipeline running twice back to
    // back under the union. Same rows, one evaluation. (r21)
    val edges = properPairs.select(explode(array(
        struct(col("id_1").cast("long").as("src"),
          col("id_2").cast("long").as("dst")),
        struct(col("id_2").cast("long").as("src"),
          col("id_1").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    if (edges.count() <= smallGraphEdges) return smallGraphMemberLabels(edges)
    // Propagate over the edge-touching nodes (by construction the only
    // nodes here): labels can change only along edges.
    val active = edges.select(col("src").as("node")).distinct().localCheckpoint()
    var labels = active.withColumn("label", col("node")).localCheckpoint()
    var converged = active.isEmpty
    var iter = 0
    // One min-label propagation. The `own` column carries each node's label
    // from the START of the fused round through the aggregates (each node
    // has exactly one self row, so min ignoring the edge rows' nulls
    // preserves it) — the convergence probe is then a scan-only filter over
    // the checkpointed output, not a join+shuffle job.
    def prop(l: DataFrame): DataFrame = {
      val viaEdges = edges
        .join(l.select(col("node").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("node"), col("label"), lit(null).cast("long").as("own"))
      l.unionByName(viaEdges)
        .groupBy("node")
        .agg(min(col("label")).as("label"), min(col("own")).as("own"))
    }
    while (!converged && iter < maxIter) {
      // TWO propagations per checkpoint+probe: the tiny per-round shuffles
      // collapse to single tasks under AQE, so the loop's cost is the fixed
      // job overhead — fusing halves it. Worst case does one redundant
      // propagation past the fixpoint (a no-op on converged labels).
      val next = prop(prop(labels.withColumn("own", col("label"))))
        .localCheckpoint()
      converged = next.filter(col("label") < col("own")).isEmpty
      labels = next.select("node", "label")
      iter += 2
    }
    // unconverged labels are wrong labels (a long path's tail keeps a
    // mid-path minimum), so running out of rounds is an error, not a result
    if (!converged) throw new IllegalStateException(
      s"Dedup.memberLabels: label propagation did not converge within " +
        s"maxIter = $maxIter ($iter iterations run); raise maxIter")
    labels
  }

  /** Small-graph component resolution: path-compressed union-find over the
    * edge list in a single task — one job, O(E α(E)), no fixpoint rounds.
    * Exact same min-label semantics as the distributed loop (union keeps
    * the smaller root). Edge-touching nodes only.
    */
  private def smallGraphMemberLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keysIterator.map(n => (n, find(n))).toSeq.iterator
      }
      .toDF("node", "label")
      // multiple consumers (clusterLabels' singleton anti-join + union, or
      // dedupClusters' direct select): pin ONE evaluation or the
      // single-task union-find pass runs once per consumer
      .localCheckpoint(false)
  }

  // --- SimHash ---------------------------------------------------------------

  /** Default shingle hash: Spark-native codegen'd xxhash64 (fast path). */
  val xxhashTok: Column => Column = (c: Column) => xxhash64(c)

  /** Portable 60-bit shingle hash — top 15 hex chars of md5, so an external
    * engine (the DuckDB oracle) can recompute the identical fingerprints:
    * both sides parse the same big-endian hex prefix. Slower than xxhash64;
    * the production path keeps the default.
    */
  val md5Tok60: Column => Column =
    (c: Column) => conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash over n-gram shingle features: per bit, count the
    * shingles whose token-hash bit is set and set the fingerprint bit iff
    * set-votes form a strict majority (2·ones > n — equal to the classic
    * ±1 vote sum being positive). Shingles (not unigrams) keep the
    * fingerprint discriminative when the vocabulary is small. 64 codegen'd
    * branch-free shift-mask sums in ONE aggregate pass (round 15).
    *
    * @param bits fingerprint width; must match the range of `tokHash` (64 for
    *        xxhash64, 60 for md5Tok60).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      bits: Int = 64, tokHash: Column => Column = xxhashTok): DataFrame = {
    // bits = 0 makes the fingerprint reduce an empty-list error at plan
    // time (obscure); bits > 64 silently wraps 1L << i back onto low bits,
    // double-voting them
    require(bits >= 1 && bits <= 64,
      s"simhash: bits must be in [1, 64], got $bits")
    val toks = shinglePostings(df, idCol, textCol, n)
      .withColumnRenamed("shingle", "tok")
      .withColumn("h", tokHash(col("tok")))
    // Branch-free vote formulation (round-15): per bit, count the ONES with
    // sum((h >>> i) & 1) and set the fingerprint bit iff 2·ones > n — equal
    // to the former sum(when(bit, 1).otherwise(-1)) > 0 vote exactly (ties
    // leave the bit clear in both), so the SQL oracle replay is untouched.
    // Replacing the per-bit CASE WHEN branches (64 at the default width)
    // with shift-mask arithmetic keeps
    // the codegen'd primitive HashAggregate (a typed Aggregator here falls
    // back to sort-based ObjectHashAggregate past 128 groups — measured
    // SLOWER steady-state) while shrinking the generated vote code the
    // one-time whole-stage compile pays for.
    val votes = (0 until bits).map { i =>
      sum(shiftrightunsigned(col("h"), i).bitwiseAND(lit(1L))).as(s"v$i")
    } :+ count(lit(1)).as("vn")
    val agg = toks.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits)
      .map(i => when(col(s"v$i") * 2 > col("vn"), lit(1L << i))
        .otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("id"), fp.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxHamming. Candidates via
    * 4 pigeonhole bands of bits/4 each, verified with bit_count(xor).
    *
    * RECALL: banding is COMPLETE only for maxHamming <= 3 — with 4 bands, a
    * pair within Hamming 3 must agree on at least one whole band, so every
    * true pair is proposed and the output equals a full O(n^2) scan. For
    * maxHamming > 3 the band join is a recall heuristic: a pair whose
    * differing bits touch all 4 bands is never proposed (precision stays
    * exact — the bit_count verify is applied to every candidate). Callers
    * needing guaranteed recall above 3 should raise the band count to
    * maxHamming + 1 or fall back to [[jaccardPrefixPairs]].
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, n: Int = 3,
      bits: Int = 64, tokHash: Column => Column = xxhashTok): DataFrame = {
    // a bits not divisible by 4 leaves the top bits % 4 fingerprint bits
    // outside every band: pairs differing only there are never proposed,
    // a silent recall hole BEYOND the documented maxHamming > 3 heuristic
    require(bits >= 4 && bits % 4 == 0 && bits <= 64,
      s"simhashNearDup: bits must be a multiple of 4 in [4, 64], got $bits")
    require(maxHamming >= 0,
      s"simhashNearDup: maxHamming must be >= 0, got $maxHamming")
    val chunkBits = bits / 4
    val chunkMask = (1L << chunkBits) - 1
    // one row per doc, but its lineage is the whole shingle -> token-hash ->
    // 60-vote aggregate pipeline; persisted because the banded candidate
    // join consumes it on BOTH sides (same posture as jaccardPrefixPairs'
    // prefix postings — unpersisted, the fingerprint pass runs twice)
    val fps = pin(simhash(df, idCol, textCol, n, bits, tokHash))
    val banded = fps.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * chunkBits).bitwiseAND(lit(chunkMask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    bandPairs(banded, "chunk", "simhash" -> "sh")
      .withColumn("hamming", bit_count(col("sh_1").bitwiseXOR(col("sh_2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_1"), col("id_2"), col("hamming"))
  }

  // --- prefix-filtered set-similarity join -----------------------------------

  /** All-Pairs/PPJoin-style prefix filtering for the threshold Jaccard join:
    * order every doc's shingles by global rarity (document frequency asc,
    * shingle asc — a total order, consistent across docs), keep only the
    * first `sz - ceil(t*sz) + 1` per doc, and generate candidates from docs
    * sharing a PREFIX shingle. Lossless for J >= t (Bayardo et al., WWW'07
    * "Scaling Up All Pairs Similarity Search"): any pair at threshold must
    * collide inside both prefixes under one global order. Candidates are then
    * verified exactly, so the output EQUALS [[jaccardPairs]].
    *
    * Scale: the self-join runs on the prefix postings — at t=0.5 roughly half
    * the postings, and the rarity ordering puts the high-fanout (common)
    * shingles at prefix tails, so bucket sizes collapse versus the full
    * postings self-join. The per-doc shingle-set table is broadcast into the
    * candidate stream up to [[docBroadcastCutoff]] docs, same posture as
    * [[minhashNearDup]].
    */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val bcast = broadcastDocs(df)
    val sh = pin(hashedPostings(df, idCol, textCol, n))
    // ceil over an epsilon-nudged product: t*sz can land one double ULP
    // ABOVE the exact rational value (e.g. 0.3*10 = 3.0000000000000004),
    // ceiling to required+1 and shortening the prefix below the lossless
    // bound. 1e-9 is orders above the FP error for any realistic doc size
    // (rel. error ~1e-16·t·sz) yet far below the gap to the next integer
    // for thresholds with short decimal expansions.
    val prefix = rarityPrefix(sh, broadcast(sizesOf(sh)),
      sz => sz - ceil(lit(threshold) * sz - lit(1e-9)) + 1)
    // PPJoin LENGTH filter (lossless, r21): J(A,B) <= min(|A|,|B|) /
    // max(|A|,|B|), so J >= t forces min >= t*max. Both prefix sides
    // already carry their doc's size, so the filter runs right on the
    // candidate join output — dropping pairs BEFORE the distinct and the
    // expensive per-pair set attach + intersection (measured sf0.1: 409k
    // distinct candidates -> 310k after this filter, for 25 final pairs).
    // The 0.5 slack makes the double product safe for integral sizes:
    // t*max errs below 0.5 from its exact rational value for any
    // realistic size, and a false KEEP only costs one verified candidate,
    // never a lost pair.
    val sized = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .filter(least(col("a.sz"), col("b.sz")).cast("double") >=
        lit(threshold) * greatest(col("a.sz"), col("b.sz")) - lit(0.5))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"))
      .distinct()
    withIntersection(sized, "id_1", "id_2", sh, bcast)
      .withColumn("jaccard",
        col("i") / (size(col("sa.set")) + size(col("sb.set")) - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  /** Prefix-filtered CONTAINMENT join — the scale path for
    * [[containmentPairs]], with IDENTICAL output. The asymmetric bound: if
    * C(A→B) = |A∩B|/|A| >= t then A has at most (1−t)·|A| shingles outside
    * B, so among A's ⌊(1−t)·|A|⌋+1 rarest shingles (global df-asc order, a
    * total order consistent across docs) at least one must land in B —
    * probing ONLY that prefix against B's full postings is lossless.
    * Unlike the Jaccard prefix filter, the super side cannot be pruned (the
    * matching shingle may sit anywhere in B), so candidates come from
    * prefix(sub) ⋈ postings(super); at t=0.8 the probe side is a fifth of
    * the postings and rarity ordering keeps bucket fanout small. Candidates
    * verify exactly via per-doc sorted shingle sets (one count-only merge
    * walk per pair), so output EQUALS the all-pairs verifier.
    */
  def containmentPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val bcast = broadcastDocs(df)
    val sh = pin(hashedPostings(df, idCol, textCol, n))
    val sizes = broadcast(sizesOf(sh))
    // (1-t) itself is inexact in doubles (1.0-0.8 = 0.19999999999999996),
    // so (1-t)*sz lands BELOW the exact value and the floor loses a slot
    // at every sz multiple of 1/(1-t) — at the default t=0.8 that is
    // every 5th doc size, silently breaking losslessness. The epsilon
    // restores the exact-rational floor (same bound-error analysis as
    // [[jaccardPrefixPairs]]'s ceil).
    val prefix = rarityPrefix(sh, sizes,
      sz => floor(lit(1.0 - threshold) * sz + lit(1e-9)).cast("long") + 1)
    val cand = prefix.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
      // sub_sz is functionally dependent on sub_id, so the distinct's
      // cardinality is unchanged by carrying it
      .select(col("a.id").as("sub_id"), col("a.sz").as("sub_sz"),
        col("b.id").as("super_id"))
      .distinct()
    // one-sided length filter (lossless, r21): C(A→B) = |A∩B|/|A| >= t with
    // |A∩B| <= |B| forces |B| >= t*|A| — one scalar size attach (super
    // side; the sub size rode the prefix) + filter before the per-pair set
    // work (same 0.5 double-slack argument as [[jaccardPrefixPairs]]'s
    // PPJoin length filter).
    val sized = cand
      .join(sizes.as("z2"), col("super_id") === col("z2.id"))
      .filter(col("z2.sz").cast("double") >=
        lit(threshold) * col("sub_sz") - lit(0.5))
      .select(col("sub_id"), col("super_id"))
    withIntersection(sized, "sub_id", "super_id", sh, bcast)
      .withColumn("containment", col("i") / size(col("sa.set")))
      .filter(col("containment") >= threshold)
      .select(col("sub_id"), col("super_id"), col("containment"))
  }
}
