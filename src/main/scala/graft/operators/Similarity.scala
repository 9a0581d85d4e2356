package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an IVF-style
  * (inverted-file) bucketed variant as the scale path.
  *
  * All vector math is built from higher-order functions (zip_with /
  * aggregate) in DOUBLE precision — native Catalyst expressions, no UDFs, and
  * bit-reproducible against an oracle that evaluates the same left-to-right
  * summation.
  *
  * Scale posture: brute force is a crossJoin — O(|Q|x|C|) — only correct for
  * small query sets or as the verifier. IVF shuffles the corpus once on
  * centroid assignment, then each query probes `nprobe` buckets: the join is
  * (query x nprobe buckets), a ~|C|/|centroids|*nprobe fraction of the
  * corpus per query. Centroids are broadcast.
  */
object Similarity {

  /** Dot product in double precision, sequential left-to-right sum. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine over array<float> columns via the codegen'd native expression
    * ([[graft.functions.CosineSimilarity]]) — bit-identical arithmetic to the
    * HOF formulation `dot(a,b) / (norm(a) * norm(b))`, ~50x faster at
    * millions of pairs (tight primitive loop inside whole-stage codegen vs
    * interpreted lambda dispatch). Zero-norm (dead/padded) vectors score
    * NULL (round 13) — the same divide-by-zero convention as Spark's
    * non-ANSI `Divide` in the HOF form AND DuckDB's `/` in the oracle
    * replay (both NULL), where the raw-Java NaN it previously produced
    * sorted GREATER than every real score and poisoned rankings.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** The composable-HOF cosine (any numeric array type); kept as the
    * reference implementation the native expression is pinned against.
    */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector by brute-force cosine.
    * `queries`/`corpus`: (idCol, vecCol). Self-matches excluded. Output:
    * (query_id, neighbor_id, cos) with deterministic (cos desc, neighbor id)
    * ranking.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    ScaleFence.guardPair(queries, corpus, "Similarity.bruteForceTopK",
      "Similarity.ivfTopK (bucketed probe, identical scores on returned pairs)")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      // NULL cos (zero-norm/dead vectors) are non-neighbors, not rank
      // filler: without this filter a query with < k scoreable candidates
      // would emit (query, dead_vector, NULL) rows (round-13 fix)
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  /** Assign every vector to its best centroid by cosine (ties -> lowest
    * centroid id). Centroids are broadcast; one narrow pass over the corpus.
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("centv"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("affinity").desc, col("centroid_id"))
    vectors.join(broadcast(c))
      .withColumn("affinity", cosine(col(vecCol), col("centv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "centv", "affinity")
  }

  /** IVF search: probe the `nprobe` best centroids per query, brute-force
    * only inside those buckets. Returns (query_id, neighbor_id, cos); a
    * subset of bruteForceTopK's result with identical scores (deterministic,
    * oracle-checkable — no randomness anywhere).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    val bucketed = assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("centroid_id"))
    val cc = centroids.select(col(idCol).as("centroid_id2"), col(vecCol).as("centv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("caff").desc, col("centroid_id2"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(cc))
      .withColumn("caff", cosine(col("qv"), col("centv")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id2").as("centroid_id"))
    val scored = probes
      .join(bucketed, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .filter(col("cos").isNotNull) // zero-norm vectors are non-neighbors
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
  }

  /** Embedding-space near-duplicate pairs: all (a, b) with cosine >=
    * threshold. Brute force (the exact verifier); the LSH analog for scale is
    * random-hyperplane bucketing — same shape as [[Dedup.lshCandidates]].
    */
  def cosineNearDup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    ScaleFence.guard(vectors, "Similarity.cosineNearDup",
      "Similarity.lshNearDup (random-hyperplane LSH + exact verify) " +
        "or Similarity.semDedup (cluster-bucketed pairs)")
    val a = vectors.select(col(idCol).as("id_1"), col(vecCol).as("va"))
    val b = vectors.select(col(idCol).as("id_2"), col(vecCol).as("vb"))
    a.join(b, col("id_1") < col("id_2"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_1"), col("id_2"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the k most-similar corpus vectors with a DIFFERENT label — the
    * "confusable but wrong" examples an embedding model trains against.
    * Brute-force scoring (the exact baseline, same shape as
    * [[bruteForceTopK]] with the cross-label predicate); at corpus scale the
    * candidate stream comes from [[ivfTopK]]'s probe buckets instead and this
    * ranking applies unchanged. Output: (query_id, query_label, neighbor_id,
    * neighbor_label, cos), deterministic (cos desc, neighbor id) ranking.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    ScaleFence.guardPair(queries, corpus, "Similarity.hardNegatives",
      "Similarity.ivfTopK probe buckets as the candidate stream, then this ranking")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("query_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("neighbor_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .filter(col("cos").isNotNull) // zero-norm vectors are non-neighbors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cos"))
  }

  /** Per-label centroid prototypes: the element-wise mean vector of every
    * label's members, emitted long-form as (label, dim, centroid_val) — the
    * class-prototype computation behind nearest-centroid classification,
    * IVF seeding, and embedding-drift monitoring. posexplode → one
    * map-side-combinable aggregation on (label, dim): dims are bounded
    * (embedding width), so the shuffle is |labels| x dims rows regardless
    * of corpus size.
    */
  def labelCentroids(vectors: DataFrame, vecCol: String,
      labelCol: String): DataFrame =
    vectors
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      // count(col), not count(*): avg skips NULL elements, so n_members
      // must report the mean's actual support — count(*) would count
      // NULL-element rows a weighting consumer (IVF seeding, drift
      // monitors) then uses as a wrong denominator (round-13 fix)
      .agg(avg(col("col").cast("double")).as("centroid_val"),
        count(col("col")).as("n_members"))

  // --- random-hyperplane LSH (the bucketed ANN scale path) -------------------

  /** Deterministic, engine-portable hyperplane coefficient: 60-bit md5
    * prefix of "j:d" mapped to [-1000, 1000]. An external SQL engine
    * recomputes the identical planes (`'0x' || substr(md5(j||':'||d),1,15)`).
    */
  def planeCoef(j: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:$d".getBytes("UTF-8"))
    val hex = md.take(8).map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
  }

  /** Banded random-hyperplane LSH near-dup: `bands` hash tables of
    * `bitsPerBand` sign bits each; vectors sharing any (band, chunk) bucket
    * become candidates, then exact cosine verifies. Recall per true pair at
    * angle theta is 1 - (1 - p^r)^B with p = 1 - theta/pi — the standard
    * banding amplification; bitsPerBand should grow with log(corpus size)
    * to keep buckets selective (4 bits suits the test SFs; ~16-24 at 100 TB
    * embedding counts).
    *
    * The signature uses INTEGER arithmetic end to end — vectors quantized
    * with floor(x*1000), md5-derived integer plane coefficients
    * ([[planeCoef]]) — so every dot-product sign is exact and
    * order-independent: two engines (or two partition layouts) can never
    * disagree on a bucket by float-summation order, which is what lets the
    * SQL oracle replay the whole index.
    *
    * Scale posture vs the crossjoin verifier: shuffle on the (band, chunk)
    * key; candidate volume ~ B * sum over buckets |bucket|^2 — the classic
    * sub-quadratic ANN trade.
    */
  def lshNearDup(vectors: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, bitsPerBand: Int = 6): DataFrame = {
    require(bitsPerBand >= 1, s"bitsPerBand must be >= 1, got $bitsPerBand")
    require(bitsPerBand <= 62, "band chunk packs into a long")
    // dimension probe tolerates empty input / null vectors (mirror
    // cosineNearDup's empty-in-empty-out behavior instead of throwing).
    // round-13 fix: MAX(size), not take(1) — an arbitrary first-scanned
    // short/empty vector built short (or 0-dim) planes, every dot product
    // signed identically, and all vectors collapsed into ONE bucket: the
    // O(n^2) candidate join this index exists to avoid. Shorter vectors
    // against max-dim planes are zero-padded (HyperplaneChunks dots over
    // the common prefix), which is the natural embedding-space reading.
    val dimRow = vectors
      .filter(col(vecCol).isNotNull)
      .agg(max(size(col(vecCol))).as("d"))
      .take(1).filter(r => !r.isNullAt(0) && r.getInt(0) > 0)
    if (dimRow.isEmpty) {
      // schema must MATCH the non-empty branch (which carries the
      // caller's id type): a hard-coded BIGINT id here would make the
      // empty-input result un-unionable with a non-empty one whenever
      // ids are strings/ints (round-13 fix)
      val idT = vectors.schema(idCol).dataType
      return vectors.sparkSession.emptyDataFrame
        .select(lit(null).cast(idT).as("id_1"),
          lit(null).cast(idT).as("id_2"),
          lit(null).cast("double").as("cos"))
        .limit(0)
    }
    val dim = dimRow(0).getInt(0)
    val nPlanes = bands * bitsPerBand
    val planes: Seq[Seq[Long]] =
      (0 until nPlanes).map(j => (0 until dim).map(planeCoef(j, _)))
    val qv = transform(col("v").cast("array<double>"),
      x => floor(x * 1000).cast("long"))
    // signatures carry ONLY (id, band, chunk): the candidate self-join and
    // its dedup shuffle ids, not vectors — the embeddings rejoin once per
    // side after dedup (measured 5x on the drain: 1.5M candidate pairs
    // each dragging two 64-float payloads through the distinct). All
    // bands*bitsPerBand sign bits come from ONE codegen pass
    // (hyperplane_chunks) instead of a zip_with/aggregate lambda per plane.
    val sig = vectors
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("_qv", qv)
      .select(col("id"), posexplode(
        graft.functions.VectorFunctions.hyperplane_chunks(
          col("_qv"), planes, bitsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val cands = sig.as("a").join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"))
      .distinct()
    val vecs = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vecs.as("va"), col("id_1") === col("va.id"))
      .join(vecs.as("vb"), col("id_2") === col("vb.id"))
      .select(col("id_1"), col("id_2"),
        cosine(col("va.v"), col("vb.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings, then drop any vector whose
    * cluster contains a LOWER-id vector with cosine >= threshold. The
    * deterministic keep-the-minimum-id rule replaces the paper's
    * keep-one-random so the operator is oracle-checkable; duplicate tests
    * are direct pairs (not transitive closure — a kept vector can still be
    * near a dropped one, matching the paper's within-cluster pairwise form).
    *
    * Scale posture: the pairwise pass is bucketed BY CLUSTER — O(sum of
    * cluster_size^2), not O(n^2) — and the cluster assignment is one
    * broadcast-join pass over the corpus. At 100 TB the cluster count
    * scales with the corpus (SemDeDup uses ~100k clusters for 5B docs) so
    * each bucket stays executor-sized; skewed clusters split by re-running
    * assignment inside the oversized bucket (same operator, sub-centroids).
    * The assignment is localCheckpoint'd so the two pairwise sides and the
    * final anti-join share one materialization instead of recomputing the
    * centroid argmax three times.
    */
  def semDedup(vectors: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val assigned = assignToCentroids(vectors, centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id"))
      .localCheckpoint(eager = false)
    val a = assigned.select(col("centroid_id"), col(idCol).as("_ida"), col(vecCol).as("_va"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("_idb"), col(vecCol).as("_vb"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("_ida") < col("_idb"))
      .filter(cosine(col("_va"), col("_vb")) >= threshold)
      .select(col("_idb").as(idCol))
      .distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id"))
  }
}
