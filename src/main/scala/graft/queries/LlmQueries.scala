package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Sentiment, Similarity, TextAnalysis}
import graft.sources.Tables

/** Training-data-pipeline queries (the north-star extensions): dedup ladder,
  * similarity search, text analysis, multimodal plumbing, sentiment. Oracles
  * recompute the SAME math in DuckDB (list lambdas for vector math,
  * gaps-and-islands SQL for shingles) — only hash-function-dependent outputs
  * (SimHash) and imperative scoring (VADER) fall back to rows-only checks
  * backed by ScalaTest goldens.
  */
object LlmQueries {

  // --- text analysis ---------------------------------------------------------

  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.bpeishCount(col("text")).as("n_bpeish"),
      round(TextAnalysis.avgTokenLen(col("text")), 6).as("avg_tok_len"))

  val tokenStatsOracle: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish,
      |  ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |        / len(string_split(text, ' ')), 6) AS avg_tok_len
      |FROM documents""".stripMargin

  def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))

  val qualityScoreOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    ${OracleSql.qualityInputs}
       |  FROM documents
       |)
       |SELECT doc_id, ${OracleSql.qualityScore} AS quality
       |FROM m""".stripMargin

  def langId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("predicted"))

  val langIdOracle: String =
    s"""WITH scores AS (
       |  SELECT doc_id, lang,
       |    ${OracleSql.langScores}
       |  FROM documents
       |), b AS (
       |  SELECT *, ${OracleSql.langBest} AS best FROM scores
       |)
       |SELECT doc_id, lang,
       |  ${OracleSql.langPredicted} AS predicted
       |FROM b""".stripMargin

  def fingerprintDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Replays [[graft.functions.PolyHash]] byte for byte. Round-13 fix: the
    * old form folded Unicode CODE POINTS (`ascii(substr(...))`) while the
    * native expression folds raw UTF-8 BYTES — identical on the ASCII
    * fixture but divergent on any non-ASCII document ('é' is one 233 step
    * vs two steps 195, 169). `to_hex(encode(text))` exposes the UTF-8
    * bytes to SQL; the empty-text guard mirrors PolyHash's seed-0 return
    * (DuckDB's list_reduce ERRORS on an empty list instead).
    */
  val fingerprintOracle: String =
    """SELECT doc_id,
      |  CASE WHEN octet_length(encode(text)) = 0 THEN 0 ELSE
      |    list_reduce(
      |      list_transform(range(1, octet_length(encode(text)) + 1),
      |        i -> CAST('0x' || substr(to_hex(encode(text)),
      |                                 CAST(2 * i - 1 AS INT), 2) AS BIGINT)),
      |      (acc, x) -> (acc * 31 + x) % 1000000007)
      |  END AS fp
      |FROM documents""".stripMargin

  // --- dedup ladder ----------------------------------------------------------

  // private[graft]: the ClusterProbe dev harness's phase decomposition
  // must build the pair graph at the SAME threshold as the gate query
  // (a hardcoded copy silently diverges if this is ever tuned)
  private[graft] val JaccardThreshold = 0.5

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", n = 3,
        threshold = JaccardThreshold)
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("jaccard"))

  val ngramJaccardOracle: String =
    s"""WITH ${OracleSql.jaccardCtes(JaccardThreshold)}
       |SELECT id_1, id_2, ROUND(jaccard, 6) AS jaccard
       |FROM pairs""".stripMargin

  /** MinHash-LSH with exact verification: same contract as [[ngramJaccard]]
    * (the exact filter guarantees precision; 64 2-row bands give ~1e-8 miss
    * probability per true pair), so it shares the exact-Jaccard oracle.
    */
  def minhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDup(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = JaccardThreshold, k = 128, bands = 64)
      .select(col("id_1"), col("id_2"), round(col("jaccard"), 6).as("jaccard"))

  /** Near-dup cluster resolution: connected components over the exact-
    * Jaccard pair graph, labeling each clustered doc with the minimum
    * reachable doc_id. Only non-singleton members are returned. The oracle
    * computes the same transitive closure with a recursive CTE.
    *
    * The pair graph comes from the prefix-filtered join — provably the
    * same pair set as the all-pairs verifier (Bayardo prefix filter is
    * lossless at the threshold) but corpus-scale: the 100x probe tripped
    * [[Dedup.jaccardPairs]]' ScaleFence here at 500k docs, exactly the
    * failure the fence exists to force off the all-pairs path.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersOn(Tables.documents(s, dir))

  /** [[dedupClusters]] over a caller-supplied documents frame (doc_id,
    * text, ...). One code path for the gate query and Bench's codegen
    * warm pass: the warm pass runs this exact builder over a tiny
    * synthetic corpus, so the generated stage sources it compiles are the
    * ones the timed sf-scale run then hits in the janino cache.
    */
  def dedupClustersOn(docs: DataFrame): DataFrame = {
    val pairs = Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
      threshold = JaccardThreshold)
    // memberLabels (round 16): the output wants exactly the nodes of
    // non-trivial clusters — every edge-touching node once, labeled with
    // its cluster's minimum id (roots label themselves). That IS the
    // member-labels frame: the former clusterLabels call re-scanned the
    // corpus for singletons and anti-joined them in, only for the
    // filter/union/distinct below to throw them back out (and the roots'
    // re-derivation to re-add rows the labels already held) — a second
    // full-corpus scan plus three plan branches bought nothing.
    Dedup.memberLabels(pairs.select("id_1", "id_2"))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE ${OracleSql.jaccardCtes(JaccardThreshold)}, edges AS (
      |  SELECT id_1 AS src, id_2 AS dst FROM pairs
      |  UNION ALL SELECT id_2, id_1 FROM pairs
      |), reach(node, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
      |)
      |SELECT node AS doc_id, MIN(label) AS cluster_id
      |FROM reach GROUP BY node""".stripMargin

  /** SimHash near-dup pairs, gated end-to-end: the portable 60-bit md5-prefix
    * shingle hash lets the oracle recompute the IDENTICAL fingerprints, band
    * chunks, and Hamming verification in SQL — bit-voting, 4x15-bit
    * pigeonhole banding, and xor/bit_count verify are all replayed
    * independently. (The production default stays xxhash64, covered by
    * DedupSpec precision/recall on planted perturbations.)
    *
    * RECALL CAVEAT at maxHamming = 12: with 4 bands of 15 bits the pigeonhole
    * guarantee only covers Hamming <= 3 — above that, banding is a recall
    * heuristic (a pair differing in all 4 bands is never proposed). The
    * oracle replays the identical banding, so the GATE is exact; the
    * OPERATOR's recall envelope is what the caveat describes. The strict
    * variant below runs in the guaranteed-complete regime.
    */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 12, bits = 60, tokHash = Dedup.md5Tok60)

  /** The STRICT SimHash variant — maxHamming = 3, the exact regime where the
    * 4-band pigeonhole argument makes candidate generation lossless (any
    * fingerprint pair within Hamming 3 agrees on at least one band), so the
    * output provably equals a full O(n^2) Hamming scan. Same portable
    * md5-prefix hash as [[simhashNearDup]], so the DuckDB oracle replays the
    * identical fingerprints end-to-end. (The production xxhash64 64-bit
    * default of [[graft.operators.Dedup.simhashNearDup]] stays covered by
    * DedupSpec's planted-duplicate parity test between the two hashes.)
    */
  def simhashFast(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, bits = 60, tokHash = Dedup.md5Tok60)

  /** Shared oracle generator for both simhash variants: the SQL replays the
    * complete pipeline (shingle -> md5-prefix hash -> bit vote -> fingerprint
    * -> 4x15-bit banding -> xor/bit_count verify) and differs only in the
    * final Hamming threshold.
    */
  def simhashOracle(maxHamming: Int): String =
    s"""WITH ${OracleSql.shingleCtes(3)},
      |hashed AS (
      |  SELECT doc_id,
      |    CAST(CAST('0x' || substr(md5(s), 1, 15) AS UBIGINT) AS BIGINT) AS h
      |  FROM ds
      |), votes AS (
      |  SELECT doc_id, t.b,
      |    SUM(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM hashed, range(60) t(b) GROUP BY doc_id, t.b
      |), fp AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS fp
      |  FROM votes GROUP BY doc_id
      |), banded AS (
      |  SELECT doc_id, fp, t.b AS band, (fp >> (t.b * 15)) & 32767 AS chunk
      |  FROM fp, range(4) t(b)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
      |         a.fp AS fa, b.fp AS fb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      |)
      |SELECT id_1, id_2, bit_count(xor(fa, fb)) AS hamming
      |FROM cand WHERE bit_count(xor(fa, fb)) <= $maxHamming""".stripMargin

  val simhashNearDupOracle: String = simhashOracle(12)
  val simhashFastOracle: String = simhashOracle(3)

  /** Corpus term frequencies with stopword removal: top-20 terms. The top-k
    * is an orderBy+limit — planned as TakeOrderedAndProject (per-partition
    * heaps, no global sort, no vocabulary-sized single-partition window);
    * the rank column is then a window over the 20 surviving rows only.
    */
  def topTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = TextAnalysis.enStopwords
    val counts = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(!col("term").isin(stop.map(x => x: Any): _*) && col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
    counts
      .orderBy(col("n").desc, col("term"))
      .limit(20)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n").desc, col("term"))))
      .select("term", "n", "rk")
  }

  val topTermsOracle: String = {
    val stop = TextAnalysis.enStopwords.map("'" + _ + "'").mkString("(", ", ", ")")
    s"""WITH t AS (
       |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
       |), c AS (
       |  SELECT term, COUNT(*) AS n FROM t
       |  WHERE term NOT IN $stop AND term <> ''
       |  GROUP BY term
       |)
       |SELECT term, n, CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rk
       |FROM c QUALIFY rk <= 20""".stripMargin
  }

  // --- embedding similarity --------------------------------------------------

  import OracleSql.cosSql

  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDup(Tables.embeddings(s, dir), "vec_id", "embedding", 0.45)
      .select(col("id_1"), col("id_2"), round(col("cos"), 6).as("cos"))

  val embedNearDupOracle: String =
    s"""SELECT a.vec_id AS id_1, b.vec_id AS id_2,
       |  ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.45""".stripMargin

  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  val cosineTopKOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 20
       |)
       |SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos FROM scored
       |WHERE cos IS NOT NULL -- zero-norm candidates are non-neighbors,
       |                      -- mirroring bruteForceTopK's round-13 filter
       |QUALIFY row_number() OVER (
       |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin

  /** Hard-negative mining ([[Similarity.hardNegatives]]): top-3 cross-label
    * neighbors for the first 20 vectors.
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(emb.filter(col("vec_id") < 20), emb,
        "vec_id", "embedding", "label", k = 3)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), round(col("cos"), 6).as("cos"))
  }

  val hardNegativesOracle: String =
    s"""WITH scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS query_label,
       |    c.vec_id AS neighbor_id, c.label AS neighbor_label,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM embeddings q JOIN embeddings c
       |    ON c.vec_id <> q.vec_id AND c.label <> q.label
       |  WHERE q.vec_id < 20
       |)
       |SELECT query_id, query_label, neighbor_id, neighbor_label,
       |  ROUND(cos, 6) AS cos
       |FROM scored
       |WHERE cos IS NOT NULL -- mirrors hardNegatives' dead-vector filter
       |QUALIFY row_number() OVER (
       |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin

  /** Per-label centroid prototypes ([[Similarity.labelCentroids]]),
    * long-form (label, dim, centroid_val, n_members).
    */
  def classCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, dir), "embedding", "label")
      .select(col("label"), col("dim"),
        round(col("centroid_val"), 6).as("centroid_val"), col("n_members"))

  val classCentroidsOracle: String =
    """SELECT label, CAST(pos AS INT) AS dim,
      |  ROUND(AVG(CAST(v AS DOUBLE)), 6) AS centroid_val,
      |  COUNT(v) AS n_members -- the mean's support, not the row count
      |FROM (
      |  SELECT label, unnest(embedding) AS v,
      |         generate_subscripts(embedding, 1) AS pos
      |  FROM embeddings
      |)
      |GROUP BY 1, 2""".stripMargin

  /** IVF ANN: deterministic centroids (vec_id < 10), nprobe=2, top-3 — every
    * step is exact arithmetic, so the approximate index is fully
    * oracle-checkable (same buckets, same results, in SQL).
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(
        queries = emb.filter(col("vec_id") < 20),
        corpus = emb,
        centroids = emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
  }

  val annIvfOracle: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS centroid_id, embedding AS centv FROM embeddings WHERE vec_id < 10
       |), assign AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.centroid_id,
       |    ${cosSql("e.embedding", "c.centv")} AS aff
       |  FROM embeddings e, cent c
       |  QUALIFY row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY aff DESC, c.centroid_id) = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS qv, c.centroid_id,
       |    ${cosSql("q.embedding", "c.centv")} AS caff
       |  FROM embeddings q, cent c WHERE q.vec_id < 20
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q.vec_id ORDER BY caff DESC, c.centroid_id) <= 2
       |), scored AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    ${cosSql("p.qv", "a.cv")} AS cos
       |  FROM probes p JOIN assign a USING (centroid_id)
       |  WHERE a.neighbor_id <> p.query_id
       |)
       |SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos FROM scored
       |WHERE cos IS NOT NULL -- mirrors ivfTopK's dead-vector filter
       |QUALIFY row_number() OVER (
       |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 3""".stripMargin

  // --- multimodal ------------------------------------------------------------

  def multimodalMeta(s: SparkSession, dir: String): DataFrame = {
    // ONE pack -> decode pass: DecodedFeatures carries the pack-stage
    // metadata (kind/n_bytes/fingerprint) through the mapPartitions decode,
    // so no shuffle join reunites columns the pipeline already had in hand
    val media = Multimodal.packPayload(Tables.documents(s, dir), "doc_id", "text")
    Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"), col("fingerprint"),
        col("width"), col("height"), col("n_frames"),
        round(col("mean_luma"), 6).as("mean_luma"))
  }

  val multimodalMetaOracle: String =
    """WITH bytes AS (
      |  SELECT doc_id,
      |    list_extract(['image', 'audio', 'video'], CAST(doc_id % 3 AS INT) + 1) AS kind,
      |    CAST(length(text) AS BIGINT) AS n_bytes,
      |    md5(text) AS fingerprint,
      |    list_reduce(
      |      list_concat([CAST(17 AS BIGINT)],
      |        list_transform(range(1, length(text) + 1),
      |                       i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h,
      |    list_sum(list_transform(range(1, length(text) + 1),
      |                            i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS byte_sum
      |  FROM documents
      |)
      |SELECT doc_id AS media_id, kind, n_bytes, fingerprint,
      |  CAST(64 + h % 448 AS INT) AS width,
      |  CAST(64 + (h // 448) % 448 AS INT) AS height,
      |  CAST(CASE WHEN kind = 'video' THEN greatest(n_bytes // 64, 1) ELSE 1 END AS INT) AS n_frames,
      |  ROUND(CAST(byte_sum AS DOUBLE) / n_bytes / 255.0, 6) AS mean_luma
      |FROM bytes""".stripMargin

  // --- sentiment (F1) --------------------------------------------------------

  /** VADER-style compound score over captured news contents plus a slice of
    * documents; fully gated against [[sentimentOracle]]'s SQL replay, with
    * goldens in SentimentSpec pinning the algorithm.
    */
  def sentimentNews(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val news = graft.sources.KafkaJson.parseNews(
      WireQueries.newsFixtures.toDF("value"))
      .select(col("url").as("id"), col("content").as("text"))
    // doc_id < 50, not limit(50): the subset must be deterministic for the
    // SQL oracle to score the same rows.
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select(col("doc_id").cast("string").as("id"), col("text"))
    news.unionByName(docs)
      .select(col("id"), round(Sentiment.active.sentiment(col("text")), 6).as("compound"))
  }

  /** The COMPLETE VADER rule engine replayed in SQL: case-preserving
    * tokenization with the published punctuation-strip rule, per-document
    * cap-diff, ALL-CAPS valence bumps, the "no" special cases, three
    * sequential booster/negation distance steps on the RUNNING valence
    * (damped 0.95/0.9, caps-boosted scalars, never-so x1.25,
    * without-doubt pass, "n't" containment), special-case idioms with the
    * published override priority, bigram boosters, the least-check, the
    * but-clause re-weighting, and '!'/'?' emphasis — all generated from
    * the SAME maps the Scala scorer uses (one source of truth).
    *
    * The valence steps are one CTE per level (st0..st13), NOT lateral
    * column aliases in a single SELECT: DuckDB expands lateral aliases by
    * textual substitution, so a 12-deep chain where each level references
    * the previous 1-3 times builds a ~3^12-node expression tree — the
    * single-SELECT form of this oracle took 243 s to plan+run at sf0.01
    * (corpus-size-independent); the chained form runs in ~1 s.
    */
  val sentimentOracle: String = {
    def esc(x: String): String = x.replace("'", "''")
    // generated from the ACTIVE scorer's maps (not the embedded constants):
    // configuring a full lexicon file switches the query AND this oracle
    // together, so the gate can never desync on lexical coverage
    val scorer = graft.operators.Sentiment.active
    val lexVals = scorer.lexicon.toSeq.sorted
      .map { case (w, v) => s"('${esc(w)}', CAST($v AS DOUBLE))" }.mkString(", ")
    val boostVals = scorer.boosters.toSeq.sorted
      .map { case (w, b) => s"('${esc(w)}', CAST($b AS DOUBLE))" }.mkString(", ")
    val negVals = scorer.negations.toSeq.sorted
      .map(w => s"('${esc(w)}')").mkString(", ")
    val idiomVals = scorer.idioms.toSeq.sorted
      .map { case (w, v) => s"('${esc(w)}', CAST($v AS DOUBLE))" }.mkString(", ")
    // derive the news corpus from the SAME fixture literals the query
    // parses (one source of truth — editing WireQueries.newsFixtures can
    // never desync the oracle)
    val newsRaw = WireQueries.newsFixtures
      .map(f => "('" + esc(f) + "')").mkString(", ")
    s"""WITH lex(word, val) AS (VALUES $lexVals),
       |boost(word, b) AS (VALUES $boostVals),
       |neg(word) AS (VALUES $negVals),
       |idiom(phrase, ival) AS (VALUES $idiomVals),
       |newsraw(value) AS (VALUES $newsRaw),
       |news(id, text) AS (
       |  SELECT json_extract_string(value, '$$.url'),
       |         json_extract_string(value, '$$.content')
       |  FROM newsraw),
       |corpus AS (
       |  SELECT id, text FROM news
       |  UNION ALL
       |  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents WHERE doc_id < 50
       |), arrs AS (
       |  SELECT id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS arr
       |  FROM corpus
       |), tok0 AS (
       |  SELECT id, generate_subscripts(arr, 1) AS i, unnest(arr) AS rawtok FROM arrs
       |), tok1 AS (
       |  SELECT id, i, rawtok,
       |    regexp_replace(regexp_replace(rawtok,
       |      '^[!-/:-@\\[-`{-~]+', ''), '[!-/:-@\\[-`{-~]+$$', '') AS st
       |  FROM tok0
       |), feat AS (
       |  SELECT id, i,
       |    CASE WHEN length(st) <= 2 THEN rawtok ELSE st END AS w,
       |    lower(CASE WHEN length(st) <= 2 THEN rawtok ELSE st END) AS wl,
       |    (regexp_matches(CASE WHEN length(st) <= 2 THEN rawtok ELSE st END, '[A-Z]')
       |     AND NOT regexp_matches(CASE WHEN length(st) <= 2 THEN rawtok ELSE st END, '[a-z]')) AS up
       |  FROM tok1
       |), docstat AS (
       |  SELECT id, COUNT(*) AS n_tok,
       |    SUM(CASE WHEN up THEN 1 ELSE 0 END) AS n_up,
       |    MIN(CASE WHEN wl = 'but' THEN i END) AS but_i
       |  FROM feat GROUP BY id
       |), ctx AS (
       |  SELECT f.id, f.i, f.w, f.wl, f.up,
       |    (d.n_up > 0 AND d.n_up < d.n_tok) AS capdiff, d.but_i,
       |    lag(f.wl, 1) OVER win AS p1, lag(f.wl, 2) OVER win AS p2,
       |    lag(f.wl, 3) OVER win AS p3,
       |    lag(f.up, 1) OVER win AS u1, lag(f.up, 2) OVER win AS u2,
       |    lag(f.up, 3) OVER win AS u3,
       |    lead(f.wl, 1) OVER win AS l1, lead(f.wl, 2) OVER win AS l2
       |  FROM feat f JOIN docstat d USING (id)
       |  WINDOW win AS (PARTITION BY f.id ORDER BY f.i)
       |), j AS (
       |  SELECT c.*, lv.val AS lexval,
       |    (bs.word IS NOT NULL) AS selfboost,
       |    (lx1.word IS NOT NULL) AS p1lex, (lx2.word IS NOT NULL) AS p2lex,
       |    (lx3.word IS NOT NULL) AS p3lex, (lxn.word IS NOT NULL) AS l1lex,
       |    b1.b AS b1, b2.b AS b2, b3.b AS b3,
       |    (n1.word IS NOT NULL OR c.p1 LIKE '%n''t%') AS neg1,
       |    (n2.word IS NOT NULL OR c.p2 LIKE '%n''t%') AS neg2,
       |    (n3.word IS NOT NULL OR c.p3 LIKE '%n''t%') AS neg3,
       |    i1.ival AS id_onezero, i2.ival AS id_twoonezero, i3.ival AS id_twoone,
       |    i4.ival AS id_threetwoone, i5.ival AS id_threetwo,
       |    i6.ival AS id_zeroone, i7.ival AS id_zeroonetwo,
       |    gb1.b AS ng_threetwoone, gb2.b AS ng_threetwo, gb3.b AS ng_twoone
       |  FROM ctx c
       |  LEFT JOIN lex lv ON lv.word = c.wl
       |  LEFT JOIN boost bs ON bs.word = c.wl
       |  LEFT JOIN lex lx1 ON lx1.word = c.p1
       |  LEFT JOIN lex lx2 ON lx2.word = c.p2
       |  LEFT JOIN lex lx3 ON lx3.word = c.p3
       |  LEFT JOIN lex lxn ON lxn.word = c.l1
       |  LEFT JOIN boost b1 ON b1.word = c.p1
       |  LEFT JOIN boost b2 ON b2.word = c.p2
       |  LEFT JOIN boost b3 ON b3.word = c.p3
       |  LEFT JOIN neg n1 ON n1.word = c.p1
       |  LEFT JOIN neg n2 ON n2.word = c.p2
       |  LEFT JOIN neg n3 ON n3.word = c.p3
       |  LEFT JOIN idiom i1 ON i1.phrase = c.p1 || ' ' || c.wl
       |  LEFT JOIN idiom i2 ON i2.phrase = c.p2 || ' ' || c.p1 || ' ' || c.wl
       |  LEFT JOIN idiom i3 ON i3.phrase = c.p2 || ' ' || c.p1
       |  LEFT JOIN idiom i4 ON i4.phrase = c.p3 || ' ' || c.p2 || ' ' || c.p1
       |  LEFT JOIN idiom i5 ON i5.phrase = c.p3 || ' ' || c.p2
       |  LEFT JOIN idiom i6 ON i6.phrase = c.wl || ' ' || c.l1
       |  LEFT JOIN idiom i7 ON i7.phrase = c.wl || ' ' || c.l1 || ' ' || c.l2
       |  LEFT JOIN boost gb1 ON gb1.word = c.p3 || ' ' || c.p2 || ' ' || c.p1
       |  LEFT JOIN boost gb2 ON gb2.word = c.p3 || ' ' || c.p2
       |  LEFT JOIN boost gb3 ON gb3.word = c.p2 || ' ' || c.p1
       |), st0 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, l1lex,
       |    CASE WHEN (p1 = 'no') OR (p2 = 'no')
       |              OR (p3 = 'no' AND p1 IN ('or', 'nor'))
       |           THEN lexval * -0.74
       |         WHEN wl = 'no' AND l1lex THEN 0.0
       |         ELSE lexval END AS vb
       |  FROM j
       |), st1 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, vb,
       |    vb + CASE WHEN up AND capdiff
       |              THEN (CASE WHEN vb > 0 THEN 0.733 ELSE -0.733 END)
       |              ELSE 0.0 END AS v0
       |  FROM st0
       |), st2 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v0,
       |    CASE WHEN p1 IS NOT NULL AND NOT p1lex AND b1 IS NOT NULL THEN
       |      (CASE WHEN v0 < 0 THEN -b1 ELSE b1 END)
       |      + (CASE WHEN u1 AND capdiff
       |              THEN (CASE WHEN v0 > 0 THEN 0.733 ELSE -0.733 END)
       |              ELSE 0.0 END)
       |    ELSE 0.0 END AS s1
       |  FROM st1
       |), st3 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v0, s1,
       |    v0 + s1 AS v1a
       |  FROM st2
       |), st4 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone,
       |    CASE WHEN p1 IS NOT NULL AND NOT p1lex AND neg1
       |         THEN v1a * -0.74 ELSE v1a END AS v1
       |  FROM st3
       |), st5 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v1,
       |    CASE WHEN p2 IS NOT NULL AND NOT p2lex AND b2 IS NOT NULL THEN
       |      ((CASE WHEN v1 < 0 THEN -b2 ELSE b2 END)
       |       + (CASE WHEN u2 AND capdiff
       |              THEN (CASE WHEN v1 > 0 THEN 0.733 ELSE -0.733 END)
       |              ELSE 0.0 END)) * 0.95
       |    ELSE 0.0 END AS s2
       |  FROM st4
       |), st6 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v1, s2,
       |    v1 + s2 AS v2a
       |  FROM st5
       |), st7 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone,
       |    CASE WHEN p2 IS NOT NULL AND NOT p2lex THEN
       |      CASE WHEN p2 = 'never' AND p1 IN ('so', 'this') THEN v2a * 1.25
       |           WHEN p2 = 'without' AND p1 = 'doubt' THEN v2a
       |           WHEN neg2 THEN v2a * -0.74
       |           ELSE v2a END
       |    ELSE v2a END AS v2
       |  FROM st6
       |), st8 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v2,
       |    CASE WHEN p3 IS NOT NULL AND NOT p3lex AND b3 IS NOT NULL THEN
       |      ((CASE WHEN v2 < 0 THEN -b3 ELSE b3 END)
       |       + (CASE WHEN u3 AND capdiff
       |              THEN (CASE WHEN v2 > 0 THEN 0.733 ELSE -0.733 END)
       |              ELSE 0.0 END)) * 0.9
       |    ELSE 0.0 END AS s3
       |  FROM st7
       |), st9 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v2, s3,
       |    v2 + s3 AS v3a
       |  FROM st8
       |), st10 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone,
       |    CASE WHEN p3 IS NOT NULL AND NOT p3lex THEN
       |      CASE WHEN (p3 = 'never' AND p2 IN ('so', 'this'))
       |                OR (p1 IN ('so', 'this')) THEN v3a * 1.25
       |           WHEN p3 = 'without' AND (p2 = 'doubt' OR p1 = 'doubt')
       |             THEN v3a
       |           WHEN neg3 THEN v3a * -0.74
       |           ELSE v3a END
       |    ELSE v3a END AS v3
       |  FROM st9
       |), st11 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone, v3,
       |    CASE WHEN p3 IS NOT NULL AND NOT p3lex THEN
       |      COALESCE(id_zeroonetwo, id_zeroone, id_onezero, id_twoonezero,
       |               id_twoone, id_threetwoone, id_threetwo, v3)
       |    ELSE v3 END AS v4a
       |  FROM st10
       |), st12 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone,
       |    v4a + CASE WHEN p3 IS NOT NULL AND NOT p3lex THEN
       |      COALESCE(ng_threetwoone, 0.0) + COALESCE(ng_threetwo, 0.0)
       |      + COALESCE(ng_twoone, 0.0) ELSE 0.0 END AS v4
       |  FROM st11
       |), st13 AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, p1, p2, p3, p1lex, p2lex, p3lex, u1, u2, u3, up, capdiff, neg1, neg2, neg3, b1, b2, b3, id_onezero, id_twoonezero, id_twoone, id_threetwoone, id_threetwo, id_zeroone, id_zeroonetwo, ng_threetwoone, ng_threetwo, ng_twoone,
       |    CASE WHEN p1 = 'least' AND NOT p1lex THEN
       |      CASE WHEN p2 IS NOT NULL THEN
       |             (CASE WHEN p2 NOT IN ('at', 'very') THEN v4 * -0.74 ELSE v4 END)
       |           ELSE v4 * -0.74 END
       |    ELSE v4 END AS v5
       |  FROM st12
       |), stepped AS (
       |  SELECT id, i, but_i, wl, l1, selfboost, lexval, v5 FROM st13
       |), scored AS (
       |  SELECT id,
       |    (CASE WHEN selfboost OR (wl = 'kind' AND l1 = 'of')
       |               OR lexval IS NULL THEN 0.0
       |          ELSE v5 END)
       |    * (CASE WHEN but_i IS NOT NULL AND i < but_i THEN 0.5
       |            WHEN but_i IS NOT NULL AND i > but_i THEN 1.5
       |            ELSE 1.0 END) AS senti
       |  FROM stepped
       |), sums AS (
       |  SELECT id, SUM(senti) AS s FROM scored GROUP BY id
       |), agg AS (
       |  SELECT c.id, c.text, COALESCE(su.s, 0.0) AS s0,
       |    LEAST(4, length(c.text) - length(replace(c.text, '!', ''))) * 0.292 AS ep,
       |    (length(c.text) - length(replace(c.text, '?', ''))) AS qn
       |  FROM corpus c LEFT JOIN sums su ON c.id = su.id
       |), emph AS (
       |  SELECT id, text,
       |    CASE WHEN s0 <> 0.0
       |         THEN s0 + (CASE WHEN s0 > 0 THEN 1.0 ELSE -1.0 END)
       |              * (ep + CASE WHEN qn > 1
       |                           THEN CASE WHEN qn <= 3 THEN qn * 0.18 ELSE 0.96 END
       |                           ELSE 0.0 END)
       |         ELSE s0 END AS s1
       |  FROM agg
       |)
       |SELECT id,
       |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0.0
       |       ELSE ROUND(GREATEST(-1.0, LEAST(1.0, s1 / sqrt(s1 * s1 + 15.0))), 6)
       |  END AS compound
       |FROM emph""".stripMargin
  }
}
