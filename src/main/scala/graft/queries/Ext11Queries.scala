package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions
import graft.operators.{Dedup, RuntimeFilters, TextAnalysis}
import graft.sources.Tables

/** Round-6 extension batch: the corpus-preparation tier a training-data
  * pipeline runs between raw scrape and tokenization — unigram-LM typicality
  * scoring (CCNet-style), overlapping token-window chunking, Unicode-NFC
  * canonicalization dedup, and Bloom-runtime-filtered decontamination (the
  * beyond-broadcast-scale form of q_decontaminate's semi-join).
  */
object Ext11Queries {

  /** Unigram-LM document scoring ([[TextAnalysis.unigramLmScores]]): mean
    * token log-probability under the corpus's own unigram model.
    */
  def unigramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLmScores(Tables.documents(s, dir), "doc_id", "text")

  val unigramLmOracle: String =
    """WITH dt AS (
      |  SELECT doc_id, tok, COUNT(*) AS m FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents
      |  ) GROUP BY doc_id, tok
      |), cnt AS (
      |  SELECT tok, SUM(m) AS c FROM dt GROUP BY tok
      |), tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_total FROM cnt)
      |SELECT dt.doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
      |  ROUND(SUM(m * ln(CAST(c AS DOUBLE) / n_total)) / SUM(m), 6) AS avg_logp
      |FROM dt JOIN cnt USING (tok) CROSS JOIN tot
      |GROUP BY dt.doc_id""".stripMargin

  /** Overlapping token-window chunking ([[TextAnalysis.chunkTokens]]):
    * window 64, stride 32, md5 per chunk.
    */
  def docChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
      size = 64, stride = 32)

  val docChunksOracle: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n FROM documents
      |), st AS (
      |  -- starts stop at the first window reaching EOF (matches
      |  -- chunkTokens' round-13 contained-tail fix): last start is
      |  -- ceil((n-64)/32)*32, range() excludes its stop bound
      |  SELECT doc_id, toks, n, unnest(range(0,
      |    CASE WHEN n <= 64 THEN 1
      |         ELSE (((n - 64 - 1) // 32) + 1) * 32 + 1 END, 32)) AS start
      |  FROM t
      |)
      |SELECT doc_id, CAST(start // 32 AS INT) AS chunk_idx,
      |  start AS start_tok, least(64, n - start) AS n_tok,
      |  md5(array_to_string(
      |    toks[start+1 : start+least(64, n - start)], ' ')) AS chunk_md5
      |FROM st""".stripMargin

  /** Canonicalization dedup: NFC-normalize (native codegen'd expression —
    * [[graft.functions.NfcNormalize]]), casefold, collapse ASCII whitespace
    * runs, md5-group. The corpus is unioned with a deliberately perturbed
    * copy (doubled spaces + uppercased, ids offset by 1,000,000) so the
    * normalization is load-bearing: every group must collapse to n_docs=2
    * with the original id as canonical. The whitespace class is the explicit
    * `[ \t\n\r\f]` on both engines — Java's `\s` and RE2's `\s` disagree on
    * vertical tab, so neither shorthand is portable.
    */
  def normalizeDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val perturbed = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      upper(regexp_replace(col("text"), lit(" "), lit("  "))).as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(perturbed)
    val norm = trim(regexp_replace(
      lower(TextFunctions.nfc_normalize(col("text"))),
      lit("[ \t\n\r\f]+"), lit(" ")))
    all.select(col("doc_id"), md5(norm).as("norm_md5"))
      .groupBy(col("norm_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
  }

  val normalizeDedupOracle: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, upper(replace(text, ' ', '  '))
      |  FROM documents
      |), n AS (
      |  SELECT doc_id, md5(trim(regexp_replace(
      |    lower(nfc_normalize(text)), '[ \t\n\r\f]+', ' ', 'g'))) AS norm_md5
      |  FROM all_docs
      |)
      |SELECT norm_md5, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
      |FROM n GROUP BY norm_md5""".stripMargin

  /** Bloom-runtime-filtered decontamination: training docs that share NO
    * 8-gram span with the eval split. Same contamination semantics as
    * q_decontaminate, but the probe stream is pre-pruned by a Bloom sidecar
    * ([[RuntimeFilters.bloomMightContain]]) instead of broadcast-semi-joining
    * every span: Bloom negatives are definitively clean and never shuffle;
    * only Bloom positives (true hits + ~1% false positives) reach the exact
    * semi-join that makes the output exact. At 100 TB this is the posture
    * that survives an eval split too large to broadcast.
    */
  def bloomClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val eval = docs.filter(col("doc_id") % 100 === 0)
    val train = docs.filter(col("doc_id") % 100 =!= 0)
    val evalSpans = Dedup.hashedPostings(eval, "doc_id", "text", 8)
      .select(col("shingle")).distinct()
    val trainSpans = Dedup.hashedPostings(train, "doc_id", "text", 8)
    val contaminated = trainSpans
      .filter(RuntimeFilters.bloomMightContain(
        evalSpans, "shingle", col("shingle"), expectedItems = 1L << 16))
      .join(evalSpans, Seq("shingle"), "left_semi")
      .select(col("id")).distinct()
    train.select(col("doc_id"))
      .join(contaminated, col("doc_id") === col("id"), "left_anti")
      .select(col("doc_id"))
  }

  /** Shard-local sequence packing ([[TextAnalysis.packSequences]]): budget
    * 512 tokens, 32 shards — per-(shard, bin) fill stats.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(Tables.documents(s, dir), "doc_id", "text",
      budget = 512, shards = 32)

  val packSequencesOracle: String =
    """WITH t AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |         CAST(doc_id % 32 AS INT) AS shard
      |  FROM documents
      |), c AS (
      |  SELECT shard, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard
      |      ORDER BY n_tokens DESC, doc_id) AS cum
      |  FROM t
      |)
      |SELECT shard, CAST((cum - n_tokens) // 512 AS INT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
      |FROM c GROUP BY 1, 2""".stripMargin

  /** Source-mixture rebalancing: downsample every source to the same token
    * budget — here floor(0.6 × the smallest source's doc count), with the
    * target derived FROM the data (1-row aggregate broadcast), not a static
    * config. Selection is the deterministic md5 ranking (re-run- and
    * repartition-stable, same property as q_hash_sample), capped per source
    * by a window row_number. One shuffle on source; the count/target
    * aggregates are metadata-sized. The mixture-weighting step every
    * pretraining pipeline runs between curation and tokenization.
    */
  def sourceBalance(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val target = counts.agg(floor(min(col("n")) * 0.6).cast("long").as("tgt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("rk"))
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(target))
      .filter(col("rn") <= col("tgt"))
      .select(col("doc_id"), col("source"))
  }

  val sourceBalanceOracle: String =
    """WITH c AS (
      |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
      |), t AS (
      |  SELECT CAST(FLOOR(MIN(n) * 0.6) AS BIGINT) AS tgt FROM c
      |), r AS (
      |  SELECT doc_id, source, row_number() OVER (
      |    PARTITION BY source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents
      |)
      |SELECT doc_id, source FROM r, t WHERE rn <= tgt""".stripMargin

  /** Schema-evolution read: two parquet generations land in one dataset —
    * v=1 without `user_id`, v=2 with it — and `mergeSchema` unions the
    * footers at planning time, null-filling the missing column. The
    * capability that lets a 100 TB corpus add columns WITHOUT rewriting old
    * files (per-file schema reconciliation is metadata work; old data is
    * never touched). The staged write is part of the query (same contract as
    * the CSV/ORC round trips).
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = graft.util.TempDirs.create("graft-schema-evo")
    val ev = Tables.events(s, dir)
    ev.select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(root.toString + "/v=1")
    ev.select(col("event_id"), col("event_type"), col("value"), col("user_id"))
      .write.mode("overwrite").parquet(root.toString + "/v=2")
    s.read.option("mergeSchema", "true").parquet(root.toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("user_id")).as("n_with_user"),
        countDistinct(col("v")).as("n_generations"))
  }

  val schemaEvolutionOracle: String =
    """WITH u AS (
      |  SELECT event_id, event_type, CAST(NULL AS BIGINT) AS user_id, 1 AS v
      |  FROM events
      |  UNION ALL
      |  SELECT event_id, event_type, user_id, 2 AS v FROM events
      |)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  COUNT(user_id) AS n_with_user,
      |  COUNT(DISTINCT v) AS n_generations
      |FROM u GROUP BY event_type""".stripMargin

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-stream replay of the documents table: the SAME staging helper
    * as StreamQueries.eventsStream (file-or-dataset-directory aware — a
    * bare Files.copy of a directory source would stage an empty dir and
    * drain nothing) and the same [[graft.streaming.StagedDirs]] memo +
    * file-count revalidation — a fresh copy per CALL would re-pay the
    * copy on every bench repeat and still be reapable mid-JVM.
    */
  private def docsStream(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.streaming.StagedDirs.getOrStage(s"docs|$dir") {
      StreamQueries.stageTableCopy(
        s"$dir/documents.parquet", "graft-stream-docs", "documents")
    }
    s.readStream.schema(docsSchema).parquet(staged)
  }

  /** Streaming document-ingest pipeline — the text-corpus analogue of the
    * wire→warehouse flow: stream raw documents, score quality / token count
    * / language in-flight, gate on the quality floor, admit each distinct
    * content fingerprint once (streaming `dropDuplicates` state — the
    * exact-dedup-at-ingest tier), drain with `Trigger.AvailableNow`.
    *
    * The output projects only text-derived columns (fp, n_tokens, lang,
    * quality), so WHICH physical duplicate row survives the streaming dedup
    * is invisible — the drain is deterministic and equals the batch DISTINCT
    * oracle. At 100 TB the fp state is the corpus's distinct-content set;
    * production bounds it with a watermark on arrival time or swaps in the
    * Bloom admission tier ([[RuntimeFilters]]).
    */
  def docPipeline(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Drain.toMemory(s, "doc_pipeline",
        graft.streaming.DrainWidth.forPath(s, s"$dir/documents.parquet"), "append") { ss =>
      docsStream(ss, dir)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .withColumn("fp", md5(col("text")))
        .filter(col("quality") > 0.2 && col("n_tokens") >= 10)
        .dropDuplicates("fp")
        .select(col("fp"), col("n_tokens"), col("pred_lang"), col("quality"))
    }

  val docPipelineOracle: String =
    s"""WITH m AS (
       |  SELECT text, md5(text) AS fp,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${OracleSql.qualityInputs},
       |    ${OracleSql.langScores}
       |  FROM documents
       |), b AS (
       |  SELECT *, ${OracleSql.langBest} AS best FROM m
       |), q AS (
       |  SELECT fp, n_tokens, ${OracleSql.langPredicted} AS pred_lang,
       |    ${OracleSql.qualityScore} AS quality
       |  FROM b
       |)
       |SELECT DISTINCT fp, n_tokens, pred_lang, quality
       |FROM q WHERE quality > 0.2 AND n_tokens >= 10""".stripMargin

  val bloomCleanOracle: String =
    s"""SELECT doc_id FROM documents
       |WHERE doc_id % 100 <> 0 AND doc_id NOT IN (
       |  SELECT doc_id FROM (\n${Ext7Queries.decontaminateOracle}\n) q)""".stripMargin
}
