package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Joins

/** Exactly-once-EFFECT sink for at-least-once streams (SURVEY.md §2.10 T1/T3).
  *
  * The reference achieves idempotent writes with MySQL UNIQUE keys +
  * INSERT IGNORE (consumer_prices.py:70-81) and per-row URL existence checks
  * (consumer_news.py:47-49). The Spark-native equivalent is a foreachBatch
  * sink that (1) dedups within the micro-batch, (2) anti-joins the batch
  * against the sink's existing keys, (3) appends the remainder, if any.
  * Combined with checkpointed source offsets this yields effectively-once
  * rows even when a batch replays after failure.
  *
  * Scale note: the read-back runs no schema-inference job ([[readSink]]
  * takes the schema from one file's footer on the driver) and reads only
  * the key columns (column-pruned scan), but no sink is partitioned and
  * [[appendNew]] pushes no key filter, so every batch still reads back
  * every key the sink holds: the cost grows with the history, not the
  * batch (about 137 KB per ingest cycle in perfbench's `ingest_cycle`).
  * Bounding it by the batch is ROADMAP direction 4's open half.
  */
object IdempotentWriter {

  /** Spark's footer key for the schema a Spark writer stored. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The first VISIBLE data file of the sink and the sink's qualified
    * root, or None. Existence of the path alone is not enough: a first
    * append that dies mid-write can leave the directory with only committer
    * droppings (`_temporary`, `_SUCCESS`, dot-files) — `spark.read.parquet`
    * then fails schema inference, and because the path DOES exist, every
    * replayed batch fails the same way and the stream wedges permanently
    * (round-14 fix). The recursive listing is lazy (RemoteIterator) and
    * returns at the first visible file.
    */
  private def firstVisibleFile(spark: SparkSession,
      sinkPath: String): Option[(Path, Path, Configuration)] = {
    val p = new Path(sinkPath)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    // Compare Path objects against the QUALIFIED root, never string prefixes:
    // listFiles returns fully-qualified paths (file:/...) while sinkPath may
    // be bare, so a string cut at sinkPath.length lands mid-path and ancestor
    // segments leak into the hidden check — a sink under ~/.cache or /data/_w
    // would classify every real file as hidden and silently skip the
    // anti-join on replay (round-15 fix).
    val root = fs.makeQualified(p)
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      // hidden-by-convention entries (the same prefixes Spark's file index
      // skips); hidden DIRECTORIES like _temporary never reach here —
      // listFiles yields files only, so test every segment BELOW the root
      // (the root's own name and its ancestors are the caller's business)
      var cur = f.getPath
      var visible = true
      while (visible && cur != null && cur != root) {
        val seg = cur.getName
        if (seg.startsWith("_") || seg.startsWith(".")) visible = false
        cur = cur.getParent
      }
      if (visible) return Some((root, f.getPath, conf))
    }
    None
  }

  /** True when the sink holds at least one VISIBLE data file. */
  def sinkHasData(spark: SparkSession, sinkPath: String): Boolean =
    firstVisibleFile(spark, sinkPath).isDefined

  /** The schema a Spark writer stored in the footer of the sink's first
    * visible data file, read on the driver with no job. None when the
    * footer carries none, or when the file does not sit directly under the
    * root (it may sit in a partition, whose columns the footer lacks). */
  private def footerSchema(found: (Path, Path, Configuration)): Option[StructType] = {
    val (root, file, conf) = found
    if (file.getParent != root) return None
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
    finally reader.close()
  }

  /** The schema [[readSink]] reads `sinkPath` with; None means it infers. */
  private[graft] def sinkSchema(spark: SparkSession, sinkPath: String): Option[StructType] =
    firstVisibleFile(spark, sinkPath).flatMap(footerSchema)

  /** The sink's rows, or None when it holds no visible data file. Reads
    * with the footer schema, so a Spark-written flat sink pays no
    * schema-inference job; otherwise falls back to `spark.read.parquet`,
    * whose inference job reads a footer the same way. Every file of an
    * append-only sink carries the same schema, so which file it comes
    * from does not matter. */
  private[graft] def readSink(spark: SparkSession, sinkPath: String): Option[DataFrame] =
    firstVisibleFile(spark, sinkPath).map { found =>
      footerSchema(found)
        .fold(spark.read.parquet(sinkPath))(spark.read.schema(_).parquet(sinkPath))
    }

  /** Append `rows` to the parquet sink unless empty; returns the row
    * count. The rows are persisted so the count and the write compute them
    * once; callers pass rows bounded by a batch. The count comes before
    * the write, so an empty result writes no zero-row file for every later
    * read-back to list and open (an `Observation` would count during the
    * write, too late to skip it). */
  private[graft] def appendNonEmpty(rows: DataFrame, sinkPath: String): Long = {
    val toWrite = rows.persist()
    try {
      val n = toWrite.count()
      if (n > 0) toWrite.write.mode(SaveMode.Append).parquet(sinkPath)
      n
    } finally toWrite.unpersist() // a failed append must not leak the cache
  }

  /** foreachBatch body: append only rows whose `keys` aren't in the sink. */
  def appendNew(sinkPath: String, keys: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val deduped = batch.dropDuplicates(keys)
    val fresh = readSink(batch.sparkSession, sinkPath)
      .fold(deduped)(Joins.antiJoinNew(deduped, _, keys))
    appendNonEmpty(fresh, sinkPath)
  }
}
