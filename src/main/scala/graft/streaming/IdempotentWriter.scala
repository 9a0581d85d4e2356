package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.operators.Joins

/** Exactly-once-EFFECT sink for at-least-once streams (SURVEY.md §2.10 T1/T3).
  *
  * The reference achieves idempotent writes with MySQL UNIQUE keys +
  * INSERT IGNORE (consumer_prices.py:70-81) and per-row URL existence checks
  * (consumer_news.py:47-49). The Spark-native equivalent is a foreachBatch
  * sink that (1) dedups within the micro-batch, (2) anti-joins the batch
  * against the sink's existing keys, (3) appends the remainder. Combined with
  * checkpointed source offsets this yields effectively-once rows even when a
  * batch replays after failure.
  *
  * Scale note: the anti-join reads back only the key columns (column-pruned
  * scan); with a partitioned sink, partition filters keep the read-back
  * bounded by the batch's key range rather than the full history.
  */
object IdempotentWriter {

  /** True when the sink holds at least one VISIBLE data file. Existence of
    * the path alone is not enough: a first append that dies mid-write can
    * leave the directory with only committer droppings (`_temporary`,
    * `_SUCCESS`, dot-files) — `spark.read.parquet` then fails schema
    * inference, and because the path DOES exist, every replayed batch
    * fails the same way and the stream wedges permanently (round-14 fix).
    * The recursive listing is lazy (RemoteIterator) and returns at the
    * first visible file, so the check is O(1) listing calls on a healthy
    * sink of any size.
    */
  def sinkHasData(spark: org.apache.spark.sql.SparkSession, sinkPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(sinkPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return false
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
      if (visible) return true
    }
    false
  }

  /** foreachBatch body: append only rows whose `keys` aren't in the sink. */
  def appendNew(sinkPath: String, keys: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val deduped = batch.dropDuplicates(keys)
    val fresh =
      if (sinkHasData(spark, sinkPath))
        Joins.antiJoinNew(deduped, spark.read.parquet(sinkPath), keys)
      else deduped
    fresh.write.mode(SaveMode.Append).parquet(sinkPath)
  }
}
