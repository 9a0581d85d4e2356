package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-hygiene operators: bucketed co-located joins (no shuffle at join
  * time) and salted joins for skewed keys. These are the knobs the 100 TB
  * deployment turns that the reference never needed at 16 keys
  * (SURVEY.md §4.4 flags its window keys as a skew hazard at scale).
  */
object Scale {

  /** Integer scale knob whose DEFAULT derives from the corpus size
    * instead of being a constant: the session conf wins (read through
    * [[graft.util.Knob]], so it is trimmed and must be >= 1), and an unset
    * or blank key yields `derive(N)` where N is the corpus row count —
    * memoized per (session, canonical plan, input-file-set token) by
    * [[Dedup.memoizedCount]], the same staleness-guarded count the dedup
    * broadcast probe uses, so the probe job runs once per distinct corpus
    * per JVM no matter how many knobs consult it.
    *
    * Gate queries pin index parameters (centroid counts, LSH bits) to
    * small oracle-replayable values by SETTING the conf (Verify, Bench and
    * the test base pin the test-SF constants at builder level — the DuckDB
    * oracles bake those constants into their SQL), while a library user
    * who calls the operator on a real corpus with NO configuration gets
    * scale-appropriate index parameters (centroids ~ sqrt(N),
    * bits ~ log2(N)) instead of test-SF constants that would be
    * quadratically wrong at 100 TB (BASELINE.md documents that failure
    * mode for the constant defaults). A value below 1 is rejected: zero
    * centroids is an empty centroid set and zero LSH bits is one bucket.
    */
  def derivedIntKnob(s: SparkSession, key: String, corpus: DataFrame,
      derive: Long => Int): Int =
    graft.util.Knob.optInt(s, key,
      "empty/unset = derive from corpus size", min = 1)
      .getOrElse(derive(Dedup.memoizedCount(corpus)))

  /** ceil(log2 N) clamped to [4, 24]: random-hyperplane sign bits per LSH
    * band so that 2^bits ~ N keeps expected bucket occupancy O(1) — the
    * selectivity rule the lshNearDup scaladoc states ("bits must grow
    * ~log2(corpus)"). The floor keeps tiny corpora from degenerating to
    * one bucket; the 24-bit cap bounds band-key cardinality (16M buckets)
    * where occupancy stops being the bottleneck.
    */
  def deriveLshBits(n: Long): Int = {
    val b = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.max(4, math.min(24, b))
  }

  /** ceil(sqrt N) clamped to [4, 65536]: IVF / SemDeDup centroid count so
    * per-centroid bucket size ~ sqrt(N) balances the assignment pass
    * (N x k comparisons) against the in-bucket pairwise verify
    * (~N^2 / k) — the classic IVF operating point. The cap bounds the
    * broadcast centroid table (~64k x vector width).
    */
  def deriveCentroids(n: Long): Int =
    math.max(4, math.min(65536,
      math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt))

  /** Persist a DataFrame as a bucketed+sorted table: joins and aggregations
    * on the bucket keys then run shuffle-free (bucket pruning + co-location).
    * The write shuffles ONCE; every subsequent join amortizes it.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit =
    df.write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)

  /** Join two bucketed tables on their bucket keys — produces a SortMergeJoin
    * with NO Exchange on either side when bucket counts match.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)

  /** Salted equi-join for skewed build keys: the skewed (large) side gets a
    * random-ish but DETERMINISTIC salt derived from a row fingerprint; the
    * small side is exploded across all salt values. The shuffle then spreads
    * each hot key over `salts` partitions. AQE's skew-join handles moderate
    * skew automatically; salting is for pathological keys AQE cannot split
    * (e.g. one key = 50% of rows feeding an aggregation).
    *
    * @param saltSrc a column with high entropy per row (an id) used to derive
    *                the deterministic salt
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltSrc: String, salts: Int = 8): DataFrame = {
    val saltedBig = big.withColumn("_salt", pmod(hash(col(saltSrc)), lit(salts)))
    val saltedSmall = small
      .withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, keys :+ "_salt").drop("_salt")
  }

  /** Salted two-phase aggregation for skewed group keys: partial-aggregate on
    * (key, salt), then final-aggregate on key. Sums/counts compose exactly.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
      saltSrc: String, salts: Int = 8): DataFrame = {
    val partial = df
      .withColumn("_salt", pmod(hash(col(saltSrc)), lit(salts)))
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_psum")).as(s"sum_$valueCol"), sum(col("_pcnt")).as("n"))
  }

  /** Size-tiered writer: repartition to a target in-file size before writing
    * partitioned parquet — avoids both the many-tiny-files and the
    * one-giant-file failure modes of naive partitioned writes.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      targetPartitions: Int): Unit =
    df.repartition(targetPartitions, partitionCols.map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
}
