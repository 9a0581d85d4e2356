package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shuffle width for the BOUNDED landing-zone / table-replay drains (r21).
  *
  * One state store instance spins up PER SHUFFLE PARTITION PER MICRO-BATCH
  * (per stateful operator), so a bounded drain's fixed floor scales with
  * the width while the data a replay folds is usually tiny — the r16
  * settlement measured store setup, not data, as what the narrow drains
  * bound. The drains used to hard-code 8; a production stream instead
  * sizes partitions to state volume / key cardinality. This helper derives
  * the same decision from the replay input's byte size, so the width is
  * scale-adaptive instead of a constant tuned for either local mode or a
  * cluster:
  *
  *   width = clamp(ceil(bytes / 64 MiB), 2, 200)
  *
  * - `graft.drain.partitions` (session conf or system property) overrides
  *   the derivation outright — the explicit production knob.
  * - 64 MiB per partition: a replay step's worth of state folding per
  *   store keeps each store's working set far below executor memory while
  *   bounding store-count overhead.
  * - the floor of 2 keeps every drain exercising real multi-partition
  *   state semantics (partition-local stores, cross-partition shuffle) —
  *   a width-1 drain would stop covering them;
  * - the cap of 200 bounds the derived width the same way
  *   `spark.sql.shuffle.partitions`' default does for batch.
  *
  * Result-invariant by construction: state partitioning changes WHERE keys
  * fold, never what the fold emits (the provider-interchange and
  * local[7]/7-partition invariance gates pin the same property).
  */
object DrainWidth {
  val PartitionsKey = "graft.drain.partitions"
  private val BytesPerPartition: Long = 64L << 20
  private val MaxPartitions: Long = 200L

  /** Derived width for a drain whose replay input totals `bytes`. */
  def forBytes(s: SparkSession, bytes: Long): Int = {
    val explicit = s.conf.get(PartitionsKey,
      sys.props.getOrElse(PartitionsKey, ""))
    if (explicit.nonEmpty) {
      val v = try explicit.trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$PartitionsKey must be an int; got '$explicit'")
      }
      require(v >= 1, s"$PartitionsKey must be >= 1, got $v")
      v
    } else {
      val derived = (math.max(0L, bytes) + BytesPerPartition - 1) / BytesPerPartition
      math.min(MaxPartitions, math.max(2L, derived)).toInt
    }
  }

  /** Total data bytes under a local/Hadoop path (recursive; missing or
    * unstat-able paths count 0 — the drain then just takes the floor, with
    * one WARN line so a mistyped or permission-blocked replay path is
    * distinguishable from a genuinely tiny input — r21 advice). */
  def pathBytes(s: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[drain-width] stat of '$path' failed " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}) -- deriving the " +
        "floor width from 0 bytes")
      0L
    }

  /** Derived width for a drain replaying the files under `path`. */
  def forPath(s: SparkSession, path: String): Int =
    forBytes(s, pathBytes(s, path))

  /** Derived width for a drain fed by `df` — sums the stat sizes of its
    * input files (file-backed plans; non-file inputs contribute 0 and the
    * floor applies, which is the right posture for in-memory fixtures). */
  def forFrame(df: DataFrame): Int = {
    val s = df.sparkSession
    val bytes = try {
      val conf = s.sparkContext.hadoopConfiguration
      df.inputFiles.map { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        } catch { case scala.util.control.NonFatal(_) => 0L }
      }.sum
    } catch { case scala.util.control.NonFatal(_) => 0L }
    forBytes(s, bytes)
  }
}
