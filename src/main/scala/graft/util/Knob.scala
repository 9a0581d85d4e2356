package graft.util

import org.apache.spark.sql.SparkSession

/** The one reader for the library's `graft.*` tuning keys.
  *
  * A key is read from the session conf only. Set it at builder level
  * (`.config`), so it lands in the SparkContext conf and every
  * `newSession()` child inherits it, or with `SPARK_GRAFT_EXTRA_CONF` for
  * Verify. The value is trimmed, and an unset or blank value means the
  * caller's default. A malformed value, or one below `min`, throws
  * `IllegalArgumentException` naming the key, the raw value and what the
  * key means.
  */
private[graft] object Knob {

  /** The trimmed session-conf value of `key`; `None` when unset or blank. */
  private def get(s: SparkSession, key: String): Option[String] =
    s.conf.getOption(key).map(_.trim).filter(_.nonEmpty)

  /** `key` as an int, or `None` when unset or blank. */
  def optInt(s: SparkSession, key: String, meaning: String,
      min: Int = Int.MinValue): Option[Int] =
    get(s, key).map(parseInt(key, _, meaning, min))

  /** `key` as a long, or `default` when unset or blank. */
  def long(s: SparkSession, key: String, default: Long,
      meaning: String): Long =
    get(s, key).fold(default)(parse(key, _, "a long", meaning,
      Long.MinValue, Long.MaxValue))

  /** Parse `raw` as an int of at least `min`; `key` names the setting in
    * the error (a conf key or a data-source option). */
  def parseInt(key: String, raw: String, meaning: String,
      min: Int = Int.MinValue): Int =
    parse(key, raw, "an int", meaning, min.toLong, Int.MaxValue.toLong).toInt

  private def parse(key: String, raw: String, kind: String, meaning: String,
      min: Long, max: Long): Long = {
    def reject() = {
      val floor = if (min > Int.MinValue.toLong) s" >= $min" else ""
      val why = if (meaning.isEmpty) "" else s" ($meaning)"
      throw new IllegalArgumentException(
        s"$key must be $kind$floor$why; got '$raw'")
    }
    val v = try raw.trim.toLong
      catch { case _: NumberFormatException => reject() }
    if (v < min || v > max) reject()
    v
  }
}
