package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one session recipe: how every main, dev tool and test builds its
  * local `SparkSession` ([[builder]]) and tears it down ([[stop]]).
  *
  * Settings live at BUILDER level, so they land in the SparkContext conf and
  * every `newSession()` child inherits them — Verify runs each query on a
  * child session and the bounded drains run on children of the caller's
  * session, and a runtime `conf.set` on the root reaches neither.
  */
object Session {

  /** Oracle gate pins: the ANN/LSH index parameters the static DuckDB
    * oracles bake into their SQL (8x6 LSH bits, 8 semdedup and 10 IVF
    * centroids). Unpinned, the library derives them from the corpus size
    * (`Scale.derivedIntKnob`), which is the production default; pin them
    * only for runs whose results are replayed against the oracles. */
  val gatePins: Seq[(String, String)] = Seq(
    "graft.lsh.bitsPerBand" -> "6",
    "graft.semdedup.centroids" -> "8",
    "graft.ivf.centroids" -> "10")

  /** A `local[cpus]` builder with `cpus` shuffle partitions, UTC session
    * time, no UI and stage-id-free generated class names, plus the
    * [[gatePins]] when `gatePins` is set. Stage-id-free names let
    * byte-identical stage code hit janino's cache across queries and AQE
    * re-plans instead of recompiling (README, "Tuning tip for many-query
    * sessions"). Callers add only what differs and call `getOrCreate()`. */
  def builder(cpus: Int, gatePins: Boolean): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
    if (!gatePins) b
    else Session.gatePins.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
  }

  /** Explicit teardown, so state-store and RocksDB native teardown runs
    * while the JVM is fully alive instead of racing the exit sequence (an
    * sf0.1 Verify JVM once segfaulted in rocksdbjni's stats thread at
    * exit). First the drain registry — the bounded drains run on child
    * sessions whose queries the root session's manager cannot see — then
    * any stream still active on the root session, then the session. */
  def stop(spark: SparkSession): Unit = {
    graft.streaming.Drain.stopLeftovers((_, e) =>
      System.err.println(s"[session] stopping leftover drain query failed: $e"))
    spark.streams.active.foreach { q =>
      try q.stop()
      catch { case NonFatal(e) =>
        System.err.println(s"[session] stopping leftover stream failed: $e")
      }
    }
    spark.stop()
  }
}
