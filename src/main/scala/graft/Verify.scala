package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Built to be UN-DROPPABLE under a driver-side timeout (round 8's
  * correctness artifact landed empty after a ~20-minute single-threaded
  * run was cut off):
  *   - `oracle_sql.json` is static metadata, so it is written FIRST — a
  *     truncated run still leaves a partial-but-checkable artifact (the
  *     checker compares whatever query outputs exist);
  *   - queries run CONCURRENTLY (`SPARK_GRAFT_VERIFY_PAR` workers, default
  *     8) — the sf0.01 gate is dominated by per-query fixed cost (planning,
  *     small sequential stages) that overlaps almost perfectly. Each query
  *     runs on its own `spark.newSession()`: same SparkContext and cache
  *     manager, but isolated SQLConf and temp-view catalog, so queries that
  *     register views (`events_ta` etc.) or tweak session conf
  *     (Ext2Queries' shuffle-partition override) cannot race each other;
  *   - the dedup operators' persisted intermediates are drained BETWEEN
  *     batches (never mid-flight, which would silently de-cache a plan
  *     another worker is executing): each batch completes, then
  *     [[graft.operators.Dedup.unpersistIntermediates]] + a catalog sweep
  *     run once on the root session (the cache manager is shared state, so
  *     one sweep covers every session).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameSubstring...] — extra args (dev-only; the
    // driver passes two) restrict the dump to matching query names.
    // Comma-separated lists inside one arg split too — "a,b" as a single
    // substring can never match a query name, only mask everything silently.
    if (args.length < 2) {
      // a usage line, not a bare MatchError (round-13 fix)
      System.err.println(
        "usage: graft.Verify <sfDir> <outDir> [nameSubstring...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter = args.drop(2).flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val defaultCpus = math.min(Runtime.getRuntime.availableProcessors, 16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt.max(1)
    // execution-mode invariance axes (README "bit-stable across execution
    // modes"): `run / fork := true` means `sbt -D...` flags land on the
    // SBT jvm, not this one — the ritual needs a first-class knob.
    // Comma-separated k=v pairs, e.g.
    //   SPARK_GRAFT_EXTRA_CONF=spark.sql.codegen.wholeStage=false
    // spark.* and graft.* keys alike (round-16: the pin-mode invariance run
    // flips a graft.* conf). Each entry is a builder-level .config applied
    // AFTER the session recipe, so it reaches the per-query child sessions
    // (a runtime conf.set on the root session would not) and can override
    // a recipe setting or gate pin deliberately.
    val extraConf: Seq[(String, String)] =
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap { s =>
        s.split(',').map(_.trim).filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) if k.trim.startsWith("spark.") ||
                k.trim.startsWith("graft.") =>
              (k.trim, v.trim)
            case _ => throw new IllegalArgumentException(
              s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not spark.*=value " +
                "or graft.*=value")
          }
        }
      }
    // Overriding a gate pin via SPARK_GRAFT_EXTRA_CONF is legal (the
    // invariance rituals flip pins deliberately) but must never be SILENT:
    // an oracle-green run under a flipped pin that nobody noticed would read
    // as ordinary evidence (round-17 advice). One loud line per collision.
    val pins = Session.gatePins.toMap
    extraConf.filter(kv => pins.contains(kv._1)).foreach { case (k, v) =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_EXTRA_CONF overrides gate pin " +
          s"$k (pin=${pins(k)}, override=$v) -- this run's " +
          "results are under a FLIPPED pin, not the published gate posture")
    }
    val spark = extraConf
      .foldLeft(Session.builder(cpus.toInt, gatePins = true)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // FIRST: the oracle map — static, costs nothing, and without it no
    // completed query output is checkable. String escaping (quote,
    // backslash, ALL control chars — a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness) lives in [[graft.util.MiniJson]], shared
    // with Bench's metric line and pinned by MiniJsonSpec.
    import graft.util.MiniJson.{str => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val selected =
      (if (nameFilter.isEmpty) SparkEntry.queries
       else SparkEntry.queries.filter { case (n, _) => nameFilter.exists(n.contains) })
        .toSeq.sortBy(_._1)

    val pool = Executors.newFixedThreadPool(par)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    var done = 0
    // Batches of 4*par between cache drains: enough in flight to keep the
    // pool busy across stragglers, small enough that sf0.01 intermediates
    // can't pile up into heap pressure.
    selected.grouped(4 * par).foreach { batch =>
      val fs = batch.map { case (name, fn) =>
        Future {
          val session = spark.newSession()
          try fn(session, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            // e.toString, not getMessage: an NPE's message is null, which
            // logged an undiagnosable "failed: null" (round-13 fix)
            System.err.println(s"[verify] $name failed: $e")
          }
        }
      }
      Await.result(Future.sequence(fs), Duration.Inf)
      done += batch.size
      graft.operators.Dedup.unpersistIntermediates()
      spark.catalog.clearCache()
      System.err.println(
        f"[verify] $done/${selected.size} done, ${(System.nanoTime() - t0) / 1e9}%.0f s")
    }
    pool.shutdown()
    Session.stop(spark)
  }
}
