package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured. `run.py` turns it into the result line. */
final class Result {
  var setupS = 0.0
  var coldS = 0.0
  /** (name, seconds, traced) of every timed step of the steady loop */
  val steps = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  /** (seconds, traced) of every operation of the steady loop */
  val ops = mutable.ArrayBuffer.empty[(Double, Boolean)]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** workload figures that are not timings: message, document and query counts */
  val figures = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  def fail(what: String): Unit = { failed += 1; failures += what }
}

/** The workload's view of the run: its session, its tracer, and how many
  * operations it measures after its cold one. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer],
    val dataDir: String, val workDir: String, val ops: Int, val res: Result) {

  def span[T](layer: String, name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(layer, name)(body)
    case None => body
  }

  /** Traced operations of the steady loop, and the cold one. */
  val tracedOps = mutable.ArrayBuffer.empty[Span]
  var coldOp: Option[Span] = None
  /** codegen (compiles, ms) per traced operation, cold one included */
  val codegen = mutable.Map.empty[Long, (Long, Double)]

  /** Time one operation. With a tracer, `traced` operations are recorded
    * and the others run with recording off, so the run carries its own
    * traced-against-untraced comparison. */
  def op[T](name: String, traced: Boolean, cold: Boolean = false)(body: => T): (T, Double) = {
    val on = tracer.isDefined && traced
    tracer.foreach(_.active = on)
    val cg0 = tracer.filter(_ => on).map(_.codegenTotals())
    val sp = tracer.filter(_ => on).map(_.open("workload", name))
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      for (t <- tracer; s <- sp) {
        t.close(s)
        t.flush()
        val (n1, ms1) = t.codegenTotals()
        val (n0, ms0) = cg0.get
        codegen(s.id) = (n1 - n0, ms1 - ms0)
        if (cold) coldOp = Some(s) else tracedOps += s
        t.active = false
      }
    }
  }

  def sinceStart(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

trait Workload {
  /** A tiny job run after the session boot, part of the set-up time. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 1000).selectExpr("sum(id)").collect()
  def run(ctx: Ctx): Unit
}

/** Runs one workload in this JVM and writes what it measured as JSON.
  *
  * usage: perfbench.Harness <workload> <dataDir> <workDir> <ops>
  *          <trace 0|1> <outJson>
  */
object Harness {

  def session(cpus: Int, workDir: String): SparkSession = {
    // the session Verify builds: nproc cores and shuffle partitions, UTC,
    // and the index pins the static oracles were written against
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("graft.lsh.bitsPerBand", "6")
      .config("graft.semdedup.centroids", "8")
      .config("graft.ivf.centroids", "10")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println("usage: perfbench.Harness <workload> <dataDir> <workDir> " +
        "<ops> <trace 0|1> <outJson>")
      sys.exit(2)
    }
    val Array(name, dataDir, workDir, opsArg, traceArg, outPath) = args
    val workload: Workload = name match {
      case "ingest_cycle" => IngestCycle
      case "curation" => Curation
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val cpus = Runtime.getRuntime.availableProcessors
    val res = new Result
    res.info("nproc") = cpus.toString

    // set-up: from JVM start to a booted session that has run one job
    val spark = session(cpus, workDir)
    workload.warmUp(spark)
    res.setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    res.info("spark_version") = spark.version

    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val ctx = new Ctx(spark, tracer, dataDir, workDir, opsArg.toInt, res)
    try workload.run(ctx)
    catch {
      case e: Throwable =>
        res.attempted = math.max(res.attempted, 1)
        res.fail(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      tracer.foreach { t =>
        t.uninstall()
        Layers.common(ctx, t)
      }
      // every streaming query, the child-session drains included
      graft.streaming.Drain.stopLeftovers()
      spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      spark.stop()
    }
    Files.writeString(Paths.get(outPath), Json.result(res))
  }
}

/** A minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")

  def result(r: Result): String = obj(Seq(
    "setup_s" -> num(r.setupS),
    "cold_s" -> num(r.coldS),
    "steps" -> arr(r.steps.map { case (n, s, t) => arr(Seq(str(n), num(s), t.toString)) }),
    "ops" -> arr(r.ops.map { case (s, t) => arr(Seq(num(s), t.toString)) }),
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "failures" -> arr(r.failures.map(str)),
    "figures" -> obj(r.figures.map { case (k, v) => k -> num(v) }),
    "layers" -> obj(r.layers.map { case (k, v) => k -> num(v) }),
    "info" -> obj(r.info.map { case (k, v) => k -> str(v) })))
}
