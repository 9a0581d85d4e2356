package graft.dev

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only probe for cold-run cost attribution (round 16: this is the
  * instrument that re-diagnosed the q_cluster_canonical "bimodality" as
  * first-execution compile cost): runs a query N times in one JVM,
  * printing per-job wall times, GC-time deltas, janino codegen-compile
  * counts, and JVM JIT-time deltas between runs — separates a first-run
  * compile term (fast after run 1, visible in the codegen/jit counters)
  * from a stochastic GC term (random across runs) from a double-computed
  * stage (visible as a repeated job). The warmup mirrors Bench.main's
  * warm() block, including the parquet-round-tripped synthetic codegen
  * warm, so a single-rep fresh-JVM invocation reproduces the isolated
  * bench protocol's conditions.
  * Run: sbt 'Test/runMain graft.dev.ClusterProbe [reps] [queryName]'
  * — queryName defaults to q_cluster_canonical; the literal name
  * `phases` instead runs a phase-decomposed q_cluster_canonical
  * (pairs-build / labels-build / tail-write laps).
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(4)
    val qname = args.drop(1).headOption.getOrElse("q_cluster_canonical")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.builder(32, gatePins = false).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobStarts.put(e.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStarts.remove(e.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          if (ms > 50) jobLines.add(f"    job ${e.jobId}%3d ${ms}%8.0f ms  $desc")
        }
      }
    })

    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Janino whole-stage-codegen compile cost (driver-side, serial):
    // CodegenMetrics' histogram of per-compile times in nanoseconds.
    def codegenNs: (Long, Long) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum)
    }
    def jitMs: Long =
      java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime

    // warmup like Bench: flagship + all tables + fixtures (mirrors
    // Bench.main's warm() block so a single-rep fresh-JVM invocation of
    // this probe reproduces the isolated-protocol conditions exactly)
    graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
    }
    try graft.queries.Ext6Queries.ensureStaged(spark, sfDir)
    catch { case e: Throwable => println(s"warm fixture: $e") }
    try graft.queries.Ext14Queries.binarySource(spark, sfDir).limit(1).collect()
    catch { case e: Throwable => println(s"warm fixture: $e") }
    // codegen warm: THE bench's own helper (not a copy), so the probe's
    // compile-warm conditions cannot drift from the bench it diagnoses
    graft.Bench.warmDedupClusterCodegen(spark)
    println(s"warmup done: jit=${jitMs} ms codegen=${codegenNs._1} compiles")

    for (r <- 1 to reps) {
      jobLines.clear()
      val g0 = gcMs
      val (c0, _) = codegenNs
      val j0 = jitMs
      val t0 = System.nanoTime()
      if (qname == "phases") {
        // phase decomposition of q_cluster_canonical
        import org.apache.spark.sql.functions._
        def lap(tag: String, t: Long): Long = {
          val now = System.nanoTime()
          println(f"      phase $tag%-12s ${(now - t) / 1e9}%6.2f s")
          now
        }
        var tp = t0
        val docs = graft.sources.Tables.documents(spark, sfDir)
        val pairs = graft.operators.Dedup.jaccardPrefixPairs(
          docs, "doc_id", "text", n = 3,
          threshold = graft.queries.LlmQueries.JaccardThreshold)
        tp = lap("pairs-build", tp)
        val labels = graft.operators.Dedup.memberLabels(
          pairs.select("id_1", "id_2"))
        tp = lap("labels-build", tp) // eager checkpoint runs HERE
        val members = labels.select(col("node").as("doc_id"),
          col("label").as("cluster_id"))
        // the real query's tail builder (round-17 advice: no hand-copied
        // tail that can drift from Ext32Queries.clusterCanonicalOn)
        graft.queries.Ext32Queries.canonicalTail(members, docs)
          .write.format("noop").mode("overwrite").save()
        lap("tail-write", tp)
      } else {
        graft.SparkEntry.queries(qname)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      val t = (System.nanoTime() - t0) / 1e9
      val dg = gcMs - g0
      val (c1, _) = codegenNs
      val dj = jitMs - j0
      println(f"run $r: ${t}%6.2f s   gc +${dg} ms   codegen +${c1 - c0} compiles   jit +${dj} ms")
      jobLines.forEach(l => println(l))
      graft.operators.Dedup.unpersistIntermediates()
      spark.catalog.clearCache()
    }
    graft.Session.stop(spark)
  }
}
