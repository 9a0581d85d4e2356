package graft

import org.apache.spark.sql.functions._

/** Dev tool (`sbt "Test/runMain graft.PrefixSumBench"`): measure the
  * single-window vs two-phase crossover that the adaptive threshold in
  * [[graft.operators.PrefixSum]] encodes. Times `exclusive` on synthetic
  * histograms of growing size under both forced paths; the threshold
  * (default 100k) should sit below the size where the bucketed plan wins.
  */
object PrefixSumBench {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(32, gatePins = false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    println("| rows | single-window (s) | two-phase (s) |")
    println("|---|---|---|")
    for (n <- Seq(100000, 300000, 1000000, 3000000, 10000000)) {
      val hist = spark.range(n.toLong)
        .select((hash(col("id")).cast("double") + col("id") / 1e9).as("value"),
          lit(1L).as("cnt"))
        .localCheckpoint(eager = true)
      val times = Seq("1000000000", "-1").map { t =>
        spark.conf.set("graft.prefixsum.threshold", t)
        // warm once, then min of 2 timed runs
        def run(): Unit = graft.operators.PrefixSum
          .exclusive(hist, "value", Seq("cnt"))
          .write.format("noop").mode("overwrite").save()
        run()
        math.min(time(run()), time(run()))
      }
      spark.conf.unset("graft.prefixsum.threshold")
      println(f"| $n%,d | ${times.head}%.2f | ${times(1)}%.2f |")
      hist.unpersist(blocking = true)
    }
    Session.stop(spark)
  }
}
