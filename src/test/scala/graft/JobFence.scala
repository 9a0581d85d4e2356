package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, on the listener bus. */
object JobFence {

  /** Jobs `body` starts. The bus delivers asynchronously and in order, so
    * `body` is fenced by two marker jobs: once the closing marker is seen,
    * every job `body` started was too, and anything queued before the
    * opening marker is left out. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val bus = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val open = s"job-fence-open-${java.util.UUID.randomUUID}"
    val close = s"job-fence-close-${java.util.UUID.randomUUID}"
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(bus)
    try {
      marker(open)
      body
      marker(close)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(close) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(close), "closing marker job never delivered")
      seen.asScala.toSeq.dropWhile(_ != open).drop(1).takeWhile(_ != close).size
    } finally sc.removeSparkListener(bus)
  }
}
