package graft

import graft.operators.Dedup

/** Spark jobs started by constructing and running (noop write) each
  * dedup-family query from a cold cache. Each job is fixed cost paid per
  * query — eager checkpoints, count probes, AQE stages — so a count that
  * grows is a regression even when the plan shape does not change. The
  * pins are the exact counts of the committed code; they repeat exactly
  * run to run at sf0.001.
  */
class QueryJobBudgetSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private val budgets = Seq(
    "q_curation_funnel" -> 29,
    "q_cluster_canonical" -> 21,
    "q_dedup_clusters" -> 19)

  budgets.foreach { case (name, pinned) =>
    test(s"$name starts exactly $pinned Spark jobs from a cold cache") {
      Dedup.unpersistIntermediates(blocking = true)
      spark.catalog.clearCache()
      val jobs = JobFence.jobsDuring(spark) {
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      Dedup.unpersistIntermediates(blocking = true)
      assert(jobs == pinned, s"$name started $jobs jobs, pinned $pinned")
    }
  }
}
