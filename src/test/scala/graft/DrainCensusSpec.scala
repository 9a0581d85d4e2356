package graft

import org.scalatest.BeforeAndAfterAll

/** Micro-batch census of the bounded `AvailableNow` drains at sf0.001:
  * each of the nine memory-sink drains, run through the query registry,
  * must execute exactly the pinned number of micro-batches and return the
  * pinned number of rows; q_state_inspect's noop-sink drain must execute
  * its pinned micro-batches over the pinned number of input rows. A
  * batch-count change is a change to the drain's fixed cost (one more
  * incremental plan plus state-store spin-up per partition); a row-count
  * change is a wrong answer.
  *
  * The census counts each drain's progress events on the shared Spark
  * listener bus ([[DrainBus]]), matching query runs by their name prefix.
  */
class DrainCensusSpec extends SparkTestBase with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  // (query, memory-sink name prefix, micro-batches, rows)
  private val census = Seq(
    ("q_tws_totals", "tws_totals_", 1, 15L),
    ("q_tws_sessions", "tws_sessions_", 2, 946L),
    ("q_stream_tumbling", "stream_tumbling_", 1, 868L),
    ("q_stream_dedup", "stream_dedup_", 1, 75L),
    ("q_stream_join", "stream_join_", 1, 5L),
    ("q_stream_session", "stream_session_", 1, 926L),
    ("q_stream_static", "stream_static_", 1, 20L),
    ("q_doc_pipeline", "doc_pipeline_", 1, 417L),
    ("q_stream_outer_join", "stream_outer_", 2, 210L))

  private val Bus = new DrainBus

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(Bus)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(Bus)

  census.foreach { case (query, prefix, wantBatches, wantRows) =>
    test(s"$query drains in its pinned micro-batch and row counts") {
      Bus.clear()
      val rows = SparkEntry.queries(query)(spark, sfDir).count()
      val batches = Bus.runsOf(prefix).map(_.size).sum
      println(s"[census] $query batches=$batches rows=$rows")
      assert((batches, rows) == ((wantBatches, wantRows)))
    }
  }

  test("q_state_inspect drains in its pinned micro-batch and input-row " +
      "counts") {
    Bus.clear()
    SparkEntry.queries("q_state_inspect")(spark, sfDir).count()
    val runs = Bus.runsOf("state_inspect_")
    val batches = runs.map(_.size).sum
    val inputRows = runs.flatten.map(_.numInputRows).sum
    println(s"[census] q_state_inspect batches=$batches inputRows=$inputRows")
    assert((runs.size, batches, inputRows) == ((1, 1, 1000L)))
  }
}
