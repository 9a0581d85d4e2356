package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.BeforeAndAfterAll

/** Micro-batch census of the nine bounded `AvailableNow` memory-sink
  * drains at sf0.001: each query, run through the query registry, must
  * execute exactly the pinned number of micro-batches and return the
  * pinned number of rows. A batch-count change is a change to the drain's
  * fixed cost (one more incremental plan plus state-store spin-up per
  * partition); a row-count change is a wrong answer.
  *
  * The drains run on isolated child sessions, whose progress a
  * `StreamingQueryListener` on the root session never sees; every
  * session's streaming events do reach the shared Spark listener bus, so
  * the census listens there and keys each query run by its name prefix.
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

  /** Streaming events of every session, keyed by run id: the query name
    * each run started under, its progress count, and whether it ended. */
  private object Bus extends SparkListener {
    val names = new ConcurrentHashMap[UUID, String]()
    val batches = new ConcurrentHashMap[UUID, Integer]()
    val ended = ConcurrentHashMap.newKeySet[UUID]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: QueryStartedEvent if s.name != null => names.put(s.runId, s.name)
      case p: QueryProgressEvent => batches.merge(p.progress.runId, 1, _ + _)
      case t: QueryTerminatedEvent => ended.add(t.runId)
      case _ =>
    }
    def clear(): Unit = { names.clear(); batches.clear(); ended.clear() }
  }

  /** Micro-batches run by the drains named `prefix*` since the last
    * clear. The bus delivers one run's events in order, so once its
    * terminated event is seen every progress event before it was too. */
  private def batchesOf(prefix: String): Int = {
    import scala.jdk.CollectionConverters._
    def runs = Bus.names.asScala.collect {
      case (id, n) if n.startsWith(prefix) => id }.toSeq
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((runs.isEmpty || !runs.forall(Bus.ended.contains)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(runs.nonEmpty, s"no drain named $prefix* started")
    assert(runs.forall(Bus.ended.contains),
      s"drain $prefix* never reported termination")
    runs.map(id => Option(Bus.batches.get(id)).fold(0)(_.intValue)).sum
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(Bus)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(Bus)

  census.foreach { case (query, prefix, wantBatches, wantRows) =>
    test(s"$query drains in its pinned micro-batch and row counts") {
      Bus.clear()
      val rows = SparkEntry.queries(query)(spark, sfDir).count()
      val batches = batchesOf(prefix)
      println(s"[census] $query batches=$batches rows=$rows")
      assert((batches, rows) == ((wantBatches, wantRows)))
    }
  }
}
