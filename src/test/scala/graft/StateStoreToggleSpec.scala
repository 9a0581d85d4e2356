package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll

/** Round-13 state-store interchangeability (VERDICT r12 #6): the 100-TB
  * lever for stateful streaming is the state-store provider — HDFS-backed
  * (small hot state held on-heap, zero native deps) vs RocksDB (state
  * larger than executor heap, incremental checkpointing). These tests
  * prove that flipping `spark.sql.streaming.stateStore.providerClass` is
  * a pure PERFORMANCE decision, never a correctness risk: the same drains
  * produce identical state/output rows under both providers. The
  * transformWithState family is the documented exception — Spark only
  * supports it on RocksDB, which is why SessionTimers/RunningTotals have
  * `Drain.toMemory` pin the provider on the drain's child session, so a
  * host session configured for HDFS state still runs them correctly.
  *
  * The drains run on child sessions, so each drain arm also asserts
  * which provider it really ran on: the state operators of a
  * RocksDB-backed run report `rocksdb*` custom metrics in their progress,
  * those of an HDFS-backed run do not.
  */
class StateStoreToggleSpec extends SparkTestBase with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val Bus = new DrainBus
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(Bus)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(Bus)

  private def withProvider(p: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass", p)
    s2
  }

  /** Rows of the drain `run` starts on a host session configured for
    * provider `host`, plus whether its state operators ran on RocksDB. */
  private def drain(host: String, prefix: String)(
      run: SparkSession => DataFrame): (Seq[String], Boolean) = {
    Bus.clear()
    val rows = run(withProvider(host)).collect().map(_.toString).sorted.toSeq
    val ops = Bus.runsOf(prefix).flatten.flatMap(_.stateOperators)
    assert(ops.nonEmpty, s"drain $prefix* reported no state operator")
    (rows, ops.exists(_.customMetrics.keySet.asScala.exists(
      _.startsWith("rocksdb"))))
  }

  test("windowed-agg operator state is provider-interchangeable: HDFS " +
      "and RocksDB drains leave identical state rows") {
    val inspect = graft.queries.StreamQueries.stateInspect(_, dir)
    val (h, hRocks) = drain(Hdfs, "state_inspect_")(inspect)
    val (r, rRocks) = drain(Rocks, "state_inspect_")(inspect)
    assert(!hRocks, "the HDFS arm must run on the HDFS-backed provider")
    assert(rRocks, "the RocksDB arm must run on the RocksDB provider")
    assert(h.nonEmpty, "drain must leave state rows")
    assert(h == r,
      s"provider divergence: only-hdfs=${(h.toSet -- r.toSet).take(3)} " +
        s"only-rocksdb=${(r.toSet -- h.toSet).take(3)}")
  }

  test("stream-stream left-outer drain (watermark eviction + null " +
      "padding) emits identical rows under both providers") {
    val outerJoin = graft.queries.Ext37Queries.streamOuterJoin(_, dir)
    val (h, hRocks) = drain(Hdfs, "stream_outer_")(outerJoin)
    val (r, rRocks) = drain(Rocks, "stream_outer_")(outerJoin)
    assert(!hRocks, "the HDFS arm must run on the HDFS-backed provider")
    assert(rRocks, "the RocksDB arm must run on the RocksDB provider")
    assert(h.nonEmpty, "drain must emit rows")
    assert(h == r)
  }

  test("transformWithState sessions pin RocksDB internally: a host " +
      "session configured for HDFS state still drains correctly and " +
      "matches the RocksDB-configured run") {
    val sessions = graft.queries.Ext37Queries.twsSessions(_, dir)
    val (h, hRocks) = drain(Hdfs, "tws_sessions_")(sessions)
    val (r, rRocks) = drain(Rocks, "tws_sessions_")(sessions)
    assert(hRocks && rRocks, "transformWithState must run on RocksDB " +
      "whatever provider the host session configures")
    assert(h.nonEmpty, "drain must emit sessions")
    assert(h == r)
  }
}
