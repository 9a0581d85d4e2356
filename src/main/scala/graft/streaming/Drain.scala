package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Bounded drains for the `Trigger.AvailableNow` replay queries: one
  * child-session recipe every drain runs on ([[childSession]]), one
  * recipe that runs a stream to completion into a memory sink
  * ([[toMemory]]), and the guard that a drain exceeding its timeout must
  * FAIL, not silently hand back the partially-filled memory table — a
  * partial result is a wrong answer, where a thrown timeout is a visibly
  * slow run.
  */
object Drain {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The session a bounded drain runs on: a child of `s` (`newSession()`)
    * with the drain's width, state-store provider and no-data-batch
    * posture:
    *
    *  - Isolation: the drain's conf overrides never reach anything planned
    *    concurrently on the caller's session, and the temp-view catalog
    *    and session UDFs are the child's own. The child starts from the
    *    SparkContext's conf, not the caller's runtime settings. A caller
    *    frame that must cross over re-binds its analyzed plan on the
    *    child session.
    *  - Provider: the caller's state-store provider, so a runtime provider
    *    choice on `s` reaches the drain even though the child does not
    *    inherit runtime settings.
    *  - Width: `spark.sql.shuffle.partitions` = `width`. One state store
    *    spins up per shuffle partition per micro-batch, so a bounded
    *    drain's fixed floor scales with the width; callers derive it from
    *    the replay input with [[DrainWidth]].
    *  - `rocksDb`: pin the RocksDB state-store provider instead, which
    *    `transformWithState` requires, whatever provider the host
    *    session configures.
    *  - No trailing no-data batch: a bounded replay has no idle tail, so
    *    the engine's zero-input micro-batch after a watermark advance
    *    (state eviction, one more incremental plan and store spin-up per
    *    partition) is pure fixed cost. Drains that must flush state past
    *    the data stage sentinel rows inside the last FILE batch instead
    *    (see [[LandingZone]]); drains without a watermark never schedule
    *    one. A production continuous stream keeps Spark's default — no-data
    *    batches are how idle streams evict state on time.
    *  - No artifact isolation (`spark.sql.artifact.isolation.enabled=false`):
    *    Spark keys its generated-code cache on (session class loader, code),
    *    and an isolated session — and every per-query clone of it — brings
    *    its own class loader, so each drain recompiled the classes the same
    *    drain compiled an hour before. Without isolation the child, and the
    *    clone each of its streaming queries runs on, share the application
    *    class loader and reuse those classes. Isolation only scopes
    *    artifacts (jars, files) added to a session at runtime; the library
    *    adds none. Set before the child's first use, which is when Spark
    *    reads it.
    *
    * The memory-sink drains ([[toMemory]]), `q_state_inspect` and the
    * bounded (`availableNow`) [[Pipelines.start]] drains all run on it.
    */
  private[graft] def childSession(s: SparkSession, width: Int,
      rocksDb: Boolean = false): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.artifact.isolation.enabled", "false")
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    ss.conf.set(ProviderKey,
      if (rocksDb) RocksDbProvider else s.conf.get(ProviderKey))
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss
  }

  /** A unique query name for one drain of `what`: `what_<uuid>`. */
  private[graft] def runName(what: String): String =
    what + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Drain the stream `build` returns to completion (`AvailableNow`) into a
    * memory sink and return the drained rows. `build` runs on
    * [[childSession]]`(s, width, rocksDb)`.
    *
    * The sink is named [[runName]]`(what)`; its temp view is dropped once
    * the result is resolved (the analyzed plan keeps the sink relation
    * alive), so repeated drains pin no view or rows in the catalog.
    */
  def toMemory(s: SparkSession, what: String, width: Int, mode: String,
      rocksDb: Boolean = false)(build: SparkSession => DataFrame): DataFrame = {
    val ss = childSession(s, width, rocksDb)
    val name = runName(what)
    val q = build(ss).writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitOrFail(q, what)
    val result = ss.table(name)
    ss.catalog.dropTempView(name)
    result
  }

  /** Every query that reaches [[awaitOrFail]], weakly referenced — the
    * bounded drains run on child sessions whose StreamingQueryManager the
    * root session's `spark.streams.active` cannot see, so a teardown sweep
    * on the root session alone misses any drain query still running (r21
    * advice). Weak references: a terminated query's entry must not pin the
    * query (and its session) for the JVM lifetime; every completed drain
    * also drops the cleared and terminated entries, so the registry stays
    * as small as the set of drains still running. */
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[
      java.lang.ref.WeakReference[StreamingQuery]]()

  /** Stop every tracked query that is still active — the explicit-teardown
    * sweep [[graft.Session.stop]] runs before `spark.stop()` so
    * state-store/native teardown happens on a fully alive JVM. Also prunes
    * dead/terminated entries. */
  def stopLeftovers(onError: (StreamingQuery, Throwable) => Unit =
      (_, _) => ()): Unit = {
    val it = tracked.iterator()
    while (it.hasNext) {
      val ref = it.next()
      val q = ref.get()
      if (q != null && q.isActive) {
        try q.stop()
        catch { case scala.util.control.NonFatal(e) => onError(q, e) }
      }
      it.remove()
    }
  }

  private[graft] def trackedCount: Int = tracked.size()

  /** Register `q` with the teardown sweep ([[stopLeftovers]]): a query on
    * a child session is invisible to the root session's manager. */
  private[graft] def track(q: StreamingQuery): Unit =
    tracked.add(new java.lang.ref.WeakReference(q))

  /** Await `q` up to `timeoutMs`; on timeout stop the query and throw. */
  def awaitOrFail(q: StreamingQuery, what: String,
      timeoutMs: Long = 300000L): Unit = {
    // registered BEFORE the wait: a drain that times out (or whose stop()
    // fails) leaves its query findable by the teardown sweep even though
    // it lives on a child session invisible to the root session's manager
    track(q)
    if (!q.awaitTermination(timeoutMs)) {
      val timeout = new IllegalStateException(
        s"$what drain did not terminate within ${timeoutMs / 1000}s; " +
          "partial result discarded")
      // a failing stop() must not REPLACE the timeout diagnosis — the
      // 'did not terminate' message is the actionable signal
      try q.stop()
      catch { case e: Throwable => timeout.addSuppressed(e) }
      throw timeout
    }
    tracked.removeIf { ref =>
      val done = ref.get()
      done == null || !done.isActive
    }
  }
}
