package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Bounded-drain guard for the `Trigger.AvailableNow` replay queries: a
  * drain that exceeds its timeout must FAIL, not silently hand back the
  * partially-filled memory table — a partial result is a wrong answer,
  * where a thrown timeout is a visibly slow run.
  */
object Drain {

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
    * sweep Verify runs before `spark.stop()` so state-store/native teardown
    * happens on a fully alive JVM. Also prunes dead/terminated entries. */
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

  /** Await `q` up to `timeoutMs`; on timeout stop the query and throw. */
  def awaitOrFail(q: StreamingQuery, what: String,
      timeoutMs: Long = 300000L): Unit = {
    // registered BEFORE the wait: a drain that times out (or whose stop()
    // fails) leaves its query findable by the teardown sweep even though
    // it lives on a child session invisible to the root session's manager
    tracked.add(new java.lang.ref.WeakReference(q))
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
