package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Spark 4 `transformWithState` tier: the arbitrary-state API that supersedes
  * flatMapGroupsWithState (typed per-key state handles, TTL, timers, RocksDB
  * state store). [[StatefulIndicators]] keeps the flatMapGroupsWithState
  * formulation; this is the same engine capability on the new API —
  * per-key running totals maintained in a ValueState, the incremental form
  * of a groupBy aggregate.
  *
  * Scale posture: state is one (count, sum) pair per key in RocksDB — bounded
  * by key cardinality, not stream length; the TTL hook (TTLConfig.NONE here)
  * is how an unbounded key space would be aged out at 100 TB.
  */
object RunningTotals {

  case class TotalsRow(user_id: Long, n_events: Long, sum_floor: Long)

  /** Per-key running (count, sum of floor(value))). Emits the key's totals
    * once per micro-batch after folding the batch's rows into state — the
    * drain of a single-batch landing zone therefore equals the batch
    * groupBy aggregate.
    */
  class TotalsProcessor extends StatefulProcessor[Long, (Long, Double), TotalsRow] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[TotalsRow] = {
      var (n, sf) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { case (_, v) =>
        n += 1
        sf += math.floor(v).toLong
      }
      state.update((n, sf))
      Iterator.single(TotalsRow(key, n, sf))
    }
  }

  /** Drain `eventsStream`-shaped input (user_id, value) through the
    * processor with RocksDB state (transformWithState requires it) —
    * a [[Drain.toMemory]] bounded drain.
    */
  def drain(s: SparkSession, events: DataFrame): DataFrame =
    Drain.toMemory(s, "tws_totals", DrainWidth.forFrame(events), "append",
        rocksDb = true) { ss =>
      import ss.implicits._
      // Re-bind the ALREADY-RESOLVED plan: the child session isolates the
      // temp-view catalog and session UDFs, so re-analyzing the raw logical
      // plan there would fail for a caller DataFrame that references either.
      // The analyzed plan carries its resolved relations with it.
      org.apache.spark.sql.GraftColumnBridge
        .ofRows(ss, events.queryExecution.analyzed)
        .selectExpr("user_id", "value").as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(new TotalsProcessor, TimeMode.None(), OutputMode.Append())
        .toDF()
    }
}
