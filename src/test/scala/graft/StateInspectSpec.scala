package graft

import org.apache.spark.sql.functions._

/** Batch/state parity, determinism, and plan shape for the
  * statestore-reader query: the operator state a drained tumbling-count
  * aggregation leaves in its checkpoint must be exactly the batch
  * group-by over the same events, read back through the statestore DSv2
  * source (not a recompute of the input). The plan pin lives here rather
  * than PlanSpec because the reader only exists over a MATERIALIZED
  * checkpoint — asserting it reuses the drain this suite already runs,
  * keeping PlanSpec lazy-plan-only.
  */
class StateInspectSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("q_state_inspect state equals the batch tumbling counts, read " +
      "through the statestore DSv2 source") {
    val df = graft.queries.StreamQueries.stateInspect(spark, dir)

    // plan pin: exactly one DSv2 relation and it is the state table —
    // the query reads OPERATOR STATE, it does not recompute the input
    val rels = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r
    }
    assert(rels.size == 1, "expected exactly one DSv2 relation (state scan)")
    val tbl = rels.head.table.getClass.getName
    assert(tbl.contains(".state."),
      s"relation is not the statestore table: $tbl")
    assert(df.columns.toSeq == Seq("win_start_us", "event_type", "n"))

    val got = df
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    // expected side via Tables.events: the SAME exact integer ns->us
    // conversion (`ts div 1000`) the streaming source uses — a float
    // division here could bucket hour-boundary events differently
    val want = graft.sources.Tables.events(spark, dir)
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got.nonEmpty, "state read must not be empty")
    assert(got == want,
      s"state/batch divergence: only-state=${(got -- want).take(3)} " +
        s"only-batch=${(want -- got).take(3)}")
  }

  test("repeat run is deterministic (fresh checkpoints, same state)") {
    def ckptDirs(): Set[String] = {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp"))
      Option(tmp.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("graft-state-inspect")).toSet
    }
    // each call is one plain drain to its OWN checkpoint: two independent
    // drains must each leave a new checkpoint dir and agree on the state
    val before = ckptDirs()
    val a = graft.queries.StreamQueries.stateInspect(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val afterA = ckptDirs()
    val b = graft.queries.StreamQueries.stateInspect(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val afterB = ckptDirs()
    assert((afterA -- before).size == 1, "first call must drain to a new checkpoint")
    assert((afterB -- afterA).size == 1, "second call must drain to a new checkpoint")
    assert(a.nonEmpty)
    assert(a == b)
  }
}
