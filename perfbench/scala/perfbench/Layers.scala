package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Counts and times are per traced
  * operation of the steady loop (cycle or pass) unless the name says
  * `cold` (the first operation) or the metric is a gauge or a ratio. Each
  * workload sets every metric of the layers it exercises; `run.py` refuses
  * a run that misses one.
  */
object Layers {
  val SelfLayers = Seq("workload", "streaming", "pipeline", "queries", "operators", "spark")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def spansUnder(t: Tracer, ops: Seq[Span], p: Span => Boolean): Seq[Span] = {
    val ids = ops.flatMap(t.under).toSet
    t.spans.toSeq.filter(s => ids(s.id) && p(s))
  }

  def common(ctx: Ctx, t: Tracer): Unit = {
    val l = ctx.res.layers
    val ops = ctx.tracedOps.toSeq
    val n = math.max(1, ops.length).toDouble
    val js = ops.map(o => t.jobStats(t.under(o))).foldLeft(JobStats())(_ + _)
    l("spark.jobs") = js.jobs / n
    l("spark.stages") = js.stages / n
    l("spark.tasks") = js.tasks / n
    l("spark.failed_tasks") = js.failedTasks / n
    l("spark.task_ms") = js.taskMs / n
    l("spark.task_cpu_ms") = js.cpuMs / n
    l("spark.gc_ms") = js.gcMs / n
    l("spark.shuffle_write_bytes") = js.shuffleWrite / n
    l("spark.shuffle_read_bytes") = js.shuffleRead / n
    l("spark.spill_bytes") = js.spill / n
    l("spark.input_bytes") = js.input / n
    l("spark.output_bytes") = js.output / n
    l("spark.planning_ms") = ops.map(t.planningMs).sum / n
    val cg = ops.flatMap(o => ctx.codegen.get(o.id))
    l("spark.codegen_compiles") = cg.map(_._1).sum / n
    l("spark.codegen_compile_ms") = cg.map(_._2).sum / n
    ctx.coldOp.foreach { c =>
      l("spark.cold_jobs") = t.jobStats(t.under(c)).jobs
      l("spark.cold_planning_ms") = t.planningMs(c)
      l("spark.cold_codegen_compiles") = ctx.codegen(c.id)._1
      l("spark.cold_codegen_compile_ms") = ctx.codegen(c.id)._2
    }
    l("jvm.heap_after_gc_peak_mb") = t.heapAfterGcPeakMb
    val self = t.selfTimes(ops)
    SelfLayers.foreach(layer => l(s"self.${layer}_ms") = self.getOrElse(layer, 0.0) / n)
    val (on, off) = ctx.res.ops.partition(_._2)
    val (mOn, mOff) = (median(on.map(_._1).toSeq), median(off.map(_._1).toSeq))
    l("trace.overhead_pct") = if (mOff > 0) (mOn - mOff) / mOff * 100 else Double.NaN
    l("trace.traced_ops") = ops.length
    ctx.res.info("trace_run_id") = t.runId
  }

  private def dur(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  /** @param landed per traced cycle: (bytes of the files landed, rows appended to the sinks)
    * @param indicatorRows rows the indicator job appended in the traced cycles */
  def ingest(ctx: Ctx, t: Tracer, landed: Map[Long, (Long, Long)], indicatorRows: Long): Unit = {
    val l = ctx.res.layers
    val ops = ctx.tracedOps.toSeq
    val n = math.max(1, ops.length).toDouble
    val drains = spansUnder(t, ops, s => s.name.startsWith("drain "))
    val drainIds = drains.map(_.id).toSet
    val progs = t.progress.toSeq.filter(p => drainIds(p._1)).map(_._2)
    val states = progs.flatMap(_.stateOperators.toSeq)
    l("streaming.drain_ms") = drains.map(d => d.end - d.start).sum / n
    l("streaming.batches") = progs.length / n
    l("streaming.planning_ms") = progs.map(dur(_, "queryPlanning")).sum / n
    l("streaming.offset_ms") = progs.map(dur(_, "latestOffset", "getBatch")).sum / n
    l("streaming.add_batch_ms") = progs.map(dur(_, "addBatch")).sum / n
    l("streaming.commit_ms") = progs.map(dur(_, "walCommit", "commitOffsets")).sum / n
    l("streaming.input_rows") = progs.map(_.numInputRows.toDouble).sum / n
    l("streaming.state_commit_ms") = states.map(_.commitTimeMs.toDouble).sum / n
    l("streaming.dup_dropped_rows") = states.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
      .map(_.doubleValue).getOrElse(0.0)).sum / n
    // gauges: the state after the last traced cycle, both topics
    val last = drains.groupBy(_.name).values.map(_.maxBy(_.start).id).toSet
    val lastStates = t.progress.toSeq.filter(p => last(p._1)).map(_._2)
      .filter(_.stateOperators.nonEmpty).groupBy(_.id).values.map(_.maxBy(_.batchId))
      .flatMap(_.stateOperators)
    l("streaming.state_rows") = lastStates.map(_.numRowsTotal.toDouble).sum
    l("streaming.state_bytes") = lastStates.map(_.memoryUsedBytes.toDouble).sum
    val drainInput = drains.map(d => t.jobStats(t.under(d)).input).sum
    l("streaming.sink_read_bytes") = (drainInput - landed.values.map(_._1).sum) / n
    val reaching = states.map(_.numRowsUpdated.toDouble).sum
    l("streaming.sink_useful_ratio") =
      if (reaching > 0) landed.values.map(_._2).sum / reaching else Double.NaN
    ctx.coldOp.foreach { c =>
      l("streaming.backfill_drain_ms") =
        spansUnder(t, Seq(c), _.name.startsWith("drain ")).map(d => d.end - d.start).sum
    }
    val ind = spansUnder(t, ops, _.layer == "pipeline")
    val is = t.jobStats(ind.flatMap(t.under).toSet)
    l("pipeline.indicator_ms") = ind.map(s => s.end - s.start).sum / n
    l("pipeline.indicator_jobs") = is.jobs / n
    l("pipeline.indicator_input_bytes") = is.input / n
    l("pipeline.indicator_shuffle_bytes") = is.shuffleWrite / n
    l("pipeline.indicator_rows_appended") = indicatorRows / n
  }

  def curation(ctx: Ctx, t: Tracer, names: Seq[String]): Unit = {
    val l = ctx.res.layers
    val ops = ctx.tracedOps.toSeq
    val n = math.max(1, ops.length).toDouble
    val cons = spansUnder(t, ops, _.name == "construct")
    val acts = spansUnder(t, ops, _.name == "action")
    val q = math.max(1, cons.length).toDouble
    l("queries.construction_ms") = cons.map(s => s.end - s.start).sum / q
    l("queries.construction_jobs") = t.jobStats(cons.flatMap(t.under).toSet).jobs / q
    l("queries.action_ms") = acts.map(s => s.end - s.start).sum / q
    names.foreach { name =>
      val ss = spansUnder(t, ops, s => s.layer == "operators" && s.name == name)
      l(s"operators.${name}_ms") = ss.map(s => s.end - s.start).sum / n
      l(s"operators.${name}_jobs") = t.jobStats(ss.flatMap(t.under).toSet).jobs / n
    }
    // candidate pairs as the operators built them in the traced passes:
    // rows out of the largest join of the query's action (the LSH band
    // self-join; the query-by-corpus scoring join)
    def joinRows(name: String): Double = {
      val acts = spansUnder(t, ops, s => s.layer == "operators" && s.name == name)
        .flatMap(q => spansUnder(t, Seq(q), _.name == "action"))
      acts.map(a => t.maxJoinRows(a).toDouble).sum / math.max(1, acts.length)
    }
    val candidates = joinRows("q_minhash_neardup")
    val verified = ctx.spark.read.parquet(s"${ctx.res.info("check_dir")}/q_minhash_neardup")
      .count().toDouble
    l("operators.dedup_candidates") = candidates
    l("operators.dedup_verified") = verified
    l("operators.dedup_verify_yield") = if (candidates > 0) verified / candidates else Double.NaN
    l("operators.knn_candidates_per_query") = joinRows("q_cosine_topk") / Curation.KnnQueries
  }
}
