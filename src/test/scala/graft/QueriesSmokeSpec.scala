package graft

/** Every declared query runs end-to-end at sf0.001 and (except genuinely
  * selective ones) returns rows; every query has a non-blank oracle.
  */
class QueriesSmokeSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  // Queries where an empty result at tiny SF is legitimate.
  private val mayBeEmpty = Set("q_anti_join")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val n = fn(spark, sfDir).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique") {
    // a repeated name would silently shadow a query in the derived maps
    val dups = SparkEntry.registry.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    assert(dups.isEmpty, s"names declared more than once: $dups")
  }

  test("every oracle is non-blank") {
    // Any new query must ship with its oracle — full coverage, no
    // rows-only set (SimHash and the VADER scorer are replayed in SQL).
    val blank = SparkEntry.registry
      .filter(q => q.oracle == null || q.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"queries with a blank oracle: $blank")
  }

  test("round-13 tripwire: documents text is ASCII — the byte-slicing " +
      "queries' oracles slice CHARACTERS and only agree on 1-byte chars") {
    // q_frame_sample / q_resize_plan: the engine slices payload BYTES
    // (octet_length, binary substr) while DuckDB can neither slice nor
    // md5 BLOBs, so their oracles slice text characters. One multi-byte
    // character in the fixture would surface as a confusing hash mismatch
    // far from the cause; fail HERE with the reason instead.
    val nonAscii = graft.sources.Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) !==
        org.apache.spark.sql.functions.octet_length(
          org.apache.spark.sql.functions.col("text")))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii non-ASCII documents: q_frame_sample/q_resize_plan " +
        "oracles are character-sliced and would hash-mismatch — move " +
        "those gates to rows-only or regenerate an ASCII fixture")
  }

  test("slow-oracle shapes stay fixed: chained valence CTEs + materialized helpers") {
    // DuckDB expands lateral column aliases and multiply-referenced CTEs by
    // textual substitution; these two shapes are what keeps the driver's
    // oracle pass at ~20 s instead of ~10 min (see LlmQueries.sentimentOracle
    // scaladoc). Trip if a rewrite reintroduces the exponential forms.
    //
    // The sentiment oracle's load-bearing shape is the FULL per-level CTE
    // ladder (st1..st13): each valence step must be its own chained CTE —
    // one lateral-alias chain inside a single SELECT re-inflates DuckDB's
    // binder exponentially. Assert every level, not one literal.
    for (lvl <- 1 to 13)
      assert(graft.queries.LlmQueries.sentimentOracle.contains(s"st$lvl AS ("),
        s"sentiment oracle lost chained CTE level st$lvl")
    // Per-oracle LOAD-BEARING CTE names (round-12 hardening): the helper
    // whose un-materialization re-runs the dominant subplan per reference
    // must itself be MATERIALIZED — a generic contains("AS MATERIALIZED")
    // passed as long as ANY helper kept the keyword, even if the
    // load-bearing one (pw: the 4-table lineitem join referenced twice by
    // e; e: referenced by 2-6 consumers; bars/seq: the recursive-seed scan)
    // lost it. Un-materialized these went >180 s at sf0.1 (0.1 s
    // materialized).
    for ((name, sql, ctes) <- Seq[(String, String, Seq[String])](
        ("q_macd", graft.queries.Ext19Queries.macdOracle,
          Seq("bars", "seq")),
        ("q_heikin_ashi", graft.queries.Ext19Queries.heikinAshiOracle,
          Seq("bars", "seq")),
        ("q_trix", graft.queries.Ext31Queries.trixOracle,
          Seq("bars", "seq")),
        ("q_keltner", graft.queries.Ext31Queries.keltnerOracle,
          Seq("bars", "seq")),
        ("q_kalman_1d", graft.queries.Ext21Queries.kalman1dOracle,
          Seq("bars", "seq")),
        ("q_two_core", graft.queries.Ext21Queries.twoCoreOracle,
          Seq("e", "core")),
        ("q_triangle_count", graft.queries.Ext12Queries.triangleCountOracle,
          Seq("pw", "e")),
        ("q_clustering_coeff", graft.queries.Ext32Queries.clusteringCoeffOracle,
          Seq("pw", "e", "sym")),
        ("q_graph_jaccard", graft.queries.Ext33Queries.graphJaccardOracle,
          Seq("pw", "e", "sym")),
        ("q_adamic_adar", graft.queries.Ext20Queries.adamicAdarOracle,
          Seq("pw", "e", "adj")),
        ("q_khop_reach", graft.queries.Ext20Queries.khopReachOracle,
          Seq("pw", "e", "adj")));
        cte <- ctes)
      assert(sql.contains(s"$cte AS MATERIALIZED ("),
        s"$name oracle: load-bearing CTE '$cte' is no longer MATERIALIZED")
  }

  test("golden pin: the e2e pipeline result is byte-stable across rounds") {
    // Fixture-driven, so this hash must never change unless semantics
    // intentionally change — catches silent drift in any pipeline stage.
    val rows = graft.queries.PipelineE2E.run(spark, sfDir)
      .collect().map(_.toString).sorted.mkString("\n")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.linesIterator.size == 622)
    assert(digest == "d83e9ab1b297f5484f2c20ea7c71c558",
      s"e2e golden drifted: $digest")
  }
}
