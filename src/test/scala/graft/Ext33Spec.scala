package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.queries.{Ext32Queries, Ext33Queries, LlmQueries}
import graft.sources.Tables

/** Semantic invariants for batch 3 (KN bigram LM, graph Jaccard, the
  * curation funnel); value parity is the DuckDB oracle's job, except the
  * funnel's, which is also recomputed here from the standalone operators.
  */
class Ext33Spec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("kn bigram: every doc's mean log-prob is negative (P < 1) and the " +
    "bigram instance counts reconcile with token counts") {
    val rows = Ext33Queries.knBigram(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lp = r.getAs[Double]("avg_logp")
      assert(lp < 0, s"avg_logp=$lp")
    }
    val totalBigrams = rows.map(_.getAs[Long]("n_bigrams")).sum
    val expected = Tables.documents(spark, sf)
      .select((size(split(col("text"), " ")) - 1).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(totalBigrams == expected,
      s"bigram instances $totalBigrams != token-derived $expected")
  }

  test("graph jaccard: scores in (0, 1], pairs canonical (u < v) and " +
    "never existing edges") {
    val rows = Ext33Queries.graphJaccard(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0 && j <= 1.0 + 1e-9, s"jaccard=$j")
      assert(r.getAs[Int]("u") < r.getAs[Int]("v"))
    }
  }

  test("curation funnel: kept + unioned drops account for every doc; " +
    "union bounded by the sum of the three rungs") {
    val r = Ext33Queries.curationFunnel(spark, sf).head()
    val n = r.getAs[Long]("n_docs")
    val kept = r.getAs[Long]("n_kept")
    val e = r.getAs[Long]("exact_drop")
    val nd = r.getAs[Long]("neardup_drop")
    val b = r.getAs[Long]("boilerplate_drop")
    assert(n > 0 && kept > 0 && kept < n, s"degenerate funnel: $n -> $kept")
    // union of drops = n - kept; it can't exceed the rung sum (overlap
    // only shrinks it) and each rung is bounded by it... no: a rung is
    // bounded by the union, the union by the sum.
    val union = n - kept
    assert(union <= e + nd + b, s"union $union > sum ${e + nd + b}")
    assert(Seq(e, nd, b).forall(_ <= union),
      s"a rung exceeds the union: $e/$nd/$b vs $union")
    // sf0.001's 50 docs don't plant every dup mode; at least one rung must
    // fire and none may go negative (sf0.01's oracle gate covers values)
    assert(Seq(e, nd, b).forall(_ >= 0) && union > 0,
      s"funnel dropped nothing: $e/$nd/$b")
  }

  test("curation funnel: every column equals its recomputation from the " +
    "standalone exact, cluster-canonical and boilerplate operators") {
    val r = Ext33Queries.curationFunnel(spark, sf).head()
    val docs = Tables.documents(spark, sf)
    val chars = docs.select("doc_id", "n_chars").collect()
      .map(d => d.getLong(0) -> d.getLong(1)).toMap
    val exact = Dedup.exact(docs, "doc_id", "text").collect()
    val canonical = Ext32Queries.clusterCanonical(spark, sf).collect()
    val members = LlmQueries.dedupClusters(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val boiler = Ext32Queries.boilerplate(spark, sf)
    val boilerIds = boiler.select("doc_id").collect().map(_.getLong(0)).toSet
    Dedup.unpersistIntermediates(blocking = true)
    // each exact group keeps its minimum doc_id, each cluster its canonical
    val exactIds = chars.keySet -- exact.map(_.getAs[Long]("keeper_doc_id"))
    val nearIds = members -- canonical.map(_.getAs[Long]("canonical_id"))
    val kept = chars -- (exactIds ++ nearIds ++ boilerIds)
    assert(r.getAs[Long]("n_docs") == chars.size)
    assert(r.getAs[Long]("exact_drop") ==
      exact.map(_.getAs[Long]("n_copies") - 1).sum)
    assert(r.getAs[Long]("neardup_drop") ==
      canonical.map(_.getAs[Long]("n_members") - 1).sum)
    assert(r.getAs[Long]("boilerplate_drop") == boiler.count())
    assert(r.getAs[Long]("n_kept") == kept.size)
    assert(r.getAs[Long]("kept_chars") == kept.values.sum)
    // the rungs this corpus plants, so no equality above holds vacuously
    assert(exactIds.nonEmpty || nearIds.nonEmpty || boilerIds.nonEmpty)
  }
}
