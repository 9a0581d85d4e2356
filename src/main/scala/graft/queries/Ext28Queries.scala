package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Round-6 extension batch 9: label-quality and density operators —
  * leave-one-out k-NN classification (the standard label-noise /
  * embedding-quality audit for a training corpus), DAU/MAU stickiness
  * (rolling engagement with the explode-to-bucket rewrite of the range
  * join), and the DBSCAN core-point step (grid-bucketed ε-neighborhood
  * counting, no all-pairs).
  */
object Ext28Queries {

  /** Leave-one-out 5-NN classification accuracy per label over the
    * embedding corpus, neighbors from the same IVF index as `q_ann_ivf`
    * (broadcast centroids, nprobe=2 — candidate generation never goes
    * all-pairs). Majority vote with (count desc, label asc) tiebreak;
    * the audit output is per-true-label support and accuracy — the
    * mislabeled-cluster detector for embedding pipelines. (On the
    * synthetic corpus the labels are spatially random, so the audit's
    * correct verdict is ~the 10-class floor — which is the point: it
    * measures label-embedding consistency, whatever that truth is.)
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // 10 centroids is the oracle-replayed gate shape, pinned via conf by
    // graft.Session.gatePins; candidate volume is nprobe*N^2/centroids,
    // so with NO conf anywhere the count derives as ceil(sqrt(N)) clamped
    // (Scale.deriveCentroids, memoized corpus count) — the sqrt-N operating
    // point an unconfigured production call should get
    val c = graft.operators.Scale.derivedIntKnob(
      s, "graft.ivf.centroids", emb, graft.operators.Scale.deriveCentroids)
    val neigh = Similarity.ivfTopK(
      queries = emb,
      corpus = emb,
      centroids = emb.filter(col("vec_id") < c),
      "vec_id", "embedding", k = 5, nprobe = 2)
    val labels = emb.select(col("vec_id"), col("label"))
    val votes = neigh
      .join(broadcast(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "plabel")), Seq("neighbor_id"))
      .groupBy("query_id", "plabel").agg(count(lit(1)).as("c"))
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("c").desc, col("plabel"))
    val pred = votes.withColumn("rk", row_number().over(wVote))
      .filter(col("rk") === 1).select("query_id", "plabel")
    pred
      .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")),
        Seq("query_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("plabel") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n"), 6))
  }

  import OracleSql.dotCosSql

  val knnClassifyOracle: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS centroid_id, embedding AS centv FROM embeddings
       |  WHERE vec_id < 10
       |), assign AS (
       |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, e.label AS plabel,
       |    c.centroid_id, ${dotCosSql("e.embedding", "c.centv")} AS aff
       |  FROM embeddings e, cent c
       |  QUALIFY row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY aff DESC, c.centroid_id) = 1
       |), probes AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS qv, q.label,
       |    c.centroid_id, ${dotCosSql("q.embedding", "c.centv")} AS caff
       |  FROM embeddings q, cent c
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q.vec_id ORDER BY caff DESC, c.centroid_id) <= 2
       |), neigh AS (
       |  SELECT p.query_id, p.label, a.neighbor_id, a.plabel,
       |    ${dotCosSql("p.qv", "a.cv")} AS cos
       |  FROM probes p JOIN assign a USING (centroid_id)
       |  WHERE a.neighbor_id <> p.query_id
       |  QUALIFY row_number() OVER (
       |    PARTITION BY p.query_id ORDER BY cos DESC, neighbor_id) <= 5
       |), votes AS (
       |  SELECT query_id, label, plabel, COUNT(*) AS c
       |  FROM neigh GROUP BY 1, 2, 3
       |), pred AS (
       |  SELECT query_id, label, plabel FROM votes
       |  QUALIFY row_number() OVER (
       |    PARTITION BY query_id ORDER BY c DESC, plabel) = 1
       |)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN plabel = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  ROUND(CAST(SUM(CASE WHEN plabel = label THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS accuracy
       |FROM pred GROUP BY label""".stripMargin

  /** DAU / MAU(28d) stickiness per day: the trailing-window distinct-user
    * count is an explode-to-bucket rewrite — each (user, active-day) pair
    * posts itself into the 28 window anchors it can serve, turning the
    * range join into an equi-join on the anchor day with an exact
    * distinct count. Work is |user-days| × 28 — linear, shuffle on the
    * (anchor, user) key, no per-day rescans. Only anchors with a full
    * 28-day lookback inside the corpus span are emitted (no partial
    * windows at the edge).
    */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"),
        expr("ts_us div 86400000000").as("day_no"))
      .distinct()
    val span = ud.agg(min("day_no").as("d0"), max("day_no").as("d1"))
    val dau = ud.groupBy(col("day_no").as("anchor"))
      .agg(countDistinct("user_id").as("dau"))
    val mau = ud
      .select(col("user_id"),
        explode(sequence(col("day_no"), col("day_no") + 27)).as("anchor"))
      .groupBy("anchor")
      .agg(countDistinct("user_id").as("mau"))
    dau.join(mau, Seq("anchor"))
      .crossJoin(broadcast(span))
      .filter(col("anchor") - 27 >= col("d0") && col("anchor") <= col("d1"))
      .select(col("anchor").as("day_no"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
  }

  val stickinessOracle: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_no
      |  FROM events
      |), span AS (
      |  SELECT MIN(day_no) AS d0, MAX(day_no) AS d1 FROM ud
      |), dau AS (
      |  SELECT day_no AS anchor, COUNT(DISTINCT user_id) AS dau
      |  FROM ud GROUP BY 1
      |), mau AS (
      |  SELECT anchor, COUNT(DISTINCT user_id) AS mau FROM (
      |    SELECT user_id, day_no + ofs AS anchor
      |    FROM ud, unnest(generate_series(0, 27)) AS t(ofs)
      |  ) GROUP BY 1
      |)
      |SELECT anchor AS day_no, CAST(dau AS BIGINT) AS dau,
      |  CAST(mau AS BIGINT) AS mau,
      |  ROUND(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
      |FROM dau JOIN mau USING (anchor) CROSS JOIN span
      |WHERE anchor - 27 >= d0 AND anchor <= d1""".stripMargin

  /** DBSCAN core-point step (ε = 0.05, minPts = 4) on the first two
    * embedding dimensions: points bucket into an ε-sized grid, each point
    * posts into its 3×3 cell neighborhood (explode of 9 offsets — the
    * bounded substitute for an all-pairs distance join), neighbors verify
    * with the exact squared distance, and a point is core when ≥ minPts
    * others fall inside ε. Output: per-label core/total counts — the
    * density profile of the embedding space. Work is Σ|cell|·|3×3
    * neighborhood|, never |corpus|².
    */
  def dbscanCore(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.05
    val pts = Tables.embeddings(s, dir).select(
      col("vec_id"), col("label"),
      col("embedding").getItem(0).cast("double").as("x"),
      col("embedding").getItem(1).cast("double").as("y"))
    val cells = pts
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))
    val posted = cells.select(col("vec_id").as("nb_id"),
        col("x").as("nx"), col("y").as("ny"),
        explode(expr("flatten(transform(sequence(-1, 1), " +
          "dx -> transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
          .as("c"))
      .select(col("nb_id"), col("nx"), col("ny"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val core = cells.join(posted, Seq("cx", "cy"))
      .filter(col("vec_id") =!= col("nb_id"))
      .filter((col("x") - col("nx")) * (col("x") - col("nx"))
        + (col("y") - col("ny")) * (col("y") - col("ny")) <= eps * eps)
      .groupBy("vec_id").agg(count(lit(1)).as("n_neigh"))
      .filter(col("n_neigh") >= 4)
    pts.join(core, Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("n_neigh").isNotNull, 1L).otherwise(0L)).as("n_core"))
      .withColumn("core_share",
        round(col("n_core").cast("double") / col("n_points"), 6))
  }

  val dbscanCoreOracle: String =
    """WITH pts AS (
      |  SELECT vec_id, label,
      |    CAST(embedding[1] AS DOUBLE) AS x,
      |    CAST(embedding[2] AS DOUBLE) AS y,
      |    CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT) AS cx,
      |    CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.05) AS BIGINT) AS cy
      |  FROM embeddings
      |), posted AS (
      |  SELECT vec_id AS nb_id, x AS nx, y AS ny,
      |    cx + dx AS cx, cy + dy AS cy
      |  FROM pts,
      |    unnest(generate_series(-1, 1)) AS tx(dx),
      |    unnest(generate_series(-1, 1)) AS ty(dy)
      |), core AS (
      |  SELECT p.vec_id, COUNT(*) AS n_neigh
      |  FROM pts p JOIN posted n ON p.cx = n.cx AND p.cy = n.cy
      |  WHERE p.vec_id <> n.nb_id
      |    AND (p.x - n.nx) * (p.x - n.nx) + (p.y - n.ny) * (p.y - n.ny)
      |      <= 0.05 * 0.05
      |  GROUP BY p.vec_id HAVING COUNT(*) >= 4
      |)
      |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
      |  CAST(SUM(CASE WHEN core.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_core,
      |  ROUND(CAST(SUM(CASE WHEN core.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS core_share
      |FROM pts LEFT JOIN core ON pts.vec_id = core.vec_id
      |GROUP BY label""".stripMargin
}
