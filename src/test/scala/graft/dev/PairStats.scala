package graft.dev

import org.apache.spark.sql.functions._

/** Dev-only: cardinality/cost stats of the prefix-filtered pair pipeline at
  * a given SF — sizes the candidate-verify work the optimizer rounds target.
  * Run: sbt 'Test/runMain graft.dev.PairStats [sfDir]'
  */
object PairStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder(32, gatePins = false).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.sources.Tables.documents(spark, sfDir)
    println(s"docs: ${docs.count()}")
    val sh = graft.operators.Dedup.hashedPostings(docs, "doc_id", "text", 3)
      .persist()
    println(s"postings: ${sh.count()}")
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    sizes.agg(min("sz"), avg("sz"), max("sz")).show()
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    freq.agg(count(lit(1)), avg("df"), max("df")).show()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("shingle"))
    val t = 0.5
    val prefix = sh.join(freq, "shingle")
      .withColumn("rnk", row_number().over(w))
      .join(broadcast(sizes), "id")
      .filter(col("rnk") <= col("sz") - ceil(lit(t) * col("sz") - lit(1e-9)) + 1)
      .select(col("id"), col("shingle")).persist()
    println(s"prefix postings: ${prefix.count()}")
    // candidate fanout = sum over shingles of C(cnt,2) on the prefix
    val pf = prefix.groupBy("shingle").agg(count(lit(1)).as("c"))
    pf.agg(sum(col("c") * (col("c") - 1) / 2).as("cand_occurrences"),
      max("c").as("max_bucket")).show()
    val cand = prefix.as("a").join(prefix.as("b"),
      col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"))
    println(s"cand distinct pairs: ${cand.distinct().count()}")
    // with the size filter J>=t -> sz ratio bound
    val szm = sizes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val szB = spark.sparkContext.broadcast(szm)
    import spark.implicits._
    val kept = cand.distinct().as[(Long, Long)].collect().count { case (a, b) =>
      val (s1, s2) = (szB.value(a), szB.value(b))
      math.min(s1, s2).toDouble >= t * math.max(s1, s2)
    }
    println(s"cand pairs surviving size filter: $kept")
    graft.Session.stop(spark)
  }
}
