package graft

import org.apache.spark.sql.functions._

import graft.functions.SetFunctions

/** [[graft.functions.SortedIntersectCount]] — the count-only merge-walk
  * intersection the dedup verify stages ride (r21). Pins exact parity with
  * `size(array_intersect(...))` on sorted set inputs (the producer contract:
  * `sort_array(collect_set(...))`), including empties and null inputs, on
  * randomized corpora large enough to exercise every cursor path.
  */
class SetExpressionsSpec extends SparkTestBase {

  test("sorted_intersect_count equals size(array_intersect) on sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // random SETS (distinct, sorted) over a small value domain so overlaps
    // of every size occur, including disjoint and identical pairs
    val rows = (0 until 300).map { i =>
      val a = rnd.shuffle((0L until 60L).toList)
        .take(rnd.nextInt(40)).distinct.sorted.toArray
      val b =
        if (i % 17 == 0) a.clone() // identical pair
        else rnd.shuffle((0L until 60L).toList)
          .take(rnd.nextInt(40)).distinct.sorted.toArray
      (i.toLong, a, b)
    }
    // through parquet so the codegen path runs (a local Seq folds to an
    // interpreted LocalRelation at optimization time — CodegenOnlySpec's
    // negative-control argument)
    val dir = graft.util.TempDirs.create("graft-sic").toString
    rows.toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val bad = df.select(
        SetFunctions.sorted_intersect_count(col("a"), col("b")).as("sic"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .filter(col("sic") =!= col("ref"))
    assert(bad.count() == 0)
  }

  test("empty side yields 0; null side yields null") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-sic-null").toString
    Seq(
      (1L, Array(1L, 2L, 3L), Array.empty[Long]),
      (2L, Array.empty[Long], Array.empty[Long])
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val withNull = spark.read.parquet(dir)
      .withColumn("c", when(col("id") === 1L, col("a")))
    val got = withNull.select(col("id"),
        SetFunctions.sorted_intersect_count(col("a"), col("b")).as("e"),
        SetFunctions.sorted_intersect_count(col("a"), col("c")).as("n"))
      .collect().map(r => r.getLong(0) ->
        (r.get(1), if (r.isNullAt(2)) null else r.get(2))).toMap
    assert(got(1L) == ((0, 3)))   // empty right -> 0; non-null c == a -> 3
    assert(got(2L) == ((0, null))) // null c -> null
  }

  test("round-22: non-long element arrays are rejected at analysis time " +
      "(the getLong merge walk would read garbage silently)") {
    import spark.implicits._
    val ints = Seq((Array(1, 2), Array(2, 3))).toDF("a", "b")
    val eInt = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(SetFunctions.sorted_intersect_count(col("a"), col("b")))
        .collect()
    }
    assert(eInt.getMessage.contains("sorted_intersect_count"),
      s"unexpected analysis error: ${eInt.getMessage}")
    // nullable-ELEMENT array<long> stays accepted: parquet round-trips of
    // null-free arrays read back containsNull=true (null-freeness is a
    // documented data property, like sortedness — not a type property)
    val nullableTyped = Seq((Seq(Some(1L), Some(2L)), Seq(Some(2L))))
      .toDF("a", "b")
    val got = nullableTyped
      .select(SetFunctions.sorted_intersect_count(col("a"), col("b")))
      .collect().head.getInt(0)
    assert(got == 1)
  }

  /** Evaluates sorted_intersect_count over each `ids` row of the parquet
    * at `dir`, with whole-stage codegen on and off, and asserts each fails
    * with the null-element message. */
  private def assertNullElementFails(dir: String, ids: Seq[Long]): Unit = {
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    def check(): Unit = for (id <- ids) {
      val e = intercept[Exception] {
        spark.read.parquet(dir).filter(col("id") === id)
          .select(SetFunctions.sorted_intersect_count(col("a"), col("b")))
          .collect()
      }
      assert(messages(e).exists(_.contains("null array element")),
        s"row $id: unexpected failure ${messages(e)}")
    }
    check()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check()
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("a null element fails loudly instead of reading as 0, with " +
      "whole-stage codegen on and off") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-sic-null-elem").toString
    Seq(
      (1L, Seq(Some(1L), None, Some(3L)), Seq(Some(2L), Some(3L))),
      (2L, Seq(Some(1L), Some(3L)), Seq(Some(1L), None, Some(3L)))
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    assertNullElementFails(dir, Seq(1L, 2L))
  }

  test("a null element past the point where the merge walk stops fails " +
      "too (inputs must be null-free sets), with whole-stage codegen on " +
      "and off") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-sic-null-tail").toString
    // row 1: a runs out before the walk reaches b's null; row 2: b runs
    // out before it reaches a's null
    Seq(
      (1L, Seq(Some(1L), Some(2L)), Seq(Some(5L), None)),
      (2L, Seq(Some(7L), None), Seq(Some(1L), Some(2L)))
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    assertNullElementFails(dir, Seq(1L, 2L))
  }
}
