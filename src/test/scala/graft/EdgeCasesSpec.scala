package graft

import org.apache.spark.sql.functions._

/** Edge-case pins from the round-2 review: analysis-time tokenizer pattern
  * validation, LSH empty-input behavior, resize-plan dimension clamping.
  */
class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_tokenize rejects NULL and malformed patterns at analysis time") {
    graft.functions.GraftExtensions.register(spark)
    Seq((1L, "a b")).toDF("id", "text").createOrReplaceTempView("tok_edge")
    val nullErr = intercept[Exception] {
      spark.sql("SELECT graft_tokenize(text, CAST(NULL AS STRING)) FROM tok_edge")
        .collect()
    }
    assert(nullErr.getMessage.toLowerCase.contains("null"))
    val badErr = intercept[Exception] {
      spark.sql("SELECT graft_tokenize(text, '(') FROM tok_edge").collect()
    }
    assert(badErr.getMessage.toLowerCase.contains("pattern"))
  }

  test("lshNearDup on empty or all-null input returns empty, not an exception") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(graft.operators.Similarity
      .lshNearDup(empty, "vec_id", "embedding", 0.5).count() == 0)
    val allNull = Seq((1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    assert(graft.operators.Similarity
      .lshNearDup(allNull, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("resizePlan never plans a 0-pixel edge on extreme aspect ratios") {
    val decoded = Seq(
      (1L, "image", 1, 600),    // would naively fit to 0 x 256
      (2L, "image", 600, 1),
      (3L, "image", 100, 100),  // already fits
      (4L, "image", 512, 512)   // square downscale
    ).toDF("media_id", "kind", "width", "height")
    val out = graft.operators.Multimodal.resizePlan(decoded, maxEdge = 256)
      .select("media_id", "out_w", "out_h")
      .as[(Long, Int, Int)].collect()
      .map { case (k, w, h) => k -> (w, h) }.toMap
    assert(out(1L) == (1, 256))
    assert(out(2L) == (256, 1))
    assert(out(3L) == (100, 100))
    assert(out(4L) == (256, 256))
  }

  test("jaro_winkler handles unicode, long strings, and degenerate pairs " +
    "without exceptions; result stays bounded") {
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double = graft.functions.JaroWinklerUtil
      .sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // non-ASCII round trips through UTF8String.toString correctly
    assert(jw("éclair", "éclair") == 1.0)
    assert(jw("éclair", "eclair") < 1.0)
    // surrogate pairs (emoji) must not crash char-level scanning
    val e = "a😀b"
    assert(jw(e, e) == 1.0)
    val s = jw(e, "ab")
    assert(s >= 0.0 && s <= 1.0)
    // long inputs: O(n*m) flag scan stays well-behaved at doc-ish sizes
    val long1 = "spark " * 400
    val long2 = "table " * 400
    val v = jw(long1, long2)
    assert(v >= 0.0 && v <= 1.0)
  }

  test("weighted median equals plain median when all weights are equal") {
    import spark.implicits._
    // odd count, weight 1 each: weighted median == middle order statistic
    val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0)
    val df = vals.zipWithIndex
      .map { case (v, i) => ("G", v, 1.0, i.toLong, i) }
      .toDF("l_returnflag", "l_extendedprice", "l_quantity",
        "l_orderkey", "l_linenumber")
    df.createOrReplaceTempView("_wm_edge")
    // replicate the operator's window logic on the tiny frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag")
      .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    val cum = df.withColumn("cumw",
        sum(col("l_quantity")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      .withColumn("totw", sum(col("l_quantity")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")))
      .filter(col("cumw") * 2 >= col("totw"))
      .orderBy("l_extendedprice").limit(1)
      .select("l_extendedprice").head.getDouble(0)
    assert(cum == 5.0, s"expected the middle order statistic, got $cum")
  }

  test("interval coverage with fully-nested spans counts the outer span " +
    "once (no double counting)") {
    import spark.implicits._
    // one user, three spans where 2 and 3 nest inside 1
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 200L))
      .toDF("user_id", "ts_us")
    // replicate with a tiny span so all three overlap: island algebra
    val spanUs = 1000L
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("lo", "hi")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("lo", "hi")
    val out = ev
      .select(col("user_id"), col("ts_us").as("lo"),
        (col("ts_us") + spanUs).as("hi"))
      .withColumn("pmh", max(col("hi")).over(w1))
      .withColumn("ni", when(col("pmh").isNull ||
        col("lo") > col("pmh"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(w2))
      .groupBy("user_id", "isl")
      .agg(min("lo").as("ilo"), max("hi").as("ihi"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("ihi") - col("ilo")).as("cov"))
      .head
    assert(out.getAs[Long]("n") == 1, "overlapping spans split islands")
    assert(out.getAs[Long]("cov") == 1200L,
      s"union of [0,1000),[100,1100),[200,1200) must be 1200, " +
        s"got ${out.getAs[Long]("cov")}")
  }

  test("ScaleProbe.rootCause terminates on cyclic cause chains and finds " +
      "the deepest cause on acyclic ones (round-12 bounded walk)") {
    import graft.dev.ScaleProbe
    // acyclic: a -> b -> c, root is c
    val c = new RuntimeException("root fault")
    val b = new RuntimeException("wrapper", c)
    val a = new RuntimeException("outer", b)
    assert(ScaleProbe.rootCause(a) eq c)
    assert(ScaleProbe.rootCause(c) eq c)
    // cyclic: x -> y -> x (initCause is legal exactly once on exceptions
    // built WITHOUT a constructor cause); the naive takeWhile(_ != null)
    // walk never returns on this chain
    val x = new RuntimeException("x")
    val y = new RuntimeException("y", x)
    x.initCause(y)
    val r = ScaleProbe.rootCause(x)
    assert((r eq x) || (r eq y), "walk must stop inside the cycle")
  }
}
