package graft

import org.apache.spark.sql.functions._

import graft.functions.{JaroWinklerFunctions, LevenshteinFunctions, TextFunctions, VectorFunctions, ZOrderFunctions}

/** Every custom Catalyst expression must actually COMPILE under codegen.
  *
  * A doGenCode that emits unparseable Java does not fail a query: Spark
  * logs a warning and silently demotes the projection (or the whole
  * stage) to interpreted eval — results stay right, throughput quietly
  * halves. Every doGenCode is now a one-line call to the kernel method its
  * interpreted path runs (multi-line templates, whose '|'-leading lines
  * the code-Block interpolator used to eat, are kept out by
  * SharedFragmentSpec), but a call that does not compile — a renamed
  * kernel, a mistyped argument — still demotes silently.
  *
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY` + `codegen.fallback=false`
  * turn that silent demotion into a loud failure, so this suite pins
  * compilability for every custom expression in one place, and checks
  * that the generated and the interpreted path give bit-identical rows.
  */
class CodegenOnlySpec extends SparkTestBase {

  private def codegenOnly[A](f: org.apache.spark.sql.SparkSession => A): A = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s2.conf.set("spark.sql.codegen.fallback", "false")
    f(s2)
  }

  private def interpretedOnly[A](f: org.apache.spark.sql.SparkSession => A): A = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    f(s2)
  }

  test("all custom expressions compile under CODEGEN_ONLY (no silent " +
      "interpreted fallback)") {
    codegenOnly { s2 =>
      import s2.implicits._
      // THROUGH PARQUET, deliberately: a projection over a local Seq is
      // folded at optimization time by ConvertToLocalRelation using the
      // INTERPRETED projection — codegen never runs and a broken template
      // passes. A file scan forces the real codegen path (verified by
      // negative control: re-breaking the round-14 template fails here).
      val dir = graft.util.TempDirs.create("graft-cgonly").toString
      Seq(
        (1L, Array(1.0f, 2.0f, 3.0f), Array(1L, 2L, 3L), "hello world", 3L, 5L),
        (2L, Array(0.5f, 0.1f, 0.9f), Array(1L, 9L, 3L), "hullo wxrld", 7L, 2L)
      ).toDF("id", "v", "sig", "txt", "xi", "yi")
        .write.mode("overwrite").parquet(dir)
      val vecs = s2.read.parquet(dir)
      val planes = Seq(Seq(1L, -2L, 3L), Seq(2L, 2L, -1L))
      val out = vecs.select(
        VectorFunctions.cosine_sim(col("v"), col("v")).as("cos"),
        VectorFunctions.sq_l2_distance(col("v"), col("v")).as("l2"),
        VectorFunctions.l1_distance(col("v"), col("v")).as("l1"),
        VectorFunctions.match_fraction(col("sig"), col("sig")).as("mf"),
        VectorFunctions.hyperplane_chunks(col("sig"), planes, 2).as("hc"),
        TextFunctions.poly_hash(col("txt")).as("ph"),
        TextFunctions.char_entropy(col("txt")).as("ce"),
        TextFunctions.char_distinct(col("txt")).as("cd"),
        TextFunctions.nfc_normalize(col("txt")).as("nfc"),
        ZOrderFunctions.zorder2(col("xi"), col("yi")).as("z"),
        JaroWinklerFunctions.jaro_winkler(col("txt"), lit("hello world")).as("jw"),
        LevenshteinFunctions.lev_within(col("txt"), lit("hello world"), 3).as("lw"),
        graft.functions.SetFunctions.sorted_intersect_count(
          sort_array(col("sig")), sort_array(col("sig"))).as("sic")
      ).collect()
      assert(out.length == 2)
      val r = out.find(_.getAs[Double]("cos") > 0.99).get
      assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
      assert(r.getAs[Double]("l2") == 0.0 && r.getAs[Double]("l1") == 0.0)
      assert(r.getAs[Double]("mf") == 1.0)
      assert(r.getAs[Long]("ph") > 0)
      assert(r.getAs[Double]("jw") == 1.0)
      assert(r.getAs[Int]("sic") == 3)
      // the tokenizer Generator (CodegenFallback by design) still plans
      // under CODEGEN_ONLY — the mode gates projections, not generators
      val toks = vecs.select(TextFunctions.tokenize(col("txt"), " "))
        .count()
      assert(toks == 4)
    }
  }

  test("NULL-element parity survives CODEGEN_ONLY (the round-14 template " +
      "fix compiles, not just falls back correctly)") {
    codegenOnly { s2 =>
      import s2.implicits._
      val dir = graft.util.TempDirs.create("graft-cgonly-null").toString
      Seq((1L, Array[java.lang.Float](1.0f, null, 3.0f)))
        .toDF("id", "v").write.mode("overwrite").parquet(dir)
      val r = s2.read.parquet(dir).select(
        VectorFunctions.cosine_sim(col("v"), col("v"))).collect().head
      assert(r.isNullAt(0))
    }
  }

  test("generated and interpreted paths agree bit for bit on edge inputs, " +
      "for every native expression") {
    import spark.implicits._
    val nan = Float.NaN
    val tiny = Float.MinPositiveValue
    def f(xs: Option[Float]*): Option[Seq[Option[Float]]] = Some(xs)
    def l(xs: Option[Long]*): Option[Seq[Option[Long]]] = Some(xs)
    def s(xs: Long*): Option[Seq[Long]] = Some(xs)
    // (id, a, b, la, lb, sa, sb, txt, x, y): float pairs for the distance
    // kernels, long pairs for match_fraction/hyperplane_chunks, null-free
    // sorted sets for sorted_intersect_count, a string, two z-order longs
    val fixture = Seq(
      (1L, f(Some(0f), Some(0f), Some(0f)), f(Some(1f), Some(2f), Some(3f)),
        l(Some(1L), Some(2L)), l(Some(1L), Some(3L)), s(1L, 2L, 3L), s(2L, 3L),
        Option(""), Option(-1L), Option(-65537L)),
      (2L, f(Some(-0.0f), Some(-0.0f)), f(Some(1f), Some(1f)),
        l(Some(-5L), Some(7L)), l(Some(-5L), Some(7L)), s(), s(1L),
        Option("h\u00e9llo w\u00f6rld"), Option(0x12345L), Option(0x7fff0000L)),
      (3L, f(Some(tiny), Some(0f)), f(Some(tiny), Some(tiny)),
        l(Some(1L), None, Some(3L)), l(Some(1L), Some(2L), Some(3L)), s(), s(),
        Option("e\u0301clair"), Option(Long.MaxValue), Option(Long.MinValue)),
      (4L, f(Some(1f), Some(nan), Some(2f)), f(Some(1f), Some(1f), Some(1f)),
        l(Some(1L), Some(2L), Some(3L), None), l(Some(1L), Some(2L)),
        s(-3L, 0L, 9L), s(-3L, 9L, 11L),
        Option("\ud83d\ude00 caf\u00e9"), Option(65535L), Option(65536L)),
      (5L, f(Some(1f), None, Some(3f)), f(Some(1f), Some(2f), Some(3f)),
        l(), l(), s(5L), s(5L), Option("hello world"), None, Option(3L)),
      (6L, f(Some(1f), Some(2f), Some(3f), None), f(Some(1f), Some(2f)),
        l(Some(4L), Some(5L), Some(6L)), l(Some(4L)), None, s(1L),
        None, Option(7L), None),
      (7L, f(Some(1f), Some(2f), Some(3f), Some(4f)), f(Some(4f), Some(3f)),
        None, l(Some(1L)), s(1L, 2L), None, Option("hullo wxrld"),
        Option(3L), Option(5L)),
      (8L, f(), f(), l(Some(0L)), l(Some(0L)), s(), s(),
        Option("a"), Option(0L), Option(0L)),
      (9L, f(), f(Some(1f)), l(), l(Some(2L)), s(4L), s(),
        Option("aaaa bbbb"), Option(-1L), Option(1L)),
      (10L, None, f(Some(1f)), l(Some(9L)), None, s(1L), s(1L),
        Option(" "), Option(1L), Option(-1L)),
      (11L, f(Some(Float.PositiveInfinity), Some(1f)), f(Some(1f), Some(1f)),
        l(Some(Long.MaxValue), Some(Long.MinValue)), l(Some(Long.MaxValue), Some(1L)),
        s(Long.MinValue, Long.MaxValue), s(Long.MaxValue), Option("hello  world"),
        Option(0xffffL), Option(0xffffL))
    ).toDF("id", "a", "b", "la", "lb", "sa", "sb", "txt", "x", "y")
    val dir = graft.util.TempDirs.create("graft-kernel-parity").toString
    fixture.write.mode("overwrite").parquet(dir)
    val planes = Seq(Seq(1L, -2L, 3L), Seq(2L, 2L, -1L), Seq(-1L), Seq(0L, 1L))
    val exprs = Seq(
      VectorFunctions.cosine_sim(col("a"), col("b")),
      VectorFunctions.sq_l2_distance(col("a"), col("b")),
      VectorFunctions.l1_distance(col("a"), col("b")),
      VectorFunctions.match_fraction(col("la"), col("lb")),
      VectorFunctions.hyperplane_chunks(col("la"), planes, 2),
      graft.functions.SetFunctions.sorted_intersect_count(col("sa"), col("sb")),
      TextFunctions.poly_hash(col("txt")),
      TextFunctions.char_entropy(col("txt")),
      TextFunctions.char_distinct(col("txt")),
      TextFunctions.nfc_normalize(col("txt")),
      ZOrderFunctions.zorder2(col("x"), col("y")),
      JaroWinklerFunctions.jaro_winkler(col("txt"), lit("hello world")),
      LevenshteinFunctions.lev_within(col("txt"), lit("hello world"), 2))
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case xs: scala.collection.Seq[_] => xs.map(bits).toList
      case other => other
    }
    def rows(s2: org.apache.spark.sql.SparkSession): List[List[Any]] =
      s2.read.parquet(dir).select(col("id") +: exprs: _*).collect()
        .sortBy(_.getLong(0)).map(_.toSeq.map(bits).toList).toList
    val generated = codegenOnly(rows)
    val interpreted = interpretedOnly(rows)
    assert(generated.length == 11)
    for ((g, i) <- generated.zip(interpreted))
      assert(g == i, s"row ${g.head}: generated $g vs interpreted $i")
    // the fixture reaches the NULL rules: zero, -0.0 and null-in-prefix
    // vectors give a NULL cosine; a null beyond the prefix does not
    val cos = generated.map(r => r.head -> r(1)).toMap
    assert(Seq(1L, 2L, 5L, 8L, 10L).forall(cos(_) == null))
    assert(cos(3L) != null && cos(6L) != null)
  }
}
