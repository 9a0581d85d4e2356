package graft

/** The native expressions are callable from pure SQL once registered. */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  test("cosine_sim and match_fraction are callable from spark.sql") {
    graft.functions.GraftExtensions.register(spark)
    val cos = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val mf = spark.sql(
      "SELECT match_fraction(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 9L))")
      .head().getDouble(0)
    assert(mf == 0.5)
  }

  test("graft_tokenize generator works from SQL (LATERAL VIEW) and the Column API") {
    graft.functions.GraftExtensions.register(spark)
    Seq((1L, "a  b c"), (2L, ""), (3L, "solo")).toDF("id", "text")
      .createOrReplaceTempView("tok_ext_test")
    val viaSql = spark.sql(
      """SELECT id, pos, token FROM tok_ext_test
        |LATERAL VIEW graft_tokenize(text, ' ') t AS pos, token""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaSql == Set((1L, 0, "a"), (1L, 1, "b"), (1L, 2, "c"), (3L, 0, "solo")))
    import org.apache.spark.sql.functions.col
    val viaApi = Seq((1L, "a  b c")).toDF("id", "text")
      .select(col("id"), graft.functions.TextFunctions.tokenize(col("text"), " "))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaApi == Set((1L, 0, "a"), (1L, 1, "b"), (1L, 2, "c")))
  }

  test("nfc_normalize is callable from spark.sql") {
    graft.functions.GraftExtensions.register(spark)
    val out = spark.sql("SELECT nfc_normalize('e\u0301clair')").head().getString(0)
    assert(out == "\u00e9clair")
    assert(spark.sql("SELECT nfc_normalize(NULL)").head().isNullAt(0))
  }

  test("jaro_winkler is callable from spark.sql") {
    graft.functions.GraftExtensions.register(spark)
    val out = spark.sql("SELECT jaro_winkler('martha', 'marhta')")
      .head().getDouble(0)
    assert(math.abs(out - 0.9611111111111111) < 1e-12)
    assert(spark.sql("SELECT jaro_winkler(NULL, 'x')").head().isNullAt(0))
  }

  test("SQL cosine agrees with the Column API on real embeddings") {
    graft.functions.GraftExtensions.register(spark)
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(20).createOrReplaceTempView("emb_ext_test")
    val viaSql = spark.sql(
      """SELECT a.vec_id, b.vec_id, cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_ext_test a JOIN emb_ext_test b ON a.vec_id < b.vec_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(20)
    val viaApi = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.operators.Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaSql == viaApi)
  }

  test("round-14: SQL surface pins operand types like the Scala wrappers — " +
      "a DOUBLE array converts instead of being byte-reinterpreted") {
    // without the cast, getFloat() over a double-array buffer reads
    // garbage half-words and this scores nonsense instead of 1.0
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D, 3.0D), array(1.0D, 2.0D, 3.0D)) c")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-6, s"double-array cosine must be ~1.0, got $r")
    val mf = spark.sql(
      "SELECT match_fraction(array(1, 2, 3), array(1, 9, 3)) m")
      .collect().head.getDouble(0)
    assert(math.abs(mf - 2.0 / 3.0) < 1e-12, s"int-array match fraction: $mf")
  }

  test("the injection path (spark.sql.extensions) registers the same " +
      "functions, operand casts included") {
    import org.apache.spark.sql.{ExtensionsTestHook, GraftColumnBridge, SparkSessionExtensions}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.functions.col
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    val reg = ExtensionsTestHook.injectedRegistry(ext)
    for (n <- Seq("cosine_sim", "match_fraction", "graft_tokenize",
        "nfc_normalize", "jaro_winkler"))
      assert(reg.functionExists(FunctionIdentifier(n)), s"$n not injected")
    // a DOUBLE array must convert to float, not be byte-reinterpreted
    val cos = reg.lookupFunction(FunctionIdentifier("cosine_sim"),
      Seq(GraftColumnBridge.expression(col("a")),
        GraftColumnBridge.expression(col("b"))))
    val got = Seq((Array(1.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
      .select(GraftColumnBridge.column(cos)).head().getDouble(0)
    assert(math.abs(got - 1.0 / math.sqrt(2.0)) < 1e-6, s"cosine: $got")
  }

  test("both registration paths report each function's own expression " +
      "class (DESCRIBE FUNCTION EXTENDED)") {
    import org.apache.spark.sql.{ExtensionsTestHook, SparkSessionExtensions}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.functions._
    val expected = Seq(
      "cosine_sim" -> classOf[CosineSimilarity],
      "match_fraction" -> classOf[LongArrayMatchFraction],
      "graft_tokenize" -> classOf[RegexTokenize],
      "nfc_normalize" -> classOf[NfcNormalize],
      "jaro_winkler" -> classOf[JaroWinkler])
    GraftExtensions.register(spark)
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registries = Seq(
      "register" -> spark.sessionState.functionRegistry,
      "injection" -> ExtensionsTestHook.injectedRegistry(ext))
    for ((path, reg) <- registries; (name, cls) <- expected) {
      val got = reg.lookupFunction(FunctionIdentifier(name)).map(_.getClassName)
      assert(got.contains(cls.getName), s"$path: $name reports $got")
    }
  }
}
