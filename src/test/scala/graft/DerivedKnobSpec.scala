package graft

import graft.operators.Scale

/** Round-13 corpus-derived index parameters (VERDICT r12 #2): with no
  * session conf, ANN/LSH index parameters derive from the corpus row
  * count (bits = ceil(log2 N), centroids = ceil(sqrt N), both clamped)
  * instead of test-SF constants that would be wrong at production scale.
  * The oracle gate (Verify/Bench) and this test base pin the
  * oracle-replayed constants via builder conf (`graft.Session.gatePins`);
  * an empty-string conf explicitly opts back into derivation.
  */
class DerivedKnobSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("formulas: bits = ceil(log2 N) clamped to [4, 24]; " +
      "centroids = ceil(sqrt N) clamped to [4, 65536]") {
    assert(Scale.deriveLshBits(0) == 4)
    assert(Scale.deriveLshBits(1) == 4)
    assert(Scale.deriveLshBits(16) == 4)
    assert(Scale.deriveLshBits(17) == 5)
    assert(Scale.deriveLshBits(600) == 10)
    assert(Scale.deriveLshBits(200000) == 18)
    assert(Scale.deriveLshBits(Long.MaxValue) == 24)
    assert(Scale.deriveCentroids(0) == 4)
    assert(Scale.deriveCentroids(16) == 4)
    assert(Scale.deriveCentroids(100) == 10)
    assert(Scale.deriveCentroids(20000) == 142)
    assert(Scale.deriveCentroids(Long.MaxValue) == 65536)
  }

  test("precedence: session conf > derived; a system property is ignored; " +
      "empty conf explicitly opts into derivation; malformed is named") {
    val s2 = spark.newSession()
    import s2.implicits._
    val corpus = (1 to 100).toDF("x")
    val key = "graft.test.derivedKnob"
    // no conf -> derived from the corpus count
    assert(Scale.derivedIntKnob(s2, key, corpus, Scale.deriveCentroids) == 10)
    // a JVM system property is not a second source for graft.* keys
    sys.props(key) = "33"
    try assert(Scale.derivedIntKnob(s2, key, corpus, _ => 999) == 999)
    finally sys.props.remove(key)
    // session conf beats derivation
    s2.conf.set(key, "44")
    try {
      assert(Scale.derivedIntKnob(s2, key, corpus, _ => 999) == 44)
      // empty-string conf = explicit derive
      s2.conf.set(key, "")
      assert(Scale.derivedIntKnob(s2, key, corpus, _ => 77) == 77)
    } finally s2.conf.unset(key)
    s2.conf.set(key, "abc")
    try {
      val e = intercept[IllegalArgumentException](
        Scale.derivedIntKnob(s2, key, corpus, _ => 1))
      assert(e.getMessage.contains(key))
    } finally s2.conf.unset(key)
  }

  test("the derived index keys reject values below 1, naming the key") {
    // 0 centroids is an empty centroid set (an empty result, no error) and
    // 0 LSH bits is one bucket; the key must be named before any job runs
    val gated: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "graft.lsh.bitsPerBand" -> graft.queries.Ext2Queries.lshAnn,
      "graft.semdedup.centroids" -> graft.queries.Ext12Queries.semDedup,
      "graft.ivf.centroids" -> graft.queries.Ext28Queries.knnClassify)
    for ((key, query) <- gated; v <- Seq("0", "-2")) {
      val child = spark.newSession()
      child.conf.set(key, v)
      val e = intercept[IllegalArgumentException](query(child, dir).count())
      assert(e.getMessage.contains(key) && e.getMessage.contains(v),
        s"$key=$v: error must name the key and value: ${e.getMessage}")
    }
  }

  test("round-14: derivedIntKnob trims like intKnob — padded values parse, " +
      "whitespace-only opts into derivation") {
    val s2 = spark.newSession()
    import s2.implicits._
    val corpus = (1 to 100).toDF("x")
    val key = "graft.test.derivedKnobTrim"
    s2.conf.set(key, " 8 ")
    try assert(Scale.derivedIntKnob(s2, key, corpus, _ => 999) == 8)
    finally s2.conf.unset(key)
    s2.conf.set(key, " \n")
    try assert(Scale.derivedIntKnob(s2, key, corpus, _ => 77) == 77)
    finally s2.conf.unset(key)
  }

  test("Knob names the offending key/value on a malformed setting and " +
      "trims whitespace") {
    val s2 = spark.newSession()
    val key = "graft.test.intKnob"
    def read = graft.util.Knob.optInt(s2, key, "")
    s2.conf.set(key, " 8 ")
    try assert(read.contains(8))
    finally s2.conf.unset(key)
    s2.conf.set(key, "1_000")
    try {
      val e = intercept[IllegalArgumentException](read)
      assert(e.getMessage.contains(key) && e.getMessage.contains("1_000"))
    } finally s2.conf.unset(key)
  }

  test("gate pins hold on the shared session AND are inherited by child " +
      "sessions (Verify's per-query isolation relies on this); the " +
      "opted-out path derives scale-appropriate values from the corpus") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // the test base's builder pins the oracle constants
    assert(Scale.derivedIntKnob(spark, "graft.lsh.bitsPerBand", emb,
      Scale.deriveLshBits) == 6)
    assert(Scale.derivedIntKnob(spark, "graft.semdedup.centroids", emb,
      Scale.deriveCentroids) == 8)
    assert(Scale.derivedIntKnob(spark, "graft.ivf.centroids", emb,
      Scale.deriveCentroids) == 10)
    // builder confs land in the SparkContext conf, so a fresh child
    // session (Verify runs every gate query on one) must still read the
    // pins — otherwise the driver gate would silently derive and desync
    // from the static oracle SQL
    val child = spark.newSession()
    assert(Scale.derivedIntKnob(child, "graft.lsh.bitsPerBand",
      graft.sources.Tables.embeddings(child, dir), Scale.deriveLshBits) == 6,
      "builder pins must be inherited by child sessions")
    // empty-string conf opts a session back into derivation: the value
    // must equal the formula applied to the actual corpus count
    val s2 = spark.newSession()
    s2.conf.set("graft.lsh.bitsPerBand", "")
    s2.conf.set("graft.semdedup.centroids", "")
    val emb2 = graft.sources.Tables.embeddings(s2, dir)
    val n = emb2.count()
    assert(Scale.derivedIntKnob(s2, "graft.lsh.bitsPerBand", emb2,
      Scale.deriveLshBits) == Scale.deriveLshBits(n))
    assert(Scale.derivedIntKnob(s2, "graft.semdedup.centroids", emb2,
      Scale.deriveCentroids) == Scale.deriveCentroids(n))
    // the derived path runs end to end (the gate query on the opted-out
    // session picks up the derived width and still executes cleanly;
    // result-content parity with the oracle shape is the PINNED path's
    // contract, not this one's)
    val out = graft.queries.Ext2Queries.lshAnn(s2, dir)
    assert(out.columns.toSeq == Seq("id_1", "id_2", "cos"))
    assert(out.count() >= 0L)
  }
}
