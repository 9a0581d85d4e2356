package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.operators.Dedup

/** Dedup ladder on planted near-duplicates: a base corpus plus controlled
  * perturbations, verifying precision (every reported pair is truly similar)
  * and recall (planted pairs are found).
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  // 20 distinct base docs + 3 planted near-dups (light perturbations) +
  // 1 exact dup
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val d0 = base(0)._2
    val planted = Seq(
      (100L, d0.replaceFirst("alpha", "omega")), // near-dup of 0
      (101L, d0.split(" ").dropRight(3).mkString(" ")), // truncated copy of 0
      (102L, base(1)._2.replaceFirst(" ", " inserted ")), // near-dup of 1
      (103L, d0)) // exact dup of 0
    (base ++ planted).toDF("doc_id", "text")
  }

  test("exact dedup finds the exact copy and nothing else") {
    val groups = Dedup.exact(corpus, "doc_id", "text")
      .filter($"n_copies" > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keeper_doc_id") == 0L)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
  }

  test("exact jaccard finds all planted near-dup pairs") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100L)))
    assert(pairs.contains((0L, 101L)))
    assert(pairs.contains((1L, 102L)))
    assert(pairs.contains((0L, 103L)))
    // planted copies are also similar to each other; nothing crosses bases:
    // every reported pair lies entirely inside one planted cluster
    val cluster0 = Set(0L, 100L, 101L, 103L)
    val cluster1 = Set(1L, 102L)
    assert(pairs.forall { case (a, b) =>
      (cluster0(a) && cluster0(b)) || (cluster1(a) && cluster1(b)) },
      s"cross-cluster false positives: ${pairs.filterNot { case (a, b) =>
        (cluster0(a) && cluster0(b)) || (cluster1(a) && cluster1(b)) }}")
  }

  test("minhash-LSH output equals exact jaccard output (verified candidates)") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDup(corpus, "doc_id", "text", n = 3,
        threshold = 0.5, k = 128, bands = 64)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("minhashNearDup rejects band counts that would degrade LSH to all-pairs") {
    // bands > k: every band would hash an EMPTY signature slice to one
    // constant bucket — all docs collide in all bands, O(n^2) candidates
    val e1 = intercept[IllegalArgumentException] {
      Dedup.minhashNearDup(corpus, "doc_id", "text", k = 32, bands = 64)
    }
    assert(e1.getMessage.contains("multiple of bands"))
    // k not divisible by bands: the signature tail is silently ignored
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDup(corpus, "doc_id", "text", k = 100, bands = 64)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDup(corpus, "doc_id", "text", k = 128, bands = 0)
    }
  }

  test("clusterLabels rejects non-integral id columns instead of nulling " +
      "singletons on the distributed path") {
    val pairs = Seq(("a", "b")).toDF("id_1", "id_2")
    val nodes = Seq("a", "b", "c").toDF("id")
    val e = intercept[IllegalArgumentException] {
      Dedup.clusterLabels(pairs, nodes)
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("simhash: exact dup has distance 0; perturbed docs are close; unrelated far") {
    val fp = Dedup.simhash(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(0L, 103L) == 0)
    assert(ham(0L, 100L) <= 12)
    assert(ham(0L, 5L) > 20, s"unrelated docs too close: ${ham(0L, 5L)}")
  }

  test("docs shorter than the shingle width yield zero shingles, not errors") {
    val tiny = Seq((1L, ""), (2L, "one"), (3L, "one two"),
      (4L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val postings = Dedup.shinglePostings(tiny, "doc_id", "text", n = 3)
    assert(postings.filter($"id" =!= 4L).count() == 0)
    assert(postings.filter($"id" === 4L).count() == 2)
    // the full ladder runs clean over a corpus containing short docs
    assert(Dedup.jaccardPairs(tiny, "doc_id", "text", n = 3, threshold = 0.5).count() == 0)
    assert(Dedup.minhashNearDup(tiny, "doc_id", "text", n = 3).count() == 0)
    Dedup.simhash(tiny, "doc_id", "text").collect()
  }

  test("simhashNearDup reports only verified-close pairs") {
    val pairs = Dedup.simhashNearDup(corpus, "doc_id", "text", maxHamming = 12)
    val bad = pairs.filter($"hamming" > 12).count()
    assert(bad == 0)
    val found = pairs.select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 103L)))
  }

  test("fast xxhash64 and portable md5 simhash agree on planted duplicates") {
    // identical texts fingerprint identically under ANY shingle hash, so
    // the hamming-0 pair set must agree between the production path and
    // the oracle-portable path; the exact-dup pair is found by both
    val fast = Dedup.simhashNearDup(corpus, "doc_id", "text", maxHamming = 12)
    val portable = Dedup.simhashNearDup(corpus, "doc_id", "text",
      maxHamming = 12, bits = 60, tokHash = Dedup.md5Tok60)
    val fastExact = fast.filter($"hamming" === 0)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val portExact = portable.filter($"hamming" === 0)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(fastExact == portExact)
    assert(fastExact.contains((0L, 103L)))
  }

  // --- prefix-filter losslessness at FP-hostile thresholds -------------------
  // Both bounds involve t (or 1-t) times the doc size in IEEE doubles; before
  // the epsilon nudge, a one-ULP error shortened the prefix below the
  // lossless minimum at specific (t, sz) combinations. These corpora are
  // built so the lost prefix slot is the ONLY collision opportunity: the
  // sub-doc's rarest (df=1) shingles are exactly its non-shared ones, so a
  // one-short prefix contains no shared shingle and the pair silently
  // vanishes. Each case pins output EQUALITY against the all-pairs verifier.

  test("containmentPrefixPairs is lossless at t=0.8 when |sub| is a multiple of 5") {
    // floor((1.0-0.8)*10) = floor(1.9999999999999996) = 1 pre-fix → prefix 2,
    // but losslessness needs floor(2.0)+1 = 3. A = 12 distinct words →
    // 10 trigram shingles; B = A's first 10 words → 8 shingles, all shared.
    // A's two non-shared shingles have df=1 → they ARE the 2-slot prefix.
    val words = (1 to 12).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")),
      (2L, words.take(10).mkString(" "))).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("sub_id", "super_id", "containment")
        .as[(Long, Long, Double)].collect().toSet
    val full = norm(Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.8))
    val pref = norm(Dedup.containmentPrefixPairs(docs, "doc_id", "text", n = 3, threshold = 0.8))
    assert(full == Set((1L, 2L, 0.8), (2L, 1L, 1.0)))
    assert(pref == full)
  }

  test("jaccardPrefixPairs is lossless at t=0.07 sz=100 (ceil one-ULP hazard)") {
    // 0.07*100 = 7.000000000000001 → ceil 8 pre-fix → prefix 100-8+1 = 93,
    // but losslessness needs 100-7+1 = 94. A = 102 words → 100 shingles;
    // B = A's first 9 words → 7 shingles, all shared; J = 7/(100+7-7) =
    // 0.07 exactly. A's 93 df=1 shingles exactly fill the buggy 93-slot
    // prefix, so only the restored 94th slot (the rarest SHARED shingle)
    // can collide with B.
    val words = (1 to 102).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")),
      (2L, words.take(9).mkString(" "))).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_1", "id_2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val full = norm(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.07))
    val pref = norm(Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3, threshold = 0.07))
    assert(full == Set((1L, 2L, 0.07)))
    assert(pref == full)
  }

  /** The three operators whose per-doc table joins the broadcast gate
    * decides, over `docs`. */
  private def gated(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "jaccardPrefixPairs" -> (() =>
      Dedup.jaccardPrefixPairs(docs, "doc_id", "text")),
    "containmentPrefixPairs" -> (() =>
      Dedup.containmentPrefixPairs(docs, "doc_id", "text")),
    "minhashNearDup" -> (() =>
      Dedup.minhashNearDup(docs, "doc_id", "text")))

  /** `body` with the given session confs set, restored after. */
  private def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The optimizer's size estimate of `docs`' `(doc_id, text)` projection —
    * what the broadcast gate compares against Spark's threshold. */
  private def estimate(docs: DataFrame): BigInt =
    docs.select("doc_id", "text").queryExecution.optimizedPlan.stats.sizeInBytes

  /** True iff `p` outputs a per-doc table's column: the MinHash
    * signatures (`sig`) or the sorted shingle sets (`set`). */
  private def outputsPerDoc(p: SparkPlan): Boolean =
    p.output.exists(a => a.name == "sig" || a.name == "set")

  test("sort-merge verify (threshold -1) returns the same rows as " +
      "broadcast verify (threshold above the estimate)") {
    val above = (estimate(corpus) + 1).toString
    // static plans, so the sort-merge arm really runs the per-doc table
    // joins sort-merge instead of AQE re-planning them from runtime sizes
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      gated(corpus).foreach { case (name, op) =>
        def rows(threshold: String) =
          withConfs("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
            val df = op()
            val smj = df.queryExecution.executedPlan.collect {
              case j: SortMergeJoinExec => j
            }
            (smj.size, df.collect().map(_.toSeq).toSet)
          }
        val (smjMerge, merged) = rows("-1")
        val (smjBcast, bcast) = rows(above)
        assert(bcast.nonEmpty, s"$name: fixture must yield pairs")
        assert(merged == bcast, s"$name: sort-merge rows differ")
        assert(smjMerge > smjBcast,
          s"$name: threshold -1 must plan the doc-table joins sort-merge " +
            s"($smjMerge vs $smjBcast sort-merge joins)")
      }
    }
  }

  test("the broadcast gate runs no job, follows the size estimate and " +
      "never broadcasts an input without size statistics") {
    val dir = graft.util.TempDirs.create("graft-dedup-gate")
    corpus.write.mode("overwrite").parquet(dir.toString)
    // read (and infer the schema) before counting: only the operators'
    // construction is under test
    val docs = spark.read.parquet(dir.toString)
    val est = estimate(docs)
    assert(JobFence.jobsDuring(spark)(gated(docs).foreach(_._2())) == 0,
      "constructing the gated operators must start no Spark job")
    // static plans, so the checks see the gate's choice rather than AQE's
    // runtime one
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      // Spark's own join selection sizes the per-doc tables at 2/3 of the
      // input's estimate (24- vs 36-byte rows); half the estimate is below
      // both, so any broadcast of them would be the gate's hint
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> (est / 2).toString) {
        gated(docs).foreach { case (name, op) =>
          assertPerDocSortMerge(s"$name over an estimate above the threshold",
            op())
        }
      }
      // a DSv2 source without statistics reports
      // spark.sql.defaultSizeInBytes, whatever its real size
      val zone = graft.util.TempDirs.create("dedup-kline-gate")
      java.nio.file.Files.writeString(zone.resolve("BTCUSDT-1m.jsonl"),
        "alpha beta gamma\ndelta epsilon zeta\nalpha beta gamma\n")
      val kline = spark.read.format("graft-klines")
        .option("path", zone.toString).load()
        .selectExpr("xxhash64(value) AS doc_id", "value AS text")
      gated(kline).foreach { case (name, op) =>
        assertPerDocSortMerge(s"$name over an input Spark cannot size", op())
      }
    }
  }

  test("a refused broadcast stays refused when Spark's own join selection " +
      "would admit the per-doc tables (static plans, threshold one byte " +
      "under the input estimate)") {
    val dir = graft.util.TempDirs.create("graft-dedup-closed")
    corpus.write.mode("overwrite").parquet(dir.toString)
    val docs = spark.read.parquet(dir.toString)
    // Spark sizes the per-doc tables at 2/3 of the input's estimate, so
    // they fit this threshold while the input itself does not
    withConfs("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" ->
          (estimate(docs) - 1).toString) {
      gated(docs).foreach { case (name, op) =>
        assertPerDocSortMerge(s"$name one byte under the threshold", op())
      }
    }
  }

  /** `df`'s static plan joins its per-doc tables sort-merge and broadcasts
    * none of them. */
  private def assertPerDocSortMerge(what: String, df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(!plan.exists {
      case b: BroadcastExchangeExec => outputsPerDoc(b)
      case _ => false
    }, s"$what: the per-doc tables must not be broadcast:\n$plan")
    assert(plan.exists {
      case j: SortMergeJoinExec => outputsPerDoc(j)
      case _ => false
    }, s"$what: the per-doc tables must join sort-merge:\n$plan")
  }

  test("round-14: degenerate index parameters throw at call time — " +
      "n=0 shingles, bands=0 LSH, off-range simhash bits") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Dedup.shingleArray(org.apache.spark.sql.functions.col("t"), 0))
    intercept[IllegalArgumentException](
      Dedup.lshCandidates(docs.toDF("id", "sig"), 0))
    intercept[IllegalArgumentException](
      Dedup.simhash(docs, "doc_id", "text", bits = 0))
    intercept[IllegalArgumentException](
      Dedup.simhash(docs, "doc_id", "text", bits = 65))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDup(docs, "doc_id", "text", bits = 62))
    intercept[IllegalArgumentException](
      Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = -1))
  }
}
