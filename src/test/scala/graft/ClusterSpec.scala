package graft

import graft.operators.Dedup

/** Connected-component cluster labeling: chains, separate components,
  * singletons, convergence on multi-hop graphs.
  */
class ClusterSpec extends SparkTestBase {
  import spark.implicits._

  private def labelsOf(pairs: Seq[(Long, Long)], nodes: Seq[Long],
      smallGraphEdges: Long = 5000000L): Map[Long, Long] =
    Dedup.clusterLabels(pairs.toDF("id_1", "id_2"), nodes.toDF("id"),
        smallGraphEdges = smallGraphEdges)
      .as[(Long, Long)].collect().toMap

  test("chain merges into one cluster labeled by the minimum id") {
    // 5 - 3 - 9 - 7 chain, plus pair (20, 21), plus singleton 42
    val l = labelsOf(Seq((5L, 3L), (3L, 9L), (9L, 7L), (20L, 21L)),
      Seq(3L, 5L, 7L, 9L, 20L, 21L, 42L))
    assert(Seq(3L, 5L, 7L, 9L).forall(l(_) == 3L))
    assert(l(20L) == 20L && l(21L) == 20L)
    assert(l(42L) == 42L)
  }

  test("long path converges within the iteration bound") {
    // 0-1-2-...-15 path: worst case for label propagation
    val pairs = (0L until 15L).map(i => (i, i + 1))
    val l = labelsOf(pairs, 0L to 15L)
    assert((0L to 15L).forall(l(_) == 0L))
  }

  test("union-find fast path and distributed loop agree exactly") {
    val rnd = new scala.util.Random(7)
    val nodes = (0L until 60L)
    // random sparse graph: multi-hop chains, cycles, singletons
    val pairs = Seq.fill(40)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val fast = labelsOf(pairs, nodes) // default threshold -> union-find
    val dist = labelsOf(pairs, nodes, smallGraphEdges = 0L) // force the loop
    assert(fast == dist)
  }

  test("distributed loop handles long paths when forced past the fast path") {
    val pairs = (0L until 15L).map(i => (i, i + 1))
    val l = labelsOf(pairs, 0L to 15L, smallGraphEdges = 0L)
    assert((0L to 15L).forall(l(_) == 0L))
  }

  // 0-1-...-29 path: 29 propagations to settle, more than the default
  // maxIter = 20 allows
  private def path30 = (0L until 29L).map(i => (i, i + 1)).toDF("id_1", "id_2")

  test("distributed loop throws instead of returning unconverged labels") {
    val e = intercept[IllegalStateException] {
      Dedup.memberLabels(path30, smallGraphEdges = 0L)
    }
    assert(e.getMessage.contains("maxIter = 20"), e.getMessage)
    assert(e.getMessage.contains("20 iterations"), e.getMessage)
  }

  test("distributed loop labels the 30-node path with a large enough maxIter") {
    val l = Dedup.memberLabels(path30, maxIter = 32, smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(l.keySet == (0L to 29L).toSet)
    assert(l.values.forall(_ == 0L), s"unconverged labels: $l")
  }

  test("empty pair set labels every node as its own singleton cluster") {
    val l = labelsOf(Seq.empty, Seq(1L, 5L, 9L))
    assert(l == Map(1L -> 1L, 5L -> 5L, 9L -> 9L))
    val forced = labelsOf(Seq.empty, Seq(2L), smallGraphEdges = 0L)
    assert(forced == Map(2L -> 2L))
  }

  test("labels are idempotent: relabeling the labeled graph changes nothing") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val once = labelsOf(pairs, Seq(1L, 2L, 3L, 10L, 11L))
    val twice = labelsOf(pairs, Seq(1L, 2L, 3L, 10L, 11L))
    assert(once == twice)
  }

  test("round-16: memberLabels equals clusterLabels restricted to " +
      "edge-touching nodes, on both resolution paths") {
    val rnd = new scala.util.Random(11)
    val nodes = 0L until 80L
    val pairs = Seq.fill(50)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    val touching = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    for (threshold <- Seq(5000000L, 0L)) { // union-find path, then forced loop
      val full = labelsOf(pairs, nodes, smallGraphEdges = threshold)
      val members = Dedup.memberLabels(pairs.toDF("id_1", "id_2"),
          smallGraphEdges = threshold)
        .as[(Long, Long)].collect().toMap
      assert(members.keySet == touching,
        "memberLabels must cover exactly the edge-touching nodes")
      assert(members == full.view.filterKeys(touching).toMap,
        "member labels must agree with the full labeling")
    }
  }

  test("round-16: memberLabels of an empty pair set is empty (no phantom " +
      "rows for a clean corpus)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_1", "id_2")
    assert(Dedup.memberLabels(empty).isEmpty)
  }

  test("round-16: memberLabels emits LongType node/label on BOTH " +
      "resolution paths even for narrower integral inputs — the schema " +
      "must not flip when the corpus crosses the smallGraphEdges " +
      "threshold (downstream appends/unions would break)") {
    val pairs = Seq((1, 2), (2, 3)).toDF("id_1", "id_2") // IntegerType ids
    for (threshold <- Seq(5000000L, 0L)) {
      val out = Dedup.memberLabels(pairs, smallGraphEdges = threshold)
      assert(out.schema.fields.map(_.dataType.simpleString).toSeq ==
        Seq("bigint", "bigint"),
        s"smallGraphEdges=$threshold: schema ${out.schema.simpleString}")
      assert(out.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    }
  }

  test("round-17: memberLabels drops reflexive pairs — a node whose only " +
      "pair is itself is NOT a phantom one-member cluster, on both " +
      "resolution paths (the library's pair producers enforce id_1 < " +
      "id_2, but the public API must not depend on that)") {
    // 7 has only a self-pair; 1-2 is a real cluster that also carries a
    // redundant self-pair on 1 (must not perturb its labels)
    val pairs = Seq((7L, 7L), (1L, 1L), (1L, 2L)).toDF("id_1", "id_2")
    for (threshold <- Seq(5000000L, 0L)) {
      val out = Dedup.memberLabels(pairs, smallGraphEdges = threshold)
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 1L),
        s"smallGraphEdges=$threshold: got $out")
    }
    // all-reflexive input degenerates to the empty-member case
    val onlySelf = Seq((9L, 9L)).toDF("id_1", "id_2")
    assert(Dedup.memberLabels(onlySelf).isEmpty)
    // clusterLabels (member labels + singleton rejoin) still labels the
    // self-paired node as its own singleton when it is in the node frame
    val l = labelsOf(Seq((7L, 7L), (1L, 2L)), Seq(1L, 2L, 7L))
    assert(l == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("round-16: memberLabels rejects non-integral id columns") {
    val pairs = Seq(("a", "b")).toDF("id_1", "id_2")
    val e = intercept[IllegalArgumentException] {
      Dedup.memberLabels(pairs)
    }
    assert(e.getMessage.contains("integral"))
  }
}
