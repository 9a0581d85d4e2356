package graft

import graft.streaming.DrainWidth

/** Bounded-drain shuffle width: `clamp(ceil(bytes / 64 MiB), 2, 200)`,
  * unless `graft.drain.partitions` overrides it.
  */
class DrainWidthSpec extends SparkTestBase {

  private val MiB = 1L << 20

  private def width(bytes: Long): Int = DrainWidth.forBytes(spark, bytes)

  private def withPartitions[A](v: String)(f: => A): A = {
    spark.conf.set(DrainWidth.PartitionsKey, v)
    try f finally spark.conf.unset(DrainWidth.PartitionsKey)
  }

  test("0 bytes takes the floor width of 2") {
    assert(width(0L) == 2)
    assert(width(-1L) == 2)
  }

  test("the width is ceil(bytes / 64 MiB) above the floor") {
    assert(width(1L) == 2)
    assert(width(128 * MiB) == 2)
    assert(width(128 * MiB + 1) == 3)
    assert(width(640 * MiB) == 10)
    assert(width(640 * MiB + 1) == 11)
  }

  test("the width is capped at 200") {
    assert(width(199 * 64 * MiB + 1) == 200)
    assert(width(200 * 64 * MiB) == 200)
    assert(width(200 * 64 * MiB + 1) == 200)
    assert(width(1L << 50) == 200)
  }

  test("graft.drain.partitions wins over the derivation, floor and cap") {
    withPartitions("7") {
      assert(width(0L) == 7)
      assert(width(1L << 50) == 7)
    }
    withPartitions(" 1 ")(assert(width(640 * MiB) == 1))
    withPartitions("500")(assert(width(0L) == 500))
  }

  test("an override below 1 or a non-int is rejected with the key named") {
    Seq("0", "-3", "four", "2.5", "3000000000").foreach { v =>
      val e = intercept[IllegalArgumentException](withPartitions(v)(width(0L)))
      assert(e.getMessage.contains(DrainWidth.PartitionsKey),
        s"'$v': error must name the key: ${e.getMessage}")
    }
  }
}
