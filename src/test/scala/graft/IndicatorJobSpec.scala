package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.IndicatorJob

/** End-to-end batch indicator job: compute -> dim join -> anti-join vs sink ->
  * append, with the reference's idempotence property (re-run appends 0).
  */
class IndicatorJobSpec extends SparkTestBase {
  import spark.implicits._

  private def typeDim = graft.model.Schemas.indicatorTypeSeed.toDF("type_id", "type_name")

  private def klineFixture = {
    // 2 series x 20 klines of drifting prices, second-grain timestamps
    val rows = for {
      (sym, iv) <- Seq((1, 1), (2, 1))
      i <- 0 until 20
    } yield (sym, iv,
      java.sql.Timestamp.valueOf(f"2024-01-01 ${i}%02d:00:00"),
      100.0 + sym * 10 + math.sin(i * 1.3) * 5 + i * 0.5)
    rows.toDF("symbol_id", "interval_id", "close_time", "close_price")
  }

  test("run is idempotent: second run on unchanged input appends 0 rows") {
    val dir = graft.util.TempDirs.create("graft-ind").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)

    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(first > 0)
    val second = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(second == 0, "re-run must append nothing (spark_job_1.py:74-85 parity)")
    assert(spark.read.parquet(indPath).count() == first)
  }

  test("round-13: NULL close_time klines never break idempotence (the " +
      "null-unsafe anti-join would re-append their rows on every run)") {
    val dir = graft.util.TempDirs.create("graft-ind3").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture
      .unionByName(Seq((1, 1, null: java.sql.Timestamp, 999.0))
        .toDF("symbol_id", "interval_id", "close_time", "close_price"))
      .write.parquet(klinePath)
    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(first > 0)
    val second = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(second == 0,
      "NULL-timestamp rows re-appended: idempotence contract broken")
    assert(spark.read.parquet(indPath)
      .filter(col("timestamp").isNull).count() == 0,
      "NULL-timestamp indicator rows reached the sink")
  }

  test("a sink holding only a dead first append's committer files does " +
      "not wedge the job: run appends, and a second run appends 0") {
    val dir = graft.util.TempDirs.create("graft-ind4").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)
    // the path exists, but holds no visible data file: schema inference
    // over it fails, so the job must not read it as the existing sink
    val attempt = Files.createDirectories(java.nio.file.Paths.get(
      indPath, "_temporary", "0", "_temporary", "attempt_0"))
    Files.createFile(attempt.resolve("part-00000.parquet"))
    Files.createFile(java.nio.file.Paths.get(indPath, "_SUCCESS"))

    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(first > 0)
    val second = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(second == 0, "re-run over the recovered sink must append nothing")
    assert(spark.read.parquet(indPath).count() == first)
  }

  test("late rows: only the new keys are appended on re-run") {
    val dir = graft.util.TempDirs.create("graft-ind2").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)
    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)

    // two more klines arrive for series (1,1)
    Seq(
      (1, 1, java.sql.Timestamp.valueOf("2024-01-01 20:00:00"), 123.4),
      (1, 1, java.sql.Timestamp.valueOf("2024-01-01 21:00:00"), 124.9))
      .toDF("symbol_id", "interval_id", "close_time", "close_price")
      .write.mode("append").parquet(klinePath)

    val appended = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    // 2 new timestamps x at most 4 types each (RSI may be NULL-filtered)
    assert(appended > 0 && appended <= 8)
    val total = spark.read.parquet(indPath).count()
    assert(total == first + appended)
    // key uniqueness — the UNIQUE(symbol,interval,type,timestamp) invariant
    val dups = spark.read.parquet(indPath)
      .groupBy(IndicatorJob.keyCols.map(col): _*).count().filter($"count" > 1).count()
    assert(dups == 0)
  }

  test("computed values carry declared decimal type and join to seeded type ids") {
    val out = IndicatorJob.computeIndicators(klineFixture, typeDim)
    assert(out.schema("value").dataType == graft.model.Schemas.indicatorDecimal)
    val ids = out.select("type_id").distinct().as[Int].collect().toSet
    assert(ids.subsetOf(Set(1, 2, 3, 4)) && ids.contains(1))
  }
}
