package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row

import graft.queries.StreamQueries
import graft.sources.Tables
import graft.streaming.Drain

/** The events timestamp decoder ([[Tables.eventsRaw]] + [[Tables.tsMicros]])
  * on both physical encodings. The sf fixtures ship TIMESTAMP(MICROS); this
  * spec writes the same rows as TIMESTAMP(NANOS) (parquet-mr's example
  * writer, each ts carrying 999 sub-µs nanoseconds) and asserts batch
  * [[Tables.events]] and a drained [[StreamQueries.eventsStream]] decode
  * both files to the same epoch-µs `ts_us`.
  */
class EventsTimestampSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** `events.parquet` in a fresh dir: `rows` with ts = ts_us·1000 + 999 ns. */
  private def writeNanosEvents(rows: Seq[Row]): String = {
    val dir = graft.util.TempDirs.create("graft-events-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new HPath(s"$dir/events.parquet"), conf)
    val writer = ExampleParquetWriter.builder(out).withType(schema)
      .withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      g.add("event_id", r.getAs[Long]("event_id"))
      g.add("ts", r.getAs[Long]("ts_us") * 1000L + 999L)
      if (!r.isNullAt(r.fieldIndex("user_id"))) g.add("user_id", r.getAs[Long]("user_id"))
      if (!r.isNullAt(r.fieldIndex("event_type")))
        g.add("event_type", r.getAs[String]("event_type"))
      if (!r.isNullAt(r.fieldIndex("value"))) g.add("value", r.getAs[Double]("value"))
      if (!r.isNullAt(r.fieldIndex("props"))) g.add("props", r.getAs[String]("props"))
      writer.write(g)
    } finally writer.close()
    dir
  }

  private def tsBatch(dir: String): Set[(Long, Long)] =
    Tables.events(spark, dir).select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def tsStream(dir: String): Set[(Long, Long)] =
    Drain.toMemory(spark, "events_ts", 1, "append") { ss =>
      StreamQueries.eventsStream(ss, dir).select("event_id", "ts_us")
    }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("TIMESTAMP(NANOS) and TIMESTAMP(MICROS) events decode to the same " +
      "ts_us, batch and streaming") {
    val micros = Tables.events(spark, sf).collect().toSeq
    val nanosDir = writeNanosEvents(micros)
    assert(Tables.eventsRaw(spark, nanosDir).schema("ts").dataType
      == org.apache.spark.sql.types.LongType, "fixture is not TIMESTAMP(NANOS)")
    val expected = tsBatch(sf)
    assert(expected.size == micros.size && expected.nonEmpty)
    assert(tsBatch(nanosDir) == expected)
    assert(tsStream(sf) == expected)
    assert(tsStream(nanosDir) == expected)
  }
}
