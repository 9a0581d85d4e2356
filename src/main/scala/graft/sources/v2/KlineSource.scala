package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 batch source for the Binance-kline wire stream (SURVEY §2.1
  * S1: the reference's driver-side REST sweep, producer_prices.py:21-27,
  * which §2.1 maps to "a custom DataSourceV2/TableProvider at scale").
  *
  * The table models a replayable landing zone: a directory of
  * `<symbol>-<interval>.jsonl` files, one raw producer-wire JSON message per
  * line (the captured-fixture layout, FIXTURES.md §A). In production the
  * same partition layout is fed by the sweep; here it is the zero-egress
  * replay. Decoding stays in [[graft.sources.KafkaJson.parsePrices]] — this
  * source's job is SCAN STRUCTURE, not parsing:
  *
  *   - one InputPartition per (symbol, interval) key — the natural unit of
  *     parallelism AND of pruning (the reference's 16-key sweep; thousands
  *     of keys at scale);
  *   - `symbol`/`interval` equality and IN filters are PUSHED: matching
  *     partitions are planned, the rest never touch the executor
  *     (observable as the scan's RDD partition count);
  *   - column pruning is honored (a value-only projection never
  *     materializes the key strings).
  *
  * Usage: `spark.read.format("graft-klines").option("path", dir)
  *   [.option("limit", n)].load()` → rows (symbol, interval, value).
  */
class KlineSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-klines"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KlineSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KlineTable(properties.asScala.toMap)
}

object KlineSource {
  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("interval", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** (symbol, interval) keys present in the landing dir, from file names. */
  def listKeys(path: String): Seq[(String, String)] = {
    val dir = new java.io.File(path)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
    files.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".jsonl"))
      .map(_.getName.stripSuffix(".jsonl"))
      .flatMap { base =>
        base.lastIndexOf('-') match {
          case -1 => None
          case i => Some((base.substring(0, i), base.substring(i + 1)))
        }
      }
      .sorted
  }
}

class KlineTable(props: Map[String, String]) extends Table with SupportsRead {
  private val path = props.getOrElse("path",
    throw new IllegalArgumentException("graft-klines requires option 'path'"))

  override def name(): String = s"graft-klines(`$path`)"
  override def schema(): StructType = KlineSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KlineScanBuilder(path,
      Option(options.get("limit"))
        .map(graft.util.Knob.parseInt("graft-klines option 'limit'", _, ""))
        .getOrElse(Int.MaxValue))
}

class KlineScanBuilder(path: String, limit: Int) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = KlineSource.schema
  private var pushed: Array[Filter] = Array.empty

  /** Accept symbol/interval equality and IN — they prune whole partitions.
    * Everything else stays with Spark (returned as post-scan residual).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case EqualTo(a, _) => a == "symbol" || a == "interval"
      case In(a, _) => a == "symbol" || a == "interval"
      case _ => false
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new KlineScan(path, limit, required, pushed)
}

case class KlinePartition(symbol: String, interval: String, file: String)
  extends InputPartition

class KlineScan(path: String, limit: Int, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-klines path=$path pushed=${pushed.mkString(",")}"

  private def keep(col: String, v: String): Boolean = pushed.forall {
    case EqualTo(a, lit) if a == col => lit == v
    case In(a, vs) if a == col => vs.contains(v)
    case _ => true
  }

  override def planInputPartitions(): Array[InputPartition] =
    KlineSource.listKeys(path)
      .filter { case (s, i) => keep("symbol", s) && keep("interval", i) }
      .map { case (s, i) =>
        KlinePartition(s, i, s"$path/$s-$i.jsonl"): InputPartition
      }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val cols = required.fieldNames
    val lim = limit
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[KlinePartition]
      new PartitionReader[InternalRow] {
        // STREAM the file (round-13 fix): readAllLines materialized the
        // whole per-key landing file on the executor heap before take(lim)
        // — OOM-bound by the largest file at scale; Files.lines reads
        // lazily, stops after `lim` lines, and is closed in close()
        private val stream: java.util.stream.Stream[String] = {
          val f = new java.io.File(p.file)
          if (!f.isFile) java.util.stream.Stream.empty[String]()
          else java.nio.file.Files.lines(f.toPath)
        }
        private val lines: Iterator[String] =
          stream.iterator().asScala.take(lim)
        private var current: InternalRow = _
        override def next(): Boolean =
          if (!lines.hasNext) false
          else {
            val line = lines.next()
            current = InternalRow.fromSeq(cols.toSeq.map {
              case "symbol" => UTF8String.fromString(p.symbol)
              case "interval" => UTF8String.fromString(p.interval)
              case "value" => UTF8String.fromString(line)
            })
            true
          }
        override def get(): InternalRow = current
        override def close(): Unit = stream.close()
      }
    }
  }
}
