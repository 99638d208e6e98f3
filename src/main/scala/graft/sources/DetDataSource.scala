package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util
import java.util.{Optional, OptionalLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the reference's native table format: a
  * `.det` catalog (schema) plus a tab-separated `.txt` data file
  * (reference src/RandomDB.java / ConvertTxtToTbl.java), and, when it sits
  * beside them, the `.stat` statistics file (PlanCost.java:219-263).
  *
  * {{{
  *   spark.read.format("graft.sources.DetDataSource")
  *     .load("/path/to/CUSTOMER")  // CUSTOMER.det + CUSTOMER.txt [+ CUSTOMER.stat]
  * }}}
  *
  * Loading is metadata-only: the `.det` and `.stat` are read once, when
  * the table is created, and no data is copied. The scan reports the
  * `.stat` numbers to Catalyst (`SupportsReportStatistics`: row count,
  * size, and per-column stats from [[Stats.statTable]]), so the cost-based
  * optimizer plans joins from them, as the reference's PlanCost does. A
  * malformed `.stat` is ignored with a WARNING naming the file; the table
  * is then served without stats.
  *
  * Implements column pruning (`SupportsPushDownRequiredColumns`): only the
  * projected fields are parsed out of each line. The `.txt` is read as
  * UTF-8 through Hadoop's `FileSystem`, so Spark's input metrics count its
  * bytes. One input partition per table — the reference's files are
  * single small text files; a scale-path implementation would split on
  * byte ranges like the built-in text source.
  */
class DetDataSource extends TableProvider {
  private def basePath(options: CaseInsensitiveStringMap): String = {
    val paths = options.get("paths")
    if (paths != null && paths.startsWith("[")) // JSON array from .load(path)
      paths.stripPrefix("[\"").stripSuffix("\"]")
    else Option(options.get("path")).getOrElse(sys.error("det source: no path given"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DetSource.parseDet(basePath(options) + ".det").structType

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = basePath(new CaseInsensitiveStringMap(properties))
    new DetTable(path, schema, statsBeside(path))
  }

  override def supportsExternalMetadata(): Boolean = true

  /** `<path>.stat` as Catalyst statistics, if it sits beside the table. */
  private def statsBeside(path: String): Option[Stats.StatTable] = {
    val stat = path + ".stat"
    if (!Files.exists(Paths.get(stat))) None
    else try {
      val det = DetSource.parseDet(path + ".det")
      Some(Stats.statTable(stat, det.columns.map(_.name), Some(det)))
    } catch {
      case NonFatal(e) => Stats.warnIgnored(stat, e); None
    }
  }
}

final class DetTable(val path: String, tableSchema: StructType,
    val stats: Option[Stats.StatTable])
    extends Table with SupportsRead {
  override def name(): String = path
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DetScanBuilder(this)

  /** The Hadoop configuration the readers open the `.txt` with, broadcast
    * once per table on first use. Adaptive planning asks each query's
    * scans for a reader factory several times, and a broadcast per ask
    * cost ~10 ms each: ~90 ms of planning per 4-table join on 4 cores. */
  lazy val hadoopConf: Broadcast[SerializableConfiguration] = {
    val sc = SparkSession.active.sparkContext
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
  }
}

final class DetScanBuilder(table: DetTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = table.schema()
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new DetScan(table, required)
}

final class DetScan(table: DetTable, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(DetInputPartition(table.path))
  override def createReaderFactory(): PartitionReaderFactory =
    new DetReaderFactory(table.schema(), required, table.hadoopConf)

  /** Without a `.stat` every figure is absent and Catalyst keeps its
    * defaults. sizeInBytes is over the pruned read schema, capped at
    * Long.MaxValue rather than wrapped. */
  override def estimateStatistics(): Statistics = {
    val stats = table.stats
    val size = stats.map(_.sizeInBytes(required).min(Long.MaxValue).toLong)
    val columns = stats.toSeq.flatMap(_.columns).filter(c => required.names.contains(c._1))
    new Statistics {
      override def numRows(): OptionalLong =
        stats.fold(OptionalLong.empty())(s => OptionalLong.of(s.rowCount))
      override def sizeInBytes(): OptionalLong =
        size.fold(OptionalLong.empty())(OptionalLong.of)
      override def columnStats(): util.Map[NamedReference, ColumnStatistics] =
        columns.map { case (name, s) => (DetScan.ColumnRef(name): NamedReference) -> DetScan.v2(s) }
          .toMap.asJava
    }
  }
}

object DetScan {
  /** A top-level column, named whole; Spark matches column stats to
    * attributes by `describe()`. `Expressions.column` would run the name
    * through the SQL parser, whose first use in a JVM costs ~0.2 s of the
    * first query's planning. */
  private final case class ColumnRef(name: String) extends NamedReference {
    override def fieldNames(): Array[String] = Array(name)
    override def describe(): String = name
  }

  private def opt(v: Option[BigInt]): OptionalLong =
    v.fold(OptionalLong.empty())(n => OptionalLong.of(n.toLong))

  /** A Catalyst column stat as the connector API's column statistics. */
  private def v2(s: ColumnStat): ColumnStatistics = new ColumnStatistics {
    override def distinctCount(): OptionalLong = opt(s.distinctCount)
    override def nullCount(): OptionalLong = opt(s.nullCount)
    override def min(): Optional[Object] = Optional.ofNullable(s.min.orNull.asInstanceOf[Object])
    override def max(): Optional[Object] = Optional.ofNullable(s.max.orNull.asInstanceOf[Object])
  }
}

final case class DetInputPartition(path: String) extends InputPartition

final class DetReaderFactory(full: StructType, required: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = new Path(partition.asInstanceOf[DetInputPartition].path + ".txt")
    new PartitionReader[InternalRow] {
      private val in = new BufferedReader(new InputStreamReader(
        file.getFileSystem(conf.value.value).open(file), StandardCharsets.UTF_8))
      private var row: InternalRow = _
      // parse only the projected fields, by position in the full schema
      private val picks = required.fields.map(f => full.fieldIndex(f.name))

      override def next(): Boolean = {
        var line = in.readLine()
        while (line != null && line.isEmpty) line = in.readLine()
        if (line == null) return false
        val cells = line.split("\t")
        val vals = new Array[Any](picks.length)
        var i = 0
        while (i < picks.length) {
          val raw = cells(picks(i))
          vals(i) = required.fields(i).dataType match {
            case IntegerType => raw.toInt
            case FloatType   => raw.toFloat
            case StringType  => UTF8String.fromString(raw)
          }
          i += 1
        }
        row = new GenericInternalRow(vals)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}
