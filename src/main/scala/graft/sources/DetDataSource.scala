package graft.sources

import java.io.{BufferedReader, DataInputStream, InputStreamReader}
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
import org.apache.spark.sql.types.{DataType, FloatType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for every reference-format table
  * (reference src/RandomDB.java / ConvertTxtToTbl.java): the schema comes
  * from the `.det` catalog, or from the serialized `.md` catalog when
  * there is no `.det`; the rows from the serialized `.tbl` (parsed by
  * [[TblSource.readRows]]) or else the tab-separated `.txt`; and, when it
  * sits beside them, the `.stat` statistics file (PlanCost.java:219-263).
  *
  * {{{
  *   spark.read.format("graft.sources.DetDataSource")
  *     .load("/path/to/CUSTOMER")  // CUSTOMER.det|.md + CUSTOMER.tbl|.txt [+ CUSTOMER.stat]
  * }}}
  *
  * Loading is metadata-only: the `.det`/`.md` and `.stat` are read once,
  * when the table is created, plus a `.tbl`'s 4-byte stream header, so a
  * file that is no serialization stream fails the load; no data is
  * copied. The scan reports the `.stat` numbers to Catalyst
  * (`SupportsReportStatistics`: row count, size, and per-column stats from
  * [[Stats.statTable]], with null count and value domain when there is a
  * `.det`), so the cost-based optimizer plans joins from them, as the
  * reference's PlanCost does. A malformed `.stat` is ignored with a
  * WARNING naming the file; the table is then served without stats.
  *
  * Implements column pruning (`SupportsPushDownRequiredColumns`): only the
  * projected fields are converted. The rows file is read through Hadoop's
  * `FileSystem` (a `.txt` as UTF-8), so Spark's input metrics count its
  * bytes, and a read error names the file. One input partition per
  * table — the reference's files are single small files, and a `.tbl` is
  * one unsplittable stream.
  */
class DetDataSource extends TableProvider {
  private def basePath(options: CaseInsensitiveStringMap): String = {
    val paths = options.get("paths")
    if (paths != null && paths.startsWith("[")) // JSON array from .load(path)
      paths.stripPrefix("[\"").stripSuffix("\"]")
    else Option(options.get("path")).getOrElse(sys.error("det source: no path given"))
  }

  /** The `.det` catalog; None for a table with a `.md` and no `.det`. */
  private def det(path: String): Option[DetSource.DetSchema] = {
    val schema = DetDataSource.layout(path).schema
    if (schema.endsWith(".det")) Some(DetSource.parseDet(schema)) else None
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = basePath(options)
    det(path).fold(TblSource.readMdSchema(path + ".md"))(_.structType)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = basePath(new CaseInsensitiveStringMap(properties))
    val rows = DetDataSource.layout(path).rows.getOrElse(path + ".txt")
    if (rows.endsWith(".tbl")) {
      val in = new DataInputStream(Files.newInputStream(Paths.get(rows)))
      try TblSource.readHeader(in) finally in.close()
    }
    new DetTable(path, rows, schema, statsBeside(path, schema))
  }

  override def supportsExternalMetadata(): Boolean = true

  /** `<path>.stat` as Catalyst statistics, if it sits beside the table. */
  private def statsBeside(path: String, schema: StructType): Option[Stats.StatTable] = {
    val stat = path + ".stat"
    if (!Files.exists(Paths.get(stat))) None
    else try Some(Stats.statTable(stat, schema.fieldNames.toSeq, det(path))) catch {
      case NonFatal(e) => Stats.warnIgnored(stat, e.toString); None
    }
  }
}

object DetDataSource {
  /** The files of the reference table at base path `path`: `schema` is
    * the `.det`, else the `.md` (the `.det` when neither exists, so the
    * load names it as missing); `rows` is the `.tbl`, else the `.txt`,
    * and None when neither exists. The one place that decides the
    * layout: the scan and [[graft.dialect.QueryRunner.loadTables]] both
    * ask it. */
  final case class Layout(schema: String, rows: Option[String])

  def layout(path: String): Layout = {
    def exists(ext: String) = Files.exists(Paths.get(path + ext))
    Layout(
      if (exists(".det") || !exists(".md")) path + ".det" else path + ".md",
      Seq(".tbl", ".txt").find(exists).map(path + _))
  }
}

/** The reference table at `path`, served from `rows`, its `.tbl` or `.txt`. */
final class DetTable(val path: String, val rows: String, tableSchema: StructType,
    val stats: Option[Stats.StatTable])
    extends Table with SupportsRead {
  override def name(): String = path
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DetScanBuilder(this)

  /** The Hadoop configuration the readers open the rows file with, broadcast
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
    Array(DetInputPartition(table.rows))
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

final case class DetInputPartition(rows: String) extends InputPartition

final class DetReaderFactory(full: StructType, required: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = new Path(partition.asInstanceOf[DetInputPartition].rows)
    // convert only the projected fields, by position in the full schema
    val picks = required.fields.map(f => full.fieldIndex(f.name))
    new PartitionReader[InternalRow] {
      private val in = file.getFileSystem(conf.value.value).open(file)
      // parsed on the first next(), once Spark will close() this reader
      private lazy val rows: Iterator[InternalRow] =
        if (file.getName.endsWith(".tbl")) TblSource.readRows(in).iterator.map { vals =>
          require(vals.length == full.length,
            s"row has ${vals.length} fields, catalog declares ${full.length}")
          new GenericInternalRow(Array.tabulate[Any](picks.length)(i =>
            DetReaderFactory.fromTbl(required.fields(i), vals(picks(i)))))
        } else {
          val lines = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
          Iterator.continually(lines.readLine()).takeWhile(_ != null).filter(_.nonEmpty).map { line =>
            val cells = line.split("\t")
            new GenericInternalRow(Array.tabulate[Any](picks.length)(i =>
              DetReaderFactory.fromTxt(required.fields(i).dataType, cells(picks(i)))))
          }
        }
      private var row: InternalRow = _

      override def next(): Boolean =
        try rows.hasNext && { row = rows.next(); true } catch {
          case NonFatal(e) => throw new IllegalArgumentException(s"cannot read $file: $e", e)
        }
      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}

object DetReaderFactory {
  private def fromTxt(dataType: DataType, raw: String): Any = dataType match {
    case IntegerType => raw.toInt
    case FloatType   => raw.toFloat
    case StringType  => UTF8String.fromString(raw)
  }

  /** A `.tbl` value as the catalog's type; an INTEGER written into a REAL
    * column widens to float. */
  private def fromTbl(f: StructField, v: Any): Any = (f.dataType, v) match {
    case (IntegerType, i: Int)   => i
    case (FloatType, fl: Float)  => fl
    case (FloatType, i: Int)     => i.toFloat
    case (StringType, s: String) => UTF8String.fromString(s)
    case (dt, other) => sys.error(s"$other does not fit $dt for ${f.name}")
  }
}
