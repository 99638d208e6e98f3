package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Reference-format table support.
  *
  * The reference catalogs tables in human-readable `.det` files (line 1 =
  * #columns, line 2 = tuple bytes, then `name TYPE range PK|FK|NK bytes`
  * per column; types INTEGER | STRING | REAL — reference
  * src/RandomDB.java:57-110) and stores data as tab-separated `.txt`
  * converted to serialized `.tbl` (ConvertTxtToTbl.java:29-70). Here the
  * `.det` becomes a `StructType`; the [[DetDataSource]] scan reads the rows
  * from the `.tbl` or `.txt` with no conversion step.
  */
object DetSource {

  final case class DetColumn(name: String, dataType: DataType, range: Int,
      key: String, bytes: Int)
  final case class DetSchema(columns: Seq[DetColumn], tupleBytes: Int) {
    def structType: StructType =
      StructType(columns.map(c => StructField(c.name, c.dataType, nullable = false)))
  }

  def parseDet(path: String): DetSchema = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val nCols = lines.head.toInt
    val tupleBytes = lines(1).toInt
    val cols = lines.slice(2, 2 + nCols).map { line =>
      val t = line.split("\\s+")
      val dt = t(1) match {
        case "INTEGER" => IntegerType
        case "STRING"  => StringType
        case "REAL"    => FloatType
        case other     => sys.error(s"unknown .det type $other")
      }
      DetColumn(t(0), dt, t(2).toInt, t(3), t(4).toInt)
    }
    DetSchema(cols, tupleBytes)
  }

  /** Deterministic fixture generator for a `.det` schema — the reference's
    * RandomDB is time-seeded and therefore unreproducible
    * (RandomDB.java:14); this one derives every value from (seed 42, row,
    * column) hashes. PK columns get a permutation of [0, n). */
  def generate(spark: SparkSession, detPath: String, n: Int): DataFrame = {
    val seed = 42L
    val schema = parseDet(detPath)
    def h(row: Int, c: Int): Long = {
      var x = seed ^ (row * 2654435761L) ^ (c * 40503L)
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
      math.abs(x)
    }
    val rows = (0 until n).map { r =>
      Row.fromSeq(schema.columns.zipWithIndex.map { case (col, ci) =>
        col.dataType match {
          case IntegerType if col.key == "PK" =>
            // deterministic permutation of [0, n): bijective affine map
            ((r * 2654435761L + seed) % n).toInt
          case IntegerType => (h(r, ci) % math.max(col.range, 1)).toInt
          case FloatType   => (h(r, ci) % 100000).toFloat / 100000f * col.range
          case StringType  =>
            val len = math.max(1, (h(r, ci) % col.range).toInt)
            val sb = new StringBuilder
            (0 until len).foreach(k => sb += ('a' + (h(r, ci * 31 + k) % 26).toInt).toChar)
            sb.result()
        }
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), schema.structType)
  }
}
