package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.types.{FloatType, IntegerType, StructType}

/** Cost-based-optimizer statistics bootstrapping — the Spark equivalent of
  * the reference's `.stat` files (row count + per-column distinct counts,
  * reference src/qp/optimizer/PlanCost.java:219-263).
  *
  * Registers the testdata as catalog tables, computes row counts and
  * per-column NDV/min/max via `ANALYZE TABLE ... FOR ALL COLUMNS`, and
  * flips the CBO + join-reorder flags, so Catalyst costs join orders from
  * the same V(A) statistics the reference's PlanCost used (instead of
  * relying purely on AQE's runtime sizes).
  *
  * A reference `.stat` file maps to Catalyst statistics in one place,
  * [[statTable]], whose result the reference-format DSv2 scan reports
  * ([[DetDataSource]]). Parquet tables take the Spark-native route,
  * [[analyze]].
  */
object Stats {

  def analyze(spark: SparkSession, sfDir: String,
      tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
        "part", "orders", "lineitem")): Unit = {
    tables.foreach { t =>
      saveAsCatalogTable(spark, s"${t}_s", graft.Tables.load(spark, sfDir, t))
      spark.sql(s"ANALYZE TABLE ${t}_s COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    enableCbo(spark)
  }

  /** Turn on the cost-based optimizer and its join reorder. */
  def enableCbo(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
  }

  /** Overwrite-register `df` as catalog table `name`. The in-memory
    * catalog resets per JVM but the warehouse directory persists —
    * saveAsTable refuses an orphaned location, so clear it first. */
  private def saveAsCatalogTable(spark: SparkSession, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val db = spark.catalog.currentDatabase
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      (if (db == "default") "" else s"$db.db/") + name.toLowerCase)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    df.write.mode("overwrite").format("parquet").saveAsTable(s"`$name`")
  }

  /** Parse a reference `<table>.stat` file. Format (reference
    * src/qp/optimizer/PlanCost.java:219-263): line 1 is the tuple count,
    * line 2 is one distinct-value count per schema column, in column order,
    * whitespace-separated. Returns (numtuples, per-column NDVs). */
  def readStat(path: String): (Long, Seq[Long]) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    require(lines.size >= 2, s"stat file $path needs 2 lines, got ${lines.size}")
    val head = lines.get(0).trim.split("\\s+")
    require(head.length == 1, s"stat file $path line 1 must be a single tuple count")
    val (numTuples, ndvs) = (head(0).toLong, lines.get(1).trim.split("\\s+").toSeq.map(_.toLong))
    // a negative count would reach the optimizer as a negative size,
    // which reads as small enough to broadcast
    require(numTuples >= 0 && ndvs.forall(_ >= 0), s"stat file $path has a negative count")
    (numTuples, ndvs)
  }

  /** A table's `.stat` as Catalyst statistics: the tuple count and one
    * [[ColumnStat]] per column, in `columns` order. */
  final case class StatTable(rowCount: Long, columns: Seq[(String, ColumnStat)]) {
    /** numtuples x the default width of `schema`'s rows, mirroring the
      * reference's pages = numtuples / (pagesize / tuplesize) arithmetic.
      * BigInt because the tuple count is EXTERNAL input and a Long
      * overflow would flip a huge table into a broadcastable one. */
    def sizeInBytes(schema: StructType): BigInt =
      BigInt(rowCount) * schema.fields.map(_.dataType.defaultSize).sum.max(1)
  }

  /** The one mapping from a reference `.stat` to column statistics. Each
    * column gets its `.stat` NDV as `distinctCount`. With the table's
    * `.det` catalog it also gets `nullCount` 0 (the `.txt` format has no
    * NULL encoding) and, for numeric columns, the RandomDB value domain
    * [0, range): min 0 and max range-1 (INTEGER) or range (REAL).
    * Catalyst's join estimate needs all of these: a key without a null
    * count has no count stats, and the join is then estimated as the
    * cartesian product of its inputs; a numeric key with counts but no
    * min/max is estimated to match nothing. Without a `.det` (a `.md`
    * schema) only the NDVs are known. Throws on a malformed file
    * or an NDV count that differs from the column count. */
  def statTable(statPath: String, columns: Seq[String],
      det: Option[DetSource.DetSchema]): StatTable = {
    val (numTuples, ndvs) = readStat(statPath)
    require(ndvs.size == columns.size,
      s"stat file $statPath has ${ndvs.size} NDVs for ${columns.size} columns")
    val detCols = det.toSeq.flatMap(_.columns).map(c => c.name -> c).toMap
    StatTable(numTuples, columns.zip(ndvs).map { case (name, ndv) =>
      val distinct = ColumnStat(distinctCount = Some(BigInt(ndv)))
      name -> detCols.get(name).fold(distinct) { c =>
        val (min, max) = c.dataType match {
          case IntegerType if c.range > 0 => (Some(0), Some(c.range - 1))
          case FloatType if c.range > 0   => (Some(0f), Some(c.range.toFloat))
          case _                          => (None, None)
        }
        distinct.copy(nullCount = Some(BigInt(0)), min = min, max = max)
      }
    })
  }

  /** A `.stat` that cannot be used (malformed, or beside a parquet table)
    * degrades to no stats, LOUDLY: silent degradation would undo the
    * point of shipping it, and failing the load (or a query) over an
    * estimate would be worse. */
  def warnIgnored(statPath: String, reason: String): Unit =
    System.err.println(s"WARNING: $statPath ignored, table served without stats: $reason")
}
