package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat

/** Bridge to the `private[sql]` session catalog for injecting table-level
  * statistics that were computed OUTSIDE Spark — the engine's analogue of
  * the reference reading `<table>.stat` files into its cost model
  * (reference src/qp/optimizer/PlanCost.java:219-263). `ANALYZE TABLE`
  * recomputes stats by scanning; this shim instead trusts the numbers a
  * reference data directory already ships, exactly as the reference does.
  */
object CatalogBridge {

  /** Set rowCount / sizeInBytes / per-column stats on a catalog table.
    * Column stats are keyed by column name and converted with the table's
    * own column types. sizeInBytes is BigInt end-to-end: tuple counts come
    * from EXTERNAL `.stat` files, and a Long product would overflow
    * negative above ~1e17 rows x row width — which the CBO would read as a
    * tiny, broadcastable table. */
  def setTableStats(spark: org.apache.spark.sql.SparkSession, table: String,
      rowCount: Long, sizeInBytes: BigInt, columns: Map[String, ColumnStat],
      database: Option[String] = None): Unit = {
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    val ident = TableIdentifier(table, database)
    val types = catalog.getTableMetadata(ident).schema.fields.map(f => f.name -> f.dataType).toMap
    val colStats = columns.map { case (c, s) => c -> s.toCatalogColumnStat(c, types(c)) }
    catalog.alterTableStats(ident,
      Some(CatalogStatistics(sizeInBytes, Some(BigInt(rowCount)), colStats)))
  }
}
