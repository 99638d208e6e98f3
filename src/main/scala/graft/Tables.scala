package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver's testdata layout
  * (`<sfDir>/<table>.parquet`, see TESTDATA.md).
  *
  * The reference engine loads a serialized `Schema` from a `<table>.md`
  * catalog file at plan time (reference: src/qp/optimizer/RandomInitialPlan.java:79-92);
  * parquet is self-describing so the "catalog" is just the file footer.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      // The driver has shipped events.ts under two physical schemas across
      // rounds: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
      // rejects, surfacing as int64 nanos under the legacy flag) and plain
      // timestamp[us]. Branch on the *loaded* dtype instead of hard-coding
      // either generation, so a testdata regeneration can't break loads.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          // int64 nanos → truncate to µs, same as DuckDB's CAST(ts AS TIMESTAMP).
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // timestamp[us] without TZ annotation loads as TIMESTAMP_NTZ; cast
          // to the session type (UTC) so downstream code sees one type.
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ =>
          raw
      }
    case _ =>
      spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Exact row count from parquet footers — metadata-only, no data scan.
    * The planner-grade substitute for a `count()` job when a query needs
    * the corpus size before its real work starts (e.g. q294's
    * int64-exact-vs-normalized branch pick): footers are the same
    * metadata a scan's planning already fetches, so this costs one
    * footer read per file, not a corpus pass — at 100 TB that is
    * thousands of footers, not thousands of tasks. Counts are
    * load-invariant for every table ([[load]]'s only rewrites are
    * column-type casts, never row filters), which TablesSpec pins. */
  def rowCountFromFooters(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val stats =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq
      else Seq(fs.getFileStatus(root))
    stats.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Register every table as a temp view so `spark.sql` / the dialect
    * frontend can resolve unqualified table names.
    *
    * Per-table fault isolation: one broken loader (e.g. an events schema
    * drift) must not take down queries over unrelated tables — a query
    * that never touches the broken table still resolves and runs. The
    * failure is logged loudly and any stale same-named view is dropped,
    * so a query that DOES touch the broken table fails fast with
    * TABLE_OR_VIEW_NOT_FOUND instead of silently reading stale data.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      try load(spark, sfDir, n).createOrReplaceTempView(n)
      catch {
        case e: Exception =>
          System.err.println(s"[Tables] WARNING: failed to load '$n' from $sfDir: ${e.getMessage}")
          spark.catalog.dropTempView(n)
      }
    }
}
