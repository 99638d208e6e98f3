package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver's testdata layout
  * (`<sfDir>/<table>.parquet`, see TESTDATA.md).
  *
  * The reference engine loads a serialized `Schema` from a `<table>.md`
  * catalog file once per plan (reference: src/qp/optimizer/RandomInitialPlan.java:79-92).
  * Parquet is self-describing, so the catalog is the file footer, and it
  * is read once: [[parquetSchema]] infers a table's schema on first use
  * and every later [[load]] hands it to the reader, so a table reference
  * costs a file listing, not a schema-inference job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh relation over `<sfDir>/<name>.parquet`, read with the cached
    * schema. Each call builds a new relation (new attribute ids), so two
    * loads of one table self-join like two tables. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      val path = s"$sfDir/events.parquet"
      val schema = eventsSchema(spark, path)
      withSessionTs(spark.read.schema(schema).parquet(path), schema("ts").dataType)
    case _ =>
      val path = s"$sfDir/$name.parquet"
      spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The schema of the events parquet at `path`, inferred with the
    * legacy `nanosAsLong` flag on. The driver has shipped events.ts under
    * two physical schemas across rounds: parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects, surfacing as int64 nanos under the
    * flag) and plain timestamp[us]; the batch load and the streaming
    * source both read this schema and hand its `ts` type to
    * [[withSessionTs]], so neither hard-codes either generation. */
  private[graft] def eventsSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquetSchema(spark, path)
  }

  /** `raw` with its `ts` column, loaded as `tsType`, normalized to the
    * session TIMESTAMP: int64 nanos truncated to µs (DuckDB's
    * CAST(ts AS TIMESTAMP)), TIMESTAMP_NTZ (timestamp[us] without a TZ
    * annotation) cast to the session type (UTC), anything else as is. */
  private[graft] def withSessionTs(raw: DataFrame, tsType: DataType): DataFrame = tsType match {
    case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _                => raw
  }

  /** Inferred schemas by qualified path, each with the [[Stamp]] it was
    * inferred under. Only the schema is shared, never a DataFrame: a
    * shared relation would give two references to one table the same
    * attribute ids, making a self-join's `a("k") === b("k")` trivially
    * true. One entry per path, replaced when its stamp changes. */
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  /** What a parquet schema inference depends on: the leaf files
    * `(path, length, modificationTime)`, so a rewritten file is inferred
    * again, and the session confs Spark 4.1's inference reads
    * (`ParquetFileFormat.mergeSchemasInParallel` builds its
    * `ParquetToSparkSchemaConverter` from binaryAsString,
    * int96AsTimestamp, inferTimestampNTZ, legacy nanosAsLong and
    * respectUnknownTypeAnnotation, with case sensitivity fixed at its
    * default; mergeSchema and respectSummaryFiles pick which footers it
    * reads). */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Seq[Boolean])

  /** The schema `spark.read.parquet(path)` infers, inferred with a Spark
    * job once per path and [[Stamp]] in this JVM (the cache outlives
    * `spark.stop()`); later calls cost one `FileSystem` listing. A
    * missing, empty or unreadable path is not cached: it fails with
    * Spark's own error on every call, as an uncached read does. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) spark.read.parquet(path).schema
    else {
      val key = fs.makeQualified(root).toString
      val c = spark.sessionState.conf
      val files = Iterator.unfold(fs.listFiles(root, true))(it =>
        if (it.hasNext) Some((it.next(), it)) else None)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
      val stamp = Stamp(files, Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
        c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
        c.parquetReaderRespectUnknownTypeAnnotation, c.isParquetSchemaMergingEnabled,
        c.isParquetSchemaRespectSummaries))
      Option(schemas.get(key)).collect { case (`stamp`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(key, (stamp, s))
        s
      }
    }
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
    *
    * It also installs [[graft.plans.BindConstants]] (a no-op in a
    * [[Session.local]] session, which has it), so a session built
    * elsewhere plans every query over these tables as graft's own do.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    graft.plans.BindConstants.install(spark)
    all.foreach { n =>
      try load(spark, sfDir, n).createOrReplaceTempView(n)
      catch {
        case e: Exception =>
          System.err.println(s"[Tables] WARNING: failed to load '$n' from $sfDir: ${e.getMessage}")
          spark.catalog.dropTempView(n)
      }
    }
  }
}
