package graft.dialect

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** CLI entry point for the reference dialect — the analogue of the
  * reference's `QueryMain <queryfile> <resultfile>` driver
  * (reference src/QueryMain.java:26-41): parse a dialect query file, plan
  * it through Catalyst, execute, and print tab-separated rows with a
  * qualified-name header (reference printSchema/printTuple,
  * QueryMain.java:276-306).
  *
  * Usage: runMain graft.dialect.QueryRunner <tableDir> <queryFile> [limit]
  * Tables are discovered from tableDir in every format the engine reads:
  * `<name>.parquet`, and every reference layout (`.det` or `.md` schema,
  * `.tbl` or `.txt` rows, optional `.stat`) via the DataSource-V2 scan —
  * so a directory produced for the reference engine runs unmodified.
  */
object QueryRunner {

  /** Discover and load every table in `dir`: `<name>.parquet` through
    * [[graft.Tables.load]], else any reference-format table through the
    * [[graft.sources.DetDataSource]] scan (schema from `.det`, else `.md`;
    * rows from `.tbl`, else `.txt`). Names come from `.parquet`, `.tbl`,
    * `.det` and `.md` files, never from a `.txt` alone; a name with no
    * rows file is skipped.
    *
    * A reference data directory may ship `<name>.stat` (numtuples +
    * per-column NDVs, PlanCost.java:219-263). The scan reads it and
    * reports it to Catalyst, and CBO and join reorder go on so Catalyst
    * costs join orders from it — the reference's optimizer does the same.
    * Loading is metadata-only: no data is copied and nothing is
    * registered in the session catalog. A `.stat` beside a parquet table
    * is ignored with a WARNING (the reference never ships parquet; its
    * Spark-native stats route is `ANALYZE TABLE`, [[graft.sources.Stats.analyze]]).
    *
    * It also installs [[graft.plans.BindConstants]] (a no-op in a
    * [[graft.Session.local]] session, which has it), so a session built
    * elsewhere plans its dialect queries, whose selections are all
    * `col op const`, with one generated source per shape from the first
    * ([[graft.Tables.registerAll]] does the same for the parquet tables). */
  def loadTables(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    graft.plans.BindConstants.install(spark)
    import scala.jdk.CollectionConverters._
    val files = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSeq
    def has(n: String) = files.contains(n)
    val names = files.collect {
      case f if f.endsWith(".parquet") => f.stripSuffix(".parquet")
      case f if f.endsWith(".tbl")     => f.stripSuffix(".tbl")
      case f if f.endsWith(".det")     => f.stripSuffix(".det")
      // a .md schema names a table too (served with its .tbl or .txt);
      // a .txt alone does not, so stray text files never become tables
      case f if f.endsWith(".md")      => f.stripSuffix(".md")
    }.distinct
    // a table file that exists but cannot be read fails the whole load,
    // naming the file: dropping it would surface later as a confusing
    // "table not found" (or, worse, a query over the remaining tables)
    def load(files: String*)(body: => org.apache.spark.sql.DataFrame) =
      try Some(body) catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"cannot load table from ${files.mkString(" + ")}: $e", e)
      }
    names.flatMap { name =>
      val stat = s"$name.stat"
      if (has(s"$name.parquet")) {
        if (has(stat)) graft.sources.Stats.warnIgnored(s"$dir/$stat",
          "a .stat is read for reference-format tables only; use ANALYZE TABLE for parquet")
        // Tables.load knows quirks of the standard tables (e.g. events'
        // nanosecond timestamps)
        load(s"$dir/$name.parquet")(graft.Tables.load(spark, dir, name)).map(name -> _)
      } else {
        val layout = graft.sources.DetDataSource.layout(s"$dir/$name")
        layout.rows.flatMap(rows => load(layout.schema, rows) {
          if (has(stat)) graft.sources.Stats.enableCbo(spark)
          spark.read.format("graft.sources.DetDataSource").load(s"$dir/$name")
        }).map(name -> _)
      }
    }.toMap
  }

  /** Two invocation shapes:
    *   - `QueryRunner <tableDir> <queryFile> [limit]` — native shape,
    *     prints to stdout (first arg is a directory);
    *   - `QueryRunner <queryfile> <resultfile> [pagesize] [numbuffer]` —
    *     the reference's exact `QueryMain` shape (QueryMain.java:26-40):
    *     tables are discovered next to the query file, the result is
    *     written to `resultfile` in the reference's format (two-space
    *     header, tab-terminated values, `-NULL-`), and the trailing
    *     pagesize/numbuffer knobs are accepted and ignored — Spark's
    *     unified memory manager replaces the reference's fixed Batch page
    *     size and buffer pool, so the knobs have no analogue here.
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    try run(spark, args) finally spark.stop()
  }

  /** Argument handling + execution, session-independent (spec-testable). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: QueryRunner <tableDir> <queryFile> [limit] | <queryfile> <resultfile> [pagesize] [numbuffer]")
    // shape detection must not guess on a typo: a first argument that
    // exists as a directory is the native shape, one that exists as a
    // file is the reference QueryMain shape, anything else is an error
    // (NOT a fall-through to ref-shape with the parent dir as tables)
    val p0 = Paths.get(args(0))
    require(Files.exists(p0), s"${args(0)} does not exist (expected a table directory or a query file)")
    val refShape = !Files.isDirectory(p0)
    val (tableDir, queryFile) =
      if (refShape) (p0.toAbsolutePath.getParent.toString, args(0))
      else (args(0), args(1))
    // native shape keeps its bounded default (50 rows); the reference
    // shape writes the complete result like QueryMain does
    val limit = if (refShape) Int.MaxValue
      else if (args.length > 2) args(2).toInt else 50

    val tables = loadTables(spark, tableDir)

    val sql = Files.readString(Paths.get(queryFile))
    val df = Translator.run(spark, sql, tables)
    if (refShape) {
      val out = new java.io.PrintWriter(args(1))
      try { writeReferenceFormat(out, df) } finally {
        out.close()
        // PrintWriter swallows IO errors; a truncated result file with
        // exit code 0 would read as a wrong answer downstream
        require(!out.checkError(), s"I/O error writing ${args(1)}")
      }
    } else {
      println(df.columns.mkString("\t"))
      df.limit(limit).collect().foreach { row =>
        println(row.toSeq.map(v => if (v == null) "-NULL-" else v.toString).mkString("\t"))
      }
    }
  }

  /** The reference's result-file format (QueryMain.java printSchema /
    * printTuple, :276-306): header of column names each followed by two
    * spaces, then one row per tuple with each value followed by a tab and
    * nulls rendered `-NULL-`. Rows stream through `toLocalIterator` (one
    * partition on the driver at a time), so driver memory bounds the
    * largest PARTITION, not the whole result — the reference shape writes
    * complete results with no limit. toLocalIterator runs one job per
    * result partition; that assumes the plan is deterministic across
    * those jobs (true for every dialect query — pure reads over static
    * files). Over reference tables of the reference's sizes the result
    * is one partition — each DetScan is one input partition and AQE
    * coalesces the small shuffles above it (traced `kaj_spj`: jobs,
    * stages and tasks per query are all 3.67) — so the stream is one job,
    * and fetching all partitions in one job would save none. */
  def writeReferenceFormat(out: java.io.PrintWriter, df: org.apache.spark.sql.DataFrame): Unit = {
    out.println(df.columns.map(_ + "  ").mkString)
    df.toLocalIterator().asScala.foreach { row =>
      out.println(row.toSeq.map(v => (if (v == null) "-NULL-" else v.toString) + "\t").mkString)
    }
  }
}
