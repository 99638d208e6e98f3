package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary (VERDICT r7 item 2): the driver regenerates
  * /root/testdata between rounds and has already shipped `events.ts`
  * under two different physical schemas. Most specs build fixtures
  * synthetically, so a loader broken by testdata drift only failed
  * incidentally, 23 tests deep. This spec loads EVERY table in
  * `Tables.all` from the real testdata and touches every column, so the
  * next silent regeneration fails loudly, here, with the table name in
  * the failure message.
  */
class TablesSpec extends AnyFunSuite with SparkTestBase {

  for (name <- Tables.all) {
    test(s"canary: '$name' loads from real testdata and every column is readable") {
      val df = Tables.load(spark, sfDir, name)
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
      // Touch every column through an actual row materialization — a
      // schema that parses but whose values can't decode must fail here.
      val row = df.limit(1).collect()
      assert(row.nonEmpty, s"$name: table is empty at $sfDir")
      assert(row.head.size == df.schema.size)
    }
  }

  for (name <- Tables.all) {
    test(s"footer row count equals load().count() for '$name'") {
      // q294 (and any future branch-pick) takes the corpus size from the
      // parquet footers instead of a count() job; this law pins that the
      // metadata count matches the scan count for every table — i.e.
      // Tables.load never drops or fabricates rows.
      assert(Tables.rowCountFromFooters(spark, sfDir, name) ==
        Tables.load(spark, sfDir, name).count(), s"footer/scan count drift: $name")
    }
  }

  test("events.ts loads as session-TZ timestamp regardless of physical schema") {
    val df = Tables.load(spark, sfDir, "events")
    val dt = df.schema("ts").dataType
    assert(dt == TimestampType, s"events.ts loaded as $dt, want TimestampType")
    assert(dt != TimestampNTZType)
    // and values are sane epoch-range timestamps, not mis-scaled ns/µs
    val ts = df.selectExpr("min(unix_timestamp(ts))", "max(unix_timestamp(ts))").head()
    val (lo, hi) = (ts.getLong(0), ts.getLong(1))
    assert(lo > 946684800L && hi < 4102444800L, // 2000-01-01 .. 2100-01-01
      s"events.ts epoch range [$lo, $hi] implausible — unit mis-scale?")
  }

  private lazy val profile = Profile.attach(spark)

  /** Spark jobs run by `body`, counted by [[Profile]]. */
  private def jobsOf(body: => Unit): Long = {
    profile.drain(); profile.reset()
    body
    assert(profile.drain(), "listener bus did not drain")
    profile.jobs
  }

  for (name <- Seq("orders", "events")) {
    test(s"a second load of '$name' runs no Spark job") {
      Tables.load(spark, sfDir, name)
      val jobs = jobsOf(Tables.load(spark, sfDir, name).schema)
      assert(jobs == 0, s"$name: $jobs jobs for a load whose schema is already known")
    }
  }

  test("a parquet file rewritten in place with a new schema is inferred again") {
    val dir = Files.createTempDirectory("graft_rewrite")
    def partFile(df: DataFrame, sub: String): java.nio.file.Path = {
      df.coalesce(1).write.parquet(s"$dir/$sub")
      val parts = Files.list(dir.resolve(sub))
      try parts.filter(_.toString.endsWith(".parquet")).findFirst().get finally parts.close()
    }
    val first = partFile(spark.range(3).toDF("a"), "first")
    val second = partFile(spark.range(3).selectExpr("cast(id AS string) AS b", "id AS c"), "second")
    val table = dir.resolve("t.parquet")
    Files.copy(first, table)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    Files.copy(second, table, StandardCopyOption.REPLACE_EXISTING)
    val reloaded = Tables.load(spark, dir.toString, "t")
    assert(reloaded.columns.toSeq == Seq("b", "c"))
    assert(reloaded.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
  }

  test("two loads of one table self-join on distinct attribute ids") {
    val a = Tables.load(spark, sfDir, "customer")
    val b = Tables.load(spark, sfDir, "customer")
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "two loads share attribute ids")
    val joined = a.join(b, a("c_custkey") === b("c_custkey"))
    val keys = a.select("c_custkey").distinct().count()
    assert(joined.count() == keys)
    assert(joined.groupBy(a("c_custkey")).count().filter(col("count") =!= 1).isEmpty,
      "a key matched more than one row")
  }

  test("every table loads with the schema the uncached reader infers") {
    // events as the uncached loader built it: ts normalized to the session
    // TIMESTAMP in place, every other column as read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (name <- Tables.all) {
      val read = spark.read.parquet(s"$sfDir/$name.parquet").schema
      val want = if (name != "events") read else StructType(read.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(Tables.load(spark, sfDir, name).schema == want, s"$name: schema drift")
    }
  }

  test("registerAll isolates a broken loader: unrelated tables still resolve") {
    // Point registerAll at a directory where events.parquet is corrupt but
    // other tables are real: queries over those tables must still work.
    val dir = java.nio.file.Files.createTempDirectory("graft_broken").toString
    for (t <- Seq("customer", "nation")) {
      val src = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/events.parquet"), "not parquet at all")
    Tables.registerAll(spark, dir)
    try {
      // q39's failure mode: a pure customer/nation query must survive.
      assert(spark.sql("SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey").head().getLong(0) > 0)
      // The broken table fails fast on reference, not silently.
      intercept[Exception](spark.sql("SELECT * FROM events LIMIT 1").collect())
    } finally {
      // Re-register the real testdata so later suites in the same session
      // see correct views.
      Tables.registerAll(spark, sfDir)
    }
  }
}
