package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.dialect.Translator

class DetSourceSpec extends AnyFunSuite with SparkTestBase {

  /** The reference's CUSTOMER catalog, copied from FIXTURES.md §A. */
  private val customerDet = getClass.getResource("/det/CUSTOMER.det").getPath

  test("parses the reference .det catalog format") {
    val s = DetSource.parseDet(customerDet)
    assert(s.tupleBytes == 100)
    assert(s.structType == StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("gender", IntegerType, nullable = false),
      StructField("firstname", StringType, nullable = false),
      StructField("lastname", StringType, nullable = false),
      StructField("address", StringType, nullable = false))))
    assert(s.columns.head.key == "PK" && s.columns.head.range == 200)
  }

  test("reads reference-format tab-separated txt (with trailing tabs)") {
    val dir = Files.createTempDirectory("det")
    Files.writeString(dir.resolve("CUSTOMER.txt"),
      "7\t1\tabc\tdef\taddr1\t\n12\t0\txyz\tqrs\taddr2\t\n")
    Files.copy(java.nio.file.Paths.get(customerDet), dir.resolve("CUSTOMER.det"))
    val df = spark.read.format("graft.sources.DetDataSource")
      .load(dir.resolve("CUSTOMER").toString)
    val rows = df.orderBy("cid").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(7, 12))
    assert(rows.head.getString(2) == "abc")
  }

  test("deterministic generator: PK is a permutation, values reproducible") {
    val a = DetSource.generate(spark, customerDet, 150)
    val b = DetSource.generate(spark, customerDet, 150)
    assert(a.collect().map(_.toSeq).toSeq == b.collect().map(_.toSeq).toSeq)
    val pks = a.select("cid").collect().map(_.getInt(0))
    assert(pks.distinct.length == 150)
    val genders = a.select("gender").distinct().collect().map(_.getInt(0)).toSet
    assert(genders.subsetOf(Set(0, 1)))
  }

  test("DataSource V2 connector reads det tables with column pruning") {
    val dir = Files.createTempDirectory("detv2")
    Files.copy(java.nio.file.Paths.get(customerDet),
      dir.resolve("CUSTOMER.det"))
    Files.writeString(dir.resolve("CUSTOMER.txt"),
      "7\t1\tabc\tdef\taddr1\t\n12\t0\txyz\tqrs\taddr2\t\n")
    val df = spark.read.format("graft.sources.DetDataSource")
      .load(dir.resolve("CUSTOMER").toString)
    assert(df.schema.fieldNames.toSeq ==
      Seq("cid", "gender", "firstname", "lastname", "address"))
    val rows = df.select("firstname", "cid").orderBy("cid").collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("abc", 7), ("xyz", 12)))
    // pruning reaches the scan: only 2 of 5 columns in ReadSchema
    val plan = df.select("firstname", "cid").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<firstname:string,cid:int>")
      || plan.contains("firstname#"), plan)
  }

  test("DataSource V2 connector decodes UTF-8 and its reads count as input bytes") {
    // the .txt is read through Hadoop's FileSystem, so Spark's per-task
    // input metrics see it, and decoded as UTF-8 whatever the platform
    // default charset is
    val dir = Files.createTempDirectory("detbytes")
    Files.copy(java.nio.file.Paths.get(customerDet), dir.resolve("CUSTOMER.det"))
    val txt = "7\t1\tabc\td\u00e9f\taddr1\t\n12\t0\txyz\tqrs\taddr2\t\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.write(dir.resolve("CUSTOMER.txt"), txt)
    val profile = graft.Profile.attach(spark)
    // one scan, one read of the file: no orderBy (its sampling job would
    // read the file a second time)
    val rows = spark.read.format("graft.sources.DetDataSource")
      .load(dir.resolve("CUSTOMER").toString).collect()
    assert(rows.map(_.getString(3)).toSet == Set("d\u00e9f", "qrs"))
    assert(profile.drain())
    assert(profile.inputBytes == txt.length, s"input bytes ${profile.inputBytes}")

    // a .tbl is opened the same way: its whole stream counts
    val tblRes = getClass.getResource("/tbl/sample.tbl").getPath
    Files.copy(java.nio.file.Paths.get(tblRes), dir.resolve("S.tbl"))
    Files.copy(java.nio.file.Paths.get(tblRes.stripSuffix(".tbl") + ".det"), dir.resolve("S.det"))
    profile.reset()
    assert(spark.read.format("graft.sources.DetDataSource")
      .load(dir.resolve("S").toString).collect().length == 7)
    assert(profile.drain())
    assert(profile.inputBytes == Files.size(dir.resolve("S.tbl")),
      s"input bytes ${profile.inputBytes}")
  }

  test("dialect queries run over generated reference-format tables") {
    val customer = DetSource.generate(spark, customerDet, 200)
    val got = Translator.run(spark,
      """SELECT CUSTOMER.cid,CUSTOMER.gender,CUSTOMER.firstname
        |FROM CUSTOMER
        |WHERE CUSTOMER.gender="1"""".stripMargin,
      Map("CUSTOMER" -> customer))
    val want = customer.filter(col("gender") === 1).count()
    assert(got.count() == want && want > 0)
  }
}
