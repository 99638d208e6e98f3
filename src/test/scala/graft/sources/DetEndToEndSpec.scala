package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.dialect.Translator

/** End-to-end golden over the full reference CLI path: the reference's
  * `.det` catalogs (test resources, copied from FIXTURES.md §A), data
  * generated by [[DetSource.generate]], written in the reference's tab-separated `.txt`
  * format, read back through the DataSource-V2 connector
  * ([[DetDataSource]]), and all 9 reference test queries
  * (query{1-7,9,10}.sql) parsed + planned by the dialect frontend — the
  * same pipeline `graft.dialect.QueryRunner` drives, with every stage
  * exercised against the stage-independent expectation.
  */
class DetEndToEndSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** The reference's `.det` catalogs and query texts, written from
    * FIXTURES.md §A into the test resources. */
  private def det(t: String): String = getClass.getResource(s"/det/$t.det").getPath

  /** generate -> .txt -> DSv2 read, per reference table. */
  lazy val workDir: String = {
    val dir = Files.createTempDirectory("det-e2e").toString
    Seq("CUSTOMER" -> 200, "CART" -> 200, "CARTDETAILS" -> 200, "BILL" -> 200)
      .foreach { case (t, n) =>
        val df = DetSource.generate(spark, det(t), n)
        // reference row format: tab-separated with a trailing tab
        val lines = df.collect().map(_.toSeq.map(String.valueOf).mkString("", "\t", "\t"))
        Files.write(Paths.get(s"$dir/$t.txt"),
          lines.mkString("\n").getBytes("UTF-8"))
        Files.copy(Paths.get(det(t)), Paths.get(s"$dir/$t.det"))
      }
    dir
  }

  def dsv2(t: String): DataFrame =
    spark.read.format("graft.sources.DetDataSource").load(s"$workDir/$t")

  lazy val tables: Map[String, DataFrame] =
    Seq("CUSTOMER", "CART", "CARTDETAILS", "BILL").map(t => t -> dsv2(t)).toMap

  def refQuery(n: Int): String = {
    val src = scala.io.Source.fromResource(s"testcases/query$n.sql")
    try src.mkString finally src.close()
  }
  def run(n: Int): DataFrame = Translator.run(spark, refQuery(n), tables)

  test("generated data round-trips the reference txt format through DSv2") {
    val gen = DetSource.generate(spark, det("CUSTOMER"), 200)
    val back = dsv2("CUSTOMER")
    assert(back.schema == gen.schema)
    assertSameRows(back, gen)
  }

  test("DSv2 scan prunes to the projected columns") {
    val plan = dsv2("CUSTOMER").select("cid", "gender")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"))
    assert(plan.contains("cid") && plan.contains("gender") && !plan.contains("address"))
  }

  test("query1: full scan through the det pipeline") {
    val got = run(1)
    assert(got.count() == 200)
    assert(got.columns.toSeq == tables("CUSTOMER").columns.map("CUSTOMER." + _).toSeq)
  }

  test("query2: filter + project with literal coercion") {
    val want = tables("CUSTOMER").filter($"gender" === 1)
      .select($"cid", $"gender", $"firstname")
    assert(run(2).collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
    assert(run(2).count() > 0, "generated data should contain gender=1 rows")
  }

  test("query3: mixed MAX + non-agg quirk over generated data") {
    val c = tables("CUSTOMER"); val k = tables("CART")
    val joined = c.join(k, c("cid") === k("cid"))
    val maxCart = joined.agg(max("cartid")).first().getInt(0)
    val want = joined.filter(k("cartid") === maxCart)
      .select(c("cid"), c("firstname"), c("gender"), k("cartid"), k("status"))
      .distinct()
    assert(run(3).collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("query4/5: join chains") {
    val c = tables("CUSTOMER"); val k = tables("CART")
    val cd = tables("CARTDETAILS"); val b = tables("BILL")
    val j2 = c.join(k, c("cid") === k("cid"))
      .join(cd, k("cartid") === cd("cartid"))
    assert(run(4).count() == j2.count() && j2.count() > 0)
    val j3 = j2.join(b, cd("iid") === b("iid"))
    assert(run(5).count() == j3.count() && j3.count() > 0)
  }

  test("query6/7: range filters and projection") {
    val c = tables("CUSTOMER"); val k = tables("CART")
    val cd = tables("CARTDETAILS"); val b = tables("BILL")
    val j3 = c.join(k, c("cid") === k("cid"))
      .join(cd, k("cartid") === cd("cartid"))
      .join(b, cd("iid") === b("iid"))
      .filter($"amount" < 1000 && $"amount" > 500)
    assert(run(6).count() == j3.count())
    val got7 = run(7)
    assert(got7.columns.toSeq == Seq("CUSTOMER.gender", "BILL.amount"))
    assert(got7.count() == j3.count() && j3.count() > 0)
  }

  test("query9: DISTINCT") {
    val want = tables("CUSTOMER").select("gender").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(run(9).collect().map(_.getInt(0)).toSet == want)
  }

  test("query10: ORDERBY ascending on the pipeline output") {
    val amounts = run(10).select(col("`BILL.amount`")).collect().map(_.getInt(0))
    assert(amounts.nonEmpty && (amounts sameElements amounts.sorted))
  }
}
