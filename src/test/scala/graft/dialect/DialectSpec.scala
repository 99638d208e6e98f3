package graft.dialect

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Dialect-parity goldens: the reference's 9 test queries
  * (query{1-7,9,10}.sql under the test resources' `testcases/`,
  * reconstructed from FIXTURES.md §A) parsed by our Parser,
  * planned by our Translator, and checked against independently-written
  * DataFrame expressions over deterministic fixture tables shaped like the
  * reference's .det schemas (see FIXTURES.md §A).
  */
class DialectSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // Deterministic fixtures mirroring CUSTOMER/CART/CARTDETAILS/BILL.det.
  lazy val customer: DataFrame = (1 to 12)
    .map(i => (i, i % 2, s"First$i", s"Last$i", s"Addr${i % 5}"))
    .toDF("cid", "gender", "firstname", "lastname", "address")
  lazy val cart: DataFrame = (1 to 15)
    .map(i => (i, i % 12 + 1, s"ST${i % 3}", s"crem$i"))
    .toDF("cartid", "cid", "status", "remarks")
  lazy val cartdetails: DataFrame = (1 to 20)
    .map(i => (i, i % 15 + 1, i * 3 % 7, s"drem$i"))
    .toDF("iid", "cartid", "qty", "remarks")
  lazy val bill: DataFrame = (1 to 20)
    .map(i => (i, i, i * 97 % 2500, s"brem$i"))
    .toDF("billid", "iid", "amount", "remarks")

  lazy val tables = Map(
    "CUSTOMER" -> customer, "CART" -> cart,
    "CARTDETAILS" -> cartdetails, "BILL" -> bill)

  def refQuery(n: Int): String = {
    val src = scala.io.Source.fromResource(s"testcases/query$n.sql")
    try src.mkString finally src.close()
  }
  def run(n: Int): DataFrame = Translator.run(spark, refQuery(n), tables)

  test("parser handles the full grammar (query10)") {
    val q = Parser.parse(refQuery(10))
    assert(q.star && q.tables == Seq("CUSTOMER", "CART", "CARTDETAILS", "BILL"))
    assert(q.conds.size == 5)
    assert(q.conds.take(3).forall(_.rhs.isInstanceOf[AttrRhs]))
    assert(q.conds.drop(3).forall(_.rhs.isInstanceOf[ConstRhs]))
    assert(q.orderBy == Seq(Attr("BILL", "amount")) && !q.desc)
  }

  test("query1: full scan") {
    assert(run(1).count() == 12)
    assert(run(1).columns.toSeq == customer.columns.map("CUSTOMER." + _).toSeq)
  }

  test("query2: filter + project with literal coercion") {
    val got = run(2)
    val want = customer.filter($"gender" === 1)
      .select($"cid", $"gender", $"firstname")
    assert(got.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("query3: mixed MAX + non-agg over a join (reference quirk)") {
    val joined = customer.join(cart, customer("cid") === cart("cid"))
    val maxCart = joined.agg(max("cartid")).first().getInt(0)
    val want = joined.filter(cart("cartid") === maxCart)
      .select(customer("cid"), $"firstname", $"gender", cart("cartid"), $"status")
      .distinct()
    val got = run(3)
    assert(got.columns.toSeq == Seq("CUSTOMER.cid", "CUSTOMER.firstname",
      "CUSTOMER.gender", "MAX(CART.cartid)", "CART.status"))
    assert(got.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("query4/5: multi-join star") {
    val j2 = customer.join(cart, customer("cid") === cart("cid"))
      .join(cartdetails, cart("cartid") === cartdetails("cartid"))
    assert(run(4).count() == j2.count())
    val j3 = j2.join(bill, cartdetails("iid") === bill("iid"))
    assert(run(5).count() == j3.count())
    assert(run(5).columns.length ==
      customer.columns.length + cart.columns.length +
        cartdetails.columns.length + bill.columns.length)
  }

  test("query6/7: joins + range filters, with projection") {
    val j3 = customer.join(cart, customer("cid") === cart("cid"))
      .join(cartdetails, cart("cartid") === cartdetails("cartid"))
      .join(bill, cartdetails("iid") === bill("iid"))
      .filter($"amount" < 1000 && $"amount" > 500)
    assert(run(6).count() == j3.count())
    assert(run(6).count() > 0) // fixture guarantees hits
    val got7 = run(7)
    assert(got7.columns.toSeq == Seq("CUSTOMER.gender", "BILL.amount"))
    assert(got7.count() == j3.count())
  }

  test("query9: DISTINCT") {
    val got = run(9).collect().map(_.getInt(0)).toSet
    assert(got == Set(0, 1))
  }

  test("query10: ORDERBY ascending") {
    val amounts = run(10).select(col("`BILL.amount`")).collect().map(_.getInt(0))
    assert(amounts.nonEmpty && (amounts sameElements amounts.sorted))
  }

  test("ORDERBY ... DESC flips the whole key list") {
    val got = Translator.run(spark,
      "SELECT BILL.billid,BILL.amount FROM BILL ORDERBY BILL.amount DESC", tables)
    val amounts = got.select(col("`BILL.amount`")).collect().map(_.getInt(0))
    assert(amounts sameElements amounts.sorted.reverse)
  }

  test("GROUPBY (extension beyond the reference's abort)") {
    val got = Translator.run(spark,
      "SELECT CART.status,COUNT(CART.cartid) FROM CART GROUPBY CART.status", tables)
    val want = cart.groupBy("status").count()
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      want.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("bare GROUPBY is the grouped distinct; key-subset projection " +
    "keeps per-group rows") {
    val got = Translator.run(spark,
      "SELECT CART.status FROM CART GROUPBY CART.status", tables)
    assert(got.collect().map(_.getString(0)).toSet ==
      cart.select("status").distinct().collect().map(_.getString(0)).toSet)
    assert(got.count() == 3)
    // projecting a subset of the keys groups by ALL keys first —
    // (status, cid) pairs are distinct, status values then repeat
    val sub = Translator.run(spark,
      "SELECT CART.status FROM CART GROUPBY CART.status,CART.cid", tables)
    assert(sub.count() ==
      cart.select("status", "cid").distinct().count())
  }

  test("GROUPBY validation: a non-aggregated SELECT column must be a " +
    "group key") {
    val ex = intercept[RuntimeException](Translator.run(spark,
      "SELECT CART.remarks,COUNT(CART.cartid) FROM CART GROUPBY CART.status",
      tables))
    assert(ex.getMessage.contains("not in GROUPBY"))
  }

  test("GROUPBY golden over a join, against independently-written " +
    "aggregation (the q366 shape; q366 itself is DuckDB-gated)") {
    val got = Translator.run(spark,
      "SELECT CART.status,COUNT(CARTDETAILS.iid),MAX(CARTDETAILS.qty) " +
        "FROM CART,CARTDETAILS WHERE CART.cartid=CARTDETAILS.cartid " +
        "GROUPBY CART.status", tables)
    val want = cart.join(cartdetails, cart("cartid") === cartdetails("cartid"))
      .groupBy(cart("status"))
      .agg(count(cartdetails("iid")), max(cartdetails("qty")))
    assert(got.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSet ==
      want.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet)
    assert(got.count() == 3)
  }

  test("parser rejects malformed queries with clear errors") {
    def fails(sql: String): Unit =
      assertThrows[Exception](Parser.parse(sql))
    fails("FROM CUSTOMER")                              // missing SELECT
    fails("SELECT cid FROM CUSTOMER")                   // unqualified attr
    fails("SELECT CUSTOMER.cid CUSTOMER")               // missing FROM
    fails("SELECT CUSTOMER.cid FROM CUSTOMER WHERE")    // dangling WHERE
    fails("SELECT CUSTOMER.cid FROM CUSTOMER WHERE CUSTOMER.cid = 1") // unquoted const
    fails("""SELECT CUSTOMER.cid FROM CUSTOMER WHERE CUSTOMER.cid = "1" extra""")
    fails("""SELECT MAX(CUSTOMER) FROM CUSTOMER""")     // agg needs tbl.col
    fails("""SELECT CUSTOMER.cid FROM CUSTOMER WHERE CUSTOMER.cid = "unterminated""".dropRight(1))
  }

  test("translator rejects unknown tables and columns") {
    assertThrows[Exception](
      Translator.run(spark, "SELECT NOPE.x FROM NOPE", tables).collect())
    assertThrows[Exception](
      Translator.run(spark, "SELECT CUSTOMER.nope FROM CUSTOMER", tables).collect())
  }

  test("theta join condition gets real semantics") {
    val got = Translator.run(spark,
      "SELECT CART.cartid,CARTDETAILS.iid FROM CART,CARTDETAILS " +
        "WHERE CART.cartid<CARTDETAILS.iid", tables)
    val want = cart.join(cartdetails, cart("cartid") < cartdetails("iid"))
    assert(got.count() == want.count() && got.count() > 0)
  }

  // --- reference-lexer fidelity -------------------------------------------

  test("identifiers may start with an underscore (reference ALPHA class)") {
    val t = Map("_tmp" -> customer.select($"cid".as("_c_1"), $"gender"))
    val got = Translator.run(spark, "SELECT _tmp._c_1 FROM _tmp WHERE _tmp.gender=\"1\"", t)
    assert(got.count() == customer.filter($"gender" === 1).count())
  }

  test("string literals keep backslash escapes verbatim (reference STRINGLIT action)") {
    val q = Parser.parse("""SELECT CART.status FROM CART WHERE CART.remarks="a\"b"""")
    assert(q.conds.head.rhs == ConstRhs("""a\"b"""))
  }

  test("aggregates nest grammatically; the outermost wins (reference setAggType)") {
    val q = Parser.parse("SELECT MAX(MIN(CART.cartid)) FROM CART")
    assert(q.attrs == Seq(Attr("CART", "cartid", Some("MAX"))))
  }

  test("golden: multi-table with no join condition is a true cross product") {
    // The reference mis-plans this case: RandomInitialPlan.createScanOp
    // keeps only the LAST table's scan (RandomInitialPlan.java:64-71,
    // 96-106), silently dropping every other FROM table when no join
    // condition references them. Standard semantics are a cross product;
    // that is what we produce (Catalyst rewrites comma-joins with join
    // predicates to inner joins, and leaves honest cartesians otherwise).
    val got = Translator.run(spark, "SELECT * FROM CUSTOMER,CART", tables)
    assert(got.count() == customer.count() * cart.count())
    // with filters but still no join condition: filtered cross product
    val got2 = Translator.run(spark,
      "SELECT * FROM CUSTOMER,CART WHERE CUSTOMER.gender=\"1\"", tables)
    assert(got2.count() == customer.filter($"gender" === 1).count() * cart.count())
  }

  test("loadTables discovers a .md + .txt table, and no table from a .txt alone") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("load-md-txt")
    Files.copy(Paths.get(getClass.getResource("/tbl/md_table.md").toURI), dir.resolve("M.md"))
    // md_table.md's columns: (cid INT, gender INT, firstname STRING, score REAL)
    Files.write(dir.resolve("M.txt"), "1\t0\tfoo\t0.5\t\n2\t1\tbar\t1.5\t\n".getBytes("UTF-8"))
    Files.write(dir.resolve("notes.txt"), "not a table\n".getBytes("UTF-8"))
    val tables = QueryRunner.loadTables(spark, dir.toString)
    assert(tables.keySet == Set("M"))
    assert(tables("M").count() == 2)
    assert(tables("M").filter($"gender" === 1).select("firstname").as[String].collect()
      .toSeq == Seq("bar"))
  }

  test("loadTables fails loudly, naming the file, on an unreadable table") {
    // a silently dropped table would surface later as "table not found"
    // or, worse, as a query over the remaining tables
    import java.nio.file.Files
    def expectLoud(dir: java.nio.file.Path, file: String): Unit = {
      val e = intercept[IllegalArgumentException](QueryRunner.loadTables(spark, dir.toString))
      assert(e.getMessage.contains(dir.resolve(file).toString), e.getMessage)
      assert(e.getCause != null)
    }
    val garbage = Files.createTempDirectory("load-garbage")
    Files.write(garbage.resolve("x.parquet"), "not a parquet file".getBytes("UTF-8"))
    expectLoud(garbage, "x.parquet")

    val badDet = Files.createTempDirectory("load-baddet")
    Files.write(badDet.resolve("x.det"), "two\nfour\n".getBytes("UTF-8"))
    Files.write(badDet.resolve("x.txt"), "1\t\n".getBytes("UTF-8"))
    expectLoud(badDet, "x.txt")
    expectLoud(badDet, "x.det")

    // a .tbl that is no serialization stream, beside a valid .det: its
    // rows are parsed by the scan, so the failure may come at load or at
    // the first action; either way it names the .tbl and carries the cause
    val badTbl = Files.createTempDirectory("load-badtbl")
    Files.write(badTbl.resolve("x.det"), "1\n4\nk INTEGER 10 PK 4\n".getBytes("UTF-8"))
    def expectLoudTbl(bytes: Array[Byte]): Unit = {
      Files.write(badTbl.resolve("x.tbl"), bytes)
      val e = intercept[Exception](QueryRunner.loadTables(spark, badTbl.toString)("x").count())
      assert(e.getMessage.contains(badTbl.resolve("x.tbl").toString), e.getMessage)
      assert(e.getCause != null)
    }
    expectLoudTbl("not a tbl stream".getBytes("UTF-8"))
    // a valid stream header over a garbage body
    expectLoudTbl(Array(0xAC, 0xED, 0x00, 0x05, 0x42, 0x42).map(_.toByte))
  }
}
