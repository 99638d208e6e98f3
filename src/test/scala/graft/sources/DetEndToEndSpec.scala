package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet, Like, Literal, RLike, StartsWith, StringPredicate, StringRegexExpression}
import org.apache.spark.sql.execution.{ExplainMode, FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.dialect.{QueryRunner, Translator}
import graft.plans.{BindConstants, BoundConstant}

/** End-to-end golden over the full reference CLI path: the reference's
  * `.det` catalogs (test resources, copied from FIXTURES.md §A), data
  * generated by [[DetSource.generate]], written in the reference's tab-separated `.txt`
  * format, read back through the DataSource-V2 connector
  * ([[DetDataSource]]), and all 9 reference test queries
  * (query{1-7,9,10}.sql) parsed + planned by the dialect frontend — the
  * same pipeline `graft.dialect.QueryRunner` drives, with every stage
  * exercised against the stage-independent expectation.
  */
class DetEndToEndSpec extends AnyFunSuite with SparkTestBase with AdaptiveSparkPlanHelper {
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

  // --- comparison constants bound by reference (graft.plans.BindConstants)

  private def filterConditions(df: DataFrame): Seq[Expression] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f.condition }

  test("the constant-binding strategy is installed once per session") {
    def installed(s: org.apache.spark.sql.SparkSession) =
      s.experimental.extraStrategies.count(_.isInstanceOf[BindConstants])
    (1 to 3).foreach { _ => BindConstants.install(spark); QueryRunner.loadTables(spark, workDir); run(6) }
    assert(installed(spark) == 1)
    // a session built without it gets it when it loads tables
    val (dialect, parquet) = (spark.newSession(), spark.newSession())
    assert(installed(dialect) == 0 && installed(parquet) == 0)
    (1 to 3).foreach { _ => QueryRunner.loadTables(dialect, workDir); graft.Tables.registerAll(parquet, sfDir) }
    assert(installed(dialect) == 1 && installed(parquet) == 1)
  }

  test("a dialect query explains as it does without the strategy") {
    val df = run(6)
    assert(filterConditions(df).exists(_.exists(_.isInstanceOf[BoundConstant])),
      "query6's amount bounds should be bound")
    // the same analyzed plan planned twice; only exchange ids are fresh per planning
    def texts(d: DataFrame): Seq[String] = Seq("simple", "extended", "formatted").map(m =>
      d.queryExecution.explainString(ExplainMode.fromString(m))
        .replaceAll("plan_id=\\d+", "plan_id=N"))
    val bound = texts(df)
    val installed = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = installed.filterNot(_.isInstanceOf[BindConstants])
    val plain = try texts(DatasetBridge.ofRows(spark, df.queryExecution.logical))
      finally spark.experimental.extraStrategies = installed
    assert(bound.head.contains("(amount#") && bound.head.contains(" < 1000)"), bound.head)
    bound.zip(plain).foreach { case (b, p) => assert(b == p) }
  }

  test("LIKE, RLIKE, IN, INSET and startsWith keep foldable literals; " +
    "comparisons beside them bind") {
    val plain = spark.newSession() // a new session starts with no extra strategies
    val plainCustomer = plain.read.format("graft.sources.DetDataSource").load(s"$workDir/CUSTOMER")
    val cases: Seq[(Column, Class[_])] = Seq(
      col("firstname").like("a_%") -> classOf[Like],
      col("lastname").rlike("^[a-m]") -> classOf[RLike],
      col("gender").isin(0, 7) -> classOf[In],
      col("cid").isin(0 until 150: _*) -> classOf[InSet],
      col("address").startsWith("b") -> classOf[StartsWith])
    for ((pred, kind) <- cases) {
      val df = tables("CUSTOMER").filter(pred && col("cid") > 10)
      val got = df.collect().toSeq.map(_.toSeq)
      val conds = filterConditions(df)
      assert(conds.exists(_.exists(e => kind.isInstance(e))), s"$pred: no $kind in $conds")
      conds.foreach(_.foreach {
        case r: StringRegexExpression => assert(r.right.isInstanceOf[Literal], s"$pred: $r")
        case p: StringPredicate => assert(p.right.isInstanceOf[Literal], s"$pred: $p")
        case i: In => assert(i.list.forall(_.isInstanceOf[Literal]), s"$pred: $i")
        case _ =>
      })
      assert(conds.exists(_.exists(_.isInstanceOf[BoundConstant])), s"$pred: cid > 10 not bound")
      val want = plainCustomer.filter(pred && col("cid") > 10).collect().toSeq.map(_.toSeq)
      assert(got.nonEmpty && got.sortBy(_.mkString("|")) == want.sortBy(_.mkString("|")), s"$pred")
    }
  }

  /** The generated tables again, with each table's true `.stat` beside
    * it, loaded as `QueryRunner` loads a reference directory (CBO on). */
  lazy val statDir: String = {
    val dir = Files.createTempDirectory("det-e2e-stat").toString
    tables.foreach { case (t, df) =>
      Seq("det", "txt").foreach(ext =>
        Files.copy(Paths.get(s"$workDir/$t.$ext"), Paths.get(s"$dir/$t.$ext")))
      val ndv = df.columns.map(c => df.select(c).distinct().count())
      Files.write(Paths.get(s"$dir/$t.stat"),
        s"${df.count()}\n${ndv.mkString(" ")}\n".getBytes("UTF-8"))
    }
    dir
  }

  /** The nine reference shapes with constant selections, plus GROUPBY
    * (the `kaj_spj` benchmark's ten), each over constants (a, b): the
    * dialect text, its Spark SQL twin, and whether the result is ordered
    * by its last column. */
  private val join3 = "CUSTOMER.cid=CART.cid,CART.cartid=CARTDETAILS.cartid,CARTDETAILS.iid=BILL.iid"
  private val join3Sql = join3.replace(",", " AND ")
  private val from3 = "CUSTOMER,CART,CARTDETAILS,BILL"
  private val shapes: Seq[(String, (Int, Int) => (String, String), Boolean)] = Seq(
    ("q1", (a, b) => (s"""SELECT * FROM CUSTOMER WHERE CUSTOMER.cid>="$a",CUSTOMER.cid<"$b"""",
      s"SELECT * FROM CUSTOMER WHERE cid >= $a AND cid < $b"), false),
    ("q2", (a, b) => (s"""SELECT CUSTOMER.cid,CUSTOMER.gender,CUSTOMER.firstname FROM CUSTOMER WHERE CUSTOMER.gender="${a / 20 % 2}",CUSTOMER.cid>="$b"""",
      s"SELECT cid, gender, firstname FROM CUSTOMER WHERE gender = ${a / 20 % 2} AND cid >= $b"), false),
    ("q3", (_, b) => (s"""SELECT CUSTOMER.cid,CUSTOMER.firstname,MAX(CART.cartid),CART.status FROM CUSTOMER,CART WHERE CUSTOMER.cid=CART.cid,CART.cartid<"$b"""",
      s"WITH j AS (SELECT CUSTOMER.cid, firstname, cartid, status FROM CUSTOMER, CART " +
        s"WHERE CUSTOMER.cid = CART.cid AND cartid < $b), a AS (SELECT MAX(cartid) AS m FROM j) " +
        "SELECT DISTINCT j.cid, j.firstname, a.m, j.status FROM j, a WHERE j.cartid = a.m"), false),
    ("q4", (a, b) => (s"""SELECT * FROM CUSTOMER,CART,CARTDETAILS WHERE CUSTOMER.cid=CART.cid,CART.cartid=CARTDETAILS.cartid,CUSTOMER.cid>="$a",CUSTOMER.cid<"$b"""",
      s"SELECT * FROM CUSTOMER, CART, CARTDETAILS WHERE CUSTOMER.cid = CART.cid " +
        s"AND CART.cartid = CARTDETAILS.cartid AND CUSTOMER.cid >= $a AND CUSTOMER.cid < $b"), false),
    ("q5", (a, b) => (s"""SELECT * FROM $from3 WHERE $join3,BILL.billid>="$a",BILL.billid<"$b"""",
      s"SELECT * FROM $from3 WHERE $join3Sql AND BILL.billid >= $a AND BILL.billid < $b"), false),
    ("q6", (a, b) => (s"""SELECT * FROM $from3 WHERE $join3,BILL.amount<"${b * 12}",BILL.amount>"${a * 12}"""",
      s"SELECT * FROM $from3 WHERE $join3Sql AND amount < ${b * 12} AND amount > ${a * 12}"), false),
    ("q7", (a, b) => (s"""SELECT CUSTOMER.gender,BILL.amount FROM $from3 WHERE $join3,BILL.amount<"${b * 12}",BILL.amount>"${a * 12}"""",
      s"SELECT gender, amount FROM $from3 WHERE $join3Sql AND amount < ${b * 12} AND amount > ${a * 12}"), false),
    ("q9", (a, _) => (s"""SELECT DISTINCT CUSTOMER.gender FROM CUSTOMER WHERE CUSTOMER.cid>"$a"""",
      s"SELECT DISTINCT gender FROM CUSTOMER WHERE cid > $a"), false),
    ("q10", (a, b) => (s"""SELECT CUSTOMER.cid,CART.cartid,BILL.billid,BILL.amount FROM $from3 WHERE $join3,BILL.amount<"${b * 12}",BILL.amount>"${a * 12}" ORDERBY BILL.amount""",
      s"SELECT CUSTOMER.cid, CART.cartid, billid, amount FROM $from3 WHERE $join3Sql " +
        s"AND amount < ${b * 12} AND amount > ${a * 12}"), true),
    ("groupby", (a, _) => (s"""SELECT CUSTOMER.gender,COUNT(BILL.billid),SUM(BILL.amount),AVG(CARTDETAILS.qty) FROM $from3 WHERE $join3,BILL.amount>"${a * 12}" GROUPBY CUSTOMER.gender""",
      s"SELECT gender, COUNT(billid), SUM(amount), AVG(qty) FROM $from3 WHERE $join3Sql " +
        s"AND amount > ${a * 12} GROUP BY gender"), false))

  test("each query shape compiles one generated source whatever its constants") {
    val loaded = QueryRunner.loadTables(spark, statDir)
    // the twins run in a session of their own, without the strategy
    val plain = spark.newSession()
    loaded.keys.foreach(t => plain.read.format("graft.sources.DetDataSource")
      .load(s"$statDir/$t").createOrReplaceTempView(t))
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    for ((name, query, ordered) <- shapes) {
      val sources = Seq((20, 70), (40, 90)).map { case (a, b) =>
        val (dialect, twin) = query(a, b)
        val df = Translator.run(spark, dialect, loaded)
        val got = rows(df)
        val want = rows(plain.sql(twin))
        assert(got.nonEmpty, s"$name($a, $b) selects no rows")
        assert(got.sortBy(_.mkString("|")) == want.sortBy(_.mkString("|")),
          s"$name($a, $b): rows differ from its twin")
        if (ordered) {
          val keys = got.map(_.last.asInstanceOf[Int])
          assert(keys == keys.sorted, s"$name($a, $b) is not ordered")
        }
        val plan = df.queryExecution.executedPlan
        // the plan with ids and constants blanked out, and the stages' sources
        (plan.toString.replaceAll("\\d+", "N"),
          collect(plan) { case w: WholeStageCodegenExec => w }.map(_.doCodeGen()._2.body))
      }
      // constants may legitimately move a plan (a build side flips with a
      // selectivity estimate); the sets above keep each shape's plan
      def firstDiff(x: String, y: String) =
        x.split("\n").zip(y.split("\n")).find { case (l, r) => l != r }.getOrElse("the length")
      val Seq((plan1, first), (plan2, second)) = sources
      assert(plan1 == plan2, s"$name: the constant sets plan differently at ${firstDiff(plan1, plan2)}")
      assert(first.nonEmpty, s"$name has no whole-stage codegen")
      first.zip(second).zipWithIndex.foreach { case ((x, y), stage) =>
        assert(x == y, s"$name: stage $stage's generated source differs between " +
          s"constant sets, first at ${firstDiff(x, y)}")
      }
    }
  }
}
