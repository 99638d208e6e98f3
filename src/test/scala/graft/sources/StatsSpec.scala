package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The reference ships per-table statistics in `<table>.stat` text files
  * (line 1 = tuple count, line 2 = per-column distinct counts; its
  * optimizer reads them in PlanCost.getStatistics,
  * src/qp/optimizer/PlanCost.java:219-263). These specs pin the parser,
  * the QueryRunner table-discovery path (every reference layout through
  * the DSv2 scan, which reports the EXTERNAL numbers, not a scan's; a
  * `.stat` beside parquet ignored with a warning), and the reference
  * `QueryMain` CLI invocation shape.
  */
class StatsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("readStat parses the reference two-line format") {
    val dir = tmp("stat-parse")
    Files.write(Paths.get(s"$dir/t.stat"), "12345\n100 42 7\n".getBytes)
    assert(Stats.readStat(s"$dir/t.stat") == ((12345L, Seq(100L, 42L, 7L))))
    // whitespace-tolerant like the reference's StringTokenizer
    Files.write(Paths.get(s"$dir/u.stat"), "  9 \n 3   2 \n".getBytes)
    assert(Stats.readStat(s"$dir/u.stat") == ((9L, Seq(3L, 2L))))
    Files.write(Paths.get(s"$dir/neg.stat"), "9\n3 -2\n".getBytes)
    intercept[IllegalArgumentException](Stats.readStat(s"$dir/neg.stat"))
  }

  /** loadTables(dir), and what it printed to stderr meanwhile. */
  private def loadWithErr(dir: String): (Map[String, org.apache.spark.sql.DataFrame], String) = {
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try (graft.dialect.QueryRunner.loadTables(spark, dir), err.toString("UTF-8"))
    finally System.setErr(saved)
  }

  /** No per-directory stats database: loading registers nothing. */
  private def noStatsDb(): Boolean =
    !spark.catalog.listDatabases().collect().exists(_.name.startsWith("graft_stats_"))

  test("a .stat beside a parquet table is ignored with a warning naming it; the table loads") {
    // the reference never ships parquet; parquet's stats route is
    // ANALYZE TABLE (Stats.analyze), so loadTables warns and moves on
    val dir = tmp("stat-parquet")
    Seq((1, 10), (2, 20)).toDF("k", "v")
      .write.parquet(s"$dir/emp.parquet")
    Files.write(Paths.get(s"$dir/emp.stat"), "777\n700 70\n".getBytes)
    val (tables, err) = loadWithErr(dir)
    assert(err.contains("WARNING") && err.contains(s"$dir/emp.stat"), err)
    val emp = tables("emp")
    assert(emp.count() == 2)
    assert(!emp.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(777)))
    assert(noStatsDb())
  }

  /** The reference's `.det` catalogs, copied from FIXTURES.md §A. */
  private def refDet(t: String): String = getClass.getResource(s"/det/$t.det").getPath

  /** Write `<t>.det` (copied from `det`), `<t>.txt` with `n` generated
    * rows, and `<t>.stat` with `stat` as its content (if given) into `dir`. */
  private def detTable(dir: String, t: String, det: String, n: Int,
      stat: Option[String]): org.apache.spark.sql.DataFrame = {
    val gen = DetSource.generate(spark, det, n)
    val lines = gen.collect().map(_.toSeq.map(String.valueOf).mkString("", "\t", "\t"))
    Files.write(Paths.get(s"$dir/$t.txt"), lines.mkString("\n").getBytes("UTF-8"))
    Files.copy(Paths.get(det), Paths.get(s"$dir/$t.det"))
    stat.foreach(st => Files.write(Paths.get(s"$dir/$t.stat"), st.getBytes("UTF-8")))
    gen
  }

  /** The true `.stat` of `df`: its row count, then its per-column NDVs. */
  private def trueStat(df: org.apache.spark.sql.DataFrame): String = {
    val ndvs = df.columns.map(c => df.select(c).distinct().count())
    s"${df.count()}\n${ndvs.mkString(" ")}\n"
  }

  private def files(root: String): Set[String] = {
    val p = Paths.get(root.stripPrefix("file:"))
    if (!Files.exists(p)) Set.empty
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.map(_.toString).toSet finally walk.close()
    }
  }

  private def resetCbo(): Unit = {
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
  }

  private def colStat(df: org.apache.spark.sql.DataFrame, name: String) =
    df.queryExecution.optimizedPlan.stats.attributeStats
      .collectFirst { case (a, s) if a.name == name => s }
      .getOrElse(fail(s"no column stats for $name"))

  test(".stat numbers drive the physical join choice, not just metadata") {
    // same physical data, two different .stat claims: tiny => the CBO
    // (and the planner's size estimate derived from it) must broadcast;
    // huge => it must keep the sort-merge join. This is the end-to-end
    // point of .stat support; the stats reach Catalyst from the DSv2 scan.
    val dir = tmp("stat-cbo")
    Files.write(Paths.get(s"$dir/dim.det"),
      "2\n24\nk INTEGER 50 PK 4\ngrp STRING 2 NK 20\n".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/dim.txt"),
      Seq.tabulate(50)(i => s"$i\tg${i % 5}\t").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/fact.det"),
      "2\n8\nk INTEGER 50 FK 4\nv INTEGER 500 NK 4\n".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/fact.txt"),
      Seq.tabulate(500)(i => s"${i % 50}\t$i\t").mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/fact.stat"), "100000000\n50 500\n".getBytes("UTF-8"))
    def planWith(dimRows: Long, dimNdv: Long): String = {
      Files.write(Paths.get(s"$dir/dim.stat"), s"$dimRows\n$dimNdv 5\n".getBytes("UTF-8"))
      val t = graft.dialect.QueryRunner.loadTables(spark, dir)
      t("fact").join(t("dim"), "k").groupBy("grp").count()
        .queryExecution.sparkPlan.toString
    }
    try {
      assert(planWith(50L, 50L).contains("BroadcastHashJoin"),
        "tiny .stat side should broadcast")
      val huge = planWith(500000000L, 50L)
      assert(huge.contains("SortMergeJoin") && !huge.contains("BroadcastHashJoin"),
        s"huge .stat side must not broadcast:\n$huge")
    } finally resetCbo()
  }

  test(".det/.txt tables serve their .stat from the DSv2 scan, with no warehouse copy") {
    // the scan reports the .stat itself: loading copies no data and
    // registers nothing, and every figure the join estimate needs
    // (rowCount, distinctCount, nullCount, integer min/max) reaches the
    // optimizer
    val dir = tmp("stat-det")
    detTable(dir, "CART", refDet("CART"), 40, Some("424242\n7 8 9 10\n"))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val before = files(warehouse)
    try {
      val tables = graft.dialect.QueryRunner.loadTables(spark, dir)
      val cart = tables("CART")
      assert(cart.count() == 40)
      assert(files(warehouse) == before, "loadTables wrote under the warehouse")
      assert(noStatsDb())
      assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
      assert(spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true")
      val stats = cart.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(424242)),
        s"CBO should see the .stat row count for a det/txt table, got $stats")
      val cartid = colStat(cart, "cartid")
      assert(cartid.distinctCount.contains(BigInt(7)) && cartid.nullCount.contains(BigInt(0)))
      assert(cartid.min.contains(0) && cartid.max.contains(199))
      val status = colStat(cart, "status")
      assert(status.distinctCount.contains(BigInt(9)) && status.nullCount.contains(BigInt(0)))
      assert(status.min.isEmpty && status.max.isEmpty)
      // the scan's size is the .stat row count x the read schema's width
      val scan = cart.select("cid").queryExecution.optimizedPlan.collectLeaves().head
      assert(scan.stats.sizeInBytes == BigInt(424242) * 4)
    } finally resetCbo()
  }

  test("a 3-table join over .stat-bearing .det/.txt tables is estimated and broadcast at plan time") {
    val dir = tmp("stat-join3")
    Seq("CUSTOMER", "CART", "CARTDETAILS").foreach { t =>
      detTable(dir, t, refDet(t), 200, None)
      val back = spark.read.format("graft.sources.DetDataSource").load(s"$dir/$t")
      Files.write(Paths.get(s"$dir/$t.stat"), trueStat(back).getBytes("UTF-8"))
    }
    try {
      val t = graft.dialect.QueryRunner.loadTables(spark, dir)
      val joined = t("CUSTOMER").join(t("CART"), "cid").join(t("CARTDETAILS"), "cartid")
      val est = joined.queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(fail("no row-count estimate for the join"))
      // the cartesian fallback would claim 200^3; real estimates stay
      // below the product of any two inputs
      assert(est > 0 && est < BigInt(200 * 200), s"estimate $est")
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
      assert(joined.count() ==
        t("CUSTOMER").join(t("CART"), "cid").join(t("CARTDETAILS"), "cartid").count())
    } finally resetCbo()
  }

  test("a malformed .stat beside a .det/.txt table is ignored with a warning naming it") {
    try Seq("wrong-ndv-count" -> "10\n1 2\n", "unparsable" -> "ten\nx y z w\n").foreach {
      case (label, stat) =>
        val dir = tmp(s"stat-malformed-$label")
        val cartGen = detTable(dir, "CART", refDet("CART"), 40, Some(stat))
        val custGen = detTable(dir, "CUSTOMER", refDet("CUSTOMER"), 30, None)
        val (tables, err) = loadWithErr(dir)
        assert(err.contains("WARNING") && err.contains(s"$dir/CART.stat"), s"$label: $err")
        val cart = tables("CART")
        assert(cart.queryExecution.optimizedPlan.stats.rowCount.isEmpty, label)
        assert(cart.count() == 40, label)
        assert(cart.join(tables("CUSTOMER"), "cid").count() ==
          cartGen.join(custGen, "cid").count(), label)
    } finally resetCbo()
  }

  test(".stat beside a .tbl read through its .det gets the same column stats as the scan") {
    // the full reference layout of one table, as RandomDB + ConvertTxtToTbl
    // leave it: .det + .md + .tbl + .txt + .stat. It loads through the
    // connector (schema from the .det, rows from the .tbl) with no
    // warehouse copy, no stats database, and the .det's null count and
    // value domain in the column stats
    val dir = tmp("stat-tbl")
    val res = getClass.getResource("/tbl/md_table.md").getPath
    Files.copy(Paths.get(res), Paths.get(s"$dir/S.md"))
    Files.copy(Paths.get(res.stripSuffix(".md") + ".tbl"), Paths.get(s"$dir/S.tbl"))
    // md_table.md's columns: (cid INT, gender INT, firstname STRING, score REAL)
    Files.write(Paths.get(s"$dir/S.det"), ("4\n32\ncid INTEGER 200 PK 4\n" +
      "gender INTEGER 2 NK 4\nfirstname STRING 20 NK 20\nscore REAL 10 NK 4\n").getBytes("UTF-8"))
    // one row only: the .tbl's 6 rows must win
    Files.write(Paths.get(s"$dir/S.txt"), "0\t0\tf0\t0.0\t\n".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/S.stat"), "6\n6 2 6 6\n".getBytes("UTF-8"))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val before = files(warehouse)
    try {
      val s = graft.dialect.QueryRunner.loadTables(spark, dir)("S")
      assert(s.count() == 6)
      assert(files(warehouse) == before, "loadTables wrote under the warehouse")
      assert(noStatsDb())
      assert(s.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(6)))
      val want = Stats.statTable(s"$dir/S.stat", s.columns.toSeq,
        Some(DetSource.parseDet(s"$dir/S.det"))).columns.toMap
      assert(colStat(s, "cid").nullCount.contains(BigInt(0)))
      assert(colStat(s, "cid").min.contains(0) && colStat(s, "cid").max.contains(199))
      assert(colStat(s, "gender").min.contains(0) && colStat(s, "gender").max.contains(1))
      s.columns.foreach { c =>
        val got = colStat(s, c)
        assert((got.distinctCount, got.nullCount, got.min, got.max) ==
          ((want(c).distinctCount, want(c).nullCount, want(c).min, want(c).max)), c)
      }
    } finally resetCbo()
  }

  test("reference QueryMain invocation shape writes the reference format") {
    // tables live next to the query file, exactly like a reference data dir
    val dir = tmp("refcli")
    val det = refDet("CUSTOMER")
    val gen = DetSource.generate(spark, det, 50)
    val lines = gen.collect().map(_.toSeq.map(String.valueOf).mkString("", "\t", "\t"))
    Files.write(Paths.get(s"$dir/CUSTOMER.txt"), lines.mkString("\n").getBytes("UTF-8"))
    Files.copy(Paths.get(det), Paths.get(s"$dir/CUSTOMER.det"))
    Files.copy(Paths.get(getClass.getResource("/testcases/query2.sql").getPath),
      Paths.get(s"$dir/query2.sql"))

    val result = s"$dir/out.txt"
    // QueryMain <queryfilename> <resultfile> <pagesize> <numbuffer>
    graft.dialect.QueryRunner.run(spark, Array(s"$dir/query2.sql", result, "1000", "10"))

    val out = Files.readAllLines(Paths.get(result))
    val want = gen.filter($"gender" === 1).count()
    assert(out.size.toLong == 1 + want, s"header + $want rows, got ${out.size}")
    // reference printSchema: each column name followed by two spaces
    assert(out.get(0) == Seq("CUSTOMER.cid", "CUSTOMER.gender", "CUSTOMER.firstname")
      .map(_ + "  ").mkString)
    // reference printTuple: each value followed by a tab
    assert(out.get(1).count(_ == '\t') == 3)
  }
}
