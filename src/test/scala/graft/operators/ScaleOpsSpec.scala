package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestBase, Tables}
import graft.sources.Bucketed

class ScaleOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("bucketed tables join with zero Exchange nodes") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_bucket_test")
    spark.sql("USE graft_bucket_test")
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previously failed run can leave an orphaned location behind,
      // which saveAsTable refuses to overwrite
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"graft_bucket_test.db/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    try {
      Bucketed.createOrderTables(spark, sfDir, buckets = 4)
      val joined = Bucketed.joinOrders(spark)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected exchange-free bucketed join:\n$plan")
      // same result as the plain join
      val o = Tables.load(spark, sfDir, "orders")
      val l = Tables.load(spark, sfDir, "lineitem")
      assert(joined.count() == l.join(o, l("l_orderkey") === o("o_orderkey")).count())
    } finally spark.sql("USE default")
  }

  test("CBO statistics give the optimizer row counts and NDVs") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_stats_test")
    spark.sql("USE graft_stats_test")
    try {
      graft.sources.Stats.analyze(spark, sfDir, Seq("nation", "region"))
      val stats = spark.table("nation_s").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)), s"rowCount: ${stats.rowCount}")
      assert(stats.attributeStats.nonEmpty, "expected per-column statistics")
      val ndv = stats.attributeStats.find(_._1.name == "n_nationkey")
        .flatMap(_._2.distinctCount)
      assert(ndv.contains(BigInt(25)), s"NDV(n_nationkey): $ndv")
    } finally {
      spark.sql("USE default")
      spark.conf.set("spark.sql.cbo.enabled", "false")
    }
  }

  test("salted join equals plain join on skewed data") {
    // 90% of the large side shares one key — the classic hot-key shape
    val large = (1 to 20000)
      .map(i => (if (i % 10 == 0) i % 7 else 999, i.toLong))
      .toDF("k", "payload")
    val small = Seq((999, "hot"), (0, "a"), (1, "b"), (2, "c"), (3, "d"),
      (4, "e"), (5, "f"), (6, "g")).toDF("k", "v")
    val got = SaltedJoin.join(large, small, "k", salts = 8,
      discriminators = Seq(col("payload")))
    val want = large.join(small, "k")
    assert(got.count() == want.count())
    assert(got.agg(sum("payload")).first().getLong(0) ==
      want.agg(sum("payload")).first().getLong(0))
    // salts actually spread the hot key
    val spread = large.withColumn("_salt", pmod(hash(col("payload")), lit(8)))
      .filter(col("k") === 999).select("_salt").distinct().count()
    assert(spread == 8)
  }

  test("AQE splits skewed sort-merge join partitions at runtime") {
    val n = 400000
    // one key owns 90% of the left side — far past the skew thresholds
    val left = spark.range(n)
      .selectExpr("IF(id % 10 < 9, 7L, id) AS k", "id AS payload")
    val right = spark.range(2000).selectExpr("id AS k", "id * 10 AS v")
    val joined = left.hint("merge").join(right, "k")
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of ids collapse to hot key 7 (matching right's k=7); the rest
      // (ids ending in 9) match right only below 2000: 0.9n + 200 rows.
      // collect() (not count()) so this queryExecution itself runs and
      // AQE finalizes.
      assert(joined.collect().length == n / 10 * 9 + 200)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE skew handling:\n$plan")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed range join equals the nested-loop BETWEEN join") {
    val l = graft.Tables.load(spark, sfDir, "lineitem")
    val p = graft.Tables.load(spark, sfDir, "part").filter(col("p_size") <= 3)
      .select(col("p_partkey"), (col("p_retailprice") * 30).as("lo"),
        (col("p_retailprice") * 30 + 2000).as("hi"))
    val got = RangeJoin.bucketed(l, p, col("l_extendedprice"), col("lo"), col("hi"), 4000.0)
    val want = l.join(p, col("l_extendedprice") >= col("lo") &&
      col("l_extendedprice") <= col("hi"))
    assert(got.count() == want.count() && want.count() > 0)
    // the bucketed plan hash-joins; no nested-loop
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("TopKAgg orders by (score desc, id asc) and bounds the buffer") {
    val agg = new graft.functions.TopKAgg(3)
    val rows = Seq((1.0, 5L), (2.0, 3L), (2.0, 1L), (0.5, 9L), (3.0, 7L))
    val buf = rows.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq((3.0, 7L), (2.0, 1L), (2.0, 3L)))
    // merge respects the same ordering
    val (l, r) = rows.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged) == Seq((3.0, 7L), (2.0, 1L), (2.0, 3L)))
  }

  test("filters and projections reach the parquet scan") {
    // the free wins the whole design leans on: predicate pushdown and
    // column pruning must actually appear in the physical scan
    val plan = graft.SparkEntry.queries("q02_filter_project")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      plan.take(1500))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("c_comment"), s"scan reads unprojected columns: $read")
  }

  test("hyperplane LSH prunes candidates far below all-pairs at 4x replication") {
    // deterministic counterpart of the embed_lsh_x* timings in
    // SCALEPROBE_r8.txt–SCALEPROBE_r13_x64.txt: with replicas
    // made dissimilar (per-replica random sign flip per dimension), the
    // banding must emit a small fraction of the n^2/2 pair space
    import org.apache.spark.sql.DataFrame
    val emb0 = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val maxVec = emb0.agg(max("vec_id")).first().getLong(0) + 1
    val big: DataFrame = (0 until 4).map { i =>
      emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
        .withColumn("embedding", transform(col("embedding"),
          (x, k) => x * (pmod(hash(lit(i * 7919) + k), lit(2)) * 2 - 1).cast("float")))
    }.reduce(_ union _)
    val n = big.count()
    val allPairs = n * (n - 1) / 2
    val cands = graft.queries.Similarity.lshCandidatePairs(big).count()
    assert(cands < allPairs / 50, s"$cands candidates of $allPairs pairs")
  }
}
