package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ShuffleAudit

/** The one metrics collector, on real sf0.001 executions: stage counters,
  * the final-plan walk (reuse counted once, as a leaf), the PLANSIG
  * fingerprint ShuffleAudit derives from it, and reset(). Also pins the
  * exchange reuse q208's lazy k-core relies on. */
class ProfileSpec extends AnyFunSuite with SparkTestBase {

  private lazy val profile = Profile.attach(spark)

  /** Run `body`'s frame to a noop sink from zeroed counters. */
  private def profiled(body: => org.apache.spark.sql.DataFrame): Profile = {
    profile.reset()
    body.write.format("noop").mode("overwrite").save()
    assert(profile.drain(), "listener bus did not drain")
    profile
  }

  test("counts stages and bytes, walks the final plan once per node, and resets") {
    // one aggregation read twice: AQE plans the second read as a reuse of
    // the first one's shuffle. No broadcast, so the join is a sort-merge
    // join over the aggregation's own partitioning.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = try profiled {
      val li = Tables.load(spark, sfDir, "lineitem")
      val agg = li.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      agg.join(agg.withColumnRenamed("q", "q2"), "l_orderkey")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    assert(p.jobs >= 1 && p.stages >= 1 && p.tasks >= 1, p.nodes)
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes > 0 && p.inputBytes > 0)
    assert(p.executions == 1)
    assert(ShuffleAudit.planSig(p.nodes) == "bhj=0 smj=1 shj=0 bnlj=0 cart=0", p.nodes)
    // the reused side is one ReusedExchangeExec leaf: its exchange, the
    // partial aggregation and the scan beneath it are counted once
    assert(p.nodes("ReusedExchangeExec") == 1, p.nodes)
    assert(p.nodes("ShuffleExchangeExec") == 1, p.nodes)
    assert(p.nodes("FileSourceScanExec") == 1, p.nodes)
    assert(p.nodes("HashAggregateExec") == 3, p.nodes) // 1 partial + 2 final
    // wrappers are unwrapped, not counted
    assert(!p.nodes.keySet.exists(k => k.startsWith("AdaptiveSparkPlan") ||
      k.endsWith("QueryStageExec")), p.nodes)

    p.reset()
    assert(Seq(p.jobs, p.stages, p.tasks, p.executions, p.inputBytes, p.shuffleReadBytes,
      p.shuffleWriteBytes, p.memorySpillBytes, p.diskSpillBytes).forall(_ == 0L))
    assert(p.nodes.isEmpty)
  }

  test("q208_kcore's final plans reuse an exchange") {
    // the lazy k-core `keep` reads each round's degree aggregation twice;
    // exchange reuse is what runs that aggregation once per round
    val p = profiled(SparkEntry.queries("q208_kcore")(spark, sfDir))
    assert(p.nodes("ReusedExchangeExec") > 0, p.nodes)
  }
}
