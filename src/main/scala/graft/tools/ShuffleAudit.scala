package graft.tools

/** Per-query shuffle/spill/input byte audit — the host-noise-immune
  * performance surface. Wall-clock on a contended shared host swings 3x
  * between runs (see README, round 6), but BYTES MOVED is a property of
  * the plan: at 100 TB the dominant cost is shuffle volume, so this is
  * the number a plan change must be judged by. Runs each registered
  * query against a noop sink (full execution, no result materialization
  * on the driver) under one [[graft.Profile]] and prints three lines per
  * query:
  *
  *   SHUFFLE <name> in=<input> sread=<shuffle read> swrite=<shuffle write>
  *           spillMem=<memory spill> spillDisk=<disk spill>
  *           rawswrite=<bytes> rawspill=<bytes>
  *
  * a physical-strategy fingerprint (join operator counts over the final,
  * post-AQE plans of every execution the query triggers):
  *
  *   PLANSIG <name> bhj=N smj=N shj=N bnlj=N cart=N
  *
  * and its scheduling shape — at the local bench SF most wall time is
  * not data movement but plan-execution overhead (every eager
  * materialize, broadcast build and AQE stage is a job), so a query that
  * moves 1 MB in 40 stages shows up here:
  *
  *   PROFILE <name> jobs=N stages=N tasks=N exch=N bexch=N aqe=N
  *
  * exch/bexch = shuffle/broadcast exchange nodes in those final plans;
  * aqe = the number of query executions (actions) the query triggered.
  *
  * Two audit outputs from fresh JVMs feed [[ShuffleVerdict]], the
  * mechanical byte-surface regression gate, which reads the SHUFFLE and
  * PLANSIG lines only.
  *
  * Usage: runMain graft.tools.ShuffleAudit <sfDir> [namePrefix...]
  */
object ShuffleAudit {

  /** The strategy classes whose run-to-run identity the verdict gate
    * requires — an AQE flip between any two of these at the local test
    * scale is exactly the class of silent plan change that prices
    * differently at 100 TB. */
  val StrategyOps: Seq[(String, String)] = Seq(
    "bhj" -> "BroadcastHashJoin",
    "smj" -> "SortMergeJoin",
    "shj" -> "ShuffledHashJoin",
    "bnlj" -> "BroadcastNestedLoopJoin",
    "cart" -> "CartesianProduct")

  /** The PLANSIG fields, from a profile's final-plan node counts. */
  def planSig(nodes: Map[String, Long]): String =
    StrategyOps.map { case (k, op) =>
      s"$k=${nodes.collect { case (cls, n) if cls.startsWith(op) => n }.sum}"
    }.mkString(" ")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val prefixes = args.drop(1)
    val spark = graft.Session.local()
    val p = graft.Profile.attach(spark)

    def fmt(b: Long): String =
      if (b >= (1L << 20)) f"${b / 1048576.0}%.1fMiB"
      else if (b >= (1L << 10)) f"${b / 1024.0}%.1fKiB"
      else s"${b}B"

    graft.SparkEntry.registry
      .filter(q => prefixes.isEmpty || prefixes.exists(q.name.startsWith))
      .foreach { q =>
        p.reset()
        try {
          q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          // a drain timeout means the QUERY succeeded but the bus lagged —
          // report the (possibly partial) counters with a marker, not FAILED
          val marker = if (p.drain()) "" else " metrics-incomplete"
          println(s"SHUFFLE ${q.name} in=${fmt(p.inputBytes)} " +
            s"sread=${fmt(p.shuffleReadBytes)} swrite=${fmt(p.shuffleWriteBytes)} " +
            s"spillMem=${fmt(p.memorySpillBytes)} spillDisk=${fmt(p.diskSpillBytes)} " +
            s"rawswrite=${p.shuffleWriteBytes} " +
            s"rawspill=${p.memorySpillBytes + p.diskSpillBytes}$marker")
          val nodes = p.nodes
          println(s"PLANSIG ${q.name} ${planSig(nodes)}")
          println(s"PROFILE ${q.name} jobs=${p.jobs} stages=${p.stages} tasks=${p.tasks} " +
            s"exch=${nodes("ShuffleExchangeExec")} bexch=${nodes("BroadcastExchangeExec")} " +
            s"aqe=${p.executions}")
        } catch {
          case e: Throwable => println(s"SHUFFLE ${q.name} FAILED ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
