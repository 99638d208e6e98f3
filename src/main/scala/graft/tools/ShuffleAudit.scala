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
  * and a plan certificate, the first 16 hex digits of the SHA-256 of the
  * query DataFrame's canonicalized optimized plan (verbose tree string):
  *
  *   PLANHASH <name> <hex>
  *
  * PLANSIG and PROFILE count the operators of every execution after AQE
  * re-planning, which races stage completion, so they can differ between
  * two runs of one commit; PLANHASH reads the logical plan before any
  * execution, so two builds that compose the same operators print the
  * same digest (lambda bodies excepted, see [[planHash]]). Exception:
  * some plans print one of several digests depending on what the JVM did
  * before. Seen over repeated audits: q11, q72, q88, q104, q126, q131,
  * q161, q169, q206, q211, q214, q220, q287, q313 and q319 (two or three
  * digests each), q74 (four), and q280's materialized frame (three). For
  * DISTINCT aggregates over two column sets (q72, q126, q206, q211) the
  * cause is Catalyst's rewrite into an Expand ordered by hashes of
  * expression ids; for q74 it is canonicalization ordering an `And`'s
  * conjuncts by hash code, with a scalar subquery among them; for the
  * others it is not traced. The rule: certify a query against the set of
  * digests the other commit printed over two or more audits. A frame the
  * query materializes eagerly shows up in it only as its scan, not as the
  * operators that built it.
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

  /** The PLANHASH digest of a DataFrame's canonicalized optimized plan.
    * Two tokens of the tree string name JVM state, not the plan, and are
    * cut to their class before hashing: a Scala lambda's hidden class
    * (`Similarity$$$Lambda$3562/0x00007fcb84f6e390@7b9b244e`, whose number
    * and address vary between JVMs) and the identity hash of a graft
    * object printed by its default `toString` (`TopKAgg@651a399`). */
  def planHash(df: org.apache.spark.sql.DataFrame): String = {
    val tree = df.queryExecution.optimizedPlan.canonicalized.treeString(verbose = true)
      .replaceAll("""\$\$Lambda[^,\s)\]]*""", "\\$\\$Lambda")
      .replaceAll("""(graft\.[\w.$]+)@[0-9a-f]+""", "$1@")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(tree.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

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
          val df = q.build(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
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
          println(s"PLANHASH ${q.name} ${planHash(df)}")
        } catch {
          case e: Throwable => println(s"SHUFFLE ${q.name} FAILED ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
