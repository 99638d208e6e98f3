package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics collector: a stage listener plus a plan walk over every
  * successful query execution, accumulated from [[Profile.attach]] (or the
  * last [[reset]]) until read. Bench reads the byte counters; ShuffleAudit
  * prints all of them. `SessionLawSpec` fails the suite on any listener
  * registration in the main tree outside this file.
  *
  * Stage counters come from SUCCESSFUL stage attempts only: a failed or
  * retried attempt would double-count its bytes, and only successful
  * attempts describe the plan. Jobs are counted at job start.
  *
  * Plan nodes are counted by simple class name in the final (post-AQE)
  * executed plan of every execution. Counted by TREE WALK, not string
  * search: the rendered string re-expands reused exchanges, and WHICH
  * exchange AQE marks as the reuse races with stage materialization order
  * (string counts flapped 18 vs 19 joins on byte-identical q185 runs). The
  * walk unwraps the adaptive and query-stage wrappers (their plans are
  * fields, not tree children, and the wrappers themselves are not
  * counted), dedups nodes by identity within one execution (a reused
  * query stage is the SAME object at several tree positions; counting it
  * per position flapped q322 18 vs 15 joins), and stops at
  * `ReusedExchangeExec`, which counts as a leaf — so each physical
  * operator is counted once no matter which twin AQE labels the reuse.
  *
  * Listener events arrive asynchronously: call [[drain]] after the action
  * and before reading.
  */
final class Profile private (spark: SparkSession) {
  private val jobCount, stageCount, taskCount, execCount = new AtomicLong
  private val inputB, shuffleReadB, shuffleWriteB, memorySpillB, diskSpillB = new AtomicLong
  private val planNodes = new ConcurrentHashMap[String, AtomicLong]()

  def jobs: Long = jobCount.get
  def stages: Long = stageCount.get
  def tasks: Long = taskCount.get
  def inputBytes: Long = inputB.get
  def shuffleReadBytes: Long = shuffleReadB.get
  def shuffleWriteBytes: Long = shuffleWriteB.get
  def memorySpillBytes: Long = memorySpillB.get
  def diskSpillBytes: Long = diskSpillB.get
  /** Successful query executions (actions) since the last reset. */
  def executions: Long = execCount.get
  /** Final-plan node counts by simple class name (0 for absent classes). */
  def nodes: Map[String, Long] =
    planNodes.asScala.map { case (k, v) => k -> v.get }.toMap.withDefaultValue(0L)

  def reset(): Unit = {
    Seq(jobCount, stageCount, taskCount, execCount,
      inputB, shuffleReadB, shuffleWriteB, memorySpillB, diskSpillB).foreach(_.set(0L))
    planNodes.clear()
  }

  /** Wait (up to 60 s) for the listener bus to deliver every posted event.
    * False means the counters may be partial; it never throws, so a slow
    * bus cannot fail a query that ran. */
  def drain(): Boolean =
    try {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext, 60000L)
      true
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt(); false
      case NonFatal(_) => false
    }

  private def walk(root: SparkPlan): Unit = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def count(p: SparkPlan): Unit =
      planNodes.computeIfAbsent(p.getClass.getSimpleName, _ => new AtomicLong).incrementAndGet()
    def go(p: SparkPlan): Unit =
      if (seen.add(p)) p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case r: ReusedExchangeExec => count(r)
        case n => count(n); n.children.foreach(go)
      }
    go(root)
  }

  private def register(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobCount.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (sc.stageInfo.failureReason.isEmpty) {
          stageCount.incrementAndGet()
          taskCount.addAndGet(sc.stageInfo.numTasks.toLong)
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            inputB.addAndGet(m.inputMetrics.bytesRead)
            shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            memorySpillB.addAndGet(m.memoryBytesSpilled)
            diskSpillB.addAndGet(m.diskBytesSpilled)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        execCount.incrementAndGet()
        walk(qe.executedPlan)
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }
}

object Profile {
  /** A collector listening to `spark` from now on. */
  def attach(spark: SparkSession): Profile = {
    val p = new Profile(spark)
    p.register()
    p
  }
}
