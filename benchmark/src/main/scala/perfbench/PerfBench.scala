package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{QueryDef, SparkEntry, Tables}
import graft.dialect.{Parser, QueryRunner, Translator}

/** One benchmark run in one JVM: a single client thread submits one query
  * at a time (closed loop) to one `local[N]` session.
  *
  * Usage: PerfBench <workload> <dataDir> <planFile> <outDir> <seconds>
  *        <trace 0|1> <setups> <cpus>
  *
  * `planFile` holds one query per line, `<pass>\t<traced 0|1>\t<id>\t<name
  * or dialect text>`; pass 0 is the cold pass, the later passes are the
  * timed window.
  * The run
  *   1. sets up `setups` times (session start + table load/registration),
  *      stopping the session between set-ups and keeping the last;
  *   2. runs the cold pass;
  *   3. runs the window passes; every window does the same amount of work,
  *      sized by the caller to take about `seconds`. In a traced run the
  *      Spark listeners are registered for the whole window, and the plan
  *      marks about half of each pass's queries traced: their spans are
  *      kept in memory and their jobs and stages recorded. The untraced
  *      half is equally warm, so tracing overhead is measured in-run;
  *   4. for the registry workloads, runs an untimed check pass that
  *      writes every query's result as parquet for the DuckDB oracle
  *      (dialect queries write their result files during the run).
  * Records go to `<outDir>/records.jsonl`; times are epoch microseconds
  * (Spark's listener events carry epoch milliseconds).
  */
object PerfBench {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNano) / 1000L

  private val records = ArrayBuffer.empty[String]
  private def emit(kind: String, kv: (String, Any)*): Unit = synchronized {
    records += (("kind" -> kind) +: kv).map { case (k, v) => s"${str(k)}:${jv(v)}" }
      .mkString("{", ",", "}")
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  // values are strings, booleans and integers
  private def jv(v: Any): String = v match {
    case s: String => str(s)
    case other => other.toString
  }

  final case class Item(pass: Int, traced: Boolean, id: String, text: String)

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-query attribution of Spark work: the client thread tags every
    * job with the query id, the harness span it ran under and whether the
    * query is traced; jobs and stages of untraced queries are not
    * recorded. Catalyst phases and SQL executions carry no job properties;
    * they are recorded for every query and attributed by time. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]
    private val tracedJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private def tag(p: Properties, k: String) =
      Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (tag(e.properties, "perfbench.traced") == "1") {
        val (q, ph) = (tag(e.properties, "perfbench.qid"), tag(e.properties, "perfbench.span"))
        tracedJobs.add(e.jobId)
        e.stageIds.foreach(s => stageOwner.put(s, (q, ph)))
        emit("job", "qid" -> q, "span" -> ph, "job" -> e.jobId, "start_us" -> e.time * 1000L)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (tracedJobs.remove(e.jobId)) emit("job_end", "job" -> e.jobId, "end_us" -> e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) Option(stageOwner.get(i.stageId)).foreach { case (q, ph) =>
        emit("stage", "qid" -> q, "span" -> ph, "tasks" -> i.numTasks,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        emit("sql_start", "exec" -> x.executionId, "at_us" -> x.time * 1000L)
      case x: SparkListenerSQLAdaptiveExecutionUpdate => emit("aqe", "exec" -> x.executionId)
      case _ => ()
    }
    private def phases(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      if (ps.nonEmpty) emit("qe", "at_us" -> ps.values.map(_.startTimeMs).min * 1000L)
      ps.foreach { case (ph, s) =>
        emit("catalyst", "phase" -> ph, "start_us" -> s.startTimeMs * 1000L,
          "end_us" -> s.endTimeMs * 1000L)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, planFile, outDir, secondsS, traceS, setupsS, cpusS) = args
    val (seconds, trace, setups, cpus) =
      (secondsS.toDouble, traceS == "1", setupsS.toInt, cpusS.toInt)
    val dialect = workload == "kaj_spj"
    val work = new File(outDir).getAbsolutePath
    val plan = Files.readAllLines(Paths.get(planFile)).asScala.filter(_.nonEmpty).map { l =>
      val Array(p, traced, id, text) = l.split("\t", 4)
      Item(p.toInt, traced == "1", id, text)
    }.toIndexedSeq
    val defs: Map[String, QueryDef] = SparkEntry.registry.map(q => q.name -> q).toMap
    if (!dialect) {
      val unknown = plan.map(_.text).distinct.filterNot(defs.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    new File(s"$work/results").mkdirs()

    // 1. set-ups
    var spark: SparkSession = null
    var tables: Map[String, DataFrame] = Map.empty
    for (i <- 0 until setups) {
      if (spark != null) spark.stop()
      val t0 = nowUs
      spark = session(cpus, work)
      val t1 = nowUs
      if (dialect) tables = QueryRunner.loadTables(spark, dataDir)
      else Tables.registerAll(spark, dataDir)
      val t2 = nowUs
      emit("setup", "i" -> i, "session_us" -> (t1 - t0), "load_us" -> (t2 - t1),
        "start_us" -> t0, "end_us" -> t2)
    }
    val sc = spark.sparkContext
    val tracer = new Tracer

    def span[T](qid: String, name: String, traced: Boolean)(f: => T): T = {
      sc.setLocalProperty("perfbench.span", name)
      val t0 = nowUs
      try f finally if (traced) emit("span", "qid" -> qid, "span" -> name,
        "start_us" -> t0, "end_us" -> nowUs)
    }

    def runOne(it: Item, phase: String): Unit = {
      val traced = it.traced
      sc.setLocalProperty("perfbench.qid", it.id)
      sc.setLocalProperty("perfbench.traced", if (traced) "1" else "0")
      val (c0, n0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = nowUs
      var err = ""
      try {
        if (dialect) {
          val q = span(it.id, "parse", traced)(Parser.parse(it.text))
          val df = span(it.id, "translate", traced)(Translator.build(spark, q, tables))
          span(it.id, "sink", traced) {
            val out = new PrintWriter(s"$work/results/${it.id}.out")
            try QueryRunner.writeReferenceFormat(out, df) finally out.close()
            require(!out.checkError(), s"I/O error writing ${it.id}")
          }
        } else {
          val df = span(it.id, "build", traced)(defs(it.text).build(spark, dataDir))
          span(it.id, "sink", traced)(df.write.format("noop").mode("overwrite").save())
        }
      } catch {
        case e: Throwable =>
          err = Option(e.getMessage).flatMap(_.linesIterator.toSeq.headOption)
            .getOrElse(e.getClass.getName)
          System.err.println(s"[perfbench] FAILED ${it.id}: $err")
          e.printStackTrace()
      }
      val t1 = nowUs
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] $phase ${it.id} ${(t1 - t0) / 1e6}%.3f s")
      emit("query", "phase" -> phase, "pass" -> it.pass, "id" -> it.id, "name" -> it.text,
        "start_us" -> t0, "end_us" -> t1, "traced" -> traced, "error" -> err,
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0),
        "compile_ns" -> (CodeGenerator.compileTime - n0))
    }

    // 2. cold pass
    val byPass = plan.groupBy(_.pass)
    val t0 = nowUs
    byPass(0).foreach(runOne(_, "cold"))
    emit("cold", "start_us" -> t0, "end_us" -> nowUs)

    // 3. timed window: the remaining passes, cut short (at a pass boundary)
    // only if a much slower program would overrun the run's time limit
    if (trace) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
    val w0 = nowUs
    val deadline = w0 + (4 * seconds * 1e6).toLong
    for (pass <- byPass.keys.toSeq.sorted.tail if nowUs < deadline)
      byPass(pass).foreach(runOne(_, "window"))
    emit("window", "start_us" -> w0, "end_us" -> nowUs)
    if (trace) {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc, 120000L)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }

    // 4. untimed check pass (registry workloads)
    if (!dialect) {
      val names = plan.map(_.text).distinct.sorted
      val oracle = names.flatMap(n => defs(n).oracle.map(n -> _))
      Files.writeString(Paths.get(s"$work/results/oracle_sql.json"),
        oracle.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
      names.foreach { n =>
        var err = ""
        try defs(n).build(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/results/$n")
        catch {
          case e: Throwable =>
            err = Option(e.getMessage).getOrElse(e.getClass.getName)
            e.printStackTrace()
        } finally spark.catalog.clearCache()
        emit("check", "name" -> n, "error" -> err)
      }
    }

    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    emit("rss", "peak_kb" -> hwm)
    spark.stop()
    val w = new PrintWriter(s"$work/records.jsonl", "UTF-8")
    try records.foreach(w.println) finally w.close()
  }
}
