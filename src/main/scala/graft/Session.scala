package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (Bench, Verify, QueryRunner, the
  * source-format loaders and the tools) starts its Spark session here, so
  * the settings below cannot drift between entry points. `SessionLawSpec`
  * fails the suite on any other `SparkSession.builder()` in the main tree.
  *
  *   - cores: `local[n]` with `n` shuffle partitions, where `n` is
  *     `SPARK_GRAFT_CPUS` if set, else the JVM's available processors;
  *   - `graft.materialize.mode` from `GRAFT_MATERIALIZE_MODE` (default
  *     `local`; see [[Materialize]]) — the close checklist runs a full
  *     Verify pass under each mode;
  *   - whole-stage-codegen class cache 10000 entries (default 100): a
  *     378-query registry compiles thousands of distinct generated
  *     sources, so the default thrashes and every repetition, and every
  *     AQE stage sharing a shape across queries, re-compiles from scratch.
  *     Raising it cut a mixed 10-query sf0.1 subset 24% (30.0 s -> 22.9 s,
  *     A/B on one host); memory is compiled-class metaspace, a few KB each;
  *   - `maxPlanStringLength` 1 MiB: iterative operators under the
  *     lineage-keeping materialize mode (`replicated`) build plan DAGs
  *     whose tree RENDERING is exponential, and the SQL listener's plan
  *     description string once ran the driver out of memory (q208). The
  *     cap bounds the string, not the plan; [[Profile]] counts plan nodes
  *     by tree walk and never renders one;
  *   - UTC session time zone, UI off, log level WARN;
  *   - the planner strategy [[graft.plans.BindConstants]]: comparison
  *     constants are read from the generated class's `references` array,
  *     so a query shape compiles one generated source whatever its
  *     constants (the dialect's `col op const` selections draw fresh
  *     ones per run). It changes no plan.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("graft.materialize.mode", sys.env.getOrElse("GRAFT_MATERIALIZE_MODE", "local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.BindConstants.install(spark)
    spark
  }
}
