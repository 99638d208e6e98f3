package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Cores and the
  * materialize mode (`GRAFT_MATERIALIZE_MODE=local|reliable|replicated`)
  * come from [[Session.local]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args: @unchecked
    // optional extra args: restrict to the named queries (builder-side
    // iteration; the driver always passes exactly two args = full dump).
    // Unknown names fail fast — a typo must not produce an empty dump
    // that exits 0.
    val only = rest.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // q294's DuckDB oracle computes only the int64-exact Spearman branch;
    // the engine itself switches to the normalized-double production
    // branch past ~1.3e6 lineitem rows (sum(t^2) <= 4n^3 vs 2^63). A gate
    // SF above that bound would hash-mismatch on a CORRECT engine result,
    // so fail fast with the real reason instead of letting the driver
    // record a silent red (ADVICE r10). All shipped gate SFs
    // (0.001/0.01/0.1 -> <= ~600k rows) sit far under the bound.
    if (only.isEmpty || only("q294_spearman")) {
      val n = Tables.rowCountFromFooters(spark, sfDir, "lineitem")
      require(n <= 1300000L,
        s"q294_spearman's oracle covers only the int64-exact branch " +
          s"(lineitem rows <= 1.3e6); $sfDir has $n rows — run the gate " +
          s"at a smaller SF or exclude q294_spearman")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written FIRST: if the dump is killed mid-pass
    // (the round-7 failure mode — a gate timeout), the partial output
    // still carries every oracle, so a rerun or a partial compare is
    // possible instead of an empty artifact.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val status = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          name -> "ok"
        } catch {
          case e: Throwable =>
            // null-safe: a messageless exception (bare NPE etc.) must not
            // kill the status loop that exists to report exactly this
            val msg = Option(e.getMessage).filter(_.nonEmpty)
              .map(_.linesIterator.next()).getOrElse(e.getClass.getName)
            System.err.println(s"[verify] $name failed: $msg")
            e.printStackTrace() // stderr — the status line stays one line
            name -> s"err: $msg"
        } finally {
          // a query's materialized intermediates die with the query — on
          // BOTH outcomes: in `replicated` mode every .materialize
          // persists eagerly and CacheManager entries otherwise
          // accumulate across all 321 queries until the heap dies
          // (measured: OOM at query ~265 in the r11 close), and a FAILED
          // query that already persisted some intermediates would leak
          // them into the next query's heap (ADVICE r11). No-op for the
          // checkpoint-based modes.
          spark.catalog.clearCache()
        }
      }
    // explicit per-query status so an aborted harness run is
    // distinguishable from a clean run over zero queries (ADVICE r7):
    // absent file = Verify never finished; "err" rows = loud failures.
    // Written only for FULL runs — a name-filtered builder iteration
    // must not clobber a full run's status with its subset.
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/verify_status.json"),
        status.map { case (k, v) => s"${q(k)}: ${q(v)}" }
          .mkString("{", ",", "}"))
    spark.stop()
  }
}
