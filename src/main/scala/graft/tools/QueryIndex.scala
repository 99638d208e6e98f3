package graft.tools

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Generates `QUERIES.md` — the one-page map of the whole registry:
  * name -> definition file:line -> family -> oracle/headline flags ->
  * covering specs -> one-line purpose (first sentence of the comment
  * block above the `QueryDef`). Regenerated at round close; the
  * registry itself is the source of truth (a registry entry with no
  * located definition, or a stale index, is a build error here).
  *
  * Run: `sbt "runMain graft.tools.QueryIndex"`.
  */
object QueryIndex {

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private def readLines(f: File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** First sentence of the contiguous `//` block directly above line i. */
  private def purposeAbove(lines: Vector[String], i: Int): String = {
    val block = (i - 1 to 0 by -1).iterator
      .map(lines)
      .takeWhile(_.trim.startsWith("//"))
      .map(_.trim.stripPrefix("//").trim)
      .toVector.reverse
    if (block.isEmpty) return ""
    // drop the `---- banner ----` dashes some headers carry
    val joined = block.mkString(" ")
      .replaceAll("-{3,}", " ").replaceAll("\\s+", " ").trim
    val cut = joined.indexOf(". ")
    val s = if (cut >= 0) joined.take(cut + 1) else joined
    if (s.length <= 140) s else s.take(137) + "..."
  }

  def main(args: Array[String]): Unit = {
    val defs = scalaFiles(new File("src/main/scala/graft")).flatMap { f =>
      val lines = readLines(f)
      val pat = "QueryDef\\(\\s*\"(q[0-9a-z_]+)\"".r
      lines.zipWithIndex.flatMap { case (ln, i) =>
        pat.findFirstMatchIn(ln).map(m =>
          m.group(1) -> (f, i, purposeAbove(lines, i)))
      }
    }.toMap

    // spec coverage: every test file that names the query
    val testFiles = scalaFiles(new File("src/test/scala/graft"))
      .map(f => f -> readLines(f).mkString("\n"))

    val qnum = "q(\\d+)".r
    val rows = SparkEntry.registry.sortBy(q =>
      qnum.findFirstMatchIn(q.name).map(_.group(1).toInt).getOrElse(0)
    ).map { q =>
      val (file, line, purpose) = defs.get(q.name)
        .map { case (f, i, p) =>
          (s"src/main/scala/graft/${relUnder(f)}", i + 1, p)
        }
        .getOrElse(sys.error(s"registry entry ${q.name} has no located QueryDef"))
      val specs = testFiles.collect {
        case (f, body) if body.contains("\"" + q.name + "\"") => f.getName
      }
      val flags = Seq(
        if (q.oracle.isDefined) Some("oracle") else None,
        if (q.headline) Some("headline") else None).flatten.mkString(" ")
      s"| ${q.name} | `$file:$line` | ${familyOf(file)} | $flags | " +
        s"${specs.mkString(", ")} | ${purpose.replace("|", "\\|")} |"
    }

    val header =
      s"""# Query index (generated — do not edit)
         |
         |`sbt "runMain graft.tools.QueryIndex"` regenerates this file from
         |`SparkEntry.registry` + a source scan. ${rows.size} registered
         |queries. "oracle" = exact DuckDB-oracle hash check in the driver
         |gate; "headline" = counted in Bench's `headline_total`. Specs =
         |test files that name the query (laws, replication-scaling specs, allowlists).
         |
         |""".stripMargin
    // rows are appended OUTSIDE stripMargin: they start with '|'
    val md = header +
      "| query | definition | family | flags | specs | purpose |\n" +
      "|---|---|---|---|---|---|\n" +
      rows.mkString("\n") + "\n"
    Files.write(Paths.get("QUERIES.md"), md.getBytes(StandardCharsets.UTF_8))
    println(s"QUERIES.md: ${rows.size} rows")
    regenerateS29(testFiles)
  }

  /** SURVEY §2.9 coverage map: each §2 inventory row -> implementation ->
    * covering registered queries -> covering spec files. Query names are
    * VALIDATED against the live registry (a renamed or dropped query
    * fails the close here — the map cannot silently go stale), and spec
    * files are detected by content scan (the query names plus the
    * per-row `keys` identifiers for rows whose coverage is spec-only).
    * Rewritten between the BEGIN/END markers in SURVEY.md at every
    * close, alongside QUERIES.md (VERDICT r10 ask #7). */
  private def regenerateS29(testFiles: Seq[(File, String)]): Unit = {
    val known = SparkEntry.queries.keySet
    val bad = S29Rows.flatMap(_._3).filterNot(known)
    require(bad.isEmpty, s"SURVEY 2.9 cites unknown queries: ${bad.mkString(", ")}")
    val table = S29Rows.map { case (row, impl, qs, keys) =>
      val probes = qs ++ keys
      val specs = testFiles.collect {
        case (f, body) if probes.exists(p => body.contains(p)) => f.getName
      }.distinct.sorted
      val qcol =
        if (qs.nonEmpty) qs.mkString(" ")
        else if (keys.nonEmpty) "—(spec-only)"
        else "n/a"
      s"| $row | $impl | $qcol | ${specs.mkString(", ")} |"
    }
    val block =
      ("""### 2.9 Coverage map (generated — do not edit)
         |
         |Regenerated by `sbt "runMain graft.tools.QueryIndex"` at every
         |round close, alongside QUERIES.md. Every §2 inventory row above,
         |mapped to its implementation, its covering registered queries
         |(each a green row in the driver's DuckDB-oracle gate; see
         |QUERIES.md for definitions), and the spec files that name it.
         |Query names are validated against the live registry at
         |generation time.
         |
         |""".stripMargin
        + "| §2 row (reference) | implementation | covering queries | covering specs |\n"
        + "|---|---|---|---|\n"
        + table.mkString("\n") + "\n")
    val survey = Paths.get("SURVEY.md")
    val txt = new String(Files.readAllBytes(survey), StandardCharsets.UTF_8)
    val b = "<!-- BEGIN GENERATED 2.9 -->"
    val e = "<!-- END GENERATED 2.9 -->"
    val (i, j) = (txt.indexOf(b), txt.indexOf(e))
    require(i >= 0 && j > i, "SURVEY.md is missing the 2.9 markers")
    Files.write(survey,
      (txt.take(i + b.length) + "\n" + block + txt.drop(j))
        .getBytes(StandardCharsets.UTF_8))
    println(s"SURVEY.md 2.9: ${table.size} rows")
  }

  /** (row label, implementation, covering registry queries, extra
    * content keys for spec detection). Source: the reference inventory
    * in SURVEY §2.1-2.8. */
  private val S29Rows: Seq[(String, String, Seq[String], Seq[String])] = Seq(
    ("2.1 Scan (`Scan.java:19-139`)",
      "`Tables.scala`; `queries/Relational.scala`",
      Seq("q01_scan"), Nil),
    ("2.1 Catalog load `.md`/`.det` (`RandomInitialPlan.java:79-92`)",
      "`sources/TblSource.scala` (serialized `qp.utils.Schema`); `sources/DetSource.scala` (`.det` -> StructType)",
      Nil, Seq("TblSource", "DetSource")),
    ("2.1 Result sink (`QueryMain.java:186-306`)",
      "`dialect/QueryRunner.scala` (two-space header, tab-terminated, `-NULL-`); fresh-JVM CLI byte golden",
      Nil, Seq("QueryRunner")),
    ("2.1 Temp-file materialization (`NestedJoin.java:74-98`)",
      "n/a by design — Spark shuffle/broadcast replaces rescanning (§2.1)",
      Nil, Nil),
    ("2.1 TupleReader/Writer (`TupleReader.java:12-145`)",
      "`sources/TblSource.scala` (both serialized layouts)",
      Nil, Seq("TblSource")),
    ("2.1 RandomDB generator (`RandomDB.java:17-196`)",
      "`sources/DetSource.scala` (deterministic); golden path over all 9 reference queries",
      Nil, Seq("DetEndToEnd", "DetSource")),
    ("2.1 ConvertTxtToTbl (`ConvertTxtToTbl.java:18-73`)",
      "no conversion step: `.tbl` or `.txt` rows served by the DSv2 scan `sources/DetDataSource.scala` (`.tbl` stream parsed by `sources/TblSource.scala`)",
      Nil, Seq("DetDataSource")),
    ("2.1 `.stat` statistics (`PlanCost.java:219-263`)",
      "`Stats.statTable` -> DSv2 `DetScan` statistics for every reference layout (null count and min/max from a `.det`); CBO plan flip proven in-spec",
      Nil, Seq("statTable", "StatsSpec")),
    ("2.2 Select σ (`Select.java:9-281`)",
      "`queries/Relational.scala`; typed literal coercion `dialect/Translator.scala`; comparison constants bound by reference at physical planning (one generated source per query shape) `plans/BindConstants.scala`",
      Seq("q02_filter_project", "q03_filter_ops"), Seq("BindConstants")),
    ("2.2 Predicate model, comma-AND (`parser.cup:170-206`)",
      "`dialect/Parser.scala`, `dialect/Ast.scala`; lexer corners in DialectSpec",
      Nil, Seq("dialect.Parser", "DialectSpec")),
    ("2.3 Join base / conditionList (`Join.java:12-121`)",
      "`queries/Relational.scala` (multi-key equi-join)",
      Seq("q05_join_agg", "q09_multikey_join"), Nil),
    ("2.3 NestedJoin as true theta (`NestedJoin.java:15-276`)",
      "`queries/Relational.scala` — real `<` theta join; BNLJ allowlist in PipelineSpec",
      Seq("q08_theta_join"), Nil),
    ("2.3 BlockNestedJoin (`BlockNestedJoin.java:20-215`)",
      "Catalyst join selection — blocking is Spark-internal",
      Seq("q05_join_agg", "q06_join3_topk", "q07_starjoin_region"), Nil),
    ("2.3 SortMergeJoin (`SortMergeJoin.java:13-233`)",
      "Catalyst `SortMergeJoinExec`, the default for large equi-joins",
      Seq("q05_join_agg"), Nil),
    ("2.3 HashJoin, declared-unimplemented in ref (`JoinType.java:14`)",
      "broadcast-hash via Catalyst",
      Seq("q07_starjoin_region"), Nil),
    ("2.4 Project π, + expressions (`Project.java:17-243`)",
      "`queries/Relational.scala`",
      Seq("q02_filter_project", "q04_project_expr"), Nil),
    ("2.5 Aggregate (`Aggregate.java:17-169`)",
      "`queries/Relational.scala`",
      Seq("q10_agg_global", "q11_pricing_summary"), Nil),
    ("2.5 MIN/MAX/SUM/COUNT/AVG (`AggregateAttribute.java:3-120`)",
      "built-ins; type validity per `Attribute.getProjectedType` in the translator",
      Seq("q10_agg_global", "q23_having"), Nil),
    ("2.5 Mixed agg/non-agg quirk (`Aggregate.java:123-150`)",
      "`queries/Relational.scala` + `dialect/Translator.scala`; golden `query3`",
      Seq("q12_argmax_quirk"), Nil),
    ("2.6 ExternalSort (`ExternalSort.java:23-275`)",
      "Catalyst `SortExec` spilling sort — free",
      Seq("q14_orderby_desc"), Nil),
    ("2.6 ORDERBY [DESC] (`QueryMain.java:205-261`)",
      "`queries/Relational.scala` — distributed, not driver-side",
      Seq("q14_orderby_desc"), Nil),
    ("2.6 DISTINCT (`QueryMain.java:221-245`)",
      "hash aggregate, not the reference's O(n²) driver loop",
      Seq("q13_distinct"), Nil),
    ("2.6 LIMIT / top-k (absent in ref)",
      "`TakeOrderedAndProject`",
      Seq("q15_topk", "q06_join3_topk"), Nil),
    ("2.7 Set operations (absent in ref)",
      "`queries/Relational.scala` (union/intersect/except/semi/anti/outer)",
      Seq("q16_union", "q17_intersect", "q18_except", "q19_semijoin",
        "q20_antijoin", "q21_outer_join"), Nil),
    ("2.7 Window functions (absent in ref)",
      "`queries/Relational.scala` — full surface incl. rollup/cube/grouping sets",
      Seq("q22_window", "q36_window_ranks", "q223_grouping_sets",
        "q224_window_suite", "q27_rollup", "q28_cube"), Nil),
    ("2.7 Scalar functions (absent in ref)",
      "`queries/Relational.scala`",
      Seq("q24_scalar_string", "q25_scalar_date", "q26_case_in_between_like",
        "q37_string_funcs"), Nil),
    ("2.7 Streaming (absent in ref)",
      "`streaming/Streams.scala` (~19 twins); stateful twins also driver-gated as batch faces",
      Seq("q140_event_dedup", "q141_event_enrich", "q142_click_attribution",
        "q143_sliding_rates", "q307_scd2_ingest_face", "q308_cusum_ingest_face",
        "q309_hampel_ingest_face", "q310_novelty_ingest_face",
        "q311_paragraph_ingest_face"), Seq("StreamingSpec")),
    ("2.7 UDF/UDAF (absent in ref; implemented as native exprs, ZERO UDFs)",
      "`functions/ArrayExprs.scala` (codegen'd), `TopKAgg`, `QuantileSketch.scala`, `Subword.scala`",
      Seq("q43_fingerprint", "q50_knn_topk_agg", "q66_repetition",
        "q90_subword_tokens"), Seq("ArrayExprs")),
    ("2.8 Dialect grammar (`parser.cup:53-268`)",
      "`dialect/Parser.scala`, `Translator.scala`, `QueryRunner.scala` (pagesize/numbuffer accepted-ignored); 9/9 reference goldens + fresh-JVM CLI byte golden",
      Nil, Seq("DetEndToEnd", "QueryRunnerCli")))

  private def relUnder(f: File): String = {
    val p = f.getPath
    p.substring(p.indexOf("graft/") + "graft/".length)
  }

  private def familyOf(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1).stripSuffix(".scala")
    base.toLowerCase
  }
}
