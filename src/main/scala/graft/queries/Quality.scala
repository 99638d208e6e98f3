package graft.queries

import graft.Materialize._
import graft.Report._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.{load => t}

/** Data-quality auditing over the star schema — the validation layer a
  * production ingest runs BEFORE any query in the other families trusts
  * the data: referential integrity, key/functional-dependency audits,
  * declarative value contracts, and distributional forensics (Benford).
  *
  * The reference engine trusts its catalog blindly (a `.md` schema file
  * names columns/types but nothing checks values — reference:
  * src/qp/utils/Schema.java holds only names/types); these operators are
  * the missing trust layer, expressed as plain aggregations so the same
  * audit runs unchanged on 100 TB: every rule is a one-pass conditional
  * sum (map-side partial agg), every FK probe a keyed join that Catalyst
  * broadcasts when the parent is a dimension and shuffles when it is not.
  * Nothing here collects to the driver; each audit emits a bounded
  * per-rule report (rows = number of rules, not number of violations).
  */
object Quality {
  /** One FK edge audit: rows of `child` whose non-null `ck` has no match
    * in `parent.pk`. LEFT JOIN against the distinct parent keys (dup-safe
    * even if the "primary" key is dirty — this is an audit, it must not
    * assume what it is checking) + a conditional sum, so the whole edge
    * costs one keyed join and one aggregation. Exposed for library use. */
  def fkEdge(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame = {
    val p = parent.select(col(pk).as("k")).distinct().withColumn("hit", lit(1))
    child.filter(col(ck).isNotNull).select(col(ck).as("k"))
      .join(p, Seq("k"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("fk_name"), col("n_checked"), col("n_orphans"),
        (col("n_orphans").cast("double") / col("n_checked").cast("double"))
          .as("orphan_frac"))
  }

  /** Uniqueness audit: how many key-groups exist, how many collide, and
    * the worst collision width. Two-level aggregation — the inner
    * groupBy partial-aggregates map-side, the outer is a 1-row fold. */
  def keyRule(rule: String, df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("cnt")).as("worst"))
      .select(lit(rule).as("rule"), lit("key").as("kind"),
        col("n_groups"), col("n_violating"), col("worst"))

  /** Functional-dependency audit lhs → rhs: a violating group is an lhs
    * value that maps to more than one distinct rhs; `worst` is the
    * widest fan-out. Same two-level aggregation shape as [[keyRule]]. */
  def fdRule(rule: String, df: DataFrame, lhs: String, rhs: String): DataFrame =
    df.filter(col(lhs).isNotNull)
      .groupBy(lhs).agg(countDistinct(col(rhs)).as("ndv"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("ndv") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("ndv")).as("worst"))
      .select(lit(rule).as("rule"), lit("fd").as("kind"),
        col("n_groups"), col("n_violating"), col("worst"))

  private def sqlFkEdge(name: String, child: String, ck: String,
      parent: String, pk: String): String =
    s"""SELECT '$name' AS fk_name,
       |  CAST(count(*) AS BIGINT) AS n_checked,
       |  CAST(sum(CASE WHEN p.hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_orphans,
       |  CAST(sum(CASE WHEN p.hit IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS orphan_frac
       |FROM (SELECT $ck AS k FROM $child WHERE $ck IS NOT NULL) c
       |LEFT JOIN (SELECT DISTINCT $pk AS k, 1 AS hit FROM $parent) p
       |  ON c.k = p.k""".stripMargin

  private def sqlKeyRule(rule: String, table: String, keys: Seq[String]): String =
    s"""SELECT '$rule' AS rule, 'key' AS kind,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violating,
       |  CAST(max(cnt) AS BIGINT) AS worst
       |FROM (SELECT count(*) AS cnt FROM $table
       |      GROUP BY ${keys.mkString(", ")}) g""".stripMargin

  private def sqlFdRule(rule: String, table: String, lhs: String, rhs: String): String =
    s"""SELECT '$rule' AS rule, 'fd' AS kind,
       |  CAST(count(*) AS BIGINT) AS n_groups,
       |  CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violating,
       |  CAST(max(ndv) AS BIGINT) AS worst
       |FROM (SELECT count(DISTINCT $rhs) AS ndv FROM $table
       |      WHERE $lhs IS NOT NULL GROUP BY $lhs) g""".stripMargin

  /** Benford expected first-digit probabilities, log10(1 + 1/d), as
    * 17-significant-digit E-NOTATION literals: exponent form parses as
    * DOUBLE (not DECIMAL) in both engines, and decimal-to-double literal
    * parsing is correctly rounded in both — so neither engine's runtime
    * log10 (untrusted in the last ulp) is ever called. */
  private[queries] val benfordP: Seq[(Int, String)] = Seq(
    1 -> "3.0102999566398120e-1", 2 -> "1.7609125905568124e-1",
    3 -> "1.2493873660829993e-1", 4 -> "9.6910013008056414e-2",
    5 -> "7.9181246047624818e-2", 6 -> "6.6946789630613198e-2",
    7 -> "5.7991946977686754e-2", 8 -> "5.1152522447381288e-2",
    9 -> "4.5757490560675125e-2")

  val defs: Seq[QueryDef] = Seq(

    // ---- Referential-integrity audit (FK orphan scan) --------------------
    // Every foreign-key edge of the star schema probed in one keyed
    // join apiece: child keys LEFT JOIN distinct parent keys, orphans =
    // unmatched rows. Output is one row per edge (7 rows total),
    // whatever the data size — the audit's cost is the joins, its
    // result is a bounded report. Scale: dimension parents (nation,
    // region, part, supplier, customer) broadcast automatically; the
    // one fact-to-fact edge (lineitem→orders) shuffles on the join key
    // exactly like the production join it certifies (q05). A 100 TB
    // ingest runs this nightly and alarms on orphan_frac > 0.
    // ---- Verifiable-instruction constraint checks (IFEval-style) --------
    // The post-training eval staple: score responses against
    // PROGRAMMATICALLY verifiable constraints — here four checks every
    // response (document) is scored on: a minimum token count, a
    // required keyword as an exact token, a character budget, and the
    // no-immediate-word-repetition rule. Every verdict is a pure
    // map-side codegen'd expression (split + higher-order array ops —
    // no UDF, no shuffle at all before the ordered dump); n_passed and
    // all_passed are the per-response rollup an eval harness averages.
    // Constraint thresholds sit inside the corpus distributions so all
    // four verdicts carry signal both ways (331/382/245/112 of 500
    // pass at sf0.01 — nothing is vacuous).
    QueryDef("q373_ifeval_checks", (s, d) => {
      val tk = split(col("text"), " ")
      val noRep = size(filter(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => element_at(col("t"), i) === element_at(col("t"), i + 1)),
        x => x)) === 0
      t(s, d, "documents")
        .select(col("doc_id"), tk.as("t"), length(col("text")).as("nc"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          (size(col("t")) >= 40).as("c_min_tokens"),
          array_contains(col("t"), "the").as("c_keyword"),
          (col("nc") <= 300).as("c_max_chars"),
          // Spark's sequence(1, 0) is DESCENDING [1, 0], not empty —
          // guard the single-token case explicitly (DuckDB range(1,1)
          // is empty, so both engines report true)
          when(size(col("t")) >= 2, noRep).otherwise(lit(true))
            .as("c_no_repeat"))
        .withColumn("n_passed",
          (col("c_min_tokens").cast("int") + col("c_keyword").cast("int") +
            col("c_max_chars").cast("int") + col("c_no_repeat").cast("int"))
            .cast("long"))
        .withColumn("all_passed", col("c_min_tokens") && col("c_keyword") &&
          col("c_max_chars") && col("c_no_repeat"))
        .orderBy("doc_id")
    },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(text, ' ') AS t,
             |    length(text) AS nc
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    CAST(len(t) AS BIGINT) AS n_tokens,
             |    len(t) >= 40 AS c_min_tokens,
             |    list_contains(t, 'the') AS c_keyword,
             |    nc <= 300 AS c_max_chars,
             |    len(list_filter(range(1, len(t)), i -> t[i] = t[i+1])) = 0
             |      AS c_no_repeat
             |  FROM tk)
             |SELECT doc_id, n_tokens, c_min_tokens, c_keyword, c_max_chars,
             |  c_no_repeat,
             |  CAST(CAST(c_min_tokens AS INT) + CAST(c_keyword AS INT)
             |    + CAST(c_max_chars AS INT) + CAST(c_no_repeat AS INT)
             |    AS BIGINT) AS n_passed,
             |  c_min_tokens AND c_keyword AND c_max_chars AND c_no_repeat
             |    AS all_passed
             |FROM c ORDER BY doc_id""".stripMargin)),

    QueryDef("q194_referential_integrity", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation")
      Seq(
        fkEdge("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey"),
        fkEdge("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey"),
        fkEdge("lineitem.l_partkey -> part", li, "l_partkey", t(s, d, "part"), "p_partkey"),
        fkEdge("lineitem.l_suppkey -> supplier", li, "l_suppkey", su, "s_suppkey"),
        fkEdge("nation.n_regionkey -> region", n, "n_regionkey", t(s, d, "region"), "r_regionkey"),
        fkEdge("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"),
        fkEdge("supplier.s_nationkey -> nation", su, "s_nationkey", n, "n_nationkey"))
        .reduce(_.unionAll(_))
        .orderBy("fk_name")
    },
      Some(Seq(
        sqlFkEdge("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        sqlFkEdge("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        sqlFkEdge("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
        sqlFkEdge("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        sqlFkEdge("nation.n_regionkey -> region", "nation", "n_regionkey", "region", "r_regionkey"),
        sqlFkEdge("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        sqlFkEdge("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fk_name"))),

    // ---- Key & functional-dependency audit -------------------------------
    // Declared-key uniqueness and candidate FDs checked as two-level
    // aggregations: the inner groupBy partial-aggregates map-side (the
    // shuffle carries one row per key-group, not per row), the outer
    // folds to a single report row per rule. The synthetic lineitem
    // deliberately collides on (l_orderkey, l_linenumber) — the audit
    // REPORTS that rather than assuming TPC-H's clean keys, which is
    // the point: profile what holds, don't trust what's declared.
    QueryDef("q195_fd_audit", (s, d) => {
      val li = t(s, d, "lineitem")
      Seq(
        keyRule("key:documents(doc_id)", t(s, d, "documents"), Seq("doc_id")),
        keyRule("key:lineitem(l_orderkey,l_linenumber)", li,
          Seq("l_orderkey", "l_linenumber")),
        keyRule("key:orders(o_orderkey)", t(s, d, "orders"), Seq("o_orderkey")),
        fdRule("fd:events.user_id->event_type", t(s, d, "events"),
          "user_id", "event_type"),
        fdRule("fd:lineitem.l_partkey->l_suppkey", li, "l_partkey", "l_suppkey"),
        fdRule("fd:nation.n_nationkey->n_regionkey", t(s, d, "nation"),
          "n_nationkey", "n_regionkey"),
        fdRule("fd:orders.o_custkey->o_orderpriority", t(s, d, "orders"),
          "o_custkey", "o_orderpriority"))
        .reduce(_.unionAll(_))
        .orderBy("rule")
    },
      Some(Seq(
        sqlKeyRule("key:documents(doc_id)", "documents", Seq("doc_id")),
        sqlKeyRule("key:lineitem(l_orderkey,l_linenumber)", "lineitem",
          Seq("l_orderkey", "l_linenumber")),
        sqlKeyRule("key:orders(o_orderkey)", "orders", Seq("o_orderkey")),
        sqlFdRule("fd:events.user_id->event_type", "events", "user_id", "event_type"),
        sqlFdRule("fd:lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
        sqlFdRule("fd:nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
        sqlFdRule("fd:orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rule"))),

    // ---- Declarative value contracts (expectations suite) ----------------
    // Great-Expectations-style data contracts: range, domain, positivity,
    // non-null, and one cross-table temporal rule (a lineitem must not
    // ship before its order is placed). All per-table rules evaluate in
    // ONE scan of that table — conditional sums in a single aggregate,
    // `stack` pivots the 1-row result into the per-rule report (q160's
    // collector shape) — so contracting a 100 TB table costs exactly one
    // read. The cross-table rule is the same keyed join as the
    // production query path it protects.
    QueryDef("q196_expectations", (s, d) => {
      def vio(c: Column) = sum(when(c, 1L).otherwise(0L))
      val liRules = Seq(
        "lineitem.l_discount_in_0_0.1" ->
          (col("l_discount").isNull || col("l_discount") < 0.0 || col("l_discount") > 0.1),
        "lineitem.l_extendedprice_positive" ->
          (col("l_extendedprice").isNull || col("l_extendedprice") <= 0.0),
        "lineitem.l_quantity_in_1_50" ->
          (col("l_quantity").isNull || col("l_quantity") < 1.0 || col("l_quantity") > 50.0),
        "lineitem.l_returnflag_domain" ->
          (col("l_returnflag").isNull || !col("l_returnflag").isin("A", "N", "R")),
        "lineitem.l_tax_in_0_0.08" ->
          (col("l_tax").isNull || col("l_tax") < 0.0 || col("l_tax") > 0.08))
      val oRules = Seq(
        "orders.o_orderdate_not_null" -> col("o_orderdate").isNull,
        "orders.o_orderstatus_domain" ->
          (col("o_orderstatus").isNull || !col("o_orderstatus").isin("F", "O", "P")),
        "orders.o_totalprice_positive" ->
          (col("o_totalprice").isNull || col("o_totalprice") <= 0.0))
      def block(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
        val aggs = count(lit(1)).as("n_all") +:
          rules.zipWithIndex.map { case ((_, c), i) => vio(c).as(s"v$i") }
        val stackArgs = rules.zipWithIndex
          .map { case ((r, _), i) => s"'$r', n_all, v$i" }.mkString(", ")
        df.agg(aggs.head, aggs.tail: _*)
          .select(expr(s"stack(${rules.length}, $stackArgs) AS " +
            "(rule, n_checked, n_violations)"))
      }
      val cross = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate").isNotNull && col("o_orderdate").isNotNull)
        .agg(count(lit(1)).as("n_checked"),
          vio(col("l_shipdate") < col("o_orderdate")).as("n_violations"))
        .select(lit("lineitem.l_shipdate_after_o_orderdate").as("rule"),
          col("n_checked"), col("n_violations"))
      block(t(s, d, "lineitem"), liRules)
        .unionAll(block(t(s, d, "orders"), oRules))
        .unionAll(cross)
        .withColumn("violation_frac",
          col("n_violations").cast("double") / col("n_checked").cast("double"))
        .orderBy("rule")
    },
      Some {
        val li = Seq(
          "lineitem.l_discount_in_0_0.1" ->
            "l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.1",
          "lineitem.l_extendedprice_positive" ->
            "l_extendedprice IS NULL OR l_extendedprice <= 0.0",
          "lineitem.l_quantity_in_1_50" ->
            "l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0",
          "lineitem.l_returnflag_domain" ->
            "l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')",
          "lineitem.l_tax_in_0_0.08" ->
            "l_tax IS NULL OR l_tax < 0.0 OR l_tax > 0.08")
        val o = Seq(
          "orders.o_orderdate_not_null" -> "o_orderdate IS NULL",
          "orders.o_orderstatus_domain" ->
            "o_orderstatus IS NULL OR o_orderstatus NOT IN ('F','O','P')",
          "orders.o_totalprice_positive" ->
            "o_totalprice IS NULL OR o_totalprice <= 0.0")
        def rows(table: String, rules: Seq[(String, String)]) = rules.map {
          case (r, cond) =>
            s"""SELECT '$r' AS rule, CAST(count(*) AS BIGINT) AS n_checked,
               |  CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
               |    AS n_violations FROM $table""".stripMargin
        }
        val cross =
          """SELECT 'lineitem.l_shipdate_after_o_orderdate' AS rule,
            |  CAST(count(*) AS BIGINT) AS n_checked,
            |  CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
            |    AS BIGINT) AS n_violations
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL""".stripMargin
        (rows("lineitem", li) ++ rows("orders", o) :+ cross)
          .mkString(
            "SELECT rule, n_checked, n_violations,\n" +
              "  CAST(n_violations AS DOUBLE) / CAST(n_checked AS DOUBLE)\n" +
              "    AS violation_frac FROM (\n",
            "\nUNION ALL\n",
            "\n) ORDER BY rule")
      }),

    // ---- Benford first-digit forensics -----------------------------------
    // Distributional fraud/corruption detector: the leading-digit
    // histogram of a naturally-generated amount column follows
    // log10(1+1/d); a synthetic or truncated column does not. One
    // groupBy over a map-computed digit + a 1-row total broadcast; the
    // per-digit chi-square contribution localizes WHERE the distribution
    // bends (so the report is actionable, not just a global statistic).
    // Expected probabilities are shared decimal literals, not runtime
    // log10 calls — both engines parse the identical double, so the
    // arithmetic ((n-e)²/e, same operation order) is bit-equal.
    QueryDef("q197_benford", (s, d) => {
      val base = t(s, d, "lineitem")
        .filter(col("l_extendedprice") >= 1.0)
        .select(substring(expr("cast(floor(l_extendedprice) as bigint)")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val total = base.agg(count(lit(1)).as("n_total"))
      val expected = benfordP.tail.foldLeft(
        when(col("digit") === benfordP.head._1, lit(benfordP.head._2.toDouble))) {
        case (acc, (dd, p)) => acc.when(col("digit") === dd, lit(p.toDouble))
      }
      val e = col("n_total").cast("double") * col("expected_frac")
      val diff = col("n").cast("double") - e
      base.groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .withColumn("expected_frac", expected)
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("n_total").cast("double")).as("frac"),
          col("expected_frac"),
          (diff * diff / e).as("chi2_part"))
        .reportSorted("digit")
    },
      Some {
        val cases = benfordP
          .map { case (dd, p) => s"WHEN digit = $dd THEN $p" }
          .mkString("CASE ", " ", " END")
        s"""WITH base AS (
           |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
           |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
           |  FROM lineitem WHERE l_extendedprice >= 1.0),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM base),
           |g AS (
           |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM base
           |  GROUP BY digit)
           |SELECT digit, n,
           |  CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS frac,
           |  ($cases) AS expected_frac,
           |  (CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) * ($cases))
           |    * (CAST(n AS DOUBLE) - CAST(n_total AS DOUBLE) * ($cases))
           |    / (CAST(n_total AS DOUBLE) * ($cases)) AS chi2_part
           |FROM g CROSS JOIN tot ORDER BY digit""".stripMargin
      }),

    // ---- Categorical association: chi-square + Cramér's V ----------------
    // Are two categorical columns independent? The profiling question
    // behind stratification design (q205), mixture reweighting (q76),
    // and drift alarms: here lang × source on documents. The full r×c
    // grid is reconstructed (marginal × marginal, LEFT JOIN observed,
    // zero-fill) because zero cells still contribute e to chi² —
    // dropping them understates association. All counts are exact
    // int64; each cell term (o−e)²/e is IEEE ops in one fixed order,
    // and the cell-term sum folds over a SORTED bounded list (q135's
    // fold rule — cells = |langs|·|sources|, a distribution table, so
    // the collect is bounded by category cardinality, not corpus size).
    // V = √(χ²/(n·(min(r,c)−1))) normalizes to [0,1].
    QueryDef("q206_cramers_v", (s, d) => {
      val docs = t(s, d, "documents")
      val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rt = docs.groupBy("lang").agg(count(lit(1)).as("rt"))
      val ct = docs.groupBy("source").agg(count(lit(1)).as("ct"))
      val tot = docs.agg(count(lit(1)).as("n"),
        countDistinct(col("lang")).as("r"),
        countDistinct(col("source")).as("c"))
      val e = (col("rt") * col("ct")).cast("double") / col("n").cast("double")
      val od = col("o").cast("double")
      def foldSum(c0: Column) =
        aggregate(array_sort(collect_list(c0)), lit(0.0), (acc, x) => acc + x)
      rt.crossJoin(ct)
        .join(cells, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("term", (od - e) * (od - e) / e)
        .groupBy("n", "r", "c")
        .agg(foldSum(col("term")).as("chi2"))
        .select(col("n"), col("r"), col("c"), col("chi2"),
          sqrt(col("chi2") /
            (col("n") * (least(col("r"), col("c")) - 1)).cast("double"))
            .as("cramers_v"))
    },
      Some("""WITH cells AS MATERIALIZED (
             |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
             |  FROM documents GROUP BY 1, 2),
             |rt AS (SELECT lang, CAST(count(*) AS BIGINT) AS rt
             |       FROM documents GROUP BY 1),
             |ct AS (SELECT source, CAST(count(*) AS BIGINT) AS ct
             |       FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS r,
             |  CAST(count(DISTINCT source) AS BIGINT) AS c FROM documents),
             |grid AS MATERIALIZED (
             |  SELECT rt.lang, ct.source, rt.rt, ct.ct,
             |    coalesce(cells.o, 0) AS o
             |  FROM rt CROSS JOIN ct
             |  LEFT JOIN cells ON rt.lang = cells.lang
             |    AND ct.source = cells.source),
             |terms AS (
             |  SELECT
             |    (CAST(o AS DOUBLE)
             |       - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
             |    * (CAST(o AS DOUBLE)
             |       - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
             |    / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) AS term,
             |    n, r, c
             |  FROM grid CROSS JOIN tot)
             |SELECT n, r, c,
             |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |    list_sort(list(term))), (acc, x) -> acc + x) AS chi2,
             |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |    list_sort(list(term))), (acc, x) -> acc + x)
             |    / CAST(n * (least(r, c) - 1) AS DOUBLE)) AS cramers_v
             |FROM terms GROUP BY n, r, c""".stripMargin)),

    // ---- Ingestion freshness / coverage report ---------------------------
    // The on-call dashboard row per stream: volume, time span, density,
    // and STALENESS — each type's lag behind the corpus high-water mark
    // (the signal that one upstream feed silently died while the others
    // kept flowing; a global max(ts) alone can't see it). One grouped
    // aggregation over exact integer microseconds + a 1-row broadcast
    // of the corpus maximum; staleness flags at > 24h. The per-day
    // density divides span+1 days so single-day streams stay defined.
    QueryDef("q228_freshness_report", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val g = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          min(expr("unix_micros(date_trunc('day', ts)) div 86400000000"))
            .as("first_day"),
          max(expr("unix_micros(date_trunc('day', ts)) div 86400000000"))
            .as("last_day"),
          countDistinct(
            expr("unix_micros(date_trunc('day', ts)) div 86400000000"))
            .as("days_seen"),
          max(unix_micros(col("ts"))).as("last_us"))
      val hwm = ev.agg(max(unix_micros(col("ts"))).as("hwm_us"))
      g.crossJoin(broadcast(hwm))
        .select(col("event_type"), col("n_events"), col("first_day"),
          col("last_day"), col("days_seen"),
          (col("days_seen").cast("double") /
            (col("last_day") - col("first_day") + 1).cast("double"))
            .as("day_coverage"),
          (col("n_events").cast("double") / col("days_seen").cast("double"))
            .as("events_per_day"),
          expr("(hwm_us - last_us) div 3600000000").as("stale_hours"),
          ((col("hwm_us") - col("last_us")) > 24L * 3600000000L)
            .as("is_stale"))
        .reportSorted("event_type")
    },
      Some("""WITH e AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
             |      // 86400000000 AS d_idx,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events WHERE ts IS NOT NULL),
             |g AS (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(min(d_idx) AS BIGINT) AS first_day,
             |    CAST(max(d_idx) AS BIGINT) AS last_day,
             |    CAST(count(DISTINCT d_idx) AS BIGINT) AS days_seen,
             |    CAST(max(us) AS BIGINT) AS last_us
             |  FROM e GROUP BY event_type),
             |hwm AS (SELECT CAST(max(us) AS BIGINT) AS hwm_us FROM e)
             |SELECT event_type, n_events, first_day, last_day, days_seen,
             |  CAST(days_seen AS DOUBLE)
             |    / CAST(last_day - first_day + 1 AS DOUBLE) AS day_coverage,
             |  CAST(n_events AS DOUBLE) / CAST(days_seen AS DOUBLE)
             |    AS events_per_day,
             |  (hwm_us - last_us) // 3600000000 AS stale_hours,
             |  (hwm_us - last_us) > 86400000000 AS is_stale
             |FROM g CROSS JOIN hwm ORDER BY event_type""".stripMargin)),

    // ---- Split covariate balance: exact KS across train/val/test ---------
    // q287's SRM checks the split's SIZES; this checks its CONTENT: a
    // hash split must leave every covariate exchangeable across splits,
    // or eval metrics measure the split, not the model. Exact two-sample
    // KS on the token-length distribution for train-vs-val and
    // train-vs-test (the q239 machinery on the tiny per-length counts
    // table — one corpus pass to (split, len, cnt), cumulative windows
    // over the bounded length domain, sup-gap + the 1.36*sqrt((na+nb)/
    // (na*nb)) 5% critical value). Everything after the scan is
    // length-domain-sized.
    QueryDef("q290_split_balance", (s, d) => {
      val bucket = graft.queries.Sampling.lehmer(col("doc_id")) % 1000
      val base = t(s, d, "documents")
        .select(when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split"),
          size(split(col("text"), " ")).cast("long").as("len"))
        .groupBy("split", "len").agg(count(lit(1)).as("cnt"))
        .materialize // both pair comparisons read it
      def ksOf(other: String): org.apache.spark.sql.DataFrame = {
        val sides = base.filter(col("split").isin("train", other))
          .select(col("len"),
            when(col("split") === "train", col("cnt")).otherwise(0L).as("ca"),
            when(col("split") === other, col("cnt")).otherwise(0L).as("cb"))
          .groupBy("len").agg(sum("ca").as("ca"), sum("cb").as("cb"))
        val w = Window.partitionBy(Sampling.onePart(col("len"))).orderBy("len")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // unpartitioned window over the LENGTH DOMAIN (bounded: distinct
        // token counts, not rows) — the WindowLawSpec distribution-table
        // class
        sides
          .withColumn("cuma", sum("ca").over(w))
          .withColumn("cumb", sum("cb").over(w))
          .crossJoin(broadcast(sides.agg(sum("ca").as("na"), sum("cb").as("nb"))))
          .agg(max(abs(col("cuma").cast("double") / col("na").cast("double") -
            col("cumb").cast("double") / col("nb").cast("double"))).as("ks_d"),
            max("na").as("n_a"), max("nb").as("n_b"))
          .select(lit("train").as("side_a"), lit(other).as("side_b"),
            col("n_a"), col("n_b"), col("ks_d"),
            (lit(1.36) * sqrt((col("n_a").cast("double") + col("n_b").cast("double")) /
              (col("n_a").cast("double") * col("n_b").cast("double"))))
              .as("critical_5pct"))
          .withColumn("imbalanced", col("ks_d") > col("critical_5pct"))
      }
      ksOf("val").union(ksOf("test")).orderBy("side_b")
    },
      Some {
        def pair(other: String) =
          s"""SELECT 'train' AS side_a, '$other' AS side_b, na AS n_a,
             |  nb AS n_b, ks_d,
             |  1.36e0 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
             |    AS critical_5pct,
             |  ks_d > 1.36e0 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS imbalanced
             |FROM (
             |  SELECT max(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
             |      - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_d,
             |    CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb
             |  FROM (
             |    SELECT
             |      CAST(sum(ca) OVER (ORDER BY len) AS BIGINT) AS cuma,
             |      CAST(sum(cb) OVER (ORDER BY len) AS BIGINT) AS cumb,
             |      CAST(sum(ca) OVER () AS BIGINT) AS na,
             |      CAST(sum(cb) OVER () AS BIGINT) AS nb
             |    FROM (
             |      SELECT len,
             |        CAST(sum(CASE WHEN split = 'train' THEN cnt ELSE 0 END)
             |          AS BIGINT) AS ca,
             |        CAST(sum(CASE WHEN split = '$other' THEN cnt ELSE 0 END)
             |          AS BIGINT) AS cb
             |      FROM sl WHERE split IN ('train', '$other')
             |      GROUP BY len)))""".stripMargin
        s"""WITH sl AS MATERIALIZED (
           |  SELECT CASE WHEN ${Sampling.sqlLehmerOf("doc_id")} % 1000 < 800
           |      THEN 'train'
           |    WHEN ${Sampling.sqlLehmerOf("doc_id")} % 1000 < 900 THEN 'val'
           |    ELSE 'test' END AS split,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM documents GROUP BY 1, 2)
           |SELECT * FROM (
           |${pair("val")}
           |UNION ALL
           |${pair("test")})
           |ORDER BY side_b""".stripMargin
      }),

    // ---- Sample-ratio-mismatch audit on the split assignment -------------
    // The experimentation-ops guardrail (and the q56 split's own
    // monitor): if the 80/10/10 hash split drifts from its design
    // ratios, every downstream eval is suspect — SRM is the standard
    // chi-square test run BEFORE anyone reads a metric. One conditional
    // aggregation produces the three observed counts; the chi-square
    // statistic is a fixed-order scalar expression over them (three
    // literal-ordered terms, no aggregation of doubles — bit-identical
    // across engines), flagged at the df=2, alpha=0.05 critical value.
    QueryDef("q287_srm_check", (s, d) => {
      val bucket = graft.queries.Sampling.lehmer(col("doc_id")) % 1000
      val g = t(s, d, "documents")
        .select(when(bucket < 800, "train").when(bucket < 900, "val")
          .otherwise("test").as("split"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("nt"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("nv"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("ns"))
      def term(o: Column, p: Double): Column = {
        val e = col("n").cast("double") * lit(p)
        (o.cast("double") - e) * (o.cast("double") - e) / e
      }
      val chi2 = term(col("nt"), 0.8) + term(col("nv"), 0.1) +
        term(col("ns"), 0.1)
      g.select(col("n"), col("nt").as("n_train"), col("nv").as("n_val"),
        col("ns").as("n_test"), chi2.as("chi2"),
        (chi2 > 5.991).as("srm_flag"))
    },
      Some {
        def t(o: String, p: String) =
          s"""(CAST($o AS DOUBLE) - CAST(n AS DOUBLE) * $p)
             |    * (CAST($o AS DOUBLE) - CAST(n AS DOUBLE) * $p)
             |    / (CAST(n AS DOUBLE) * $p)""".stripMargin
        val chi = s"${t("nt", "0.8")}\n  + ${t("nv", "0.1")}\n  + ${t("ns", "0.1")}"
        s"""WITH b AS MATERIALIZED (
           |  SELECT CASE WHEN ${Sampling.sqlLehmerOf("doc_id")} % 1000 < 800
           |      THEN 'train'
           |    WHEN ${Sampling.sqlLehmerOf("doc_id")} % 1000 < 900 THEN 'val'
           |    ELSE 'test' END AS split
           |  FROM documents),
           |g AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nt,
           |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nv,
           |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS ns
           |  FROM b)
           |SELECT n, nt AS n_train, nv AS n_val, ns AS n_test,
           |  $chi AS chi2,
           |  $chi > 5.991 AS srm_flag
           |FROM g""".stripMargin
      }),

    // ---- Distribution-drift monitor: total-variation distance ------------
    // The PSI/KL drift dashboards every training-data pipeline runs
    // between snapshots — except PSI's per-bucket log is engine-rounding
    // territory (the log/exp rule), so this monitors TOTAL-VARIATION
    // distance, which is rational: TVD = sum_b |n1_b*N2 - n2_b*N1| /
    // (2*N1*N2) is exact int64 up to ~2e9 docs per side (N1*N2 < 2^63;
    // past that, combine in doubles — q294's documented pattern), and
    // TVD >= |P(A)-Q(A)| for EVERY event A, a stronger guarantee than
    // PSI's unbounded score. Snapshot stand-in: doc_id parity; buckets:
    // 16-token-wide length bins (bounded table — windows never touch
    // the corpus). Per source: TVD, the argmax drift bucket (ties ->
    // smaller bucket), and its share of the drift mass — where to LOOK
    // when the alarm fires. One corpus pass; everything after runs on
    // the (source, bucket) cell table. The snapshot split hashes the id
    // (q56's Lehmer split rule) — raw parity is perfectly correlated
    // with source in the generator's id blocks and starves one side.
    QueryDef("q315_tvd_drift", (s, d) => {
      val cell = t(s, d, "documents")
        .select(col("source"),
          (Sampling.lehmer(col("doc_id")) % 2 === 0).as("g1"),
          expr("size(split(text, ' ')) div 16").as("b"))
        .groupBy("source", "b")
        .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("g1"), 0L).otherwise(1L)).as("n2"))
      val tot = cell.groupBy("source")
        .agg(sum("n1").as("n_a"), sum("n2").as("n_b"))
      cell.join(tot, "source")
        .select(col("source"), col("b"),
          abs(col("n1") * col("n_b") - col("n2") * col("n_a")).as("diff"),
          col("n_a"), col("n_b"))
        .groupBy("source")
        .agg(min("n_a").as("n_a"), min("n_b").as("n_b"),
          count(lit(1)).as("n_buckets"), sum("diff").as("num"),
          max(struct(col("diff"), (-col("b")).as("nb0"))).as("m"))
        .select(col("source"), col("n_a"), col("n_b"), col("n_buckets"),
          when(col("n_a") > 0 && col("n_b") > 0,
            col("num").cast("double")
              / (lit(2e0) * col("n_a").cast("double")
                * col("n_b").cast("double"))).as("tvd"),
          (-col("m.nb0") * 16).as("top_bucket_lo"),
          when(col("num") > 0,
            col("m.diff").cast("double") / col("num").cast("double"))
            .as("top_share"))
        .reportSorted("source")
    },
      Some(s"""WITH cell AS MATERIALIZED (
             |  SELECT source, len(string_split(text, ' ')) // 16 AS b,
             |    CAST(sum(CASE WHEN ${Sampling.sqlLehmerOf("doc_id")} % 2 = 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN ${Sampling.sqlLehmerOf("doc_id")} % 2 = 0
             |      THEN 0 ELSE 1 END) AS BIGINT) AS n2
             |  FROM documents GROUP BY 1, 2),
             |tot AS (SELECT source, CAST(sum(n1) AS BIGINT) AS n_a,
             |        CAST(sum(n2) AS BIGINT) AS n_b FROM cell GROUP BY source),
             |dx AS MATERIALIZED (
             |  SELECT c.source, b, abs(n1 * n_b - n2 * n_a) AS diff, n_a, n_b
             |  FROM cell c JOIN tot USING (source)),
             |g AS (
             |  SELECT source, min(n_a) AS n_a, min(n_b) AS n_b,
             |    CAST(count(*) AS BIGINT) AS n_buckets,
             |    CAST(sum(diff) AS BIGINT) AS num
             |  FROM dx GROUP BY source),
             |mx AS (
             |  SELECT source, b AS top_b, diff AS top_diff FROM (
             |    SELECT source, b, diff, row_number() OVER (
             |      PARTITION BY source ORDER BY diff DESC, b) AS rn FROM dx)
             |  WHERE rn = 1)
             |SELECT g.source, n_a, n_b, n_buckets,
             |  CASE WHEN n_a > 0 AND n_b > 0
             |    THEN CAST(num AS DOUBLE)
             |      / (2e0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             |  END AS tvd,
             |  top_b * 16 AS top_bucket_lo,
             |  CASE WHEN num > 0
             |    THEN CAST(top_diff AS DOUBLE) / CAST(num AS DOUBLE)
             |  END AS top_share
             |FROM g JOIN mx USING (source) ORDER BY source""".stripMargin)))
}
