package graft.dialect

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Translates a parsed dialect [[Query]] into a DataFrame plan.
  *
  * This replaces the reference's entire planning/execution stack
  * (RandomInitialPlan + RandomOptimizer + Volcano operators): we declare
  * the plan — scans, a conjunctive filter over the cross product, the
  * projection — and Catalyst's `PushDownPredicates` +
  * `ReorderJoin`/CBO/AQE recover selection placement, join conditions,
  * join order, and physical join algorithms (SURVEY §4.3: all of the
  * reference's optimizer behaviors are subsumed).
  *
  * Semantic choices, with reference citations:
  *   - Quoted constants coerce to the column's type
  *     (reference src/qp/operators/Select.java:192,223,248) — `Cast(lit)`.
  *   - Cross-table theta conditions: the reference parses them as join
  *     conditions but evaluates equality regardless
  *     (SQLQuery.java:59-66 vs NestedJoin.java:140). We implement the
  *     real theta semantics — standard-SQL behavior.
  *   - Multi-table queries with no join condition: the reference
  *     mis-plans (root = last table's scan, RandomInitialPlan.java:96-106);
  *     we produce the standard cross product.
  *   - Mixed agg/non-agg without GROUPBY (Aggregate.java:123-150): with
  *     MIN/MAX present, non-agg columns come from the tuple achieving the
  *     extreme (MIN has precedence), result deduplicated; with only
  *     SUM/COUNT/AVG, one row whose non-agg values come from the "first"
  *     tuple — scan order in the reference, which has no distributed
  *     meaning, so we take the smallest tuple by the non-agg columns
  *     (deterministic).
  *   - GROUPBY parses but aborts in the reference
  *     (RandomInitialPlan.java:51-54); we implement it for real — both
  *     the aggregated form and the bare grouped-distinct form — with
  *     standard-SQL validation (a non-aggregated SELECT column must
  *     appear in GROUPBY).
  */
object Translator {

  def run(spark: SparkSession, sql: String, tables: Map[String, DataFrame]): DataFrame =
    build(spark, Parser.parse(sql), tables)

  def build(spark: SparkSession, q: Query, tables: Map[String, DataFrame]): DataFrame = {
    // Scans, each aliased by table name so `tbl.col` resolves qualified.
    def base(t: String): DataFrame =
      tables.getOrElse(t, sys.error(s"unknown table $t")).alias(t)

    def aref(a: Attr): Column = col(s"${a.table}.${a.column}")

    // The cross product of the FROM list; Catalyst turns filter-over-cross
    // into proper joins.
    val joined = q.tables.map(base).reduceLeft(_ crossJoin _)

    // Literal coercion: constants are strings typed by the referenced column.
    def litFor(a: Attr, v: String): Column = {
      val dt = tables(a.table).schema(a.column).dataType
      lit(v).cast(dt)
    }
    def condCol(c: Cond): Column = {
      val l = aref(c.lhs)
      val r = c.rhs match {
        case ConstRhs(v)  => litFor(c.lhs, v)
        case AttrRhs(att) => aref(att)
      }
      c.op match {
        case "<" => l < r
        case ">" => l > r
        case "<=" => l <= r
        case ">=" => l >= r
        case "=" => l === r
        case "!=" => l =!= r
      }
    }
    val filtered = q.conds.foldLeft(joined)((df, c) => df.filter(condCol(c)))

    // SELECT * keeps every column of every FROM table, qualified — the
    // reference concatenates schemas without dedup (Schema.java:81-90).
    val starAttrs: Seq[Attr] =
      q.tables.flatMap(t => tables(t).schema.fieldNames.map(c => Attr(t, c)))
    val outAttrs = if (q.star) starAttrs else q.attrs

    val aggs = outAttrs.filter(_.agg.isDefined)
    val plain = outAttrs.filter(_.agg.isEmpty)

    def aggCol(a: Attr): Column = {
      val c = aref(a)
      (a.agg.get match {
        case "MAX" => max(c)
        case "MIN" => min(c)
        case "SUM" => sum(c)
        case "COUNT" => count(c)
        case "AVG" => avg(c)
      }).as(a.outName)
    }

    // Standard-SQL GROUPBY validation: every non-aggregated SELECT column
    // must be a group key (the reference never got here — it aborts).
    if (q.groupBy.nonEmpty) {
      val keys = q.groupBy.map(a => (a.table, a.column)).toSet
      val stray = plain.filterNot(a => keys((a.table, a.column)))
      if (stray.nonEmpty)
        sys.error(s"non-aggregated column${if (stray.size > 1) "s" else ""} " +
          stray.map(a => s"${a.table}.${a.column}").mkString(", ") +
          " not in GROUPBY")
    }

    val projected: DataFrame =
      if (aggs.isEmpty && q.groupBy.nonEmpty) {
        // Bare GROUPBY (no aggregates): the grouped-distinct form —
        // distinct over the FULL key list, then the SELECT projection
        // (which may be a key subset, standard semantics).
        filtered
          .select(q.groupBy.map(a => aref(a).as(a.outName)): _*)
          .distinct()
          .select(outAttrs.map(a => col(s"`${a.outName}`")): _*)
      } else if (aggs.isEmpty) {
        filtered.select(outAttrs.map(a => aref(a).as(a.outName)): _*)
      } else if (q.groupBy.nonEmpty) {
        // Group keys are aliased to their qualified out-names up front: the
        // table qualifier does not survive aggregation.
        filtered
          .groupBy(q.groupBy.map(a => aref(a).as(a.outName)): _*)
          .agg(aggCol(aggs.head), aggs.tail.map(aggCol): _*)
          .select(outAttrs.map(a => col(s"`${a.outName}`")): _*)
      } else {
        // Whole-table aggregation, reference quirk semantics (§2.5).
        val aggRow = filtered.agg(aggCol(aggs.head), aggs.tail.map(aggCol): _*)
        val pivot = aggs.find(_.agg.contains("MIN")).orElse(aggs.find(_.agg.contains("MAX")))
        pivot match {
          case Some(p) if plain.nonEmpty =>
            // Non-agg columns come from the tuple(s) achieving the extreme.
            filtered
              .crossJoin(broadcast(aggRow))
              .filter(aref(p) === col(s"`${p.outName}`"))
              .select(outAttrs.map(a =>
                if (a.agg.isDefined) col(s"`${a.outName}`")
                else aref(a).as(a.outName)): _*)
              .distinct()
          case _ if plain.nonEmpty =>
            // SUM/COUNT/AVG only: one row; "first" tuple made deterministic
            // as the minimum over the projected non-agg columns. Struct
            // fields are positional (_c0, _c1, ...) — plain column names may
            // collide across tables.
            val firstRow = filtered
              .agg(min(struct(plain.zipWithIndex.map { case (a, i) =>
                aref(a).as(s"_c$i")
              }: _*)).as("_t"), aggs.map(aggCol): _*)
            firstRow.select(outAttrs.map { a =>
              if (a.agg.isDefined) col(s"`${a.outName}`")
              else col("_t").getField(s"_c${plain.indexOf(a)}").as(a.outName)
            }: _*)
          case _ =>
            aggRow
        }
      }

    val distincted = if (q.distinct) projected.distinct() else projected
    if (q.orderBy.nonEmpty) {
      // DESC flips the whole key list, as in the reference
      // (QueryMain.java:255).
      val keys = q.orderBy.map(a =>
        if (q.desc) col(s"`${a.outName}`").desc else col(s"`${a.outName}`"))
      distincted.orderBy(keys: _*)
    } else distincted
  }
}
