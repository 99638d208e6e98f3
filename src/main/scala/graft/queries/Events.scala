package graft.queries

import graft.Materialize._
import graft.Report._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables.{load => t}

/** Event-stream analytics over the `events` table (batch form).
  *
  * The reference engine is batch-only (SURVEY §2.7); these queries are the
  * batch-equivalent shapes of the Structured Streaming pipelines in
  * `graft.streaming` — tumbling-window aggregation, gap-based
  * sessionization, and semi-structured (JSON) property extraction.
  *
  * All timestamp arithmetic happens on exact integer microseconds
  * (`unix_micros` / DuckDB `epoch_us`) so both engines agree bit-for-bit.
  */
object Events {
  /** Gap filling + LOCF over an (event_type, ts, value) stream — see q87
    * below for the distributed shape. Exposed as a library function so
    * degenerate inputs are spec-testable.
    *
    * Degenerate inputs are guarded so `sequence(lo, hi)` never sees
    * nulls: rows with a null timestamp are excluded up front (they have
    * no place on an hourly spine), and the bounds row is dropped when
    * empty input leaves min/max null — both cases yield an EMPTY result
    * rather than a runtime error. */
  def gapFillHourly(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = events.filter(col("ts").isNotNull)
      .withColumn("h_idx", expr(s"unix_micros(date_trunc('hour', ts)) div $hourUs"))
    val hourly = ev.groupBy("event_type", "h_idx")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).as("sv"))
    val bounds = ev.agg(min("h_idx").as("lo"), max("h_idx").as("hi"))
      .filter(col("lo").isNotNull)
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("h_idx"))
    val w = Window.partitionBy("event_type").orderBy("h_idx")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(hourly, Seq("event_type", "h_idx"), "left")
      .withColumn("is_gap", col("sv").isNull)
      .withColumn("locf_sum_value", last(col("sv"), ignoreNulls = true).over(w).cast("double"))
      .select(col("event_type"),
        timestamp_micros(col("h_idx") * hourUs).as("h"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("is_gap"), col("locf_sum_value"))
  }

  /** Trailing one-hour rolling features per user — see q94 below. The
    * RANGE frame is defined by the microsecond ORDER BY value, so events
    * sharing a timestamp are frame peers (each sees the other) in both
    * engines, and null timestamps are excluded up front (no place on the
    * time axis). */
  def rollingHour(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    events
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("value").cast(DecimalType(12, 2)).as("v"))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", sum(col("v")).over(w).cast("double"))
      .withColumn("roll_max", max(col("v")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("us"),
        col("roll_n"), col("roll_sum"), col("roll_max"))
  }

  /** SCD2 inputs: (user_id, event_id, us, k) from the raw event stream —
    * the q32 JSON extraction + exact microseconds. Shared with the
    * streaming twin (Streams.scd2Ingest) so the extraction rule cannot
    * drift between the batch and online paths. */
  private[graft] def scd2Prep(ev: DataFrame): DataFrame =
    ev.withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("us", unix_micros(col("ts")))
      .select("user_id", "event_id", "us", "k")

  /** Full SCD2 build from raw events — the q159 body (history cost
    * scales with events, not users²: scd2_x* in SCALEPROBE_r8.txt–
    * SCALEPROBE_r13_x64.txt). */
  private def scd2History(ev: DataFrame): DataFrame = scd2Of(scd2Prep(ev))

  /** Type-2 history over a prepared event set — shared by the full build
    * (q159) and the incremental merge (q163), so the two can't drift. */
  private def scd2Of(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e.withColumn("pk", lag("k", 1).over(w))
      .filter(col("pk").isNull || col("k") =!= col("pk"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_to_us", lead("us", 1).over(w))
      .select(col("user_id"), col("version"), col("k"),
        col("us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** SCD2 history as a reusable CTE chain ending in
    * `hist(user_id, version, k, valid_from_us, valid_to_us, is_current)`
    * — shared by q159/q163 (whose oracle is one SELECT over it) and the
    * q166 point-in-time join. */
  private val sqlScd2Ctes =
    """e AS MATERIALIZED (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
      |  FROM events),
      |c AS MATERIALIZED (
      |  SELECT user_id, event_id, us, k,
      |    lag(k) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pk
      |  FROM e),
      |ch AS MATERIALIZED (
      |  SELECT user_id, event_id, us, k FROM c
      |  WHERE pk IS NULL OR k != pk),
      |hist AS MATERIALIZED (
      |  SELECT user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS INTEGER) AS version,
      |    k, us AS valid_from_us,
      |    lead(us) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS valid_to_us,
      |    (lead(us) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id)) IS NULL AS is_current
      |  FROM ch)""".stripMargin

  /** Shared oracle for the SCD2 family: q163's incremental merge must
    * produce EXACTLY the full rebuild, so both queries verify against
    * this one statement — the strongest possible statement of the
    * incremental-maintenance law. */
  private val sqlScd2 =
    s"""WITH $sqlScd2Ctes
       |SELECT user_id, version, k, valid_from_us, valid_to_us, is_current
       |FROM hist ORDER BY user_id, version""".stripMargin

  /** Item co-occurrence with power-user capping — the q162 body (pair
    * volume stays bounded by cap²·users: cooccur_x* in SCALEPROBE_r8.txt–
    * SCALEPROBE_r13_x64.txt). */
  private def cooccurItems(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val items = ev
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .select(col("user_id"), col("k").cast("long").as("item"))
      .distinct()
    val bottomk = new graft.functions.BottomKLongAgg(20).toColumn
    val capped = items
      .select(col("user_id"), Sampling.lehmer(col("item")).as("hk"), col("item"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3))
      .agg(bottomk.name("top"))
      .toDF("user_id", "top")
      .select(col("user_id"), explode(col("top")).as("t"))
      .select(col("user_id"), col("t._2").as("item"))
    val n = capped.groupBy("item").agg(count(lit(1)).as("n_users"))
    val co = capped.as("x")
      .join(capped.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
    co.join(n.select(col("item").as("item_a"), col("n_users").as("n_a")), "item_a")
      .join(n.select(col("item").as("item_b"), col("n_users").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_co"), col("n_a"), col("n_b"),
        (col("n_co").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double"))).as("cosine"))
  }

  /** Grouped OLS trend fit — the q171 body, exposed for fixture specs.
    * Slope/intercept are reported on the 1e-2 value grid (y is
    * floor(value*100+0.5)), per day of x. */
  def trendFit(ev: DataFrame): DataFrame = {
    val e = ev
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("y", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
    val mn = e.agg(min("day").as("d0"))
    val sums = e.crossJoin(broadcast(mn))
      .withColumn("x", col("day") - col("d0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
    sums
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n").cast("double"))
      .select("event_type", "n", "slope", "intercept")
  }

  /** Theil–Sen robust trend — the q177 body, exposed for fixture specs.
    * Median pairwise slope of the DAILY MEANS per event_type (means on
    * the 1e-2 fixed-point grid, like [[trendFit]]); the O(days²) pair
    * set lives on the day-level distribution table, never the corpus. */
  def theilSen(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      .withColumn("m", col("sy").cast("double") / col("n"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("m").as("m1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("m").as("m2"))
    val slopes = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .select(col("event_type"), col("d1"), col("d2"),
        ((col("m2") - col("m1")) / (col("d2") - col("d1")).cast("double"))
          .as("slope"))
    val wR = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    val ranked = slopes
      .withColumn("rn", row_number().over(wR))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
    ranked
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("np div 2 + 1"))
      .groupBy("event_type")
      .agg(min("np").as("n_pairs"),
        ((min("slope") + max("slope")) / 2).as("median_slope"))
      .join(daily.groupBy("event_type").agg(count(lit(1)).as("n_days")),
        "event_type")
      .select("event_type", "n_days", "n_pairs", "median_slope")
  }

  /** Tabular CUSUM change-point detector — the q179 body, exposed for
    * fixture specs. Per event_type, S⁺/S⁻ via the prefix-sum-minus-
    * running-min unrolling on an exact integer grid (1 value unit =
    * 100000 scaled); baseline μ₀ = mean of the first 7 days, slack
    * K = 0.05 units, threshold h = 0.25 units. */
  def cusum(ev: DataFrame): DataFrame = {
    val K = 5000L  // 0.05 value units on the scaled grid
    val H = 25000L // 0.25 value units
    val daily = ev
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum("y").as("sy"))
      .withColumn("m", expr("sy * 1000 div n"))
    val wDay = Window.partitionBy("event_type").orderBy("day")
    val base = daily
      .withColumn("rk", row_number().over(wDay))
      .filter(col("rk") <= 7)
      .groupBy("event_type")
      .agg(sum("sy").as("bsy"), sum("n").as("bn"))
      .select(col("event_type"), expr("bsy * 1000 div bn").as("mu0"))
    val wCum = wDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(base), "event_type")
      .withColumn("dpos", col("m") - col("mu0") - K)
      .withColumn("dneg", col("mu0") - col("m") - K)
      .withColumn("ppos", sum("dpos").over(wCum))
      .withColumn("pneg", sum("dneg").over(wCum))
      .withColumn("cusum_pos",
        col("ppos") - least(lit(0L), min("ppos").over(wCum)))
      .withColumn("cusum_neg",
        col("pneg") - least(lit(0L), min("pneg").over(wCum)))
      .withColumn("shift_flag",
        col("cusum_pos") > H || col("cusum_neg") > H)
      .select("event_type", "day", "n", "m", "mu0",
        "cusum_pos", "cusum_neg", "shift_flag")
  }

  /** Watermark lateness report — the q189 body, exposed for fixture
    * specs. Replays the log in arrival (event_id) order against a
    * 2-hour watermark; the arrival-order running max is the
    * two-phase prefix aggregation described at q189. */
  def latenessReport(events: DataFrame): DataFrame = {
    val wUs = 2L * 3600L * 1000000L
    val ev = events
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("chunk", expr("event_id div 65536"))
    val wLoc = Window.partitionBy("chunk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wChunk = Window.partitionBy(Sampling.onePart(col("chunk"))).orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunkMax = ev.groupBy("chunk").agg(max("us").as("cmx"))
      .withColumn("pmax", max("cmx").over(wChunk))
      .select("chunk", "pmax")
    ev
      .withColumn("lmax", max("us").over(wLoc))
      .join(broadcast(chunkMax), "chunk")
      .withColumn("hwm", greatest(coalesce(col("lmax"), lit(Long.MinValue)),
        coalesce(col("pmax"), lit(Long.MinValue))))
      .withColumn("late_us",
        when(col("hwm") =!= Long.MinValue && col("us") < col("hwm") - wUs,
          col("hwm") - wUs - col("us")).otherwise(lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max("late_us").as("max_late_us"))
      .withColumn("late_frac",
        col("n_late").cast("double") / col("n_events"))
      .select("event_type", "n_events", "n_late", "late_frac", "max_late_us")
  }

  /** Per-(event_type, day) counts keyed on an exact integer day index
    * (days since epoch, from integer-µs truncation) — the shared base
    * for the time-series family (q198–q200). One grouped aggregation;
    * the output is a DISTRIBUTION table (types × days), so everything
    * built on it costs O(series length), never O(events). */
  private[graft] def dailyCounts(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("d_idx"))
      .agg(count(lit(1)).as("x"))

  /** ACF over the per-type daily series — see q198. Library form so the
    * exactness law (a linear series correlates to 1 at every lag) is
    * spec-testable on synthetic streams. */
  def acfDaily(events: DataFrame): DataFrame = {
    val maxLag = 7
    val w = Window.partitionBy("event_type").orderBy("d_idx")
    val lagged = (1 to maxLag).foldLeft(dailyCounts(events)) {
      (df, l) => df.withColumn(s"y$l", lag(col("x"), l).over(w))
    }
    val stacked = lagged.select(col("event_type"), col("x"),
      expr(s"stack($maxLag, " +
        (1 to maxLag).map(l => s"$l, y$l").mkString(", ") + ") AS (lag_k, y)"))
      .filter(col("y").isNotNull)
    val g = stacked.groupBy("event_type", "lag_k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
    val dx = (col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")
    g.select(col("event_type"), col("lag_k"), col("n_pairs"),
      when(dx > 0.0 && dy > 0.0,
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt(dx) * sqrt(dy))).as("acf"))
  }

  /** The (event_type, weekday) count moments q199 scores against —
    * exposed so the streaming twin (Streams.seasonalAlarm) broadcasts
    * the SAME profile the batch side aggregates. */
  def weekdayProfile(events: DataFrame): DataFrame =
    dailyCounts(events).withColumn("dow", expr("(d_idx + 3) % 7"))
      .groupBy("event_type", "dow")
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_xx"))
      .withColumn("var_num",
        col("cnt") * col("sum_xx") - col("sum_x") * col("sum_x"))

  /** z-scoring of (event_type, d_idx, dow, x) rows joined against a
    * [[weekdayProfile]] — shared by the batch (q199) and streaming
    * (Streams.seasonalAlarm) paths so the flag rule cannot drift. */
  private[graft] def seasonalScore(joined: DataFrame): DataFrame = {
    val z = (col("cnt") * col("x") - col("sum_x")).cast("double") /
      sqrt(col("var_num").cast("double"))
    joined.select(col("event_type"), col("d_idx"), col("dow"), col("x"),
      (col("sum_x").cast("double") / col("cnt").cast("double")).as("dow_mean"),
      when(col("var_num") > 0, z).as("z"),
      (col("var_num") > 0 && abs(when(col("var_num") > 0, z)) > 2.0)
        .as("is_anomaly"))
  }

  /** Weekday-seasonal z-scores — see q199. */
  def seasonalAnomalyDaily(events: DataFrame): DataFrame =
    seasonalScore(
      dailyCounts(events).withColumn("dow", expr("(d_idx + 3) % 7"))
        .join(weekdayProfile(events), Seq("event_type", "dow")))

  /** Truncated-EWMA smoothing of the daily series — see q200. */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("d_idx")
    val ewma = (0 to 15).map { k =>
      (if (k == 0) col("x") else lag(col("x"), k).over(w)).cast("double") /
        lit((1L << (k + 1)).toDouble)
    }.reduce(_ + _)
    dailyCounts(events)
      .withColumn("rn", row_number().over(w))
      .withColumn("ewma", ewma)
      .filter(col("rn") >= 16)
      .select("event_type", "d_idx", "x", "ewma")
  }

  /** The inactivity gap that closes a session (q31's rule): 30 minutes
    * in microseconds. The streaming twin, `Streams.sessionize`, reads it
    * too. */
  val SessionGapUs: Long = 1800L * 1000000L

  /** Gap sessions: per user, in (`order`, event_id) order, a row opens a
    * new session when it is the user's first or comes more than `gapUs`
    * after the previous row (`us`, epoch microseconds); `id` numbers the
    * user's sessions from 1 (the running sum of `is_new`). Adds
    * prev_us, is_new and `id`. */
  private[graft] def gapSessions(ev: DataFrame, order: String, gapUs: Long,
      id: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(order, "event_id")
    ev.withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn(id, sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** q31's sessions over raw events: `us` from `ts`, then [[gapSessions]]
    * in (ts, event_id) order with the [[SessionGapUs]] gap. */
  private def sessions(events: DataFrame): DataFrame =
    gapSessions(events.withColumn("us", unix_micros(col("ts"))), "ts", SessionGapUs,
      "session_id")

  /** Daily peak session concurrency (sweep-line) — see q218. */
  def sessionConcurrency(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val sess = sessions(events)
      .groupBy("user_id", "session_id")
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    val bounds = sess
      .select(col("start_us").as("us"), lit(1L).as("delta"),
        col("user_id"), col("session_id"))
      .unionAll(sess.select((col("end_us") + 1).as("us"),
        lit(-1L).as("delta"), col("user_id"), col("session_id")))
      .withColumn("chunk", expr(s"us div $hourUs"))
      .materialize // chunk totals + local sweep both read it
    val offs = Sampling.chunkOffsets(
      bounds.groupBy("chunk").agg(sum("delta").as("tot")), "chunk", "tot")
    val wLoc = Window.partitionBy("chunk")
      .orderBy(col("us"), col("delta").desc, col("user_id"), col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val conc = bounds
      .withColumn("loc", sum("delta").over(wLoc))
      .join(offs, "chunk")
      .withColumn("conc", col("loc") + col("off"))
      .filter(col("delta") === 1)
      .withColumn("day_idx", expr("us div 86400000000"))
      .materialize // peak + first-instant both read it
    val peaks = conc.groupBy("day_idx").agg(max("conc").as("peak"))
    conc.join(peaks, "day_idx")
      .filter(col("conc") === col("peak"))
      .groupBy("day_idx", "peak")
      .agg(min("us").as("first_peak_us"))
  }

  /** Consecutive-pair transition support — see q201 (unbounded form;
    * the registered query keeps the top-20 cut). */
  def eventBigrams(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
    val tot = pairs.agg(count(lit(1)).as("n_total"))
    pairs.groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("prev_type"), col("next_type"), col("n_occ"), col("n_users"),
        (col("n_occ").cast("double") / col("n_total").cast("double"))
          .as("support"))
  }

  /** DuckDB mirror of [[dailyCounts]]. */
  private val sqlDaily =
    """daily AS MATERIALIZED (
      |  SELECT event_type,
      |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 86400000000
      |      AS d_idx,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- Tumbling-window (hourly) aggregation per event type -------------
    QueryDef("q30_events_hourly", (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
        .reportSorted("h", "event_type"), // hours x event types: time-domain-bounded
      Some("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
             |  event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin),
      headline = true),

    // ---- Conversion funnel: first click -> first purchase per user -------
    // Conditional aggregation, one shuffle on user_id; times carried as
    // exact integer microseconds so the conversion flag and latency are
    // engine-exact. The canonical product-analytics shape at scale: no
    // self-join, no window — just a grouped min per stage.
    QueryDef("q59_funnel", (s, d) => {
      val us = unix_micros(col("ts"))
      t(s, d, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "click", us)).as("first_click_us"),
          min(when(col("event_type") === "purchase", us)).as("first_purchase_us"),
          count(lit(1)).as("n_events"))
        .withColumn("converted",
          col("first_click_us").isNotNull && col("first_purchase_us").isNotNull &&
            col("first_purchase_us") >= col("first_click_us"))
        .withColumn("latency_us",
          when(col("converted"), col("first_purchase_us") - col("first_click_us")))
        .orderBy("user_id")
    },
      Some("""WITH a AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'click'
             |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_click_us,
             |    min(CASE WHEN event_type = 'purchase'
             |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_purchase_us,
             |    count(*) AS n_events
             |  FROM events GROUP BY user_id)
             |SELECT user_id, first_click_us, first_purchase_us, n_events,
             |  first_click_us IS NOT NULL AND first_purchase_us IS NOT NULL
             |    AND first_purchase_us >= first_click_us AS converted,
             |  CASE WHEN first_click_us IS NOT NULL AND first_purchase_us IS NOT NULL
             |    AND first_purchase_us >= first_click_us
             |    THEN first_purchase_us - first_click_us END AS latency_us
             |FROM a ORDER BY user_id""".stripMargin)),

    // ---- Gap-based sessionization (30-minute inactivity gap) -------------
    // The scalable shape: one shuffle on user_id, two window passes, no
    // driver-side state. Durations in exact integer microseconds.
    QueryDef("q31_sessionize", (s, d) => {
      sessions(t(s, d, "events"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max("us") - min("us")).as("dur_us"))
        .orderBy("user_id", "session_id")
    },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |), s AS (
             |  SELECT user_id, event_id, us,
             |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM e)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |  count(*) AS n_events, max(us) - min(us) AS dur_us
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // ---- As-of (temporal lookup) join: each event matched to the user's
    // most recent prior order — via the custom AsOfJoin operator
    // (graft.plans: LogicalPlan + Strategy + streaming-merge SparkPlan).
    // Right side pre-aggregated to one row per (custkey, orderdate) so the
    // match is unique and deterministic. DuckDB's native ASOF JOIN is the
    // oracle. ----------------------------------------------------------------
    QueryDef("q35_asof_lookup", (s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "ts")
      val orders = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_totalprice").as("order_total"))
      graft.plans.AsOf.join(ev, orders, "user_id", "o_custkey", "ts", "o_orderdate")
        .select(col("event_id"), col("user_id"),
          col("o_orderdate").cast("date").as("last_order_date"),
          col("order_total"))
        .orderBy("event_id")
    },
      Some("""WITH o AS (
             |  SELECT o_custkey, o_orderdate, max(o_totalprice) AS order_total
             |  FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT e.event_id, e.user_id,
             |  CAST(o.o_orderdate AS DATE) AS last_order_date, o.order_total
             |FROM events e ASOF LEFT JOIN o
             |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate
             |ORDER BY event_id""".stripMargin),
      headline = true),

    // ---- Semi-structured property extraction (JSON props column) ---------
    QueryDef("q32_event_props", (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .reportSorted("event_type"),
      Some("""SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
             |  min(k) AS min_k, max(k) AS max_k
             |FROM (SELECT event_type,
             |        CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Gap filling + LOCF: regularize an event series ------------------
    // The time-series resampling op every metrics pipeline needs: build a
    // dense hourly spine per event type between the corpus's min and max
    // hour, left-join the observed hourly aggregates, zero-fill counts,
    // and carry the last observed sum forward over gaps (LOCF via
    // last(ignoreNulls) — IGNORE NULLS exists in both engines). Hours are
    // exact integer hour-indexes (epoch_us div 3600e6), sums exact
    // DECIMAL cast to double at the end (the q30 parity pattern).
    //
    // Scale shape: the raw stream collapses to hourly aggregates FIRST
    // (map-side partial count/sum, one shuffle), so the spine, join, and
    // LOCF window all run over (types x hours) rows — bounded by
    // calendar time, not data volume: a century of hours is <1M rows per
    // type. The per-type LOCF window sorts spine rows only, never events.
    QueryDef("q87_gap_fill", (s, d) =>
      gapFillHourly(t(s, d, "events")).reportSorted("event_type", "h"),
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 AS h_idx,
             |    CAST(value AS DECIMAL(12,2)) AS v
             |  FROM events),
             |hourly AS (SELECT event_type, h_idx, count(*) AS n, sum(v) AS sv
             |           FROM ev GROUP BY 1, 2),
             |b AS (SELECT min(h_idx) AS lo, max(h_idx) AS hi FROM ev),
             |types AS (SELECT DISTINCT event_type FROM ev),
             |spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS h_idx
             |          FROM types CROSS JOIN b)
             |SELECT spine.event_type,
             |  make_timestamp(spine.h_idx * 3600000000) AS h,
             |  coalesce(n, 0) AS n,
             |  sv IS NULL AS is_gap,
             |  CAST(last_value(sv IGNORE NULLS) OVER (
             |    PARTITION BY spine.event_type ORDER BY spine.h_idx
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    AS locf_sum_value
             |FROM spine LEFT JOIN hourly
             |  ON spine.event_type = hourly.event_type AND spine.h_idx = hourly.h_idx
             |ORDER BY spine.event_type, h""".stripMargin)),

    // ---- Rolling time-range features per user ----------------------------
    // Trailing one-hour activity features for every event — the standard
    // feature-generation shape (fraud scores, rate limits, engagement
    // features) and the one RANGE-frame window in the inventory: the frame
    // is defined by the ORDER BY *value* (microseconds), not row position,
    // so ties and irregular event spacing are handled by the frame
    // semantics identically in both engines. Sums run on exact DECIMAL,
    // timestamps on exact integer microseconds.
    //
    // Scale shape: one shuffle on user_id, then WindowExec's sliding
    // accumulation — per-task cost is linear in the user's history. The
    // partition key is the entity, so skew is bounded by the busiest
    // user; a pathological single-entity stream would be pre-sliced by
    // (user_id, day) with frame-width overlap, same as sessionization.
    QueryDef("q94_rolling_window", (s, d) =>
      rollingHour(t(s, d, "events")).orderBy("event_id"),
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(value AS DECIMAL(12,2)) AS v
             |  FROM events WHERE ts IS NOT NULL)
             |SELECT event_id, user_id, us,
             |  count(*) OVER w AS roll_n,
             |  CAST(sum(v) OVER w AS DOUBLE) AS roll_sum,
             |  CAST(max(v) OVER w AS DOUBLE) AS roll_max
             |FROM ev
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ---- Retention cohort matrix: day-0 cohorts x day offsets ------------
    // The product-analytics staple: users cohorted by first-seen day,
    // activity counted per (cohort, day-offset) cell with the retention
    // rate against the cohort's size. All time arithmetic on integer day
    // indices (exact microseconds div day — never raw ns timestamps).
    // Scale shape: per-user first day and distinct activity days are
    // map-combined user/user-day shuffles; the cohort join is id-keyed;
    // the matrix rollup is (days x offsets) — tiny. Nothing is pairwise,
    // nothing windows over the corpus.
    QueryDef("q107_retention_cohorts", (s, d) => {
      val dayUs = 86400L * 1000000L
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
        .withColumn("day", expr(s"unix_micros(ts) div $dayUs"))
      val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort"))
      val act = ev.select("user_id", "day").distinct()
      val cohortSize = firstDay.groupBy("cohort").agg(count(lit(1)).as("n_users"))
      act.join(firstDay, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(cohortSize), "cohort")
        .select(col("cohort"), col("day_offset"), col("n_active"), col("n_users"),
          (col("n_active").cast("double") / col("n_users")).as("retention"))
        .reportSorted("cohort", "day_offset") // cohorts x day offsets: time-domain-bounded
    },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events WHERE ts IS NOT NULL),
             |fd AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY user_id),
             |act AS (SELECT DISTINCT user_id, day FROM ev),
             |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
             |       FROM fd GROUP BY cohort)
             |SELECT fd.cohort, day - fd.cohort AS day_offset,
             |  CAST(count(*) AS BIGINT) AS n_active, n_users,
             |  CAST(count(*) AS DOUBLE) / n_users AS retention
             |FROM act JOIN fd ON act.user_id = fd.user_id
             |         JOIN cs ON fd.cohort = cs.cohort
             |GROUP BY fd.cohort, day - fd.cohort, n_users
             |ORDER BY fd.cohort, day_offset""".stripMargin)),

    // ---- Session path mining: top within-session event-type 3-grams ------
    // "What do users actually do?" — the path-frequency readout over
    // q31's gap sessionization. Each session's event types are ordered
    // by exact (microsecond, event_id) — a total order, so the collected
    // sequence is deterministic in both engines — and every CONSECUTIVE
    // 3-step path is counted with multiplicity (unlike the dedup
    // shingles, repetition is the signal here).
    // Scale shape: one user_id window (q31's), one session collect
    // (bounded by session length), a map-side 3-gram expansion, and a
    // map-combined path count with a distributed top-20 — no corpus-wide
    // window, no pairwise joins.
    QueryDef("q108_session_paths", (s, d) => {
      val seqs = sessions(t(s, d, "events")).groupBy("user_id", "session_id")
        .agg(sort_array(collect_list(
          struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
        .select(transform(col("evs"), e => e.getField("event_type")).as("seq"))
        .filter(size(col("seq")) >= 3)
      seqs
        .select(explode(transform(sequence(lit(0), size(col("seq")) - 3),
          i => array_join(slice(col("seq"), i + 1, lit(3)), " "))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |), sx AS (
             |  SELECT user_id, event_type, us, event_id,
             |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
             |        THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM e),
             |sq AS (
             |  SELECT list(event_type ORDER BY us, event_id) AS seq
             |  FROM sx GROUP BY user_id, session_id),
             |g AS (
             |  SELECT unnest(list_transform(range(1, len(seq) - 1),
             |    i -> array_to_string(seq[i:i+2], ' '))) AS path
             |  FROM sq WHERE len(seq) >= 3)
             |SELECT path, CAST(count(*) AS BIGINT) AS n
             |FROM g GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // ---- Winsorized robust statistics per event type ---------------------
    // Outlier-robust aggregation the q64 way: the p05/p95 cut points come
    // from the exact VALUE DISTRIBUTION (rank covers over a groupBy(value)
    // histogram — windows over distinct values, never the event stream),
    // ranks in exact integer arithmetic (ceil(p*n) as (p*n + 99) div 100),
    // values clamped map-side, and both means emitted as exact DECIMAL
    // sums cast to double at the very end (q94's portability pattern —
    // never a partition-order-dependent double sum).
    // Scale shape: one histogram shuffle + a per-type threshold broadcast
    // + one map-combined final aggregate.
    QueryDef("q110_winsorized_stats", (s, d) => {
      val ev = t(s, d, "events").select(col("event_type"), col("value"))
      val wCum = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = ev.groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      val cuts = hist.groupBy("event_type")
        .agg(max("n").as("n"),
          min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("value"))).as("lo"),
          min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("value"))).as("hi"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 6))
      ev.join(broadcast(cuts), "event_type")
        .withColumn("w",
          when(col("value") < col("lo"), col("lo"))
            .when(col("value") > col("hi"), col("hi"))
            .otherwise(col("value")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("w") =!= col("value"), 1L).otherwise(0L)).as("n_clipped"),
          max("lo").as("p05"), max("hi").as("p95"),
          (sum(dec(col("value"))).cast("double") / count(lit(1))).as("mean"),
          (sum(dec(col("w"))).cast("double") / count(lit(1))).as("winsorized_mean"))
        .reportSorted("event_type")
    },
      Some("""WITH h AS (
             |  SELECT event_type, value, count(*) AS cnt
             |  FROM events GROUP BY event_type, value),
             |c AS (
             |  SELECT event_type, value, cnt,
             |    sum(cnt) OVER (PARTITION BY event_type ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(cnt) OVER (PARTITION BY event_type) AS n
             |  FROM h),
             |cuts AS (
             |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             |    min(CASE WHEN cum >= (5 * n + 99) // 100 THEN value END) AS lo,
             |    min(CASE WHEN cum >= (95 * n + 99) // 100 THEN value END) AS hi
             |  FROM c GROUP BY event_type)
             |SELECT e.event_type,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clipped,
             |  max(lo) AS p05, max(hi) AS p95,
             |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean,
             |  CAST(sum(CAST(CASE WHEN value < lo THEN lo
             |    WHEN value > hi THEN hi ELSE value END AS DECIMAL(18,6)))
             |    AS DOUBLE) / count(*) AS winsorized_mean
             |FROM events e JOIN cuts ON e.event_type = cuts.event_type
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // ---- Event-mix temporal drift ---------------------------------------
    // The ingest monitor: per-day share of each event type, and its
    // day-over-day delta — a pipeline reading "purchase share fell 5
    // points overnight" catches upstream schema/source breaks before
    // they poison a training snapshot. One shuffle to the (day, type)
    // contingency table; day totals and the lag ride windows over that
    // DISTRIBUTION table (days x types rows — bounded, never the event
    // stream; q96/q110's rule). share is int/int IEEE division and
    // drift a subtraction of two such exact doubles — bit-identical on
    // both engines. First day of each type reports drift 0 (coalesce):
    // no baseline, no alert.
    QueryDef("q127_event_drift", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val wDay = Window.partitionBy("day")
      val wType = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("day_total", sum("n").over(wDay))
        .withColumn("share", col("n").cast("double") / col("day_total"))
        .withColumn("drift",
          coalesce(col("share") - lag("share", 1).over(wType), lit(0.0)))
        .withColumn("alert", abs(col("drift")) > 0.02)
        .select("day", "event_type", "n", "day_total", "share", "drift", "alert")
        .reportSorted("day", "event_type")
    },
      Some("""WITH daily AS (
             |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             |      AS day,
             |    event_type, CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |sh AS (
             |  SELECT day, event_type, n,
             |    CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
             |    CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY day) AS BIGINT)
             |      AS share
             |  FROM daily)
             |SELECT day, event_type, n, day_total, share,
             |  coalesce(share - lag(share, 1) OVER (PARTITION BY event_type
             |    ORDER BY day), CAST(0 AS DOUBLE)) AS drift,
             |  abs(coalesce(share - lag(share, 1) OVER (PARTITION BY event_type
             |    ORDER BY day), CAST(0 AS DOUBLE))) > 0.02 AS alert
             |FROM sh ORDER BY day, event_type""".stripMargin)),

    // ---- k-anonymity suppression gate ------------------------------------
    // The release gate for exporting aggregate telemetry: any cell of
    // the (event_type, hour) contingency table naming fewer than k = 5
    // DISTINCT users is suppressed before publication — small cells
    // re-identify. One grouped exact distinct (partial aggregation
    // map-side, q30's hourly bucketing for timestamp parity); the
    // suppression flag rides the same pass. At privacy review scale the
    // identical shape runs per release slice; the approximate
    // pre-screen for much wider tables is q33's HLL with this exact
    // pass only over its borderline cells.
    QueryDef("q123_kanon_suppress", (s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .withColumn("suppress", col("n_users") < 5)
        .orderBy("h", "event_type"),
      Some("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
             |  event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users,
             |  count(DISTINCT user_id) < 5 AS suppress
             |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin)),

    // ---- Ingestion dedup by content, first arrival wins ------------------
    // Batch twin of streaming.Streams.dedupedEvents (VERDICT r7 item 6b:
    // every streaming twin's batch side must ride the driver's
    // correctness gate, not just a spec). At-least-once ingestion can
    // re-deliver the same logical event under a fresh event_id, so the
    // dedup key is the CONTENT (user_id, event_type, value, props) and
    // the keep rule is first arrival — min(ts, event_id), the same
    // first-occurrence-wins contract as the streaming dropDuplicates.
    // One map-combined agg on the content key + an id-keyed semi-join;
    // at scale the content key would be a hash (q44's pattern).
    QueryDef("q140_event_dedup", (s, d) => {
      val ev = t(s, d, "events")
      val keep = ev
        .groupBy("user_id", "event_type", "value", "props")
        .agg(min(struct(col("ts"), col("event_id"))).as("first"))
        .select(col("first.event_id").as("event_id"))
      ev.join(keep, Seq("event_id"), "left_semi")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
      Some("""WITH k AS (
             |  SELECT event_id, user_id, event_type, value,
             |    row_number() OVER (
             |      PARTITION BY user_id, event_type, value, props
             |      ORDER BY ts, event_id) AS rn
             |  FROM events)
             |SELECT event_id, user_id, event_type, value
             |FROM k WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // ---- Stream-static enrichment, batch form ----------------------------
    // Batch twin of streaming.Streams.enriched: the event stream joined
    // to the customer dimension on user_id. A plain left equi-join —
    // broadcast when the dimension fits, user-keyed shuffle otherwise;
    // the streaming side re-plans the same join per micro-batch.
    QueryDef("q141_event_enrich", (s, d) => {
      val ev = t(s, d, "events")
      val cust = t(s, d, "customer")
      ev.join(cust, ev("user_id") === cust("c_custkey"), "left_outer")
        .select(ev("event_id"), ev("event_type"), ev("value"),
          cust("c_mktsegment"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, event_type, value, c_mktsegment
             |FROM events LEFT JOIN customer ON user_id = c_custkey
             |ORDER BY event_id""".stripMargin)),

    // ---- Click-to-purchase attribution (interval join, batch form) -------
    // Batch twin of streaming.Streams.clickToPurchase: for every
    // purchase, the same user's clicks in the preceding hour, with the
    // exact µs gap. The join is user-keyed equi + a time-range residual —
    // a user-partitioned shuffle join at any scale (the stream form adds
    // watermarks so the SAME predicate also bounds join state). Gap
    // arithmetic on integer microseconds, bit-equal in both engines.
    QueryDef("q142_click_attribution", (s, d) => {
      val ev = t(s, d, "events")
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
      c.join(p,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .select(col("purchase_id"), col("click_id"),
          col("p_user").as("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        .orderBy("purchase_id", "click_id")
    },
      Some("""WITH c AS (
             |  SELECT user_id AS c_user, ts AS c_ts, event_id AS click_id
             |  FROM events WHERE event_type = 'click'),
             |p AS (
             |  SELECT user_id AS p_user, ts AS p_ts, event_id AS purchase_id
             |  FROM events WHERE event_type = 'purchase')
             |SELECT purchase_id, click_id, p_user AS user_id,
             |  epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
             |FROM c JOIN p ON c_user = p_user
             |  AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR
             |ORDER BY purchase_id, click_id""".stripMargin)),

    // ---- Sliding-window event rates (1h window, 15m slide), batch form ---
    // Batch twin of streaming.Streams.slidingRates. Spark's window()
    // assigns each event to its 4 enclosing epoch-aligned slots; the
    // oracle reproduces the slot arithmetic with time_bucket - k*15min.
    // One explode (x4) + a map-combined count — the slide factor, not
    // the corpus, sets the expansion, so the shape holds at any scale.
    QueryDef("q143_sliding_rates", (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type"),
      Some("""WITH slots AS (
             |  SELECT event_type, ts,
             |    time_bucket(INTERVAL '15 minutes', ts)
             |      - k.k * INTERVAL '15 minutes' AS w_start
             |  FROM events, (SELECT unnest(range(4)) AS k) k)
             |SELECT w_start, event_type, count(*) AS n
             |FROM slots
             |WHERE ts >= w_start AND ts < w_start + INTERVAL '1 hour'
             |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    // ---- SCD type-2 dimension build (event-sourced history) --------------
    // The warehouse-side CDC consumer: collapse each user's property
    // stream (the JSON `k` prop, the q32 extraction) into type-2 history
    // rows — one row per VALUE CHANGE with [valid_from, valid_to)
    // microsecond intervals, a per-user version number, and an
    // is_current flag on the open interval. Change detection is a lag()
    // comparison, interval closing a lead() — two window passes over one
    // user_id shuffle, the q31 sessionize shape: keyed by a
    // high-cardinality column, so it scales like any grouped aggregation
    // (no corpus window). Ties on ts break on event_id, total order.
    QueryDef("q159_scd2_history", (s, d) =>
      scd2History(t(s, d, "events")).orderBy("user_id", "version"),
      Some(sqlScd2)),

    // ---- Incremental SCD2 maintenance (the MERGE form) -------------------
    // The production form of q159: history exists, a new event batch
    // lands, and the warehouse must NOT rebuild 100 TB of history — it
    // recomputes only the TOUCHED users (the batch's user set, a
    // left-semi prune on the partition key) and unions untouched history
    // through unchanged (left-anti). Cutoff = midpoint of the observed
    // time range (a 1-row broadcast), so the demo splits deterministically
    // at every SF. The incremental-maintenance LAW — merge(old, batch) ==
    // full rebuild — is stated in the strongest way available: this query
    // verifies against the SAME oracle statement as q159.
    QueryDef("q163_scd2_merge", (s, d) => {
      val ev = scd2Prep(t(s, d, "events"))
      val cut = ev.agg(expr("(min(us) + max(us)) div 2").as("cut"))
      val evb = ev.crossJoin(broadcast(cut))
      val oldEv = evb.filter(col("us") <= col("cut")).drop("cut")
      val batch = evb.filter(col("us") > col("cut")).drop("cut")
      val touched = batch.select("user_id").distinct()
      val untouched = scd2Of(oldEv)
        .join(touched, Seq("user_id"), "left_anti")
      val rebuilt = scd2Of(ev.join(touched, Seq("user_id"), "left_semi"))
      untouched.union(rebuilt).orderBy("user_id", "version")
    },
      Some(sqlScd2)),

    // ---- Item co-occurrence similarity (collaborative filtering) ---------
    // The recommendation-side projection of a user x item interaction
    // log: items (the `k` prop) that the same users touch, scored by
    // co-occurrence cosine n_co / sqrt(n_a * n_b). The scale hazard in
    // this shape is the POWER USER — a user with a million items emits a
    // million² pairs from the self-join — so every basket is capped at
    // 20 items first, chosen by deterministic hash rank (the bounded
    // bottom-k aggregator again: O(cap) state per user, map-side
    // partials), the standard practice in production co-occurrence
    // pipelines. After the cap the pair matrix is bounded by
    // catalog² and each user contributes at most C(20,2) = 190 pairs.
    QueryDef("q162_cooccur_items", (s, d) =>
      cooccurItems(t(s, d, "events")).orderBy("item_a", "item_b"),
      Some(s"""WITH it AS MATERIALIZED (
             |  SELECT DISTINCT user_id,
             |    CAST(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER)
             |      AS BIGINT) AS item
             |  FROM events),
             |rk AS MATERIALIZED (
             |  SELECT user_id, item FROM (
             |    SELECT user_id, item,
             |      row_number() OVER (PARTITION BY user_id
             |        ORDER BY ${Sampling.sqlLehmerOf("item")}, item) AS rn
             |    FROM it)
             |  WHERE rn <= 20),
             |n AS MATERIALIZED (
             |  SELECT item, CAST(count(*) AS BIGINT) AS n_users
             |  FROM rk GROUP BY item),
             |co AS MATERIALIZED (
             |  SELECT x.item AS item_a, y.item AS item_b,
             |    CAST(count(*) AS BIGINT) AS n_co
             |  FROM rk x JOIN rk y
             |    ON x.user_id = y.user_id AND x.item < y.item
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT item_a, item_b, n_co, na.n_users AS n_a, nb.n_users AS n_b,
             |  CAST(n_co AS DOUBLE) / sqrt(CAST(na.n_users * nb.n_users AS DOUBLE))
             |    AS cosine
             |FROM co JOIN n na ON item_a = na.item JOIN n nb ON item_b = nb.item
             |ORDER BY item_a, item_b""".stripMargin)),

    // ---- Point-in-time feature join (feature-store training set) ---------
    // The leakage-safe training-set assembly rule: each label row (here,
    // purchase events) joins the feature value that was VALID AT THE
    // LABEL'S TIMESTAMP — never the current one, which would leak the
    // future into training. Features come from the q159 SCD2 history;
    // the join is an equi-join on the entity key with an interval
    // residual (us ∈ [valid_from, valid_to)), the q142 shape — keyed and
    // shuffle-bounded, never an unkeyed interval cross. Intervals tile
    // (WarehouseSpec law), so each label matches exactly one version.
    QueryDef("q166_pit_features", (s, d) => {
      val hist = scd2Of(scd2Prep(t(s, d, "events")))
      val labels = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("value"))
      labels.join(hist, Seq("user_id"))
        .filter(col("us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("us") < col("valid_to_us")))
        .select(col("event_id"), col("user_id"), col("us"), col("value"),
          col("k").as("k_at_label"), col("version"))
        .orderBy("event_id")
    },
      Some(s"""WITH $sqlScd2Ctes,
             |lab AS MATERIALIZED (
             |  SELECT event_id, user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
             |  FROM events WHERE event_type = 'purchase')
             |SELECT l.event_id, l.user_id, l.us, l.value,
             |  h.k AS k_at_label, h.version
             |FROM lab l JOIN hist h ON l.user_id = h.user_id
             |WHERE l.us >= h.valid_from_us
             |  AND (h.valid_to_us IS NULL OR l.us < h.valid_to_us)
             |ORDER BY l.event_id""".stripMargin)),

    // ---- Negative sampling with exclusion (contrastive training) ---------
    // The other half of the q162/q119 training-pair story: per user, 5
    // pseudo-random NON-interacted items. Candidates are deterministic
    // hash draws (15 per user, Lehmer over user⊕draw-index, mapped onto
    // the ranked item catalog), the exclusion is a left-anti join
    // against the interaction set, survivors keep their draw order.
    // Rejection sampling without resampling loops: a bounded
    // over-draw (3x) makes a short fill astronomically unlikely yet
    // keeps per-user work CONSTANT — the property that lets the same
    // plan run on a 10^9-user log. Catalog windows (item ranking) run
    // over catalog rows only.
    QueryDef("q167_negative_samples", (s, d) => {
      val inter = t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .select(col("user_id"), col("k").cast("long").as("item"))
        .distinct()
      val items = inter.select("item").distinct()
      val ranked = items
        .withColumn("rn",
          row_number().over(Window.partitionBy(Sampling.onePart(length(col("item")))).orderBy("item")).cast("long"))
      val nItems = items.agg(count(lit(1)).as("n_items"))
      val wSel = Window.partitionBy("user_id").orderBy("i", "item")
      inter.select("user_id").distinct()
        .select(col("user_id"), explode(sequence(lit(0L), lit(14L))).as("i"))
        .crossJoin(broadcast(nItems))
        .withColumn("rn",
          pmod(Sampling.lehmer(col("user_id") * lit(131L) + col("i")),
            col("n_items")) + lit(1L))
        .join(broadcast(ranked), "rn")
        .join(inter, Seq("user_id", "item"), "left_anti")
        .groupBy("user_id", "item").agg(min("i").as("i"))
        .withColumn("neg_rank", row_number().over(wSel).cast("int"))
        .filter(col("neg_rank") <= 5)
        .select(col("user_id"), col("neg_rank"), col("item"))
        .orderBy("user_id", "neg_rank")
    },
      Some(s"""WITH it AS MATERIALIZED (
             |  SELECT DISTINCT user_id,
             |    CAST(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER)
             |      AS BIGINT) AS item
             |  FROM events),
             |items AS MATERIALIZED (SELECT DISTINCT item FROM it),
             |ranked AS MATERIALIZED (
             |  SELECT item, CAST(row_number() OVER (ORDER BY item) AS BIGINT) AS rn
             |  FROM items),
             |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM items),
             |cand AS MATERIALIZED (
             |  SELECT u.user_id, s.i,
             |    (${Sampling.sqlLehmerOf("(u.user_id * 131 + s.i)")}) % ni.n_items
             |      + 1 AS rn
             |  FROM (SELECT DISTINCT user_id FROM it) u,
             |       range(0, 15) s(i), ni),
             |mapped AS MATERIALIZED (
             |  SELECT c.user_id, c.i, r.item
             |  FROM cand c JOIN ranked r ON c.rn = r.rn),
             |surv AS MATERIALIZED (
             |  SELECT m.user_id, m.item, min(m.i) AS i
             |  FROM mapped m
             |  WHERE NOT EXISTS (SELECT 1 FROM it
             |    WHERE it.user_id = m.user_id AND it.item = m.item)
             |  GROUP BY m.user_id, m.item)
             |SELECT user_id, CAST(neg_rank AS INTEGER) AS neg_rank, item FROM (
             |  SELECT user_id, item,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY i, item) AS neg_rank
             |  FROM surv)
             |WHERE neg_rank <= 5 ORDER BY user_id, neg_rank""".stripMargin)),

    // ---- Skip-gram pair extraction (embedding training data) -------------
    // The data-prep step for item/word embedding training: from each
    // user's time-ordered interaction sequence, (center, context) pairs
    // within a ±2 offset window — the skip-gram corpus word2vec-style
    // trainers consume. Each event contributes ≤ 4 pairs (2 ahead via
    // lead; both directions covered because a j-ahead pair IS the
    // reverse j-behind pair, emitted once per direction here for the
    // standard symmetric corpus). One user-keyed shuffle, two lead()
    // passes, one pair rollup — per-event work constant at any log
    // size.
    QueryDef("q170_skipgram_pairs", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val seq0 = t(s, d, "events")
        .withColumn("item", get_json_object(col("props"), "$.k").cast("int")
          .cast("long"))
        .withColumn("us", unix_micros(col("ts")))
      val ahead = Seq(1, 2).map { j =>
        seq0.select(col("item").as("center"),
          lead("item", j).over(w).as("context"))
      }.reduce(_ union _)
      val fwd = ahead.filter(col("context").isNotNull)
      val both = fwd.union(fwd.select(col("context").as("center"),
        col("center").as("context")))
      both
        .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
        .filter(col("n_pairs") >= 3)
        .orderBy("center", "context")
    },
      Some(s"""WITH e AS MATERIALIZED (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
             |    CAST(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER)
             |      AS BIGINT) AS item
             |  FROM events),
             |ahead AS MATERIALIZED (
             |  SELECT item AS center,
             |    lead(item, 1) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS context
             |  FROM e
             |  UNION ALL
             |  SELECT item AS center,
             |    lead(item, 2) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS context
             |  FROM e),
             |fwd AS MATERIALIZED (
             |  SELECT center, context FROM ahead WHERE context IS NOT NULL),
             |bidir AS MATERIALIZED (
             |  SELECT center, context FROM fwd
             |  UNION ALL SELECT context, center FROM fwd)
             |SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
             |FROM bidir
             |GROUP BY center, context HAVING count(*) >= 3
             |ORDER BY center, context""".stripMargin)),

    // ---- Grouped OLS trend fit (exact-sum linear regression) -------------
    // Per event type, the least-squares slope/intercept of value over
    // time — the metric-drift readout ("is error rate trending up").
    // The whole regression reduces to FIVE exact int64 sums (n, Σx,
    // Σy, Σxy, Σx²) with x = day index from a 1-row min broadcast and
    // y = value on a 1e-2 grid, so the distributed part is one grouped
    // aggregation with map-side combine; slope = (nΣxy−ΣxΣy)/(nΣx²−
    // (Σx)²) and intercept are two IEEE ops at the very end, identical
    // on both engines. The textbook decomposition that makes regression
    // a one-pass distributed aggregate.
    QueryDef("q171_trend_fit", (s, d) =>
      trendFit(t(s, d, "events")).reportSorted("event_type"),
      Some("""WITH e AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
             |  FROM events),
             |mn AS (SELECT min(day) AS d0 FROM e),
             |sums AS MATERIALIZED (
             |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(day - d0) AS BIGINT) AS sx,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum((day - d0) * y) AS BIGINT) AS sxy,
             |    CAST(sum((day - d0) * (day - d0)) AS BIGINT) AS sxx
             |  FROM e, mn GROUP BY event_type)
             |SELECT event_type, n,
             |  CAST(n * sxy - sx * sy AS DOUBLE)
             |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             |  (CAST(sy AS DOUBLE)
             |    - (CAST(n * sxy - sx * sy AS DOUBLE)
             |       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept
             |FROM sums ORDER BY event_type""".stripMargin)),

    // ---- Multi-touch conversion attribution ------------------------------
    // Marketing-analytics closer for the q142 attribution family: each
    // purchase credits the user's clicks in the preceding 7 days —
    // touch count, first/last touch (min/max over a (ts, event_id)
    // struct, partially aggregable), and the per-touch linear credit
    // value/n. Keyed equi-join on user + time-range residual, grouped
    // per purchase — the scale-safe interval shape throughout;
    // purchases with no touches survive via left join with zero count
    // and null credit (the unattributable bucket every report needs).
    QueryDef("q172_attribution", (s, d) => {
      val ev = t(s, d, "events").withColumn("us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("us").as("p_us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("us").as("c_us"))
      val touched = purchases.join(clicks, Seq("user_id"))
        .filter(col("c_us") < col("p_us") &&
          col("c_us") >= col("p_us") - lit(7L * 86400L * 1000000L))
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_touches"),
          min(struct(col("c_us"), col("c_id"))).as("ft"),
          max(struct(col("c_us"), col("c_id"))).as("lt"))
        .select(col("p_id"), col("n_touches"),
          col("ft.c_id").as("first_touch"), col("lt.c_id").as("last_touch"))
      purchases.join(touched, Seq("p_id"), "left")
        .select(col("p_id"), col("user_id"), col("value"),
          coalesce(col("n_touches"), lit(0L)).as("n_touches"),
          col("first_touch"), col("last_touch"),
          (col("value") / col("n_touches")).as("linear_credit"))
        .orderBy("p_id")
    },
      Some("""WITH ev AS MATERIALIZED (
             |  SELECT event_id, user_id, event_type, value,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |p AS MATERIALIZED (
             |  SELECT event_id AS p_id, user_id, us AS p_us, value
             |  FROM ev WHERE event_type = 'purchase'),
             |c AS MATERIALIZED (
             |  SELECT user_id, event_id AS c_id, us AS c_us
             |  FROM ev WHERE event_type = 'click'),
             |tr AS MATERIALIZED (
             |  SELECT p_id, c_id,
             |    row_number() OVER (PARTITION BY p_id
             |      ORDER BY c_us, c_id) AS rf,
             |    row_number() OVER (PARTITION BY p_id
             |      ORDER BY c_us DESC, c_id DESC) AS rl
             |  FROM p JOIN c ON p.user_id = c.user_id
             |  WHERE c_us < p_us AND c_us >= p_us - 604800000000),
             |touched AS MATERIALIZED (
             |  SELECT p_id, CAST(count(*) AS BIGINT) AS n_touches,
             |    min(CASE WHEN rf = 1 THEN c_id END) AS first_touch,
             |    min(CASE WHEN rl = 1 THEN c_id END) AS last_touch
             |  FROM tr GROUP BY p_id)
             |SELECT p.p_id, p.user_id, p.value,
             |  COALESCE(t.n_touches, 0) AS n_touches,
             |  t.first_touch, t.last_touch,
             |  p.value / t.n_touches AS linear_credit
             |FROM p LEFT JOIN touched t ON p.p_id = t.p_id
             |ORDER BY p.p_id""".stripMargin)),

    // ---- Theil–Sen robust trend (median of pairwise slopes) --------------
    // The robust complement to q171's OLS: the median over all pairwise
    // slopes of the DAILY MEANS tolerates up to ~29% outlier days, where
    // one bad day drags least squares arbitrarily. Pairwise work happens
    // on the day-level DISTRIBUTION table (one row per (event_type,
    // day) after the grouped aggregation), so the O(days²) slope set is
    // bounded by the date range — C(30, 2) ≈ 435 pairs per metric at a
    // month of data — regardless of how many events each day holds; the
    // corpus itself is touched by exactly one grouped aggregation with
    // map-side combine. Determinism: daily means are sums of 1e-2
    // fixed-point int64s divided once (correctly-rounded IEEE, both
    // engines), slopes one subtraction + one division of those, and the
    // even-count median is (min+max)/2 of the two middle slopes — no
    // transcendentals, no order-dependent double sums.
    QueryDef("q177_theilsen_trend", (s, d) =>
      theilSen(t(s, d, "events")).reportSorted("event_type"),
      Some("""WITH daily AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS sy
             |  FROM events GROUP BY 1, 2),
             |dm AS MATERIALIZED (
             |  SELECT event_type, day, CAST(sy AS DOUBLE) / n AS m FROM daily),
             |slopes AS MATERIALIZED (
             |  SELECT a.event_type, a.day AS d1, b.day AS d2,
             |    (b.m - a.m) / CAST(b.day - a.day AS DOUBLE) AS slope
             |  FROM dm a JOIN dm b
             |    ON a.event_type = b.event_type AND a.day < b.day),
             |ranked AS MATERIALIZED (
             |  SELECT event_type, slope,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY slope, d1, d2) AS rn,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
             |  FROM slopes),
             |med AS (
             |  SELECT event_type, min(np) AS n_pairs,
             |    (min(slope) + max(slope)) / 2 AS median_slope
             |  FROM ranked
             |  WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1
             |  GROUP BY event_type)
             |SELECT m.event_type,
             |  (SELECT CAST(count(*) AS BIGINT) FROM daily d
             |   WHERE d.event_type = m.event_type) AS n_days,
             |  n_pairs, median_slope
             |FROM med m ORDER BY event_type""".stripMargin)),

    // ---- CUSUM change-point detection over daily means -------------------
    // The metric-shift alarm q171/q177 can't give: WHEN did the level
    // change. Tabular CUSUM per event_type against a baseline μ₀ (mean
    // of the first 7 days): S⁺_t = max(0, S⁺_{t−1} + (x_t − μ₀ − K)),
    // mirrored for downward shifts; a day flags when either side
    // crosses h. The recursion is not a window function — but it
    // UNROLLS to one: S_t = P_t − min(0, min_{j≤t} P_j) where P is the
    // ordered prefix sum of the deviations, so the whole detector is
    // two cumulative windows per side over the day-level distribution
    // table (bounded by the date range, never corpus-sized; the corpus
    // is touched by exactly one grouped aggregation).
    //
    // Determinism: everything runs on an integer grid — daily means as
    // (Σy·1000) div n with y the 1e-2 value grid (so 1 value unit =
    // 100000 scaled), slack K = 0.05 units, threshold h = 0.25 units —
    // prefix sums, running mins, and comparisons are all exact int64;
    // no ordered double accumulation whose rounding could diverge
    // between engines' window implementations.
    QueryDef("q179_cusum_changepoints", (s, d) =>
      cusum(t(s, d, "events")).reportSorted("event_type", "day"),
      Some("""WITH daily AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS sy
             |  FROM events GROUP BY 1, 2),
             |dm AS MATERIALIZED (
             |  SELECT event_type, day, n, sy, sy * 1000 // n AS m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day)
             |      AS rk
             |  FROM daily),
             |base AS MATERIALIZED (
             |  SELECT event_type,
             |    CAST(sum(sy) AS BIGINT) * 1000 // CAST(sum(n) AS BIGINT)
             |      AS mu0
             |  FROM dm WHERE rk <= 7 GROUP BY event_type),
             |dev AS MATERIALIZED (
             |  SELECT d.event_type, d.day, d.n, d.m, b.mu0,
             |    sum(d.m - b.mu0 - 5000) OVER w AS ppos,
             |    sum(b.mu0 - d.m - 5000) OVER w AS pneg
             |  FROM dm d JOIN base b USING (event_type)
             |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |cs AS MATERIALIZED (
             |  SELECT event_type, day, n, m, mu0,
             |    ppos - least(0, min(ppos) OVER w) AS cusum_pos,
             |    pneg - least(0, min(pneg) OVER w) AS cusum_neg
             |  FROM dev
             |  WINDOW w AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT event_type, day, n, m, mu0,
             |  CAST(cusum_pos AS BIGINT) AS cusum_pos,
             |  CAST(cusum_neg AS BIGINT) AS cusum_neg,
             |  cusum_pos > 25000 OR cusum_neg > 25000 AS shift_flag
             |FROM cs ORDER BY event_type, day""".stripMargin)),

    // ---- Watermark lateness report ---------------------------------------
    // The diagnostic that SIZES a streaming watermark before a pipeline
    // ships: replaying the log in ARRIVAL order (event_id — the ingest
    // sequence), how many events arrive with an event-time older than
    // the high-water mark minus W, per type — exactly the rows a
    // W-watermarked streaming job (Streams.typedEvents uses 2 hours)
    // would silently drop, plus the max lateness observed (what W would
    // have had to be). The arrival-order running maximum is a prefix
    // aggregation, computed two-phase like every prefix sum here:
    // arrival-stride chunks bound the local windows, per-chunk maxima
    // cumulate on the chunk table (bounded at n/64k rows — the same
    // documented envelope as the flat chunk window chunkOffsets
    // replaced), and the exclusive cross-chunk max joins back broadcast.
    // All exact int64 microseconds.
    QueryDef("q189_lateness_report", (s, d) =>
      latenessReport(t(s, d, "events")).reportSorted("event_type"),
      Some(s"""WITH ev AS MATERIALIZED (
             |  SELECT event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |hw AS MATERIALIZED (
             |  SELECT event_id, event_type, us,
             |    max(us) OVER (ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
             |  FROM ev),
             |lt AS MATERIALIZED (
             |  SELECT event_type,
             |    CASE WHEN hwm IS NOT NULL AND us < hwm - ${2L * 3600L * 1000000L}
             |      THEN hwm - ${2L * 3600L * 1000000L} - us ELSE 0 END AS late_us
             |  FROM hw)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_late,
             |  CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS late_frac,
             |  CAST(max(late_us) AS BIGINT) AS max_late_us
             |FROM lt GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Event-pattern matching (CEP primitive) --------------------------
    // The MATCH_RECOGNIZE-shaped primitive funnels (q59) don't give:
    // "A then B within T with NO C between" — here each view followed by
    // a purchase within 1 hour with no error event in between. The next
    // purchase/error after each row comes from conditional windowed
    // minima over the FOLLOWING frame of the user's (us, event_id)-
    // ordered stream — per-user partitioned windows, one shuffle, no
    // self-join, each view emits ≤ 1 match (nearest-purchase
    // semantics, the standard CEP skip-to-next contract). Betweenness
    // compares (us, event_id) structs so simultaneous timestamps
    // resolve identically on both engines.
    QueryDef("q192_event_pattern", (s, d) => {
      val wF = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      ev
        .withColumn("np", min(when(col("event_type") === "purchase",
          struct(col("us"), col("event_id")))).over(wF))
        .withColumn("ne", min(when(col("event_type") === "error",
          struct(col("us"), col("event_id")))).over(wF))
        .filter(col("event_type") === "view" && col("np").isNotNull)
        .withColumn("gap_us", col("np.us") - col("us"))
        .filter(col("gap_us") <= 3600L * 1000000L &&
          (col("ne").isNull || !(col("ne") < col("np"))))
        .select(col("user_id"), col("event_id").as("view_id"),
          col("np.event_id").as("purchase_id"), col("gap_us"))
        .orderBy("view_id")
    },
      Some("""WITH ev AS MATERIALIZED (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |nx AS MATERIALIZED (
             |  SELECT user_id, event_id, event_type, us,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN {'us': us, 'event_id': event_id} END) OVER w AS np,
             |    min(CASE WHEN event_type = 'error'
             |      THEN {'us': us, 'event_id': event_id} END) OVER w AS ne
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
             |SELECT user_id, event_id AS view_id,
             |  (np).event_id AS purchase_id, (np).us - us AS gap_us
             |FROM nx
             |WHERE event_type = 'view' AND np IS NOT NULL
             |  AND (np).us - us <= 3600000000
             |  AND (ne IS NULL OR NOT (ne < np))
             |ORDER BY view_id""".stripMargin)),

    // ---- Linear-interpolation gap fill (time-series resampling) ----------
    // The interpolating complement to q87's LOCF: resample each metric
    // onto the full hourly grid, filling missing hours with the linear
    // blend of the nearest observed neighbors — what a feature pipeline
    // feeds a model instead of stale carry-forward values. The grid is
    // generated per metric from its own min/max hour (a 1-row aggregate
    // exploded — bounded by the date range, never event-count-sized);
    // neighbor lookup is two IGNORE NULLS window passes over the grid
    // table. Hourly means are 1e-2 fixed-point int64 sums divided once;
    // the interpolation weight (h−hp)/(hn−hp) and blend are identical
    // IEEE trees on both engines.
    QueryDef("q193_interpolate", (s, d) => {
      val hourly = t(s, d, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("h"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"))
        .groupBy("event_type", "h")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"))
        .withColumn("m", col("sy").cast("double") / col("n"))
      val grid = hourly.groupBy("event_type")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
      val wPrev = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(hourly.select(col("event_type"), col("h"), col("m")),
          Seq("event_type", "h"), "left")
        .withColumn("pm", last(when(col("m").isNotNull,
          struct(col("h").as("ph"), col("m").as("pv"))), ignoreNulls = true)
          .over(wPrev))
        .withColumn("nm", first(when(col("m").isNotNull,
          struct(col("h").as("nh"), col("m").as("nv"))), ignoreNulls = true)
          .over(wNext))
        .withColumn("value", when(col("m").isNotNull, col("m"))
          .otherwise(col("pm.pv") + (col("nm.nv") - col("pm.pv")) *
            ((col("h") - col("pm.ph")).cast("double") /
              (col("nm.nh") - col("pm.ph")).cast("double"))))
        .select(col("event_type"), col("h"), col("value"),
          col("m").isNull.as("filled"))
        .reportSorted("event_type", "h")
    },
      Some("""WITH hourly AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             |      / count(*) AS m
             |  FROM events GROUP BY 1, 2),
             |grid AS MATERIALIZED (
             |  SELECT event_type, unnest(range(h0, h1 + 1)) AS h
             |  FROM (SELECT event_type, min(h) AS h0, max(h) AS h1
             |        FROM hourly GROUP BY event_type)),
             |j AS MATERIALIZED (
             |  SELECT g.event_type, g.h, hr.m,
             |    last_value(CASE WHEN hr.m IS NOT NULL
             |        THEN {'ph': g.h, 'pv': hr.m} END IGNORE NULLS)
             |      OVER (PARTITION BY g.event_type ORDER BY g.h
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
             |    first_value(CASE WHEN hr.m IS NOT NULL
             |        THEN {'nh': g.h, 'nv': hr.m} END IGNORE NULLS)
             |      OVER (PARTITION BY g.event_type ORDER BY g.h
             |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
             |  FROM grid g LEFT JOIN hourly hr
             |    ON g.event_type = hr.event_type AND g.h = hr.h)
             |SELECT event_type, h,
             |  CASE WHEN m IS NOT NULL THEN m
             |       ELSE (pm).pv + ((nm).nv - (pm).pv)
             |         * (CAST(h - (pm).ph AS DOUBLE)
             |            / CAST((nm).nh - (pm).ph AS DOUBLE)) END AS value,
             |  m IS NULL AS filled
             |FROM j ORDER BY event_type, h""".stripMargin)),

    // ---- Autocorrelation function (ACF) per event-type daily series ------
    // Pearson correlation of the daily-count series against itself at
    // lags 1..7 — the seasonality detector that decides whether q199's
    // weekday profile is even worth building. Shape: the corpus
    // collapses to the daily DISTRIBUTION table first (one grouped agg),
    // then ONE window pass materializes all 7 lags, `stack` unpivots
    // them, and a second grouped agg folds each (type, lag) to exact
    // int64 moment sums. r = (n·Σxy − ΣxΣy)/(√dx·√dy) with dx, dy kept
    // as separate int64→double sqrt operands so nothing overflows and
    // both engines run the identical IEEE op sequence. Cost at 100 TB:
    // the one corpus aggregation; everything after is series-length work.
    QueryDef("q198_acf", (s, d) =>
      acfDaily(t(s, d, "events")).reportSorted("event_type", "lag_k"),
      Some {
        val lags = (1 to 7).map(l => s"lag(x, $l) OVER w AS y$l").mkString(",\n    ")
        val arms = (1 to 7).map(l =>
          s"SELECT event_type, $l AS lag_k, x, y$l AS y FROM lagged WHERE y$l IS NOT NULL")
          .mkString("\n  UNION ALL ")
        s"""WITH $sqlDaily,
           |lagged AS MATERIALIZED (
           |  SELECT event_type, x,
           |    $lags
           |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d_idx)),
           |st AS MATERIALIZED (
           |  $arms),
           |g AS (
           |  SELECT event_type, lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(y * y) AS BIGINT) AS syy,
           |    CAST(sum(x * y) AS BIGINT) AS sxy
           |  FROM st GROUP BY 1, 2)
           |SELECT event_type, lag_k, n_pairs,
           |  CASE WHEN CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0.0
           |        AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0.0
           |    THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
           |      / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
           |         * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
           |  END AS acf
           |FROM g ORDER BY event_type, lag_k""".stripMargin
      }),

    // ---- Weekday-seasonal anomaly detection (seasonal z-score) -----------
    // Each (event_type, weekday) gets a profile (mean/variance of its
    // daily counts) and each day is scored against its own weekday's
    // profile — the seasonal z-score that flags "low for a Monday"
    // where a global z-score (q111's shape) would see a normal day.
    // Weekday is pure integer arithmetic on the epoch-day index
    // ((d_idx+3) mod 7, 0 = Monday) — NOT the engines' dayofweek(),
    // which disagree on numbering. z = (cnt·x − Σx)/√(cnt·Σx² − (Σx)²)
    // keeps every operand an exact int64 until the single sqrt+divide,
    // so the flag is bit-stable; zero-variance profiles yield NULL z
    // and never flag. Cost: one corpus agg + distribution-table joins.
    QueryDef("q199_seasonal_anomaly", (s, d) =>
      seasonalAnomalyDaily(t(s, d, "events")).reportSorted("event_type", "d_idx"),
      Some(s"""WITH $sqlDaily,
             |dd AS MATERIALIZED (
             |  SELECT event_type, d_idx, (d_idx + 3) % 7 AS dow, x FROM daily),
             |prof AS MATERIALIZED (
             |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(x) AS BIGINT) AS sum_x,
             |    CAST(sum(x * x) AS BIGINT) AS sum_xx
             |  FROM dd GROUP BY 1, 2),
             |j AS (
             |  SELECT dd.event_type, dd.d_idx, dd.dow, dd.x,
             |    p.cnt, p.sum_x,
             |    p.cnt * p.sum_xx - p.sum_x * p.sum_x AS var_num
             |  FROM dd JOIN prof p
             |    ON dd.event_type = p.event_type AND dd.dow = p.dow)
             |SELECT event_type, d_idx, dow, x,
             |  CAST(sum_x AS DOUBLE) / CAST(cnt AS DOUBLE) AS dow_mean,
             |  CASE WHEN var_num > 0 THEN
             |    CAST(cnt * x - sum_x AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE))
             |  END AS z,
             |  coalesce(var_num > 0 AND abs(CASE WHEN var_num > 0 THEN
             |      CAST(cnt * x - sum_x AS DOUBLE)
             |        / sqrt(CAST(var_num AS DOUBLE)) END) > 2.0, FALSE)
             |    AS is_anomaly
             |FROM j ORDER BY event_type, d_idx""".stripMargin)),

    // ---- EWMA smoothing (α = 1/2, 16-term truncation) --------------------
    // Exponentially-weighted moving average of the daily series — the
    // smoother behind alerting baselines and rate limiters. The
    // recursion is truncated to 16 terms (the dropped tail weight is
    // 2⁻¹⁶ ≈ 1.5e-5 of the total): s_t = Σ_{k<16} x_{t−k}/2^{k+1}. With
    // α = 1/2 every term is an exact dyadic rational, so the 16-term sum
    // is EXACT in IEEE doubles — no summation-order sensitivity at all,
    // the one floating-point trap a truncated-window formulation has.
    // One window pass over the distribution table; rows without 16 days
    // of history are withheld rather than emitted half-warmed.
    QueryDef("q200_ewma", (s, d) =>
      ewmaDaily(t(s, d, "events")).reportSorted("event_type", "d_idx"),
      Some {
        val terms = (0 to 15).map { k =>
          val src = if (k == 0) "x" else s"lag(x, $k) OVER w"
          s"CAST($src AS DOUBLE) / ${1L << (k + 1)}.0"
        }.mkString("\n      + ")
        s"""WITH $sqlDaily,
           |lagged AS MATERIALIZED (
           |  SELECT event_type, d_idx, x, row_number() OVER w AS rn,
           |    $terms AS ewma
           |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d_idx))
           |SELECT event_type, d_idx, x, ewma
           |FROM lagged WHERE rn >= 16 ORDER BY event_type, d_idx""".stripMargin
      }),

    // ---- Sequential-pattern support: consecutive event bigrams -----------
    // Market-basket over event ORDER rather than co-presence (q162's
    // complement): which event follows which, how often, across how
    // many distinct users. One window-lag pass partitioned by user (the
    // same per-user shuffle every session op pays — at scale this rides
    // the q31 sessionization partitioning), then a grouped count over
    // the BOUNDED transition alphabet (|types|² rows). Deterministic
    // ordering inside a user via the (ts, event_id) tiebreak; top-20 by
    // support with a full tiebreak so the cut is stable.
    QueryDef("q201_event_bigrams", (s, d) =>
      eventBigrams(t(s, d, "events"))
        .orderBy(col("n_occ").desc, col("prev_type"), col("next_type"))
        .limit(20),
      Some("""WITH p AS MATERIALIZED (
             |  SELECT user_id, event_type AS next_type,
             |    lag(event_type, 1) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |  FROM events WHERE ts IS NOT NULL),
             |pp AS MATERIALIZED (
             |  SELECT * FROM p WHERE prev_type IS NOT NULL),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pp),
             |g AS (
             |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_occ,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |  FROM pp GROUP BY 1, 2)
             |SELECT prev_type, next_type, n_occ, n_users,
             |  CAST(n_occ AS DOUBLE) / CAST(n_total AS DOUBLE) AS support
             |FROM g CROSS JOIN tot
             |ORDER BY n_occ DESC, prev_type, next_type LIMIT 20""".stripMargin)),

    // ---- Forecast-baseline attestation: seasonal-naive MASE --------------
    // The eval harness for the time-series family (the q112-recall role
    // for forecasting): score the seasonal-naive forecast x̂ₜ = xₜ₋₇
    // against the naive-1 baseline with MASE = MAE₇/MAE₁ — MASE < 1
    // means weekly seasonality is real signal (and q199's weekday
    // profile is worth running); MASE ≥ 1 means the series is drift-
    // dominated. Absolute errors are exact int64 over the daily
    // distribution table; both MAEs and MASE are single closing divides
    // (MASE cross-multiplied to stay integer-exact until its one
    // divide). Degenerate flat series (MAE₁ = 0) yield NULL, not a
    // division artifact.
    QueryDef("q210_forecast_baseline", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("d_idx")
      val lagged = dailyCounts(t(s, d, "events"))
        .withColumn("l1", lag(col("x"), 1).over(w))
        .withColumn("l7", lag(col("x"), 7).over(w))
      lagged.groupBy("event_type")
        .agg(sum(when(col("l7").isNotNull, 1L)).as("n7"),
          sum(when(col("l7").isNotNull, abs(col("x") - col("l7")))).as("s7"),
          sum(when(col("l1").isNotNull, 1L)).as("n1"),
          sum(when(col("l1").isNotNull, abs(col("x") - col("l1")))).as("s1"))
        .select(col("event_type"), col("n7").as("n_forecast"),
          (col("s7").cast("double") / col("n7").cast("double"))
            .as("mae_seasonal"),
          (col("s1").cast("double") / col("n1").cast("double")).as("mae_naive"),
          when(col("s1") > 0,
            (col("s7") * col("n1")).cast("double")
              / (col("s1") * col("n7")).cast("double")).as("mase"))
        .reportSorted("event_type")
    },
      Some(s"""WITH $sqlDaily,
             |lagged AS MATERIALIZED (
             |  SELECT event_type, x,
             |    lag(x, 1) OVER w AS l1, lag(x, 7) OVER w AS l7
             |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d_idx)),
             |g AS (
             |  SELECT event_type,
             |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN 1 END) AS BIGINT) AS n7,
             |    CAST(sum(CASE WHEN l7 IS NOT NULL THEN abs(x - l7) END)
             |      AS BIGINT) AS s7,
             |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN 1 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN l1 IS NOT NULL THEN abs(x - l1) END)
             |      AS BIGINT) AS s1
             |  FROM lagged GROUP BY event_type)
             |SELECT event_type, n7 AS n_forecast,
             |  CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS mae_seasonal,
             |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mae_naive,
             |  CASE WHEN s1 > 0 THEN CAST(s7 * n1 AS DOUBLE)
             |    / CAST(s1 * n7 AS DOUBLE) END AS mase
             |FROM g ORDER BY event_type""".stripMargin)),

    // ---- l-diversity audit over the k-anonymity cohorts ------------------
    // q123 suppresses quasi-identifier cohorts with too FEW users
    // (k-anonymity); this audits the orthogonal leak k-anonymity
    // misses: a cohort whose SENSITIVE attribute is homogeneous exposes
    // every member even at k ≥ 5 (Machanavajjhala's l-diversity). Same
    // (hour, event_type) cohorts, sensitive attribute = the extracted
    // numeric payload key (q32's rule); a cohort violates at l < 3.
    // One grouped aggregation — count + two distincts — over the same
    // shuffle key as q123, so the two audits pipeline together at scale.
    QueryDef("q211_ldiversity", (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          count_distinct(col("k")).as("l_div"))
        .withColumn("violates_l3", col("l_div") < 3)
        .orderBy("h", "event_type"),
      Some("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             |    AS h,
             |  event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users,
             |  count(DISTINCT k) AS l_div,
             |  count(DISTINCT k) < 3 AS violates_l3
             |FROM (SELECT ts, event_type, user_id,
             |        CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)
             |          AS k
             |      FROM events)
             |GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin)),

    // ---- Two-regressor OLS: purchases ~ clicks + trend -------------------
    // q171 fits y~t per group; this is the MULTI-feature step every
    // metrics team eventually needs (does purchase volume follow click
    // volume after controlling for drift?): closed-form normal
    // equations over exact int64 moments, solved by Cramer's rule in a
    // FIXED expression tree — no iterative solver, no aggregation-order
    // float sums, so both engines produce bit-identical coefficients.
    // The trend regressor is centered to day-offset-from-start (bounds
    // via a 1-row broadcast) to keep the 3×3 determinant well-scaled.
    // Cost: two rows per day out of the daily distribution table, nine
    // moment sums, one output row — corpus work is the one daily agg.
    QueryDef("q213_multivar_ols", (s, d) => {
      val daily = dailyCounts(t(s, d, "events"))
      val y = daily.filter(col("event_type") === "purchase")
        .select(col("d_idx"), col("x").as("y"))
      val x1 = daily.filter(col("event_type") === "click")
        .select(col("d_idx"), col("x").as("x1"))
      val base = y.join(x1, "d_idx")
      val bounds = base.agg(min("d_idx").as("d0"))
      val rows = base.crossJoin(broadcast(bounds))
        .select(col("y"), col("x1"), (col("d_idx") - col("d0")).as("x2"))
      val m = rows.agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
      def det3(a: Column, b: Column, c: Column, dd: Column, e: Column,
          f: Column, g: Column, h: Column, i: Column): Column =
        a * (e * i - f * h) - b * (dd * i - f * g) + c * (dd * h - e * g)
      val (n, s1, s2, sy) = (col("n").cast("double"), col("s1").cast("double"),
        col("s2").cast("double"), col("sy").cast("double"))
      val (s11, s12, s22) = (col("s11").cast("double"),
        col("s12").cast("double"), col("s22").cast("double"))
      val (s1y, s2y, syy) = (col("s1y").cast("double"),
        col("s2y").cast("double"), col("syy").cast("double"))
      val dd = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
      val b0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22) / dd
      val b1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22) / dd
      val b2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y) / dd
      val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
      val sst = syy - sy * sy / n
      m.select(col("n").as("n_days"), b0.as("b_intercept"),
        b1.as("b_clicks"), b2.as("b_trend"),
        (lit(1.0) - sse / sst).as("r2"))
    },
      Some {
        def det3(a: String, b: String, c: String, dd: String, e: String,
            f: String, g: String, h: String, i: String): String =
          s"$a * ($e * $i - $f * $h) - $b * ($dd * $i - $f * $g)" +
            s" + $c * ($dd * $h - $e * $g)"
        val Seq(n, s1, s2, sy, s11, s12, s22, s1y, s2y, syy) =
          Seq("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")
            .map(c => s"CAST($c AS DOUBLE)")
        val dd = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
        val n0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
        val n1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
        val n2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
        s"""WITH $sqlDaily,
           |y AS (SELECT d_idx, x AS y FROM daily WHERE event_type = 'purchase'),
           |x1 AS (SELECT d_idx, x AS x1 FROM daily WHERE event_type = 'click'),
           |base AS MATERIALIZED (
           |  SELECT y.y, x1.x1, y.d_idx FROM y JOIN x1 ON y.d_idx = x1.d_idx),
           |bounds AS (SELECT min(d_idx) AS d0 FROM base),
           |rows_ AS (
           |  SELECT y, x1, d_idx - d0 AS x2 FROM base CROSS JOIN bounds),
           |m AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
           |    CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
           |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
           |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
           |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
           |    CAST(sum(x2 * y) AS BIGINT) AS s2y,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM rows_),
           |sol AS (
           |  SELECT n, sy, s1y, s2y, syy, ($dd) AS dd,
           |    ($n0) AS n0, ($n1) AS n1x, ($n2) AS n2x
           |  FROM m)
           |SELECT n AS n_days, n0 / dd AS b_intercept, n1x / dd AS b_clicks,
           |  n2x / dd AS b_trend,
           |  1.0 - (CAST(syy AS DOUBLE) - (n0 / dd) * CAST(sy AS DOUBLE)
           |      - (n1x / dd) * CAST(s1y AS DOUBLE)
           |      - (n2x / dd) * CAST(s2y AS DOUBLE))
           |    / (CAST(syy AS DOUBLE)
           |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
           |         / CAST(n AS DOUBLE)) AS r2
           |FROM sol""".stripMargin
      }),

    // ---- Mann-Kendall trend test (with tie correction) -------------------
    // The nonparametric SIGNIFICANCE companion to q177's Theil–Sen
    // slope: S = Σ_{i<j} sign(xⱼ − xᵢ) over each type's daily series,
    // variance with the tie-group correction, and the standard
    // continuity-corrected z. All-pairs is the textbook formulation and
    // is safe here ONLY because it runs on the bounded daily
    // DISTRIBUTION table (days², not events²) — the same bounded-pair
    // contract as q177. S and the variance numerator are exact int64;
    // z is one sqrt + one divide in a fixed order.
    QueryDef("q214_mann_kendall", (s, d) => {
      val daily = dailyCounts(t(s, d, "events")).materialize
      val a = daily.select(col("event_type"), col("d_idx").as("di"),
        col("x").as("xi"))
      val b = daily.select(col("event_type"), col("d_idx").as("dj"),
        col("x").as("xj"))
      val sStat = a.join(b, "event_type").filter(col("di") < col("dj"))
        .groupBy("event_type")
        .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s_stat"))
      val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .as("tie_num"))
      val varNum = col("n_days") * (col("n_days") - 1) *
        (lit(2L) * col("n_days") + 5) - col("tie_num")
      val varS = varNum.cast("double") / lit(18.0)
      val z = when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(varS))
        .when(col("s_stat") < 0,
          (col("s_stat") + 1).cast("double") / sqrt(varS))
        .otherwise(lit(0.0))
      sStat.join(nd, "event_type").join(ties, "event_type")
        .select(col("event_type"), col("n_days"), col("s_stat"),
          varS.as("var_s"), z.as("z"),
          when(z > 1.96, "increasing").when(z < -1.96, "decreasing")
            .otherwise("none").as("trend"))
        .reportSorted("event_type")
    },
      Some(s"""WITH $sqlDaily,
             |sp AS MATERIALIZED (
             |  SELECT a.event_type,
             |    CAST(sum(CASE WHEN b.x > a.x THEN 1
             |                  WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
             |      AS s_stat
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND a.d_idx < b.d_idx
             |  GROUP BY a.event_type),
             |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
             |       FROM daily GROUP BY event_type),
             |ties AS (
             |  SELECT event_type,
             |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
             |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
             |        FROM daily GROUP BY event_type, x)
             |  GROUP BY event_type),
             |j AS (
             |  SELECT sp.event_type, nd.n_days, sp.s_stat,
             |    CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
             |         - ties.tie_num AS DOUBLE) / 18.0 AS var_s
             |  FROM sp JOIN nd ON sp.event_type = nd.event_type
             |  JOIN ties ON sp.event_type = ties.event_type)
             |SELECT event_type, n_days, s_stat, var_s,
             |  CASE WHEN s_stat > 0
             |         THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             |       WHEN s_stat < 0
             |         THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             |       ELSE 0.0 END AS z,
             |  CASE WHEN (CASE WHEN s_stat > 0
             |               THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             |             WHEN s_stat < 0
             |               THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             |             ELSE 0.0 END) > 1.96 THEN 'increasing'
             |       WHEN (CASE WHEN s_stat > 0
             |               THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
             |             WHEN s_stat < 0
             |               THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
             |             ELSE 0.0 END) < -1.96 THEN 'decreasing'
             |       ELSE 'none' END AS trend
             |FROM j ORDER BY event_type""".stripMargin)),

    // ---- Additive seasonal decomposition (weekly) ------------------------
    // The classical decomposition x = trend + seasonal + remainder that
    // turns q199's anomaly z into an explainable picture: trend is the
    // centered 7-day moving average (exact int sum, ONE divide),
    // seasonal is each weekday's mean detrended value (a SORTED fold
    // over per-dow lists — q135's rule, the only place float addition
    // reassociates), remainder is what's left. Edge days without a full
    // MA window are withheld, not half-smoothed. Everything runs on the
    // daily distribution table: one corpus agg, one 7-row window, two
    // joins against |type|×7 profiles.
    QueryDef("q215_seasonal_decompose", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("d_idx")
        .rowsBetween(-3, 3)
      val withTrend = dailyCounts(t(s, d, "events"))
        .withColumn("win_n", count(lit(1)).over(w))
        .withColumn("win_sum", sum(col("x")).over(w))
        .filter(col("win_n") === 7)
        .withColumn("trend", col("win_sum").cast("double") / lit(7.0))
        .withColumn("dow", expr("(d_idx + 3) % 7"))
        .withColumn("detr", col("x").cast("double") - col("trend"))
      def foldSum(c: Column) =
        aggregate(array_sort(collect_list(c)), lit(0.0), (acc, x) => acc + x)
      val seasonal = withTrend.groupBy("event_type", "dow")
        .agg((foldSum(col("detr")) / count(lit(1)).cast("double"))
          .as("seasonal"))
      withTrend.join(seasonal, Seq("event_type", "dow"))
        .select(col("event_type"), col("d_idx"), col("dow"), col("x"),
          col("trend"), col("seasonal"),
          (col("detr") - col("seasonal")).as("remainder"))
        .reportSorted("event_type", "d_idx")
    },
      Some(s"""WITH $sqlDaily,
             |tr AS MATERIALIZED (
             |  SELECT event_type, d_idx, x, (d_idx + 3) % 7 AS dow,
             |    CAST(win_sum AS DOUBLE) / 7.0 AS trend,
             |    CAST(x AS DOUBLE) - CAST(win_sum AS DOUBLE) / 7.0 AS detr
             |  FROM (
             |    SELECT event_type, d_idx, x,
             |      count(*) OVER w AS win_n, sum(x) OVER w AS win_sum
             |    FROM daily
             |    WINDOW w AS (PARTITION BY event_type ORDER BY d_idx
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
             |  WHERE win_n = 7),
             |se AS MATERIALIZED (
             |  SELECT event_type, dow,
             |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |      list_sort(list(detr))), (acc, x) -> acc + x)
             |      / CAST(count(*) AS DOUBLE) AS seasonal
             |  FROM tr GROUP BY event_type, dow)
             |SELECT tr.event_type, tr.d_idx, tr.dow, tr.x, tr.trend,
             |  se.seasonal, tr.detr - se.seasonal AS remainder
             |FROM tr JOIN se
             |  ON tr.event_type = se.event_type AND tr.dow = se.dow
             |ORDER BY tr.event_type, tr.d_idx""".stripMargin)),

    // ---- Cross-correlation (lead-lag): clicks vs purchases ---------------
    // The ACF's (q198) bivariate sibling and the causal-screening
    // workhorse: at which offset does the click series best predict the
    // purchase series? r(l) = corr(clicks_t, purchases_{t+l}) for
    // l ∈ [−7, 7]; a peak at positive l means clicks LEAD purchases by
    // l days. Shape: the two daily series come from the one corpus
    // aggregation; each lag's pair set is an integer-shifted equi-join
    // on the day index (15 bounded self-joins over a 30-row
    // distribution table, via one explode — never a corpus operation);
    // moments are exact int64 and r is the q198 two-sqrt form.
    QueryDef("q216_ccf", (s, d) => {
      val daily = dailyCounts(t(s, d, "events")).materialize
      val dx = daily.filter(col("event_type") === "click")
        .select(col("d_idx"), col("x"))
        .withColumn("l", explode(sequence(lit(-7), lit(7))))
      val dy = daily.filter(col("event_type") === "purchase")
        .select((col("d_idx")).as("dj"), col("x").as("y"))
      val g = dx.join(dy, col("d_idx") + col("l") === col("dj"))
        .groupBy("l")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      val dxv = (col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyv = (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")
      g.select(col("l").as("lag_days"), col("n_pairs"),
        when(dxv > 0.0 && dyv > 0.0,
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt(dxv) * sqrt(dyv))).as("ccf"))
        .reportSorted("lag_days")
    },
      Some(s"""WITH $sqlDaily,
             |dx AS (SELECT d_idx, x FROM daily WHERE event_type = 'click'),
             |dy AS (SELECT d_idx AS dj, x AS y FROM daily
             |       WHERE event_type = 'purchase'),
             |pairs AS MATERIALIZED (
             |  SELECT l, dx.x, dy.y
             |  FROM dx CROSS JOIN (SELECT unnest(range(-7, 8)) AS l) ls
             |  JOIN dy ON dx.d_idx + ls.l = dy.dj),
             |g AS (
             |  SELECT l, CAST(count(*) AS BIGINT) AS n_pairs,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy
             |  FROM pairs GROUP BY l)
             |SELECT CAST(l AS INTEGER) AS lag_days, n_pairs,
             |  CASE WHEN CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0.0
             |        AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0.0
             |    THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             |      / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
             |         * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
             |  END AS ccf
             |FROM g ORDER BY lag_days""".stripMargin)),

    // ---- Hampel filter: rolling-median/MAD series outliers ---------------
    // The ROBUST pointwise outlier detector for the daily series — where
    // q199 scores against a weekday mean/σ profile (which one extreme
    // day can poison), the Hampel filter scores each day against its
    // own 7-day neighborhood's MEDIAN and MAD, both breakdown-point-0.5
    // statistics, so a single spike cannot mask itself. ENTIRELY integer
    // arithmetic: the window's 7 counts sort in-expression, median and
    // MAD are element picks, and the flag is |x − med| > 3·MAD on int64
    // — no floats anywhere, bit-equality for free. Edge days without a
    // full window are withheld (half-windows bias the median).
    QueryDef("q217_hampel_filter", (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("d_idx")
        .rowsBetween(-3, 3)
      dailyCounts(t(s, d, "events"))
        .withColumn("win", collect_list(col("x")).over(w))
        .filter(size(col("win")) === 7)
        .withColumn("med7", element_at(array_sort(col("win")), 4))
        .withColumn("mad7", element_at(array_sort(
          transform(col("win"), v => abs(v - col("med7")))), 4))
        .withColumn("is_outlier",
          abs(col("x") - col("med7")) > lit(3L) * col("mad7"))
        .select("event_type", "d_idx", "x", "med7", "mad7", "is_outlier")
        .reportSorted("event_type", "d_idx")
    },
      Some(s"""WITH $sqlDaily,
             |win AS MATERIALIZED (
             |  SELECT event_type, d_idx, x, list(x) OVER w AS win
             |  FROM daily
             |  WINDOW w AS (PARTITION BY event_type ORDER BY d_idx
             |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |m AS (
             |  SELECT event_type, d_idx, x,
             |    list_sort(win)[4] AS med7,
             |    list_sort(list_transform(win,
             |      v -> abs(v - list_sort(win)[4])))[4] AS mad7
             |  FROM win WHERE len(win) = 7)
             |SELECT event_type, d_idx, x, med7, mad7,
             |  abs(x - med7) > 3 * mad7 AS is_outlier
             |FROM m ORDER BY event_type, d_idx""".stripMargin)),

    // ---- Peak session concurrency (sweep-line over intervals) ------------
    // Interval analytics the grouped operators can't express: how many
    // sessions were open SIMULTANEOUSLY, and when did each day peak?
    // Classic sweep-line: each q31 session emits +1 at its start and −1
    // just after its end (end+1µs keeps touching sessions counted as
    // concurrent), and the running delta sum IS the concurrency. The
    // running sum is computed two-phase (hour-chunk local windows +
    // Sampling.chunkOffsets carry-ins — bit-identical to the flat
    // window by int64 reassociation), so no single task ever scans the
    // whole boundary stream; the oracle uses the flat window form.
    // Output: each day's peak and the first instant it is reached.
    QueryDef("q218_session_concurrency", (s, d) =>
      sessionConcurrency(t(s, d, "events")).reportSorted("day_idx"),
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id
             |    ORDER BY CAST(ts AS TIMESTAMP), event_id)),
             |sx AS (
             |  SELECT user_id, us,
             |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
             |        THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY us, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS session_id
             |  FROM e),
             |sess AS MATERIALIZED (
             |  SELECT user_id, session_id,
             |    CAST(min(us) AS BIGINT) AS start_us,
             |    CAST(max(us) AS BIGINT) AS end_us
             |  FROM sx GROUP BY user_id, session_id),
             |b AS MATERIALIZED (
             |  SELECT start_us AS us, 1 AS delta, user_id, session_id FROM sess
             |  UNION ALL
             |  SELECT end_us + 1, -1, user_id, session_id FROM sess),
             |r AS MATERIALIZED (
             |  SELECT us, delta,
             |    CAST(sum(delta) OVER (ORDER BY us, delta DESC,
             |      user_id, session_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS conc
             |  FROM b),
             |p AS (
             |  SELECT us // 86400000000 AS day_idx, us, conc
             |  FROM r WHERE delta = 1),
             |pk AS (SELECT day_idx, max(conc) AS peak FROM p GROUP BY day_idx)
             |SELECT p.day_idx, pk.peak,
             |  CAST(min(p.us) AS BIGINT) AS first_peak_us
             |FROM p JOIN pk ON p.day_idx = pk.day_idx AND p.conc = pk.peak
             |GROUP BY p.day_idx, pk.peak
             |ORDER BY p.day_idx""".stripMargin)),

    // ---- CDC changelog apply (latest-wins with delete tombstones) --------
    // The change-data-capture compaction every lakehouse MERGE runs:
    // the event stream read as a per-user changelog — 'error' rows are
    // DELETE tombstones, everything else upserts the payload — and the
    // materialized snapshot keeps each key's LATEST surviving state.
    // Latest-wins is the exact (ts, event_id) total order (at-least-once
    // ingestion ties break on event_id, q140's rule); a key whose final
    // change is a tombstone leaves the snapshot entirely — the
    // distinction that separates CDC apply from dedup (q140: drop
    // re-deliveries) and SCD2 (q163: KEEP history). One per-key window
    // pass, payload in exact DECIMAL cents.
    QueryDef("q230_cdc_apply", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      val wn = Window.partitionBy("user_id")
      t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_changes", count(lit(1)).over(wn))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          col("us").as("last_us"), col("cents").as("last_cents"),
          col("n_changes"))
        .orderBy("user_id")
    },
      Some("""WITH c AS MATERIALIZED (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
             |        event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_changes
             |  FROM events WHERE ts IS NOT NULL)
             |SELECT user_id, event_type AS last_type, us AS last_us,
             |  cents AS last_cents, CAST(n_changes AS BIGINT) AS n_changes
             |FROM c WHERE rn = 1 AND event_type != 'error'
             |ORDER BY user_id""".stripMargin)),

    // ---- Exact daily value percentiles (P50/P90) per event type ----------
    // The SLO/latency-report shape: exact per-(type, day) order
    // statistics of the event value, not approximations — q34's sketch
    // is the scale path for corpus-wide quantiles; DAILY groups are
    // bounded (one day of one type), so the exact rank pick is cheap
    // and auditable. Money-grade exactness: values become int64 cents
    // through DECIMAL (the q30 parity rule), ranks come from ONE window
    // per group with a full (cents, event_id) tie-break, and the
    // percentile indices are the shared integer formulas
    // p50 = (n+1) div 2, p90 = (9n+9) div 10 — no float rank math.
    QueryDef("q219_daily_percentiles", (s, d) => {
      val w = Window.partitionBy("event_type", "d_idx")
        .orderBy("cents", "event_id")
      val wn = Window.partitionBy("event_type", "d_idx")
      val ranked = t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("d_idx"),
          col("event_id"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
      ranked.groupBy("event_type", "d_idx")
        .agg(max("n").as("n"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
            .as("p50_cents"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents")))
            .as("p90_cents"))
        .reportSorted("event_type", "d_idx")
    },
      Some("""WITH r AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
             |      // 86400000000 AS d_idx,
             |    event_id,
             |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             |    row_number() OVER (PARTITION BY event_type,
             |      epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
             |        // 86400000000
             |      ORDER BY CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT),
             |        event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type,
             |      epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
             |        // 86400000000) AS n
             |  FROM events WHERE ts IS NOT NULL)
             |SELECT event_type, d_idx, CAST(max(n) AS BIGINT) AS n,
             |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
             |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)
             |    AS p90_cents
             |FROM r GROUP BY event_type, d_idx
             |ORDER BY event_type, d_idx""".stripMargin)),

    // ---- Two-proportion z-test on funnel conversion (A/B harness) --------
    // The experimentation primitive: split users into two deterministic
    // arms (user_id parity — in production the hashed assignment of
    // q212's family), measure each arm's click→purchase conversion
    // (q59's funnel rule), and test the difference with the pooled
    // two-proportion z. Counts are exact int64 from ONE user-grouped
    // pass + one 2-row pivot; the z is a fixed chain of IEEE ops over
    // those counts, so both engines agree bitwise. A |z| > 1.96 flag
    // closes the loop the q180 CI machinery opened: is the measured
    // lift real or noise?
    QueryDef("q220_ab_proportion_test", (s, d) => {
      val us = unix_micros(col("ts"))
      val perUser = t(s, d, "events")
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "click", us)).as("fc"),
          min(when(col("event_type") === "purchase", us)).as("fp"))
        .filter(col("fc").isNotNull)
        .select((col("user_id") % 2).as("arm"),
          when(col("fp").isNotNull && col("fp") >= col("fc"), 1L)
            .otherwise(0L).as("conv"))
      val arms = perUser.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("conv").as("c"))
      val a0 = arms.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("c").as("c0"))
      val a1 = arms.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("c").as("c1"))
      val p0 = col("c0").cast("double") / col("n0").cast("double")
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val pPool = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val z = (p0 - p1) / sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n0").cast("double") +
          lit(1.0) / col("n1").cast("double")))
      a0.crossJoin(a1)
        .select(col("n0"), col("c0"), col("n1"), col("c1"),
          p0.as("p_arm0"), p1.as("p_arm1"), z.as("z"),
          (abs(z) > 1.96).as("significant"))
    },
      Some("""WITH pu AS MATERIALIZED (
             |  SELECT user_id % 2 AS arm,
             |    CASE WHEN fp IS NOT NULL AND fp >= fc THEN 1 ELSE 0 END
             |      AS conv
             |  FROM (
             |    SELECT user_id,
             |      min(CASE WHEN event_type = 'click'
             |          THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fc,
             |      min(CASE WHEN event_type = 'purchase'
             |          THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS fp
             |    FROM events GROUP BY user_id)
             |  WHERE fc IS NOT NULL),
             |arms AS (
             |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(conv) AS BIGINT) AS c
             |  FROM pu GROUP BY arm),
             |j AS (
             |  SELECT a0.n AS n0, a0.c AS c0, a1.n AS n1, a1.c AS c1
             |  FROM (SELECT n, c FROM arms WHERE arm = 0) a0
             |  CROSS JOIN (SELECT n, c FROM arms WHERE arm = 1) a1)
             |SELECT n0, c0, n1, c1,
             |  CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p_arm0,
             |  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p_arm1,
             |  (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
             |   - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |  / sqrt(
             |      (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
             |    AS z,
             |  abs((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
             |       - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |  / sqrt(
             |      (CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))))
             |    > 1.96 AS significant
             |FROM j""".stripMargin)),

    // ---- Kaplan-Meier time-to-conversion survival curve ------------------
    // The product-limit estimator over right-censored durations — the
    // standard survival op behind retention/conversion dashboards.
    // Duration = days from a user's first event to their first HIGH-VALUE
    // purchase (value >= 18), administratively censored at a fixed 7-day
    // follow-up horizon (the users who have not converted by day 7 are
    // at risk through every step but never die — real censoring, which a
    // naive conversion-rate cut ignores and thereby biases low). Cohort
    // = first-event day.
    //
    // S(t) = prod_{u <= t} (1 - d(u)/n(u)) with d = deaths at u and
    // n = at-risk (T >= u). Portability: each factor is an int64/int64
    // IEEE division; the product folds over the VALUE-SORTED factor list
    // (multiplication is commutative, so sorting fixes one association
    // order both engines share — the array_sort/list_sort fold pattern).
    // Scale shape: one per-user rollup (user-keyed, map-combined), then
    // everything runs on the (cohort x 7-day grid) table — at-risk from
    // a cohort-partitioned window over the GRID (7 rows per cohort),
    // prefix products from a cohort-equi-keyed grid self-join. No
    // corpus-scale window or cross join anywhere.
    QueryDef("q237_kaplan_meier", (s, d) => {
      val H = 7
      val dayUs = 86400000000L
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          expr(s"unix_micros(ts) div $dayUs").as("day"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("f"),
          min(when(col("event_type") === "purchase" && col("value") >= 18.0,
            col("day"))).as("pd"))
        .select(col("user_id"), col("f").as("cohort_day"),
          when(col("pd").isNotNull && col("pd") - col("f") + 1 <= H,
            col("pd") - col("f") + 1).otherwise(lit(H.toLong)).as("T"),
          (col("pd").isNotNull && col("pd") - col("f") + 1 <= H).as("death"))
      val byDay = users.groupBy("cohort_day", "T")
        .agg(sum(when(col("death"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("e"))
      val cohorts = users.groupBy("cohort_day")
        .agg(count(lit(1)).as("n_cohort"))
      val grid = cohorts
        .withColumn("t", explode(array((1 to H).map(i => lit(i.toLong)): _*)))
        .join(byDay.withColumnRenamed("T", "t"), Seq("cohort_day", "t"), "left")
        .withColumn("d", coalesce(col("d"), lit(0L)))
        .withColumn("e", coalesce(col("e"), lit(0L)))
      val wG = Window.partitionBy("cohort_day").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val risk = grid
        .withColumn("at_risk",
          col("n_cohort") - coalesce(sum("e").over(wG), lit(0L)))
        .withColumn("factor", when(col("d") === 0L, lit(1.0)).otherwise(
          lit(1.0) - col("d").cast("double") / col("at_risk").cast("double")))
      val sv = risk.select(col("cohort_day"), col("t").as("ft"), col("factor"))
        .join(risk.select(col("cohort_day"), col("t")), "cohort_day")
        .filter(col("ft") <= col("t"))
        .groupBy("cohort_day", "t")
        .agg(expr("aggregate(array_sort(collect_list(factor)), " +
          "CAST(1.0 AS DOUBLE), (acc, x) -> acc * x)").as("survival"))
      risk.select(col("cohort_day"), col("t"), col("at_risk"),
          col("d").as("deaths"))
        .join(sv, Seq("cohort_day", "t"))
        .select(col("cohort_day"), col("t").cast("int").as("t"),
          col("at_risk"), col("deaths"), col("survival"))
        .reportSorted("cohort_day", "t")
    },
      Some("""WITH ev AS MATERIALIZED (
             |  SELECT user_id, event_type, value,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events),
             |users AS MATERIALIZED (
             |  SELECT user_id, f AS cohort_day,
             |    CASE WHEN pd IS NOT NULL AND pd - f + 1 <= 7
             |      THEN pd - f + 1 ELSE 7 END AS T,
             |    (pd IS NOT NULL AND pd - f + 1 <= 7) AS death
             |  FROM (
             |    SELECT user_id, min(day) AS f,
             |      min(CASE WHEN event_type = 'purchase' AND value >= 18.0
             |          THEN day END) AS pd
             |    FROM ev GROUP BY user_id)),
             |byday AS (
             |  SELECT cohort_day, T AS t,
             |    CAST(sum(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS d,
             |    CAST(count(*) AS BIGINT) AS e
             |  FROM users GROUP BY 1, 2),
             |cohorts AS (
             |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
             |  FROM users GROUP BY 1),
             |grid AS MATERIALIZED (
             |  SELECT c.cohort_day, CAST(g.t AS BIGINT) AS t, c.n_cohort,
             |    coalesce(b.d, 0) AS d, coalesce(b.e, 0) AS e
             |  FROM cohorts c
             |  CROSS JOIN (SELECT unnest(range(1, 8)) AS t) g
             |  LEFT JOIN byday b ON b.cohort_day = c.cohort_day AND b.t = g.t),
             |risk AS MATERIALIZED (
             |  SELECT cohort_day, t, d, n_cohort
             |    - CAST(coalesce(sum(e) OVER (PARTITION BY cohort_day ORDER BY t
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS at_risk
             |  FROM grid),
             |fct AS (
             |  SELECT cohort_day, t,
             |    CASE WHEN d = 0 THEN 1.0
             |         ELSE 1.0 - CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE)
             |    END AS factor
             |  FROM risk),
             |sv AS (
             |  SELECT r.cohort_day, r.t,
             |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             |      list_sort(list(f.factor))), (acc, x) -> acc * x) AS survival
             |  FROM risk r JOIN fct f
             |    ON f.cohort_day = r.cohort_day AND f.t <= r.t
             |  GROUP BY 1, 2)
             |SELECT r.cohort_day, CAST(r.t AS INTEGER) AS t, at_risk,
             |  d AS deaths, survival
             |FROM risk r JOIN sv ON sv.cohort_day = r.cohort_day AND sv.t = r.t
             |ORDER BY r.cohort_day, r.t""".stripMargin)),

    // ---- Incremental view maintenance of the CDC snapshot ----------------
    // The nightly-pipeline shape q230 implies but never exercises: the
    // materialized latest-wins snapshot is MAINTAINED, not recomputed —
    // snapshot(base) merged with snapshot(delta batch) must equal
    // snapshot(base ++ delta). This query computes the snapshot through
    // the INCREMENTAL path (split the changelog at min+15 days, snapshot
    // each side INCLUDING tombstone-finals — the IVM state needs the
    // tombstone marker or a deleted key would resurrect — then full-outer
    // merge per key: the delta side wins when present, because a
    // time-split guarantees every delta change is later than every base
    // change; change counts add). The ORACLE computes the DIRECT
    // snapshot, so the driver's hash-match IS the IVM correctness proof
    // — any divergence between the maintained and recomputed view fails
    // the gate. `src` records which side supplied each key's final
    // state (= last_us >= split, the property the merge relies on).
    // Scale shape: two user-keyed window passes + one user-keyed merge
    // join; the split bound is a 1-row broadcast (q76's class).
    QueryDef("q240_ivm_snapshot", (s, d) => {
      val dayUs = 86400000000L
      val c = t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"),
          (col("value").cast(DecimalType(12, 2)) * 100).cast("long")
            .as("cents"))
      val split = c.agg((min("us") + lit(15L * dayUs)).as("split_us"))
      val cc = c.crossJoin(broadcast(split))
      def snap(side: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us").desc, col("event_id").desc)
        val wn = Window.partitionBy("user_id")
        side.withColumn("rn", row_number().over(w))
          .withColumn("nc", count(lit(1)).over(wn))
          .filter(col("rn") === 1) // tombstone-finals stay: IVM state
          .select(col("user_id"), col("event_type"), col("us"),
            col("cents"), col("nc"))
      }
      val b = snap(cc.filter(col("us") < col("split_us")))
      val dl = snap(cc.filter(col("us") >= col("split_us")))
      b.withColumnRenamed("event_type", "bt").withColumnRenamed("us", "bu")
        .withColumnRenamed("cents", "bc").withColumnRenamed("nc", "bn")
        .join(dl.withColumnRenamed("event_type", "dt")
          .withColumnRenamed("us", "du").withColumnRenamed("cents", "dc")
          .withColumnRenamed("nc", "dn"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("dt"), col("bt")).as("last_type"),
          coalesce(col("du"), col("bu")).as("last_us"),
          coalesce(col("dc"), col("bc")).as("last_cents"),
          (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_changes"),
          when(col("dt").isNotNull, "delta").otherwise("base").as("src"))
        .filter(col("last_type") =!= "error")
        .orderBy("user_id")
    },
      Some("""WITH c AS MATERIALIZED (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
             |        event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_changes
             |  FROM events WHERE ts IS NOT NULL),
             |mn AS (SELECT min(us) + 15 * 86400000000 AS split_us FROM c)
             |SELECT user_id, event_type AS last_type, us AS last_us,
             |  cents AS last_cents, CAST(n_changes AS BIGINT) AS n_changes,
             |  CASE WHEN us >= split_us THEN 'delta' ELSE 'base' END AS src
             |FROM c CROSS JOIN mn
             |WHERE rn = 1 AND event_type != 'error'
             |ORDER BY user_id""".stripMargin)),

    // ---- Next-event Markov baseline with temporal-split evaluation -------
    // The ML-ops loop in miniature, all in one plan: TRAIN a first-order
    // Markov predictor (per previous event type, the most frequent next
    // type) on the changelog BEFORE a time split, then EVALUATE top-1
    // accuracy on transitions strictly AFTER it — the temporal split a
    // leaking random split would get wrong (q134's lesson, applied to
    // sequence models). Transitions are per-user lag pairs computed
    // WITHIN each side, so no train-test boundary pair leaks a test
    // label into training. Argmax by (count desc, type asc) — exact,
    // deterministic; accuracy is an int/int IEEE divide. Unseen
    // prev-types predict NULL and score zero hits (the honest cold-start
    // accounting). Scale shape: two per-user window passes, a 5x5
    // transition table, and a broadcast model join onto test pairs.
    QueryDef("q244_markov_eval", (s, d) => {
      val dayUs = 86400000000L
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val split = e.agg((min("us") + lit(15L * dayUs)).as("split_us"))
      val ee = e.crossJoin(broadcast(split))
      def pairs(side: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        side
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .select(col("event_type").as("prev_type"), col("next_type"))
      }
      val train = pairs(ee.filter(col("us") < col("split_us")))
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("cnt"))
      val wP = Window.partitionBy("prev_type")
        .orderBy(col("cnt").desc, col("next_type"))
      val model = train
        .withColumn("rk", row_number().over(wP))
        .withColumn("n_train", sum("cnt").over(Window.partitionBy("prev_type")))
        .filter(col("rk") === 1)
        .select(col("prev_type"), col("next_type").as("predicted"),
          col("n_train"))
      val test = pairs(ee.filter(col("us") >= col("split_us")))
      test.join(broadcast(model), Seq("prev_type"), "left")
        .groupBy("prev_type", "predicted", "n_train")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L))
            .as("hits"))
        .select(col("prev_type"), col("predicted"), col("n_train"),
          col("n_test"), col("hits"),
          (col("hits").cast("double") / col("n_test").cast("double"))
            .as("accuracy"))
        .reportSorted("prev_type")
    },
      Some("""WITH e AS MATERIALIZED (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |mn AS (SELECT min(us) + 15 * 86400000000 AS split_us FROM e),
             |tr AS MATERIALIZED (
             |  SELECT event_type AS prev_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS next_type
             |  FROM e CROSS JOIN mn WHERE us < split_us),
             |trc AS (
             |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS cnt
             |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
             |model AS (
             |  SELECT prev_type, next_type AS predicted, n_train FROM (
             |    SELECT prev_type, next_type,
             |      row_number() OVER (PARTITION BY prev_type
             |        ORDER BY cnt DESC, next_type) AS rk,
             |      CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT)
             |        AS n_train
             |    FROM trc) WHERE rk = 1),
             |te AS MATERIALIZED (
             |  SELECT event_type AS prev_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS next_type
             |  FROM e CROSS JOIN mn WHERE us >= split_us)
             |SELECT t.prev_type, predicted, n_train,
             |  CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN t.next_type = predicted THEN 1 ELSE 0 END)
             |    AS BIGINT) AS hits,
             |  CAST(sum(CASE WHEN t.next_type = predicted THEN 1 ELSE 0 END)
             |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
             |FROM te t LEFT JOIN model ON t.prev_type = model.prev_type
             |WHERE t.next_type IS NOT NULL
             |GROUP BY 1, 2, 3 ORDER BY t.prev_type""".stripMargin)),

    // ---- Holt double-exponential forecast with holdout MAE ---------------
    // q200's EWMA tracks LEVEL only and lags any trending series; Holt's
    // linear method carries (level, trend) state — the standard next
    // step for capacity forecasting on daily volumes. The recursion
    // l' = a*y + (1-a)(l+b); b' = g*(l'-l) + (1-g)*b folds over the
    // day-ordered series with a STRUCT accumulator (Spark `aggregate`
    // with named_struct mirrored by DuckDB list_reduce with a struct
    // lambda — both fold left over the identical list, so every double
    // is bit-equal). The last 3 days are held out; forecasts l + h*b
    // score MAE against them — the honest eval a fit-on-everything
    // report skips. Per-type series are bounded (days, not events):
    // the corpus-scale work is dailyCounts' one map-combined rollup.
    QueryDef("q245_holt_forecast", (s, d) => {
      val series = dailyCounts(t(s, d, "events"))
        .groupBy("event_type")
        .agg(expr("transform(array_sort(collect_list(struct(d_idx, x))), " +
          "p -> CAST(p.x AS DOUBLE))").as("ys"))
        .filter(size(col("ys")) >= 6)
        .withColumn("n", size(col("ys")))
        .withColumn("train", expr("slice(ys, 1, n - 3)"))
      val fitted = series.withColumn("state", expr(
        "aggregate(slice(train, 2, n - 4), " +
          "named_struct('l', train[0], 'b', 0.0d), " +
          "(acc, y) -> named_struct(" +
          "'l', 0.5d * y + 0.5d * (acc.l + acc.b), " +
          "'b', 0.3d * ((0.5d * y + 0.5d * (acc.l + acc.b)) - acc.l) " +
          "+ 0.7d * acc.b))"))
      fitted.select(col("event_type"), col("n").cast("int").as("n_days"),
          expr("state.l").as("level"), expr("state.b").as("trend"),
          expr("state.l + 1.0d * state.b").as("f1"),
          expr("state.l + 2.0d * state.b").as("f2"),
          expr("state.l + 3.0d * state.b").as("f3"),
          expr("element_at(ys, n - 2)").as("a1"),
          expr("element_at(ys, n - 1)").as("a2"),
          expr("element_at(ys, n)").as("a3"))
        .withColumn("mae", expr(
          "(abs(f1 - a1) + abs(f2 - a2) + abs(f3 - a3)) / 3.0d"))
        .reportSorted("event_type")
    },
      // NOTE: the fold is mirrored with a RECURSIVE CTE, not list_reduce —
      // DuckDB 1.0's list_reduce gives a struct lambda inconsistent acc
      // bindings when one output field recomputes another (measured: the
      // 'b' field saw the freshly computed 'l' from step 2 onward). The
      // recursive CTE reads only the prior row's columns, so the
      // arithmetic order is exactly Spark's aggregate() fold.
      Some(s"""WITH RECURSIVE $sqlDaily,
             |series AS MATERIALIZED (
             |  SELECT event_type,
             |    list_transform(list_sort(list({'d': d_idx, 'x': x})),
             |      p -> CAST(p.x AS DOUBLE)) AS ys
             |  FROM daily GROUP BY 1),
             |f AS MATERIALIZED (
             |  SELECT event_type, ys, len(ys) AS n, ys[1:len(ys)-3] AS train
             |  FROM series WHERE len(ys) >= 6),
             |rec AS (
             |  SELECT event_type, 1 AS i, train[1] AS l, 0e0 AS b, train, n, ys
             |  FROM f
             |  UNION ALL
             |  SELECT event_type, i + 1,
             |    5e-1 * train[i + 1] + 5e-1 * (l + b),
             |    3e-1 * ((5e-1 * train[i + 1] + 5e-1 * (l + b)) - l)
             |      + 7e-1 * b,
             |    train, n, ys
             |  FROM rec WHERE i < n - 3),
             |o AS (
             |  SELECT event_type, CAST(n AS INTEGER) AS n_days,
             |    l AS level, b AS trend,
             |    l + 1e0 * b AS f1, l + 2e0 * b AS f2, l + 3e0 * b AS f3,
             |    ys[n - 2] AS a1, ys[n - 1] AS a2, ys[n] AS a3
             |  FROM rec WHERE i = n - 3)
             |SELECT event_type, n_days, level, trend, f1, f2, f3, a1, a2, a3,
             |  (abs(f1 - a1) + abs(f2 - a2) + abs(f3 - a3)) / 3e0 AS mae
             |FROM o ORDER BY event_type""".stripMargin)),

    // ---- DAU / WAU / MAU active-user series with stickiness --------------
    // The product dashboard's backbone: per calendar day, distinct users
    // active that day, over the trailing 7 days, and over the trailing
    // 28 days, plus the DAU/WAU and DAU/MAU stickiness ratios. Distinct-
    // over-trailing-window computes by WINDOW MEMBERSHIP: each distinct
    // (user, day) activity row contributes itself to the <= 7 (resp.
    // <= 28) window anchors it falls inside, then one distinct count per
    // anchor — 35x map-side row amplification into a map-combined
    // distinct, instead of re-scanning the corpus once per window
    // (the HLL-merge variant trades exactness for an 8-byte-per-day
    // state; q77 carries that algebra). The day spine is dense
    // (generated d0..d1), so inactive days report zeros, not gaps.
    QueryDef("q257_active_users", (s, d) => {
      val dayUs = 86400000000L
      val ud = t(s, d, "events")
        .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
        .distinct()
      val bounds = ud.agg(min("day").as("d0"), max("day").as("d1"))
      val spine = bounds
        .select(explode(expr("sequence(d0, d1)")).as("day_idx"))
      def windowed(w: Int, out: String) = ud.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(expr(s"sequence(day, least(day + ${w - 1}, d1))"))
            .as("day_idx"))
        .groupBy("day_idx")
        .agg(countDistinct(col("user_id")).as(out))
      val dau = ud.groupBy(col("day").as("day_idx"))
        .agg(countDistinct(col("user_id")).as("dau"))
      spine
        .join(dau, Seq("day_idx"), "left")
        .join(windowed(7, "wau"), Seq("day_idx"), "left")
        .join(windowed(28, "mau"), Seq("day_idx"), "left")
        .select(col("day_idx"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("wau"), lit(0L)).as("wau"),
          coalesce(col("mau"), lit(0L)).as("mau"))
        .withColumn("dau_wau", when(col("wau") > 0,
          col("dau").cast("double") / col("wau").cast("double")))
        .withColumn("dau_mau", when(col("mau") > 0,
          col("dau").cast("double") / col("mau").cast("double")))
        .reportSorted("day_idx")
    },
      Some("""WITH ud AS MATERIALIZED (
             |  SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events),
             |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
             |spine AS (
             |  SELECT unnest(range(d0, d1 + 1)) AS day_idx FROM b),
             |dau AS (
             |  SELECT day AS day_idx, CAST(count(DISTINCT user_id) AS BIGINT)
             |    AS dau
             |  FROM ud GROUP BY 1),
             |wau AS (
             |  SELECT day_idx, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
             |  FROM (SELECT user_id, unnest(range(day,
             |          least(day + 7, (SELECT d1 + 1 FROM b)))) AS day_idx
             |        FROM ud)
             |  GROUP BY 1),
             |mau AS (
             |  SELECT day_idx, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
             |  FROM (SELECT user_id, unnest(range(day,
             |          least(day + 28, (SELECT d1 + 1 FROM b)))) AS day_idx
             |        FROM ud)
             |  GROUP BY 1)
             |SELECT spine.day_idx,
             |  coalesce(dau, 0) AS dau, coalesce(wau, 0) AS wau,
             |  coalesce(mau, 0) AS mau,
             |  CASE WHEN coalesce(wau, 0) > 0 THEN
             |    CAST(coalesce(dau, 0) AS DOUBLE) / CAST(wau AS DOUBLE) END
             |    AS dau_wau,
             |  CASE WHEN coalesce(mau, 0) > 0 THEN
             |    CAST(coalesce(dau, 0) AS DOUBLE) / CAST(mau AS DOUBLE) END
             |    AS dau_mau
             |FROM spine
             |LEFT JOIN dau ON spine.day_idx = dau.day_idx
             |LEFT JOIN wau ON spine.day_idx = wau.day_idx
             |LEFT JOIN mau ON spine.day_idx = mau.day_idx
             |ORDER BY spine.day_idx""".stripMargin)),

    // ---- A/B sample-size and duration advisor ----------------------------
    // The question asked BEFORE q220/q250 ever run: how many users per
    // arm does detecting an absolute lift of `mde` over baseline `p`
    // take, and how long is that at this product's observed traffic?
    // Classical two-proportion formula n = (z_a + z_b)^2 *
    // (p1(1-p1) + p2(1-p2)) / mde^2 over a (baseline x MDE x power)
    // grid — z constants as shared literals (1.96 matches q220/q250's
    // critical value; 0.8416/1.2816 are the 80%/90% power quantiles),
    // every step +,*,/,ceil on identically-parsed doubles. Duration
    // grounds the grid in the corpus: days = ceil(2n / avg daily
    // distinct actives), the one measured input (exact int ratio).
    QueryDef("q258_power_analysis", (s, d) => {
      val dayUs = 86400000000L
      val ud = t(s, d, "events")
        .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
        .distinct()
      val traffic = ud.agg((count(lit(1)).cast("double") /
        countDistinct(col("day")).cast("double")).as("avg_dau"))
      val grid = s.range(1)
        .select(explode(array(Seq(0.02, 0.05, 0.10, 0.20, 0.50)
          .map(lit): _*)).as("p_base"))
        .withColumn("mde", explode(array(Seq(0.005, 0.01, 0.02, 0.05)
          .map(lit): _*)))
        .withColumn("power_pct", explode(array(lit(80), lit(90))))
      grid.crossJoin(broadcast(traffic))
        .withColumn("zb", when(col("power_pct") === 80, lit(0.8416))
          .otherwise(lit(1.2816)))
        .withColumn("p2", col("p_base") + col("mde"))
        .withColumn("n_per_arm", expr(
          "CAST(ceil((1.96d + zb) * (1.96d + zb) * " +
            "(p_base * (1.0d - p_base) + p2 * (1.0d - p2)) " +
            "/ (mde * mde)) AS BIGINT)"))
        .withColumn("days_needed", expr(
          "CAST(ceil(2.0d * CAST(n_per_arm AS DOUBLE) / avg_dau) AS BIGINT)"))
        .select(col("p_base"), col("mde"), col("power_pct"),
          col("n_per_arm"), col("avg_dau"), col("days_needed"))
        .reportSorted("p_base", "mde", "power_pct")
    },
      Some("""WITH ud AS MATERIALIZED (
             |  SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
             |  FROM events),
             |tr AS (
             |  SELECT CAST(count(*) AS DOUBLE)
             |    / CAST(count(DISTINCT day) AS DOUBLE) AS avg_dau FROM ud),
             |g AS (
             |  SELECT p_base, mde, power_pct,
             |    CASE WHEN power_pct = 80 THEN 8416e-4 ELSE 12816e-4 END AS zb,
             |    p_base + mde AS p2
             |  FROM (SELECT unnest([2e-2, 5e-2, 1e-1, 2e-1, 5e-1]) AS p_base)
             |  CROSS JOIN (SELECT unnest([5e-3, 1e-2, 2e-2, 5e-2]) AS mde)
             |  CROSS JOIN (SELECT CAST(unnest([80, 90]) AS INTEGER)
             |              AS power_pct)),
             |n AS (
             |  SELECT p_base, mde, power_pct,
             |    CAST(ceil((196e-2 + zb) * (196e-2 + zb)
             |      * (p_base * (1e0 - p_base) + p2 * (1e0 - p2))
             |      / (mde * mde)) AS BIGINT) AS n_per_arm
             |  FROM g)
             |SELECT p_base, mde, power_pct, n_per_arm, avg_dau,
             |  CAST(ceil(2e0 * CAST(n_per_arm AS DOUBLE) / avg_dau)
             |    AS BIGINT) AS days_needed
             |FROM n CROSS JOIN tr
             |ORDER BY p_base, mde, power_pct""".stripMargin)),

    // ---- Group-sequential A/B test (O'Brien-Fleming boundaries) ----------
    // q220 tests once at a fixed horizon; real experiments PEEK — and
    // naive repeated z-tests inflate false positives badly. The group-
    // sequential answer: test at K scheduled looks against inflated
    // early boundaries b_k = c*sqrt(K/k) (the O'Brien-Fleming shape:
    // nearly impossible to stop at look 1, the nominal level at the
    // final look), stop at the first crossing. Metric and z-formula are
    // exactly q220's (click->purchase conversion, pooled two-proportion
    // z) evaluated on the users whose first click happened by each look
    // day. Degenerate looks (an empty arm, pooled rate 0 or 1) emit a
    // NULL z and never cross — the honest early-experiment state, and
    // NaN-free for the oracle hash. Scale shape: one per-user rollup,
    // a 6-look explode on the USER table (map-combined counts), and a
    // one-row broadcast for the stop summary.
    QueryDef("q250_sequential_test", (s, d) => {
      val dayUs = 86400000000L
      val K = 6
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val u = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "click", col("us"))).as("fc"),
          min(when(col("event_type") === "purchase", col("us"))).as("fp"))
        .filter(col("fc").isNotNull)
        .select((col("user_id") % 2).as("arm"),
          expr(s"fc div $dayUs").as("fc_day"),
          when(col("fp").isNotNull && col("fp") >= col("fc"),
            expr(s"fp div $dayUs")).as("conv_day"))
      val d0 = ev.agg(min(expr(s"us div $dayUs")).as("d0"))
      val looks = u.crossJoin(broadcast(d0))
        .withColumn("k", explode(array((1 to K).map(i => lit(i)): _*)))
        .withColumn("look_day", col("d0") + col("k") * 4)
        .filter(col("fc_day") <= col("look_day"))
        .groupBy("k", "look_day")
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0 &&
            col("conv_day") <= col("look_day"), 1L).otherwise(0L)).as("c0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1 &&
            col("conv_day") <= col("look_day"), 1L).otherwise(0L)).as("c1"))
        .filter(col("n0") > 0 && col("n1") > 0)
      val p0 = col("c0").cast("double") / col("n0").cast("double")
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val pPool = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val zRaw = (p0 - p1) / sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n0").cast("double") +
          lit(1.0) / col("n1").cast("double")))
      val scored = looks
        .withColumn("z", when(col("c0") + col("c1") === 0L ||
          col("c0") + col("c1") === col("n0") + col("n1"), lit(null))
          .otherwise(zRaw))
        .withColumn("boundary", lit(2.05) *
          sqrt(lit(K.toDouble) / col("k").cast("double")))
        .withColumn("crossed", coalesce(abs(col("z")) > col("boundary"),
          lit(false)))
      val stop = scored.agg(min(when(col("crossed"), col("k"))).as("stopped_at"))
      scored.crossJoin(broadcast(stop))
        .select(col("k"), col("look_day"), col("n0"), col("c0"), col("n1"),
          col("c1"), col("z"), col("boundary"), col("crossed"),
          col("stopped_at"))
        .reportSorted("k")
    },
      Some(s"""WITH ev AS MATERIALIZED (
             |  SELECT user_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |u AS MATERIALIZED (
             |  SELECT user_id % 2 AS arm, fc // 86400000000 AS fc_day,
             |    CASE WHEN fp IS NOT NULL AND fp >= fc
             |      THEN fp // 86400000000 END AS conv_day
             |  FROM (
             |    SELECT user_id,
             |      min(CASE WHEN event_type = 'click' THEN us END) AS fc,
             |      min(CASE WHEN event_type = 'purchase' THEN us END) AS fp
             |    FROM ev GROUP BY user_id)
             |  WHERE fc IS NOT NULL),
             |d0 AS (SELECT min(us // 86400000000) AS d0 FROM ev),
             |lk AS (
             |  SELECT k, d0 + k * 4 AS look_day,
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             |    CAST(sum(CASE WHEN arm = 0 AND conv_day <= d0 + k * 4
             |      THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN arm = 1 AND conv_day <= d0 + k * 4
             |      THEN 1 ELSE 0 END) AS BIGINT) AS c1
             |  FROM u CROSS JOIN d0
             |  CROSS JOIN (SELECT CAST(unnest(range(1, 7)) AS INTEGER) AS k)
             |  WHERE fc_day <= d0 + k * 4
             |  GROUP BY 1, 2
             |  HAVING sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
             |     AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0),
             |sc AS (
             |  SELECT k, look_day, n0, c0, n1, c1,
             |    CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL
             |      ELSE (CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
             |        - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |      / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             |        * (1e0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
             |        * (1e0 / CAST(n0 AS DOUBLE) + 1e0 / CAST(n1 AS DOUBLE)))
             |    END AS z,
             |    205e-2 * sqrt(6e0 / CAST(k AS DOUBLE)) AS boundary
             |  FROM lk),
             |cr AS (
             |  SELECT sc.*, coalesce(abs(z) > boundary, false) AS crossed
             |  FROM sc),
             |st AS (
             |  SELECT min(CASE WHEN crossed THEN k END) AS stopped_at FROM cr)
             |SELECT k, look_day, n0, c0, n1, c1, z, boundary, crossed,
             |  CAST(stopped_at AS INTEGER) AS stopped_at
             |FROM cr CROSS JOIN st ORDER BY k""".stripMargin)),

    // ---- Split-conformal prediction intervals on the Holt forecast -------
    // q245 emits point forecasts; an on-call engineer needs to know how
    // wrong they typically are. Split conformal gives distribution-free
    // intervals: the one-step-ahead absolute residuals |y_{i+1} -
    // (l_i + b_i)| collected DURING the training fold are the
    // calibration scores, and the 90% interval is f_h +- q with q the
    // ceil(0.9(m+1))-th smallest residual — finite-sample valid with no
    // noise model. The fold accumulator carries (l, b, residual array)
    // so calibration costs nothing extra; the oracle's recursive CTE
    // emits one residual per step (q245's mirror, one more column).
    // Coverage of the 3 held-out days rides along as the honesty check.
    QueryDef("q247_conformal_forecast", (s, d) => {
      val series = dailyCounts(t(s, d, "events"))
        .groupBy("event_type")
        .agg(expr("transform(array_sort(collect_list(struct(d_idx, x))), " +
          "p -> CAST(p.x AS DOUBLE))").as("ys"))
        .filter(size(col("ys")) >= 8)
        .withColumn("n", size(col("ys")))
        .withColumn("train", expr("slice(ys, 1, n - 3)"))
      val fitted = series.withColumn("state", expr(
        "aggregate(slice(train, 2, n - 4), " +
          "named_struct('l', train[0], 'b', 0.0d, " +
          "'res', CAST(array() AS ARRAY<DOUBLE>)), " +
          "(acc, y) -> named_struct(" +
          "'l', 0.5d * y + 0.5d * (acc.l + acc.b), " +
          "'b', 0.3d * ((0.5d * y + 0.5d * (acc.l + acc.b)) - acc.l) " +
          "+ 0.7d * acc.b, " +
          "'res', array_append(acc.res, abs(y - (acc.l + acc.b)))))"))
        .withColumn("m", expr("size(state.res)"))
        .withColumn("k", expr(
          "least(m, CAST(ceil(0.9d * CAST(m + 1 AS DOUBLE)) AS INT))"))
        .withColumn("conf_q", expr("element_at(array_sort(state.res), k)"))
      fitted
        .withColumn("h", explode(array(lit(1), lit(2), lit(3))))
        .withColumn("fh", expr("state.l + CAST(h AS DOUBLE) * state.b"))
        .withColumn("actual", expr("element_at(ys, n - 3 + h)"))
        .select(col("event_type"), col("h"), col("m"), col("conf_q"),
          col("fh").as("forecast"),
          (col("fh") - col("conf_q")).as("lo"),
          (col("fh") + col("conf_q")).as("hi"), col("actual"))
        .withColumn("covered",
          col("actual") >= col("lo") && col("actual") <= col("hi"))
        .reportSorted("event_type", "h")
    },
      Some(s"""WITH RECURSIVE $sqlDaily,
             |series AS MATERIALIZED (
             |  SELECT event_type,
             |    list_transform(list_sort(list({'d': d_idx, 'x': x})),
             |      p -> CAST(p.x AS DOUBLE)) AS ys
             |  FROM daily GROUP BY 1),
             |f AS MATERIALIZED (
             |  SELECT event_type, ys, len(ys) AS n, ys[1:len(ys)-3] AS train
             |  FROM series WHERE len(ys) >= 8),
             |rec AS (
             |  SELECT event_type, 1 AS i, train[1] AS l, 0e0 AS b,
             |    CAST(NULL AS DOUBLE) AS res, train, n, ys
             |  FROM f
             |  UNION ALL
             |  SELECT event_type, i + 1,
             |    5e-1 * train[i + 1] + 5e-1 * (l + b),
             |    3e-1 * ((5e-1 * train[i + 1] + 5e-1 * (l + b)) - l)
             |      + 7e-1 * b,
             |    abs(train[i + 1] - (l + b)),
             |    train, n, ys
             |  FROM rec WHERE i < n - 3),
             |cal AS (
             |  SELECT event_type, list_sort(list(res)) AS sres,
             |    CAST(count(res) AS INTEGER) AS m
             |  FROM rec WHERE res IS NOT NULL GROUP BY 1),
             |qv AS (
             |  SELECT event_type, m,
             |    sres[least(m, CAST(ceil(9e-1 * CAST(m + 1 AS DOUBLE))
             |      AS INTEGER))] AS conf_q
             |  FROM cal),
             |fin AS (
             |  SELECT event_type, l, b, n, ys FROM rec WHERE i = n - 3),
             |o AS (
             |  SELECT fin.event_type, CAST(g.h AS INTEGER) AS h, m, conf_q,
             |    l + CAST(g.h AS DOUBLE) * b AS forecast,
             |    ys[n - 3 + g.h] AS actual
             |  FROM fin JOIN qv ON fin.event_type = qv.event_type
             |  CROSS JOIN (SELECT unnest(range(1, 4)) AS h) g)
             |SELECT event_type, h, m, conf_q, forecast,
             |  forecast - conf_q AS lo, forecast + conf_q AS hi, actual,
             |  actual >= forecast - conf_q AND actual <= forecast + conf_q
             |    AS covered
             |FROM o ORDER BY event_type, h""".stripMargin)),

    // ---- Session timeout sensitivity sweep -------------------------------
    // The parameter behind q31's sessionization is a guess (30 min);
    // this query prices the guess: for timeouts 15/30/60 min, how many
    // sessions exist and how much splitting each threshold causes — in
    // ONE pass over the per-user gap table (the q280 sweep rule: each
    // timeout is just another conditional sum over the same lag gaps,
    // reshaped to rows off a single 1-row aggregate). n_sessions(T) =
    // users + gaps exceeding T; no session assembly, no per-T rescan.
    QueryDef("q291_session_timeout_sweep", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, d, "events").filter(col("ts").isNotNull)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap", col("us") - lag("us", 1).over(w))
        .select(col("user_id"), col("gap"))
      val timeouts = Seq(900L, 1800L, 3600L)
      val aggCols = Seq(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")) ++ timeouts.map(t =>
        sum(when(col("gap") > t * 1000000L, 1L).otherwise(0L)).as(s"brk_$t"))
      val g = gaps.agg(aggCols.head, aggCols.tail: _*).materialize
      timeouts.map { t =>
        g.select(lit(t).as("timeout_s"), col("n_users"), col("n_events"),
          (col("n_users") + col(s"brk_$t")).as("n_sessions"),
          (col("n_events").cast("double") /
            (col("n_users") + col(s"brk_$t")).cast("double"))
            .as("avg_events_per_session"),
          (col(s"brk_$t").cast("double") /
            (col("n_events") - col("n_users")).cast("double"))
            .as("frac_gaps_broken"))
      }.reduce(_.union(_)).orderBy("timeout_s")
    },
      Some {
        val brks = Seq(900L, 1800L, 3600L).map(t =>
          s"""CAST(sum(CASE WHEN gap > ${t * 1000000L} THEN 1 ELSE 0 END)
             |      AS BIGINT) AS brk_$t""".stripMargin).mkString(",\n    ")
        val cells = Seq(900L, 1800L, 3600L).map(t =>
          s"""SELECT CAST($t AS BIGINT) AS timeout_s, n_users, n_events,
             |  n_users + brk_$t AS n_sessions,
             |  CAST(n_events AS DOUBLE) / CAST(n_users + brk_$t AS DOUBLE)
             |    AS avg_events_per_session,
             |  CAST(brk_$t AS DOUBLE) / CAST(n_events - n_users AS DOUBLE)
             |    AS frac_gaps_broken
             |FROM g""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH e AS MATERIALIZED (
           |  SELECT user_id,
           |    epoch_us(CAST(ts AS TIMESTAMP))
           |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
           |        (PARTITION BY user_id
           |         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
           |  FROM events WHERE ts IS NOT NULL),
           |g AS MATERIALIZED (
           |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           |    CAST(count(*) AS BIGINT) AS n_events,
           |    $brks
           |  FROM e)
           |SELECT * FROM (
           |$cells)
           |ORDER BY timeout_s""".stripMargin
      }),

    // ---- Day-over-day top-k churn ----------------------------------------
    // The leaderboard-stability monitor: per day the top-20 items by
    // event count (ties -> smaller item id), then for each consecutive
    // day pair the set overlap, Jaccard, and entrant count. A stable
    // catalog churns a little; a feed bug or bot flood swaps the whole
    // head in one day — this is the cheap alarm for it. Shapes: the
    // rank window runs over the per-(day, item) COUNT table (bounded by
    // the day's distinct items, never raw events); the overlap is a
    // (day, item)-keyed self-equi-join of two <= 20-row-per-day sets;
    // day pairing is an equi-join on day+1. Everything downstream of
    // the first grouped count is catalog-sized.
    QueryDef("q279_topk_churn", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
        .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("day"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .filter(col("item").isNotNull)
      val top = ev.groupBy("day", "item").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("day").orderBy(col("c").desc, col("item"))))
        .filter(col("rn") <= 20)
        .materialize // read three times: sizes and both join sides
      val sz = top.groupBy("day").agg(count(lit(1)).as("nk"))
      val ov = top.select(col("day").as("day_a"), col("item"))
        .join(top.select((col("day") - 1).as("day_a"), col("item")),
          Seq("day_a", "item"))
        .groupBy("day_a").agg(count(lit(1)).as("overlap"))
      sz.select(col("day").as("day_a"), col("nk").as("n_a"))
        .join(sz.select((col("day") - 1).as("day_a"), col("nk").as("n_b")),
          "day_a")
        .join(ov, Seq("day_a"), "left")
        .select(col("day_a"), (col("day_a") + 1).as("day_b"),
          col("n_a"), col("n_b"),
          coalesce(col("overlap"), lit(0L)).as("overlap"),
          (coalesce(col("overlap"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("overlap"), lit(0L)))
              .cast("double")).as("jaccard"),
          (col("n_b") - coalesce(col("overlap"), lit(0L))).as("new_items"))
        .reportSorted("day_a")
    },
      Some("""WITH e AS MATERIALIZED (
             |  SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
             |      // 86400000000 AS day,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)
             |      AS item
             |  FROM events
             |  WHERE ts IS NOT NULL
             |    AND regexp_extract(props, '"k":\s*(\d+)', 1) != ''),
             |top AS MATERIALIZED (
             |  SELECT day, item FROM (
             |    SELECT day, item, row_number() OVER (PARTITION BY day
             |      ORDER BY count(*) DESC, item ASC) AS rn
             |    FROM e GROUP BY day, item)
             |  WHERE rn <= 20),
             |sz AS MATERIALIZED (
             |  SELECT day, CAST(count(*) AS BIGINT) AS nk FROM top
             |  GROUP BY day),
             |ov AS MATERIALIZED (
             |  SELECT a.day AS day_a, CAST(count(*) AS BIGINT) AS overlap
             |  FROM top a JOIN top b ON a.item = b.item AND b.day = a.day + 1
             |  GROUP BY 1)
             |SELECT sa.day AS day_a, sa.day + 1 AS day_b,
             |  sa.nk AS n_a, sb.nk AS n_b,
             |  coalesce(ov.overlap, 0) AS overlap,
             |  CAST(coalesce(ov.overlap, 0) AS DOUBLE)
             |    / CAST(sa.nk + sb.nk - coalesce(ov.overlap, 0) AS DOUBLE)
             |    AS jaccard,
             |  sb.nk - coalesce(ov.overlap, 0) AS new_items
             |FROM sz sa JOIN sz sb ON sb.day = sa.day + 1
             |LEFT JOIN ov ON ov.day_a = sa.day
             |ORDER BY day_a""".stripMargin)),

    // ---- Markov transition matrix + stationary distribution --------------
    // The behavioral-model summary of the event stream: per-user
    // consecutive event-type transitions build the empirical Markov
    // matrix, and the long-run state occupancy is the stationary
    // distribution of the 0.85-damped chain — computed by 7 unrolled
    // power iterations in FIXED-POINT int64 (q161's PPR arithmetic on
    // the TYPE graph instead of the kNN graph: R = 1e9 mass units,
    // per-edge flow = (mass * 85 * c) div (100 * rowtot), floor
    // division, every intermediate exact — overflow-safe to ~1e9
    // transitions per matrix cell). The output compares pi against the
    // EMPIRICAL in-share per state (for a long irreducible chain the
    // two converge; teleportation and finite length keep them
    // deliberately distinct here) and carries |p7 - p6| as the
    // convergence attestation. Scale shape: ONE corpus pass (the
    // user-partitioned lag window) builds the states^2-bounded matrix;
    // every iteration is a join over that tiny broadcastable table —
    // the 1-row/states-row crosses are the allowlisted q76 class.
    QueryDef("q297_markov_stationary", (s, d) => {
      val R = 1000000000L
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val e = t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_type").as("cur"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
      val tr = e.groupBy("prev", "cur").agg(count(lit(1)).as("c"))
      val rt = tr.groupBy("prev").agg(sum("c").as("tot"))
      val trans = tr.join(rt, "prev").materialize // states^2 rows
      val st = trans.select(col("prev").as("state"))
        .union(trans.select(col("cur"))).distinct()
      val nS = st.agg(count(lit(1)).as("n"))
      val base = st.crossJoin(broadcast(nS))
        .select(col("state"), expr(s"${R}L div n").as("m0"),
          expr(s"(${R}L * 15) div (100 * n)").as("tele"))
        .materialize // states rows; anchors every iteration
      // renamed copy for the iteration joins: p derives from trans (via
      // st/base), so joining p back against trans's own column names
      // trips the ambiguous-self-join check
      val tre = trans.select(col("prev").as("t_prev"),
        col("cur").as("t_cur"), col("c"), col("tot"))
      // every iteration/report join below is over states- or states^2-
      // bounded frames (the matrix over event types): BROADCAST is the
      // honest arm at any corpus size, and the explicit hints pin what
      // AQE left free — the r14 ShuffleVerdict gate caught one of these
      // flipping broadcast <-> sort-merge across fresh JVMs
      var p = base.select(col("state"), col("m0").as("val"))
      var prev = p
      for (_ <- 1 to 7) {
        prev = p
        val flows = p.join(broadcast(tre), col("state") === col("t_prev"))
          .groupBy(col("t_cur").as("state"))
          .agg(sum(expr("(val * 85 * c) div (100 * tot)")).as("fv"))
        p = base.join(broadcast(flows), Seq("state"), "left")
          .select(col("state"),
            (coalesce(col("fv"), lit(0L)) + col("tele")).as("val"))
      }
      val emp = trans.groupBy(col("cur").as("state"))
        .agg(sum("c").as("n_in"))
      val tt = trans.agg(sum("c").as("t_total"))
      base.select("state")
        .join(broadcast(emp), Seq("state"), "left")
        .join(broadcast(p.select(col("state"), col("val").as("pi_scaled"))), "state")
        .join(broadcast(prev.select(col("state"), col("val").as("pv"))), "state")
        .crossJoin(broadcast(tt))
        .select(col("state"), coalesce(col("n_in"), lit(0L)).as("n_in"),
          (coalesce(col("n_in"), lit(0L)).cast("double") /
            col("t_total").cast("double")).as("emp_share"),
          col("pi_scaled"),
          (col("pi_scaled").cast("double") / lit(1.0e9)).as("pi"),
          abs(col("pi_scaled") - col("pv")).as("delta_scaled"))
        .reportSorted("state")
    },
      Some {
        def iter(prevT: String, f: String, next: String) =
          s"""$f AS MATERIALIZED (
             |  SELECT t.cur AS state,
             |    CAST(sum((p.val * 85 * t.c) // (100 * t.tot)) AS BIGINT)
             |      AS fv
             |  FROM $prevT p JOIN trans t ON p.state = t.prev
             |  GROUP BY 1),
             |$next AS MATERIALIZED (
             |  SELECT b.state, coalesce(f.fv, 0) + b.tele AS val
             |  FROM base b LEFT JOIN $f f USING (state))""".stripMargin
        s"""WITH e AS MATERIALIZED (
           |  SELECT user_id, event_type AS cur,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
           |  FROM events WHERE ts IS NOT NULL),
           |tr AS MATERIALIZED (
           |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
           |  FROM e WHERE prev IS NOT NULL GROUP BY 1, 2),
           |rt AS (SELECT prev, CAST(sum(c) AS BIGINT) AS tot
           |       FROM tr GROUP BY 1),
           |trans AS MATERIALIZED (
           |  SELECT tr.prev, tr.cur, tr.c, rt.tot FROM tr JOIN rt USING (prev)),
           |st AS (SELECT prev AS state FROM trans
           |       UNION SELECT cur FROM trans),
           |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM st),
           |base AS MATERIALIZED (
           |  SELECT state, CAST(1000000000 AS BIGINT) // n AS m0,
           |    (CAST(1000000000 AS BIGINT) * 15) // (100 * n) AS tele
           |  FROM st CROSS JOIN ns),
           |p0 AS (SELECT state, m0 AS val FROM base),
           |${iter("p0", "f1", "p1")},
           |${iter("p1", "f2", "p2")},
           |${iter("p2", "f3", "p3")},
           |${iter("p3", "f4", "p4")},
           |${iter("p4", "f5", "p5")},
           |${iter("p5", "f6", "p6")},
           |${iter("p6", "f7", "p7")},
           |emp AS (SELECT cur AS state, CAST(sum(c) AS BIGINT) AS n_in
           |        FROM trans GROUP BY 1),
           |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t_total FROM trans)
           |SELECT b.state, coalesce(e.n_in, 0) AS n_in,
           |  CAST(coalesce(e.n_in, 0) AS DOUBLE) / CAST(t_total AS DOUBLE)
           |    AS emp_share,
           |  p7.val AS pi_scaled,
           |  CAST(p7.val AS DOUBLE) / 1e9 AS pi,
           |  abs(p7.val - p6.val) AS delta_scaled
           |FROM base b
           |LEFT JOIN emp e USING (state)
           |JOIN p7 USING (state) JOIN p6 USING (state)
           |CROSS JOIN tt
           |ORDER BY b.state""".stripMargin
      }),

    // ---- CUPED variance reduction for the A/B readout ---------------------
    // Deng et al. (WSDM'13): adjust each user's experiment-period
    // metric Y by their PRE-period covariate X — Y' = Y - theta(X - Xbar)
    // with theta = cov(X,Y)/var(X) — and the arm comparison's variance
    // drops by corr(X,Y)^2 (for per-user event counts, typically the
    // single biggest sensitivity win an experimentation pipeline has).
    // Day split: first half of the observed day range is the
    // pre-period; arms are the rerun-invariant Lehmer split (q56).
    // Everything derives from int64 moment sums combined in scalar
    // double arithmetic (the q222 rule): per-user counts -> pooled
    // theta -> per-arm adjusted means — NO per-row double aggregation
    // anywhere, so the oracle hash-matches bit for bit and the plan
    // has no ordering-sensitive float reduction at any scale. The
    // 1-row day-range/moment crosses are the allowlisted q76 class.
    QueryDef("q299_cuped", (s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val dr = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(expr("(d0 + d1 + 1) div 2").as("dmid"))
      val ux = ev.crossJoin(broadcast(dr))
        .groupBy("user_id")
        .agg(sum(when(col("day") < col("dmid"), 1L).otherwise(0L)).as("x"),
          sum(when(col("day") >= col("dmid"), 1L).otherwise(0L)).as("y"))
        .withColumn("arm", Sampling.lehmer(col("user_id")) % 2)
      val pooled = ux.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val arms = ux.groupBy("arm").agg(count(lit(1)).as("n_users"),
        sum("x").as("ax"), sum("y").as("ay"))
      def dd(c: String) = col(c).cast("double")
      val varX = dd("n") * dd("sxx") - dd("sx") * dd("sx")
      val covXY = dd("n") * dd("sxy") - dd("sx") * dd("sy")
      val varY = dd("n") * dd("syy") - dd("sy") * dd("sy")
      arms.crossJoin(broadcast(pooled))
        .withColumn("theta", covXY / varX)
        .withColumn("xbar", dd("sx") / dd("n"))
        .select(col("arm"), col("n_users"),
          (dd("ax") / dd("n_users")).as("mean_pre"),
          (dd("ay") / dd("n_users")).as("mean_post"),
          (dd("ay") / dd("n_users")
            - col("theta") * (dd("ax") / dd("n_users") - col("xbar")))
            .as("mean_adjusted"),
          col("theta"),
          ((covXY / varX) * (covXY / varY)).as("var_reduction"))
        .reportSorted("arm")
    },
      Some {
        val varX = "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
        val covXY = "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        val varY = "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
        s"""WITH ev AS MATERIALIZED (
           |  SELECT user_id,
           |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
           |  FROM events WHERE ts IS NOT NULL),
           |dr AS (SELECT (min(day) + max(day) + 1) // 2 AS dmid FROM ev),
           |ux AS MATERIALIZED (
           |  SELECT user_id,
           |    CAST(sum(CASE WHEN day < dmid THEN 1 ELSE 0 END) AS BIGINT)
           |      AS x,
           |    CAST(sum(CASE WHEN day >= dmid THEN 1 ELSE 0 END) AS BIGINT)
           |      AS y,
           |    ${Sampling.sqlLehmerOf("user_id")} % 2 AS arm
           |  FROM ev CROSS JOIN dr GROUP BY user_id),
           |pooled AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM ux),
           |arms AS (
           |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           |    CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
           |  FROM ux GROUP BY arm)
           |SELECT arm, n_users,
           |  CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_pre,
           |  CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_post,
           |  CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE)
           |    - (($covXY) / ($varX))
           |      * (CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE)
           |         - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           |    AS mean_adjusted,
           |  ($covXY) / ($varX) AS theta,
           |  (($covXY) / ($varX)) * (($covXY) / ($varY)) AS var_reduction
           |FROM arms CROSS JOIN pooled
           |ORDER BY arm""".stripMargin
      }),

    // ---- Mann-Whitney U test (tie-corrected, distributed) ----------------
    // The nonparametric two-sample test the stats family still lacked
    // (q287 compares counts, q290 compares CDFs; this tests LOCATION
    // without a normality assumption): does the purchase-event value
    // distribution stochastically dominate the click distribution?
    // Ranks over the POOLED value distribution use q294's machinery —
    // twice-average-ranks from a chunked cumulative over the
    // distinct-value table, never a corpus-wide window. The tie
    // correction needs only sum(c^3 - c) over tie-group sizes (a
    // distribution-table aggregate). Exact int64 carriers: 2*ranksum,
    // 2U = 2R - n_a(n_a+1); z and AUC combine the scalars in double
    // (sqrt is bit-stable). Overflow: sum(t) <= n*2n and
    // sum(c^3) <= n^3 — exact past 1e6 rows, same envelope as q294.
    QueryDef("q300_mann_whitney", (s, d) => {
      val base = t(s, d, "events")
        .filter(col("event_type").isin("purchase", "click") &&
          col("value").isNotNull)
        .select(col("event_type").as("grp"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v"))
      val dist = base.groupBy("v").agg(count(lit(1)).as("cnt"))
        .withColumn("chunk", expr("v div 16384"))
      val wLoc = Window.partitionBy("chunk").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = Sampling.chunkOffsets(
        dist.groupBy("chunk").agg(sum("cnt").as("tot")), "chunk", "tot")
      val ranks = dist.withColumn("lc", sum("cnt").over(wLoc))
        .join(broadcast(offs), Seq("chunk"))
        .select(col("v"),
          (lit(2) * (col("lc") + col("off")) - col("cnt") + lit(1)).as("t2"),
          col("cnt"))
      val ties = ranks
        .agg(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
          .as("tie3"))
      val g = base.join(ranks.select("v", "t2"), "v")
        .groupBy("grp").agg(count(lit(1)).as("n"), sum("t2").as("st2"))
      val a = g.filter(col("grp") === "purchase")
        .select(col("n").as("n_a"), col("st2").as("st2_a"))
      val b = g.filter(col("grp") === "click")
        .select(col("n").as("n_b"), col("st2").as("st2_b"))
      def dd(c: org.apache.spark.sql.Column) = c.cast("double")
      a.crossJoin(broadcast(b)).crossJoin(broadcast(ties))
        .withColumn("u2_a", col("st2_a") - col("n_a") * (col("n_a") + 1))
        .withColumn("u2_b", col("st2_b") - col("n_b") * (col("n_b") + 1))
        .withColumn("nn", col("n_a") + col("n_b"))
        .withColumn("var_u",
          dd(col("n_a")) * dd(col("n_b")) / 12.0
            * (dd(col("nn")) + 1.0
              - dd(col("tie3")) / (dd(col("nn")) * (dd(col("nn")) - 1.0))))
        .select(col("n_a"), col("n_b"), col("u2_a"), col("u2_b"),
          (dd(col("u2_a")) / 2.0 / (dd(col("n_a")) * dd(col("n_b"))))
            .as("auc"),
          ((dd(col("u2_a")) / 2.0 - dd(col("n_a")) * dd(col("n_b")) / 2.0)
            / sqrt(col("var_u"))).as("z"))
    },
      Some(s"""WITH base AS MATERIALIZED (
             |  SELECT event_type AS grp,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |  FROM events WHERE event_type IN ('purchase', 'click')
             |    AND value IS NOT NULL),
             |dist AS MATERIALIZED (
             |  SELECT v, CAST(count(*) AS BIGINT) AS cnt
             |  FROM base GROUP BY v),
             |ranks AS MATERIALIZED (
             |  SELECT v, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS t2,
             |    cnt
             |  FROM dist),
             |ties AS (
             |  SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
             |  FROM ranks),
             |g AS (
             |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(t2) AS BIGINT) AS st2
             |  FROM base JOIN ranks USING (v) GROUP BY grp),
             |ab AS (
             |  SELECT
             |    (SELECT n FROM g WHERE grp = 'purchase') AS n_a,
             |    (SELECT st2 FROM g WHERE grp = 'purchase') AS st2_a,
             |    (SELECT n FROM g WHERE grp = 'click') AS n_b,
             |    (SELECT st2 FROM g WHERE grp = 'click') AS st2_b),
             |uu AS (
             |  SELECT n_a, n_b,
             |    st2_a - n_a * (n_a + 1) AS u2_a,
             |    st2_b - n_b * (n_b + 1) AS u2_b,
             |    n_a + n_b AS nn, tie3
             |  FROM ab CROSS JOIN ties)
             |SELECT n_a, n_b, u2_a, u2_b,
             |  CAST(u2_a AS DOUBLE) / 2 / (CAST(n_a AS DOUBLE)
             |    * CAST(n_b AS DOUBLE)) AS auc,
             |  (CAST(u2_a AS DOUBLE) / 2
             |    - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
             |  / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
             |    * (CAST(nn AS DOUBLE) + 1.0
             |       - CAST(tie3 AS DOUBLE)
             |         / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))))
             |    AS z
             |FROM uu""".stripMargin)),

    // ---- Streaming SCD2 twin, driver-gated (r9 verdict ask) ---------------
    // [[graft.streaming.Streams.scd2Ingest]]'s batch/stream equality
    // lived only in StreamingSpec; this registers the SAME
    // flatMapGroupsWithState pipeline executed in batch mode (one
    // iterator per user, state starts empty — Spark's defined batch
    // semantics for stateful ops), so the driver's DuckDB gate
    // hash-verifies the stateful logic itself on every run. In batch
    // replay every interval but each user's open one CLOSES, which is
    // exactly q159's history minus its is_current rows — the oracle is
    // q159's CTE chain filtered to closed intervals. Scale shape: state
    // shards by user_id like any grouped aggregation; the per-user sort
    // inside the group function is bounded by that user's event count.
    QueryDef("q307_scd2_ingest_face", (s, d) =>
      graft.streaming.Streams.scd2Ingest(t(s, d, "events"))
        .toDF()
        .select("user_id", "version", "k", "valid_from_us", "valid_to_us")
        .orderBy("user_id", "version"),
      Some(s"""WITH $sqlScd2Ctes
             |SELECT user_id, version, k, valid_from_us, valid_to_us
             |FROM hist WHERE valid_to_us IS NOT NULL
             |ORDER BY user_id, version""".stripMargin)),

    // ---- Streaming CUSUM twin, driver-gated (r9 verdict ask) --------------
    // Same promotion for [[graft.streaming.Streams.cusumIngest]]: the
    // online detector's buffered-baseline recursion runs in batch mode
    // under the driver gate. Batch replay closes every day except each
    // metric's open last day, and the online baseline contract (mu0 =
    // mean of the first 7 CLOSED days, emitted only once the buffer
    // fills) means a metric with fewer than 8 days emits nothing — the
    // oracle states both rules on top of q179's integer-grid CUSUM
    // unrolling (prefix sum minus running min). All int64-exact.
    QueryDef("q308_cusum_ingest_face", (s, d) =>
      graft.streaming.Streams.cusumIngest(t(s, d, "events"))
        .toDF()
        .reportSorted("event_type", "day"),
      Some("""WITH daily AS MATERIALIZED (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS sy
             |  FROM events GROUP BY 1, 2),
             |dm AS MATERIALIZED (
             |  SELECT event_type, day, n, sy, sy * 1000 // n AS m,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day)
             |      AS rk,
             |    count(*) OVER (PARTITION BY event_type) AS n_days,
             |    max(day) OVER (PARTITION BY event_type) AS max_day
             |  FROM daily),
             |base AS MATERIALIZED (
             |  SELECT event_type,
             |    CAST(sum(sy) AS BIGINT) * 1000 // CAST(sum(n) AS BIGINT)
             |      AS mu0
             |  FROM dm WHERE rk <= 7 GROUP BY event_type),
             |dev AS MATERIALIZED (
             |  SELECT d.event_type, d.day, d.n, d.m, b.mu0, d.n_days, d.max_day,
             |    sum(d.m - b.mu0 - 5000) OVER w AS ppos,
             |    sum(b.mu0 - d.m - 5000) OVER w AS pneg
             |  FROM dm d JOIN base b USING (event_type)
             |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |cs AS MATERIALIZED (
             |  SELECT event_type, day, n, m, mu0, n_days, max_day,
             |    ppos - least(0, min(ppos) OVER w) AS cusum_pos,
             |    pneg - least(0, min(pneg) OVER w) AS cusum_neg
             |  FROM dev
             |  WINDOW w AS (PARTITION BY event_type ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT event_type, day, n, m, mu0,
             |  CAST(cusum_pos AS BIGINT) AS cusum_pos,
             |  CAST(cusum_neg AS BIGINT) AS cusum_neg,
             |  cusum_pos > 25000 OR cusum_neg > 25000 AS shift_flag
             |FROM cs
             |WHERE day < max_day AND n_days >= 8
             |ORDER BY event_type, day""".stripMargin)),

    // ---- Streaming Hampel twin, driver-gated ------------------------------
    // Completes the stateful-twin promotion (q307/q308's pattern) for
    // [[graft.streaming.Streams.hampelIngest]]: the 7-deep closed-day
    // ring judges each center day 3 closed days after it. Batch replay
    // closes every day but each type's open last one, so the judged
    // centers are q217's full-window rows MINUS those whose window
    // needs the open day — rank <= n_days - 4 instead of n_days - 3.
    // All-integer state and verdicts, so the oracle is q217's
    // sort-and-pick chain with that one extra rank bound.
    QueryDef("q309_hampel_ingest_face", (s, d) =>
      graft.streaming.Streams.hampelIngest(t(s, d, "events"))
        .toDF()
        .reportSorted("event_type", "d_idx"),
      Some(s"""WITH $sqlDaily,
             |win AS MATERIALIZED (
             |  SELECT event_type, d_idx, x, list(x) OVER w AS win,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY d_idx) AS rk,
             |    count(*) OVER (PARTITION BY event_type) AS nd
             |  FROM daily
             |  WINDOW w AS (PARTITION BY event_type ORDER BY d_idx
             |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |m AS (
             |  SELECT event_type, d_idx, x,
             |    list_sort(win)[4] AS med7,
             |    list_sort(list_transform(win,
             |      v -> abs(v - list_sort(win)[4])))[4] AS mad7
             |  FROM win WHERE len(win) = 7 AND rk <= nd - 4)
             |SELECT event_type, d_idx, x, med7, mad7,
             |  abs(x - med7) > 3 * mad7 AS is_outlier
             |FROM m ORDER BY event_type, d_idx""".stripMargin)),
  )
}
