package graft.queries

import graft.Materialize._
import graft.Report._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.Tables.{load => t}

/** Sketch-based approximate aggregation — the operators that replace exact
  * shuffles at 100 TB, where exact COUNT(DISTINCT) over billions of keys is
  * a full re-shuffle but an HLL++ sketch is a few KB per group and merges
  * associatively in the partial-aggregate step.
  *
  * Sketch internals are Spark-specific (deterministic for fixed input, but
  * not bit-matchable against DuckDB's implementations), so the registered
  * queries emit an ERROR-BOUND ATTESTATION instead of the raw sketch value:
  * each group carries its exact answer plus a boolean asserting the sketch
  * landed inside its published bound. The exact side is recomputed
  * independently by the DuckDB oracle (and the bound is `true` there by
  * construction), which makes both queries fully hash-matchable. The
  * attestation deliberately computes BOTH sides — the production pipeline
  * runs the sketch alone; SketchesSpec additionally bounds the error.
  */
object Sketches {
  /** Exclusive chunk prefix + group total for a VALUE-DOMAIN-BOUNDED
    * per-(grp, chunk) totals table `(grp, chunk, tot)` (r15, guide
    * §2.4): one flat window pass per group computes `off` (exclusive
    * prefix) and `n` (group total) as two frames over ONE
    * partition+order spec — a single WindowExec/exchange, consumed by
    * ONE downstream broadcast. The generic [[Sampling.chunkOffsets]]
    * hierarchy (two window levels + an internal broadcast join) plus a
    * separate group-totals pass cost 3-4 extra scheduled jobs per call;
    * it remains the right tool for CORPUS-DERIVED chunk tables (e.g.
    * q236's µs-gap domain), but the cents-scale value distributions
    * here keep <= ~2700 chunk rows per group at ANY corpus size
    * (domain/16384), so the flat per-group window is bounded by
    * construction. Same int64 sums — off/n bit-identical. */
  private def boundedOffN(tots: org.apache.spark.sql.DataFrame,
      grp: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(grp).orderBy("chunk")
    tots
      .withColumn("off", coalesce(sum("tot").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum("tot").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(grp), col("chunk"), col("off"), col("n"))
  }

  /** q64's covers-weight exact median over a pre-grouped VALUE
    * DISTRIBUTION `(grp, valCol, cnt)`, in integer form: per group,
    * med2 = lower middle + upper middle (twice the median — stays int64
    * so downstream deviation arithmetic is exact) and the group count n.
    *
    * Unlike q64 (whose value domain is small), callers here feed
    * near-unique domains (prices: distribution ≈ corpus size), so a
    * per-group cumulative window would put a group's whole distribution
    * in ONE task. The cumulative is therefore the two-phase prefix sum:
    * value-stride chunks bound each local window, and
    * [[Sampling.chunkOffsets]] supplies the cross-chunk offsets
    * (bit-identical int64 reassociation — oracles unchanged). */
  private def twiceMedianDist(dist0: org.apache.spark.sql.DataFrame,
      grp: String, valCol: String): org.apache.spark.sql.DataFrame = {
    val dist = dist0.withColumn("chunk", expr(s"$valCol div 16384"))
    val wLoc = Window.partitionBy(grp, "chunk").orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // group totals fold out of the per-chunk totals (exact int64
    // reassociation — n unchanged) instead of a second pass over the
    // distribution, and offsets + totals ride ONE broadcast join
    // instead of two (guide §2.4: fewer exchanges; each broadcast
    // build is a separate scheduled job). (r15 probe: deriving tots
    // from the window output — max(lc) riding the window exchange —
    // measured SLOWER at sf0.1: it trades a cheap hash-agg pass for
    // extra window-sort passes; kept the hash-agg form.)
    //
    // r15: both value domains here are cents-scale (prices < ~2^24
    // cents; deviations < 2x that), so the chunk table is value-domain
    // bounded and the offsets + group totals ride [[boundedOffN]]'s one
    // flat window pass and ONE broadcast.
    val offn = boundedOffN(
      dist.groupBy(grp, "chunk").agg(sum("cnt").as("tot")), grp)
    val hist = dist
      .withColumn("lc", sum("cnt").over(wLoc))
      .join(broadcast(offn), Seq(grp, "chunk"))
      .withColumn("cum", col("lc") + col("off"))
      .withColumn("lo", expr("(n+1) div 2"))
      .withColumn("hi", expr("(n+2) div 2"))
    val covers = (r: Column) => col("cum") - col("cnt") < r && r <= col("cum")
    hist
      .withColumn("w", when(covers(col("lo")), 1L).otherwise(0L) +
        when(covers(col("hi")), 1L).otherwise(0L))
      .filter(col("w") > 0)
      .groupBy(grp)
      .agg(sum(col(valCol) * col("w")).as("med2"), max("n").as("n"))
  }

  /** KMV numerator (k-1)·M for k=64. M is the EXACT size of the window
    * hash's range — h131·2^31 + (h137 mod 2^31) with h131 < 2^32-5, so
    * M = (2^32-5)·2^31 (see ArrayExprs.windowHashes), not a rounded
    * power of two: the estimator is M-sensitive at the 1e-9 level but
    * the hash-match oracle is sensitive to the last bit. Computed once
    * in Scala and interpolated into BOTH engines so the double constant
    * is bit-identical (shortest round-trip repr). Declared BEFORE
    * `defs`: object vals initialize in source order and a forward
    * reference would interpolate 0.0 into the oracle. */
  private val kmvNum: Double = 63.0 * (4294967291L << 31).toDouble

  /** q296's variant of [[kmvNum]] for sketches over the Lehmer-mixed
    * [0, M) domain (M = 2^31 - 1). */
  private val kmvNumM: Double = 63.0 * 2147483647.0

  /** q268's per-hash-function XOR salts (see the posOf note there):
    * arbitrary fixed 62-bit constants, index 0 the identity. */
  private[queries] val bloomSalts: Seq[Long] =
    Seq(0L, 1181783497276652981L, 2685821657736338717L)

  private def sqlKmvEst(ks: String): String =
    s"""CASE WHEN len($ks) < 64 THEN CAST(len($ks) AS DOUBLE)
       |    ELSE $kmvNum / CAST($ks[64] AS DOUBLE) END""".stripMargin

  /** Pairwise KMV source-overlap estimates — the q157 body (per-source
    * state O(k), pair table sources²: kmv_overlap_x* in
    * SCALEPROBE_r8.txt–SCALEPROBE_r13_x64.txt). */
  private def kmvOverlap(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the sketch builder IS the streaming twin's aggregation — one
    // definition, so the batch/stream equality contract cannot drift
    val sk = graft.streaming.Streams.kmvSketches(docs)
    def estOf(ks: Column) =
      when(size(ks) < 64, size(ks).cast("double"))
        .otherwise(lit(kmvNum) / element_at(ks, 64).cast("double"))
    val a = sk.select(col("source").as("source_a"), col("ks").as("ka"))
    val b = sk.select(col("source").as("source_b"), col("ks").as("kb"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("ku", slice(array_sort(array_union(col("ka"), col("kb"))), 1, 64))
      .withColumn("ic",
        size(array_intersect(array_intersect(col("ku"), col("ka")), col("kb"))))
      .select(col("source_a"), col("source_b"),
        estOf(col("ka")).as("est_a"), estOf(col("kb")).as("est_b"),
        estOf(col("ku")).as("est_union"),
        (col("ic").cast("double") / size(col("ku"))).as("jaccard_est"),
        ((col("ic").cast("double") / size(col("ku"))) * estOf(col("ku")))
          .as("est_intersection"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- HyperLogLog++ distinct counting ---------------------------------
    // rsd = 0.01, attested bound 0.05 (5 sigma — HLL++ error is ~Gaussian
    // around the true count, and small groups fall in the exact sparse
    // regime). The raw approx value is engine-specific, so the emitted row
    // is (group, exact, n, within_bounds) — fully hash-matchable.
    //
    // Shape (r15 optimization, guide §2.3 "shuffle fewer bytes"): the
    // naive one-distinct rewrite of approx+exact-in-one-agg carries the
    // partial_approx_count_distinct buffer — 1639 MS[i] int64 register
    // words at rsd = 0.01, ~13 KB per ROW — as grouping state for every
    // (event_type, user_id) pair through the first exchange (measured:
    // the 204 KB plan, 2.9 s single-task at sf0.1). HLL insertion is
    // idempotent, so the sketch over the DISTINCT pairs is bit-identical
    // to the sketch over the raw stream: pre-reduce to pairs + counts
    // (three narrow columns through the exchange, map-side partials),
    // then run the HLL once per event_type group. exact_users = pair
    // count, n = sum of pair counts — values and dtypes unchanged.
    QueryDef("q33_approx_distinct", (s, d) =>
      t(s, d, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          // count(user_id), not count(*): a NULL user_id group is one
          // pair row but NOT a distinct user — COUNT(DISTINCT) and the
          // HLL both skip NULLs, so the exact arm must too (ADVICE r15)
          count(col("user_id")).as("exact_users"),
          sum("cnt").as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          (abs(col("approx_users") - col("exact_users")).cast("double") <=
            lit(0.05) * col("exact_users").cast("double")).as("within_bounds"))
        .reportSorted("event_type"),
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  CAST(count(*) AS BIGINT) AS n, true AS within_bounds
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- Approximate quantiles (GK sketch) -------------------------------
    // percentile_approx(accuracy=10000) guarantees rank error <= n/10000;
    // the attestation is the distribution-free RANK SANDWICH at 50x slack
    // (eps = 0.005): #(x < v) <= (q+eps)n and #(x <= v) >= (q-eps)n — the
    // tie-safe discrete-quantile criterion, independent of value scale.
    QueryDef("q34_approx_quantiles", (s, d) => {
      val li = t(s, d, "lineitem")
      val ap = li.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("pq"))
      val eps = 0.005
      val checks = Seq(0.5 -> 0, 0.95 -> 1, 0.99 -> 2).map { case (q, i) =>
        val below = sum(when(col("l_extendedprice") < col("pq")(i), 1L).otherwise(0L))
        val atOrBelow = sum(when(col("l_extendedprice") <= col("pq")(i), 1L).otherwise(0L))
        (below.cast("double") <= (lit(q) + lit(eps)) * count(lit(1)) &&
          atOrBelow.cast("double") >= (lit(q) - lit(eps)) * count(lit(1)))
          .as(s"p${(q * 100).toInt}_ok")
      }
      li.join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), checks: _*)
        .reportSorted("l_returnflag")
    },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  true AS p50_ok, true AS p95_ok, true AS p99_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- Mergeable sketches: build per-day, union for any rollup ---------
    // The pattern that makes sketches pay at 100 TB is not one big
    // approx_count_distinct — it's MATERIALIZING small per-partition
    // sketches (here one Datasketches HLL per (day, event_type), a few KB
    // each) and answering every later rollup by UNIONING sketches, never
    // re-reading raw data. Level 1 is one shuffle over events; level 2
    // touches only #days x #types sketch rows. The attestation follows
    // q33: merged-estimate error <= 5% of the exact count (lgK = 12 ->
    // rsd ~1.6%, and HLL union of same-lgK sketches is lossless, so the
    // merged estimate has single-sketch accuracy).
    QueryDef("q77_sketch_merge", (s, d) => {
      val ev = t(s, d, "events")
      val daily = ev
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_days"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") <=
            lit(0.05) * col("exact_users").cast("double")).as("within_bounds"))
        .reportSorted("event_type")
    },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
             |    AS n_days,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  true AS within_bounds
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- EXACT median: the order-statistics companion to q34 -------------
    // Distribution-based selection, not a per-group row sort: `lang` has ~5
    // distinct values, so ranking rows with Window.partitionBy("lang")
    // would sort each language's whole corpus in a single task. Instead:
    // (1) build the per-(lang, value) HISTOGRAM — a well-distributed
    // hash aggregation over (lang, n_chars), the only pass over the data;
    // (2) cumulative counts over the histogram (the window now runs over
    // distinct VALUES, bounded by the value domain, not over rows);
    // (3) the median ranks lo=(n+1) div 2 / hi=(n+2) div 2 fall in the
    // bucket whose cumulative range (cum-cnt, cum] covers them — average
    // the covered values. All-integer selection + one final double
    // division keeps both engines bit-identical, unlike interpolated
    // percentile implementations whose arithmetic differs across engines;
    // the DuckDB oracle keeps the direct row-rank formulation.
    QueryDef("q64_exact_median", (s, d) => {
      val wCum = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = t(s, d, "documents")
        .groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
        .withColumn("lo", expr("(n+1) div 2"))
        .withColumn("hi", expr("(n+2) div 2"))
      val covers = (r: Column) => col("cum") - col("cnt") < r && r <= col("cum")
      hist
        .withColumn("w",
          when(covers(col("lo")), 1L).otherwise(0L) +
            when(covers(col("hi")), 1L).otherwise(0L))
        .filter(col("w") > 0)
        .groupBy("lang")
        .agg(max("n").as("n_docs"),
          (sum(col("n_chars") * col("w")).cast("double") / lit(2.0)).as("median_chars"))
        .reportSorted("lang")
    },
      Some("""WITH r AS (
             |  SELECT lang, n_chars,
             |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY lang) AS n
             |  FROM documents)
             |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS median_chars
             |FROM r WHERE rn = (n+1)//2 OR rn = (n+2)//2
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- Count-Min-Sketch heavy hitters ----------------------------------
    // The counting companion to q33's HLL: a fixed 4 x 1024 int64 counter
    // matrix (32 KB however large the corpus) whose cells are sums of
    // token counts hashing there; estimate = min over the 4 rows — never
    // an UNDERestimate, overestimate bounded by colliding mass (~2N/w
    // per row in expectation, min over 4 rows in practice far tighter).
    // Unlike the HLL attestation, this sketch is built from exact
    // integer arithmetic on the portable 62-bit hash (4 probe rows =
    // disjoint 10-bit hash slices), so the WHOLE sketch — including its
    // overestimates — hash-matches the DuckDB oracle bit for bit.
    // Scale shape: one token pass map-combined into <= 4096 cells (the
    // sketch merges by cell-wise addition — the partial-agg step IS the
    // merge), exact top-20 via TakeOrderedAndProject, probe by 4
    // broadcast joins against the tiny counter table. At 100 TB the
    // exact count table this query also carries is replaced by the
    // sketch alone + a candidate stream; the error column here is the
    // evidence for that trade.
    QueryDef("q146_cms_heavy_hitters", (s, d) => {
      val w = 1024
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("t"))
      val cnt = toks.groupBy("t").agg(count(lit(1)).as("n"))
        .withColumn("h", element_at(
          graft.functions.ArrayExprs.windowHashes(array(col("t")), 1), 1))
        .materialize // feeds the sketch AND the top-k probe
      def sliceAt(i: Int) = expr(s"(h div ${1L << (10 * i)}) % $w")
      val cms = cnt
        .select(col("n"),
          posexplode(array((0 until 4).map(sliceAt): _*)).as(Seq("i", "s")))
        .groupBy("i", "s").agg(sum("n").as("c"))
      var probed = cnt.orderBy(col("n").desc, col("t")).limit(20)
      for (i <- 0 until 4) {
        probed = probed.withColumn(s"s$i", sliceAt(i))
          .join(broadcast(cms.filter(col("i") === i)
            .select(col("s").as(s"s$i"), col("c").as(s"c$i"))), Seq(s"s$i"))
      }
      probed.select(col("t").as("token"), col("n").as("exact_n"),
          least(col("c0"), col("c1"), col("c2"), col("c3")).as("cms_n"))
        .withColumn("overestimate", col("cms_n") - col("exact_n"))
        .orderBy(col("exact_n").desc, col("token"))
    },
      Some(s"""WITH tok AS MATERIALIZED (
             |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |cnt AS MATERIALIZED (
             |  SELECT t, CAST(count(*) AS BIGINT) AS n,
             |    ${Dedup.sqlStringHash62("t")} AS h
             |  FROM tok GROUP BY t),
             |cms AS MATERIALIZED (
             |  SELECT i, s, CAST(sum(n) AS BIGINT) AS c FROM (
             |    SELECT 0 AS i, (h // 1) % 1024 AS s, n FROM cnt
             |    UNION ALL SELECT 1, (h // 1024) % 1024, n FROM cnt
             |    UNION ALL SELECT 2, (h // 1048576) % 1024, n FROM cnt
             |    UNION ALL SELECT 3, (h // 1073741824) % 1024, n FROM cnt)
             |  GROUP BY 1, 2),
             |top AS MATERIALIZED (
             |  SELECT t, n, h FROM cnt ORDER BY n DESC, t LIMIT 20)
             |SELECT top.t AS token, top.n AS exact_n,
             |  least(c0.c, c1.c, c2.c, c3.c) AS cms_n,
             |  least(c0.c, c1.c, c2.c, c3.c) - top.n AS overestimate
             |FROM top
             |JOIN cms c0 ON c0.i = 0 AND c0.s = (top.h // 1) % 1024
             |JOIN cms c1 ON c1.i = 1 AND c1.s = (top.h // 1024) % 1024
             |JOIN cms c2 ON c2.i = 2 AND c2.s = (top.h // 1048576) % 1024
             |JOIN cms c3 ON c3.i = 3 AND c3.s = (top.h // 1073741824) % 1024
             |ORDER BY exact_n DESC, token""".stripMargin)),

    // ---- KMV (k-minimum-values) sketch: distinct + INTERSECTION ----------
    // The sketch that closes the gap HLL leaves: HLL unions but cannot
    // intersect, and pairwise content overlap between sources is exactly
    // what a curation pipeline asks before merging crawls (q97 is the
    // exact twin — it shuffles every shingle; this is its O(k)-per-source
    // sketch). KMV keeps the k=64 smallest 62-bit shingle hashes per
    // source: distinct ≈ (k-1)·M/h_k, and because a KMV sketch of a
    // union is computable from the two sketches (k smallest of the
    // merge), Jaccard ≈ |union-sketch ∩ A_k ∩ B_k|/k gives the
    // intersection estimate — sketch algebra, no corpus rescan. Like
    // q146's CMS (and unlike HLL's opaque internals), every value here
    // derives from the shared 62-bit hashes, so the WHOLE sketch —
    // estimates included — hash-matches the oracle bit for bit.
    // Scale shape: per-source state is O(k) via the bounded bottom-k
    // aggregator (map-side partials — this is a mergeable sketch, the
    // same merge a streaming twin would run); the pairwise table is
    // sources², a catalog-bounded rollup, never corpus². SketchesSpec
    // bounds the estimation error against exact counts.
    QueryDef("q157_kmv_overlap", (s, d) =>
      kmvOverlap(t(s, d, "documents")).reportSorted("source_a", "source_b"),
      Some(s"""WITH hs AS MATERIALIZED (
             |  SELECT DISTINCT d.source, x.h
             |  FROM (${Dedup.sqlDocHashedShingles}) x
             |  JOIN documents d USING (doc_id)),
             |sk AS MATERIALIZED (
             |  SELECT source, (list(h ORDER BY h))[1:64] AS ks
             |  FROM hs GROUP BY source),
             |p AS MATERIALIZED (
             |  SELECT a.source AS source_a, b.source AS source_b,
             |    a.ks AS ka, b.ks AS kb,
             |    (list_sort(list_distinct(a.ks || b.ks)))[1:64] AS ku
             |  FROM sk a JOIN sk b ON a.source < b.source),
             |q AS MATERIALIZED (
             |  SELECT source_a, source_b, ka, kb, ku,
             |    len(list_filter(ku,
             |      x -> list_contains(ka, x) AND list_contains(kb, x))) AS ic
             |  FROM p)
             |SELECT source_a, source_b,
             |  ${sqlKmvEst("ka")} AS est_a,
             |  ${sqlKmvEst("kb")} AS est_b,
             |  ${sqlKmvEst("ku")} AS est_union,
             |  CAST(ic AS DOUBLE) / len(ku) AS jaccard_est,
             |  (CAST(ic AS DOUBLE) / len(ku)) * ${sqlKmvEst("ku")}
             |    AS est_intersection
             |FROM q ORDER BY source_a, source_b""".stripMargin)),

    // ---- Sampled GROUP BY with confidence intervals (AQP) ----------------
    // The approximate-query-processing contract: answer a grouped count
    // from a p = 10% deterministic row sample, report a ±2σ interval,
    // and ATTEST it against the exact answer in the same result (the
    // attestation is the query's point; production reads only the
    // sample). Membership hashes (l_orderkey·8 + l_linenumber) — the
    // unique row id — through the Lehmer step, so the sample is
    // rerun-invariant and needs no stored sample table. Bernoulli
    // estimator: est = n_s/p, se = sqrt(n_s·(1−p))/p; sqrt is
    // IEEE-correctly-rounded (the q165 rule), so both engines agree
    // bit-for-bit.
    //
    // Scale shape: ONE scan, one grouped aggregation with map-side
    // combine — the exact count and the conditional sample count ride
    // the same agg. At 100 TB the production variant drops the exact
    // column and scans only a pre-materialized sample partition; the
    // estimator math is unchanged.
    QueryDef("q180_sampled_groupby_ci", (s, d) => {
      val m = 2147483647L
      val samp = expr(
        s"(((l_orderkey * 8 + l_linenumber) % $m) * 48271 % $m) * 48271 % $m % 10 = 0")
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("exact_rows"),
          sum(when(samp, 1L).otherwise(0L)).as("n_sample"))
        .withColumn("est_rows", col("n_sample").cast("double") * 10.0)
        .withColumn("se",
          sqrt(col("n_sample").cast("double") * 0.9) * 10.0)
        .withColumn("covered",
          abs(col("est_rows") - col("exact_rows").cast("double")) <=
            lit(2.0) * col("se"))
        .select("l_returnflag", "l_linestatus", "exact_rows", "n_sample",
          "est_rows", "se", "covered")
        .reportSorted("l_returnflag", "l_linestatus")
    },
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  CAST(count(*) AS BIGINT) AS exact_rows,
             |  CAST(sum(CASE WHEN
             |      ${Sampling.sqlLehmerOf("(l_orderkey * 8 + l_linenumber)")}
             |        % 10 = 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
             |  CAST(sum(CASE WHEN
             |      ${Sampling.sqlLehmerOf("(l_orderkey * 8 + l_linenumber)")}
             |        % 10 = 0
             |    THEN 1 ELSE 0 END) AS DOUBLE) * 10.0 AS est_rows,
             |  sqrt(CAST(sum(CASE WHEN
             |      ${Sampling.sqlLehmerOf("(l_orderkey * 8 + l_linenumber)")}
             |        % 10 = 0
             |    THEN 1 ELSE 0 END) AS DOUBLE) * 0.9) * 10.0 AS se,
             |  abs(CAST(sum(CASE WHEN
             |      ${Sampling.sqlLehmerOf("(l_orderkey * 8 + l_linenumber)")}
             |        % 10 = 0
             |    THEN 1 ELSE 0 END) AS DOUBLE) * 10.0
             |    - CAST(count(*) AS DOUBLE))
             |  <= 2.0 * sqrt(CAST(sum(CASE WHEN
             |      ${Sampling.sqlLehmerOf("(l_orderkey * 8 + l_linenumber)")}
             |        % 10 = 0
             |    THEN 1 ELSE 0 END) AS DOUBLE) * 0.9) * 10.0 AS covered
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- Grouped MAD robust outlier statistics ---------------------------
    // The robust companion to q38's moment stats: per group, the median,
    // the Median Absolute Deviation, and the count of rows outside the
    // 3σ-equivalent robust fence |x − med| > 3·1.4826·MAD — the outlier
    // rule that (unlike mean ± 3σ) the outliers themselves cannot drag.
    // Both medians use q64's covers-weight trick over the VALUE
    // DISTRIBUTION (group by value first; windows run over the bounded
    // distinct-value table, never corpus rows), kept in integer form:
    // med2 = lo+hi middles (twice the median) so deviations dev2 =
    // |2x − med2| stay exact int64, mad4 = lo+hi of the dev2
    // distribution (4× the MAD), and the fence is the exact integer
    // cross-multiplication 20000·dev2 > 44478·mad4 (3·1.4826 = 4.4478)
    // — no engine-dependent double accumulation anywhere; the reported
    // median/MAD divide once at the very end.
    QueryDef("q187_grouped_mad", (s, d) => {
      // ONE corpus aggregation total: the deviation DISTRIBUTION derives
      // from the cents distribution (dev2 = |2v − med2| maps value
      // counts to value counts — no second corpus pass), and even the
      // outlier count is a rollup of the deviation distribution. The two
      // distribution tables are localCheckpoint-materialized because
      // each feeds three consumers (local cums, chunk totals, group
      // totals) whose aliases would otherwise each recompute the
      // upstream aggregation.
      val centsDist = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
        .groupBy("flag", "v").agg(count(lit(1)).as("cnt"))
        .materialize
      val m = twiceMedianDist(centsDist, "flag", "v")
        .select(col("flag"), col("med2"), col("n").as("n_rows"))
      val devDist = centsDist.join(broadcast(m), "flag")
        .select(col("flag"), abs(lit(2L) * col("v") - col("med2")).as("v"),
          col("cnt"))
        .groupBy("flag", "v").agg(sum("cnt").as("cnt"))
        .materialize
      val md = twiceMedianDist(devDist, "flag", "v")
        .select(col("flag"), col("med2").as("mad4"))
      val outliers = devDist.join(broadcast(md), "flag")
        .groupBy("flag")
        .agg(sum(when(lit(20000L) * col("v") > lit(44478L) * col("mad4"),
          col("cnt")).otherwise(0L)).as("n_outliers"))
      m.join(md, "flag").join(outliers, "flag")
        .select(col("flag").as("l_returnflag"), col("n_rows"),
          (col("med2").cast("double") / 2.0).as("median_price"),
          (col("mad4").cast("double") / 4.0).as("mad"),
          col("n_outliers"))
        .reportSorted("l_returnflag")
    },
      Some("""WITH c AS MATERIALIZED (
             |  SELECT l_returnflag AS flag,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
             |  FROM lineitem),
             |r1 AS MATERIALIZED (
             |  SELECT flag, v,
             |    row_number() OVER (PARTITION BY flag ORDER BY v) AS rn,
             |    CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
             |  FROM c),
             |m AS MATERIALIZED (
             |  SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
             |    CAST(sum(CASE WHEN rn = (n+1)//2 THEN v ELSE 0 END)
             |       + sum(CASE WHEN rn = (n+2)//2 THEN v ELSE 0 END)
             |       AS BIGINT) AS med2
             |  FROM r1 GROUP BY flag),
             |d AS MATERIALIZED (
             |  SELECT c.flag, abs(2 * v - med2) AS dv
             |  FROM c JOIN m USING (flag)),
             |r2 AS MATERIALIZED (
             |  SELECT flag, dv,
             |    row_number() OVER (PARTITION BY flag ORDER BY dv) AS rn,
             |    CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
             |  FROM d),
             |md AS MATERIALIZED (
             |  SELECT flag,
             |    CAST(sum(CASE WHEN rn = (n+1)//2 THEN dv ELSE 0 END)
             |       + sum(CASE WHEN rn = (n+2)//2 THEN dv ELSE 0 END)
             |       AS BIGINT) AS mad4
             |  FROM r2 GROUP BY flag),
             |o AS (
             |  SELECT d.flag,
             |    CAST(sum(CASE WHEN 20000 * dv > 44478 * mad4
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |  FROM d JOIN md USING (flag) GROUP BY d.flag)
             |SELECT m.flag AS l_returnflag, n_rows,
             |  CAST(med2 AS DOUBLE) / 2.0 AS median_price,
             |  CAST(mad4 AS DOUBLE) / 4.0 AS mad, n_outliers
             |FROM m JOIN md USING (flag) JOIN o USING (flag)
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- Mergeable quantile sketch with in-query error attestation -------
    // Closes the sketch-algebra gap: CMS covers counts (q146), KMV/HLL
    // cover distincts (q157/q33) — this covers QUANTILES without the
    // exact distribution pass q64/q219 need. functions.LogHistAgg is a
    // log-scale fixed-boundary histogram (HDR-histogram design — the
    // deterministic, merge-order-independent cousin of KLL, which makes
    // it a commutative monoid and therefore hash-matchable): <= 976
    // int64 counters cover the full non-negative int64 range, so a
    // group's sketch is a few KB whatever its cardinality, and map-side
    // partials reduce each task to one sketch before the exchange.
    // Attestation (the q33/q227 pattern): per (group, percentile), the
    // sketch estimate rides next to the exact rank value (computed via
    // the two-phase chunked distribution crossing — 3 groups, so a flat
    // per-group window would be a corpus-scale single task), with the
    // integer-exact bound 16*(est-exact) < exact that the bucket math
    // guarantees by construction (est = bucket upper bound, exact >=
    // bucket lower bound >= 16 * bucket width). QuantileSketchSpec pins
    // the bound for adversarial inputs; Streams.logHistSketches is the
    // streaming twin (same Aggregator, complete-mode).
    QueryDef("q233_quantile_sketch", (s, d) => {
      val pcts = Seq(50, 90, 99)
      val v = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("c"))
      // the sketch builder IS the streaming twin's aggregation — one
      // definition, so the batch/stream equality contract cannot drift
      val hist = graft.streaming.Streams.logHistSketches(t(s, d, "lineitem"))
      val buckets = hist.select(col("flag"), explode(col("hist")).as("b"))
        .select(col("flag"), col("b._1").as("idx"), col("b._2").as("cnt"))
      val wB = Window.partitionBy("flag").orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sk = buckets
        .withColumn("cum", sum("cnt").over(wB))
        .join(broadcast(buckets.groupBy("flag").agg(sum("cnt").as("n"))), "flag")
        .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(col("flag"), col("pct"),
          expr(graft.functions.LogHist.sparkBucketHi("idx")).as("est"))
      val dist = v.groupBy("flag", "c").agg(count(lit(1)).as("cnt"))
        .withColumn("chunk", expr("c div 16384"))
        .materialize // feeds local cums, chunk totals, group totals
      val wLoc = Window.partitionBy("flag", "chunk").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r15: cents-scale value domain -> bounded chunk table; offsets +
      // group totals ride boundedOffN's one window pass + ONE broadcast
      val offn = boundedOffN(
        dist.groupBy("flag", "chunk").agg(sum("cnt").as("tot")), "flag")
      val ex = dist.withColumn("lc", sum("cnt").over(wLoc))
        .join(broadcast(offn), Seq("flag", "chunk"))
        .withColumn("cum", col("lc") + col("off"))
        .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(col("flag"), col("pct"), col("c").as("exact_value"))
      sk.join(ex, Seq("flag", "pct"))
        .select(col("flag").as("l_returnflag"), col("pct"), col("est"),
          col("exact_value"),
          ((col("est") - col("exact_value")).cast("double") /
            col("exact_value").cast("double")).as("rel_err"),
          (lit(16L) * (col("est") - col("exact_value")) < col("exact_value"))
            .as("within_bound"))
        .reportSorted("l_returnflag", "pct")
    },
      Some(s"""WITH v AS MATERIALIZED (
             |  SELECT l_returnflag AS flag,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM lineitem),
             |b AS (
             |  SELECT flag, ${graft.functions.LogHist.sqlBucketOf("c")} AS idx,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM v GROUP BY 1, 2),
             |cb AS (
             |  SELECT flag, idx, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY idx) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
             |  FROM b),
             |pq AS (SELECT CAST(unnest([50, 90, 99]) AS INTEGER) AS pct),
             |sk AS (
             |  SELECT flag, pct, ${graft.functions.LogHist.sqlBucketHi("idx")} AS est
             |  FROM cb CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100),
             |dd AS MATERIALIZED (
             |  SELECT flag, c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
             |cd AS (
             |  SELECT flag, c, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY c) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
             |  FROM dd),
             |ex AS (
             |  SELECT flag, pct, c AS exact_value
             |  FROM cd CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100)
             |SELECT sk.flag AS l_returnflag, sk.pct, est, exact_value,
             |  CAST(est - exact_value AS DOUBLE) / CAST(exact_value AS DOUBLE)
             |    AS rel_err,
             |  16 * (est - exact_value) < exact_value AS within_bound
             |FROM sk JOIN ex ON sk.flag = ex.flag AND sk.pct = ex.pct
             |ORDER BY l_returnflag, sk.pct""".stripMargin)),

    // ---- KMV sketch cells as a registered oracle query -------------------
    // The streaming twin contract, driver-gated (r8 verdict ask): q157's
    // estimates derive from Streams.kmvSketches, whose batch/stream
    // equality lived only in StreamingSpec — this query registers the
    // sketch CELLS themselves (per source, the 64 smallest distinct
    // 62-bit shingle hashes, in rank order), so the driver's DuckDB gate
    // hash-verifies the exact sketch content the streaming path
    // accumulates. A KMV sketch is order-independent by construction
    // (bottom-k of a distinct set), hence exactly SQL-expressible:
    // the oracle ranks the distinct hash set per source and keeps 64.
    // Scale shape: the sketch build is the partial-aggregable
    // BottomKLongAgg (O(k) per task before the exchange); the oracle's
    // full-distinct rank is the VERIFICATION, not the production path.
    QueryDef("q234_kmv_cells", (s, d) =>
      graft.streaming.Streams.kmvSketches(t(s, d, "documents"))
        .select(col("source"), posexplode(col("ks")).as(Seq("i0", "h")))
        .select(col("source"), (col("i0") + 1).cast("int").as("i"), col("h"))
        .reportSorted("source", "i"),
      Some(s"""WITH hs AS MATERIALIZED (${Dedup.sqlDocHashedShingles}),
             |ds AS (SELECT DISTINCT d.source, hs.h
             |       FROM hs JOIN documents d USING (doc_id)),
             |r AS (SELECT source, h,
             |        row_number() OVER (PARTITION BY source ORDER BY h) AS i
             |      FROM ds)
             |SELECT source, CAST(i AS INTEGER) AS i, h
             |FROM r WHERE i <= 64 ORDER BY source, i""".stripMargin)),

    // ---- Quantile-sketch mergeability law (q77's pattern for quantiles) --
    // The property that makes the LogHist sketch usable as a 100 TB
    // rollup primitive: sub-sketches built per (flag, linestatus) merge
    // by counter addition into EXACTLY the sketch built directly per
    // flag — no approximation stacking, unlike merged KLL/t-digest whose
    // error grows with merge depth. The query attests that law in-query:
    // per flag, every merged cell equals its direct cell, and the three
    // percentile estimates read from the merged sketch equal the direct
    // ones bit-for-bit (plus the q233 bound vs the exact rank is
    // implied; q233 carries that attestation). At scale this is the
    // pre-aggregated-cube shape: daily/per-partition sketches persist a
    // few KB each, and any ad-hoc rollup merges them without touching
    // rows.
    QueryDef("q235_sketch_rollup", (s, d) => {
      val spark = s
      import spark.implicits._
      val pcts = Seq(50, 90, 99)
      val v = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("ls"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("c"))
      // sub-sketches per (flag, ls) through the real Aggregator...
      val sub = v.as[(String, String, Long)].groupByKey(r => (r._1, r._2))
        .mapValues(_._3)
        .agg(new graft.functions.LogHistAgg().toColumn.name("hist"))
        .toDF("key", "hist")
        .select(col("key._1").as("flag"), explode(col("hist")).as("b"))
        .select(col("flag"), col("b._1").as("idx"), col("b._2").as("cnt"))
      // ...merged up to flag: sketch merge IS counter addition
      val merged = sub.groupBy("flag", "idx").agg(sum("cnt").as("cnt"))
      // direct per-flag sketch (the q233 builder)
      val direct = graft.streaming.Streams
        .logHistSketches(t(s, d, "lineitem"))
        .select(col("flag"), explode(col("hist")).as("b"))
        .select(col("flag"), col("b._1").as("idx"), col("b._2").as("cnt"))
      val cells = merged.withColumnRenamed("cnt", "mc")
        .join(direct.withColumnRenamed("cnt", "dc"),
          Seq("flag", "idx"), "full_outer")
        .groupBy("flag")
        .agg(count(lit(1)).as("n_cells"),
          sum(when(col("mc") <=> col("dc"), 1L).otherwise(0L)).as("cells_eq"))
      def estOf(cellDf: org.apache.spark.sql.DataFrame, out: String) = {
        val wB = Window.partitionBy("flag").orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cellDf
          .withColumn("cum", sum("cnt").over(wB))
          .join(broadcast(cellDf.groupBy("flag").agg(sum("cnt").as("n"))), "flag")
          .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
          .withColumn("r", expr("(n * pct + 99) div 100"))
          .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
          .select(col("flag"), col("pct"), col("n"),
            expr(graft.functions.LogHist.sparkBucketHi("idx")).as(out))
      }
      estOf(merged, "est_merged")
        .join(estOf(direct, "est_direct").drop("n"), Seq("flag", "pct"))
        .join(cells, "flag")
        .select(col("flag").as("l_returnflag"), col("pct"), col("n").as("n_rows"),
          col("est_merged"), col("est_direct"),
          (col("est_merged") === col("est_direct")).as("merge_exact"),
          col("n_cells"), (col("cells_eq") === col("n_cells")).as("cells_match"))
        .reportSorted("l_returnflag", "pct")
    },
      Some(s"""WITH v AS MATERIALIZED (
             |  SELECT l_returnflag AS flag, l_linestatus AS ls,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM lineitem),
             |sub AS (
             |  SELECT flag, ls, ${graft.functions.LogHist.sqlBucketOf("c")} AS idx,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM v GROUP BY 1, 2, 3),
             |mrg AS MATERIALIZED (
             |  SELECT flag, idx, CAST(sum(cnt) AS BIGINT) AS cnt
             |  FROM sub GROUP BY 1, 2),
             |dir AS MATERIALIZED (
             |  SELECT flag, ${graft.functions.LogHist.sqlBucketOf("c")} AS idx,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM v GROUP BY 1, 2),
             |cells AS (
             |  SELECT coalesce(m.flag, d.flag) AS flag,
             |    CAST(count(*) AS BIGINT) AS n_cells,
             |    CAST(sum(CASE WHEN m.cnt IS NOT DISTINCT FROM d.cnt
             |      THEN 1 ELSE 0 END) AS BIGINT) AS cells_eq
             |  FROM mrg m FULL OUTER JOIN dir d
             |    ON m.flag = d.flag AND m.idx = d.idx
             |  GROUP BY 1),
             |pq AS (SELECT CAST(unnest([50, 90, 99]) AS INTEGER) AS pct),
             |cm AS (
             |  SELECT flag, idx, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY idx) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
             |  FROM mrg),
             |em AS (
             |  SELECT flag, pct, n, ${graft.functions.LogHist.sqlBucketHi("idx")} AS est_merged
             |  FROM cm CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100),
             |cdct AS (
             |  SELECT flag, idx, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY idx) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
             |  FROM dir),
             |ed AS (
             |  SELECT flag, pct, ${graft.functions.LogHist.sqlBucketHi("idx")} AS est_direct
             |  FROM cdct CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100)
             |SELECT em.flag AS l_returnflag, em.pct, n AS n_rows,
             |  est_merged, est_direct,
             |  est_merged = est_direct AS merge_exact,
             |  n_cells, cells_eq = n_cells AS cells_match
             |FROM em JOIN ed ON em.flag = ed.flag AND em.pct = ed.pct
             |JOIN cells ON em.flag = cells.flag
             |ORDER BY l_returnflag, em.pct""".stripMargin)),

    // ---- Event inter-arrival latency percentiles via the sketch ----------
    // The ops-dashboard use the LogHist sketch exists for: per event
    // type, p50/p95/p99 of the per-user inter-arrival gap (microseconds)
    // — latency-style long-tail data where a mean hides everything. The
    // gap derivation is a per-user lag window (millions of small user
    // partitions — no skew); the sketch collapses each task's gaps into
    // <= 976 counters before the exchange, so the percentile query costs
    // one narrow shuffle however many events there are. Attestation as
    // in q233, with `<=` in the bound because a gap can be 0 (same-
    // microsecond events; est = exact = 0 in the exact low regime). The
    // absolute error est - exact_value rides along in exact int64 —
    // rel_err would be 0/0 for zero gaps, which is not hash-portable.
    QueryDef("q236_latency_percentiles", (s, d) => {
      val spark = s
      import spark.implicits._
      val pcts = Seq(50, 95, 99)
      val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gaps = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap", col("us") - lag("us", 1).over(wU))
        .filter(col("gap").isNotNull)
        .select(col("event_type").as("etype"), col("gap"))
      val hist = gaps.as[(String, Long)].groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.LogHistAgg().toColumn.name("hist"))
        .toDF("etype", "hist")
      val buckets = hist.select(col("etype"), explode(col("hist")).as("b"))
        .select(col("etype"), col("b._1").as("idx"), col("b._2").as("cnt"))
      val wB = Window.partitionBy("etype").orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sk = buckets
        .withColumn("cum", sum("cnt").over(wB))
        .join(broadcast(buckets.groupBy("etype").agg(sum("cnt").as("n"))), "etype")
        .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(col("etype"), col("pct"),
          expr(graft.functions.LogHist.sparkBucketHi("idx")).as("est"))
      val dist = gaps.groupBy("etype", "gap").agg(count(lit(1)).as("cnt"))
        .withColumn("chunk", expr("gap div 16384"))
        .materialize // feeds local cums, chunk totals, group totals
      val wLoc = Window.partitionBy("etype", "chunk").orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offs = Sampling.chunkOffsets(
        dist.groupBy("etype", "chunk").agg(sum("cnt").as("tot")),
        "chunk", "tot", Seq("etype"))
      val totals = dist.groupBy("etype").agg(sum("cnt").as("n"))
      val ex = dist.withColumn("lc", sum("cnt").over(wLoc))
        .join(broadcast(offs), Seq("etype", "chunk"))
        .withColumn("cum", col("lc") + col("off"))
        .join(broadcast(totals), "etype")
        .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(col("etype"), col("pct"), col("gap").as("exact_value"))
      sk.join(ex, Seq("etype", "pct"))
        .select(col("etype").as("event_type"), col("pct"), col("est"),
          col("exact_value"), (col("est") - col("exact_value")).as("abs_err"),
          (lit(16L) * (col("est") - col("exact_value")) <= col("exact_value"))
            .as("within_bound"))
        .reportSorted("event_type", "pct")
    },
      Some(s"""WITH e AS MATERIALIZED (
             |  SELECT event_id, user_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |g AS MATERIALIZED (
             |  SELECT event_type AS etype,
             |    us - lag(us) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS gap
             |  FROM e),
             |gg AS MATERIALIZED (
             |  SELECT etype, gap FROM g WHERE gap IS NOT NULL),
             |b AS (
             |  SELECT etype, ${graft.functions.LogHist.sqlBucketOf("gap")} AS idx,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM gg GROUP BY 1, 2),
             |cb AS (
             |  SELECT etype, idx, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY etype ORDER BY idx) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY etype) AS BIGINT) AS n
             |  FROM b),
             |pq AS (SELECT CAST(unnest([50, 95, 99]) AS INTEGER) AS pct),
             |sk AS (
             |  SELECT etype, pct, ${graft.functions.LogHist.sqlBucketHi("idx")} AS est
             |  FROM cb CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100),
             |dd AS MATERIALIZED (
             |  SELECT etype, gap, CAST(count(*) AS BIGINT) AS cnt
             |  FROM gg GROUP BY 1, 2),
             |cd AS (
             |  SELECT etype, gap, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY etype ORDER BY gap) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY etype) AS BIGINT) AS n
             |  FROM dd),
             |ex AS (
             |  SELECT etype, pct, gap AS exact_value
             |  FROM cd CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100)
             |SELECT sk.etype AS event_type, sk.pct, est, exact_value,
             |  est - exact_value AS abs_err,
             |  16 * (est - exact_value) <= exact_value AS within_bound
             |FROM sk JOIN ex ON sk.etype = ex.etype AND sk.pct = ex.pct
             |ORDER BY event_type, sk.pct""".stripMargin)),

    // ---- Token-WEIGHTED length percentiles via the weighted sketch -------
    // The packing-relevant length statistic: "the document the median
    // TOKEN lives in" — a document-count median (q64) over-weights short
    // docs, but context-window packing and compute budgeting care about
    // where the token mass sits. LogHistWeightedAgg adds each doc's
    // token count to its n_chars bucket, and the crossing rank runs over
    // cumulative WEIGHT; the attestation compares against the exact
    // weighted crossing over the (lang, n_chars)->weight distribution
    // (q225's exact machinery, distribution-sized windows). Same merge
    // algebra and bucket-width bound as q233, in weighted form.
    QueryDef("q238_weighted_percentiles", (s, d) => {
      val spark = s
      import spark.implicits._
      val pcts = Seq(25, 50, 90)
      val v = t(s, d, "documents")
        .select(col("lang"), col("n_chars").cast("long").as("c"),
          size(split(col("text"), " ")).cast("long").as("w"))
      val hist = v.as[(String, Long, Long)].groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(new graft.functions.LogHistWeightedAgg().toColumn.name("hist"))
        .toDF("lang", "hist")
      val buckets = hist.select(col("lang"), explode(col("hist")).as("b"))
        .select(col("lang"), col("b._1").as("idx"), col("b._2").as("cnt"))
      val wB = Window.partitionBy("lang").orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sk = buckets
        .withColumn("cum", sum("cnt").over(wB))
        .join(broadcast(buckets.groupBy("lang").agg(sum("cnt").as("n"))), "lang")
        .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(col("lang"), col("pct"),
          expr(graft.functions.LogHist.sparkBucketHi("idx")).as("est"))
      val dist = v.groupBy("lang", "c").agg(sum("w").as("cnt"))
        .withColumn("chunk", expr("c div 16384"))
        .materialize // feeds local cums, chunk totals, group totals
      val wLoc = Window.partitionBy("lang", "chunk").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r15: n_chars domain -> bounded chunk table (max doc chars /
      // 16384 rows per lang, corpus-size-independent); boundedOffN's
      // one window pass + ONE broadcast replace offs + totals
      val offn = boundedOffN(
        dist.groupBy("lang", "chunk").agg(sum("cnt").as("tot")), "lang")
      val ex = dist.withColumn("lc", sum("cnt").over(wLoc))
        .join(broadcast(offn), Seq("lang", "chunk"))
        .withColumn("cum", col("lc") + col("off"))
        .withColumn("pct", explode(array(pcts.map(p => lit(p)): _*)))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(col("lang"), col("pct"), col("c").as("exact_value"),
          col("n").as("total_tokens"))
      sk.join(ex, Seq("lang", "pct"))
        .select(col("lang"), col("pct"), col("total_tokens"), col("est"),
          col("exact_value"),
          (lit(16L) * (col("est") - col("exact_value")) <= col("exact_value"))
            .as("within_bound"))
        .reportSorted("lang", "pct")
    },
      Some(s"""WITH v AS MATERIALIZED (
             |  SELECT lang, CAST(n_chars AS BIGINT) AS c,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w
             |  FROM documents),
             |b AS (
             |  SELECT lang, ${graft.functions.LogHist.sqlBucketOf("c")} AS idx,
             |    CAST(sum(w) AS BIGINT) AS cnt
             |  FROM v GROUP BY 1, 2),
             |cb AS (
             |  SELECT lang, idx, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY idx) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
             |  FROM b),
             |pq AS (SELECT CAST(unnest([25, 50, 90]) AS INTEGER) AS pct),
             |sk AS (
             |  SELECT lang, pct, ${graft.functions.LogHist.sqlBucketHi("idx")} AS est
             |  FROM cb CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100),
             |dd AS MATERIALIZED (
             |  SELECT lang, c, CAST(sum(w) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
             |cd AS (
             |  SELECT lang, c, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY c) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
             |  FROM dd),
             |ex AS (
             |  SELECT lang, pct, c AS exact_value, n AS total_tokens
             |  FROM cd CROSS JOIN pq
             |  WHERE cum >= (n * pct + 99) // 100
             |    AND cum - cnt < (n * pct + 99) // 100)
             |SELECT sk.lang, sk.pct, total_tokens, est, exact_value,
             |  16 * (est - exact_value) <= exact_value AS within_bound
             |FROM sk JOIN ex ON sk.lang = ex.lang AND sk.pct = ex.pct
             |ORDER BY sk.lang, sk.pct""".stripMargin)),

    // ---- CMS counter cells as a registered oracle query ------------------
    // q234's pattern applied to the second streaming sketch: the
    // count-min counter matrix Streams.heavyHitterCounters accumulates
    // (4 depth slices x 1024 buckets over the portable 62-bit token
    // hash) is registered cell-for-cell, so the driver's DuckDB gate
    // hash-verifies the exact state the streaming CMS twin carries —
    // counter addition is order-independent, which is the whole twin
    // contract (StreamingSpec asserts the stream side equals this).
    // Scale shape: one map-combined groupBy into a fixed <= 4096-cell
    // matrix per depth; the matrix, not the tokens, is all that moves.
    QueryDef("q255_cms_cells", (s, d) =>
      graft.streaming.Streams.heavyHitterCounters(t(s, d, "documents"))
        .reportSorted("i", "s"),
      Some(s"""WITH tok AS MATERIALIZED (
             |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |hh AS MATERIALIZED (
             |  SELECT ${Dedup.sqlStringHash62("t")} AS h FROM tok),
             |cells AS (
             |  SELECT CAST(g.i AS INTEGER) AS i,
             |    (h // (CAST(1 AS BIGINT) << (10 * g.i))) % 1024 AS s
             |  FROM hh CROSS JOIN (SELECT unnest(range(0, 4)) AS i) g)
             |SELECT i, s, CAST(count(*) AS BIGINT) AS c
             |FROM cells GROUP BY 1, 2 ORDER BY i, s""".stripMargin)),

    // ---- Distribution-free median confidence interval --------------------
    // A point median without an interval invites over-reading (q64 gives
    // the point; two languages' medians can differ by less than either's
    // sampling noise). The classical order-statistics CI needs NO
    // distributional assumption: the 95% interval for the median is
    // [X_(l), X_(u)] with l = floor((n - 1.96*sqrt(n))/2) and
    // u = ceil((n + 1.96*sqrt(n))/2) + 1 (normal approximation to the
    // binomial rank distribution — sqrt/floor/ceil on doubles, bit-equal
    // both engines). All three order statistics come from the same
    // cumulative crossing over the per-lang VALUE DISTRIBUTION (q64's
    // bounded-domain argument), so the corpus is touched once.
    QueryDef("q246_median_ci", (s, d) => {
      val dist = t(s, d, "documents")
        .groupBy(col("lang"), col("n_chars").cast("long").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("lang").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = dist.withColumn("cum", sum("cnt").over(wCum))
      val ranks = dist.groupBy("lang").agg(sum("cnt").as("n"))
        .withColumn("which", explode(array(lit("1_lo"), lit("2_med"), lit("3_hi"))))
        .withColumn("r", expr(
          "CASE WHEN which = '2_med' THEN (n + 1) div 2 " +
            "WHEN which = '1_lo' THEN greatest(1L, CAST(floor(" +
            "(CAST(n AS DOUBLE) - 1.96d * sqrt(CAST(n AS DOUBLE))) / 2.0d" +
            ") AS BIGINT)) " +
            "ELSE least(n, CAST(ceil(" +
            "(CAST(n AS DOUBLE) + 1.96d * sqrt(CAST(n AS DOUBLE))) / 2.0d" +
            ") + 1.0d AS BIGINT)) END"))
      cum.join(broadcast(ranks), "lang")
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .groupBy("lang", "n")
        .agg(max(when(col("which") === "2_med", col("v"))).as("median"),
          max(when(col("which") === "1_lo", col("v"))).as("ci_lo"),
          max(when(col("which") === "3_hi", col("v"))).as("ci_hi"))
        .reportSorted("lang")
    },
      Some("""WITH dist AS MATERIALIZED (
             |  SELECT lang, CAST(n_chars AS BIGINT) AS v,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM documents GROUP BY 1, 2),
             |cum AS (
             |  SELECT lang, v, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS BIGINT)
             |      AS cum
             |  FROM dist),
             |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n
             |        FROM dist GROUP BY 1),
             |ranks AS (
             |  SELECT lang, n, which,
             |    CASE WHEN which = '2_med' THEN (n + 1) // 2
             |         WHEN which = '1_lo' THEN greatest(1, CAST(floor(
             |           (CAST(n AS DOUBLE) - 196e-2 * sqrt(CAST(n AS DOUBLE)))
             |             / 2e0) AS BIGINT))
             |         ELSE least(n, CAST(ceil(
             |           (CAST(n AS DOUBLE) + 196e-2 * sqrt(CAST(n AS DOUBLE)))
             |             / 2e0) + 1e0 AS BIGINT)) END AS r
             |  FROM tot
             |  CROSS JOIN (SELECT unnest(['1_lo', '2_med', '3_hi']) AS which)),
             |hit AS (
             |  SELECT c.lang, n, which, v
             |  FROM cum c JOIN ranks k ON c.lang = k.lang
             |  WHERE cum >= r AND cum - cnt < r)
             |SELECT lang, n,
             |  max(CASE WHEN which = '2_med' THEN v END) AS median,
             |  max(CASE WHEN which = '1_lo' THEN v END) AS ci_lo,
             |  max(CASE WHEN which = '3_hi' THEN v END) AS ci_hi
             |FROM hit GROUP BY 1, 2 ORDER BY lang""".stripMargin)),

    // ---- Distribution drift via two-sample KS on sketch CDFs -------------
    // The monitoring op the sketch family exists for at 100 TB: is this
    // year's price distribution the same as last year's? Exact two-
    // sample Kolmogorov-Smirnov needs a global co-sort of both samples;
    // on LogHist sketches, D = max |cdf_a - cdf_b| evaluated on the
    // fixed bucket grid costs a per-pair window over <= 976 rows — the
    // sketches are the only thing that ever leaves the year partitions.
    // Grid evaluation under-reads the true D by at most the probability
    // mass of one bucket-width slice (the step functions are compared at
    // every bucket boundary), the documented resolution trade. Decision
    // at the classical 5% critical value 1.36*sqrt((n1+n2)/(n1*n2)),
    // computed in double space so n1*n2 cannot overflow int64 at scale.
    QueryDef("q239_sketch_ks", (s, d) => {
      val buckets = t(s, d, "orders")
        .select(year(col("o_orderdate")).as("yr"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
        .groupBy(col("yr"), expr(
          "CASE WHEN c < 32 THEN CAST(c AS INT) ELSE " +
            "CAST(((length(bin(c)) - 5) * 16) + shiftright(c, length(bin(c)) - 5) AS INT) END")
          .as("idx"))
        .agg(count(lit(1)).as("cnt"))
        .materialize // feeds both pair sides and the year totals
      val sides = buckets.select((col("yr")).as("pair"), col("idx"),
          col("cnt").as("ca"), lit(0L).as("cb"))
        .unionByName(buckets.select((col("yr") - 1).as("pair"), col("idx"),
          lit(0L).as("ca"), col("cnt").as("cb")))
        .groupBy("pair", "idx")
        .agg(sum("ca").as("ca"), sum("cb").as("cb"))
      val wP = Window.partitionBy("pair").orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = sides.groupBy("pair")
        .agg(sum("ca").as("na"), sum("cb").as("nb"))
        .filter(col("na") > 0 && col("nb") > 0)
      sides
        .withColumn("cuma", sum("ca").over(wP))
        .withColumn("cumb", sum("cb").over(wP))
        .join(broadcast(totals), "pair")
        .groupBy("pair", "na", "nb")
        .agg(max(abs(col("cuma").cast("double") / col("na").cast("double") -
          col("cumb").cast("double") / col("nb").cast("double"))).as("ks_d"))
        .select(col("pair").cast("int").as("year_a"),
          (col("pair") + 1).cast("int").as("year_b"),
          col("na").as("n_a"), col("nb").as("n_b"), col("ks_d"),
          (lit(1.36) * sqrt((col("na").cast("double") + col("nb").cast("double")) /
            (col("na").cast("double") * col("nb").cast("double"))))
            .as("critical_5pct"))
        .withColumn("drift", col("ks_d") > col("critical_5pct"))
        .reportSorted("year_a")
    },
      Some(s"""WITH v AS MATERIALIZED (
             |  SELECT year(o_orderdate) AS yr,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
             |  FROM orders),
             |b AS MATERIALIZED (
             |  SELECT yr, ${graft.functions.LogHist.sqlBucketOf("c")} AS idx,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM v GROUP BY 1, 2),
             |sides AS (
             |  SELECT pair, idx, CAST(sum(ca) AS BIGINT) AS ca,
             |    CAST(sum(cb) AS BIGINT) AS cb
             |  FROM (
             |    SELECT yr AS pair, idx, cnt AS ca, 0 AS cb FROM b
             |    UNION ALL
             |    SELECT yr - 1 AS pair, idx, 0 AS ca, cnt AS cb FROM b)
             |  GROUP BY 1, 2),
             |tot AS (
             |  SELECT pair, CAST(sum(ca) AS BIGINT) AS na,
             |    CAST(sum(cb) AS BIGINT) AS nb
             |  FROM sides GROUP BY 1
             |  HAVING sum(ca) > 0 AND sum(cb) > 0),
             |cum AS (
             |  SELECT s.pair, na, nb,
             |    CAST(sum(ca) OVER (PARTITION BY s.pair ORDER BY idx) AS BIGINT)
             |      AS cuma,
             |    CAST(sum(cb) OVER (PARTITION BY s.pair ORDER BY idx) AS BIGINT)
             |      AS cumb
             |  FROM sides s JOIN tot ON s.pair = tot.pair),
             |ks AS (
             |  SELECT pair, na, nb,
             |    max(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
             |      - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_d
             |  FROM cum GROUP BY 1, 2, 3)
             |SELECT CAST(pair AS INTEGER) AS year_a,
             |  CAST(pair + 1 AS INTEGER) AS year_b,
             |  na AS n_a, nb AS n_b, ks_d,
             |  1.36e0 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS critical_5pct,
             |  ks_d > 1.36e0 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
             |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS drift
             |FROM ks ORDER BY year_a""".stripMargin)),

    // ---- Exact interpolated quartiles (percentile_cont semantics) --------
    // The ANSI-SQL percentile_cont corner the rank-pick family (q64's
    // covers-weight median, q238's weighted rank picks) deliberately
    // avoids: the continuous quantile INTERPOLATES between adjacent
    // order statistics, Q_k = v[i] + f*(v[i+1] - v[i]) at zero-based
    // position (n-1)*k/4 = i + f/4. The fraction's denominator is
    // exactly 4, so 4*Q_k = (4-m)*v[i] + m*v[i+1] with m = (n-1)*k mod 4
    // stays EXACT int64 end to end — no engine round-off can diverge,
    // and the one division by 4.0 happens at the very end (q187's
    // discipline). Distributed shape: quartiles come off the grouped
    // VALUE DISTRIBUTION via the covers-weight trick — per group the
    // cumulative runs over value-stride chunks with two-phase offsets
    // ([[Sampling.chunkOffsets]]), so no task ever scans a whole
    // group's distribution however large the corpus.
    QueryDef("q273_exact_quartiles", (s, d) => {
      val dist = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
        .groupBy("flag", "v").agg(count(lit(1)).as("cnt"))
        .withColumn("chunk", expr("v div 16384"))
        .materialize // feeds local cums, chunk totals, group totals
      val wLoc = Window.partitionBy("flag", "chunk").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r15: cents-scale value domain -> bounded chunk table; offsets +
      // group totals ride boundedOffN's one window pass + ONE broadcast
      val offn = boundedOffN(
        dist.groupBy("flag", "chunk").agg(sum("cnt").as("tot")), "flag")
      val hist = dist
        .withColumn("lc", sum("cnt").over(wLoc))
        .join(broadcast(offn), Seq("flag", "chunk"))
        .withColumn("cum", col("lc") + col("off"))
      def covers(r: Column) = col("cum") - col("cnt") < r && r <= col("cum")
      def q4(k: Int): Column = {
        val i = expr(s"((n - 1) * $k) div 4")
        val m = expr(s"((n - 1) * $k) % 4")
        sum(when(covers(i + 1), col("v") * (lit(4L) - m)).otherwise(0L) +
          when(covers(i + 2), col("v") * m).otherwise(0L))
      }
      hist.groupBy("flag")
        .agg(max("n").as("n_rows"), q4(1).as("q41"), q4(2).as("q42"),
          q4(3).as("q43"))
        .select(col("flag").as("l_returnflag"), col("n_rows"),
          (col("q41").cast("double") / 4.0).as("q1_price"),
          (col("q42").cast("double") / 4.0).as("median_price"),
          (col("q43").cast("double") / 4.0).as("q3_price"),
          ((col("q43") - col("q41")).cast("double") / 4.0).as("iqr"))
        .reportSorted("l_returnflag")
    },
      Some {
        val q4Sql = (1 to 3).map { k =>
          val lo = s"((n - 1) * $k) // 4 + 1"
          val m = s"((n - 1) * $k) % 4"
          s"""CAST(sum(CASE WHEN cum - cnt < $lo AND $lo <= cum
             |      THEN v * (4 - $m) ELSE 0 END)
             |    + sum(CASE WHEN cum - cnt < $lo + 1 AND $lo + 1 <= cum
             |      THEN v * ($m) ELSE 0 END) AS BIGINT) AS q4$k""".stripMargin
        }.mkString(",\n")
        s"""WITH c AS MATERIALIZED (
           |  SELECT l_returnflag AS flag,
           |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
           |  FROM lineitem),
           |dq AS MATERIALIZED (
           |  SELECT flag, v, CAST(count(*) AS BIGINT) AS cnt
           |  FROM c GROUP BY 1, 2),
           |rq AS MATERIALIZED (
           |  SELECT flag, v, cnt,
           |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY v) AS BIGINT)
           |      AS cum,
           |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
           |  FROM dq),
           |g AS (
           |  SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
           |$q4Sql
           |  FROM rq GROUP BY flag)
           |SELECT flag AS l_returnflag, n_rows,
           |  CAST(q41 AS DOUBLE) / 4e0 AS q1_price,
           |  CAST(q42 AS DOUBLE) / 4e0 AS median_price,
           |  CAST(q43 AS DOUBLE) / 4e0 AS q3_price,
           |  CAST(q43 - q41 AS DOUBLE) / 4e0 AS iqr
           |FROM g ORDER BY l_returnflag""".stripMargin
      }),

    // ---- Streaming LogHist twin's cells under the driver gate ------------
    // The q234/q255 pattern applied to the quantile-sketch twin: the
    // STREAMING LogHist aggregation (graft.streaming.Streams
    // .logHistSketches — the same LogHistAgg the stateful twin folds)
    // exploded to (flag, bucket, count) cells, oracle-recomputed from
    // the bucket formula. StreamingSpec proves stream==batch; this row
    // makes the batch face itself hash-checked by the driver every
    // round, so the streaming contract is gate-covered, not spec-only.
    QueryDef("q289_loghist_cells", (s, d) =>
      graft.streaming.Streams.logHistSketches(t(s, d, "lineitem"))
        .select(col("flag"), explode(col("hist")).as("cell"))
        .select(col("flag"), col("cell._1").as("bucket"),
          col("cell._2").as("cnt"))
        .reportSorted("flag", "bucket"),
      Some(s"""SELECT l_returnflag AS flag,
             |  CAST(${graft.functions.LogHist.sqlBucketOf(
                 "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")}
             |    AS INTEGER) AS bucket,
             |  CAST(count(*) AS BIGINT) AS cnt
             |FROM lineitem
             |GROUP BY 1, 2
             |ORDER BY flag, bucket""".stripMargin)),

    // ---- Bloom filter: measured FPR attestation --------------------------
    // The missing QA readout behind q74/q145's Bloom consumers: build the
    // filter EXPLICITLY (m = 2^18 bits, k = 3 positions per key from
    // salted Lehmer re-hashes of the 62-bit shingle hash) over the
    // even-numbered sources' shingle universe, then probe it with the
    // odd-numbered sources' universe and MEASURE what the sizing math
    // only predicts: zero false negatives (structural — the query
    // reports the count so the driver gate would catch a violation),
    // the realized load factor, and the realized false-positive rate
    // vs the independence-model prediction load^k. Distributed shape:
    // the filter IS a DataFrame of set bit indices (<= m rows, int
    // keys), membership is a pos-keyed LEFT JOIN (present iff NO
    // position missing), so build and probe are plain keyed
    // joins/aggregations that scale to any corpus — no driver-side
    // bitset materializes at any point (contrast: Spark's own
    // might_contain needs the whole filter broadcast; this form keeps
    // 100 TB probe sets fully shuffled). One-row summary via the q76
    // broadcast-cross class.
    QueryDef("q268_bloom_fpr", (s, d) => {
      val mBits = 262144L
      val half = expr("CAST(substring(source, 4, 8) AS INT) % 2")
      val sh = t(s, d, "documents")
        .select(half.as("half"), explode(Dedup.shingleHashSet).as("h"))
      val members = sh.filter(col("half") === 0).select("h").distinct()
        .materialize // feeds the bit table AND the membership join
      // XOR salts, not additive: lehmer(h + c) is lehmer(h) + const mod M,
      // so additive salts make the k positions an arithmetic progression
      // (one degree of freedom -> measured FPR 12x the load^k model at
      // sf0.01, same failure as q212's rendezvous combine); XOR before
      // the Lehmer rounds decorrelates them.
      def posOf(i: Int): Column =
        pmod(Sampling.lehmer(col("h").bitwiseXOR(lit(bloomSalts(i)))),
          lit(mBits))
      val positions = array(posOf(0), posOf(1), posOf(2))
      val bits = members.select(explode(positions).as("pos")).distinct()
        .materialize // probed once, counted once
      val probeEval = sh.filter(col("half") === 1).select("h").distinct()
        .select(col("h"), explode(positions).as("pos")).distinct()
        .join(bits.withColumn("hit", lit(1)), Seq("pos"), "left")
        .groupBy("h")
        .agg(max(when(col("hit").isNull, 1).otherwise(0)).as("missed"))
        .join(members.withColumn("is_m", lit(1)), Seq("h"), "left")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("is_m") === 1, 1L).otherwise(0L)).as("n_probe_members"),
          sum(when(col("is_m").isNull, 1L).otherwise(0L)).as("n_nonmembers"),
          sum(when(col("is_m") === 1 && col("missed") === 1, 1L)
            .otherwise(0L)).as("n_false_neg"),
          sum(when(col("is_m").isNull && col("missed") === 0, 1L)
            .otherwise(0L)).as("n_false_pos"))
      val mrow = members.agg(count(lit(1)).as("n_members"))
      val brow = bits.agg(count(lit(1)).as("n_bits_set"))
      val load = col("n_bits_set").cast("double") / lit(mBits.toDouble)
      probeEval.crossJoin(broadcast(mrow)).crossJoin(broadcast(brow))
        .select(lit(mBits).as("m_bits"), lit(3L).as("k_hashes"),
          col("n_members"), col("n_bits_set"), load.as("load_factor"),
          col("n_probes"), col("n_probe_members"), col("n_nonmembers"),
          col("n_false_neg"), col("n_false_pos"),
          (col("n_false_pos").cast("double") /
            col("n_nonmembers").cast("double")).as("fpr_measured"),
          (load * load * load).as("fpr_independence"))
    },
      Some(s"""WITH hs AS MATERIALIZED (
             |  SELECT d.source, s.h
             |  FROM (${Dedup.sqlDocHashedShingles}) s
             |  JOIN documents d USING (doc_id)),
             |mem AS MATERIALIZED (
             |  SELECT DISTINCT h FROM hs
             |  WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 0),
             |pr AS MATERIALIZED (
             |  SELECT DISTINCT h FROM hs
             |  WHERE CAST(substr(source, 4) AS INTEGER) % 2 = 1),
             |bits AS MATERIALIZED (
             |  SELECT DISTINCT ${Sampling.sqlLehmerOf("xor(h, s.x)")}
             |    % 262144 AS pos
             |  FROM mem, (SELECT unnest([${bloomSalts.mkString(", ")}]) AS x) s),
             |pp AS MATERIALIZED (
             |  SELECT DISTINCT h, ${Sampling.sqlLehmerOf("xor(h, s.x)")}
             |    % 262144 AS pos
             |  FROM pr, (SELECT unnest([${bloomSalts.mkString(", ")}]) AS x) s),
             |pe AS (
             |  SELECT pp.h,
             |    max(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) AS missed
             |  FROM pp LEFT JOIN bits b ON pp.pos = b.pos
             |  GROUP BY pp.h),
             |agg AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_probes,
             |    CAST(sum(CASE WHEN m.h IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_probe_members,
             |    CAST(sum(CASE WHEN m.h IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_nonmembers,
             |    CAST(sum(CASE WHEN m.h IS NOT NULL AND pe.missed = 1
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
             |    CAST(sum(CASE WHEN m.h IS NULL AND pe.missed = 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
             |  FROM pe LEFT JOIN mem m ON pe.h = m.h),
             |mc AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM mem),
             |bc AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
             |SELECT CAST(262144 AS BIGINT) AS m_bits,
             |  CAST(3 AS BIGINT) AS k_hashes,
             |  n_members, n_bits_set,
             |  CAST(n_bits_set AS DOUBLE) / 262144e0 AS load_factor,
             |  n_probes, n_probe_members, n_nonmembers,
             |  n_false_neg, n_false_pos,
             |  CAST(n_false_pos AS DOUBLE) / CAST(n_nonmembers AS DOUBLE)
             |    AS fpr_measured,
             |  (CAST(n_bits_set AS DOUBLE) / 262144e0)
             |    * (CAST(n_bits_set AS DOUBLE) / 262144e0)
             |    * (CAST(n_bits_set AS DOUBLE) / 262144e0)
             |    AS fpr_independence
             |FROM agg CROSS JOIN mc CROSS JOIN bc""".stripMargin)),

    // ---- CMS inner-product join-size estimation --------------------------
    // The planner statistic behind "can this join run at 100 TB": an
    // equi-join's output cardinality is sum_k cA(k)*cB(k), which exact
    // computation prices at per-key counts plus a key join, while the
    // AGMS/CMS estimate prices at d*w counters PER SIDE — mergeable
    // map-side state two pipelines can exchange without shuffling keys
    // (Cormode & Muthukrishnan's inner-product estimator:
    // min_d sum_w cmsA[d][w]*cmsB[d][w] upper-bounds the true size with
    // expected slack ||a||1*||b||1/w per row — w = 4096 keeps that
    // slack under half the true size for these inputs). Uses a 4x4096
    // CMS (q146's shape, widened) over the shared
    // over the shared 62-bit key hashes, so the estimate AND its exact
    // attestation hash-match the oracle bit for bit. Two production
    // shapes: the skewed SELF-join (lineitem x lineitem on l_partkey —
    // the F2 moment that prices a skew-join strategy before running it)
    // and a fact-fact join (events x orders on the customer key — the
    // "sessionize then attribute" join whose blowup is worth knowing
    // BEFORE the shuffle). Scale shape: key-count tables are
    // distinct-key-sized, sketches are 4 KB constants; int64 products
    // are exact to ~3e9-row inputs per side — past that production
    // emits DOUBLE counters (the estimate tolerates it; the bit-exact
    // attestation is a test-scale artifact).
    QueryDef("q293_cms_join_size", (s, d) => {
      val w = 4096
      def keyed(df: org.apache.spark.sql.DataFrame, k: String) =
        df.filter(col(k).isNotNull)
          .groupBy(col(k).cast("long").as("k"))
          .agg(count(lit(1)).as("n"))
          .withColumn("h", element_at(graft.functions.ArrayExprs
            .windowHashes(array(col("k").cast("string")), 1), 1))
      def sliceAt(i: Int) = expr(s"(h div ${1L << (12 * i)}) % $w")
      def cms(cnt: org.apache.spark.sql.DataFrame) = cnt
        .select(col("n"),
          posexplode(array((0 until 4).map(sliceAt): _*)).as(Seq("i", "s")))
        .groupBy("i", "s").agg(sum("n").as("c"))
      def est(name: String, a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.join(b.select(col("i"), col("s"), col("c").as("c2")), Seq("i", "s"))
          .groupBy("i").agg(sum(col("c") * col("c2")).as("t"))
          .agg(min("t").as("cms_pairs"))
          .select(lit(name).as("join_name"), col("cms_pairs"))
      def exact(name: String, a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame) =
        a.select("k", "n").join(b.select(col("k"), col("n").as("n2")), "k")
          .agg(sum(col("n") * col("n2")).as("exact_pairs"))
          .select(lit(name).as("join_name"), col("exact_pairs"))
      val li = keyed(t(s, d, "lineitem"), "l_partkey").materialize
      val ev = keyed(t(s, d, "events"), "user_id").materialize
      val oo = keyed(t(s, d, "orders"), "o_custkey").materialize
      val cLi = cms(li).materialize // joined with itself below
      val exacts = exact("lineitem_self_partkey", li, li)
        .union(exact("events_orders_custkey", ev, oo))
      val ests = est("lineitem_self_partkey", cLi, cLi)
        .union(est("events_orders_custkey", cms(ev), cms(oo)))
      exacts.join(ests, "join_name")
        .select(col("join_name"), col("exact_pairs"), col("cms_pairs"),
          (col("cms_pairs") - col("exact_pairs")).as("overestimate"),
          ((col("cms_pairs") - col("exact_pairs")).cast("double") /
            col("exact_pairs").cast("double")).as("rel_error"))
        .orderBy("join_name")
    },
      Some {
        def keyedCte(src: String, k: String) =
          s"""SELECT k, CAST(count(*) AS BIGINT) AS n,
             |    ${Dedup.sqlStringHash62("CAST(k AS VARCHAR)")} AS h
             |  FROM (SELECT CAST($k AS BIGINT) AS k FROM $src
             |        WHERE $k IS NOT NULL) GROUP BY k""".stripMargin
        def cmsCte(of: String) =
          s"""SELECT i, s, CAST(sum(n) AS BIGINT) AS c FROM (
             |    SELECT 0 AS i, (h // 1) % 4096 AS s, n FROM $of
             |    UNION ALL SELECT 1, (h // 4096) % 4096, n FROM $of
             |    UNION ALL SELECT 2, (h // 16777216) % 4096, n FROM $of
             |    UNION ALL SELECT 3, (h // 68719476736) % 4096, n FROM $of)
             |  GROUP BY 1, 2""".stripMargin
        def estCte(name: String, a: String, b: String) =
          s"""SELECT '$name' AS join_name, min(t) AS cms_pairs FROM (
             |  SELECT a.i, CAST(sum(a.c * b.c) AS BIGINT) AS t
             |  FROM $a a JOIN $b b ON a.i = b.i AND a.s = b.s
             |  GROUP BY a.i)""".stripMargin
        s"""WITH la AS MATERIALIZED (
           |  ${keyedCte("lineitem", "l_partkey")}),
           |ev AS MATERIALIZED (
           |  ${keyedCte("events", "user_id")}),
           |oo AS MATERIALIZED (
           |  ${keyedCte("orders", "o_custkey")}),
           |cla AS MATERIALIZED (
           |  ${cmsCte("la")}),
           |cev AS MATERIALIZED (
           |  ${cmsCte("ev")}),
           |coo AS MATERIALIZED (
           |  ${cmsCte("oo")}),
           |exacts AS (
           |  SELECT 'lineitem_self_partkey' AS join_name,
           |    CAST(sum(n * n) AS BIGINT) AS exact_pairs FROM la
           |  UNION ALL
           |  SELECT 'events_orders_custkey',
           |    CAST(sum(ev.n * oo.n) AS BIGINT)
           |  FROM ev JOIN oo ON ev.k = oo.k),
           |ests AS (
           |  ${estCte("lineitem_self_partkey", "cla", "cla")}
           |  UNION ALL
           |  ${estCte("events_orders_custkey", "cev", "coo")})
           |SELECT e.join_name, exact_pairs, cms_pairs,
           |  cms_pairs - exact_pairs AS overestimate,
           |  CAST(cms_pairs - exact_pairs AS DOUBLE)
           |    / CAST(exact_pairs AS DOUBLE) AS rel_error
           |FROM exacts e JOIN ests USING (join_name)
           |ORDER BY join_name""".stripMargin
      }),

    // ---- Superspreader detection (per-key KMV distinct estimation) -------
    // The heavy-DISTINCT-hitter problem: q146's CMS finds keys with many
    // ROWS; a superspreader is a key touching many DISTINCT values
    // (customers ordering across the whole catalog = the mirror of
    // network scan detection). Exact per-key COUNT(DISTINCT) at 100 TB
    // is a full (key, value)-distinct shuffle; the KMV sketch caps
    // per-key state at k=64 hashes via the partial-aggregable
    // BottomKLongAgg (the q234 machinery, pointed at a GROUPED distinct
    // estimate): est = (k-1)*M/h_k, sigma ~ 1/sqrt(k-2) ~ 13%. Keys
    // below k sit in the exact regime (the sketch IS the value set).
    // Hash domain: the raw 62-bit polynomial hash of a SHORT digit
    // string concentrates near the bottom of its domain (h131 << p for
    // few characters — measured 26x overestimates), so the sketch runs
    // on the Lehmer-mixed [0, M) image (the q268 Bloom-position
    // pattern, whose measured-FPR law validated its uniformity).
    // Output: top-20 customers by exact distinct-part count with the
    // sketch estimate and an in-query attestation (|err| <= 3 sigma =
    // 0.4) — both engines derive every value from the same 62-bit
    // hashes, so estimate, error, and attestation all hash-match.
    // Scale: ONE distinct shuffle on (cust, part) feeds both the exact
    // verification and the sketch (ReuseExchange); production keeps
    // only the O(k)-per-key sketch pass.
    QueryDef("q296_superspreaders", (s, d) => {
      val spark = s
      import spark.implicits._
      val cp = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("cust"),
          col("l_partkey").cast("long").as("pk")).distinct()
      val exact = cp.groupBy("cust").agg(count(lit(1)).as("exact_parts"))
      val hashed = cp
        .select(col("cust"), Sampling.lehmer(
          element_at(graft.functions.ArrayExprs
            .windowHashes(array(col("pk").cast("string")), 1), 1)).as("h"))
        .distinct() // hash collisions merge — exactly what the sketch sees
      val bottomk = new graft.functions.BottomKLongAgg(64).toColumn
      val sk = hashed.as[(Long, Long)].groupByKey(_._1)
        .mapValues(r => (r._2, r._2))
        .agg(bottomk.name("kp"))
        .toDF("cust", "kp")
        .select(col("cust"),
          transform(col("kp"), p => p.getField("_1")).as("ks"))
      val est = when(size(col("ks")) < 64, size(col("ks")).cast("double"))
        .otherwise(lit(kmvNumM) / element_at(col("ks"), 64).cast("double"))
      exact.join(sk, "cust")
        .select(col("cust").as("custkey"), col("exact_parts"),
          est.as("kmv_est"))
        .withColumn("rel_err",
          abs(col("kmv_est") - col("exact_parts").cast("double"))
            / col("exact_parts").cast("double"))
        .withColumn("within_bounds", col("rel_err") <= 0.4)
        .orderBy(col("exact_parts").desc, col("custkey")).limit(20)
    },
      Some(s"""WITH cp AS MATERIALIZED (
             |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
             |    CAST(l_partkey AS BIGINT) AS pk
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |ex AS (
             |  SELECT cust, CAST(count(*) AS BIGINT) AS exact_parts
             |  FROM cp GROUP BY cust),
             |h0 AS (
             |  SELECT cust,
             |    ${Dedup.sqlStringHash62("CAST(pk AS VARCHAR)")} AS h0
             |  FROM cp),
             |dh AS MATERIALIZED (
             |  SELECT DISTINCT cust, ${Sampling.sqlLehmerOf("h0")} AS h
             |  FROM h0),
             |r AS (
             |  SELECT cust, h,
             |    row_number() OVER (PARTITION BY cust ORDER BY h) AS i
             |  FROM dh),
             |sk AS (
             |  SELECT cust, CAST(count(*) AS BIGINT) AS nh,
             |    max(CASE WHEN i = 64 THEN h END) AS h64
             |  FROM r WHERE i <= 64 GROUP BY cust),
             |est AS (
             |  SELECT ex.cust, exact_parts,
             |    CASE WHEN nh < 64 THEN CAST(nh AS DOUBLE)
             |         ELSE $kmvNumM / CAST(h64 AS DOUBLE) END AS kmv_est
             |  FROM ex JOIN sk ON ex.cust = sk.cust)
             |SELECT cust AS custkey, exact_parts, kmv_est,
             |  abs(kmv_est - CAST(exact_parts AS DOUBLE))
             |    / CAST(exact_parts AS DOUBLE) AS rel_err,
             |  abs(kmv_est - CAST(exact_parts AS DOUBLE))
             |    / CAST(exact_parts AS DOUBLE) <= 0.4 AS within_bounds
             |FROM est
             |ORDER BY exact_parts DESC, custkey LIMIT 20""".stripMargin)),

    // ---- CMS heavy-CHANGERS between two corpus halves --------------------
    // Change detection, not heavy hitters (Cormode & Muthukrishnan
    // §5.1): which tokens' counts moved most between two corpus slices
    // — the drift question a crawl-over-crawl monitor asks. Production
    // keeps one 4x4096 CMS PER SLICE (a few KB, mergeable, exchanged
    // without shuffling tokens) and diffs the sketches; this query
    // verifies that machinery end-to-end: top-20 movers by EXACT count
    // change, each probed against both sketches, with the one-sided
    // per-slice overestimate attested (the diff of two upper bounds is
    // NOT one-sided — the per-half bounds are, and that is what the
    // law pins). LEFT-join probes: a token absent from a slice may hit
    // an all-empty bucket row. Every value derives from the shared
    // 62-bit token hashes — fully hash-matchable.
    QueryDef("q301_heavy_changers", (s, d) => {
      val toks = t(s, d, "documents")
        .select(pmod(col("doc_id"), lit(2)).as("half"),
          explode(split(col("text"), " ")).as("t"))
      val cnt = toks.groupBy("half", "t").agg(count(lit(1)).as("n"))
        .withColumn("h", element_at(graft.functions.ArrayExprs
          .windowHashes(array(col("t")), 1), 1))
        .materialize // feeds both sketches AND the probe set
      def sliceAt(i: Int) = expr(s"(h div ${1L << (12 * i)}) % 4096")
      val cms = cnt.select(col("half"), col("n"),
          posexplode(array((0 until 4).map(sliceAt): _*)).as(Seq("i", "s")))
        .groupBy("half", "i", "s").agg(sum("n").as("c"))
        .materialize // 8 bounded probe broadcasts below
      var probed = cnt.groupBy("t")
        .agg(max("h").as("h"),
          sum(when(col("half") === 0, col("n")).otherwise(0L)).as("n0"),
          sum(when(col("half") === 1, col("n")).otherwise(0L)).as("n1"))
        .orderBy(abs(col("n0") - col("n1")).desc, col("t")).limit(20)
      for (i <- 0 until 4) probed = probed.withColumn(s"s$i", sliceAt(i))
      for (hf <- 0 to 1; i <- 0 until 4)
        probed = probed.join(
          broadcast(cms.filter(col("half") === hf && col("i") === i)
            .select(col("s").as(s"s$i"), col("c").as(s"c${hf}_$i"))),
          Seq(s"s$i"), "left")
      def estOf(hf: Int) = least((0 until 4).map(i =>
        coalesce(col(s"c${hf}_$i"), lit(0L))): _*)
      probed.select(col("t").as("token"), col("n0").as("exact_a"),
          col("n1").as("exact_b"),
          (col("n0") - col("n1")).as("exact_change"),
          estOf(0).as("est_a"), estOf(1).as("est_b"))
        .withColumn("overest_a", col("est_a") - col("exact_a"))
        .withColumn("overest_b", col("est_b") - col("exact_b"))
        .orderBy(abs(col("exact_change")).desc, col("token"))
    },
      Some {
        def slices(hf: Int) = (0 until 4).map(i =>
          s"""LEFT JOIN cms c${hf}_$i ON c${hf}_$i.half = $hf
             |  AND c${hf}_$i.i = $i
             |  AND c${hf}_$i.s = (top.h // ${1L << (12 * i)}) % 4096"""
            .stripMargin).mkString("\n")
        def estOf(hf: Int) = (0 until 4)
          .map(i => s"coalesce(c${hf}_$i.c, 0)").mkString("least(", ", ", ")")
        s"""WITH tok AS MATERIALIZED (
           |  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS t
           |  FROM documents),
           |cnt AS MATERIALIZED (
           |  SELECT half, t, CAST(count(*) AS BIGINT) AS n,
           |    ${Dedup.sqlStringHash62("t")} AS h
           |  FROM tok GROUP BY half, t),
           |cms AS MATERIALIZED (
           |  SELECT half, i, s, CAST(sum(n) AS BIGINT) AS c FROM (
           |    SELECT half, 0 AS i, (h // 1) % 4096 AS s, n FROM cnt
           |    UNION ALL SELECT half, 1, (h // 4096) % 4096, n FROM cnt
           |    UNION ALL SELECT half, 2, (h // 16777216) % 4096, n FROM cnt
           |    UNION ALL SELECT half, 3, (h // 68719476736) % 4096, n
           |      FROM cnt)
           |  GROUP BY 1, 2, 3),
           |top AS MATERIALIZED (
           |  SELECT t, max(h) AS h,
           |    CAST(sum(CASE WHEN half = 0 THEN n ELSE 0 END) AS BIGINT)
           |      AS n0,
           |    CAST(sum(CASE WHEN half = 1 THEN n ELSE 0 END) AS BIGINT)
           |      AS n1
           |  FROM cnt GROUP BY t
           |  ORDER BY abs(n0 - n1) DESC, t LIMIT 20)
           |SELECT top.t AS token, top.n0 AS exact_a, top.n1 AS exact_b,
           |  top.n0 - top.n1 AS exact_change,
           |  ${estOf(0)} AS est_a, ${estOf(1)} AS est_b,
           |  ${estOf(0)} - top.n0 AS overest_a,
           |  ${estOf(1)} - top.n1 AS overest_b
           |FROM top
           |${slices(0)}
           |${slices(1)}
           |ORDER BY abs(exact_change) DESC, token""".stripMargin
      }),

    // ---- Bloom-join shuffle-reduction estimator ---------------------------
    // q268 measured a Bloom filter's FPR; this prices the JOIN PLAN it
    // exists for: Spark's runtime row-level filtering builds a filter
    // on the dimension side (orders at priority 1-URGENT) and drops
    // probe-side rows (lineitem) BEFORE the shuffle. The query measures
    // the actual numbers a 100 TB planner needs: probe rows shipped
    // with vs without the filter, true matches, measured false-passes,
    // and the load-factor model — all through the distributed
    // bit-table join (no driver-side bitset; q268's XOR-salt Lehmer
    // positions, so the whole report hash-matches the oracle).
    // Per-key evaluation weighted by row counts: the filter decides
    // per KEY, the benefit is per ROW.
    QueryDef("q303_bloomjoin_benefit", (s, d) => {
      val mBits = 262144L
      def hashed(df: org.apache.spark.sql.DataFrame, k: String) =
        df.withColumn("h", element_at(graft.functions.ArrayExprs
          .windowHashes(array(col(k).cast("string")), 1), 1))
      val build = hashed(t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").cast("long").as("k")).distinct(), "k")
        .materialize // bit table + the match flag join
      def posOf(i: Int): Column =
        pmod(Sampling.lehmer(col("h").bitwiseXOR(lit(bloomSalts(i)))),
          lit(mBits))
      val positions = array(posOf(0), posOf(1), posOf(2))
      val bits = build.select(explode(positions).as("pos")).distinct()
        .materialize // probed once, counted once
      val probe = hashed(t(s, d, "lineitem")
        .groupBy(col("l_orderkey").cast("long").as("k"))
        .agg(count(lit(1)).as("nr")), "k")
        .materialize // position probe + final row-weighted sums
      val passed = probe.select(col("k"), explode(positions).as("pos"))
        .join(bits.withColumn("hit", lit(1)), Seq("pos"), "left")
        .groupBy("k")
        .agg(max(when(col("hit").isNull, 1).otherwise(0)).as("missed"))
      val flagged = probe.join(passed, "k")
        .join(build.select(col("k"), lit(1).as("m")), Seq("k"), "left")
      val agg = flagged.agg(
        sum(col("nr")).as("probe_rows"),
        sum(when(col("m") === 1, col("nr")).otherwise(0L)).as("match_rows"),
        sum(when(col("missed") === 0, col("nr")).otherwise(0L))
          .as("bloom_pass_rows"),
        sum(when(col("m").isNull && col("missed") === 0, col("nr"))
          .otherwise(0L)).as("fp_rows"))
      val brow = build.agg(count(lit(1)).as("n_build_keys"))
      val nbits = bits.agg(count(lit(1)).as("n_bits_set"))
      val load = col("n_bits_set").cast("double") / lit(mBits.toDouble)
      agg.crossJoin(broadcast(brow)).crossJoin(broadcast(nbits))
        .select(lit(mBits).as("m_bits"), col("n_build_keys"),
          col("n_bits_set"), load.as("load_factor"),
          col("probe_rows"), col("match_rows"), col("bloom_pass_rows"),
          col("fp_rows"),
          (col("bloom_pass_rows").cast("double")
            / col("probe_rows").cast("double")).as("shipped_frac"),
          (load * load * load).as("fpr_model"))
    },
      Some {
        val salts = s"(SELECT unnest([${bloomSalts.mkString(", ")}]) AS x)"
        s"""WITH bh AS MATERIALIZED (
           |  SELECT k, ${Dedup.sqlStringHash62("CAST(k AS VARCHAR)")} AS h
           |  FROM (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k
           |        FROM orders WHERE o_orderpriority = '1-URGENT')),
           |bits AS MATERIALIZED (
           |  SELECT DISTINCT ${Sampling.sqlLehmerOf("xor(h, s.x)")}
           |    % 262144 AS pos
           |  FROM bh, $salts s),
           |ph AS MATERIALIZED (
           |  SELECT k, CAST(count(*) AS BIGINT) AS nr,
           |    ${Dedup.sqlStringHash62("CAST(k AS VARCHAR)")} AS h
           |  FROM (SELECT CAST(l_orderkey AS BIGINT) AS k FROM lineitem)
           |  GROUP BY k),
           |pp AS MATERIALIZED (
           |  SELECT DISTINCT k, ${Sampling.sqlLehmerOf("xor(h, s.x)")}
           |    % 262144 AS pos
           |  FROM ph, $salts s),
           |pe AS (
           |  SELECT pp.k,
           |    max(CASE WHEN b.pos IS NULL THEN 1 ELSE 0 END) AS missed
           |  FROM pp LEFT JOIN bits b ON pp.pos = b.pos
           |  GROUP BY pp.k),
           |fl AS (
           |  SELECT ph.nr, pe.missed,
           |    CASE WHEN bh.k IS NOT NULL THEN 1 END AS m
           |  FROM ph JOIN pe ON ph.k = pe.k
           |  LEFT JOIN bh ON ph.k = bh.k),
           |agg AS (
           |  SELECT CAST(sum(nr) AS BIGINT) AS probe_rows,
           |    CAST(sum(CASE WHEN m = 1 THEN nr ELSE 0 END) AS BIGINT)
           |      AS match_rows,
           |    CAST(sum(CASE WHEN missed = 0 THEN nr ELSE 0 END) AS BIGINT)
           |      AS bloom_pass_rows,
           |    CAST(sum(CASE WHEN m IS NULL AND missed = 0 THEN nr
           |      ELSE 0 END) AS BIGINT) AS fp_rows
           |  FROM fl),
           |bc AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM bh),
           |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bits_set FROM bits)
           |SELECT CAST(262144 AS BIGINT) AS m_bits, n_build_keys,
           |  n_bits_set,
           |  CAST(n_bits_set AS DOUBLE) / 262144e0 AS load_factor,
           |  probe_rows, match_rows, bloom_pass_rows, fp_rows,
           |  CAST(bloom_pass_rows AS DOUBLE) / CAST(probe_rows AS DOUBLE)
           |    AS shipped_frac,
           |  (CAST(n_bits_set AS DOUBLE) / 262144e0)
           |    * (CAST(n_bits_set AS DOUBLE) / 262144e0)
           |    * (CAST(n_bits_set AS DOUBLE) / 262144e0) AS fpr_model
           |FROM agg CROSS JOIN bc CROSS JOIN nb""".stripMargin
      }),

    // ---- Sliding-window distinct users via KMV merge ----------------------
    // The mergeable-sketch answer to "distinct users in every trailing
    // 24-hour window": exact sliding distincts re-shuffle every
    // (window, user) pair — each event lands in 24 windows, and at
    // 100 TB that explode is the heaviest shuffle in the pipeline.
    // The sketch path keeps ONE bottom-64 KMV per hour (the q234
    // partial-aggregable build over Lehmer-mixed 62-bit user hashes)
    // and merges 24 tiny arrays per window — bottom-64 of a union of
    // bottom-64s IS the union's bottom-64 (any window-level minimum is
    // a fortiori an hour-level minimum), so the oracle verifies the
    // merge against the directly-ranked window hash set, bit for bit.
    // Exact distincts computed here as the attestation; production
    // ships only the per-hour sketches. 31-bit hash collisions shift
    // the exact-regime estimate by at most the collision count
    // (expected << 1 at these scales) and stay inside the 0.4 bound.
    QueryDef("q304_sliding_distinct", (s, d) => {
      val spark = s
      import spark.implicits._
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
        .select(expr("unix_micros(ts) div 3600000000").as("hr"),
          col("user_id").cast("long").as("u"))
        .withColumn("h", Sampling.lehmer(
          element_at(graft.functions.ArrayExprs
            .windowHashes(array(col("u").cast("string")), 1), 1)))
        .materialize // feeds the sketch build AND the exact side
      val hu = ev.select("hr", "h").distinct()
      val bottomk = new graft.functions.BottomKLongAgg(64).toColumn
      val hourSk = hu.as[(Long, Long)].groupByKey(_._1)
        .mapValues(r => (r._2, r._2))
        .agg(bottomk.name("kp"))
        .toDF("hr", "kp")
        .select(col("hr"),
          transform(col("kp"), p => p.getField("_1")).as("ks"))
      val winSk = hourSk
        .select(explode(expr("sequence(hr, hr + 23)")).as("w"), col("ks"))
        .groupBy("w")
        .agg(slice(array_sort(array_distinct(flatten(
          collect_list(col("ks"))))), 1, 64).as("ks"))
      val est = when(size(col("ks")) < 64, size(col("ks")).cast("double"))
        .otherwise(lit(kmvNumM) / element_at(col("ks"), 64).cast("double"))
      val winExact = ev.select(col("hr"), col("u")).distinct()
        .select(explode(expr("sequence(hr, hr + 23)")).as("w"), col("u"))
        .distinct()
        .groupBy("w").agg(count(lit(1)).as("exact_users"))
      winExact.join(winSk, "w")
        .select(col("w").as("window_end_hr"), col("exact_users"),
          est.as("kmv_est"))
        .withColumn("rel_err",
          abs(col("kmv_est") - col("exact_users").cast("double"))
            / col("exact_users").cast("double"))
        .withColumn("within_bounds", col("rel_err") <= 0.4)
        .reportSorted("window_end_hr")
    },
      Some(s"""WITH ev AS MATERIALIZED (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |    CAST(user_id AS BIGINT) AS u,
             |    ${Sampling.sqlLehmerOf("(" +
                    Dedup.sqlStringHash62(
                      "CAST(CAST(user_id AS BIGINT) AS VARCHAR)")
                      .linesIterator.map(_.trim).mkString(" ") + ")")} AS h
             |  FROM events WHERE ts IS NOT NULL),
             |wh AS MATERIALIZED (
             |  SELECT DISTINCT w, h FROM (
             |    SELECT unnest(range(hr, hr + 24)) AS w, h FROM ev)),
             |r AS (
             |  SELECT w, h,
             |    row_number() OVER (PARTITION BY w ORDER BY h) AS i
             |  FROM wh),
             |sk AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS nh,
             |    max(CASE WHEN i = 64 THEN h END) AS h64
             |  FROM r WHERE i <= 64 GROUP BY w),
             |we AS (
             |  SELECT w, CAST(count(DISTINCT u) AS BIGINT) AS exact_users
             |  FROM (SELECT unnest(range(hr, hr + 24)) AS w, u
             |        FROM (SELECT DISTINCT hr, u FROM ev))
             |  GROUP BY w),
             |est AS (
             |  SELECT we.w, exact_users,
             |    CASE WHEN nh < 64 THEN CAST(nh AS DOUBLE)
             |         ELSE $kmvNumM / CAST(h64 AS DOUBLE) END AS kmv_est
             |  FROM we JOIN sk ON we.w = sk.w)
             |SELECT w AS window_end_hr, exact_users, kmv_est,
             |  abs(kmv_est - CAST(exact_users AS DOUBLE))
             |    / CAST(exact_users AS DOUBLE) AS rel_err,
             |  abs(kmv_est - CAST(exact_users AS DOUBLE))
             |    / CAST(exact_users AS DOUBLE) <= 0.4 AS within_bounds
             |FROM est
             |ORDER BY window_end_hr""".stripMargin)),
  )
}
