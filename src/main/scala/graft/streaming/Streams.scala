package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming pipelines over the `events` table.
  *
  * The reference engine is batch-only (SURVEY §2.7); these are the
  * streaming-native counterparts of `graft.queries.Events`: watermarked
  * tumbling/sliding window aggregation and stateful sessionization via
  * `flatMapGroupsWithState`. Tests drive them from the parquet testdata
  * with a memory sink and `processAllAvailable()`.
  *
  * At scale these run exactly as written: the parquet source becomes
  * Kafka/files, the state store shards by group key across executors, and
  * the watermark bounds state size.
  */
object Streams {

  /** Schema of events.parquet with `ts` as the given physical load type —
    * the testdata has shipped `ts` both as TIMESTAMP(NANOS) (which Spark
    * surfaces as int64 under the legacy flag, see graft.Tables) and as
    * plain timestamp[us]; a file stream source must declare the schema
    * upfront, so it is probed from the existing files. */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a directory of events parquet files (Spark's
    * file stream source requires a directory; new files appearing in it
    * become new micro-batches). The `ts` physical type is probed from the
    * files already present and normalized to a session-TZ TIMESTAMP by
    * the batch load's own rule ([[graft.Tables.eventsSchema]],
    * [[graft.Tables.withSessionTs]]). */
  def source(spark: SparkSession, dir: String): DataFrame = {
    // An EMPTY source directory (the normal startup order — start the
    // query, files arrive later) cannot be probed, so fall back to the
    // current testdata generation (timestamp[us], which loads as NTZ).
    // The fallback only matters until the first file lands; a nanos-era
    // directory always has its files present before replay.
    val tsType = scala.util.Try(graft.Tables.eventsSchema(spark, dir)("ts").dataType)
      .getOrElse(TimestampNTZType)
    graft.Tables.withSessionTs(spark.readStream.schema(eventsRawSchema(tsType)).parquet(dir),
      tsType)
  }

  /** Watermarked tumbling-window counts per event type (1h windows). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window event rates (1h window, 15m slide). q143 runs it
    * over the batch table. */
  def slidingRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Watermarked hourly unique users per event type via HLL++ — the
    * streaming face of q33: sketch state is a few KB per open window
    * (vs exact distinct-count state growing with the user universe), and
    * the watermark expires windows so state stays bounded forever. */
  def hourlyUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .select(col("window.start").as("hour"), col("event_type"), col("approx_users"))

  /** Streaming exact-dedup on event_id with a watermark bounding the
    * dedup state (late duplicates beyond the watermark are dropped by
    * construction — the at-least-once ingestion companion). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")

  /** Stream-static enrichment: join the event stream against the customer
    * dimension (no state — the static side is re-planned per micro-batch,
    * broadcast when small). q141 runs it over the batch tables. */
  def enriched(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(customers,
      events("user_id") === customers("c_custkey"), "left_outer")
      .select(events("event_id"), events("event_type"), events("value"),
        customers("c_mktsegment"))

  /** Stream-stream interval join: for every purchase, the clicks by the
    * same user in the preceding hour. Both sides carry watermarks AND the
    * join condition bounds event-time distance — that pair is what lets
    * Spark expire join state (a click older than watermark + 1h can never
    * match again and is dropped), so state stays bounded on an unbounded
    * stream. q142 runs it over the batch table. */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    c.join(p,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("c_ts"), col("p_ts"))
  }

  /** Streaming ingest dedup: the streaming face of the batch
    * `Dedup.dedupAgainst` — new documents arrive as a stream, get exact-
    * deduped WITHIN the stream (first occurrence wins, keyed by content
    * hash) and against the accumulated static corpus (stream-static
    * anti-join on the hash; the static side is re-planned per
    * micro-batch, so a growing corpus table is picked up on restart).
    * With an ingest-time column the in-stream state would be bounded by
    * `withWatermark` before dropDuplicates; the documents fixture carries
    * no event time, so state here grows with distinct hashes — the spec
    * documents that contract. */
  def dedupedIngest(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(md5(col("text")).as("eh")).distinct()
    incoming
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .join(corpusHashes, col("content_hash") === col("eh"), "left_anti")
  }

  /** Streaming curation: the streaming face of the q68 batch pipeline,
    * with the FULL gate set — [[graft.queries.Curation.gatesOk]] is the
    * single shared definition, so batch and stream cannot drift. Every
    * gate is STATELESS (pure column arithmetic per row via native
    * expressions), so the gates ride the micro-batch with no aggregation
    * state — ahead of the stateful stream-vs-corpus ingest dedup. */
  def curatedIngest(incoming: DataFrame, corpus: DataFrame): DataFrame =
    dedupedIngest(incoming.filter(graft.queries.Curation.gatesOk), corpus)

  // the bounded-eval-set caps of the two eval-broadcast faces below
  private val MaxEvalDocs = 100000
  private val MaxEvalKeys = 10000000L

  /** Streaming decontamination: drop every incoming document that shares
    * a 3-token shingle with the (bounded, static) eval set — the
    * streaming face of `Dedup.decontaminate`, with the same broadcast
    * contract: an EVAL set is thousands of documents, so its distinct
    * shingle set collapses into one array row, cross-joined (broadcast)
    * into each micro-batch and tested with `arrays_overlap` — fully
    * stateless, no aggregation state, no stream-side shuffle. The static
    * side is re-planned per micro-batch, so an updated eval table is
    * picked up without restart.
    *
    * The bounded-eval-set contract is ENFORCED, not assumed: a corpus
    * passed as `evalDocs` would silently build a multi-GB single array
    * cell (and eventually hit the 2 GB array limit) — so construction
    * runs one bounded job (a limit-capped count, cost O(MaxEvalDocs)
    * regardless of the table's size) and fails fast instead. The doc
    * count alone cannot bound the PAYLOAD — few-but-enormous eval docs
    * still blow the single-cell broadcast (ADVICE r12) — so the
    * distinct-shingle count is guarded too; that second job explodes an
    * already doc-bounded set, so its cost is the same one pass the real
    * broadcast build pays every micro-batch anyway. */
  def decontaminatedIngest(incoming: DataFrame, evalDocs: DataFrame): DataFrame = {
    val n = evalDocs.limit(MaxEvalDocs + 1).count()
    require(n <= MaxEvalDocs,
      s"decontaminatedIngest: eval set exceeds $MaxEvalDocs documents — its " +
        "distinct shingle set must broadcast as ONE array cell per micro-batch; " +
        "raise MaxEvalDocs only if executor memory allows")
    def sh = graft.functions.ArrayExprs.shingles(split(col("text"), " "), 3)
    val nk = evalDocs.select(explode(sh).as("t"))
      .agg(count_distinct(col("t"))).head().getLong(0)
    require(nk <= MaxEvalKeys,
      s"decontaminatedIngest: eval set carries $nk distinct shingles > " +
        s"$MaxEvalKeys — the single-cell broadcast payload would exceed the " +
        "practical executor limit even though the document count passes")
    // collect_set deduplicates on its own — no pre-distinct, which would
    // add an exchange re-executed on the static side of every micro-batch
    val evalShingles = evalDocs
      .select(explode(sh).as("t"))
      .agg(collect_set(col("t")).as("ev"))
    incoming.crossJoin(evalShingles)
      .filter(!arrays_overlap(sh, col("ev")))
      .drop("ev")
  }

  /** Streaming face of the batch q320 contamination FRACTION — the
    * GPT-3-style soft filter, online: each arriving training doc scores
    * the fraction of its distinct 8-token windows that occur in the
    * (static, bounded) eval set, entirely map-side — the eval window
    * set broadcasts as one sorted array cell and the per-doc overlap is
    * one codegen'd hash-set pass
    * ([[graft.functions.ArrayExprs.overlapCount]]), so the stream stage
    * is STATELESS: no state store, no watermark, per-row cost
    * O(|doc windows| + |eval windows| lookup). Emits (doc_id,
    * n_windows, n_contaminated, contaminated_frac, flagged) — the exact
    * q320 row for that doc (the q324 face is driver-gated against
    * q320's own oracle). The bounded-eval-set contract is enforced the
    * same way as [[decontaminatedIngest]]'s. */
  def contaminationIngest(incoming: DataFrame, evalDocs: DataFrame): DataFrame = {
    val n = evalDocs.limit(MaxEvalDocs + 1).count()
    require(n <= MaxEvalDocs,
      s"contaminationIngest: eval set exceeds $MaxEvalDocs documents — its " +
        "distinct window set must broadcast as ONE array cell per micro-batch")
    def wins(c: org.apache.spark.sql.Column) = array_distinct(
      graft.functions.ArrayExprs.windowHashes(split(c, " "), 8))
    // the doc count alone cannot bound the PAYLOAD (ADVICE r12): long
    // eval docs can pack millions of windows into a passing doc count,
    // so the distinct-window total is guarded too — over an already
    // doc-bounded set, so the guard costs the one explode pass the
    // broadcast build repeats each micro-batch anyway
    val nw = evalDocs.select(explode(wins(col("text"))).as("win"))
      .agg(count_distinct(col("win"))).head().getLong(0)
    require(nw <= MaxEvalKeys,
      s"contaminationIngest: eval set carries $nw distinct windows > " +
        s"$MaxEvalKeys — the single-cell broadcast payload would exceed the " +
        "practical executor limit even though the document count passes")
    val bench = evalDocs
      .select(explode(wins(col("text"))).as("win"))
      .agg(collect_set(col("win")).as("bench"))
    incoming
      .select(col("doc_id"), wins(col("text")).as("w"))
      .crossJoin(bench)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_windows"),
        graft.functions.ArrayExprs.overlapCount(col("w"), col("bench"))
          .cast("long").as("n_contaminated"))
      .withColumn("contaminated_frac",
        when(col("n_windows") === 0L, lit(0.0))
          .otherwise(col("n_contaminated").cast("double")
            / col("n_windows").cast("double")))
      .withColumn("flagged", col("contaminated_frac") >= 0.05)
  }

  /** Streaming PII scrub: the stateless online face of the q114 email
    * redaction — detection and replacement are pure per-row column
    * expressions, so the scrub rides each micro-batch ahead of the
    * stateful ingest stages (the same composition order as
    * [[curatedIngest]]'s gates: cheap stateless filters first). The
    * pattern is the single shared q114 definition. */
  def scrubbedIngest(incoming: DataFrame): DataFrame = {
    val pii = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
    incoming
      .withColumn("n_pii", size(regexp_extract_all(col("text"), lit(pii), lit(0))))
      .withColumn("text", regexp_replace(col("text"), pii, "[EMAIL]"))
  }

  /** Streaming twin of the batch q146 Count-Min sketch: the running
    * 4 x 1024 heavy-hitter counter matrix over an unbounded document
    * stream. CMS is the canonical STREAMING sketch — cells are sums, so
    * the micro-batch partial aggregation IS the sketch merge, state is
    * the fixed <= 4096 counter rows forever (no watermark needed — the
    * state cannot grow), and at any instant the materialized counters
    * equal the batch sketch over everything ingested so far
    * (spec-asserted). Probing for estimates is the same 4-row min as
    * the batch side, done against the sink table. */
  def heavyHitterCounters(docs: DataFrame): DataFrame = {
    val toks = docs.select(explode(split(col("text"), " ")).as("t"))
      .withColumn("h", element_at(
        graft.functions.ArrayExprs.windowHashes(array(col("t")), 1), 1))
    def sliceAt(i: Int) = expr(s"(h div ${1L << (10 * i)}) % 1024")
    toks
      .select(posexplode(array((0 until 4).map(sliceAt): _*)).as(Seq("i", "s")))
      .groupBy("i", "s").agg(count(lit(1)).as("c"))
  }

  /** Streaming twin of the batch q157 KMV sketch build: per source, the
    * running set of the k=64 smallest 62-bit shingle hashes.
    * BottomKLongAgg's merge IS the KMV sketch union (set semantics, so
    * duplicate hashes across micro-batches collapse exactly like the
    * batch side's distinct()), state is <= 64 pairs per source forever,
    * and at any instant the materialized sketch equals the batch sketch
    * over everything ingested so far (spec-asserted). Distinct-count /
    * overlap estimates derive from the sink table exactly as q157
    * derives them from the batch sketch. */
  def kmvSketches(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bottomk = new graft.functions.BottomKLongAgg(64).toColumn
    docs.select(col("source"), explode(graft.queries.Dedup.shingleHashSet).as("h"))
      .as[(String, Long)].groupByKey(_._1)
      .mapValues(r => (r._2, r._2))
      .agg(bottomk.name("kp"))
      .toDF("source", "kp")
      .select(col("source"), transform(col("kp"), p => p.getField("_1")).as("ks"))
  }

  /** Streaming twin of q233's quantile-sketch build: per l_returnflag,
    * the LogHist bucket->count histogram over exact price cents. The
    * Aggregator is a commutative monoid (fixed bucket universe, counter
    * addition), so complete-mode streaming accumulation equals the
    * batch sketch cell for cell whatever the micro-batch split — the
    * same argument as [[heavyHitterCounters]]'s CMS matrix. q233 builds
    * its batch sketch through THIS function, so the twin contract
    * cannot drift. */
  def logHistSketches(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    lineitem
      .select(col("l_returnflag").as("flag"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("c"))
      .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.LogHistAgg().toColumn.name("hist"))
      .toDF("flag", "hist")
  }

  final case class Scd2Ev(user_id: Long, event_id: Long, us: Long, k: Int)
  final case class Scd2State(lastK: Int, version: Int, openFrom: Long)
  final case class Scd2Closed(user_id: Long, version: Int, k: Int,
      valid_from_us: Long, valid_to_us: Long)

  /** Streaming twin of the batch q159 SCD2 build: per user, emit each
    * CLOSED type-2 interval the moment the property changes (the open
    * interval lives in state — it is by definition not final until the
    * next change). Replaying the event log in per-user time order
    * reproduces exactly q159's closed rows (the batch-equality spec
    * drives that); out-of-order arrival versions by arrival, the online
    * contract. State is one (lastK, version, openFrom) record per
    * entity — profile state is entity-lifetime by nature (same contract
    * as [[noveltyIngest]]'s seen-set, documented there); at scale the
    * state store shards by user across executors. */
  def scd2Ingest(events: DataFrame): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    graft.queries.Events.scd2Prep(events)
      .as[Scd2Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Scd2Ev], state: GroupState[Scd2State]) =>
          val out = Seq.newBuilder[Scd2Closed]
          var cur = state.getOption
          batch.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            cur match {
              case None => cur = Some(Scd2State(e.k, 1, e.us))
              case Some(st) if st.lastK != e.k =>
                out += Scd2Closed(userId, st.version, st.lastK, st.openFrom, e.us)
                cur = Some(Scd2State(e.k, st.version + 1, e.us))
              case _ => ()
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  final case class CusumEv(event_type: String, day: Long, us: Long,
      event_id: Long, y: Long)
  final case class CusumDay(day: Long, n: Long, sy: Long)
  final case class CusumState(open: Option[CusumDay],
      buffered: List[CusumDay], mu0: Option[Long], sPos: Long, sNeg: Long)
  final case class CusumPoint(event_type: String, day: Long, n: Long,
      m: Long, mu0: Long, cusum_pos: Long, cusum_neg: Long,
      shift_flag: Boolean)

  /** Streaming twin of the batch q179 CUSUM detector: per event_type,
    * emit each day's CUSUM point the moment the day CLOSES (a later-day
    * event arrives — the open day lives in state, not final until then;
    * q159's open-interval contract). The batch baseline (μ₀ = mean of
    * the first 7 days) is honored online by buffering the first 7
    * closed days in state and flushing them through the recursion once
    * the baseline completes, so replaying the log in time order
    * reproduces exactly q179's rows for every closed day (the
    * batch-equality spec drives that). State per metric is one open-day
    * accumulator, the ≤7-day baseline buffer, and two int64 CUSUM
    * registers — constant size forever after the baseline closes. */
  /** Streaming twin of q199's weekday-seasonal anomaly alarm: daily
    * tumbling counts per event type under a 25-hour watermark (one full
    * day of lateness before a day closes), each closed day z-scored
    * against a BROADCAST static weekday profile
    * (queries.Events.weekdayProfile — trained on history, refreshed
    * per micro-batch like every stream-static dimension). The scoring
    * expression is literally the batch side's
    * (queries.Events.seasonalScore), so a closed day flags online iff
    * q199 flags it offline — the batch-equality spec drives that. State
    * is one open-day aggregate per event type, expired by the
    * watermark; the profile join is stateless. */
  final case class HampelEv(event_type: String, day: Long, us: Long,
      event_id: Long)
  final case class HampelDay(day: Long, n: Long)
  final case class HampelState(open: Option[HampelDay], closed: Seq[HampelDay])
  final case class HampelPoint(event_type: String, d_idx: Long, x: Long,
      med7: Long, mad7: Long, is_outlier: Boolean)

  /** Streaming twin of q217's Hampel filter: per event type, daily
    * counts accumulate in one open-day register; each day CLOSE pushes
    * onto a 7-deep ring of closed days, and once the ring is full the
    * CENTER day (4th-newest) gets its median/MAD verdict — i.e. a day
    * is judged exactly 3 closed days after it, the online face of the
    * batch side's rows-between(-3,3) window. All-integer state (at most
    * 8 (day, count) pairs per type — constant forever) and all-integer
    * verdicts, so replaying the log in time order reproduces q217's
    * rows bit-for-bit for every day with a complete window (the
    * batch-equality spec drives that). */
  def hampelIngest(events: DataFrame): Dataset[HampelPoint] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[HampelEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HampelState, HampelPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[HampelEv],
            state: GroupState[HampelState]) =>
          val out = Seq.newBuilder[HampelPoint]
          var st = state.getOption.getOrElse(HampelState(None, Nil))
          def closeDay(d: HampelDay): Unit = {
            val ring = (st.closed :+ d).takeRight(7)
            st = st.copy(closed = ring)
            if (ring.length == 7) {
              val center = ring(3)
              val sorted = ring.map(_.n).sorted
              val med = sorted(3)
              val mad = ring.map(r => math.abs(r.n - med)).sorted.apply(3)
              out += HampelPoint(etype, center.day, center.n, med, mad,
                math.abs(center.n - med) > 3L * mad)
            }
          }
          batch.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            st.open match {
              case Some(o) if o.day == e.day =>
                st = st.copy(open = Some(o.copy(n = o.n + 1)))
              case Some(o) =>
                closeDay(o)
                st = st.copy(open = Some(HampelDay(e.day, 1L)))
              case None =>
                st = st.copy(open = Some(HampelDay(e.day, 1L)))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming seasonal-anomaly alarm: watermarked daily windows per
    * event type, scored against the BROADCAST weekday profile (a bounded
    * |types| x 7 table from the batch q212 — production would refresh it
    * per day). Deterministic given the profile; one windowed shuffle,
    * profile join map-side. */
  def seasonalAlarm(events: DataFrame, profile: DataFrame): DataFrame =
    graft.queries.Events.seasonalScore(
      events
        .withWatermark("ts", "25 hours")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("x"))
        .select(expr("unix_micros(window.start) div 86400000000").as("d_idx"),
          col("event_type"), col("x"))
        .withColumn("dow", expr("(d_idx + 3) % 7"))
        .join(broadcast(profile), Seq("event_type", "dow")))

  /** Stateful CUSUM change detection per event type: the one-sided
    * cumulative-sum recurrence (slack K, threshold H, integer
    * micro-units — bit-exact, no doubles) carried in one small state
    * record per type; alarm resets the sum, matching the batch q226
    * recurrence row-for-row on a single-trigger replay. State is
    * O(|event types|), sharded by type. */
  def cusumIngest(events: DataFrame): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    val K = 5000L
    val H = 25000L
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"))
      .as[CusumEv]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, batch: Iterator[CusumEv], state: GroupState[CusumState]) =>
          val out = Seq.newBuilder[CusumPoint]
          var st = state.getOption.getOrElse(
            CusumState(None, Nil, None, 0L, 0L))
          def runDay(d: CusumDay, mu0: Long): Unit = {
            val m = d.sy * 1000L / d.n
            st = st.copy(
              sPos = math.max(0L, st.sPos + (m - mu0 - K)),
              sNeg = math.max(0L, st.sNeg + (mu0 - m - K)))
            out += CusumPoint(etype, d.day, d.n, m, mu0, st.sPos, st.sNeg,
              st.sPos > H || st.sNeg > H)
          }
          def closeDay(d: CusumDay): Unit = st.mu0 match {
            case Some(mu0) => runDay(d, mu0)
            case None =>
              val buf = st.buffered :+ d
              if (buf.length < 7) st = st.copy(buffered = buf)
              else {
                val mu0 = buf.map(_.sy).sum * 1000L / buf.map(_.n).sum
                st = st.copy(buffered = Nil, mu0 = Some(mu0))
                buf.foreach(runDay(_, mu0))
              }
          }
          batch.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            st.open match {
              case Some(o) if o.day == e.day =>
                st = st.copy(open = Some(o.copy(n = o.n + 1, sy = o.sy + e.y)))
              case Some(o) =>
                closeDay(o)
                st = st.copy(open = Some(CusumDay(e.day, 1L, e.y)))
              case None =>
                st = st.copy(open = Some(CusumDay(e.day, 1L, e.y)))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** One first-seen shingle credit: the shingle's 62-bit hash and the
    * source it is attributed to. */
  final case class NovelHit(sh: Long, source: String)

  /** Streaming twin of the batch q100 source-novelty attribution: emit
    * each distinct 3-token shingle (62-bit window hash, q78's narrow
    * key) EXACTLY ONCE, credited to the source that first delivers it —
    * the online form of "which source adds new content", accumulated as
    * the crawl streams in. Within a micro-batch the batch rule applies
    * (min source among the batch's carriers), so replaying sources in
    * curation order reproduces q100 exactly (the batch-equality spec
    * drives that); out-of-order arrival credits the earlier ARRIVAL,
    * the online contract.
    *
    * State is one boolean per distinct shingle ever seen — the novelty
    * question is inherently corpus-lifetime state (same contract as
    * [[dedupedIngest]]'s hash state, documented there); at scale the
    * state store shards by shingle hash across executors. Downstream,
    * per-source counts are a stateless rollup of this append stream. */
  def noveltyIngest(docs: DataFrame): Dataset[NovelHit] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("source"), explode(graft.queries.Dedup.shingleHashSet).as("sh"))
      .as[(String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, NovelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sh: Long, rows: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(NovelHit(sh, rows.map(_._1).min))
          }
      }
  }

  /** One retained paragraph occurrence: its 62-bit hash and the
    * (doc_id, para_id) slot that keeps it. */
  final case class ParaKeep(h: Long, doc_id: Long, para_id: Int)

  /** Streaming twin of the batch q117 paragraph dedup: emit each
    * distinct paragraph (tumbling 8-token chunk, 62-bit hash key)
    * EXACTLY ONCE, attributed to the (doc_id, para_id) slot that first
    * delivers it. Within a micro-batch the batch rule applies (min
    * (doc_id, para_id) among the batch's carriers), so replaying the
    * corpus in id order reproduces q117's keep set exactly (the
    * batch-equality spec drives that); out-of-order arrival keeps the
    * earlier ARRIVAL — the online contract. State is one boolean per
    * distinct paragraph ever seen ([[noveltyIngest]]'s lifetime-state
    * contract, sharded by hash across executors at scale); the per-doc
    * retention rollup downstream is stateless over this append stream. */
  def paragraphDedupIngest(docs: DataFrame): Dataset[ParaKeep] = {
    import docs.sparkSession.implicits._
    val w = 8
    val tk = split(col("text"), " ")
    docs
      .select(col("doc_id"), tk.as("tk"), size(tk).as("n"))
      .select(col("doc_id"), col("tk"),
        posexplode(transform(
          sequence(lit(0), expr(s"(n - 1) div $w")),
          i => (i * w).cast("int"))).as(Seq("para_id", "start")))
      .select(col("doc_id"), col("para_id"),
        element_at(graft.functions.ArrayExprs.windowHashes(
          array(array_join(slice(col("tk"), col("start") + 1, lit(w)), " ")), 1), 1)
          .as("h"))
      .as[(Long, Int, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, ParaKeep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: Long, rows: Iterator[(Long, Int, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.map(r => (r._1, r._2)).min
            Iterator.single(ParaKeep(h, first._1, first._2))
          }
      }
  }

  /** One packed-document placement: the document, its token length, its
    * pack group, and the group-local bin it landed in. */
  final case class PackAssign(doc_id: Long, len: Long, grp: Long, bin: Long)

  /** The open tail of a pack group's fold: current bin + its remaining
    * capacity. ~16 bytes per group in the state store. */
  final case class PackState(bin: Long, rem: Long)

  /** Streaming twin of the batch q331 whole-document next-fit packer —
    * the pipeline's one truly SEQUENTIAL op, so this face carries real
    * state: (open bin, remaining capacity) per pack group, folding each
    * arriving document into the group where the previous micro-batch
    * left off instead of re-packing the corpus. Within one micro-batch
    * a group's documents fold in the batch visit order ((lehmer(doc_id),
    * doc_id) — q331's rule), so a single-batch corpus replay reproduces
    * the batch packer exactly (the q336 gate); across micro-batches the
    * fold continues from the stored state — the online contract: a bin
    * may stay open between batches, and later arrivals never reopen
    * earlier bins. The recurrence is the single documented definition in
    * [[graft.functions.ArrayOps.nextFitBins]].
    *
    * `nGroups` is deployment configuration (the q336 face derives it
    * from the corpus snapshot's parquet footer count so twin and batch
    * agree); state is one 2-long record per group, sharded by group key
    * across executors at scale. */
  def packIngest(docs: DataFrame, nGroups: Long): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    val cap = 128L
    val M = 2147483647L
    val stride = M / nGroups + 1
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"),
        graft.queries.Sampling.lehmer(col("doc_id")).as("h"))
      .withColumn("grp", expr(s"h div $stride"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[PackState, PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (grp: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[PackState]) =>
          val st = state.getOption.getOrElse(PackState(0L, cap))
          var bin = st.bin
          var rem = st.rem
          val out = rows.toSeq.sortBy(r => (r._3, r._1)).map {
            case (id, len, _, _) =>
              if (len > rem && rem < cap) { bin += 1L; rem = cap }
              val a = PackAssign(id, len, grp, bin)
              rem = if (len >= rem) 0L else rem - len
              a
          }
          state.update(PackState(bin, rem))
          out.iterator
      }
  }

  /** One arriving document's row in one dedup-index bucket: its 8 LSH
    * band rows (band 0..7, bh = band hash) plus ONE exact row (band = -1,
    * bh = xxhash64(text) as the shard key; `eh` = md5 decides equality so
    * a 64-bit key collision can never create a false exact-dup). */
  final case class IngestRow(doc_id: Long, band: Int, bh: Long,
      sh: Seq[String], eh: String)

  /** A drop verdict: arriving doc `i_id` matched indexed doc `e_id` in
    * band `band` (-1 = exact md5 match, else verified Jaccard >= 0.8). */
  final case class DedupVerdict(i_id: Long, band: Int, e_id: Long)

  final case class BucketMember(id: Long, eh: String, sh: Seq[String])
  final case class BucketState(members: Seq[BucketMember])

  /** Streaming twin of the batch q63 incremental dedup — arriving
    * documents checked against the corpus LSH index held IN THE STATE
    * STORE, per band bucket (the production shape: the index is state,
    * sharded by (band, band-hash) across executors; it is seeded here via
    * flatMapGroupsWithState's initial-state support from the `existing`
    * corpus — in production the persisted index from the previous run).
    *
    * Per trigger, each bucket checks its arrivals against the PRE-trigger
    * member snapshot (exact bucket: md5 equality; band buckets: exact
    * Jaccard >= 0.8 on the shared shingle arrays — the same verify rule
    * as q63's crossPairs, over the same q63 banding via Dedup.bandedSig,
    * so a single-trigger replay emits exactly q63's drop set), then
    * appends the arrivals to the bucket. Across triggers that is the
    * online arrival contract: a later arrival IS checked against earlier
    * arrivals. The index accumulates every arrival regardless of verdict
    * (bucket-local determinism — a member's global keep/drop outcome
    * aggregates across its 9 buckets downstream and is not known here);
    * retention decisions consume the verdict stream: a doc with no
    * verdict survives, exactly q63's anti-join (the q338 face).
    *
    * State cost: one member record (id, md5, distinct shingle strings)
    * per doc per bucket — 9x the corpus's shingle footprint, the price of
    * a verify-capable index. Production would store hashed shingles
    * (8 bytes/shingle) and accept the 2^-62 collision odds; strings keep
    * the oracle byte-exact here. */
  def dedupIngest(existing: DataFrame, incoming: DataFrame): Dataset[DedupVerdict] = {
    import incoming.sparkSession.implicits._
    def rows(df: DataFrame): Dataset[IngestRow] =
      graft.queries.Dedup.bandedSig(graft.queries.Dedup.prepShingled(df))
        .select(col("doc_id"), col("band").cast("int").as("band"),
          col("bh"), col("sh"), lit("").as("eh"))
        .unionByName(df.select(col("doc_id"), lit(-1).as("band"),
          xxhash64(col("text")).as("bh"),
          array().cast("array<string>").as("sh"), md5(col("text")).as("eh")))
        .as[IngestRow]
    val initStates = rows(existing)
      .groupByKey(r => (r.band, r.bh))
      .mapGroups { (k, it) =>
        (k, BucketState(it.map(r => BucketMember(r.doc_id, r.eh, r.sh))
          .toSeq.sortBy(_.id)))
      }
      .groupByKey(_._1).mapValues(_._2)
    rows(incoming)
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BucketState, DedupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout, initStates) {
        (key: (Int, Long), batch: Iterator[IngestRow],
            state: GroupState[BucketState]) =>
          val members = state.getOption.map(_.members).getOrElse(Seq.empty)
          val arrivals = batch.toSeq.sortBy(_.doc_id)
          val out = arrivals.flatMap { a =>
            if (key._1 == -1)
              members.collect { case m if m.eh == a.eh =>
                DedupVerdict(a.doc_id, -1, m.id) }
            else {
              val aset = a.sh.toSet
              members.collect { case m
                if {
                  val mset = m.sh.toSet
                  val inter = aset.intersect(mset).size
                  inter.toDouble / (aset.size + mset.size - inter) >= 0.8
                } => DedupVerdict(a.doc_id, key._1, m.id) }
            }
          }
          state.update(BucketState(members ++
            arrivals.map(r => BucketMember(r.doc_id, r.eh, r.sh))))
          out.iterator
      }
  }

  /** One mined pairwise comparison — the batch q341 row shape. */
  final case class Duel(user_id: Long, first_id: Long, second_id: Long,
      winner: String, loser: String, later_won: Boolean)

  /** The duel fold's state: one annotator's most recent judgment
    * (~40 bytes per active annotator in the state store). */
  final case class LastJudgment(us: Long, id: Long, typ: String,
      value: Double)

  /** Streaming twin of the batch q341 duel extraction — pairwise
    * preferences mined ONLINE as annotator judgments arrive. State is
    * the single most-recent judgment per annotator; each arrival with a
    * different arm and a strict value difference emits one duel against
    * it, then replaces it. Within a micro-batch an annotator's rows
    * fold in (us, event_id) order — q341's exact ordering rule — so a
    * single-batch replay reproduces the batch extraction row-for-row
    * (the q346 gate); across micro-batches the fold continues from the
    * stored judgment: a duel forms across the trigger boundary and
    * state never resets — the online arrival contract StreamingSpec
    * drives with a real MemoryStream. Same-arm or exact-tie arrivals
    * emit nothing but STILL advance the state (they are the new most
    * recent judgment), exactly like the batch window's lag(1). */
  def duelIngest(events: DataFrame): Dataset[Duel] = {
    import events.sparkSession.implicits._
    events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastJudgment, Duel](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
            state: GroupState[LastJudgment]) =>
          var prev = state.getOption
          val out = Seq.newBuilder[Duel]
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach {
            case (_, id, us, typ, v) =>
              prev.foreach { p =>
                // Catalyst comparison semantics, NOT Scala primitives
                // (the q346 twin rule: batch duels() compares with =!=
                // and >): NaN equals NaN (Scala NaN != NaN is true) and
                // sorts ABOVE every other double; -0.0 equals 0.0.
                // Double.compare gives the NaN ordering; the == 0.0
                // normalization removes its -0.0 < 0.0 distinction.
                val cmp = java.lang.Double.compare(
                  if (p.value == 0.0d) 0.0d else p.value,
                  if (v == 0.0d) 0.0d else v)
                if (p.typ != typ && cmp != 0)
                  out += Duel(user, p.id, id,
                    if (cmp < 0) typ else p.typ,
                    if (cmp < 0) p.typ else typ,
                    cmp < 0)
              }
              prev = Some(LastJudgment(us, id, typ, v))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** One gated conversation — the batch q350 row shape. */
  final case class ConvGate(user_id: Long, conv_id: Long, n_turns: Long,
      dur_us: Long, n_roles: Long, total_len: Option[Long], n_breaks: Long,
      keep: Boolean)

  /** One conversation turn on the wire. `flush = true` marks an
    * end-of-input tick: it closes the user's open conversation without
    * starting a new one (the batch face injects one per user; a
    * production stream sends it from the upstream EOF/cutoff signal). */
  final case class ConvTurn(user_id: Long, event_id: Long, us: Long,
      typ: String, len: Option[Int], flush: Boolean)

  /** The open conversation's incremental accumulator plus the per-user
    * conversation counter — one small record per ACTIVE USER in the
    * state store, bounded by the user population, never by stream
    * length (roles is the distinct event-type set: a bounded domain). */
  final case class ConvAcc(start: Long, last: Long, nTurns: Long,
      roles: Seq[String], sumLen: Long, hasLen: Boolean, prevTyp: String,
      nBreaks: Long)
  final case class ConvAsmState(counter: Long, open: Option[ConvAcc])

  /** Map-only turn projection for [[convGateIngest]] — the streaming
    * form of the batch turn rule (q350's): drop null timestamps,
    * integer-microsecond time, token length from the JSON `props.k`. */
  def convTurns(events: DataFrame): Dataset[ConvTurn] = {
    import events.sparkSession.implicits._
    events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("typ"),
        get_json_object(col("props"), "$.k").cast("int").as("len"),
        lit(false).as("flush"))
      .as[ConvTurn]
  }

  /** One far-future flush tick per user present in `events` — the
    * batch face's end-of-input marker forcing every open conversation
    * closed, so a full replay equals the batch q350 gate exactly. */
  def convFlushTicks(events: DataFrame): Dataset[ConvTurn] = {
    import events.sparkSession.implicits._
    events.select(col("user_id")).distinct()
      .select(col("user_id"), lit(Long.MaxValue).as("event_id"),
        lit(Long.MaxValue).as("us"), lit("").as("typ"),
        lit(null).cast("int").as("len"), lit(true).as("flush"))
      .as[ConvTurn]
  }

  /** Streaming twin of the batch q350 chat-quality gate: conversations
    * are ASSEMBLED ONLINE — a user's turns fold into the open
    * conversation's accumulator (turn count, span, role set, token
    * sum, role-run breaks); a turn beyond the inactivity gap closes the
    * conversation, emits its gate row, and opens the next; a flush tick
    * closes without opening. Within a micro-batch a user's rows fold in
    * (us, event_id) order — the batch window's exact ordering rule — so
    * a full replay (+ flush) reproduces the batch gate row-for-row (the
    * q367 driver gate); across micro-batches the fold continues from
    * stored state: a conversation spans the trigger boundary and its
    * counter never resets (the StreamingSpec arrival contract).
    *
    * The keep verdict replays Catalyst's null semantics exactly: any
    * FALSE structural conjunct wins over an unparseable token total
    * (keep = false, not null), and a parseable-token conversation needs
    * all three conjuncts — the batch coalesce(a AND b AND c, false). */
  def convGateIngest(turns: Dataset[ConvTurn]): Dataset[ConvGate] = {
    import turns.sparkSession.implicits._
    val gapUs = graft.queries.Conversation.GapUs
    def close(u: Long, cid: Long, a: ConvAcc): ConvGate =
      ConvGate(u, cid, a.nTurns, a.last - a.start, a.roles.size.toLong,
        if (a.hasLen) Some(a.sumLen) else None, a.nBreaks,
        a.nTurns >= 2 && a.nBreaks * 4 <= a.nTurns &&
          a.hasLen && a.sumLen <= 2048)
    turns.groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvAsmState, ConvGate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[ConvTurn],
            state: GroupState[ConvAsmState]) =>
          var st = state.getOption.getOrElse(ConvAsmState(0L, None))
          val out = Seq.newBuilder[ConvGate]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            if (r.flush) {
              st.open.foreach(a => out += close(user, st.counter, a))
              st = st.copy(open = None)
            } else st.open match {
              case Some(a) if r.us - a.last <= gapUs =>
                st = st.copy(open = Some(ConvAcc(
                  a.start, r.us, a.nTurns + 1,
                  if (r.typ == null || a.roles.contains(r.typ)) a.roles
                  else a.roles :+ r.typ,
                  a.sumLen + r.len.map(_.toLong).getOrElse(0L),
                  a.hasLen || r.len.isDefined, r.typ,
                  // the batch lag-compare: null on either side is no break
                  a.nBreaks + (if (a.prevTyp != null && r.typ != null &&
                    a.prevTyp == r.typ) 1L else 0L))))
              case prior =>
                prior.foreach(a => out += close(user, st.counter, a))
                st = ConvAsmState(st.counter + 1, Some(ConvAcc(
                  r.us, r.us, 1L,
                  if (r.typ == null) Seq.empty else Seq(r.typ),
                  r.len.map(_.toLong).getOrElse(0L), r.len.isDefined,
                  r.typ, 0L)))
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** One paragraph occurrence on the wire (q369's chunking rule). */
  final case class ParaOcc(source: String, h: Long, doc_id: Long,
      para_id: Int)

  /** A paragraph's boilerplate THRESHOLD CROSSING: the occurrence that
    * made its (source, hash) count reach k. */
  final case class BoilerCross(source: String, h: Long, doc_id: Long,
      para_id: Int)

  /** Streaming face of the q369 boilerplate frequency rule: paragraph
    * occurrences arrive, one int64 counter per DISTINCT (source,
    * para-hash) key lives in the state store (vocabulary-sized — the
    * q338 band-index class, riding distinct content, never occurrence
    * volume), and the occurrence that takes a key's count to k emits
    * ONE crossing record — "this paragraph just became boilerplate",
    * the signal an online curation pass uses to start dropping it.
    * Within a micro-batch a key's rows fold in (doc_id, para_id)
    * order; across micro-batches the counter carries, so a crossing
    * forms from two occurrences in one trigger and a third in the
    * next (the StreamingSpec arrival contract). A full replay emits
    * exactly the batch third-occurrence set — the q377 driver gate. */
  def boilerIngest(paras: Dataset[ParaOcc]): Dataset[BoilerCross] = {
    import paras.sparkSession.implicits._
    val k = 3L
    paras.groupByKey(p => (p.source, p.h))
      .flatMapGroupsWithState[Long, BoilerCross](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[ParaOcc],
            state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[BoilerCross]
          rows.toSeq.sortBy(p => (p.doc_id, p.para_id)).foreach { p =>
            n += 1
            if (n == k)
              out += BoilerCross(p.source, p.h, p.doc_id, p.para_id)
          }
          state.update(n)
          out.result().iterator
      }
  }

  /** Typed event with exact integer-microsecond time (java.sql.Timestamp
    * would truncate to milliseconds). `tsWatermark` keeps a Catalyst
    * timestamp column alive for the event-time watermark. */
  case class Event(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, tsWatermark: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, start_us: Long, n_events: Int, dur_us: Long)
  case class RollState(times: Vector[Long])
  case class Rolled(user_id: Long, event_id: Long, ts_us: Long,
      roll_n: Int, limited: Boolean)

  /** Watermarked typed event stream (2-hour lateness bound): exact
    * integer-microsecond times for state arithmetic plus a live
    * timestamp column for the event-time watermark — the shared input
    * shape of the sessionize/rolling faces. Map-only. */
  def typedEvents(events: DataFrame): Dataset[Event] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("ts").as("tsWatermark"))
      .as[Event]
  }

  /** Stateful sessionization: the batch sessions' 30-minute inactivity
    * gap ([[graft.queries.Events.SessionGapUs]]) closes a session.
    * State is one small record per active user, timed out by the event
    * clock — bounded regardless of stream length. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = graft.queries.Events.SessionGapUs
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          // Within one trigger, order the user's events by time.
          val evs = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          if (state.hasTimedOut && cur.nonEmpty) {
            val s = cur.get
            closed += Session(userId, s.start, s.n, s.last - s.start)
            cur = None
            state.remove()
          }
          evs.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.last <= gapUs =>
                cur = Some(s.copy(last = e.ts_us, n = s.n + 1))
              case Some(s) =>
                closed += Session(userId, s.start, s.n, s.last - s.start)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.last / 1000 + gapUs / 1000)
          }
          closed.result().iterator
      }
  }

  /** Streaming twin of the batch q94 rolling window: per-user trailing
    * one-hour event count, with a rate-limit verdict — the online form
    * of the feature (fraud gates, API throttles) where the batch query
    * is the backfill.
    *
    * State per user is the timestamp buffer of the last hour only —
    * pruned as the user's clock advances, timed out by the event clock
    * one frame after the last event, so state is bounded by the busiest
    * user's events-per-hour regardless of stream length. Timestamp TIES
    * are processed as one group (all peers counted before any is
    * emitted), matching the batch RANGE-frame peer semantics; equality
    * with the batch holds for per-user in-order delivery, which the
    * batch-equality spec drives (late arrivals get the state as of
    * processing — the online contract). */
  def rollingLimits(events: Dataset[Event], limit: Int = 100): Dataset[Rolled] = {
    import events.sparkSession.implicits._
    val frameUs = 3600L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollState, Rolled](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[RollState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = Seq.newBuilder[Rolled]
            var times = state.getOption.map(_.times).getOrElse(Vector.empty)
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
              .groupBy(_.ts_us).toSeq.sortBy(_._1)
              .foreach { case (us, peers) =>
                // entries below this frame can never re-enter a later
                // frame; keep the buffer sorted so the timeout bound
                // (last element) survives out-of-order arrivals too
                times = (times.filter(_ >= us - frameUs) ++
                  peers.map(_.ts_us)).sorted
                val n = times.count(t => t >= us - frameUs && t <= us)
                peers.foreach(e =>
                  out += Rolled(userId, e.event_id, e.ts_us, n, n > limit))
              }
            if (times.nonEmpty) {
              state.update(RollState(times))
              state.setTimeoutTimestamp(times.last / 1000 + frameUs / 1000)
            }
            out.result().iterator
          }
      }
  }
}
