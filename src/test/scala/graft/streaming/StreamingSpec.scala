package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase, Tables}

/** Structured Streaming pipelines driven from the parquet testdata with a
  * memory sink; results cross-checked against the batch equivalents.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  /** The file stream source needs a directory; stage one holding a symlink
    * to the testdata events parquet. */
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    dir.toString
  }

  /** Summed state-store rows of the query's latest progress that
    * reports its stateful operators. */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)

  test("streaming hourly counts equal the batch aggregation") {
    val q = Streams.hourlyCounts(Streams.source(spark, eventsDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hourly_out")
      .select(col("h"), col("event_type"), col("n"))
    val want = SparkEntry.queries("q30_events_hourly")(spark, sfDir)
      .select(col("h"), col("event_type"), col("n"))
    assertSameRows(got, want)
  }

  test("streaming hourly uniques stay within the HLL error bound of exact") {
    val q = Streams.hourlyUniques(Streams.source(spark, eventsDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("uniq_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("uniq_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = graft.Tables.load(spark, sfDir, "events")
    val want = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct("user_id").as("exact"))
      .select(col("window.start"), col("event_type"), col("exact")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keySet == want.keySet && got.nonEmpty)
    got.foreach { case (k, approx) =>
      val exact = want(k)
      assert(math.abs(approx - exact) <= math.max(1L, (exact * 0.05).toLong), s"$k: $approx vs $exact")
    }
  }

  test("sliding windows produce a superset of tumbling rows") {
    val q = Streams.slidingRates(Streams.source(spark, eventsDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try q.processAllAvailable() finally q.stop()
    val slid = spark.table("sliding_out")
    assert(slid.count() > 0)
    // every event lands in 4 sliding windows (1h window, 15m slide)
    val total = slid.agg(sum("n")).first().getLong(0)
    val nEvents = Tables.load(spark, sfDir, "events").count()
    assert(total == 4 * nEvents)
    // twin contract: the streaming result equals the REGISTERED batch
    // query (q143), so the driver's oracle gate covers this shape too
    val got = slid.select(col("w_start"), col("event_type"), col("n"))
      .collect().map(_.toSeq).toSet
    val want = graft.SparkEntry.queries("q143_sliding_rates")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming dedup keeps one row per event_id") {
    // duplicate the stream by staging the same file twice
    val dir = java.nio.file.Files.createTempDirectory("events-dup")
    Seq("a", "b").foreach { n =>
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(s"events_$n.parquet"),
        java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    }
    val q = Streams.dedupedEvents(Streams.source(spark, dir.toString))
      .groupBy().count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("dedup_out").first().getLong(0)
    assert(n == Tables.load(spark, sfDir, "events").count())
  }

  test("stream-static enrichment joins the customer dimension") {
    val customers = Tables.load(spark, sfDir, "customer")
    val q = Streams.enriched(Streams.source(spark, eventsDir), customers)
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched_out").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("enriched_out")
    assert(out.count() == Tables.load(spark, sfDir, "events").count())
    assert(out.filter(col("c_mktsegment").isNotNull).count() > 0)
  }

  test("stateful sessionization closes sessions consistent with batch") {
    val events = Streams.typedEvents(Streams.source(spark, eventsDir))
    val q = Streams.sessionize(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sessions_out")
    assert(got.count() > 0, "expected closed sessions from intra-batch gaps")
    // closed sessions must agree with the batch sessionization on
    // (user_id, n_events, dur_us)
    val batch = SparkEntry.queries("q31_sessionize")(spark, sfDir)
      .select(col("user_id"), col("n_events"), col("dur_us"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val closed = got.select(col("user_id"), col("n_events"), col("dur_us"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    closed.foreach { case (k, n) =>
      assert(batch.getOrElse(k, 0) >= n, s"session $k not found in batch result")
    }
  }

  test("streaming rolling limits equal the batch q94 frame counts") {
    // one file = one micro-batch = per-user in-order delivery, the regime
    // where the online rolling count must equal the batch RANGE frame
    // exactly (including timestamp-tie peer semantics)
    val want = SparkEntry.queries("q94_rolling_window")(spark, sfDir)
      .select(col("event_id"), col("roll_n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // derive the limit from the batch distribution so BOTH verdicts are
    // exercised regardless of scale factor (sanity-check it can be)
    assert(want.values.max > want.values.min, "degenerate frame counts")
    val limit = (want.values.max - 1).toInt
    val events = Streams.typedEvents(Streams.source(spark, eventsDir))
    val q = Streams.rollingLimits(events, limit = limit)
      .writeStream.outputMode("append")
      .format("memory").queryName("roll_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("roll_out")
      .select(col("event_id"), col("roll_n").cast("long"), col("limited"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.size == want.size)
    assert(got.view.mapValues(_._1).toMap == want)
    // the verdict column is exactly the frame count vs the limit
    assert(got.forall { case (_, (n, lim)) => lim == (n > limit) })
    assert(got.values.exists(_._2) && got.values.exists(!_._2))
  }

  test("stream-stream interval join equals the batch join") {
    val q = Streams.clickToPurchase(
        Streams.source(spark, eventsDir), Streams.source(spark, eventsDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("ss_join_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ss_join_out")

    val ev = Tables.load(spark, sfDir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val want = c.join(p,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("c_ts"), col("p_ts"))
    assert(want.count() > 0, "testdata should produce click->purchase matches")
    assertSameRows(got, want)
  }

  test("streaming ingest dedup: in-stream exact dedup + corpus anti-join") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // stage the full documents file as the "ingest" stream — duplicates of
    // corpus documents must be dropped, fresh ones kept exactly once
    val dir = java.nio.file.Files.createTempDirectory("docs-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream
      .schema(docs.schema)
      .parquet(dir.toString)
    val q = Streams.dedupedIngest(incoming, corpus)
      .select("doc_id", "content_hash")
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ingest_out")
    // batch expectation: one doc per content hash not present in the corpus
    val want = docs.withColumn("content_hash", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("eh")).distinct(),
        col("content_hash") === col("eh"), "left_anti")
      .groupBy("content_hash").agg(count(lit(1)))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.select("content_hash").distinct().count() == got.count())
  }

  test("streaming CMS counters equal the batch sketch over the ingested corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("cms-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val q = Streams.heavyHitterCounters(incoming)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cms_out")
    // the twin contract: the materialized counter matrix equals the batch
    // sketch over everything ingested so far, cell for cell — CMS merge
    // is cell-wise addition, so replay order cannot matter
    val want = Streams.heavyHitterCounters(docs)
    assert(got.count() > 0 && got.count() <= 4096)
    assertSameRows(got, want)
  }

  test("streaming KMV sketches equal the batch sketch over the ingested corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("kmv-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val q = Streams.kmvSketches(incoming)
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_out").start()
    try q.processAllAvailable() finally q.stop()
    // the twin contract: bottom-k set-merge is the KMV sketch union, so
    // the running sketch equals the batch sketch cell for cell and the
    // q157 estimates derived from it are identical
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"), posexplode(col("ks")).as(Seq("i", "h")))
    val got = flat(spark.table("kmv_out"))
    val want = flat(Streams.kmvSketches(docs))
    assert(got.count() > 0)
    assertSameRows(got, want)
    // per-source sketch never exceeds k
    assert(spark.table("kmv_out")
      .filter(size(col("ks")) > 64).count() == 0)
  }

  test("streaming LogHist quantile sketches equal the batch sketch") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val dir = java.nio.file.Files.createTempDirectory("loghist-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("lineitem.parquet"),
      java.nio.file.Paths.get(s"$sfDir/lineitem.parquet"))
    val incoming = spark.readStream.schema(li.schema).parquet(dir.toString)
    val q = Streams.logHistSketches(incoming)
      .writeStream.outputMode("complete")
      .format("memory").queryName("loghist_out").start()
    try q.processAllAvailable() finally q.stop()
    // the twin contract: the fixed-bucket histogram is a commutative
    // monoid, so the streamed sketch equals the batch sketch cell for
    // cell — which is exactly the structure q233's estimates read
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("flag"), explode(col("hist")).as("b"))
        .select(col("flag"), col("b._1"), col("b._2"))
    val got = flat(spark.table("loghist_out"))
    val want = flat(Streams.logHistSketches(li))
    assert(got.count() > 0)
    assertSameRows(got, want)
    // bounded state: the bucket universe is <= 976 cells per group
    assert(spark.table("loghist_out")
      .filter(size(col("hist")) > 976).count() == 0)
  }

  test("streaming SCD2 closed intervals equal the batch history's closed rows") {
    val events = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("scd2-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val incoming = spark.readStream.schema(events.schema).parquet(dir.toString)
    val q = Streams.scd2Ingest(incoming)
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("scd2_out")
    // the twin contract: replay in per-user time order == every CLOSED
    // interval of the batch build (the open interval lives in state)
    val want = graft.SparkEntry.queries("q159_scd2_history")(spark, sfDir)
      .filter(col("valid_to_us").isNotNull)
      .select("user_id", "version", "k", "valid_from_us", "valid_to_us")
    assert(got.count() > 0)
    assertSameRows(got, want)
  }

  test("streaming CUSUM replayed in time order equals batch q179 on closed days") {
    val events = Tables.load(spark, sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("cusum-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val incoming = spark.readStream.schema(events.schema).parquet(dir.toString)
    val q = Streams.cusumIngest(incoming)
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cusum_out")
    // the twin contract: every CLOSED day (all but each metric's last —
    // the open day lives in state) matches the batch detector exactly
    import org.apache.spark.sql.expressions.Window
    val lastDay = Window.partitionBy("event_type")
    val want = graft.SparkEntry.queries("q179_cusum_changepoints")(spark, sfDir)
      .withColumn("mx", max("day").over(lastDay))
      .filter(col("day") < col("mx"))
      .select("event_type", "day", "n", "m", "mu0",
        "cusum_pos", "cusum_neg", "shift_flag")
    assert(got.count() > 0)
    assertSameRows(got, want)
  }

  test("streaming seasonal alarm equals batch q199 on watermark-closed days") {
    val events = Tables.load(spark, sfDir, "events")
    val profile = graft.queries.Events.weekdayProfile(events)
    val q = Streams.seasonalAlarm(Streams.source(spark, eventsDir), profile)
      .writeStream.outputMode("append")
      .format("memory").queryName("seasonal_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("seasonal_out")
    // twin contract: every day the 25h watermark has CLOSED carries the
    // identical z and flag as the batch scorer (shared seasonalScore);
    // the open tail days live in state and are withheld
    val closed = got.agg(max("d_idx")).collect().head.getLong(0)
    val want = graft.queries.Events.seasonalAnomalyDaily(events)
      .filter(col("d_idx") <= closed)
    assert(got.count() > 0)
    assertSameRows(got, want)
  }

  test("streaming Hampel replayed in time order equals batch q217 on judged days") {
    val q = Streams.hampelIngest(Streams.source(spark, eventsDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("hampel_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hampel_out")
      .select("event_type", "d_idx", "x", "med7", "mad7", "is_outlier")
    // twin contract: a day is judged once 3 later days CLOSE, so the
    // online run covers every batch full-window row up to each type's
    // last judged day; past that the batch rows await more stream
    val cut = got.groupBy("event_type").agg(max("d_idx").as("mx"))
    val want = SparkEntry.queries("q217_hampel_filter")(spark, sfDir)
      .join(cut, "event_type").filter(col("d_idx") <= col("mx"))
      .select("event_type", "d_idx", "x", "med7", "mad7", "is_outlier")
    assert(got.count() > 0)
    assertSameRows(got, want)
  }

  test("streaming curation applies the full stateless q68 gate set before dedup") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("docs-curate")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val q = Streams.curatedIngest(incoming, corpus)
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("curate_out").collect().map(_.getLong(0)).toSet
    // batch expectation: same gates, then hash-dedup within + vs corpus
    val toks = split(col("text"), " ")
    val gated = docs.filter(size(toks) >= 20 &&
      size(filter(toks, x => x === "the" || x === "a")) > 0 &&
      (size(toks) - 1 - size(graft.functions.ArrayExprs.shingles(toks, 2)))
        .cast("double") / (size(toks) - 1) <= 0.05 &&
      graft.functions.ArrayExprs.topTokenCount(toks).cast("double") / size(toks) <= 0.12)
    val want = gated.withColumn("content_hash", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("eh")).distinct(),
        col("content_hash") === col("eh"), "left_anti")
      .groupBy("content_hash").agg(min("doc_id"))
    assert(got.size.toLong == want.count() && got.nonEmpty)
    // every emitted doc passed the gates
    val gatedIds = gated.collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(gatedIds))
  }

  test("streaming decontamination drops exactly the q72-contaminated docs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val benchPred = col("doc_id") % 97 === 0
    val dir = java.nio.file.Files.createTempDirectory("docs-decon")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
      .filter(!benchPred)
    val q = Streams.decontaminatedIngest(incoming, docs.filter(benchPred))
      .select("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("decon_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("decon_out").collect().map(_.getLong(0)).toSet
    // batch expectation: q72 lists every training doc sharing >= 1 shingle
    // with the eval slice; survivors = the rest of the training side
    val contaminated = SparkEntry.queries("q72_decontaminate")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val train = docs.filter(!benchPred).collect().map(_.getLong(0)).toSet
    assert(got == train -- contaminated)
    assert(got.nonEmpty && contaminated.nonEmpty)
  }

  test("streaming novelty replayed in curation order equals batch q100") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val q = Streams.noveltyIngest(ms.toDF.toDF("source", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("novelty_out").start()
    val docs = Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    try {
      // one micro-batch per source, ascending — the curation order q100
      // attributes against; each shingle must be credited exactly once,
      // to the first source that streamed it
      docs.map(_._1).distinct.sorted.foreach { src =>
        ms.addData(docs.filter(_._1 == src).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("novelty_out")
      .groupBy("source").agg(count(lit(1)).as("novel"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = SparkEntry.queries("q100_source_novelty")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2))
      .filter(_._2 > 0).toMap
    assert(got == want)
    // no shingle credited twice
    val out = spark.table("novelty_out")
    assert(out.select("sh").distinct().count() == out.count())
  }

  test("streaming contamination fraction equals batch q320 per doc") {
    val docs = Tables.load(spark, sfDir, "documents")
    val benchPred = col("doc_id") % 97 === 0
    val dir = java.nio.file.Files.createTempDirectory("docs-contam")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
      .filter(!benchPred)
    val q = Streams.contaminationIngest(incoming, docs.filter(benchPred))
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_out").start()
    try q.processAllAvailable() finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_windows", "n_contaminated", "contaminated_frac",
        "flagged")
      .collect().map(_.toSeq).sortBy(_.head.toString.toLong).toSeq
    val got = key(spark.table("contam_out"))
    val want = key(SparkEntry.queries("q320_contamination_fraction")(spark, sfDir))
    assert(got == want, s"stream rows ${got.size} != batch ${want.size} " +
      s"or values differ: ${got.diff(want).take(3)}")
    assert(got.nonEmpty)
  }

  test("streaming PII scrub matches the batch redaction per row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Streams.scrubbedIngest(ms.toDF.toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("scrub_out").start()
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1) + (if (r.getLong(0) % 20 == 0)
          s" contact me at user${r.getLong(0)}@example.com please" else "")))
    try {
      ms.addData(docs.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val pii = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
    val got = spark.table("scrub_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Int]("n_pii"))).toMap
    docs.foreach { case (id, text) =>
      val (red, n) = got(id)
      assert(red == text.replaceAll(pii, "[EMAIL]"), s"doc $id")
      assert(n == pii.r.findAllIn(text).size)
      if (id % 20 == 0) assert(n >= 1)
    }
  }

  test("parquet sink + checkpoint: no duplicates across a restart") {
    // the writeStream face: a real file sink with a checkpoint, stopped
    // and restarted with replayed input — the checkpointed dedup state
    // (and the watermark) must keep the sink append-only without
    // duplicates
    val srcDir = java.nio.file.Files.createTempDirectory("events-sink-src")
    val outDir = java.nio.file.Files.createTempDirectory("events-sink-out").toString
    val chkDir = java.nio.file.Files.createTempDirectory("events-sink-chk").toString
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("a.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    def runOnce(): Unit = {
      val q = Streams.dedupedEvents(Streams.source(spark, srcDir.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chkDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == Tables.load(spark, sfDir, "events").count())
    // replay the same data as a "new" file and restart from the checkpoint
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("b.parquet"), java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    runOnce()
    val n2 = spark.read.parquet(outDir).count()
    assert(n2 == n1, s"restart produced duplicates: $n1 -> $n2")
  }

  test("streaming paragraph dedup replayed in id order equals batch q117") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Streams.paragraphDedupIngest(ms.toDF.toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("para_out").start()
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    try {
      // four id-ordered micro-batches: the replay order under which the
      // online first-arrival rule coincides with q117's batch keep rule
      docs.grouped((docs.length + 3) / 4).foreach { g =>
        ms.addData(g.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("para_out")
      .groupBy("doc_id").agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = SparkEntry.queries("q117_paragraph_dedup")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .filter(_._2 > 0).toMap
    assert(got == want)
    // no paragraph kept twice
    val out = spark.table("para_out")
    assert(out.select("h").distinct().count() == out.count())
  }

  test("streaming next-fit packer: single-batch replay equals the batch packer") {
    val docs = Tables.load(spark, sfDir, "documents")
    val ng = math.max(32L, docs.count() / 64L)
    val dir = java.nio.file.Files.createTempDirectory("pack-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
    val q = Streams.packIngest(incoming, ng)
      .writeStream.outputMode("append")
      .format("memory").queryName("pack_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("pack_out")
    val want = SparkEntry.queries("q331_pack_nextfit")(spark, sfDir)
    assert(got.count() > 0)
    assertSameRows(got.select("doc_id", "len", "grp", "bin"), want)
  }

  test("streaming next-fit packer: state carries open bins across micro-batches") {
    val docs = Tables.load(spark, sfDir, "documents")
    val ng = math.max(32L, docs.count() / 64L)
    val dir = java.nio.file.Files.createTempDirectory("pack-stream2")
    // two arrival waves: even doc_ids land first, odd ones a trigger later
    // (coalesce(1): one part file per wave, so with maxFilesPerTrigger=1
    // each wave is exactly one micro-batch and the fold order is wave
    // order, not part-file listing order)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(dir.resolve("wave_a").toString)
    val incoming = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString + "/wave_*")
    val q = Streams.packIngest(incoming, ng)
      .writeStream.outputMode("append")
      .format("memory").queryName("pack_out2").start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.parquet(dir.resolve("wave_b").toString)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pack_out2").collect()
    // every document placed exactly once across both waves
    assert(got.length == docs.count())
    assert(got.map(_.getLong(0)).distinct.length == got.length)
    // reference: fold each group over wave-a docs then wave-b docs, each
    // wave in (lehmer, doc_id) order, continuing the SAME (bin, rem)
    // state — the online contract the state store must implement
    def h(id: Long): Long = { val m = 2147483647L; (id % m) * 48271 % m * 48271 % m }
    val stride = 2147483647L / ng + 1
    val byDoc = got.map(r => r.getLong(0) -> r.getLong(3)).toMap
    docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").length.toLong))
      .groupBy { case (id, _) => h(id) / stride }
      .foreach { case (grp, items) =>
        var bin = 0L; var rem = 128L
        val waves = items.partition(_._1 % 2 == 0)
        (waves._1.sortBy(x => (h(x._1), x._1)) ++
          waves._2.sortBy(x => (h(x._1), x._1))).foreach { case (id, len) =>
          if (len > rem && rem < 128L) { bin += 1L; rem = 128L }
          assert(byDoc(id) == bin,
            s"doc $id in group $grp: stream bin ${byDoc(id)} != reference $bin")
          rem = if (len >= rem) 0L else rem - len
        }
      }
  }

  test("streaming dedup ingest: single-batch replay equals batch q63") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = java.nio.file.Files.createTempDirectory("dedup-stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"))
    val incoming = spark.readStream.schema(docs.schema).parquet(dir.toString)
      .filter(col("doc_id") % 5 === 0)
    val q = Streams.dedupIngest(docs.filter(col("doc_id") % 5 =!= 0), incoming)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val dropped = spark.table("dedup_out")
      .select("i_id").distinct().collect().map(_.getLong(0)).toSet
    val got = docs.filter(col("doc_id") % 5 === 0)
      .collect().map(_.getLong(0)).filterNot(dropped).toSet
    val want = SparkEntry.queries("q63_dedup_incremental")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(dropped.nonEmpty, "replay must exercise the drop path")
  }

  test("streaming dedup ingest: arrivals extend the index across triggers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // disjoint per-salt vocabularies: novel docs can never near-dup
    def txt(salt: Int): String = (0 until 40).map(j => s"d${salt}t$j").mkString(" ")
    val nearOfX = txt(3).split(" ").dropRight(1).mkString(" ") + " zz"
    val existing = Seq((1L, txt(1)), (2L, txt(2))).toDF("doc_id", "text")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = Streams.dedupIngest(existing, ms.toDF.toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out2").start()
    try {
      // wave A: one exact dup of the corpus (100), one novel doc X (101)
      ms.addData((100L, txt(2)), (101L, txt(3)))
      q.processAllAvailable()
      val a = spark.table("dedup_out2").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(a.forall(_._1 == 100L), "only the corpus dup may match in wave A")
      assert(a.exists(v => v._2 == -1 && v._3 == 2L), "exact verdict vs corpus")
      // wave B: a near-dup of X (200), an exact dup of X (201), novel (202)
      ms.addData((200L, nearOfX), (201L, txt(3)), (202L, txt(4)))
      q.processAllAvailable()
      val b = spark.table("dedup_out2").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .filter(v => v._1 >= 200L)
      // the ARRIVAL contract: wave-B docs match the wave-A arrival X=101
      assert(b.nonEmpty && b.forall(_._3 == 101L),
        s"wave-B verdicts must name the wave-A arrival: $b")
      assert(b.exists(v => v._1 == 200L && v._2 >= 0), "near verdict vs arrival")
      assert(b.exists(v => v._1 == 201L && v._2 == -1), "exact verdict vs arrival")
      // within-trigger q63 semantics: same-trigger arrivals (200 vs 201)
      // are NOT checked against each other, and novel docs stay silent
      assert(!b.exists(v => v._3 == 200L || v._3 == 201L))
      assert(!b.exists(v => v._1 == 202L))
    } finally q.stop()
  }

  test("streaming duel mining across two triggers equals batch q341: " +
    "a duel forms over the micro-batch boundary, state never resets") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp, String, Double)]
    val q = Streams.duelIngest(
        ms.toDF.toDF("user_id", "event_id", "ts", "event_type", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("duel_out").start()
    val ev = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getString(3), r.getDouble(4)))
    // split at the median event time: per annotator, every wave-1 event
    // precedes every wave-2 event, so the only correctness question is
    // whether the boundary duel (wave-1 tail vs wave-2 head) forms from
    // state — the arrival contract this test pins
    val cut = ev.map(_._3.getTime).sorted.apply(ev.length / 2)
    // duel state is one LastJudgment per annotator fed so far, however
    // many events each one sent (the state claim SCALEPROBE_r15.txt and
    // SCALEPROBE_final.txt measure under replication)
    def usersFed(maxTs: Long) =
      ev.filter(_._3.getTime <= maxTs).map(_._1).distinct.length.toLong
    try {
      ms.addData(ev.filter(_._3.getTime <= cut).toIndexedSeq)
      q.processAllAvailable()
      assert(stateRows(q) == usersFed(cut))
      val wave1 = spark.table("duel_out").count()
      ms.addData(ev.filter(_._3.getTime > cut).toIndexedSeq)
      q.processAllAvailable()
      assert(stateRows(q) == usersFed(Long.MaxValue))
      // wave 2 emitted something, and some duel crosses the boundary
      // (first_id arrived in wave 1, second_id in wave 2)
      val wave1Ids = ev.filter(_._3.getTime <= cut).map(_._2).toSet
      val all = spark.table("duel_out")
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(all.length > wave1)
      assert(all.exists(p => wave1Ids.contains(p._1) && !wave1Ids.contains(p._2)),
        "no duel crossed the trigger boundary — state did not carry")
    } finally q.stop()
    val got = spark.table("duel_out")
    val want = graft.queries.Preference.duels(Tables.load(spark, sfDir, "events"))
    assertSameRows(got, want)
  }

  test("streaming boilerplate crossings form across the trigger boundary") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streams.ParaOcc]
    val q = Streams.boilerIngest(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("boiler_out").start()
    val occ = graft.queries.Dedup.paraOccurrences(
        graft.queries.Dedup.bannerInjected(
          Tables.load(spark, sfDir, "documents")))
      .collect().map(r => Streams.ParaOcc(r.getString(0), r.getLong(1),
        r.getLong(2), r.getInt(3)))
    // pick a key that will cross and cut at its SECOND occurrence: wave
    // 1 delivers exactly two of its occurrences, wave 2 the third — the
    // crossing can only form from the carried counter
    val byKey = occ.groupBy(p => (p.source, p.h))
      .filter(_._2.length >= 3)
    assert(byKey.nonEmpty, "fixture has no crossing key")
    val (key, occs) = byKey.maxBy(_._2.length)
    val sorted = occs.sortBy(p => (p.doc_id, p.para_id))
    val cut = sorted(1).doc_id
    try {
      ms.addData(occ.filter(_.doc_id <= cut).toIndexedSeq)
      q.processAllAvailable()
      val wave1 = spark.table("boiler_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(!wave1.contains(key), "key crossed before its third occurrence")
      ms.addData(occ.filter(_.doc_id > cut).toIndexedSeq)
      q.processAllAvailable()
      val all = spark.table("boiler_out").collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      assert(all.contains(key),
        "no crossing formed in wave 2 — counters did not carry")
      assert(all(key) == sorted(2).doc_id,
        "crossing attributed to the wrong occurrence")
    } finally q.stop()
    // full replay equals the batch face (the q377 oracle's own set)
    val want = graft.SparkEntry.queries("q377_boilerplate_ingest_face")(
      spark, sfDir)
    assertSameRows(spark.table("boiler_out"), want)
  }

  test("streaming conversation assembly equals the batch q350 gate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streams.ConvTurn]
    val q = Streams.convGateIngest(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("conv_out").start()
    val ev = Tables.load(spark, sfDir, "events")
    val turns = Streams.convTurns(ev).collect()
    val flush = Streams.convFlushTicks(ev).collect()
    // split at the median turn time: per user every wave-1 turn precedes
    // every wave-2 turn, so conversations spanning the cut must continue
    // from state (counter and open accumulator carry across triggers)
    val cut = turns.map(_.us).sorted.apply(turns.length / 2)
    // assembly state is one ConvAsmState per user fed so far (counter
    // plus open accumulator), however many turns each one sent
    val fed = scala.collection.mutable.Set.empty[Long]
    def feed(batch: Seq[Streams.ConvTurn]): Unit = {
      ms.addData(batch)
      q.processAllAvailable()
      fed ++= batch.map(_.user_id)
      assert(stateRows(q) == fed.size.toLong)
    }
    try {
      feed(turns.filter(_.us <= cut).toIndexedSeq)
      val wave1 = spark.table("conv_out").count()
      feed(turns.filter(_.us > cut).toIndexedSeq)
      val wave2 = spark.table("conv_out").count()
      // open conversations exist at the cut; only the flush closes them
      feed(flush.toIndexedSeq)
      val all = spark.table("conv_out").count()
      assert(wave1 < all, "no conversation closed before the flush")
      assert(all > wave2, "flush closed nothing — no state survived the cut")
    } finally q.stop()
    val got = spark.table("conv_out")
    val want = graft.queries.Conversation.defs
      .find(_.name == "q350_chat_gate").get.build(spark, sfDir)
    assertSameRows(got, want)
  }
}
