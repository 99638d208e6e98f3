package graft.queries

import graft.Materialize._
import graft.Report._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.{load => t}

/** End-to-end corpus curation — the pass an LLM training-data pipeline
  * runs before tokenization, composed from the engine's own operators as
  * ONE declarative plan (this is the point: gates, dedup, and split
  * assignment fuse into a single Catalyst-optimized DAG instead of N
  * materialized passes over 100 TB):
  *
  *   1. quality gates    — length + stopword evidence (q41's gate),
  *                         within-doc repetition (q66's gate), map-side;
  *   2. near-dup dedup   — MinHash-LSH verified pairs, drop the larger id
  *                         (q51's greedy keep policy);
  *   3. split assignment — rerun-invariant Lehmer-hash bucketing (q56).
  *
  * Only the dedup step shuffles at all: every gate is a native map-side
  * expression riding the scan, and the split is pure arithmetic on the id.
  */
object Curation {
  /** The curation gates over a `text` column, individually named so the
    * funnel (q102) can attribute attrition per gate IN PIPELINE ORDER
    * while the combined [[gatesOk]] stays their conjunction. THE single
    * definition: the batch pipeline (q68), the attrition funnel (q102)
    * and the streaming twin ([[graft.streaming.Streams.curatedIngest]])
    * must never drift. */
  private val gateToks = split(col("text"), " ")

  /** length gate: at least 20 whitespace tokens */
  def gateLen: org.apache.spark.sql.Column = size(gateToks) >= 20

  /** stopword-evidence gate: at least one closed-class token */
  def gateStop: org.apache.spark.sql.Column =
    size(filter(gateToks, x => x === "the" || x === "a")) > 0

  /** repetition gate: duplicate-2-gram fraction at most 5% */
  def gateRep: org.apache.spark.sql.Column = {
    val nTok = size(gateToks)
    val d2 = size(graft.functions.ArrayExprs.shingles(gateToks, 2))
    (nTok - 1 - d2).cast("double") / (nTok - 1) <= 0.05
  }

  /** top-token gate: most frequent token at most 12% of the doc */
  def gateTok: org.apache.spark.sql.Column =
    graft.functions.ArrayExprs.topTokenCount(gateToks).cast("double") / size(gateToks) <= 0.12

  /** The full curation gate: conjunction of the four component gates. */
  def gatesOk: org.apache.spark.sql.Column =
    gateLen && gateStop && gateRep && gateTok

  /** Multi-signal ensemble quality scores for EVERY document — the
    * un-truncated form the budget selector (q148) and classifier
    * assembly consume; q116 is its top-K cut. Carries n_tokens so
    * budget arithmetic needs no second corpus pass. */
  def ensembleScores(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fam = Text.lmFamiliarity(docs)
      .select(col("doc_id"), expr("fam_sum div n_trigrams").as("fam_avg"))
    val imp = Sampling.importanceScores(docs)
      .select(col("doc_id"), col("avg_weight"), col("n_tokens"))
    docs.select(col("doc_id"), gatesOk.as("gate_ok"))
      .join(fam, Seq("doc_id"), "left")
      .join(imp, Seq("doc_id"))
      .select(col("doc_id"), col("gate_ok"),
        coalesce(col("fam_avg"), lit(0L)).as("fam_avg"), col("avg_weight"),
        col("n_tokens"),
        (when(col("gate_ok"), 1000000L).otherwise(0L) +
          coalesce(col("fam_avg"), lit(0L)) * 10 + col("avg_weight"))
          .as("ensemble_score"))
  }

  /** Multi-signal ensemble quality ranking (the top 200) — see q116
    * below. Exposed for library use. */
  def ensembleScore(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ensembleScores(docs).drop("n_tokens")
      .orderBy(col("ensemble_score").desc, col("doc_id"))
      .limit(200)

  // Oracle-side mirror of [[gatesOk]], shared by every gate-consuming
  // oracle (q68/q82/q83) so the thresholds exist in exactly TWO places —
  // the Column above and this CTE pair — never per-query copies that
  // could drift. `m` carries the superset of columns the consumers need.
  private val sqlGateCtes =
    """m AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    len(string_split(text, ' ')) AS n,
      |    len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS nstop,
      |    len(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
      |      i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))) AS d2
      |  FROM documents),
      |mx AS (
      |  SELECT doc_id, max(c) AS mx FROM (
      |    SELECT doc_id, tok, count(*) AS c
      |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |    GROUP BY doc_id, tok) GROUP BY doc_id)""".stripMargin

  // the four per-gate mirrors, composed below — q281's ablation needs
  // them individually, q68/q82/q83 the conjunction; one definition each
  private val sqlGateLenP = "n >= 20"
  private val sqlGateStopP = "nstop > 0"
  private val sqlGateRepP = "CAST(n - 1 - d2 AS DOUBLE) / (n - 1) <= 0.05"
  private val sqlGateTokP = "CAST(mx AS DOUBLE) / n <= 0.12"

  private val sqlGateOk =
    s"""($sqlGateLenP AND $sqlGateStopP
      |    AND $sqlGateRepP
      |    AND $sqlGateTokP)""".stripMargin

  /** Oracle-side mirror of [[ensembleScores]] — ends in
    * `ens(doc_id, gate_ok, fam_avg, avg_weight, n_tokens,
    * ensemble_score)`, shared by q116/q148 so the score formula exists
    * once per engine. Trigram keys are the hashed narrow keys (q79's
    * oracle form — the Spark side hashes, so the oracle must too for
    * shared collisions). */
  private val sqlEnsembleCtes =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(
       |    list_transform(range(1, len(tk) - 1),
       |      i -> array_to_string(tk[i:i+2], ' ')),
       |    win -> ${Dedup.sqlStringHash62("win")})) AS g
       |  FROM t WHERE len(tk) >= 3),
       |cf AS MATERIALIZED (SELECT g, count(*) AS c FROM bg GROUP BY g),
       |fam AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(c) AS BIGINT) // CAST(count(*) AS BIGINT) AS fam_avg
       |  FROM bg JOIN cf USING (g) GROUP BY doc_id),
       |tok AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |ft AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |       list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS BIGINT))),
       |       (a,c) -> (a*131 + c) % 4294967291) % 1000000007) % 4096 AS f
       |  FROM tok),
       |fs AS (
       |  SELECT f,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
       |    CAST(count(*) AS BIGINT) AS r_cnt
       |  FROM ft GROUP BY f),
       |w AS (SELECT f, ((t_cnt + 1) * 1000000) // (r_cnt + 1) AS wf FROM fs),
       |imp AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(sum(wf) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_weight,
       |    CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM ft JOIN w USING (f) GROUP BY doc_id),
       |$sqlGateCtes,
       |gt AS (
       |  SELECT m.doc_id, $sqlGateOk AS gate_ok
       |  FROM m JOIN mx ON m.doc_id = mx.doc_id),
       |ens AS MATERIALIZED (
       |  SELECT gt.doc_id, gate_ok,
       |    coalesce(fam_avg, 0) AS fam_avg, avg_weight, n_tokens,
       |    CASE WHEN gate_ok THEN 1000000 ELSE 0 END
       |      + coalesce(fam_avg, 0) * 10 + avg_weight AS ensemble_score
       |  FROM gt LEFT JOIN fam ON gt.doc_id = fam.doc_id
       |          JOIN imp ON gt.doc_id = imp.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q68_curation_pipeline", (s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"), gatesOk.as("gates_ok"))
      val drop = Dedup.nearDupPairsOf(docs)
        .select(col("doc_b").as("doc_id")).distinct()
      val bucket = Sampling.lehmer(col("doc_id")) % 1000
      base.filter(col("gates_ok"))
        .join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          when(bucket < 800, "train").when(bucket < 900, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
      Some(s"""WITH ${Dedup.sqlPairCtes()},
             |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
             |$sqlGateCtes
             |SELECT m.doc_id, lang, CAST(n AS INTEGER) AS n_tokens,
             |  CASE WHEN ${Sampling.sqlLehmerOf("m.doc_id")} % 1000 < 800 THEN 'train'
             |       WHEN ${Sampling.sqlLehmerOf("m.doc_id")} % 1000 < 900 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM m JOIN mx ON m.doc_id = mx.doc_id
             |WHERE $sqlGateOk
             |  AND m.doc_id NOT IN (SELECT doc_id FROM drops)
             |ORDER BY m.doc_id""".stripMargin)),

    // ---- Training-example assembly: text x embedding feature manifest ----
    // The pipeline's last mile: join the text modality (documents + the
    // full curation gate + split assignment, all map-side) with the
    // embedding modality (exact integer squared norm from the 1e-7 grid)
    // into the one wide record a trainer's dataloader reads. INNER join:
    // an example assembles only when both modalities exist (at sf0.1 just
    // 2000 of 5000 docs carry embeddings). The join is an id-keyed
    // equi-join: at 100 TB both sides live bucketed by id (ScaleOpsSpec
    // proves the zero-exchange bucketed-join plan), so assembly costs no
    // shuffle at all beyond the sink's own layout.
    QueryDef("q82_example_assembly", (s, d) => {
      val bucket = Sampling.lehmer(col("doc_id")) % 1000
      val e = Similarity.quantize(t(s, d, "embeddings"))
        .select(col("vec_id").as("doc_id"), col("n2"))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).as("n_tokens"), gatesOk.as("gates_ok"))
        .withColumn("split", when(bucket < 800, "train")
          .when(bucket < 900, "val").otherwise("test"))
        .join(e, "doc_id")
        .orderBy("doc_id")
    },
      Some(s"""WITH $sqlGateCtes,
             |q AS (SELECT vec_id, ${Similarity.sqlQuant} AS qv FROM embeddings),
             |e AS (SELECT vec_id, ${Similarity.sqlDot("qv", "qv")} AS n2 FROM q)
             |SELECT m.doc_id, lang, source, CAST(n AS INTEGER) AS n_tokens,
             |  $sqlGateOk AS gates_ok,
             |  CASE WHEN ${Sampling.sqlLehmerOf("m.doc_id")} % 1000 < 800 THEN 'train'
             |       WHEN ${Sampling.sqlLehmerOf("m.doc_id")} % 1000 < 900 THEN 'val'
             |       ELSE 'test' END AS split,
             |  n2
             |FROM m JOIN mx ON m.doc_id = mx.doc_id
             |JOIN e ON m.doc_id = e.vec_id
             |ORDER BY m.doc_id""".stripMargin)),

    // ---- Corpus report card: per-(lang, source) quality rollup -----------
    // The daily corpus-health dashboard: per domain stratum, document and
    // token counts, curation-gate pass rate, eval-contamination count
    // (q72's overlap set), and the length envelope. Scale shape: gates
    // ride the scan map-side; contamination is the q72 broadcast join
    // (one corpus pass); the rollup is a low-cardinality groupBy with
    // map-side partial aggregation — the whole report is ~two shuffles
    // over 100 TB, no per-group windows anywhere.
    QueryDef("q83_corpus_report", (s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), size(split(col("text"), " ")).as("n_tokens"),
        gatesOk.as("ok"))
      val contaminated = Dedup.decontaminate(docs, col("doc_id") % 97 === 0)
        .select(col("doc_id"), lit(1).as("contam"))
      base.join(contaminated, Seq("doc_id"), "left")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum(when(col("ok"), 1).otherwise(0)).as("n_pass"),
          sum(coalesce(col("contam"), lit(0))).as("n_contaminated"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .withColumn("pass_rate", col("n_pass").cast("double") / col("n_docs"))
        .select("lang", "source", "n_docs", "n_tokens", "n_pass", "pass_rate",
          "n_contaminated", "min_chars", "max_chars")
        .reportSorted("lang", "source")
    },
      Some(s"""WITH s AS (${Dedup.sqlShingles}),
             |b AS (SELECT doc_id AS bench_id, unnest(sh) AS tok FROM s
             |      WHERE doc_id % 97 = 0),
             |tr AS (SELECT doc_id, unnest(sh) AS tok FROM s
             |       WHERE doc_id % 97 != 0),
             |contam AS (SELECT DISTINCT tr.doc_id FROM tr JOIN b ON tr.tok = b.tok),
             |$sqlGateCtes,
             |g AS (
             |  SELECT m.doc_id, lang, source, n_chars, n,
             |    $sqlGateOk AS ok,
             |    CASE WHEN m.doc_id IN (SELECT doc_id FROM contam) THEN 1 ELSE 0 END AS contam
             |  FROM m JOIN mx ON m.doc_id = mx.doc_id)
             |SELECT lang, source,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pass_rate,
             |  CAST(sum(contam) AS BIGINT) AS n_contaminated,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM g GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    // ---- Sequence-length histogram: the batch-shape planning input -------
    // Power-of-two length buckets with cumulative coverage — what a
    // trainer reads to pick context length and packing capacity (q69/q70's
    // W and cap). Integer CASE ladder, not floor(log2(n)): float log is
    // not bit-portable at exact powers of two. Scale shape: one map-side
    // bucket assignment + a tiny groupBy; the cumulative window runs over
    // the HANDFUL of bucket rows (aggregate-bounded, never over corpus
    // rows).
    QueryDef("q84_len_histogram", (s, d) => {
      val n = size(split(col("text"), " "))
      val bucket = when(n < 16, 0).when(n < 32, 16).when(n < 64, 32)
        .when(n < 128, 64).otherwise(128)
      val byB = org.apache.spark.sql.expressions.Window.partitionBy(Sampling.onePart(col("bucket_lo"))).orderBy("bucket_lo")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy(Sampling.onePart(col("bucket_lo")))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      t(s, d, "documents")
        .select(bucket.as("bucket_lo"), n.as("n"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"))
        .withColumn("cum_docs", sum("n_docs").over(byB))
        .withColumn("cum_frac",
          col("cum_docs").cast("double") / sum("n_docs").over(all))
        .reportSorted("bucket_lo")
    },
      Some("""WITH m AS (
             |  SELECT CASE WHEN len(string_split(text, ' ')) < 16 THEN 0
             |              WHEN len(string_split(text, ' ')) < 32 THEN 16
             |              WHEN len(string_split(text, ' ')) < 64 THEN 32
             |              WHEN len(string_split(text, ' ')) < 128 THEN 64
             |              ELSE 128 END AS bucket_lo,
             |         len(string_split(text, ' ')) AS n
             |  FROM documents),
             |h AS (
             |  SELECT bucket_lo, CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(n) AS BIGINT) AS sum_tokens
             |  FROM m GROUP BY bucket_lo)
             |SELECT bucket_lo, n_docs, sum_tokens,
             |  CAST(sum(n_docs) OVER (ORDER BY bucket_lo
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
             |  CAST(sum(n_docs) OVER (ORDER BY bucket_lo
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / sum(n_docs) OVER () AS cum_frac
             |FROM h ORDER BY bucket_lo""".stripMargin)),

    // ---- Equi-depth length bucketing (quantile partitioner) --------------
    // q84's histogram uses FIXED bucket edges; length-balanced batch
    // construction wants EQUI-DEPTH buckets — k partitions with ~equal
    // document counts whatever the length distribution. Exact rule, by
    // VALUE so it is deterministic and rerun-stable: a document of length
    // v lands in bucket floor(k * rank_before(v) / n), where
    // rank_before(v) counts documents strictly shorter — all ties share a
    // bucket (the honest equi-depth contract without arbitrary row
    // splitting), cutpoints are exact integer arithmetic over the length
    // DISTRIBUTION, never a corpus-sized sort.
    //
    // Scale shape: one groupBy(value) histogram shuffle; the running sum
    // window is over DISTINCT length values (bounded by the value domain,
    // not the corpus — q64's distribution pattern); assignment is an
    // equi-join of the corpus against the tiny distribution table
    // (broadcast here; vocabulary-keyed shuffle join if the domain were
    // ever corpus-sized) plus a one-row total broadcast. Map-side after
    // that — no global sort, no per-row window.
    QueryDef("q96_equidepth_buckets", (s, d) => {
      val k = 8
      val w = org.apache.spark.sql.expressions.Window.partitionBy(Sampling.onePart(col("n_chars"))).orderBy("n_chars")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val hist = t(s, d, "documents")
        .groupBy("n_chars").agg(count(lit(1)).as("cnt"))
        .withColumn("cumb", coalesce(sum("cnt").over(w), lit(0L)))
        .select("n_chars", "cumb")
      val tot = t(s, d, "documents").agg(count(lit(1)).as("n"))
      t(s, d, "documents")
        .join(hist, "n_chars")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_chars"),
          expr(s"cumb * $k div n").as("bucket"))
        .orderBy("doc_id")
    },
      Some("""WITH h AS (
             |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars),
             |c AS (
             |  SELECT n_chars, CAST(coalesce(sum(cnt) OVER (ORDER BY n_chars
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |    AS cumb
             |  FROM h),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
             |SELECT d.doc_id, d.n_chars, CAST(c.cumb * 8 // n AS BIGINT) AS bucket
             |FROM documents d JOIN c ON d.n_chars = c.n_chars CROSS JOIN tot
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- Curation funnel: per-gate attrition in pipeline order -----------
    // The ops dashboard behind q68: how many documents each gate removes,
    // applied cumulatively in the pipeline's order (length -> stopword
    // evidence -> repetition -> top-token -> near-dup). One corpus pass
    // computes all four gate booleans map-side from the SAME component
    // gate Columns q68's conjunction uses (no thresholds duplicated), the
    // dedup drop set is the audited LSH pair set, and the whole funnel
    // collapses to a single 6-field aggregate exploded into rows — the
    // output is O(gates), the work is one scan plus the pair pipeline.
    QueryDef("q102_curation_funnel", (s, d) => {
      val docs = t(s, d, "documents")
      val drop = Dedup.nearDupPairsOf(docs)
        .select(col("doc_b").as("doc_id")).distinct()
      val flags = docs
        .join(drop.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
        .select(gateLen.as("g1"),
          (gateLen && gateStop).as("g2"),
          (gateLen && gateStop && gateRep).as("g3"),
          (gateLen && gateStop && gateRep && gateTok).as("g4"),
          (gateLen && gateStop && gateRep && gateTok && col("is_dup").isNull).as("g5"))
      def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as("s" + c.drop(1))
      flags.agg(count(lit(1)).as("s0"), cnt("g1"), cnt("g2"), cnt("g3"), cnt("g4"), cnt("g5"))
        .select(explode(array(
          struct(lit(0).as("stage"), lit("total").as("gate"),
            col("s0").as("n_docs"), lit(0L).as("dropped")),
          struct(lit(1).as("stage"), lit("min_length").as("gate"),
            col("s1").as("n_docs"), (col("s0") - col("s1")).as("dropped")),
          struct(lit(2).as("stage"), lit("stopword_evidence").as("gate"),
            col("s2").as("n_docs"), (col("s1") - col("s2")).as("dropped")),
          struct(lit(3).as("stage"), lit("repetition").as("gate"),
            col("s3").as("n_docs"), (col("s2") - col("s3")).as("dropped")),
          struct(lit(4).as("stage"), lit("top_token").as("gate"),
            col("s4").as("n_docs"), (col("s3") - col("s4")).as("dropped")),
          struct(lit(5).as("stage"), lit("near_dup").as("gate"),
            col("s5").as("n_docs"), (col("s4") - col("s5")).as("dropped")))).as("r"))
        .select("r.*")
        .reportSorted("stage")
    },
      Some(s"""WITH ${Dedup.sqlPairCtes()},
             |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
             |$sqlGateCtes,
             |j AS (
             |  SELECT
             |    (n >= 20) AS g1,
             |    (n >= 20 AND nstop > 0) AS g2,
             |    (n >= 20 AND nstop > 0
             |      AND CAST(n - 1 - d2 AS DOUBLE) / (n - 1) <= 0.05) AS g3,
             |    (n >= 20 AND nstop > 0
             |      AND CAST(n - 1 - d2 AS DOUBLE) / (n - 1) <= 0.05
             |      AND CAST(mx AS DOUBLE) / n <= 0.12) AS g4,
             |    (n >= 20 AND nstop > 0
             |      AND CAST(n - 1 - d2 AS DOUBLE) / (n - 1) <= 0.05
             |      AND CAST(mx AS DOUBLE) / n <= 0.12
             |      AND m.doc_id NOT IN (SELECT doc_id FROM drops)) AS g5
             |  FROM m JOIN mx ON m.doc_id = mx.doc_id),
             |a AS (
             |  SELECT CAST(count(*) AS BIGINT) AS s0,
             |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
             |    CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             |    CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
             |    CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
             |    CAST(sum(CASE WHEN g5 THEN 1 ELSE 0 END) AS BIGINT) AS s5
             |  FROM j)
             |SELECT 0 AS stage, 'total' AS gate, s0 AS n_docs,
             |  CAST(0 AS BIGINT) AS dropped FROM a
             |UNION ALL SELECT 1, 'min_length', s1, s0 - s1 FROM a
             |UNION ALL SELECT 2, 'stopword_evidence', s2, s1 - s2 FROM a
             |UNION ALL SELECT 3, 'repetition', s3, s2 - s3 FROM a
             |UNION ALL SELECT 4, 'top_token', s4, s3 - s4 FROM a
             |UNION ALL SELECT 5, 'near_dup', s5, s4 - s5 FROM a
             |ORDER BY stage""".stripMargin)),

    // ---- Corpus snapshot diff: added / removed / modified / unchanged ----
    // The change report between two corpus versions — what a pipeline
    // operator reads before re-running downstream stages (and what makes
    // incremental reprocessing auditable). Versions are derived
    // deterministically from the fixture (v1 drops ids ending in 7, v2
    // drops ids ending in 3 and revises ids ending in 5) so both engines
    // construct identical snapshots; the diff itself is the production
    // shape: one id-keyed FULL OUTER equi-join of content hashes (at
    // 100 TB both snapshots live id-bucketed — q82's zero-shuffle join
    // layout), classified per row and rolled up per (source, status).
    QueryDef("q106_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val v1 = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("source").as("source1"), md5(col("text")).as("h1"))
      val v2 = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"), col("source").as("source2"),
          md5(when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(coalesce(col("source1"), col("source2")).as("source"),
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "modified")
            .otherwise("unchanged").as("status"))
        .groupBy("source", "status").agg(count(lit(1)).as("n"))
        .reportSorted("source", "status")
    },
      Some("""WITH v1 AS (
             |  SELECT doc_id, source, md5(text) AS h1 FROM documents
             |  WHERE doc_id % 10 <> 7),
             |v2 AS (
             |  SELECT doc_id, source,
             |    md5(CASE WHEN doc_id % 10 = 5 THEN text || ' rev2'
             |        ELSE text END) AS h2
             |  FROM documents WHERE doc_id % 10 <> 3)
             |SELECT coalesce(v1.source, v2.source) AS source,
             |  CASE WHEN h1 IS NULL THEN 'added'
             |       WHEN h2 IS NULL THEN 'removed'
             |       WHEN h1 <> h2 THEN 'modified'
             |       ELSE 'unchanged' END AS status,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
             |GROUP BY 1, 2 ORDER BY source, status""".stripMargin)),

    // ---- Incremental invalidation: what must re-run after a snapshot diff
    // The composition that makes incremental reprocessing SOUND: a
    // changed document does not only invalidate itself — any near-dup
    // cluster it belongs to changes membership, so every member needs
    // its dedup verdict recomputed. Invalidated = changed docs (added or
    // modified, from the q106 hash diff) plus ALL members of any v2
    // near-dup cluster containing one. Shapes: the q106 id-keyed diff,
    // the q45 LSH pair set over v2, the q52 large-star/small-star
    // closure, and two id-keyed semi-joins — every piece already audited;
    // the output is the re-run manifest, tagged direct vs cluster.
    QueryDef("q109_invalidation", (s, d) => {
      val docs = t(s, d, "documents")
      val v2 = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      val v1h = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), md5(col("text")).as("h1"))
      // r15 (guide §2.6): the changed-doc hash diff (two md5 passes) is
      // independent of the components loop — materialize concurrently
      val Seq(changed, labels) = graft.Materialize.concurrently(
        () => v2.select(col("doc_id"), md5(col("text")).as("h2"))
          .join(v1h, Seq("doc_id"), "left")
          .filter(col("h1").isNull || col("h1") =!= col("h2"))
          .select("doc_id").materialize,
        () => Dedup.connectedComponents(
          Dedup.nearDupPairsOf(v2).select("doc_a", "doc_b"))._1)
      val clusters = v2.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster"))
      val bad = clusters.join(changed, Seq("doc_id"), "left_semi")
        .select("cluster").distinct()
      clusters.join(bad, Seq("cluster"), "left_semi")
        .join(changed.withColumn("direct", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("direct"), "direct").otherwise("cluster").as("reason"))
        .orderBy("doc_id")
    },
      Some("""WITH RECURSIVE v2 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 5 THEN text || ' rev2' ELSE text END AS text
             |  FROM documents WHERE doc_id % 10 <> 3),
             |v1h AS (
             |  SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 10 <> 7),
             |chg AS (
             |  SELECT v2.doc_id FROM v2 LEFT JOIN v1h ON v2.doc_id = v1h.doc_id
             |  WHERE h1 IS NULL OR h1 <> md5(v2.text)),
             |s AS MATERIALIZED (
             |  SELECT doc_id, sh FROM (
             |    SELECT doc_id,
             |      list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
             |        i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS sh
             |    FROM v2) WHERE len(sh) > 0),
             |u AS MATERIALIZED (SELECT doc_id, unnest(sh) AS t FROM s),
             |cnt AS MATERIALIZED (SELECT doc_id, len(sh) AS n FROM s),
             |shp AS MATERIALIZED (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             |  FROM u a JOIN u b ON a.t = b.t AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |tp AS MATERIALIZED (
             |  SELECT doc_a, doc_b
             |  FROM shp JOIN cnt ca ON doc_a = ca.doc_id
             |           JOIN cnt cb ON doc_b = cb.doc_id
             |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8),
             |edges AS MATERIALIZED (
             |  SELECT doc_a, doc_b FROM tp UNION SELECT doc_b, doc_a FROM tp),
             |reach(a, b) AS (
             |  SELECT doc_a, doc_b FROM edges
             |  UNION
             |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a),
             |lbl AS (SELECT a AS node, least(a, min(b)) AS cl FROM reach GROUP BY a),
             |cl AS (
             |  SELECT v2.doc_id, coalesce(l.cl, v2.doc_id) AS cluster
             |  FROM v2 LEFT JOIN lbl l ON v2.doc_id = l.node),
             |bad AS (
             |  SELECT DISTINCT cluster FROM cl JOIN chg ON cl.doc_id = chg.doc_id)
             |SELECT cl.doc_id,
             |  CASE WHEN cl.doc_id IN (SELECT doc_id FROM chg)
             |       THEN 'direct' ELSE 'cluster' END AS reason
             |FROM cl WHERE cl.cluster IN (SELECT cluster FROM bad)
             |ORDER BY cl.doc_id""".stripMargin)),

    // ---- Multi-signal ensemble quality score -----------------------------
    // Production filtering is never one signal: this fuses the q41/q66
    // rule gates (hard evidence), q79's corpus-LM familiarity (fluency
    // proxy), and q98's DSIR importance (domain proxy) into ONE integer
    // score — gate pass worth 1e6, then familiarity (x10) and importance
    // as tie-breaking signal strength; top-200 is the curated slice. All
    // components are exact int64 (familiarity and importance averages as
    // floor divisions), so the fused ranking hash-matches. Scale shape:
    // the three signal pipelines keep their audited shapes (map-side
    // gates; two bigram shuffles; capped feature shuffle + broadcast),
    // fused by id-keyed equi-joins — at 100 TB all sides bucket by id.
    QueryDef("q116_ensemble_score", (s, d) => ensembleScore(t(s, d, "documents")),
      Some(s"""WITH $sqlEnsembleCtes
             |SELECT doc_id, gate_ok, fam_avg, avg_weight, ensemble_score
             |FROM ens ORDER BY ensemble_score DESC, doc_id LIMIT 200""".stripMargin)),

    // ---- Quality-classifier training-data assembly -----------------------
    // The fastText-quality-classifier dataset op (GPT-3/CCNet lineage):
    // balanced positive (gate-passing) and negative (gate-failing)
    // classes, each capped at 150 docs picked by deterministic Lehmer
    // hash rank — a rerun-invariant uniform sample, never a
    // corpus-fraction rule. Scale shape: gates ride the scan map-side;
    // each class is a distributed TakeOrderedAndProject (per-partition
    // top-K + tiny driver merge), NOT a global window — no
    // low-cardinality partition skew at any corpus size.
    QueryDef("q147_classifier_pairs", (s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens"), gatesOk.as("gate_ok"))
      def side(pred: org.apache.spark.sql.Column, label: Int) =
        base.filter(pred)
          .orderBy(Sampling.lehmer(col("doc_id")), col("doc_id")).limit(150)
          .select(col("doc_id"), lit(label).as("label"),
            col("n_tokens"), col("lang"))
      side(col("gate_ok"), 1).unionByName(side(!col("gate_ok"), 0))
        .orderBy("doc_id")
    },
      Some(s"""WITH $sqlGateCtes,
             |gl AS MATERIALIZED (
             |  SELECT m.doc_id, m.lang, CAST(m.n AS INTEGER) AS n_tokens,
             |    $sqlGateOk AS gate_ok
             |  FROM m JOIN mx ON m.doc_id = mx.doc_id),
             |pos AS (
             |  SELECT doc_id, 1 AS label, n_tokens, lang FROM gl WHERE gate_ok
             |  ORDER BY ${Sampling.sqlLehmer}, doc_id LIMIT 150),
             |neg AS (
             |  SELECT doc_id, 0 AS label, n_tokens, lang FROM gl WHERE NOT gate_ok
             |  ORDER BY ${Sampling.sqlLehmer}, doc_id LIMIT 150)
             |SELECT * FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
             |ORDER BY doc_id""".stripMargin)),

    // ---- Token-budget quality selection (data-constrained curriculum) ----
    // "The best data that fits N tokens": documents in descending
    // ensemble-score order admitted while the cumulative token count
    // stays within budget — the selection rule behind quality-thresholded
    // pretraining mixes when the compute budget, not the corpus, is the
    // binding constraint. Scale shape: NO corpus-wide window — scores
    // bucket by score band (bounded distribution table), per-band token
    // totals prefix-sum via the hierarchical chunkOffsets machinery
    // (q57/q81's audited shape), and the within-band window partitions
    // by band (bounded groups). The oracle's single ORDER BY window is
    // the semantic spec; the engine plan is the distributed form.
    QueryDef("q148_quality_budget", (s, d) => {
      val budget = 20000L
      val scored = ensembleScores(t(s, d, "documents")).materialize
      val b = scored.withColumn("bkt", expr("-(ensemble_score div 1024)"))
      val totals = b.groupBy("bkt").agg(sum("n_tokens").as("tot"))
      val offs = Sampling.chunkOffsets(totals, "bkt", "tot")
      val wIn = Window.partitionBy("bkt")
        .orderBy(col("ensemble_score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      b.join(broadcast(offs), Seq("bkt"))
        .withColumn("cum_tokens", col("off") + sum("n_tokens").over(wIn))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("ensemble_score"), col("n_tokens"),
          col("cum_tokens"))
        .reportSorted(col("ensemble_score").desc, col("doc_id"))
    },
      Some(s"""WITH $sqlEnsembleCtes,
             |sel AS (
             |  SELECT doc_id, ensemble_score, n_tokens,
             |    CAST(sum(n_tokens) OVER (ORDER BY ensemble_score DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_tokens
             |  FROM ens)
             |SELECT doc_id, ensemble_score, n_tokens, cum_tokens
             |FROM sel WHERE cum_tokens <= 20000
             |ORDER BY ensemble_score DESC, doc_id""".stripMargin)),

    // ---- Cross-modality referential integrity ----------------------------
    // The audit every multimodal assembly (q82) should run first: do the
    // text and embedding modalities actually cover the same id space?
    // Orphans on either side mean silent row loss in the inner-join
    // assembly (docs with no vector never become training examples;
    // vectors with no doc are unattributable). One full-outer hash join
    // on the id (q106's compare shape), rolled up to one row per match
    // class with the id range that localizes the gap.
    QueryDef("q132_modality_integrity", (s, d) =>
      modalityIntegrity(t(s, d, "documents"), t(s, d, "embeddings")),
      Some("""WITH d AS (SELECT doc_id AS id FROM documents),
             |v AS (SELECT vec_id AS id FROM embeddings),
             |j AS (
             |  SELECT coalesce(d.id, v.id) AS id,
             |    CASE WHEN d.id IS NOT NULL AND v.id IS NOT NULL THEN 'both'
             |         WHEN d.id IS NOT NULL THEN 'doc_only'
             |         ELSE 'vec_only' END AS status
             |  FROM d FULL OUTER JOIN v ON d.id = v.id)
             |SELECT status, CAST(count(*) AS BIGINT) AS n_ids,
             |  min(id) AS min_id, max(id) AS max_id
             |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // ---- Temperature-scaled source mixing weights ------------------------
    // The multilingual/multi-source sampling rule used when assembling a
    // training mix: raw source shares p_s get flattened to p_s^alpha so
    // low-resource sources are up-sampled (alpha=1 keeps the natural
    // mix, alpha=0 is uniform). alpha is pinned at 0.5 because sqrt is
    // the one power IEEE-754 requires CORRECTLY ROUNDED — pow(x, 0.7)
    // has no cross-engine bit guarantee, sqrt does, so the whole weight
    // table hash-matches. The normalizer is a LEFT FOLD over the
    // source-ordered weight list (Spark `aggregate`, DuckDB
    // `list_reduce` — both sequential in list order), never a
    // parallel-summation double aggregate, so association order is
    // pinned on both engines. Shape: one per-source rollup (catalog
    // rows), a 1-row broadcast of the fold, one map pass.
    QueryDef("q165_temperature_mix", (s, d) => {
      val bySrc = t(s, d, "documents").groupBy("source")
        .agg(sum("n_chars").as("src_bytes"), count(lit(1)).as("n_docs"))
      val z = bySrc
        .agg(collect_list(struct(col("source"), sqrt(col("src_bytes").cast("double"))
          .as("w"))).as("ws"),
          sum("src_bytes").as("total_bytes"))
        .select(aggregate(transform(array_sort(col("ws")), x => x.getField("w")),
          lit(0.0), (acc, x) => acc + x).as("z"), col("total_bytes"))
      bySrc.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("src_bytes"),
          (sqrt(col("src_bytes").cast("double")) / col("z")).as("weight"),
          ((sqrt(col("src_bytes").cast("double")) / col("z")) *
            col("total_bytes") / col("src_bytes")).as("sample_mult"))
        .reportSorted("source")
    },
      Some("""WITH bysrc AS MATERIALIZED (
             |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS src_bytes,
             |    CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY source),
             |z AS MATERIALIZED (
             |  SELECT list_reduce(
             |      list_prepend(CAST(0 AS DOUBLE),
             |        list(sqrt(CAST(src_bytes AS DOUBLE)) ORDER BY source)),
             |      (a, b) -> a + b) AS z,
             |    CAST(sum(src_bytes) AS BIGINT) AS total_bytes
             |  FROM bysrc)
             |SELECT source, n_docs, src_bytes,
             |  sqrt(CAST(src_bytes AS DOUBLE)) / z AS weight,
             |  (sqrt(CAST(src_bytes AS DOUBLE)) / z) * total_bytes / src_bytes
             |    AS sample_mult
             |FROM bysrc, z ORDER BY source""".stripMargin)),

    // ---- Per-source quantile normalization -------------------------------
    // Make a per-source score comparable across sources by mapping each
    // value to the GLOBAL distribution's quantile function at the same
    // cumulative rank (classic quantile normalization): norm(v | src) =
    // min{ g : F_global(g) >= F_src(v) }. The knob that lets one quality
    // threshold apply to every source regardless of its length/score
    // distribution. Output is the per-(source, value) mapping table —
    // value-domain-sized, never corpus-sized.
    //
    // Scale shape: both CDFs are built rank-over-DISTRIBUTION (group by
    // value first, then cumulate over the distinct-value table), so no
    // corpus row is ever sorted — the windows run over tables bounded by
    // the value domain, not the row count. The quantile lookup is an
    // inequality join of the two distribution tables (global side
    // broadcast): |src_dist| x |global_dist| candidate pairs, bounded by
    // domain^2 whatever the corpus size. The >= test cross-multiplies
    // exact int64 counts (gc·n_s >= sc·N ⟺ gc/N >= sc/n_s) instead of
    // comparing rounded double fractions — exact to corpora of ~3e9 rows
    // (past that, promote the products to DECIMAL(38)); the reported
    // src_cum_frac is presentation-only.
    QueryDef("q176_quantile_normalize", (s, d) => {
      val docs = t(s, d, "documents").select(col("source"), col("n_chars"))
      val wS = Window.partitionBy("source").orderBy("n_chars")
      val sdist = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
        .withColumn("sc", sum("cnt").over(wS))
        .withColumn("ns", sum("cnt").over(Window.partitionBy("source")))
      val gdist = docs.groupBy("n_chars").agg(count(lit(1)).as("gcnt"))
        .withColumn("gc", sum("gcnt").over(Window.partitionBy(Sampling.onePart(col("n_chars"))).orderBy("n_chars")))
        .withColumn("n", sum("gcnt").over(Window.partitionBy(Sampling.onePart(col("gcnt")))))
        .select(col("n_chars").as("gv"), col("gc"), col("n"))
      sdist.join(broadcast(gdist), col("gc") * col("ns") >= col("sc") * col("n"))
        .groupBy("source", "n_chars", "cnt", "sc", "ns")
        .agg(min("gv").as("norm_value"))
        .select(col("source"), col("n_chars"), col("cnt").as("n_docs"),
          (col("sc").cast("double") / col("ns")).as("src_cum_frac"),
          col("norm_value"))
        .reportSorted("source", "n_chars")
    },
      Some("""WITH sdist AS MATERIALIZED (
             |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(count(*)) OVER (PARTITION BY source
             |      ORDER BY n_chars) AS BIGINT) AS sc,
             |    CAST(sum(count(*)) OVER (PARTITION BY source) AS BIGINT) AS ns
             |  FROM documents GROUP BY source, n_chars),
             |gdist AS MATERIALIZED (
             |  SELECT n_chars AS gv,
             |    CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT) AS gc,
             |    CAST(sum(count(*)) OVER () AS BIGINT) AS n
             |  FROM documents GROUP BY n_chars)
             |SELECT source, n_chars, cnt AS n_docs,
             |  CAST(sc AS DOUBLE) / ns AS src_cum_frac,
             |  min(gv) AS norm_value
             |FROM sdist JOIN gdist ON gc * ns >= sc * n
             |GROUP BY source, n_chars, cnt, sc, ns
             |ORDER BY source, n_chars""".stripMargin)),

    // ---- Quota-diversified (fair) top-k ----------------------------------
    // Plain top-k by score lets one dominant source fill every slot; the
    // standard fix caps each source's contribution (here: top-20 docs by
    // length-score, at most 2 per source) — the per-source quota rule
    // used for fair rankings and for mixing-aware seed selection.
    //
    // Scale shape: the quota filter is a per-source window (rank ≤ 2 in
    // source-partitioned order — bounded partitions of the corpus), and
    // the global cut runs on the quota SURVIVORS (≤ 2·|sources| rows)
    // via TakeOrderedAndProject — no global sort ever sees the corpus.
    QueryDef("q190_fair_topk", (s, d) => {
      val wSrc = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("src_rank", row_number().over(wSrc))
        .filter(col("src_rank") <= 2)
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(Sampling.onePart(col("n_chars"))).orderBy(col("n_chars").desc, col("doc_id"))))
        .select("rank", "doc_id", "source", "n_chars", "src_rank")
        .reportSorted("rank")
    },
      Some("""WITH q AS MATERIALIZED (
             |  SELECT doc_id, source, n_chars,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS INTEGER) AS src_rank
             |  FROM documents QUALIFY src_rank <= 2)
             |SELECT CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
             |    AS INTEGER) AS rank,
             |  doc_id, source, n_chars, src_rank
             |FROM q ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin)),

    // ---- Gate-length bias diagnostic (point-biserial correlation) --------
    // Is the quality gate secretly a LENGTH filter? Per source, the
    // point-biserial correlation between gate_ok and n_chars:
    // r_pb = (M_pass - M_fail) * sqrt(n_pass*n_fail) /
    // sqrt(n*Sxx - Sx^2). |r| near 1 says the gate adds nothing a
    // length cut wouldn't; near 0 says it measures something else —
    // the check that keeps a curation pipeline from silently biasing
    // the corpus short or long. Moments are exact int64 (x <= chars,
    // Sxx stays in range through ~10^10 docs per source; past that,
    // center x first — the q222 rule) combined in double space;
    // degenerate sources (all pass / all fail) emit NULL, not NaN.
    QueryDef("q259_gate_length_bias", (s, d) => {
      val c = t(s, d, "documents")
        .select(col("source"), col("n_chars").cast("long").as("x"),
          gatesOk.as("ok"))
      c.groupBy("source").agg(
          count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("ok"), col("x")).otherwise(0L)).as("s1"),
          sum(when(!col("ok"), col("x")).otherwise(0L)).as("s0"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x")).as("sx"))
        .select(col("source"), col("n"), col("n_pass"),
          expr("CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE)").as("pass_rate"),
          expr("CASE WHEN n_pass > 0 THEN CAST(s1 AS DOUBLE) " +
            "/ CAST(n_pass AS DOUBLE) END").as("mean_pass_chars"),
          expr("CASE WHEN n - n_pass > 0 THEN CAST(s0 AS DOUBLE) " +
            "/ CAST(n - n_pass AS DOUBLE) END").as("mean_fail_chars"),
          expr("CASE WHEN n_pass > 0 AND n - n_pass > 0 THEN " +
            "(CAST(s1 AS DOUBLE) / CAST(n_pass AS DOUBLE) " +
            " - CAST(s0 AS DOUBLE) / CAST(n - n_pass AS DOUBLE)) " +
            "* sqrt(CAST(n_pass AS DOUBLE) * CAST(n - n_pass AS DOUBLE)) " +
            "/ sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END").as("r_pb"))
        .reportSorted("source")
    },
      Some(s"""WITH $sqlGateCtes,
             |c AS MATERIALIZED (
             |  SELECT m.source, CAST(m.n_chars AS BIGINT) AS x,
             |    $sqlGateOk AS ok
             |  FROM m JOIN mx ON m.doc_id = mx.doc_id),
             |a AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             |    CAST(sum(CASE WHEN ok THEN x ELSE 0 END) AS BIGINT) AS s1,
             |    CAST(sum(CASE WHEN NOT ok THEN x ELSE 0 END) AS BIGINT) AS s0,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(x) AS BIGINT) AS sx
             |  FROM c GROUP BY 1)
             |SELECT source, n, n_pass,
             |  CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS pass_rate,
             |  CASE WHEN n_pass > 0 THEN CAST(s1 AS DOUBLE)
             |    / CAST(n_pass AS DOUBLE) END AS mean_pass_chars,
             |  CASE WHEN n - n_pass > 0 THEN CAST(s0 AS DOUBLE)
             |    / CAST(n - n_pass AS DOUBLE) END AS mean_fail_chars,
             |  CASE WHEN n_pass > 0 AND n - n_pass > 0 THEN
             |    (CAST(s1 AS DOUBLE) / CAST(n_pass AS DOUBLE)
             |     - CAST(s0 AS DOUBLE) / CAST(n - n_pass AS DOUBLE))
             |    * sqrt(CAST(n_pass AS DOUBLE) * CAST(n - n_pass AS DOUBLE))
             |    / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS r_pb
             |FROM a ORDER BY source""".stripMargin)),

    // ---- Padding-waste advisor for length-bucketed batching --------------
    // A trainer that pads every sequence to the batch max burns compute
    // on pad tokens; length bucketing bounds that waste. This prices
    // three bucketing schemes from the token-length distribution alone:
    // no bucketing (pad to the global max), LogHist buckets (q233's
    // log-scale grid — <= 6.25% width by construction), and 64-wide
    // linear buckets. Per scheme: bucket count, real tokens, padded
    // tokens (each bucket pads to ITS max — the per-batch max is
    // bounded above by the bucket max, so this is the scheme's
    // worst-case waste), and the waste fraction the trainer would eat.
    // Pure integer aggregation + one divide; n*max stays in int64
    // through ~10^13 corpus tokens per bucket.
    QueryDef("q264_padding_waste", (s, d) => {
      val toks = t(s, d, "documents")
        .select(size(split(col("text"), " ")).cast("long").as("len"))
        .materialize // three scheme passes share it
      def scheme(bucketExpr: String, name: String) = toks
        .withColumn("b", expr(bucketExpr))
        .groupBy("b")
        .agg(count(lit(1)).as("n"), max("len").as("mx"),
          sum("len").as("sl"))
        .agg(count(lit(1)).as("n_buckets"),
          sum("sl").as("total_tokens"),
          sum(expr("n * mx")).as("padded_tokens"))
        .select(lit(name).as("scheme"), col("n_buckets"),
          col("total_tokens"), col("padded_tokens"),
          ((col("padded_tokens") - col("total_tokens")).cast("double") /
            col("padded_tokens").cast("double")).as("waste_frac"))
      scheme("CAST(0 AS BIGINT)", "A:none")
        .unionByName(scheme(
          "CASE WHEN len < 32 THEN len ELSE " +
            "((length(bin(len)) - 5) * 16) " +
            "+ shiftright(len, length(bin(len)) - 5) END", "B:loghist"))
        .unionByName(scheme("len div 64", "C:linear64"))
        .orderBy("scheme")
    },
      Some {
        def c(bucket: String, name: String) =
          s"""SELECT '$name' AS scheme,
             |  CAST(count(*) AS BIGINT) AS n_buckets,
             |  CAST(sum(sl) AS BIGINT) AS total_tokens,
             |  CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
             |  CAST(CAST(sum(n * mx) AS BIGINT)
             |      - CAST(sum(sl) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(sum(n * mx) AS BIGINT) AS DOUBLE) AS waste_frac
             |FROM (
             |  SELECT $bucket AS b, CAST(count(*) AS BIGINT) AS n,
             |    CAST(max(len) AS BIGINT) AS mx, CAST(sum(len) AS BIGINT) AS sl
             |  FROM tk GROUP BY 1)""".stripMargin
        s"""WITH tk AS MATERIALIZED (
           |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len
           |  FROM documents)
           |SELECT * FROM (
           |${c("CAST(0 AS BIGINT)", "A:none")}
           |UNION ALL
           |${c("CASE WHEN len < 32 THEN len ELSE ((length(bin(len)) - 5) * 16) + (len >> (length(bin(len)) - 5)) END", "B:loghist")}
           |UNION ALL
           |${c("len // 64", "C:linear64")})
           |ORDER BY scheme""".stripMargin
      }),

    // ---- Curation gate ablation report ------------------------------------
    // Which gate earns its keep: for each of the four q68 gates, how
    // many documents fail it AT ALL vs fail ONLY it — the marginal-kill
    // decomposition that tells an operator which threshold to tune
    // (a gate whose kills are all shared with other gates is free to
    // tighten; one with a large unique kill is the binding constraint).
    // One corpus pass computes the four booleans per doc, one 1-row
    // aggregation folds them (all map-side), and the 4-row report is a
    // union of selects off that row — the q280 cell-reshape pattern, so
    // the report costs one scan at any corpus size.
    QueryDef("q281_gate_ablation", (s, d) => {
      val g = Seq(("length", gateLen), ("stopword", gateStop),
        ("repetition", gateRep), ("top_token", gateTok))
      val base = t(s, d, "documents").select(
        g.map { case (n, c) => c.as(n) }: _*)
      val aggCols = g.flatMap { case (n, _) =>
        val others = g.filterNot(_._1 == n).map(x => col(x._1))
          .reduce(_ && _)
        Seq(sum(when(!col(n), 1L).otherwise(0L)).as(s"f_$n"),
          sum(when(!col(n) && others, 1L).otherwise(0L)).as(s"o_$n"))
      } ++ Seq(count(lit(1)).as("n_docs"),
        sum(when(g.map(x => col(x._1)).reduce(_ && _), 1L).otherwise(0L))
          .as("pass_all"))
      val fin = base.agg(aggCols.head, aggCols.tail: _*).materialize
      g.map { case (n, _) =>
        fin.select(lit(n).as("gate"), col("n_docs"), col("pass_all"),
          col(s"f_$n").as("n_fail"), col(s"o_$n").as("n_fail_only"),
          (col(s"f_$n").cast("double") / col("n_docs").cast("double"))
            .as("fail_frac"),
          (col(s"o_$n").cast("double") / col("n_docs").cast("double"))
            .as("unique_kill_frac"))
      }.reduce(_.union(_)).orderBy("gate")
    },
      Some {
        val gp = Seq(("length", sqlGateLenP), ("stopword", sqlGateStopP),
          ("repetition", sqlGateRepP), ("top_token", sqlGateTokP))
        val aggSql = gp.flatMap { case (n, p) =>
          val others = gp.filterNot(_._1 == n).map(_._2)
            .map(x => s"($x)").mkString(" AND ")
          Seq(
            s"""CAST(sum(CASE WHEN NOT coalesce($p, FALSE)
               |      THEN 1 ELSE 0 END) AS BIGINT) AS "f_$n"""".stripMargin,
            s"""CAST(sum(CASE WHEN NOT coalesce($p, FALSE) AND ($others)
               |      THEN 1 ELSE 0 END) AS BIGINT) AS "o_$n"""".stripMargin)
        }.mkString(",\n    ")
        val cells = gp.map { case (n, _) =>
          s"""SELECT '$n' AS gate, n_docs, pass_all,
             |  "f_$n" AS n_fail, "o_$n" AS n_fail_only,
             |  CAST("f_$n" AS DOUBLE) / CAST(n_docs AS DOUBLE) AS fail_frac,
             |  CAST("o_$n" AS DOUBLE) / CAST(n_docs AS DOUBLE)
             |    AS unique_kill_frac
             |FROM fin""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $sqlGateCtes,
           |fin AS MATERIALIZED (
           |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(CASE WHEN $sqlGateOk THEN 1 ELSE 0 END) AS BIGINT)
           |      AS pass_all,
           |    $aggSql
           |  FROM m JOIN mx ON m.doc_id = mx.doc_id)
           |SELECT * FROM (
           |$cells)
           |ORDER BY gate""".stripMargin
      }),

    // ---- Leave-one-out target encoding with prior smoothing --------------
    // The feature-engineering staple for categorical columns feeding a
    // model: replace the category by the mean target of ITS OTHER
    // members (leave-one-out — including the row's own target leaks the
    // label) blended toward the global prior by pseudo-count m = 100
    // (rare categories shrink to the prior instead of memorizing).
    // Exact shape: per-category int64 (sum, count) + the one-row global
    // prior broadcast; each row's encoding is then two divisions —
    // LOO = (sum_c - x) / (n_c - 1), smoothed on the loo numerator —
    // so the whole feature costs one grouped aggregation and a map-side
    // join at any corpus size, and both engines share bit-identical
    // doubles because every numerator/denominator is an exact int64.
    QueryDef("q286_target_encoding", (s, d) => {
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("cat"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("y"))
      val grp = o.groupBy("cat")
        .agg(sum("y").as("sy"), count(lit(1)).as("nc"))
      val glob = o.agg(sum("y").as("gy"), count(lit(1)).as("gn"))
      o.join(broadcast(grp), "cat").crossJoin(broadcast(glob))
        .select(col("o_orderkey"), col("cat"), col("y"), col("nc"),
          ((col("sy") - col("y")).cast("double") /
            (col("nc") - 1).cast("double")).as("loo_mean_cents"),
          (((col("sy") - col("y")).cast("double") +
            lit(100.0) * (col("gy").cast("double") / col("gn").cast("double"))) /
            (col("nc") - 1 + 100).cast("double")).as("smoothed_cents"))
        .orderBy("o_orderkey")
    },
      Some("""WITH o AS MATERIALIZED (
             |  SELECT o_orderkey, o_orderpriority AS cat,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
             |  FROM orders),
             |g AS MATERIALIZED (
             |  SELECT cat, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(count(*) AS BIGINT) AS nc
             |  FROM o GROUP BY cat),
             |gl AS (SELECT CAST(sum(y) AS BIGINT) AS gy,
             |         CAST(count(*) AS BIGINT) AS gn FROM o)
             |SELECT o_orderkey, cat, y, nc,
             |  CAST(sy - y AS DOUBLE) / CAST(nc - 1 AS DOUBLE)
             |    AS loo_mean_cents,
             |  (CAST(sy - y AS DOUBLE)
             |     + 100e0 * (CAST(gy AS DOUBLE) / CAST(gn AS DOUBLE)))
             |    / CAST(nc - 1 + 100 AS DOUBLE) AS smoothed_cents
             |FROM o JOIN g USING (cat) CROSS JOIN gl
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- Water-filling token-budget allocation across sources ------------
    // The allocation step q76/q165's mixing weights hand off to: spread
    // a corpus-level token budget (95% of total here) across sources
    // EQUALLY — except a source cannot give more than it has, and its
    // unused share must flow back to the still-open sources. That is
    // water-filling: 3 unrolled rounds (the q138/q208 bounded-unroll
    // rule), each giving every open source min(remaining_capacity,
    // remaining_budget div open_count). All int64 — the only state per
    // round is one (sum alloc, open count) row broadcast back against
    // the per-source table (q76's class), so the iteration costs 3
    // tiny aggregations however large the corpus behind the per-source
    // totals. Small sources fill and cap out in round 1; the freed
    // budget cascades to the big ones; `leftover` reports what 3
    // rounds could not place (0 here — attested by the driver gate).
    QueryDef("q277_waterfill_alloc", (s, d) => {
      val avail = t(s, d, "documents")
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("len"))
        .groupBy("source").agg(sum("len").as("avail"))
        .materialize // read by the budget row and every round
      val budget = avail.agg(expr("(sum(avail) * 19) div 20").as("b"))
      var st = avail.crossJoin(broadcast(budget))
        .select(col("source"), col("avail"), col("b"), lit(0L).as("alloc"))
      for (_ <- 1 to 3) {
        val stats = st.agg(sum("alloc").as("sal"),
          sum(when(col("alloc") < col("avail"), 1L).otherwise(0L)).as("na"))
        st = st.crossJoin(broadcast(stats))
          .withColumn("give", when(col("alloc") < col("avail") && col("na") > 0,
            least(col("avail") - col("alloc"),
              expr("(b - sal) div na"))).otherwise(0L))
          .select(col("source"), col("avail"), col("b"),
            (col("alloc") + col("give")).as("alloc"))
      }
      val fin = st.agg(sum("alloc").as("placed"))
      st.crossJoin(broadcast(fin))
        .select(col("source"), col("avail").as("avail_tokens"),
          col("alloc").as("alloc_tokens"),
          (col("alloc").cast("double") / col("avail").cast("double"))
            .as("fill_frac"),
          (col("alloc") === col("avail")).as("filled"),
          col("b").as("budget"), (col("b") - col("placed")).as("leftover"))
        .reportSorted("source")
    },
      Some {
        val rounds = (1 to 3).map { r =>
          s"""g$r AS (
             |  SELECT CAST(sum(alloc) AS BIGINT) AS sal,
             |    CAST(sum(CASE WHEN alloc < avail THEN 1 ELSE 0 END)
             |      AS BIGINT) AS na
             |  FROM st${r - 1}),
             |st$r AS MATERIALIZED (
             |  SELECT source, avail, b, alloc
             |    + CASE WHEN alloc < avail AND na > 0
             |        THEN least(avail - alloc, (b - sal) // na)
             |        ELSE 0 END AS alloc
             |  FROM st${r - 1} CROSS JOIN g$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH s0 AS MATERIALIZED (
           |  SELECT source,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
           |  FROM documents GROUP BY source),
           |bb AS (SELECT (CAST(sum(avail) AS BIGINT) * 19) // 20 AS b FROM s0),
           |st0 AS MATERIALIZED (
           |  SELECT source, avail, b, CAST(0 AS BIGINT) AS alloc
           |  FROM s0 CROSS JOIN bb),
           |$rounds,
           |fin AS (SELECT CAST(sum(alloc) AS BIGINT) AS placed FROM st3)
           |SELECT source, avail AS avail_tokens, alloc AS alloc_tokens,
           |  CAST(alloc AS DOUBLE) / CAST(avail AS DOUBLE) AS fill_frac,
           |  alloc = avail AS filled, b AS budget,
           |  b - placed AS leftover
           |FROM st3 CROSS JOIN fin ORDER BY source""".stripMargin
      }),

    // ---- Ensemble-quality canonical selection per dedup cluster -----------
    // The third keep policy in the canonical-selection family: q51
    // keeps MIN-ID (exact-copy tie-break), q121 keeps LONGEST (n_chars
    // — the most complete copy), and this keeps the member maximizing
    // the q116 multi-signal ensemble score (gates + LM familiarity +
    // importance weight; ties -> smaller doc_id) — the policy that
    // prefers the CLEAN original over a longer boilerplate-wrapped
    // mirror, which keep-longest gets exactly backwards. Shape differs
    // from q121 too: one struct-max aggregation per cluster
    // (map-combinable) instead of a rank window over cluster
    // partitions. Output includes the winning score so downstream can
    // threshold clusters whose best member is still junk.
    QueryDef("q314_quality_keep", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.nearDupPairsOf(docs).select("doc_a", "doc_b")
      // r15 (guide §2.6): the ensemble-score pass (one corpus trigram
      // pass inside lmFamiliarity) is independent of the components
      // loop — materialize it concurrently with the CC rounds instead
      // of leaving it to run serially inside the final action
      val Seq(labels, scores) = graft.Materialize.concurrently(
        () => Dedup.connectedComponents(pairs)._1,
        () => ensembleScores(docs).select("doc_id", "ensemble_score")
          .materialize)
      labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
        .join(scores, "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("ensemble_score"), (-col("doc_id")).as("nd"))).as("m"))
        .select(col("cluster_id"), (-col("m.nd")).as("keep_id"),
          col("m.ensemble_score").as("best_score"),
          col("n_members"), (col("n_members") - 1).as("n_dropped"))
        .orderBy("cluster_id")
    },
      Some(s"""WITH RECURSIVE ${Dedup.sqlPairCtes()},
             |edges AS MATERIALIZED (
             |  SELECT doc_a, doc_b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc_a, doc_b FROM edges
             |  UNION
             |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a),
             |lbl AS MATERIALIZED (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |  FROM reach GROUP BY a),
             |$sqlEnsembleCtes,
             |k AS (
             |  SELECT cluster_id, l.doc_id, ensemble_score,
             |    row_number() OVER (PARTITION BY cluster_id
             |      ORDER BY ensemble_score DESC, l.doc_id) AS rn,
             |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             |      AS n_members
             |  FROM lbl l JOIN ens e ON l.doc_id = e.doc_id)
             |SELECT cluster_id, doc_id AS keep_id,
             |  CAST(ensemble_score AS BIGINT) AS best_score,
             |  n_members, n_members - 1 AS n_dropped
             |FROM k WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    // ---- Cross-epoch repeat exposure (repeated-data audit) ---------------
    // How many effective times will this CONTENT be seen over the
    // whole training run? The schedule (q122) repeats small sources up
    // to 4x, and near-dup clusters multiply that again: a cluster's
    // exposure is the SUM of its members' source epoch rates — the
    // repeated-data accounting of Muennighoff et al. / Hernandez et
    // al., where near-identical text seen 10+ times measurably hurts.
    // Per cluster (q52's components; a doc in no near-dup pair is its
    // own singleton cluster): member/source counts, total exposure_ppm,
    // the max single-doc rate, and the over-exposure flag at 8e6 ppm
    // (content effectively seen > 8 times). Exact integer ppm
    // throughout. Shape: q52's O(log)-round components on the LSH pair
    // set, a 1:1 pinned shuffled-hash label join (labels are
    // corpus-derived — the q135 rule), the schedule's bounded
    // source-domain broadcast, one grouped rollup.
    QueryDef("q370_repeat_exposure", (s, d) => {
      val docs = t(s, d, "documents")
      // r15 (guide §2.6): the epoch schedule (its own corpus pass) is
      // independent of the components loop — materialize concurrently
      val Seq(labels0, sched) = graft.Materialize.concurrently(
        () => Dedup.connectedComponents(
          Dedup.nearDupPairsOf(docs).select("doc_a", "doc_b"))._1,
        () => Sampling.epochSchedule(docs)
          .select("source", "epochs_ppm").materialize)
      val labels = labels0
        .select(col("node").as("doc_id"), col("lbl").as("cid"))
      docs.select("doc_id", "source")
        .join(labels.hint("shuffle_hash"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cid"), col("doc_id")))
        .join(broadcast(sched), Seq("source"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          sum("epochs_ppm").as("exposure_ppm"),
          max("epochs_ppm").as("max_doc_ppm"))
        .withColumn("overexposed", col("exposure_ppm") > 8000000L)
        .orderBy("cluster_id")
    },
      Some(s"""WITH RECURSIVE ${Dedup.sqlPairCtes()},
             |edges AS MATERIALIZED (
             |  SELECT doc_a, doc_b FROM pairs
             |  UNION SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc_a, doc_b FROM edges
             |  UNION
             |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a),
             |lbl AS MATERIALIZED (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
             |  FROM reach GROUP BY a),
             |${Sampling.sqlEpochCtes},
             |mem AS (
             |  SELECT coalesce(l.cluster_id, d.doc_id) AS cluster_id,
             |    d.source, sc.epochs_ppm
             |  FROM documents d
             |  LEFT JOIN lbl l ON d.doc_id = l.doc_id
             |  JOIN sched sc ON d.source = sc.source)
             |SELECT cluster_id,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  CAST(sum(epochs_ppm) AS BIGINT) AS exposure_ppm,
             |  CAST(max(epochs_ppm) AS BIGINT) AS max_doc_ppm,
             |  sum(epochs_ppm) > 8000000 AS overexposed
             |FROM mem GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),
  )

  /** Cross-modality id-space audit — q132's body, exposed for the
    * orphan-fixture spec. */
  def modalityIntegrity(documents: org.apache.spark.sql.DataFrame,
      embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val docs = documents.select(col("doc_id").as("id"))
      .withColumn("has_doc", lit(1L))
    val vecs = embeddings.select(col("vec_id").as("id"))
      .withColumn("has_vec", lit(1L))
    docs.join(vecs, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("has_doc").isNotNull && col("has_vec").isNotNull, "both")
          .when(col("has_doc").isNotNull, "doc_only")
          .otherwise("vec_only"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_ids"),
        min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("status")
  }
}
