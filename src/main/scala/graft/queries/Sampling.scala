package graft.queries

import graft.Materialize._
import graft.Report._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.Tables.{load => t}

/** Deterministic sampling / splitting operators for a training-data
  * pipeline: salt-free hash splits and per-group quota sampling.
  *
  * Scale design: both are one narrow map stage (the split) or one shuffle
  * on the group key (the quota window) — no global sorts except the
  * oracle-determinism root ordering, no driver state. The hash is a
  * composed Lehmer/MINSTD step (see [[lehmer]], M = 2^31-1): products
  * stay under 2^47 so the arithmetic is exact in 64-bit on BOTH engines —
  * a production pipeline on arbitrary keys would use xxhash64, which is
  * engine-specific and would forfeit the oracle.
  */
object Sampling {
  private val M = 2147483647L // 2^31 - 1 (prime)

  /** Deterministic per-row hash in [0, M): TWO composed Lehmer steps on
    * the id. One step is monotone for id < M/48271 (~44k) — id*48271
    * never wraps, so "order by hash" would be "order by id" on any small
    * or freshly-assigned id range. Composing two steps multiplies by
    * 48271^2 mod M = 182605794, shrinking the monotone region to id < 12,
    * while every intermediate product stays < 2^47 (exact in int64 on
    * both engines). */
  private[graft] def lehmer(id: Column): Column = {
    val step1 = pmod(pmod(id, lit(M)) * lit(48271L), lit(M))
    pmod(step1 * lit(48271L), lit(M))
  }

  /** Range-bucket count for two-phase prefix sums: at least 32, growing
    * with the row count so per-bucket input stays near 100000 rows no
    * matter how large the corpus — a FIXED fan-out would re-create the
    * single-task skew at 100x scale. (h * nb stays far below 2^63 for any
    * realistic corpus: h < 2^31 and nb = n/100000.) */
  private[queries] def prefixBuckets(n: Column): Column =
    greatest(lit(32L), floor(n / lit(100000L)).cast("long"))

  /** Deterministic always-zero partition key for an INTENTIONALLY
    * single-task window over a provably bounded frame (the WindowLawSpec
    * allowlist classes). `Window.partitionBy(lit(0))` does not survive:
    * Spark's EliminateWindowPartitions strips foldable partition specs,
    * putting the plan back in the no-partition warning class.
    * pmod(c, 1) is 0 for every non-null numeric, coalesce covers nulls,
    * and the attribute reference keeps the expression non-foldable — so
    * the frame stays ONE partition (bit-identical results) and the plan
    * is warning-free. Callers pass a NUMERIC column of the frame
    * (ANSI mode: never a string cast — wrap strings in length()). */
  private[graft] def onePart(c: Column): Column =
    coalesce(pmod(c.cast("long"), lit(1L)), lit(0L))

  /** Hierarchical phase-2 of the two-phase prefix sums: EXCLUSIVE
    * cumulative offsets over per-chunk totals, computed in two window
    * levels so no single task ever scans the whole chunk table. Chunks
    * group into supers of `fan`; level 1 accumulates within each super
    * (parallel windows over <= fan rows), level 2 accumulates the super
    * totals (one task over nChunks/fan rows — with chunks ~ n/1e5 and
    * fan 1024 that is ~n/1e8 rows, negligible to beyond 10^12 corpus
    * rows, closing the bound the flat window documented). The result is
    * bit-identical to the flat single-window form (pure int64 sum
    * reassociation), so every consumer's oracle is untouched.
    *
    * @param totals   one row per (partCols..., chunkCol) with `totCol`
    * @return (partCols..., chunkCol, off) — off = sum of totals at
    *         strictly smaller chunk ids within the partition
    */
  private[queries] def chunkOffsets(totals: org.apache.spark.sql.DataFrame,
      chunkCol: String, totCol: String, partCols: Seq[String] = Nil,
      fan: Long = 1024L): org.apache.spark.sql.DataFrame = {
    val pc = partCols.map(col)
    val sup = totals.withColumn("_sup", expr(s"$chunkCol div $fan"))
    val wLoc = Window.partitionBy(pc :+ col("_sup"): _*).orderBy(chunkCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    // with no partCols the super window is intentionally single-task
    // (bounded: ~nChunks/fan rows) — partition on [[onePart]] so the
    // bounded frame doesn't trip Spark's no-partition WindowExec warning
    val wSup = Window
      .partitionBy((if (pc.isEmpty) Seq(onePart(col("_sup"))) else pc): _*)
      .orderBy("_sup")
      .rowsBetween(Window.unboundedPreceding, -1)
    // (r15 probe: a single-consumption form — _stot = max_by(_loff +
    // tot, chunk) riding the wLoc window's partitioning — measured
    // SLOWER at sf0.1 across every chunked caller: it moves the local
    // window sort into the broadcast build's lineage, and a second
    // hash-agg pass over `totals` is cheaper than a second window-sort
    // pass. Kept the two-consumption form.)
    val supOff = sup.groupBy(pc :+ col("_sup"): _*).agg(sum(totCol).as("_stot"))
      .withColumn("_soff", coalesce(sum("_stot").over(wSup), lit(0L)))
      .select(pc :+ col("_sup") :+ col("_soff"): _*)
    sup.withColumn("_loff", coalesce(sum(totCol).over(wLoc), lit(0L)))
      .join(broadcast(supOff), partCols :+ "_sup")
      .withColumn("off", col("_soff") + col("_loff"))
      .select(pc :+ col(chunkCol) :+ col("off"): _*)
  }

  /** SQL-side mirror of [[lehmer]] over an arbitrary column — the SINGLE
    * definition of the hash formula both engines must share; every
    * oracle string derives from it so the constants cannot drift. */
  private[graft] def sqlLehmerOf(c: String): String =
    s"(($c % $M) * 48271 % $M) * 48271 % $M"

  /** Poisson(1) inverse-CDF cutoffs on the [0, M) Lehmer value, as
    * PRECOMPUTED int64 literals: cutoff k = floor(P(X <= k) * M) with
    * P from e^-1/k!. Draw w = #cutoffs below h (so h < cuts(0) -> 0,
    * h >= cuts(6) -> 7). Both engines compare the SAME int64 hash to
    * the SAME literals — no runtime exp()/factorial is ever evaluated,
    * so the draw is bit-exact by construction (the Benford-literal
    * rule, applied to a sampling distribution). */
  private[queries] val poissonCuts: Seq[Long] = Seq(
    790015083L, 1580030167L, 1975037709L, 2106706890L,
    2139624185L, 2146207644L, 2147304887L)

  private[queries] def sqlPoissonW(h: String): String =
    poissonCuts.zipWithIndex
      .map { case (c, k) => s"WHEN $h < $c THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${poissonCuts.size} END")

  private[queries] val sqlLehmer = sqlLehmerOf("doc_id")

  /** DSIR-style importance scores for EVERY document (no ranking cut) —
    * the ensemble consumer's form (q116). The target distribution is the
    * "en" documents. */
  def importanceScores(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val feats = documents
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        (graft.functions.ArrayExprs.polyFingerprint(array(col("tok"))) % 4096).as("f"))
    val weights = feats.groupBy("f")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_cnt"),
        count(lit(1)).as("r_cnt"))
      .select(col("f"), expr("((t_cnt + 1) * 1000000) div (r_cnt + 1)").as("wf"))
    feats.join(broadcast(weights), "f")
      .groupBy("doc_id")
      .agg(sum("wf").as("score"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("score"), col("n_tokens"),
        expr("score div n_tokens").as("avg_weight"))
  }

  /** DSIR-style hashed-feature importance scoring — see q98 below.
    * Exposed for library use: the top 300 by average weight. */
  def importanceWeights(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    importanceScores(documents)
      .orderBy(col("avg_weight").desc, col("doc_id"))
      .limit(300)

  /** Shared DuckDB CTE chain for [[importanceScores]] — tok → hashed
    * feature → per-feature ratio weights → per-doc `sc` (doc_id, score,
    * n_tokens). q98 and q225 both read `sc`, so the weight rule cannot
    * drift between the ranker and its downstream consumers. */
  private[queries] val sqlImportanceCtes: String =
    """tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |ft AS (
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
      |sc AS (
      |  SELECT doc_id, CAST(sum(wf) AS BIGINT) AS score,
      |    CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM ft JOIN w USING (f) GROUP BY doc_id)""".stripMargin

  /** Importance-weighted length quartiles — see q225. */
  def weightedLengthQuartiles(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val frame = docs.select(col("doc_id"), col("n_chars"))
      .join(importanceScores(docs)
        .select(col("doc_id"), col("avg_weight").as("wt")), "doc_id")
      .withColumn("chunk", expr("n_chars div 64"))
      .materialize // chunk totals + local cumsum both read it
    val offs = chunkOffsets(
      frame.groupBy("chunk").agg(sum("wt").as("tot")), "chunk", "tot")
    val wLoc = Window.partitionBy("chunk").orderBy("n_chars", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = frame.agg(sum("wt").as("w_total"))
    def crossing(k: Int) = // first row where 4*cum crosses k*W
      lit(4L) * col("cum") >= lit(k.toLong) * col("w_total") &&
        lit(4L) * (col("cum") - col("wt")) < lit(k.toLong) * col("w_total")
    frame.withColumn("loc", sum("wt").over(wLoc))
      .join(offs, "chunk")
      .withColumn("cum", col("loc") + col("off"))
      .crossJoin(broadcast(tot))
      .agg(max("w_total").as("w_total"),
        max(when(crossing(1), col("n_chars"))).as("p25_chars"),
        max(when(crossing(2), col("n_chars"))).as("p50_chars"),
        max(when(crossing(3), col("n_chars"))).as("p75_chars"))
  }

  /** Priority sampling (q175's body) over a (doc_id, n_chars) frame,
    * exposed for fixture specs: the k highest-priority rows under
    * q_i = w_i / u_i with the Lehmer-hash uniform, plus the τ-capped
    * weight estimate max(w_i, τ). Assumes the frame has > k rows (the
    * n <= k degenerate case would need τ = 0). */
  def prioritySample(documents: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val pri = documents
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars").cast("double") /
          ((lehmer(col("doc_id")) + 1).cast("double") / lit(M.toDouble)))
          .as("pri"))
    val top = pri.orderBy(col("pri").desc, col("doc_id")).limit(k + 1)
    top
      .withColumn("rn", row_number().over(
        Window.partitionBy(onePart(col("pri"))).orderBy(col("pri").desc, col("doc_id"))))
      .withColumn("tau", min("pri").over(Window.partitionBy(onePart(col("pri")))))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("n_chars"), col("pri"), col("tau"),
        greatest(col("n_chars").cast("double"), col("tau")).as("est_weight"))
  }

  /** Whole-document next-fit packing: shuffled pack groups + per-group
    * bin items, the shared frame behind q331 (assignment) and q332
    * (efficiency sweep). Returns (grp, items) where items is the
    * group's (h, doc_id, len) structs in visit order — the group is the
    * unit of sequential packing, so its size must stay BOUNDED: the
    * group count scales with the corpus (expected 64 docs per group at
    * any size; the Lehmer hash is uniform on [0, M), so group sizes
    * concentrate around the mean), and the stride form `h div (M div
    * ng + 1)` cannot overflow int64 at any corpus size (h * ng could).
    *
    * Why a per-row kernel and not a window: next-fit is a sequential
    * fold (bin state threads through the items), which no window frame
    * expresses. Bounded groups + [[graft.functions.ArrayExprs.nextFitBins]]
    * keep the fold map-side; a corpus-wide fold would serialize 100 TB
    * through one task. */
  private def packGroups(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("len"),
      lehmer(col("doc_id")).as("h"))
    val stats = base.agg(count(lit(1)).as("cnt"))
    base.crossJoin(broadcast(stats))
      .withColumn("grp",
        expr(s"h div (($M div greatest(CAST(32 AS BIGINT), cnt div 64)) + 1)"))
      .groupBy("grp")
      .agg(sort_array(collect_list(struct(col("h"), col("doc_id"), col("len"))))
        .as("items"))
  }

  /** Per-document next-fit bin assignment over [[packGroups]] at `cap`
    * tokens per packed training sequence. */
  private def nextFitAssign(groups: org.apache.spark.sql.DataFrame, cap: Long)
      : org.apache.spark.sql.DataFrame =
    groups
      .withColumn("bins", graft.functions.ArrayExprs.nextFitBins(
        transform(col("items"), x => x.getField("len")), cap))
      .select(col("grp"), explode(arrays_zip(col("items"), col("bins"))).as("z"))
      .select(col("z.items.doc_id").as("doc_id"), col("z.items.len").as("len"),
        col("grp"), col("z.bins").as("bin"))

  /** Shared oracle CTE chain replaying [[packGroups]] + next-fit at `cap`
    * as a recursive CTE over the position within each group (bounded
    * depth = max group size): `st$cap` carries (grp, pos, doc_id, len,
    * bin, rem) with bin/rem advancing by the EXACT [[graft.functions
    * .ArrayOps.nextFitBins]] recurrence. Callers prepend `WITH RECURSIVE
    * $sqlPackBaseCtes` once and append one [[sqlPackRec]] per capacity. */
  private val sqlPackBaseCtes: String =
    s"""pd AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
       |    $sqlLehmer AS h
       |  FROM documents),
       |ps AS MATERIALIZED (SELECT count(*) AS cnt FROM pd),
       |pg AS MATERIALIZED (
       |  SELECT doc_id, len, grp,
       |    row_number() OVER (PARTITION BY grp ORDER BY h, doc_id) AS pos
       |  FROM (
       |    SELECT doc_id, len, h,
       |      h // (($M // greatest(CAST(32 AS BIGINT), cnt // 64)) + 1) AS grp
       |    FROM pd CROSS JOIN ps))""".stripMargin

  /** Whole-document next-fit packing, exposed for library use: q331's
    * body ([[packGroups]] + [[nextFitAssign]]) at cap 128. */
  def nextFitPack(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    nextFitAssign(packGroups(docs), 128L)

  /** q331's complete oracle text at cap 128 — shared VERBATIM with the
    * streaming face (q336): a single-batch replay of the stream must
    * equal the batch packer exactly, so the two gates share one SQL. */
  private val sqlPackAssign128: String =
    s"""WITH RECURSIVE $sqlPackBaseCtes,
       |${sqlPackRec(128L)}
       |SELECT doc_id, len, grp, bin FROM st128
       |ORDER BY doc_id""".stripMargin

  private def sqlPackRec(cap: Long): String =
    s"""st$cap AS (
       |  SELECT grp, pos, doc_id, len, CAST(0 AS BIGINT) AS bin,
       |    CASE WHEN len >= $cap THEN CAST(0 AS BIGINT) ELSE $cap - len END AS rem
       |  FROM pg WHERE pos = 1
       |  UNION ALL
       |  SELECT pg.grp, pg.pos, pg.doc_id, pg.len,
       |    CASE WHEN pg.len > st$cap.rem AND st$cap.rem < $cap
       |         THEN st$cap.bin + 1 ELSE st$cap.bin END,
       |    CASE WHEN pg.len >= (CASE WHEN pg.len > st$cap.rem AND st$cap.rem < $cap
       |                              THEN $cap ELSE st$cap.rem END)
       |         THEN CAST(0 AS BIGINT)
       |         ELSE (CASE WHEN pg.len > st$cap.rem AND st$cap.rem < $cap
       |                    THEN $cap ELSE st$cap.rem END) - pg.len END
       |  FROM st$cap JOIN pg ON pg.grp = st$cap.grp AND pg.pos = st$cap.pos + 1)"""
      .stripMargin

  /** q122's temperature epoch schedule to per-source granularity —
    * (source, n_tokens, weight, target_tokens, raw_ppm, epochs_ppm),
    * exposed for q122 itself and q370's repeat-exposure audit. One
    * map-combined shuffle to source rows, one one-row total broadcast
    * (q76's class); epochs carried as exact-integer ppm. */
  def epochSchedule(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val B = 2000000L
    val capPpm = 4000000L
    val src = documents
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    src.crossJoin(broadcast(src.agg(sum("weight").as("tw"))))
      .withColumn("target_tokens", expr(s"($B * weight) div tw"))
      .withColumn("raw_ppm", expr("(target_tokens * 1000000) div n_tokens"))
      .withColumn("epochs_ppm", least(col("raw_ppm"), lit(capPpm)))
      .select("source", "n_tokens", "weight", "target_tokens", "raw_ppm",
        "epochs_ppm")
  }

  /** Shuffle-quality (runs) audit over the q81 training order — q371's
    * body. A "run" is a maximal block of consecutive same-source
    * documents in the global order; per source the audit reports how
    * many docs, how many runs, and the longest run. A healthy shuffle
    * has runs ~ docs (nearly every position starts a run) and a small
    * max_run; residual source clumping — the classic cause of loss
    * spikes and unstable gradients early in training — shows up as a
    * run-count deficit and a long max_run, and the consumer can score
    * the exact Wald-Wolfowitz expectation n_i(n-n_i+1)/n from this
    * table's own columns.
    *
    * Shape at scale: q81's two-phase chunked global rank (no global
    * window), one narrow idx-keyed self-join for the predecessor
    * source (pinned shuffled-hash — both sides corpus-derived), a
    * second two-phase prefix sum turning run starts into run ids, and
    * two grouped rollups. Every window partitions on a chunk key. */
  def shuffleQuality(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val stats = documents.agg(count(lit(1)).as("cnt"))
    val chunked = documents
      .select(col("doc_id"), col("source"), lehmer(col("doc_id")).as("h"))
      .crossJoin(broadcast(stats))
      .withColumn("nb", prefixBuckets(col("cnt")))
      .withColumn("chunk", expr(s"(h * nb) div $M"))
      .drop("cnt", "nb")
    val wLocal = Window.partitionBy("chunk").orderBy("h", "doc_id")
    val offsets = chunkOffsets(
      chunked.groupBy("chunk").agg(count(lit(1)).as("tot")), "chunk", "tot")
    val ord = chunked
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), "chunk")
      .withColumn("idx", col("local_rn") + col("off") - 1)
      .select("idx", "source")
    // Run-start markers WITHOUT the idx -> idx+1 self-join (r16, guide
    // §2.4): the predecessor's source is lag(source) within the same
    // fixed-width idx chunk the prefix sum already partitions by, and
    // for each chunk's FIRST row it is the previous chunk's LAST source
    // — a per-chunk 2-column frame with exactly chunkOffsets' own
    // chunk-table scale, so it broadcasts under the same bound as
    // `off2` below. idx is dense and unique, so the chunked lag sees
    // exactly the rows the equi-join on idx+1 saw; two corpus exchanges
    // (both self-join sides) collapse into the ONE rchunk exchange the
    // run-id window pays anyway.
    val ch2 = ord.withColumn("rchunk", expr("idx div 100000"))
    val w2o = Window.partitionBy("rchunk").orderBy("idx")
    val lastOfChunk = ch2.groupBy("rchunk")
      .agg(max(struct(col("idx"), col("source"))).as("m"))
      .select((col("rchunk") + 1).as("rchunk"), col("m.source").as("carry_src"))
    // lag a never-NULL struct: "no in-chunk predecessor" (take the
    // carry) stays distinct from "predecessor's source is NULL"
    val starts = ch2
      .withColumn("in_prev", lag(struct(col("source")), 1).over(w2o))
      .join(broadcast(lastOfChunk), Seq("rchunk"), "left")
      .withColumn("prev_src", when(col("in_prev").isNull, col("carry_src"))
        .otherwise(col("in_prev.source")))
      .withColumn("st", when(col("prev_src").isNull ||
        col("prev_src") =!= col("source"), 1L).otherwise(0L))
    // run ids: two-phase prefix sum of start markers in idx order
    // (idx is dense, so fixed-width chunks keep per-task frames bounded)
    val w2 = Window.partitionBy("rchunk").orderBy("idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val off2 = chunkOffsets(
      starts.groupBy("rchunk").agg(sum("st").as("tot")), "rchunk", "tot")
    starts.withColumn("local_cum", sum("st").over(w2))
      .join(broadcast(off2), "rchunk")
      .withColumn("run_id", col("local_cum") + col("off"))
      // (run_id, source), as the oracle keys it: a NULL source after x
      // opens no run_id (NULL <> x is not true) yet is its own run
      .groupBy("run_id", "source")
      .agg(count(lit(1)).as("len"))
      .groupBy("source")
      .agg(sum("len").as("n_docs"), count(lit(1)).as("n_runs"),
        max("len").as("max_run"))
      .reportSorted("source")
  }

  /** q122's epoch-schedule CTE chain ending in `sched(source, n_tokens,
    * weight, target_tokens, raw_ppm, epochs_ppm)` — shared verbatim
    * with q370's repeat-exposure oracle so the schedule rule cannot
    * drift between the planner and its exposure audit. */
  private[queries] val sqlEpochCtes: String =
    """eps AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |epw AS (
      |  SELECT source, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
      |  FROM eps),
      |eptw AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM epw),
      |epa AS (
      |  SELECT source, n_tokens, weight,
      |    (2000000 * weight) // tw AS target_tokens
      |  FROM epw CROSS JOIN eptw),
      |epe AS (
      |  SELECT source, n_tokens, weight, target_tokens,
      |    (target_tokens * 1000000) // n_tokens AS raw_ppm
      |  FROM epa),
      |sched AS (
      |  SELECT source, n_tokens, weight, target_tokens, raw_ppm,
      |    least(raw_ppm, 4000000) AS epochs_ppm
      |  FROM epe)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- Train/val/test split: stable, salt-free, rerun-invariant --------
    // The property that matters in a data pipeline: membership depends only
    // on the id, so incremental reruns, backfills, and different cluster
    // sizes all produce the same split.
    QueryDef("q56_train_split", (s, d) => {
      val bucket = lehmer(col("doc_id")) % 1000
      t(s, d, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 800, "train")
            .when(bucket < 900, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
      Some(s"""SELECT doc_id, $sqlLehmer % 1000 AS bucket,
             |  CASE WHEN $sqlLehmer % 1000 < 800 THEN 'train'
             |       WHEN $sqlLehmer % 1000 < 900 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Per-group quota sampling: cap each language at a char budget ----
    // The canonical corpus-balancing op (cap per-domain/per-language
    // tokens): order each group by a deterministic hash (an unbiased
    // shuffle) and keep rows while the running total fits the budget.
    //
    // Scale shape: a TWO-PHASE prefix sum, not one window per language.
    // `lang` has ~5 distinct values, so Window.partitionBy("lang") would
    // sort each language's entire corpus in a single task — the classic
    // low-cardinality window skew. Instead the hash order is split into
    // uniform range-chunks (the hash is uniform on [0, M), so
    // chunk = h*nb div M is an equi-depth range partition of the SAME
    // total order): phase 1 runs the running sum within (lang, chunk) and
    // phase 2 adds each chunk's per-language offset, computed from the
    // tiny (lang x chunk) totals table and broadcast back. The chunk
    // count DERIVES FROM THE ROW COUNT ([[prefixBuckets]]) so per-chunk
    // input stays ~bounded as the corpus grows — a fixed fan-out would
    // just be the skew problem again at 100x. Identical cum_chars to the
    // monolithic window, which remains the oracle's (DuckDB-side)
    // formulation.
    QueryDef("q57_quota_sample", (s, d) => {
      val docs = t(s, d, "documents")
      val stats = docs.agg(count(lit(1)).as("cnt"))
      val chunked = docs
        .withColumn("h", lehmer(col("doc_id")))
        .crossJoin(broadcast(stats))
        .withColumn("nb", prefixBuckets(col("cnt")))
        .withColumn("chunk", expr(s"(h * nb) div $M"))
        .drop("cnt", "nb")
      val wLocal = Window.partitionBy("lang", "chunk")
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = chunkOffsets(
        chunked.groupBy("lang", "chunk").agg(sum("n_chars").as("tot")),
        "chunk", "tot", partCols = Seq("lang")) // <= nLangs * chunks rows
      chunked
        .withColumn("local_cum", sum("n_chars").over(wLocal))
        .join(broadcast(offsets), Seq("lang", "chunk"))
        .withColumn("cum_chars", col("local_cum") + col("off"))
        .filter(col("cum_chars") <= 50000)
        .select(col("lang"), col("doc_id"), col("cum_chars"))
        .reportSorted("lang", "doc_id")
    },
      Some(s"""SELECT lang, doc_id, cum_chars FROM (
             |  SELECT lang, doc_id,
             |    CAST(sum(n_chars) OVER (PARTITION BY lang
             |      ORDER BY $sqlLehmer, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_chars
             |  FROM documents)
             |WHERE cum_chars <= 50000 ORDER BY lang, doc_id""".stripMargin)),

    // ---- Sequence packing: chunks -> fixed-capacity training sequences ---
    // The step after context-window chunking: lay the corpus's 16-token
    // chunks end-to-end in (doc_id, chunk_id) order and cut every 64
    // tokens — seq_id = floor(tokens_before_chunk / 64), the deterministic
    // greedy fill a trainer's packer runs (a boundary chunk rides with the
    // sequence it starts in).
    //
    // Scale shape: the GLOBAL running sum is the q57 two-phase pattern
    // writ corpus-wide — a single `Window.orderBy` with no partition key
    // would serialize 100 TB through one task. Phase 1 range-buckets the
    // order key (sub = doc_id * nb / (max_id + 1), order-preserving by
    // construction, bucket count data-derived via [[prefixBuckets]]) and
    // sums within buckets; phase 2 adds per-bucket offsets from the tiny
    // totals table. Chunk rows themselves are pure arithmetic on the
    // token count (no explode of token strings, no shuffle before the
    // prefix sum).
    QueryDef("q70_seq_packing", (s, d) => {
      val (w, cap) = (16, 64)
      val base = t(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      val ch = base
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0), expr(s"((n + ${w - 1}) div $w) - 1").cast("int"))).as("chunk_id"))
        .withColumn("n_tokens", least(lit(w), col("n") - col("chunk_id") * w).cast("long"))
      val mx = base.agg(max("doc_id").as("mx"), count(lit(1)).as("cnt"))
      // stride-based bucketing (mx div nb + 1 = ceil((mx+1)/nb), with no
      // intermediate that can overflow int64 even at ids near 2^63 —
      // doc_id * nb or mx + nb both could)
      val sub = ch.crossJoin(broadcast(mx))
        .withColumn("nb", prefixBuckets(col("cnt")))
        .withColumn("sub", expr("doc_id div (mx div nb + 1)"))
        .drop("mx", "cnt", "nb")
      val wLocal = Window.partitionBy("sub").orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = chunkOffsets(
        sub.groupBy("sub").agg(sum("n_tokens").as("tot")), "sub", "tot")
      sub
        .withColumn("local_cum", sum("n_tokens").over(wLocal))
        .join(broadcast(offsets), "sub")
        .withColumn("cum_tokens", col("local_cum") + col("off"))
        .withColumn("seq_id", expr(s"(cum_tokens - n_tokens) div $cap"))
        .select("doc_id", "chunk_id", "n_tokens", "seq_id", "cum_tokens")
        .orderBy("doc_id", "chunk_id")
    },
      Some("""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
             |ch AS (SELECT doc_id, CAST(unnest(range((n + 15) // 16)) AS INTEGER) AS chunk_id, n
             |       FROM t),
             |c3 AS (SELECT doc_id, chunk_id,
             |         CAST(least(16, n - chunk_id * 16) AS BIGINT) AS n_tokens,
             |         sum(least(16, n - chunk_id * 16))
             |           OVER (ORDER BY doc_id, chunk_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |       FROM ch)
             |SELECT doc_id, chunk_id, n_tokens,
             |  CAST((cum - n_tokens) // 64 AS BIGINT) AS seq_id,
             |  CAST(cum AS BIGINT) AS cum_tokens
             |FROM c3 ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- Whole-document next-fit packing: the SFT packer ----------------
    // q70 packs by SPLITTING documents across sequence boundaries (the
    // pretraining layout); instruction-tuning loaders must keep each
    // document whole, which makes packing a BIN-PACKING problem. This is
    // the deterministic next-fit assignment at cap = 128 tokens per
    // packed sequence: documents visit in the q81 shuffled order
    // (lehmer(doc_id), doc_id), a document that does not fit the open
    // bin's remainder closes it, and an oversized document fills
    // whatever bin it opens (the loader chunks it). Output: every
    // document's (pack group, bin) — the loader's placement table.
    //
    // Scale shape: see [[packGroups]] — the sequential fold runs inside
    // bounded shuffled groups (expected 64 docs each, group count scales
    // with the corpus) via the native codegen'd kernel
    // [[graft.functions.ArrayExprs.nextFitBins]]; one shuffle on the
    // group id, no window wider than a group, no driver state. The
    // oracle replays the identical recurrence as a recursive CTE whose
    // depth is the max group size, not the corpus.
    QueryDef("q331_pack_nextfit", (s, d) =>
      nextFitPack(t(s, d, "documents"))
        .orderBy("doc_id"),
      Some(sqlPackAssign128)),

    // ---- Streaming next-fit packing twin, driver-gated --------------------
    // The q307-q311 promotion for [[graft.streaming.Streams.packIngest]]:
    // the packer is the pipeline's one truly SEQUENTIAL op, so its
    // streaming face carries real state — (open bin, remaining capacity)
    // per pack group in the state store, folding each arriving document
    // into the group where the batch left off instead of re-packing the
    // corpus. Replaying the corpus in one batch reproduces q331 exactly
    // (this gate: the SAME oracle SQL text as q331); across micro-batches
    // the fold continues from the stored state — the online contract a
    // real ingest needs (a bin may stay open between batches; later
    // arrivals never reopen earlier bins), spec-driven as a two-trigger
    // stream in StreamingSpec. The group count is deployment
    // configuration — the face derives it from the corpus snapshot's
    // parquet footer count (metadata only), matching the batch rule.
    QueryDef("q336_packing_ingest_face", (s, d) => {
      val n = Tables.rowCountFromFooters(s, d, "documents")
      graft.streaming.Streams.packIngest(
          t(s, d, "documents"), math.max(32L, n / 64L))
        .toDF()
        .select("doc_id", "len", "grp", "bin")
        .orderBy("doc_id")
    },
      Some(sqlPackAssign128)),

    // ---- Packing-efficiency sweep: waste vs capacity ---------------------
    // The tuning table for q331's capacity knob, and the MEASURED
    // counterpart of q264's worst-case padding schemes: for cap in
    // {64, 128, 256}, pack next-fit and report bins, oversized bins
    // (docs longer than cap — cap 64 sits below the fixture's max doc
    // length by design, so the oversize path is certified at any SF),
    // token totals, and the padding-waste fraction the trainer would
    // eat. The three cells share ONE materialized group frame (the
    // corpus is scanned once; each cell re-runs only the per-group
    // kernel), mirroring q280's one-pass parameter-sweep pattern.
    QueryDef("q332_pack_efficiency", (s, d) => {
      val groups = packGroups(t(s, d, "documents")).materialize
      def cell(cap: Long) = nextFitAssign(groups, cap)
        .groupBy("grp", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("len").as("used"))
        .agg(count(lit(1)).as("n_bins"),
          sum(when(col("used") > cap, 1L).otherwise(0L)).as("n_oversize"),
          sum("n_docs").as("n_docs"),
          sum("used").as("total_tokens"),
          sum(greatest(lit(cap) - col("used"), lit(0L))).as("waste_tokens"))
        .select(lit(cap).as("cap"), col("n_bins"), col("n_oversize"),
          col("n_docs"), col("total_tokens"), col("waste_tokens"),
          (col("waste_tokens").cast("double") /
            (col("n_bins") * lit(cap)).cast("double")).as("waste_frac"))
      cell(64L).unionByName(cell(128L)).unionByName(cell(256L))
        .reportSorted("cap")
    }, {
      def cell(cap: Long) =
        s"""SELECT CAST($cap AS BIGINT) AS cap,
           |  CAST(count(*) AS BIGINT) AS n_bins,
           |  CAST(sum(CASE WHEN used > $cap THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_oversize,
           |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
           |  CAST(sum(used) AS BIGINT) AS total_tokens,
           |  CAST(sum(greatest($cap - used, 0)) AS BIGINT) AS waste_tokens,
           |  CAST(CAST(sum(greatest($cap - used, 0)) AS BIGINT) AS DOUBLE)
           |    / CAST(CAST(count(*) AS BIGINT) * $cap AS DOUBLE) AS waste_frac
           |FROM (
           |  SELECT grp, bin, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(len) AS BIGINT) AS used
           |  FROM st$cap GROUP BY grp, bin)""".stripMargin
      Some(s"""WITH RECURSIVE $sqlPackBaseCtes,
             |${sqlPackRec(64L)},
             |${sqlPackRec(128L)},
             |${sqlPackRec(256L)}
             |SELECT * FROM (
             |${cell(64L)}
             |UNION ALL
             |${cell(128L)}
             |UNION ALL
             |${cell(256L)})
             |ORDER BY cap""".stripMargin)
    }),

    // ---- Deterministic per-group reservoir sample ------------------------
    // k documents per language, uniformly at (deterministic) random: the
    // k SMALLEST Lehmer hashes per group — the classic hash-reservoir,
    // rerun-invariant like q56. Scale shape: `lang` has ~5 values, so a
    // rank window would sort each language's corpus in one task; the
    // bounded TopKAgg aggregator instead pre-reduces every map task to k
    // rows before the shuffle (partial aggregation), so the exchange
    // carries k rows per (group, task) and nothing ever sorts the corpus.
    QueryDef("q71_reservoir_sample", (s, d) => {
      val spark = s
      import spark.implicits._
      val k = 10
      val docs = t(s, d, "documents")
        .select(col("lang"), col("doc_id"), lehmer(col("doc_id")).as("h"))
        .as[(String, Long, Long)]
      val topk = new graft.functions.TopKAgg(k).toColumn
      docs.groupByKey(_._1)
        .mapValues(r => (-r._3.toDouble, r._2)) // smallest hash = best
        .agg(topk.name("top"))
        .toDF("lang", "top")
        .select(col("lang"), posexplode(col("top")).as(Seq("r0", "t")))
        .select(col("lang"), (col("r0") + 1).cast("int").as("rank"),
          col("t._2").as("doc_id"), (-col("t._1")).cast("long").as("h"))
        .reportSorted("lang", "rank")
    },
      Some(s"""SELECT lang, rank, doc_id, h FROM (
             |  SELECT lang, doc_id, $sqlLehmer AS h,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY $sqlLehmer, doc_id) AS INTEGER) AS rank
             |  FROM documents)
             |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin)),

    // ---- Temperature rebalancing: alpha = 0.5 language mixing ------------
    // The multilingual corpus-mixing op (mT5/XLM-R style): downsample each
    // language toward balance with keep_frac_l = (n_min / n_l)^(1-alpha),
    // alpha = 0.5 — the smallest language keeps everything, a language 4x
    // its size keeps half. Membership is the q56 hash rule (keep iff
    // lehmer(doc_id) < frac * M), so the sample is rerun-invariant and
    // composes with splits/quotas.
    //
    // Exactness: the float formula sqrt(n_min/n_l) * M would have to round
    // identically in both engines at the comparison boundary; instead the
    // predicate is squared into pure integer arithmetic —
    //   h < M * sqrt(n_min/n_l)  <=>  h^2 * n_l < M^2 * n_min
    // (h^2 < 2^62 fits int64; the products run in DECIMAL/HUGEINT, exact
    // for corpus counts up to ~10^18 rows).
    //
    // Scale shape: counts are one tiny agg broadcast back; the keep
    // decision is map-side arithmetic — one pass over the corpus, no
    // shuffle of corpus rows at all.
    QueryDef("q76_domain_mix", (s, d) => {
      val docs = t(s, d, "documents")
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      val nmin = counts.agg(min("nl").as("nmin"))
      val h = lehmer(col("doc_id"))
      docs.join(broadcast(counts), "lang").crossJoin(broadcast(nmin))
        .filter((h * h).cast("decimal(19,0)") * col("nl").cast("decimal(14,0)") <
          lit(M * M).cast("decimal(19,0)") * col("nmin").cast("decimal(14,0)"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      Some(s"""WITH c AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
             |m AS (SELECT min(nl) AS nmin FROM c)
             |SELECT doc_id, lang FROM documents
             |JOIN c USING (lang) CROSS JOIN m
             |WHERE CAST(($sqlLehmer) * ($sqlLehmer) AS HUGEINT) * nl
             |    < CAST(${M * M} AS HUGEINT) * nmin
             |ORDER BY doc_id""".stripMargin)),

    // ---- Global deterministic training order (the dataloader shuffle) ----
    // Materialize the corpus-wide random-but-rerun-invariant visit order a
    // trainer consumes: global_idx = rank in (lehmer(doc_id), doc_id)
    // order, batch_id = global_idx div B. The epoch permutation is pure
    // arithmetic on the id — any worker can recompute its slice, and a
    // backfilled corpus yields the same prefix order for unchanged ids.
    //
    // Scale shape: a global rank is the q57/q70 two-phase prefix pattern
    // over COUNTS — a bare row_number() over (ORDER BY h) would serialize
    // the corpus through one task. The hash is uniform on [0, M), so
    // chunk = h*nb div M is an equi-depth range split of the SAME total
    // order; phase 1 ranks within chunks, phase 2 adds the tiny
    // per-chunk count offsets (broadcast). No corpus-wide sort anywhere:
    // each chunk sorts ~(n/nb) rows in its own task.
    QueryDef("q81_train_order", (s, d) => {
      val B = 32 // documents per training batch
      val docs = t(s, d, "documents")
      val stats = docs.agg(count(lit(1)).as("cnt"))
      val chunked = docs.select(col("doc_id"), lehmer(col("doc_id")).as("h"))
        .crossJoin(broadcast(stats))
        .withColumn("nb", prefixBuckets(col("cnt")))
        .withColumn("chunk", expr(s"(h * nb) div $M"))
        .drop("cnt", "nb")
      val wLocal = Window.partitionBy("chunk").orderBy("h", "doc_id")
      val offsets = chunkOffsets(
        chunked.groupBy("chunk").agg(count(lit(1)).as("tot")), "chunk", "tot")
      chunked
        .withColumn("local_rn", row_number().over(wLocal).cast("long"))
        .join(broadcast(offsets), "chunk")
        .withColumn("global_idx", col("local_rn") + col("off") - 1)
        .withColumn("batch_id", expr(s"global_idx div $B"))
        .select("doc_id", "h", "global_idx", "batch_id")
        .orderBy("global_idx")
    },
      Some(s"""SELECT doc_id, h,
             |  CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) - 1 AS global_idx,
             |  CAST((row_number() OVER (ORDER BY h, doc_id) - 1) // 32 AS BIGINT) AS batch_id
             |FROM (SELECT doc_id, $sqlLehmer AS h FROM documents)
             |ORDER BY global_idx""".stripMargin)),

    // ---- Shuffle-quality audit: source runs in the training order --------
    // Did the interleave actually mix? Per source: docs, maximal
    // same-source runs, and the longest run over q81's global order —
    // residual clumping (loss spikes, early-training instability)
    // surfaces as a run deficit vs the Wald-Wolfowitz expectation the
    // consumer scores from these exact integers. See [[shuffleQuality]].
    QueryDef("q371_shuffle_quality", (s, d) =>
      shuffleQuality(t(s, d, "documents")),
      Some(s"""WITH ord AS (
             |  SELECT source,
             |    CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) - 1
             |      AS idx
             |  FROM (SELECT doc_id, source, $sqlLehmer AS h FROM documents)),
             |m AS (
             |  SELECT idx, source,
             |    CASE WHEN lag(source) OVER (ORDER BY idx) IS NULL
             |           OR lag(source) OVER (ORDER BY idx) <> source
             |         THEN 1 ELSE 0 END AS st
             |  FROM ord),
             |r AS (
             |  SELECT source,
             |    sum(st) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)
             |      AS run_id
             |  FROM m),
             |runs AS (
             |  SELECT source, run_id, CAST(count(*) AS BIGINT) AS len
             |  FROM r GROUP BY 1, 2)
             |SELECT source, CAST(sum(len) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_runs,
             |  CAST(max(len) AS BIGINT) AS max_run
             |FROM runs GROUP BY source ORDER BY source""".stripMargin)),

    // ---- DSIR-style importance weights: hashed n-gram domain relevance ---
    // Data Selection via Importance Resampling (Xie et al. 2023) scores
    // raw documents by how target-like their hashed token features are:
    // weight(f) ~ p_target(f) / p_raw(f) with add-one smoothing, and a
    // document's score is the sum of its tokens' feature weights. The
    // target here is the `lang = 'en'` slice — the "domain" a curation
    // pass upsamples toward. DSIR sums LOG ratios; ln() is not
    // bit-portable across engines (q95's precedent), so the registered
    // variant uses the linear ratio in exact integer arithmetic:
    // w(f) = ((t_cnt+1) * 1e6) div (r_cnt+1) — the global N_r/N_t
    // normalizer is a constant factor across features and cannot change
    // any ordering, so it is dropped. avg_weight (per-token integer mean)
    // is the length-debiased ranking key.
    // Scale shape: token stream -> 4096 hashed features; the feature
    // stats are ONE map-combined shuffle on a key space capped at 4096;
    // the weight table is a 4096-row broadcast; the per-doc score is one
    // map-combined shuffle on doc_id. Nothing in the plan grows faster
    // than the token stream, and the feature hash is the portable
    // polynomial fold (q43's family), so DuckDB rebuilds it bit-for-bit.
    QueryDef("q98_importance_weights", (s, d) =>
      importanceWeights(t(s, d, "documents")),
      Some(s"""WITH $sqlImportanceCtes
             |SELECT doc_id, score, n_tokens, score // n_tokens AS avg_weight
             |FROM sc ORDER BY avg_weight DESC, doc_id LIMIT 300""".stripMargin)),

    // ---- Stratified eval allocation: largest-remainder apportionment -----
    // Building an eval set of EXACTLY K documents proportional to the
    // strata (languages here) needs an apportionment rule — floor quotas
    // under-fill and naive rounding over/under-shoots. This is Hamilton's
    // largest-remainder method in exact integer arithmetic: quota_s =
    // floor(K*n_s/N), and the K - sum(quota) leftover seats go to the
    // strata with the largest scaled remainders K*n_s - quota_s*N (ties
    // by stratum name — total order, rerun-stable). Within each stratum
    // the quota picks the docs with the smallest (lehmer, id) — q57's
    // deterministic per-group sample.
    // Scale shape: the allocation runs entirely over the STRATA table
    // (#langs rows — windows over the distribution, q96's rule); the
    // per-stratum pick is one lang-keyed window over the corpus (many
    // small groups, no low-cardinality skew at real lang counts) against
    // a broadcast quota table.
    QueryDef("q105_eval_allocation", (s, d) => {
      val K = 100
      val docs = t(s, d, "documents")
      val wAll = Window.partitionBy(onePart(col("n_s")))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_s"))
        .withColumn("n", sum("n_s").over(wAll))
        .withColumn("quota0", expr(s"($K * n_s) div n"))
        .withColumn("rem", expr(s"$K * n_s - quota0 * n"))
        .withColumn("leftover", lit(K) - sum("quota0").over(wAll))
        .withColumn("rr",
          row_number().over(Window.partitionBy(onePart(col("rem"))).orderBy(col("rem").desc, col("lang"))).cast("long"))
        .select(col("lang"),
          (col("quota0") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
      val picked = docs
        .select(col("lang"), col("doc_id"), lehmer(col("doc_id")).as("h"))
        .withColumn("rn", row_number()
          .over(Window.partitionBy("lang").orderBy("h", "doc_id")).cast("long"))
        .join(broadcast(counts), "lang")
        .filter(col("rn") <= col("quota"))
      picked.select(col("lang"), col("doc_id"), col("rn"), col("quota"))
        .reportSorted("lang", "rn")
    },
      Some(s"""WITH c AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_s FROM documents
             |  GROUP BY lang),
             |a AS (
             |  SELECT lang, n_s,
             |    CAST(sum(n_s) OVER () AS BIGINT) AS n,
             |    (100 * n_s) // CAST(sum(n_s) OVER () AS BIGINT) AS quota0
             |  FROM c),
             |b AS (
             |  SELECT lang, quota0,
             |    100 * n_s - quota0 * n AS rem,
             |    100 - CAST(sum(quota0) OVER () AS BIGINT) AS leftover,
             |    CAST(row_number() OVER (ORDER BY (100 * n_s - quota0 * n) DESC,
             |      lang) AS BIGINT) AS rr
             |  FROM a),
             |q AS (
             |  SELECT lang,
             |    quota0 + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
             |  FROM b),
             |p AS (
             |  SELECT lang, doc_id, $sqlLehmer AS h,
             |    CAST(row_number() OVER (PARTITION BY lang
             |      ORDER BY $sqlLehmer, doc_id) AS BIGINT) AS rn
             |  FROM documents)
             |SELECT p.lang, doc_id, rn, quota
             |FROM p JOIN q ON p.lang = q.lang
             |WHERE rn <= quota
             |ORDER BY p.lang, rn""".stripMargin)),

    // ---- Temperature epoch scheduling under a token budget ---------------
    // The mixture scheduler a trainer consumes: given per-source token
    // counts and a fixed total budget, allocate target tokens by
    // TEMPERATURE weights (alpha = 0.5 — upweights small sources like
    // q76, but at corpus granularity) and convert to per-source epoch
    // counts with a repetition cap (no source repeats more than 4x
    // regardless of weight — the data-quality guard against tiny-source
    // overfit). Everything is exact integer arithmetic: the alpha=0.5
    // weight is floor(sqrt(tokens)) — IEEE sqrt on an integer < 2^53 is
    // correctly rounded, so floor(sqrt) is bit-identical on both
    // engines; epochs carried as ppm (1e6 = one epoch). Shape: one
    // map-combined shuffle to source granularity (tens of rows), then a
    // one-row total broadcast — corpus-proportional work ends at the
    // first aggregate.
    QueryDef("q122_epoch_schedule", (s, d) =>
      epochSchedule(t(s, d, "documents"))
        .withColumn("capped", col("raw_ppm") > 4000000L)
        .withColumn("alloc_tokens", expr("(epochs_ppm * n_tokens) div 1000000"))
        .select("source", "n_tokens", "weight", "target_tokens",
          "epochs_ppm", "capped", "alloc_tokens")
        .reportSorted("source"),
      Some(s"""WITH $sqlEpochCtes
             |SELECT source, n_tokens, weight, target_tokens, epochs_ppm,
             |  raw_ppm > 4000000 AS capped,
             |  (epochs_ppm * n_tokens) // 1000000 AS alloc_tokens
             |FROM sched ORDER BY source""".stripMargin)),

    // ---- Token-balanced shard manifests (snake packing) ------------------
    // The output-layout op: assign documents to a fixed shard count so
    // every shard carries ~equal TOKENS (not equal docs — a doc-count
    // split leaves shards 2-3x apart when lengths are skewed, and the
    // longest-shard straggler sets the wall-clock of every downstream
    // pass). Rule: rank docs by (n_tokens DESC, doc_id), deal rank r to
    // shard via BOUSTROPHEDON (snake) order — pass p = r div S alternates
    // direction, so each shard gets one doc per pass and consecutive
    // passes cancel the within-pass bias; for sorted inputs this is the
    // classic greedy-balance approximation with a deterministic,
    // driver-free rule. The global rank never sorts the corpus: rank =
    // per-length offset (a window over the LENGTH DISTRIBUTION — bounded
    // by distinct lengths, q96/q110's rule) + row_number within the
    // length group (per-length partitions; a pathological single-length
    // corpus would re-chunk by doc id, q81's trick — noted, not needed).
    // Output = S manifest rows: doc/token totals, extremes, token_frac
    // (int/int IEEE divide, bit-exact both engines).
    QueryDef("q120_shard_manifest", (s, d) => {
      val S = 8
      val docs = t(s, d, "documents")
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      val wDist = Window.partitionBy(onePart(col("n"))).orderBy(col("n").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = docs.groupBy("n").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum("cnt").over(wDist), lit(0L)))
        .select("n", "off")
      val wLen = Window.partitionBy("n").orderBy("doc_id")
      val grand = docs.agg(sum("n").as("grand"))
      docs
        .withColumn("lrn", row_number().over(wLen).cast("long"))
        .join(broadcast(offs), "n")
        .withColumn("r0", col("off") + col("lrn") - 1)
        .withColumn("shard_id",
          when(expr(s"(r0 div $S) % 2") === 0, col("r0") % S)
            .otherwise(lit(S - 1) - col("r0") % S))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("total_tokens"),
          min("n").as("min_tokens"), max("n").as("max_tokens"))
        .crossJoin(broadcast(grand))
        .withColumn("token_frac",
          col("total_tokens").cast("double") / col("grand"))
        .select("shard_id", "n_docs", "total_tokens", "min_tokens",
          "max_tokens", "token_frac")
        .reportSorted("shard_id")
    },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, n,
             |    CAST(row_number() OVER (ORDER BY n DESC, doc_id) AS BIGINT) - 1
             |      AS r0
             |  FROM t),
             |sh AS (
             |  SELECT doc_id, n,
             |    CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
             |         ELSE 7 - (r0 % 8) END AS shard_id
             |  FROM r),
             |g AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM t)
             |SELECT shard_id,
             |  count(*) AS n_docs,
             |  CAST(sum(n) AS BIGINT) AS total_tokens,
             |  min(n) AS min_tokens, max(n) AS max_tokens,
             |  CAST(sum(n) AS DOUBLE) / grand AS token_frac
             |FROM sh CROSS JOIN g
             |GROUP BY shard_id, grand ORDER BY shard_id""".stripMargin)),

    // ---- Priority sampling (weighted, without replacement) ---------------
    // Duffield–Lund–Thorup priority sampling: each row gets priority
    // q_i = w_i / u_i with u_i uniform in (0,1]; the k highest-priority
    // rows are the sample, and each kept row's weight ESTIMATE is
    // max(w_i, τ) where τ is the (k+1)-th priority — subset-sum
    // estimates over the sample are then unbiased with near-optimal
    // variance (the published result). Weight = n_chars; u_i derives
    // from the Lehmer hash so the sample is deterministic and
    // rerun-invariant like q56/q57.
    //
    // Scale shape: priorities are map-only; the top-(k+1) cut is
    // TakeOrderedAndProject (per-partition top-k + a k-row driver merge
    // — never a global sort); τ and the final ranks come from windows
    // over the ALREADY-LIMITED 101-row frame, so the single-partition
    // window is bounded by k, not the corpus. Double determinism: u =
    // (h+1)/M and q = w/u are single correctly-rounded IEEE divisions of
    // exactly-representable int64s — bit-identical on both engines (no
    // transcendentals; the classic exp(ln(u)/w) form would forfeit the
    // oracle). Corpora with fewer than k+1 rows would need the n <= k
    // degenerate rule (τ = 0, estimate = w); the gate corpus is larger.
    QueryDef("q175_priority_sample", (s, d) =>
      prioritySample(t(s, d, "documents"), 100).orderBy("doc_id"),
      Some(s"""WITH p AS MATERIALIZED (
             |  SELECT doc_id, n_chars,
             |    CAST(n_chars AS DOUBLE)
             |      / (CAST($sqlLehmer + 1 AS DOUBLE) / $M.0) AS pri
             |  FROM documents),
             |r AS MATERIALIZED (
             |  SELECT doc_id, n_chars, pri,
             |    row_number() OVER (ORDER BY pri DESC, doc_id) AS rn
             |  FROM p),
             |t AS (SELECT min(pri) AS tau FROM r WHERE rn <= 101)
             |SELECT doc_id, n_chars, pri, tau,
             |  greatest(CAST(n_chars AS DOUBLE), tau) AS est_weight
             |FROM r, t WHERE rn <= 100 ORDER BY doc_id""".stripMargin)),

    // ---- Weighted quartiles of document length (importance-weighted) -----
    // Composition op: what does the corpus look like UNDER the q98
    // importance weighting? Weighted order statistics are the honest
    // answer (an unweighted median of a reweighted corpus misleads):
    // the weighted p-quantile is the first value v (in (n_chars,
    // doc_id) order) whose inclusive cumulative weight crosses p·W. The
    // cumulative is the q57/q218 two-phase prefix sum (value-bucket
    // chunks + chunkOffsets carry-ins, bit-identical to the oracle's
    // flat window), the crossing tests are pure int64 comparisons
    // (4·cum vs k·W — no float quantile math at all), and the q98
    // weight rule is shared with its oracle via sqlImportanceCtes.
    QueryDef("q225_weighted_median", (s, d) =>
      weightedLengthQuartiles(t(s, d, "documents")),
      Some(s"""WITH $sqlImportanceCtes,
             |wd AS MATERIALIZED (
             |  SELECT d.doc_id, d.n_chars, sc.score // sc.n_tokens AS wt
             |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
             |cum AS (
             |  SELECT n_chars, wt,
             |    CAST(sum(wt) OVER (ORDER BY n_chars, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM wd),
             |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS w_total FROM wd)
             |SELECT w_total,
             |  max(CASE WHEN 4 * cum >= 1 * w_total
             |        AND 4 * (cum - wt) < 1 * w_total THEN n_chars END)
             |    AS p25_chars,
             |  max(CASE WHEN 4 * cum >= 2 * w_total
             |        AND 4 * (cum - wt) < 2 * w_total THEN n_chars END)
             |    AS p50_chars,
             |  max(CASE WHEN 4 * cum >= 3 * w_total
             |        AND 4 * (cum - wt) < 3 * w_total THEN n_chars END)
             |    AS p75_chars
             |FROM cum CROSS JOIN tot GROUP BY w_total""".stripMargin)),

    // ---- Stratified k-fold cross-validation assignment -------------------
    // Deterministic 5-fold CV splits, stratified by (lang, source):
    // fold = (rank-within-stratum − 1) mod k over a doc_id-ordered
    // rank, so every stratum's folds differ in size by at most one —
    // the property that makes per-fold metrics comparable — and the
    // SAME document lands in the SAME fold on every run and every
    // cluster size (partition-count invariant by construction). The
    // report attests the allocation: per (fold, stratum) counts plus
    // each fold's share of its stratum. One window pass partitioned by
    // stratum + one grouped count; at 100 TB the window partitions by
    // the stratum key exactly like q57's quota sampler. For leakage-safe
    // assignment over near-duplicate clusters, compose with q134 (use
    // the cluster representative's fold).
    QueryDef("q205_stratified_kfold", (s, d) => {
      val w = Window.partitionBy("lang", "source").orderBy("doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("fold", ((row_number().over(w) - 1) % 5).cast("int"))
        .groupBy("lang", "source", "fold")
        .agg(count(lit(1)).as("n"))
        .withColumn("stratum_n",
          sum(col("n")).over(Window.partitionBy("lang", "source")))
        .withColumn("fold_share",
          col("n").cast("double") / col("stratum_n").cast("double"))
        .reportSorted("lang", "source", "fold")
    },
      Some("""WITH a AS MATERIALIZED (
             |  SELECT lang, source,
             |    CAST((row_number() OVER (PARTITION BY lang, source
             |      ORDER BY doc_id) - 1) % 5 AS INTEGER) AS fold
             |  FROM documents),
             |g AS (
             |  SELECT lang, source, fold, CAST(count(*) AS BIGINT) AS n
             |  FROM a GROUP BY 1, 2, 3)
             |SELECT lang, source, fold, n,
             |  CAST(sum(n) OVER (PARTITION BY lang, source) AS BIGINT)
             |    AS stratum_n,
             |  CAST(n AS DOUBLE)
             |    / CAST(sum(n) OVER (PARTITION BY lang, source) AS DOUBLE)
             |    AS fold_share
             |FROM g ORDER BY lang, source, fold""".stripMargin)),

    // ---- Poisson bootstrap CI for a grouped mean -------------------------
    // The resampling-based uncertainty readout the analytic CIs (q180's
    // normal-approx, q246's order-statistics) cannot give for arbitrary
    // statistics: B = 64 bootstrap replicates of mean tokens-per-doc per
    // source, via POISSON(1) resampling weights — the only bootstrap
    // that distributes, because each row draws its replicate weights
    // independently from a hash (no shared "pick n of n" state, the
    // Google "Poisson bootstrap" construction). w(doc, b) counts the
    // Lehmer draws under precomputed inverse-CDF literal cutoffs
    // ([[poissonCuts]]), so both engines see identical integer weights;
    // replicate means are one int64 (source, b)-keyed aggregation —
    // map-side combine collapses the B-fold explode to |sources|*64
    // rows per task, which is why this holds at 100 TB: the blowup
    // never reaches the shuffle. The CI is the percentile interval over
    // the 64 replicate means (drop lowest + highest -> central 96.9%),
    // picked by rank inside a BOUNDED 64-row-per-source window.
    QueryDef("q267_bootstrap_ci", (s, d) => {
      val b = 64L
      val x = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("x"))
      val h = lehmer(col("doc_id") * lit(b) + col("b"))
      val w = poissonCuts.zipWithIndex
        .foldRight(lit(poissonCuts.size): Column) { case ((c, k), e) =>
          when(h < c, k).otherwise(e)
        }.cast("long")
      val rep = x
        .withColumn("b", explode(sequence(lit(0L), lit(b - 1))))
        .select(col("source"), col("b"), w.as("w"), col("x"))
        .groupBy("source", "b")
        .agg(sum(col("w") * col("x")).as("swx"), sum("w").as("sw"))
        .filter(col("sw") > 0)
        .select(col("source"), col("b"),
          (col("swx").cast("double") / col("sw").cast("double")).as("mb"))
      val wr = Window.partitionBy("source").orderBy(col("mb"), col("b"))
      val wn = Window.partitionBy("source")
      val ci = rep
        .withColumn("rn", row_number().over(wr))
        .withColumn("nr", count(lit(1)).over(wn))
        .groupBy("source")
        .agg(min(when(col("rn") === 2, col("mb"))).as("boot_lo"),
          min(when(col("rn") === col("nr") - 1, col("mb"))).as("boot_hi"),
          max(col("nr")).cast("long").as("n_reps"))
      val ex = x.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (sum("x").cast("double") / count(lit(1)).cast("double"))
            .as("mean_exact"))
      ex.join(ci, "source")
        .select(col("source"), col("n_docs"), col("mean_exact"),
          col("boot_lo"), col("boot_hi"), col("n_reps"))
        .reportSorted("source")
    },
      Some(s"""WITH x AS MATERIALIZED (
             |  SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x
             |  FROM documents),
             |r AS (
             |  SELECT source, x, b,
             |    ${sqlPoissonW(sqlLehmerOf("(doc_id * 64 + b)"))} AS w
             |  FROM (SELECT doc_id, source, x,
             |          CAST(unnest(range(64)) AS BIGINT) AS b FROM x)),
             |rep AS (
             |  SELECT source, b,
             |    CAST(sum(w * x) AS BIGINT) AS swx,
             |    CAST(sum(w) AS BIGINT) AS sw
             |  FROM r GROUP BY source, b),
             |m AS (
             |  SELECT source, b,
             |    CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS mb
             |  FROM rep WHERE sw > 0),
             |rk AS (
             |  SELECT source, mb,
             |    row_number() OVER (PARTITION BY source ORDER BY mb, b) AS rn,
             |    count(*) OVER (PARTITION BY source) AS nr
             |  FROM m),
             |ci AS (
             |  SELECT source,
             |    min(CASE WHEN rn = 2 THEN mb END) AS boot_lo,
             |    min(CASE WHEN rn = nr - 1 THEN mb END) AS boot_hi,
             |    CAST(max(nr) AS BIGINT) AS n_reps
             |  FROM rk GROUP BY source),
             |ex AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |      AS mean_exact
             |  FROM x GROUP BY source)
             |SELECT ex.source, n_docs, mean_exact, boot_lo, boot_hi, n_reps
             |FROM ex JOIN ci ON ex.source = ci.source
             |ORDER BY ex.source""".stripMargin)),
  )
}
