package graft.queries

import graft.Report._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.{load => t}

/** Preference-data operators — the RLHF/DPO side of a training-data
  * pipeline, which the reference engine (batch OLAP only, SURVEY §2.7)
  * has no counterpart for: pairwise-comparison extraction, duel-matrix
  * aggregation, Copeland/Borda ranking, inter-annotator agreement,
  * and DPO chosen/rejected pair construction.
  *
  * Fixture mapping (documented, like q32/q159's `props` extraction):
  * an annotator = `user_id`, a response arm = `event_type`, a prompt =
  * the JSON `props.k`, and an implicit pairwise comparison = two
  * CONSECUTIVE events of one annotator (ordered by exact microsecond
  * time, event_id tie-break) with different arms — the later-vs-earlier
  * duel is won by the higher `value`. Single-`value` COMPARISONS only,
  * never float arithmetic: both engines read the same parquet doubles,
  * so `>` / `=` agree bit-for-bit and every output column is exact
  * int64/int32/string/bool (the repo-wide hash-stability rule). Exact
  * value ties carry no preference signal and are excluded symmetrically
  * in both engines.
  *
  * Ranking is Copeland + Borda — both EXACT integer functions of the
  * duel matrix. Bradley–Terry/Elo strengths are deliberately absent:
  * they are fixed-point float iterations whose summation order differs
  * across engines, which would break the byte-exact oracle gate; the
  * duel matrix (q342) is the sufficient statistic a trainer would fit
  * BT on downstream.
  *
  * Scale shape: ONE shuffle on `user_id` (an annotator's comparison
  * history is a small group — millions of annotators, never a global
  * window), then every aggregate lives on the bounded arm-pair or
  * prompt domain with map-side partial aggregation. Nothing here is
  * all-pairs and nothing funnels through the driver.
  */
object Preference {
  /** Pairwise duels from an annotator event stream: per `user_id`, each
    * consecutive event pair (exact-microsecond order, `event_id`
    * tie-break) with different `event_type`s and different `value`s is
    * one comparison; the higher `value` wins. Returns one row per duel:
    * (user_id, first_id, second_id, winner, loser, later_won). Null
    * timestamps/values are excluded up front (no place on the time
    * axis / no signal). Deterministic; (user_id, second_id) is unique.
    * One user_id-partitioned window — per-annotator groups, no global
    * ordering anywhere. */
  def duels(events: DataFrame): DataFrame =
    duelsWide(events).select("user_id", "first_id", "second_id",
      "winner", "loser", "later_won")

  /** [[duels]] plus the judgment context columns the eval-side consumers
    * key on: `us` (the comparison's completion time — the second
    * event's exact microseconds) and `k` (the second event's prompt
    * key). One definition with [[duels]] — the canonical 6-column duel
    * face is a projection of this, and Catalyst's column pruning drops
    * the unused context expressions from q341's plan. */
  private[queries] def duelsWide(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .withColumn("p_id", lag("event_id", 1).over(w))
      .withColumn("p_type", lag("event_type", 1).over(w))
      .withColumn("p_value", lag("value", 1).over(w))
      .filter(col("p_id").isNotNull &&
        col("p_type") =!= col("event_type") &&
        col("p_value") =!= col("value"))
      .select(col("user_id"), col("p_id").as("first_id"),
        col("event_id").as("second_id"),
        when(col("value") > col("p_value"), col("event_type"))
          .otherwise(col("p_type")).as("winner"),
        when(col("value") > col("p_value"), col("p_type"))
          .otherwise(col("event_type")).as("loser"),
        (col("value") > col("p_value")).as("later_won"),
        col("us"), col("k"))
  }

  /** Duel matrix over canonical arm pairs (arm_a < arm_b): wins_a,
    * wins_b, n = wins_a + wins_b, plus n_later_wins — the position-bias
    * audit column (a calibrated comparison set has n_later_wins ≈ n/2;
    * a recency-biased one doesn't). The sufficient statistic for any
    * downstream pairwise ranking model. GroupBy on the bounded
    * (arm, arm) domain — map-side partial agg, tiny result. */
  def duelMatrix(events: DataFrame): DataFrame =
    duels(events)
      .select(least(col("winner"), col("loser")).as("arm_a"),
        greatest(col("winner"), col("loser")).as("arm_b"),
        (col("winner") < col("loser")).as("a_won"), col("later_won"))
      .groupBy("arm_a", "arm_b")
      .agg(count(when(col("a_won"), 1)).as("wins_a"),
        count(when(!col("a_won"), 1)).as("wins_b"),
        count(lit(1)).as("n"),
        count(when(col("later_won"), 1)).as("n_later_wins"))

  /** Copeland + Borda ranking from the duel matrix. copeland2 = per
    * opponent 2 if this arm wins the majority of their duels, 1 on an
    * exact tie, 0 otherwise (doubled so the classic half-point tie stays
    * integer); borda = total duel wins; condorcet = beats EVERY opponent
    * majority-wise. Every unordered pair contributes exactly 2 to the
    * copeland2 column total — the conservation law PreferenceSpec pins.
    * Bounded-domain aggregation only (arms × arms). */
  def copelandRanking(events: DataFrame): DataFrame = {
    val m = duelMatrix(events)
    val pers = m.select(col("arm_a").as("arm"),
        col("wins_a").as("my_wins"), col("wins_b").as("opp_wins"))
      .unionByName(m.select(col("arm_b").as("arm"),
        col("wins_b").as("my_wins"), col("wins_a").as("opp_wins")))
    pers.groupBy("arm")
      .agg(sum(when(col("my_wins") > col("opp_wins"), 2L)
          .when(col("my_wins") === col("opp_wins"), 1L)
          .otherwise(0L)).as("copeland2"),
        sum(col("my_wins")).as("borda"),
        sum(col("my_wins") + col("opp_wins")).as("duels"),
        min(when(col("my_wins") > col("opp_wins"), 1).otherwise(0)).as("cmin"))
      .withColumn("condorcet", col("cmin") === 1)
      .drop("cmin")
  }

  /** Inter-annotator agreement per canonical arm pair: each annotator's
    * personal verdict is the majority of their OWN duels on that pair
    * (prefers a / prefers b / tie), aggregated to (n_pref_a, n_pref_b,
    * n_tie, annotators, majority). The annotation-quality report a
    * preference pipeline ships before training a reward model: a pair
    * where annotators split near-evenly is noise, not signal. Two
    * bounded aggregations: (user, pair) then (pair) — no all-pairs. */
  def annotatorAgreement(events: DataFrame): DataFrame = {
    val d = duels(events).select(col("user_id"),
      least(col("winner"), col("loser")).as("arm_a"),
      greatest(col("winner"), col("loser")).as("arm_b"),
      (col("winner") < col("loser")).as("a_won"))
    d.groupBy("user_id", "arm_a", "arm_b")
      .agg(count(when(col("a_won"), 1)).as("wa"),
        count(when(!col("a_won"), 1)).as("wb"))
      .groupBy("arm_a", "arm_b")
      .agg(count(when(col("wa") > col("wb"), 1)).as("n_pref_a"),
        count(when(col("wa") < col("wb"), 1)).as("n_pref_b"),
        count(when(col("wa") === col("wb"), 1)).as("n_tie"),
        count(lit(1)).as("annotators"))
      .withColumn("majority",
        when(col("n_pref_a") > col("n_pref_b"), col("arm_a"))
          .when(col("n_pref_b") > col("n_pref_a"), col("arm_b"))
          .otherwise(lit("split")))
  }

  /** DPO chosen/rejected pair construction (Rafailov et al. 2023 data
    * prep): per prompt (`props.k`), chosen = the strictly-best-scored
    * response, rejected = the strictly-worst (score = `value`,
    * `event_id` tie-break makes the argmax/argmin total), keeping
    * prompts with >= 3 responses and a strict score gap.
    * Output: (k, n_responses, chosen_id, chosen_type, rejected_id,
    * rejected_type) — ids and counts only, no float columns.
    *
    * Shape: ONE hash aggregation with max/min over a (value, event_id,
    * event_type) struct — map-side partial agg, so a prompt with a
    * billion responses never forms a window group or skews a sort;
    * this is why it is not the row_number() shape the oracle uses. */
  def dpoPairs(events: DataFrame): DataFrame =
    dpoPairLengths(events)
      .select("k", "n_responses", "chosen_id", "chosen_type",
        "rejected_id", "rejected_type")

  /** The q345 DPO pair set carrying each side's response token length
    * (q362) — the raw table of the length-bias audit. The fixture has
    * no response text, so the token count is a deterministic stub in
    * the q60 width/height style: len = event_id * 7919 % 512 + 1,
    * independent of the score by construction (mirrored exactly in
    * SQL; a real pipeline reads its tokenizer's count column). The
    * argmax/argmin structs carry the length along as a TRAILING field
    * — event_id is unique, so the added field can never flip a
    * comparison and q345 stays a pure projection of this (the
    * one-definition rule, spec-pinned). Same single partial-agg shape
    * as q345: no window, no join, no per-prompt sort. */
  def dpoPairLengths(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("k").isNotNull && col("value").isNotNull)
      .withColumn("len", expr("event_id * 7919 % 512 + 1"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_responses"),
        max(struct(col("value"), col("event_id"), col("event_type"),
          col("len"))).as("b"),
        min(struct(col("value"), col("event_id"), col("event_type"),
          col("len"))).as("w"))
      .filter(col("n_responses") >= 3L &&
        col("b.value") =!= col("w.value"))
      .select(col("k"), col("n_responses"),
        col("b.event_id").as("chosen_id"),
        col("b.event_type").as("chosen_type"),
        col("b.len").as("chosen_len"),
        col("w.event_id").as("rejected_id"),
        col("w.event_type").as("rejected_type"),
        col("w.len").as("rejected_len"),
        (col("b.len") - col("w.len")).as("len_delta"),
        (col("b.len") > col("w.len")).as("chosen_longer"))

  /** DPO length-bias audit (q363) — the classic DPO data failure mode:
    * chosen responses systematically LONGER than rejected (length
    * hacking), which a preference-trained model inherits as verbosity.
    * Per arm, over every appearance in the q345 pair set (chosen or
    * rejected): appearance counts, exact-integer length sums for both
    * roles, and the point-biserial correlation r_pb between being
    * chosen and response length (the q259 gate-length-bias statistic).
    * |r_pb| near 1 says the pair set is secretly a length filter.
    * Degenerate arms (never chosen / never rejected / zero length
    * variance) emit NULL, not NaN. Exact int64 moments combined in
    * double space; one bounded arm-domain aggregation over the pair
    * set's 2-row-per-pair unpivot. */
  def dpoLengthBias(events: DataFrame): DataFrame = {
    val p = dpoPairLengths(events)
    val obs = p.select(col("chosen_type").as("arm"),
        col("chosen_len").as("x"), lit(true).as("ok"))
      .unionByName(p.select(col("rejected_type").as("arm"),
        col("rejected_len").as("x"), lit(false).as("ok")))
    obs.groupBy("arm").agg(
        count(lit(1)).as("n"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_chosen"),
        sum(when(col("ok"), col("x")).otherwise(0L)).as("s1"),
        sum(when(!col("ok"), col("x")).otherwise(0L)).as("s0"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x")).as("sx"))
      .select(col("arm"), col("n"), col("n_chosen"), col("s1"), col("s0"),
        expr("CASE WHEN n_chosen > 0 THEN CAST(s1 AS DOUBLE) " +
          "/ CAST(n_chosen AS DOUBLE) END").as("mean_chosen_len"),
        expr("CASE WHEN n - n_chosen > 0 THEN CAST(s0 AS DOUBLE) " +
          "/ CAST(n - n_chosen AS DOUBLE) END").as("mean_rejected_len"),
        expr("CASE WHEN n_chosen > 0 AND n - n_chosen > 0 " +
          "AND n * sxx - sx * sx > 0 THEN " +
          "(CAST(s1 AS DOUBLE) / CAST(n_chosen AS DOUBLE) " +
          " - CAST(s0 AS DOUBLE) / CAST(n - n_chosen AS DOUBLE)) " +
          "* sqrt(CAST(n_chosen AS DOUBLE) * CAST(n - n_chosen AS DOUBLE)) " +
          "/ sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END").as("r_pb"))
  }

  /** Per-slice arm win rates with the q250 group-sequential early-stop
    * boundary (q364) — the eval report a post-training run consults
    * daily: per prompt slice (the k mod-8 bucket — the fixture's prompt
    * stratification) and canonical arm pair, the cumulative duel count,
    * wins, and win rate at each of 6 scheduled looks (every 4 days from
    * the first duel day), the binomial z against the 50% null
    * (z = (2*wins_a - n)/sqrt(n)), the O'Brien-Fleming boundary
    * 2.05*sqrt(K/look), the crossing flag, and the slice-pair's first
    * crossed look (early-stop decision). Built on [[duelsWide]] — the
    * SAME duel rule as q341-q346 (one-definition law). Exact integer
    * counts; z/win_rate are int/int IEEE divisions. Shape: one
    * annotator-keyed duel window, then every aggregate lives on the
    * bounded (slice, pair, look) domain with map-side partials; the
    * stop lookup is a window over those bounded 6-row groups. */
  def winrateSlices(events: DataFrame): DataFrame = {
    val looks = 6
    val dayUs = 86400000000L
    val d = duelsWide(events).filter(col("k").isNotNull)
      .select((col("k") % 8).as("slice"),
        least(col("winner"), col("loser")).as("arm_a"),
        greatest(col("winner"), col("loser")).as("arm_b"),
        (col("winner") < col("loser")).as("a_won"),
        expr(s"us div $dayUs").as("day"))
    val d0 = d.agg(min("day").as("d0"))
    val cum = d.crossJoin(broadcast(d0))
      .withColumn("look", explode(array((1 to looks).map(lit): _*)))
      .withColumn("look_day", col("d0") + col("look") * 4)
      .filter(col("day") <= col("look_day"))
      .groupBy("slice", "arm_a", "arm_b", "look", "look_day")
      .agg(count(lit(1)).as("n"), count(when(col("a_won"), 1)).as("wins_a"))
    cum
      .withColumn("win_rate",
        col("wins_a").cast("double") / col("n").cast("double"))
      .withColumn("z", (col("wins_a") * 2 - col("n")).cast("double") /
        sqrt(col("n").cast("double")))
      .withColumn("boundary", lit(2.05) *
        sqrt(lit(looks.toDouble) / col("look").cast("double")))
      .withColumn("crossed", abs(col("z")) > col("boundary"))
      .withColumn("stopped_at", min(when(col("crossed"), col("look")))
        .over(Window.partitionBy("slice", "arm_a", "arm_b")))
      .select("slice", "arm_a", "arm_b", "look", "look_day", "n", "wins_a",
        "win_rate", "z", "boundary", "crossed", "stopped_at")
  }

  /** Annotator-reliability report (the MACE-style spammer screen, by
    * exact counts): per annotator, the arm pairs where they hold a
    * STRICT personal verdict and the pair's annotator majority is also
    * strict; `n_agree` of those match the majority; `flagged` =
    * worse-than-chance (n_agree * 2 < n_scored). Majority here is
    * leave-annotator-IN (the q344 statistic — at real annotator counts
    * one vote cannot flip a strict majority, and the exact-count rule
    * keeps the two queries one definition). Bounded aggregations only:
    * (user, pair) verdicts, (pair) majorities, one broadcastable
    * arm-pair majority table joined back to per-user verdicts. */
  def annotatorReliability(events: DataFrame): DataFrame = {
    val d = duels(events).select(col("user_id"),
      least(col("winner"), col("loser")).as("arm_a"),
      greatest(col("winner"), col("loser")).as("arm_b"),
      (col("winner") < col("loser")).as("a_won"))
    val pu = d.groupBy("user_id", "arm_a", "arm_b")
      .agg(count(when(col("a_won"), 1)).as("wa"),
        count(when(!col("a_won"), 1)).as("wb"))
      .filter(col("wa") =!= col("wb"))
      .withColumn("verdict",
        when(col("wa") > col("wb"), col("arm_a")).otherwise(col("arm_b")))
    val maj = annotatorAgreement(events)
      .filter(col("majority") =!= "split")
      .select("arm_a", "arm_b", "majority")
    pu.join(broadcast(maj), Seq("arm_a", "arm_b")) // bounded arm-pair domain
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_scored"),
        count(when(col("verdict") === col("majority"), 1)).as("n_agree"))
      .withColumn("flagged", col("n_agree") * 2 < col("n_scored"))
  }

  /** Condorcet-cycle audit over the majority tournament: every ordered
    * strict-majority edge (winner beats loser on duel counts), and the
    * arm triads {a,b,c} whose edges form a cycle (a>b>c>a) — the
    * intransitivity a Bradley–Terry fit silently averages away and a
    * reward model inherits as noise. Output: one row per unordered
    * triad with all three edges strict, cyclic = true/false. The whole
    * computation lives on the bounded arm domain (edges = arms², triads
    * = arms³ — configuration-sized, never corpus-sized). */
  def duelTransitivity(events: DataFrame): DataFrame = {
    val m = duelMatrix(events)
    val edges = m.filter(col("wins_a") =!= col("wins_b"))
      .select(
        when(col("wins_a") > col("wins_b"), col("arm_a"))
          .otherwise(col("arm_b")).as("w"),
        when(col("wins_a") > col("wins_b"), col("arm_b"))
          .otherwise(col("arm_a")).as("l"))
    val e1 = edges.select(col("w").as("a"), col("l").as("b"))
    val e2 = edges.select(col("w").as("b2"), col("l").as("c"))
    val e3 = edges.select(col("w").as("w3"), col("l").as("l3"))
    // every 2-edge path a->b->c closed by a third strict edge names the
    // triad; a transitive triad yields exactly one such path (top->
    // mid->bottom), a cyclic one yields three (one per rotation, all
    // cyclic) — sorting the triple and deduping canonicalizes both to
    // one row, and a triad's edge set is either cyclic or not, so the
    // (triple, cyclic) pair is unique. The closing edge is matched by
    // direction as two EQUIJOINS unioned (an OR-of-ANDs condition
    // would plan a nested-loop join): c->a closes a cycle, a->c closes
    // a transitive order.
    val paths = e1.join(e2, col("b") === col("b2"))
      .filter(col("a") =!= col("c"))
    val cyc = paths.join(e3,
        col("w3") === col("c") && col("l3") === col("a"))
      .withColumn("cyclic", lit(true))
    val trans = paths.join(e3,
        col("w3") === col("a") && col("l3") === col("c"))
      .withColumn("cyclic", lit(false))
    cyc.unionByName(trans)
      .select(array_sort(array(col("a"), col("b"), col("c"))).as("t"),
        col("cyclic"))
      .select(element_at(col("t"), 1).as("x"),
        element_at(col("t"), 2).as("y"),
        element_at(col("t"), 3).as("z"), col("cyclic"))
      .distinct()
  }

  /** Prompt/response projection shared by the RL-rollout ops: prompt =
    * `props.k`, response = one event, score = `value`. Null prompts and
    * scores are excluded (no group / no signal). */
  private def responses(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("k").isNotNull && col("value").isNotNull)

  /** GRPO-style group-relative standing per response (Shao et al. 2024's
    * group-advantage idea, float-free): for each prompt (`props.k`) and
    * response, `beats` = responses in the group with a strictly lower
    * score, `beaten` = strictly higher, `n_group`, and `positive` =
    * beats > beaten — the exact-arithmetic advantage SIGN (the z-scored
    * magnitude is a float the trainer derives; the selection decision is
    * the pipeline's job and is exact). Shape: per-(prompt, score) counts,
    * then rank/cumsum windows over the per-prompt DISTINCT-SCORE table —
    * the value-distribution pattern (q187/q294): the window frame is
    * bounded by the rollout sampler's group size, never the corpus —
    * then one equijoin back on (prompt, score). */
  def grpoAdvantage(events: DataFrame): DataFrame = {
    val e = responses(events)
    val counts = e.groupBy("k", "value").agg(count(lit(1)).as("c"))
    val lt = Window.partitionBy("k").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy("k")
    val dist = counts
      .withColumn("beats", coalesce(sum(col("c")).over(lt), lit(0L)))
      .withColumn("n_group", sum(col("c")).over(all))
      .withColumn("beaten", col("n_group") - col("beats") - col("c"))
    // dist is corpus-derived ((prompt, distinct-score) rows) — at local
    // SF it sits under the broadcast threshold and AQE would flip it to
    // a corpus-sized broadcast; pinned shuffled-hash, the honest arm at
    // any scale (the q135/q278/q334 convention)
    e.join(dist.hint("shuffle_hash"), Seq("k", "value"))
      .select(col("k"), col("event_id"), col("event_type"),
        col("beats"), col("beaten"), col("n_group"),
        (col("beats") > col("beaten")).as("positive"))
  }

  /** RL rollout length-bias audit — q375's body: per prompt group, the
    * exact tie-corrected Spearman SUFFICIENT STATISTICS between response
    * length (q362's deterministic stub — one definition) and reward:
    * d2x4 = sum of (2*avgrank_len - 2*avgrank_reward)^2 over the group
    * (doubled average ranks keep tied ranks integer), the two tie sums
    * sum(t^3 - t), and the integer rho-numerator
    * 2(n^3 - n) - TL - TV - 3*d2x4 whose SIGN is the verdict — rho > 0
    * iff bias_num > 0 (the denominator is positive whenever either
    * variable varies), so `length_biased` (positive length-reward
    * correlation = the RL analogue of q363's DPO length hacking) is an
    * exact integer comparison, total for every prompt (`degenerate`
    * marks the no-variance groups where rho is undefined; their verdict
    * is false, never null — the q350 totality rule).
    *
    * Shape: the q347 value-distribution discipline twice — per-(prompt,
    * distinct-value) and per-(prompt, distinct-length) count tables with
    * cumsum windows over the BOUNDED distinct domains (len <= 512 by
    * construction), response rows joined back pinned shuffled-hash,
    * one grouped rollup. Never a window over the response rows. */
  def rolloutLengthBias(events: DataFrame): DataFrame = {
    val e = responses(events)
      .withColumn("len", expr("event_id * 7919 % 512 + 1"))
    def dist(c: String) = {
      val lt = Window.partitionBy("k").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      e.groupBy("k", c).agg(count(lit(1)).as("c"))
        .withColumn("r2",
          coalesce(sum("c").over(lt), lit(0L)) * 2 + col("c") + 1)
    }
    val dv = dist("value")
    val dl = dist("len")
    val per = e
      .join(dv.select(col("k"), col("value"), col("r2").as("r2v"))
        .hint("shuffle_hash"), Seq("k", "value"))
      .join(dl.select(col("k"), col("len"), col("r2").as("r2l"))
        .hint("shuffle_hash"), Seq("k", "len"))
      .withColumn("d", col("r2l") - col("r2v"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_responses"),
        sum(col("d") * col("d")).as("d2x4"))
    val tl = dl.groupBy("k")
      .agg(sum(col("c") * col("c") * col("c") - col("c")).as("tie_len"))
    val tv = dv.groupBy("k")
      .agg(sum(col("c") * col("c") * col("c") - col("c")).as("tie_val"))
    per.join(tl.hint("shuffle_hash"), Seq("k"))
      .join(tv.hint("shuffle_hash"), Seq("k"))
      .withColumn("nn",
        col("n_responses") * col("n_responses") * col("n_responses") -
          col("n_responses"))
      .withColumn("bias_num",
        col("nn") * 2 - col("tie_len") - col("tie_val") - col("d2x4") * 3)
      .withColumn("degenerate",
        col("nn") === col("tie_len") || col("nn") === col("tie_val"))
      .withColumn("length_biased", !col("degenerate") && col("bias_num") > 0)
      .select("k", "n_responses", "d2x4", "tie_len", "tie_val", "bias_num",
        "degenerate", "length_biased")
  }

  /** Best-of-n / rejection-sampling manifest (RFT data prep): per prompt,
    * the top `m` responses by (score desc, event_id asc), emitted as
    * (k, rank, event_id). Ranked through the bounded
    * [[graft.functions.TopKAgg]] partial aggregator — each map task
    * pre-reduces its partition to m rows before the shuffle, so a prompt
    * with a billion rollouts ships m rows per task, never a per-prompt
    * sort (the q48/q333 ranking shape). Prompts with fewer than m
    * responses keep what they have. m is 4. */
  def bestOfN(events: DataFrame): DataFrame = {
    val m = 4
    val e = responses(events)
    import e.sparkSession.implicits._
    val topk = new graft.functions.TopKAgg(m).toColumn
    e.select(col("k").cast("long").as("k"), col("value"), col("event_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk.name("top"))
      .toDF("k", "top")
      .select(col("k").cast("int").as("k"),
        posexplode(col("top")).as(Seq("r0", "t")))
      .select(col("k"), (col("r0") + 1).cast("int").as("rank"),
        col("t._2").as("event_id"))
  }

  /** Exact pass@k (Chen et al. 2021's estimator, integer-only): per
    * prompt, n rollouts, c solved (solved = a `purchase` event — the
    * fixture's categorical success), and the k=4 estimator's exact
    * numerator/denominator: pass@4 = 1 - C(n-c,4)/C(n,4) =
    * 1 - fail4_num/tot4_num with the 4! cancelled — falling-factorial
    * products that stay in int64 for any plausible rollout count (n^4 <
    * 2^63 up to n ≈ 55k) and hit a zero factor exactly when n-c < 4.
    * Prompts with n < 4 are excluded (the estimator is undefined).
    * One bounded-domain hash aggregation; consumers do the one float
    * division downstream. */
  def passAtK(events: DataFrame): DataFrame =
    responses(events)
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "purchase", 1)).as("c"))
      .filter(col("n") >= 4)
      .withColumn("fail4_num",
        (col("n") - col("c")) * (col("n") - col("c") - 1) *
          (col("n") - col("c") - 2) * (col("n") - col("c") - 3))
      .withColumn("tot4_num",
        col("n") * (col("n") - 1) * (col("n") - 2) * (col("n") - 3))
      .withColumn("any_pass", col("c") > 0)

  /** Self-consistency vote per prompt (Wang et al. 2023's
    * majority-voting data op, by exact counts): the modal response arm
    * among a prompt's rollouts, its count, the runner-up count, and the
    * unanimity flag — the margin a consensus-distillation pipeline
    * thresholds on before keeping the modal answer as a training label.
    * Ties break to the lexicographically smallest arm (min over a
    * (-count, arm) struct — deterministic in both engines). Two hash
    * aggregations with map-side partials ((prompt, arm) counts, then
    * per-prompt min over structs) plus prompt-keyed joins back — the
    * prompt table is corpus-derived (one row per prompt), so both
    * joins are pinned shuffled-hash (the q135/q278/q334 convention);
    * no windows, no per-prompt sort. */
  def selfConsistency(events: DataFrame): DataFrame = {
    val counts = responses(events)
      .groupBy("k", "event_type").agg(count(lit(1)).as("cnt"))
    val modal = counts.groupBy("k")
      .agg(min(struct((-col("cnt")).as("nc"), col("event_type").as("ty")))
          .as("m"),
        sum(col("cnt")).as("n"),
        count(lit(1)).as("n_arms"))
      .select(col("k"), (-col("m.nc")).as("modal_n"),
        col("m.ty").as("modal_type"), col("n"), col("n_arms"))
    val runner = counts.join(modal.hint("shuffle_hash"), Seq("k"))
      .filter(col("event_type") =!= col("modal_type"))
      .groupBy("k").agg(max(col("cnt")).as("runner_n"))
    modal.join(runner.hint("shuffle_hash"), Seq("k"), "left")
      .select(col("k"), col("n"), col("n_arms"),
        col("modal_type"), col("modal_n"),
        coalesce(col("runner_n"), lit(0L)).as("runner_n"))
      .withColumn("unanimous", col("modal_n") === col("n"))
  }

  /** Shared duel-extraction CTE — the single SQL definition of the
    * comparison rule, consumed by every oracle below AND by the q346
    * streaming face (the q331/q336 twin rule: batch query and stateful
    * face gate against the SAME oracle text, so the rule cannot drift
    * between the offline and online paths). */
  private val sqlDuelsCte =
    """duels AS MATERIALIZED (
      |  SELECT user_id, p_id AS first_id, event_id AS second_id,
      |    CASE WHEN value > p_value THEN event_type ELSE p_type END AS winner,
      |    CASE WHEN value > p_value THEN p_type ELSE event_type END AS loser,
      |    value > p_value AS later_won, us, k
      |  FROM (
      |    SELECT user_id, event_id, event_type, value,
      |      epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |      CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k,
      |      lag(event_id)   OVER w AS p_id,
      |      lag(event_type) OVER w AS p_type,
      |      lag(value)      OVER w AS p_value
      |    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      |    WINDOW w AS (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id))
      |  WHERE p_id IS NOT NULL AND p_type != event_type AND p_value != value)""".stripMargin

  private val sqlDuels =
    s"""WITH $sqlDuelsCte
       |SELECT user_id, first_id, second_id, winner, loser, later_won
       |FROM duels ORDER BY user_id, second_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- Pairwise duel extraction (implicit preference mining) ----------
    // The comparison-mining pass every preference pipeline starts with:
    // an annotator's consecutive same-session judgments become pairwise
    // duels (higher score wins; exact ties and same-arm pairs carry no
    // signal and are dropped). One user_id-partitioned window — the
    // scale-safe per-annotator shape, never a global ordering.
    QueryDef("q341_pref_duels", (s, d) =>
      duels(t(s, d, "events")).orderBy("user_id", "second_id"),
      Some(sqlDuels)),

    // ---- Duel matrix + position-bias audit -------------------------------
    // The sufficient statistic for pairwise ranking models (what a
    // Bradley–Terry fit would consume), on the bounded arm-pair domain,
    // with the n_later_wins column auditing recency bias in the
    // comparison derivation (calibrated ≈ n/2).
    QueryDef("q342_pref_matrix", (s, d) =>
      duelMatrix(t(s, d, "events")).reportSorted("arm_a", "arm_b"),
      Some(s"""WITH $sqlDuelsCte
             |SELECT least(winner, loser) AS arm_a,
             |  greatest(winner, loser) AS arm_b,
             |  CAST(count(*) FILTER (winner < loser) AS BIGINT) AS wins_a,
             |  CAST(count(*) FILTER (winner > loser) AS BIGINT) AS wins_b,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) FILTER (later_won) AS BIGINT) AS n_later_wins
             |FROM duels GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- Copeland / Borda ranking ----------------------------------------
    // Exact-integer tournament ranking from the duel matrix: Copeland
    // (majority-wins count, doubled to keep ties integer), Borda (total
    // wins), and the Condorcet-winner flag. The float-free stand-in for
    // BT/Elo strengths — see the object Scaladoc for why those are
    // deliberately absent.
    QueryDef("q343_pref_copeland", (s, d) =>
      copelandRanking(t(s, d, "events"))
        .reportSorted(col("copeland2").desc, col("borda").desc, col("arm")),
      Some(s"""WITH $sqlDuelsCte,
             |m AS (
             |  SELECT least(winner, loser) AS arm_a,
             |    greatest(winner, loser) AS arm_b,
             |    count(*) FILTER (winner < loser) AS wins_a,
             |    count(*) FILTER (winner > loser) AS wins_b
             |  FROM duels GROUP BY 1, 2),
             |pers AS (
             |  SELECT arm_a AS arm, wins_a AS my_wins, wins_b AS opp_wins FROM m
             |  UNION ALL
             |  SELECT arm_b, wins_b, wins_a FROM m)
             |SELECT arm,
             |  CAST(sum(CASE WHEN my_wins > opp_wins THEN 2
             |    WHEN my_wins = opp_wins THEN 1 ELSE 0 END) AS BIGINT) AS copeland2,
             |  CAST(sum(my_wins) AS BIGINT) AS borda,
             |  CAST(sum(my_wins + opp_wins) AS BIGINT) AS duels,
             |  bool_and(my_wins > opp_wins) AS condorcet
             |FROM pers GROUP BY arm
             |ORDER BY copeland2 DESC, borda DESC, arm""".stripMargin)),

    // ---- Inter-annotator agreement ---------------------------------------
    // Per-pair annotator majority split — the annotation-quality gate
    // before a reward model trains on these comparisons. Two bounded
    // aggregations; per-annotator verdicts are exact count majorities.
    QueryDef("q344_pref_agreement", (s, d) =>
      annotatorAgreement(t(s, d, "events")).reportSorted("arm_a", "arm_b"),
      Some(s"""WITH $sqlDuelsCte,
             |pu AS (
             |  SELECT user_id, least(winner, loser) AS arm_a,
             |    greatest(winner, loser) AS arm_b,
             |    count(*) FILTER (winner < loser) AS wa,
             |    count(*) FILTER (winner > loser) AS wb
             |  FROM duels GROUP BY 1, 2, 3)
             |SELECT arm_a, arm_b,
             |  CAST(count(*) FILTER (wa > wb) AS BIGINT) AS n_pref_a,
             |  CAST(count(*) FILTER (wa < wb) AS BIGINT) AS n_pref_b,
             |  CAST(count(*) FILTER (wa = wb) AS BIGINT) AS n_tie,
             |  CAST(count(*) AS BIGINT) AS annotators,
             |  CASE WHEN count(*) FILTER (wa > wb) > count(*) FILTER (wa < wb)
             |         THEN arm_a
             |       WHEN count(*) FILTER (wa < wb) > count(*) FILTER (wa > wb)
             |         THEN arm_b
             |       ELSE 'split' END AS majority
             |FROM pu GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- DPO pair construction -------------------------------------------
    // Chosen/rejected extraction per prompt: strictly best vs strictly
    // worst response with a minimum group size. The Spark side is one
    // partial-aggregating max/min over a struct (no per-prompt window —
    // a prompt's response count is unbounded at corpus scale); the
    // oracle states the same argmax/argmin via row_number, which is
    // fine on the oracle's single node.
    QueryDef("q345_dpo_pairs", (s, d) =>
      dpoPairs(t(s, d, "events")).reportSorted("k"),
      Some("""WITH e AS (
             |  SELECT event_id, event_type, value,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT k, event_id, event_type, value,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY value DESC, event_id DESC) AS rb,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY value ASC, event_id ASC) AS rw,
             |    count(*) OVER (PARTITION BY k) AS n
             |  FROM e WHERE k IS NOT NULL)
             |SELECT b.k, CAST(b.n AS BIGINT) AS n_responses,
             |  b.event_id AS chosen_id, b.event_type AS chosen_type,
             |  w.event_id AS rejected_id, w.event_type AS rejected_type
             |FROM (SELECT * FROM r WHERE rb = 1) b
             |JOIN (SELECT * FROM r WHERE rw = 1) w USING (k)
             |WHERE b.n >= 3 AND b.value != w.value
             |ORDER BY b.k""".stripMargin)),

    // ---- Streaming duel-extraction face, driver-gated ---------------------
    // The q336/q338 promotion for [[graft.streaming.Streams.duelIngest]]:
    // comparisons are mined ONLINE as judgments arrive, with one
    // last-event record per annotator in the state store. Single-trigger
    // replay emits exactly q341's duel set — gated by the SAME oracle
    // SQL text; the two-trigger arrival contract (a duel forms across
    // the micro-batch boundary, state never resets) is spec-driven as a
    // real MemoryStream in StreamingSpec.
    QueryDef("q346_pref_ingest_face", (s, d) =>
      graft.streaming.Streams.duelIngest(t(s, d, "events")).toDF()
        .orderBy("user_id", "second_id"),
      Some(sqlDuels)),

    // ---- GRPO group-relative advantage ------------------------------------
    // Exact group-relative standing per rollout: beats/beaten counts and
    // the advantage sign, via rank/cumsum windows over each prompt's
    // bounded DISTINCT-SCORE table (the value-distribution pattern) —
    // never a window over the response rows themselves.
    QueryDef("q347_grpo_advantage", (s, d) =>
      grpoAdvantage(t(s, d, "events")).orderBy("k", "event_id"),
      Some("""WITH e AS (
             |  SELECT event_id, event_type, value,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
             |  FROM events WHERE value IS NOT NULL),
             |d AS (
             |  SELECT k, value, count(*) AS c FROM e
             |  WHERE k IS NOT NULL GROUP BY 1, 2),
             |dist AS (
             |  SELECT k, value, c,
             |    coalesce(sum(c) OVER (PARTITION BY k ORDER BY value
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS beats,
             |    sum(c) OVER (PARTITION BY k) AS n_group
             |  FROM d)
             |SELECT e.k, e.event_id, e.event_type,
             |  CAST(dist.beats AS BIGINT) AS beats,
             |  CAST(dist.n_group - dist.beats - dist.c AS BIGINT) AS beaten,
             |  CAST(dist.n_group AS BIGINT) AS n_group,
             |  dist.beats > dist.n_group - dist.beats - dist.c AS positive
             |FROM e JOIN dist USING (k, value)
             |ORDER BY e.k, e.event_id""".stripMargin)),

    // ---- RL rollout length-bias audit --------------------------------------
    // Length hacking on the RL side: does reward correlate with response
    // length within each prompt's rollout group? Exact tie-corrected
    // Spearman sufficient statistics and the integer rho-numerator
    // whose sign is the verdict — see [[rolloutLengthBias]].
    QueryDef("q375_rollout_length_bias", (s, d) =>
      rolloutLengthBias(t(s, d, "events")).reportSorted("k"),
      Some("""WITH e AS (
             |  SELECT event_id, value,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)
             |      AS k,
             |    event_id * 7919 % 512 + 1 AS len
             |  FROM events WHERE value IS NOT NULL),
             |e2 AS (SELECT * FROM e WHERE k IS NOT NULL),
             |dv AS (
             |  SELECT k, value, count(*) AS c,
             |    2 * coalesce(sum(count(*)) OVER (PARTITION BY k
             |        ORDER BY value
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + count(*) + 1 AS r2v
             |  FROM e2 GROUP BY k, value),
             |dl AS (
             |  SELECT k, len, count(*) AS c,
             |    2 * coalesce(sum(count(*)) OVER (PARTITION BY k
             |        ORDER BY len
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + count(*) + 1 AS r2l
             |  FROM e2 GROUP BY k, len),
             |per AS (
             |  SELECT e2.k, CAST(count(*) AS BIGINT) AS n_responses,
             |    CAST(sum((r2l - r2v) * (r2l - r2v)) AS BIGINT) AS d2x4
             |  FROM e2 JOIN dv ON e2.k = dv.k AND e2.value = dv.value
             |          JOIN dl ON e2.k = dl.k AND e2.len = dl.len
             |  GROUP BY e2.k),
             |tl AS (SELECT k, CAST(sum(c*c*c - c) AS BIGINT) AS tie_len
             |       FROM dl GROUP BY k),
             |tv AS (SELECT k, CAST(sum(c*c*c - c) AS BIGINT) AS tie_val
             |       FROM dv GROUP BY k)
             |SELECT per.k, n_responses, d2x4, tie_len, tie_val,
             |  (n_responses*n_responses*n_responses - n_responses) * 2
             |    - tie_len - tie_val - 3 * d2x4 AS bias_num,
             |  (n_responses*n_responses*n_responses - n_responses - tie_len
             |     = 0)
             |    OR (n_responses*n_responses*n_responses - n_responses
             |          - tie_val = 0) AS degenerate,
             |  ((n_responses*n_responses*n_responses - n_responses - tie_len
             |      <> 0)
             |   AND (n_responses*n_responses*n_responses - n_responses
             |          - tie_val <> 0)
             |   AND (n_responses*n_responses*n_responses - n_responses) * 2
             |         - tie_len - tie_val - 3 * d2x4 > 0) AS length_biased
             |FROM per JOIN tl USING (k) JOIN tv USING (k)
             |ORDER BY per.k""".stripMargin)),

    // ---- Best-of-n / rejection-sampling manifest ---------------------------
    // RFT data prep: the kept top-4 rollouts per prompt, ranked through
    // the bounded TopKAgg partial aggregator (m rows per task cross the
    // shuffle — no per-prompt sort at any rollout count).
    QueryDef("q348_bon_manifest", (s, d) =>
      bestOfN(t(s, d, "events")).reportSorted("k", "rank"),
      Some("""WITH e AS (
             |  SELECT event_id, value,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT k, event_id,
             |    CAST(row_number() OVER (PARTITION BY k
             |      ORDER BY value DESC, event_id ASC) AS INTEGER) AS rank
             |  FROM e WHERE k IS NOT NULL)
             |SELECT k, rank, event_id FROM r WHERE rank <= 4
             |ORDER BY k, rank""".stripMargin)),

    // ---- Exact pass@k -------------------------------------------------------
    // The eval-set statistic as exact falling-factorial numerators
    // (pass@4 = 1 - fail4_num/tot4_num; the 4! cancels) — one
    // bounded-domain aggregation, zero float arithmetic in the engine.
    QueryDef("q349_passk_exact", (s, d) =>
      passAtK(t(s, d, "events")).reportSorted("k"),
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
             |  FROM events WHERE value IS NOT NULL),
             |g AS (
             |  SELECT k, CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS c
             |  FROM e WHERE k IS NOT NULL GROUP BY k)
             |SELECT k, n, c,
             |  (n-c)*(n-c-1)*(n-c-2)*(n-c-3) AS fail4_num,
             |  n*(n-1)*(n-2)*(n-3) AS tot4_num,
             |  c > 0 AS any_pass
             |FROM g WHERE n >= 4 ORDER BY k""".stripMargin)),

    // ---- Difficulty-curriculum manifest ------------------------------------
    // Order prompts easy -> hard by EMPIRICAL pass rate (q349's solved
    // rule, exact ppm) — the curriculum an RL/SFT run consumes when
    // staged difficulty stabilizes early training. The global rank is
    // the q81/q371 two-phase chunked pattern keyed by pass_ppm range
    // buckets (ties broken by prompt key — total order, rerun-stable):
    // NO global window at any prompt count; `phase` groups the order
    // into 8-prompt stages. Prompt rows are one map-combined shuffle,
    // the rank adds only the bounded chunk machinery.
    QueryDef("q378_curriculum", (s, d) => {
      val g = responses(t(s, d, "events")).groupBy("k")
        .agg(count(lit(1)).as("n"),
          count(when(col("event_type") === "purchase", 1)).as("c"))
        .withColumn("pass_ppm", expr("c * 1000000 div n"))
      val stats = g.agg(count(lit(1)).as("cnt"))
      val chunked = g.crossJoin(broadcast(stats))
        .withColumn("nb", Sampling.prefixBuckets(col("cnt")))
        .withColumn("chunk", expr("((1000000 - pass_ppm) * nb) div 1000001"))
        .drop("cnt", "nb")
      val wLocal = Window.partitionBy("chunk")
        .orderBy(col("pass_ppm").desc, col("k"))
      val offsets = Sampling.chunkOffsets(
        chunked.groupBy("chunk").agg(count(lit(1)).as("tot")),
        "chunk", "tot")
      chunked
        .withColumn("local_rn", row_number().over(wLocal).cast("long"))
        .join(broadcast(offsets), "chunk")
        .withColumn("curriculum_idx", col("local_rn") + col("off") - 1)
        .withColumn("phase", expr("curriculum_idx div 8"))
        .select("k", "n", "c", "pass_ppm", "curriculum_idx", "phase")
        .reportSorted("curriculum_idx")
    },
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)
             |      AS k
             |  FROM events WHERE value IS NOT NULL),
             |g AS (
             |  SELECT k, CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
             |      AS c
             |  FROM e WHERE k IS NOT NULL GROUP BY k)
             |SELECT k, n, c, c * 1000000 // n AS pass_ppm,
             |  CAST(row_number() OVER (ORDER BY c * 1000000 // n DESC, k)
             |    - 1 AS BIGINT) AS curriculum_idx,
             |  CAST((row_number() OVER (ORDER BY c * 1000000 // n DESC, k)
             |    - 1) // 8 AS BIGINT) AS phase
             |FROM g ORDER BY curriculum_idx""".stripMargin)),

    // ---- Annotator reliability (spammer screen) ----------------------------
    // Per annotator: strict personal verdicts scored against the strict
    // pair majorities; flagged = worse than chance. The MACE-style
    // annotation-quality report, by exact counts.
    QueryDef("q353_annotator_reliability", (s, d) =>
      annotatorReliability(t(s, d, "events")).orderBy("user_id"),
      Some(s"""WITH $sqlDuelsCte,
             |pu AS (
             |  SELECT user_id, least(winner, loser) AS arm_a,
             |    greatest(winner, loser) AS arm_b,
             |    count(*) FILTER (winner < loser) AS wa,
             |    count(*) FILTER (winner > loser) AS wb
             |  FROM duels GROUP BY 1, 2, 3),
             |pv AS (
             |  SELECT user_id, arm_a, arm_b,
             |    CASE WHEN wa > wb THEN arm_a ELSE arm_b END AS verdict
             |  FROM pu WHERE wa != wb),
             |mj AS (
             |  SELECT arm_a, arm_b,
             |    CASE WHEN count(*) FILTER (wa > wb) > count(*) FILTER (wa < wb)
             |           THEN arm_a
             |         WHEN count(*) FILTER (wa < wb) > count(*) FILTER (wa > wb)
             |           THEN arm_b END AS majority
             |  FROM pu GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_scored,
             |  CAST(count(*) FILTER (verdict = majority) AS BIGINT) AS n_agree,
             |  count(*) FILTER (verdict = majority) * 2 < count(*) AS flagged
             |FROM pv JOIN mj USING (arm_a, arm_b)
             |WHERE majority IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- Condorcet-cycle audit ---------------------------------------------
    // Intransitive majority triads in the duel tournament — preference
    // noise a pairwise ranking model cannot represent. Bounded arm
    // domain throughout (edges = arms^2, triads = arms^3).
    QueryDef("q354_duel_transitivity", (s, d) =>
      duelTransitivity(t(s, d, "events")).reportSorted("x", "y", "z"),
      Some(s"""WITH $sqlDuelsCte,
             |m AS (
             |  SELECT least(winner, loser) AS arm_a,
             |    greatest(winner, loser) AS arm_b,
             |    count(*) FILTER (winner < loser) AS wins_a,
             |    count(*) FILTER (winner > loser) AS wins_b
             |  FROM duels GROUP BY 1, 2),
             |e AS (
             |  SELECT CASE WHEN wins_a > wins_b THEN arm_a ELSE arm_b END AS w,
             |    CASE WHEN wins_a > wins_b THEN arm_b ELSE arm_a END AS l
             |  FROM m WHERE wins_a != wins_b),
             |p AS (
             |  SELECT e1.w AS a, e1.l AS b, e2.l AS c
             |  FROM e e1 JOIN e e2 ON e1.l = e2.w WHERE e1.w != e2.l),
             |cl AS (
             |  SELECT a, b, c, e3.w = c AS cyclic
             |  FROM p JOIN e e3
             |    ON (e3.w = c AND e3.l = a) OR (e3.w = a AND e3.l = c))
             |SELECT DISTINCT t[1] AS x, t[2] AS y, t[3] AS z, cyclic
             |FROM (SELECT list_sort([a, b, c]) AS t, cyclic FROM cl)
             |ORDER BY x, y, z""".stripMargin)),

    // ---- DPO pair lengths (the length-delta table) -------------------------
    // q345's pair set carrying each side's response token length (the
    // q60-style deterministic stub — event_id * 7919 % 512 + 1), the
    // per-pair delta, and the chosen_longer flag: the raw table the
    // length-bias audit (q363) aggregates, shipped whole because a
    // curation run inspects the extreme-delta pairs by hand. Same
    // single partial-agg shape as q345; the length rides the argmax
    // struct as a trailing field, so q345 is a pure projection.
    QueryDef("q362_dpo_length_delta", (s, d) =>
      dpoPairLengths(t(s, d, "events")).reportSorted("k"),
      Some("""WITH e AS (
             |  SELECT event_id, event_type, value,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k,
             |    event_id * 7919 % 512 + 1 AS len
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT k, event_id, event_type, value, len,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY value DESC, event_id DESC) AS rb,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY value ASC, event_id ASC) AS rw,
             |    count(*) OVER (PARTITION BY k) AS n
             |  FROM e WHERE k IS NOT NULL)
             |SELECT b.k, CAST(b.n AS BIGINT) AS n_responses,
             |  b.event_id AS chosen_id, b.event_type AS chosen_type,
             |  CAST(b.len AS BIGINT) AS chosen_len,
             |  w.event_id AS rejected_id, w.event_type AS rejected_type,
             |  CAST(w.len AS BIGINT) AS rejected_len,
             |  CAST(b.len - w.len AS BIGINT) AS len_delta,
             |  b.len > w.len AS chosen_longer
             |FROM (SELECT * FROM r WHERE rb = 1) b
             |JOIN (SELECT * FROM r WHERE rw = 1) w USING (k)
             |WHERE b.n >= 3 AND b.value != w.value
             |ORDER BY b.k""".stripMargin)),

    // ---- DPO length-bias audit (point-biserial) ----------------------------
    // The length-hacking confound check: per arm, is being CHOSEN in the
    // DPO pair set correlated with response length? r_pb near |1| says
    // the preference data is secretly a length filter (the q259 gate
    // statistic applied to pair membership). Exact int64 moments, one
    // bounded arm-domain aggregation; degenerate arms emit NULL.
    QueryDef("q363_dpo_length_bias", (s, d) =>
      dpoLengthBias(t(s, d, "events")).reportSorted("arm"),
      Some("""WITH e AS (
             |  SELECT event_id, event_type, value,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k,
             |    event_id * 7919 % 512 + 1 AS len
             |  FROM events WHERE value IS NOT NULL),
             |r AS (
             |  SELECT k, event_id, event_type, value, len,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY value DESC, event_id DESC) AS rb,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY value ASC, event_id ASC) AS rw,
             |    count(*) OVER (PARTITION BY k) AS n
             |  FROM e WHERE k IS NOT NULL),
             |p AS (
             |  SELECT b.event_type AS chosen_type, b.len AS chosen_len,
             |    w.event_type AS rejected_type, w.len AS rejected_len
             |  FROM (SELECT * FROM r WHERE rb = 1) b
             |  JOIN (SELECT * FROM r WHERE rw = 1) w USING (k)
             |  WHERE b.n >= 3 AND b.value != w.value),
             |obs AS (
             |  SELECT chosen_type AS arm, chosen_len AS x, true AS ok FROM p
             |  UNION ALL
             |  SELECT rejected_type, rejected_len, false FROM p),
             |a AS (
             |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen,
             |    CAST(sum(CASE WHEN ok THEN x ELSE 0 END) AS BIGINT) AS s1,
             |    CAST(sum(CASE WHEN NOT ok THEN x ELSE 0 END) AS BIGINT) AS s0,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(x) AS BIGINT) AS sx
             |  FROM obs GROUP BY 1)
             |SELECT arm, n, n_chosen, s1, s0,
             |  CASE WHEN n_chosen > 0 THEN CAST(s1 AS DOUBLE)
             |    / CAST(n_chosen AS DOUBLE) END AS mean_chosen_len,
             |  CASE WHEN n - n_chosen > 0 THEN CAST(s0 AS DOUBLE)
             |    / CAST(n - n_chosen AS DOUBLE) END AS mean_rejected_len,
             |  CASE WHEN n_chosen > 0 AND n - n_chosen > 0
             |    AND n * sxx - sx * sx > 0 THEN
             |    (CAST(s1 AS DOUBLE) / CAST(n_chosen AS DOUBLE)
             |     - CAST(s0 AS DOUBLE) / CAST(n - n_chosen AS DOUBLE))
             |    * sqrt(CAST(n_chosen AS DOUBLE) * CAST(n - n_chosen AS DOUBLE))
             |    / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS r_pb
             |FROM a ORDER BY arm""".stripMargin)),

    // ---- Per-slice win rates with sequential early-stop --------------------
    // The daily reward-model eval report: cumulative arm-vs-arm win
    // rates per prompt slice at 6 scheduled looks, each scored against
    // the O'Brien-Fleming boundary (q250's group-sequential discipline
    // applied to the binomial 50% null). Built on the SAME duel CTE as
    // q341-q346 — the comparison rule cannot drift between training
    // extraction and eval.
    QueryDef("q364_winrate_slices", (s, d) =>
      winrateSlices(t(s, d, "events"))
        .reportSorted("slice", "arm_a", "arm_b", "look"),
      Some(s"""WITH $sqlDuelsCte,
             |dd AS MATERIALIZED (
             |  SELECT CAST(k % 8 AS INTEGER) AS slice,
             |    least(winner, loser) AS arm_a,
             |    greatest(winner, loser) AS arm_b,
             |    winner < loser AS a_won,
             |    us // 86400000000 AS day
             |  FROM duels WHERE k IS NOT NULL),
             |d0 AS (SELECT min(day) AS d0 FROM dd),
             |lk AS (
             |  SELECT slice, arm_a, arm_b, look,
             |    CAST(d0 + look * 4 AS BIGINT) AS look_day,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(count(*) FILTER (a_won) AS BIGINT) AS wins_a
             |  FROM dd CROSS JOIN d0
             |  CROSS JOIN (SELECT CAST(unnest(range(1, 7)) AS INTEGER) AS look)
             |  WHERE day <= d0 + look * 4
             |  GROUP BY 1, 2, 3, 4, 5),
             |sc AS (
             |  SELECT slice, arm_a, arm_b, look, look_day, n, wins_a,
             |    CAST(wins_a AS DOUBLE) / CAST(n AS DOUBLE) AS win_rate,
             |    CAST(wins_a * 2 - n AS DOUBLE) / sqrt(CAST(n AS DOUBLE)) AS z,
             |    205e-2 * sqrt(6e0 / CAST(look AS DOUBLE)) AS boundary
             |  FROM lk)
             |SELECT slice, arm_a, arm_b, look, look_day, n, wins_a,
             |  win_rate, z, boundary, abs(z) > boundary AS crossed,
             |  CAST(min(CASE WHEN abs(z) > boundary THEN look END)
             |    OVER (PARTITION BY slice, arm_a, arm_b) AS INTEGER)
             |    AS stopped_at
             |FROM sc ORDER BY slice, arm_a, arm_b, look""".stripMargin)),

    // ---- Self-consistency majority vote ------------------------------------
    // Modal-answer selection per prompt with the consensus margin — the
    // keep-the-majority-label op of consensus distillation. Exact counts,
    // deterministic tie-break, no per-prompt sort.
    QueryDef("q355_self_consistency", (s, d) =>
      selfConsistency(t(s, d, "events")).reportSorted("k"),
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k
             |  FROM events WHERE value IS NOT NULL),
             |c AS (
             |  SELECT k, event_type, CAST(count(*) AS BIGINT) AS cnt
             |  FROM e WHERE k IS NOT NULL GROUP BY 1, 2),
             |r AS (
             |  SELECT k, event_type, cnt,
             |    row_number() OVER (PARTITION BY k
             |      ORDER BY cnt DESC, event_type ASC) AS rk,
             |    sum(cnt) OVER (PARTITION BY k) AS n,
             |    count(*) OVER (PARTITION BY k) AS n_arms
             |  FROM c)
             |SELECT m.k, CAST(m.n AS BIGINT) AS n,
             |  CAST(m.n_arms AS BIGINT) AS n_arms,
             |  m.event_type AS modal_type, m.cnt AS modal_n,
             |  coalesce(r2.cnt, 0) AS runner_n,
             |  m.cnt = m.n AS unanimous
             |FROM (SELECT * FROM r WHERE rk = 1) m
             |LEFT JOIN (SELECT * FROM r WHERE rk = 2) r2 USING (k)
             |ORDER BY m.k""".stripMargin)))
}
