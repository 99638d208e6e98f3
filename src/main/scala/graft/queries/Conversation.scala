package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables.{load => t}

/** Conversation-assembly operators — turning an interaction log into
  * multi-turn SFT training data: chat-quality gating, context-window
  * truncation accounting, and template-conversation dedup.
  *
  * Fixture mapping: a conversation = one user's events within an
  * 8-hour inactivity gap (q31's sessionization rule with a
  * conversation-scale gap — 30 minutes is a browsing session; a chat
  * thread spans a workday), a turn = one event in (us, event_id)
  * order, the turn's role = `event_type`, and the turn's token length
  * = the JSON `props.k` (the q32 extraction). All statistics are exact
  * integers; verdicts are comparisons.
  *
  * Scale shape: ONE shuffle on user_id, then every window/group is
  * conversation-bounded — a conversation is human-generated and
  * human-length-bounded (the q331 pack-group class of bound), never
  * corpus-sized. No driver state, no all-pairs.
  */
object Conversation {
  /** The conversation-scale inactivity gap: 8 hours in microseconds. */
  val GapUs: Long = 28800L * 1000000L

  /** Turn projection: (user_id, conv_id, event_id, event_type, us, len,
    * props) with conv_id from the q31 gap rule at conversation scale,
    * len = the `props.k` token count, and props carried through as the
    * turn's raw payload (the scrub op's text; Catalyst prunes it from
    * the consumers that ignore it). Null timestamps are excluded (no
    * place on the time axis). One user-partitioned window pair. */
  private[graft] def turns(events: DataFrame): DataFrame =
    Events.gapSessions(events.filter(col("ts").isNotNull)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("len", get_json_object(col("props"), "$.k").cast("int")),
      "us", GapUs, "conv_id")
      .select("user_id", "conv_id", "event_id", "event_type", "us", "len",
        "props")

  /** Conversation-granularity PII/safety scrub (q365): q114's span
    * rules applied PER TURN (turn text = props, with q114's
    * deterministically planted contact line on event_id % 20 == 0 —
    * both engines construct the identical input), plus q123's
    * k-anonymity rule on the turn-content cell (event_type, redacted
    * text): a redacted turn whose cell names fewer than `k` distinct
    * users is quasi-identifying even after redaction. The verdict is
    * CONVERSATION-level — the unit an SFT pipeline keeps or drops:
    * 'drop' when PII pervades the thread (over a quarter of turns),
    * 'redact' when any turn needs a span redacted or is below the
    * k-anonymity floor, 'keep' otherwise. Spans are detected per turn,
    * never across turns — a turn is one message, and PII cannot span
    * two messages; ConversationSpec pins that contract with a planted
    * boundary-split span.
    *
    * Shape: turn projection + span scan are map-side over the one
    * user-keyed conversation shuffle; the k-anonymity pass is one
    * grouped exact-distinct on the content cell (q123's shape) joined
    * back pinned shuffled-hash (the cell table is corpus-derived — the
    * q135 rule); the verdict rollup is conversation-bounded. */
  def convScrub(events: DataFrame): DataFrame = {
    val k = 5L
    val pii = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+"
    val tt = turns(events)
      .withColumn("t", when(col("event_id") % 20 === 0,
        concat(coalesce(col("props"), lit("")),
          lit(" contact me at user"), col("event_id"),
          lit("@example.com please")))
        .otherwise(coalesce(col("props"), lit(""))))
      .withColumn("n_pii",
        size(regexp_extract_all(col("t"), lit(pii), lit(0))))
      .withColumn("redacted", regexp_replace(col("t"), pii, "[EMAIL]"))
    val cells = tt.groupBy("event_type", "redacted")
      .agg(count_distinct(col("user_id")).as("cell_users"))
    tt.join(cells.hint("shuffle_hash"), Seq("event_type", "redacted"))
      .groupBy("user_id", "conv_id")
      .agg(count(lit(1)).as("n_turns"),
        count(when(col("n_pii") > 0, 1)).as("n_pii_turns"),
        sum(col("n_pii").cast("long")).as("n_pii_spans"),
        count(when(col("cell_users") < k, 1)).as("n_rare_turns"))
      .withColumn("verdict",
        when(col("n_pii_turns") * 4 > col("n_turns"), "drop")
          .when(col("n_pii_turns") > 0 || col("n_rare_turns") > 0, "redact")
          .otherwise("keep"))
  }

  /** Chat-quality gate per conversation: turn count, duration, distinct
    * roles, total token length, role-alternation breaks (consecutive
    * same-role turns), and the keep verdict (>= 2 turns, breaks at most
    * a quarter of turns, fits a 2048-token context). The conversation
    * filter an SFT pipeline runs before assembly — single-turn threads
    * and degenerate role runs carry no dialogue signal. The verdict is
    * TOTAL: a conversation where no turn has a parseable token count
    * (total_len NULL) gates to keep = false, never NULL — a downstream
    * filter on keep must see an explicit verdict for every thread, not
    * silently drop the unparseable ones. Per-conversation lag + one
    * grouped aggregation, both conversation-bounded. */
  def chatGate(events: DataFrame): DataFrame = {
    val wconv = Window.partitionBy("user_id", "conv_id")
      .orderBy("us", "event_id")
    turns(events)
      .withColumn("pt", lag("event_type", 1).over(wconv))
      .groupBy("user_id", "conv_id")
      .agg(count(lit(1)).as("n_turns"),
        (max("us") - min("us")).as("dur_us"),
        countDistinct("event_type").as("n_roles"),
        sum(col("len").cast("long")).as("total_len"),
        count(when(col("pt") === col("event_type"), 1)).as("n_breaks"))
      .withColumn("keep",
        coalesce(col("n_turns") >= 2 &&
          col("n_breaks") * 4 <= col("n_turns") &&
          col("total_len") <= 2048, lit(false)))
  }

  /** SFT context-truncation accounting: one training example per turn
    * (the turn is the target; the trailing turns that fit the token
    * budget are its context). Emits (user_id, conv_id, event_id,
    * prior_tokens, n_ctx_turns, ctx_tokens) where prior_tokens is the
    * conversation's token count before the target and n_ctx_turns /
    * ctx_tokens describe the longest trailing context within `budget`.
    *
    * The trailing-fit lookup is a RANGE window over the monotone prefix
    * sum (the q94 exact-microsecond rolling pattern, on tokens instead
    * of time): frame = prior_tokens in [current - budget, current], so
    * n_ctx_turns = frame size - 1 and ctx_tokens = current - frame min
    * — no per-example self-join, one conversation-bounded window pass.
    * Zero-length turns are frame peers in both engines (identical RANGE
    * tie semantics): a zero-token turn costs nothing and never evicts
    * context. Explicit caveat on that tie rule: the frame is keyed by
    * prior_tokens alone, so a zero-cost (or null-length) turn occurring
    * AFTER the target shares the target's prior_tokens value and is
    * counted in n_ctx_turns — "trailing context" here means the set of
    * zero-or-more-token-distance peers, which can include later
    * zero-cost turns. ctx_tokens (the budget arithmetic) is unaffected:
    * those peers contribute 0 tokens by construction. A strict
    * earlier-turns-only count would need a rows-based frame over a
    * dense turn index (a second lookup join); the token accounting —
    * the column the packer consumes — is identical either way. */
  def sftExamples(events: DataFrame): DataFrame = {
    val budget = 256L
    val prior = Window.partitionBy("user_id", "conv_id")
      .orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val fr = Window.partitionBy("user_id", "conv_id")
      .orderBy("prior_tokens").rangeBetween(-budget, 0)
    turns(events)
      .withColumn("prior_tokens",
        coalesce(sum(col("len").cast("long")).over(prior), lit(0L)))
      .withColumn("n_ctx_turns", count(lit(1)).over(fr) - 1)
      .withColumn("ctx_tokens",
        col("prior_tokens") - min("prior_tokens").over(fr))
      .select("user_id", "conv_id", "event_id", "prior_tokens",
        "n_ctx_turns", "ctx_tokens")
  }

  /** Template-conversation dedup: conversations with an IDENTICAL
    * ordered role sequence, reported as (path, n_convs, n_users) for
    * every duplicated template. The chat-corpus twin of q117's
    * boilerplate report — scripted flows (bot loops, form funnels)
    * produce thousands of structurally identical "conversations" that
    * would dominate an SFT mix. Path assembly is a conversation-bounded
    * collect + sort; the template rollup is a narrow groupBy on the
    * path string. */
  def convTemplates(events: DataFrame): DataFrame =
    turns(events)
      .groupBy("user_id", "conv_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_convs"),
        countDistinct("user_id").as("n_users"))
      .filter(col("n_convs") >= 2)

  /** Shared turn-projection CTE (gap = 8 h), ending in
    * `turns(user_id, conv_id, event_id, event_type, us, len)` — the
    * single SQL statement of the conversation rule, consumed by all
    * three oracles so the rule cannot drift between them. */
  private val sqlTurnsCte =
    s"""t0 AS MATERIALIZED (
       |  SELECT user_id, event_id, event_type, props,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) AS len,
       |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS prev_us
       |  FROM events WHERE ts IS NOT NULL
       |  WINDOW w AS (PARTITION BY user_id
       |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)),
       |turns AS MATERIALIZED (
       |  SELECT user_id, event_id, event_type, us, len, props,
       |    CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > $GapUs
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS conv_id
       |  FROM t0)""".stripMargin

  /** SFT loss-mask layout — q372's body, exposed for library use and
    * the spec laws: per turn, the token offset span [start_tok,
    * end_tok) within its conversation (zero-width for unparseable
    * lengths — spans stay contiguous and gap-free) and the trainable
    * flag for `trainableRole` turns. One conversation-bounded
    * prefix-sum window over the q350 turn rule. */
  def lossMask(events: DataFrame, trainableRole: String = "click"): DataFrame = {
    val w = Window.partitionBy("user_id", "conv_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    turns(events)
      .withColumn("start_tok",
        coalesce(sum("len").over(w).cast("long"), lit(0L)))
      .withColumn("end_tok",
        col("start_tok") + coalesce(col("len").cast("long"), lit(0L)))
      .withColumn("trainable", col("event_type") === trainableRole)
      .select(col("user_id"), col("conv_id"), col("event_id"),
        col("event_type").as("role"), col("start_tok"), col("end_tok"),
        col("trainable"))
  }

  /** Agent-trajectory loop detection — q374's body. A conversation is
    * an agent episode; a run of >= `minLoop` consecutive same-role
    * turns is a stuck loop (the same tool invoked over and over), and
    * error-role loops are the retry-storm episodes an SFT curation
    * pass drops outright. Per episode: turn/run counts, the longest
    * run and its role (ties to the lexicographically first role —
    * total order), the error-loop count, and the loop flag. One
    * lag + prefix-sum window pair and two rollups, all bounded by the
    * human-length episode (the q331 bound class) on the shared q350
    * turn rule. */
  def loopDetect(events: DataFrame): DataFrame = {
    val minLoop = 3L
    val wconv = Window.partitionBy("user_id", "conv_id")
      .orderBy("us", "event_id")
    val marked = turns(events)
      .withColumn("pt", lag("event_type", 1).over(wconv))
      .withColumn("st", when(col("pt").isNull ||
        col("pt") =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("st")
        .over(wconv.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val runs = marked.groupBy("user_id", "conv_id", "run_id")
      .agg(min("event_type").as("rtype"), count(lit(1)).as("len"))
    runs
      .withColumn("ml",
        max("len").over(Window.partitionBy("user_id", "conv_id")))
      .groupBy("user_id", "conv_id")
      .agg(sum("len").as("n_turns"), count(lit(1)).as("n_runs"),
        max("len").as("max_run"),
        min(when(col("len") === col("ml"), col("rtype")))
          .as("max_run_type"),
        count(when(col("rtype") === "error" && col("len") >= minLoop, 1))
          .as("n_error_loops"))
      .withColumn("has_loop", col("max_run") >= minLoop)
  }

  /** q350's full oracle text — shared verbatim with the q367 streaming
    * face (the q346 one-SQL-text rule: batch gate and online assembly
    * cannot drift apart). */
  private val sqlChatGate =
    s"""WITH $sqlTurnsCte,
       |g AS (
       |  SELECT user_id, conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       |    max(us) - min(us) AS dur_us,
       |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_roles,
       |    CAST(sum(len) AS BIGINT) AS total_len
       |  FROM turns GROUP BY 1, 2),
       |br AS (
       |  SELECT user_id, conv_id,
       |    CAST(count(*) FILTER (pt = event_type) AS BIGINT) AS n_breaks
       |  FROM (SELECT user_id, conv_id, event_type,
       |          lag(event_type) OVER (PARTITION BY user_id, conv_id
       |            ORDER BY us, event_id) AS pt
       |        FROM turns)
       |  GROUP BY 1, 2)
       |SELECT g.user_id, g.conv_id, n_turns, dur_us, n_roles,
       |  total_len, n_breaks,
       |  coalesce(n_turns >= 2 AND n_breaks * 4 <= n_turns
       |    AND total_len <= 2048, false) AS keep
       |FROM g JOIN br USING (user_id, conv_id)
       |ORDER BY user_id, conv_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- Chat-quality gate -------------------------------------------------
    // Per-conversation structural stats + the SFT keep verdict: the
    // filter that drops single-turn threads, role-run degeneracies and
    // context-overflow conversations before assembly.
    QueryDef("q350_chat_gate", (s, d) =>
      chatGate(t(s, d, "events")).orderBy("user_id", "conv_id"),
      Some(sqlChatGate)),

    // ---- Streaming conversation-assembly face, driver-gated ----------------
    // The q346 promotion for [[graft.streaming.Streams.convGateIngest]]:
    // conversations are assembled ONLINE — one open-conversation
    // accumulator per active user in the state store, closed by the
    // inactivity gap (or the end-of-input flush tick the batch face
    // injects per user). A full replay emits exactly the batch q350
    // gate — certified by the SAME oracle SQL text; the two-trigger
    // arrival contract (a conversation spans the micro-batch boundary,
    // the counter never resets) is spec-driven as a real MemoryStream
    // in StreamingSpec.
    QueryDef("q367_conv_ingest_face", (s, d) => {
      val ev = t(s, d, "events")
      graft.streaming.Streams.convGateIngest(
        graft.streaming.Streams.convTurns(ev)
          .union(graft.streaming.Streams.convFlushTicks(ev)))
        .toDF().orderBy("user_id", "conv_id")
    },
      Some(sqlChatGate)),

    // ---- SFT context-truncation accounting ---------------------------------
    // One example per target turn with its budget-fitted trailing
    // context, via a RANGE window over the monotone token prefix sum —
    // the q94 rolling pattern on tokens.
    QueryDef("q351_sft_examples", (s, d) =>
      sftExamples(t(s, d, "events"))
        .orderBy("user_id", "conv_id", "event_id"),
      Some(s"""WITH $sqlTurnsCte,
             |x AS (
             |  SELECT user_id, conv_id, event_id, us, len,
             |    CAST(coalesce(sum(len) OVER (PARTITION BY user_id, conv_id
             |      ORDER BY us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS prior_tokens
             |  FROM turns)
             |SELECT user_id, conv_id, event_id, prior_tokens,
             |  CAST(count(*) OVER fr - 1 AS BIGINT) AS n_ctx_turns,
             |  CAST(prior_tokens - min(prior_tokens) OVER fr AS BIGINT)
             |    AS ctx_tokens
             |FROM x
             |WINDOW fr AS (PARTITION BY user_id, conv_id
             |  ORDER BY prior_tokens
             |  RANGE BETWEEN 256 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, conv_id, event_id""".stripMargin)),

    // ---- SFT loss-mask layout ---------------------------------------------
    // The artifact a masking dataloader consumes: per turn, its token
    // OFFSET SPAN [start_tok, end_tok) within the packed conversation
    // plus the trainable flag — train on responder turns only, mask
    // the rest (the standard SFT loss-masking rule). The fixture's
    // responder role is 'click' (a documented event-type choice, the
    // q350 role mapping); a null/unparseable turn length packs as a
    // zero-width span so offsets stay exact and gap-free. One
    // conversation-bounded prefix-sum window over the q350 turn rule —
    // no new shuffle beyond the user key.
    QueryDef("q372_loss_mask", (s, d) =>
      lossMask(t(s, d, "events"))
        .orderBy("user_id", "conv_id", "event_id"),
      Some(s"""WITH $sqlTurnsCte
             |SELECT user_id, conv_id, event_id, event_type AS role,
             |  CAST(coalesce(sum(len) OVER w, 0) AS BIGINT) AS start_tok,
             |  CAST(coalesce(sum(len) OVER w, 0) + coalesce(len, 0)
             |    AS BIGINT) AS end_tok,
             |  event_type = 'click' AS trainable
             |FROM turns
             |WINDOW w AS (PARTITION BY user_id, conv_id
             |  ORDER BY us, event_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |ORDER BY user_id, conv_id, event_id""".stripMargin)),

    // ---- Agent-trajectory loop detection -----------------------------------
    // Stuck-agent episodes: runs of >= 3 consecutive same-role turns
    // (the same tool invoked over and over), with error-role retry
    // storms counted separately — the trajectory filter an agentic SFT
    // pass runs before keeping an episode. See [[loopDetect]].
    QueryDef("q374_loop_detect", (s, d) =>
      loopDetect(t(s, d, "events"))
        .orderBy("user_id", "conv_id"),
      Some(s"""WITH $sqlTurnsCte,
             |m AS (
             |  SELECT user_id, conv_id, event_type, us, event_id,
             |    CASE WHEN lag(event_type) OVER ws IS NULL
             |           OR lag(event_type) OVER ws <> event_type
             |         THEN 1 ELSE 0 END AS st
             |  FROM turns
             |  WINDOW ws AS (PARTITION BY user_id, conv_id
             |    ORDER BY us, event_id)),
             |r AS (
             |  SELECT user_id, conv_id, event_type,
             |    sum(st) OVER (PARTITION BY user_id, conv_id
             |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
             |      AS run_id
             |  FROM m),
             |runs AS (
             |  SELECT user_id, conv_id, min(event_type) AS rtype,
             |    CAST(count(*) AS BIGINT) AS len
             |  FROM r GROUP BY user_id, conv_id, run_id),
             |x AS (
             |  SELECT *, max(len) OVER (PARTITION BY user_id, conv_id)
             |    AS ml
             |  FROM runs)
             |SELECT user_id, conv_id,
             |  CAST(sum(len) AS BIGINT) AS n_turns,
             |  CAST(count(*) AS BIGINT) AS n_runs,
             |  CAST(max(len) AS BIGINT) AS max_run,
             |  min(CASE WHEN len = ml THEN rtype END) AS max_run_type,
             |  CAST(count(*) FILTER (WHERE rtype = 'error' AND len >= 3)
             |    AS BIGINT) AS n_error_loops,
             |  max(len) >= 3 AS has_loop
             |FROM x GROUP BY user_id, conv_id
             |ORDER BY user_id, conv_id""".stripMargin)),

    // ---- Template-conversation dedup ---------------------------------------
    // Duplicated ordered role sequences across conversations — the
    // scripted-flow report an SFT mix audits before training.
    QueryDef("q352_conv_templates", (s, d) =>
      convTemplates(t(s, d, "events"))
        .orderBy(col("n_convs").desc, col("path")),
      Some(s"""WITH $sqlTurnsCte,
             |p AS (
             |  SELECT user_id, conv_id,
             |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
             |  FROM turns GROUP BY 1, 2)
             |SELECT path, CAST(count(*) AS BIGINT) AS n_convs,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM p GROUP BY path HAVING count(*) >= 2
             |ORDER BY n_convs DESC, path""".stripMargin)),

    // ---- Conversation-granularity PII scrub --------------------------------
    // q114's span rules per turn + q123's k-anonymity on the
    // (role, redacted content) cell, rolled up to the conversation-level
    // drop/redact/keep verdict an SFT pipeline acts on.
    QueryDef("q365_conv_scrub", (s, d) =>
      convScrub(t(s, d, "events")).orderBy("user_id", "conv_id"),
      Some(s"""WITH $sqlTurnsCte,
             |tt AS MATERIALIZED (
             |  SELECT user_id, conv_id, event_type,
             |    CASE WHEN event_id % 20 = 0
             |      THEN coalesce(props, '') || ' contact me at user'
             |        || event_id || '@example.com please'
             |      ELSE coalesce(props, '') END AS t
             |  FROM turns),
             |px AS MATERIALIZED (
             |  SELECT user_id, conv_id, event_type,
             |    CAST(len(regexp_extract_all(t,
             |      '[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+')) AS INTEGER)
             |      AS n_pii,
             |    regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+\\.[a-z][a-z]+',
             |      '[EMAIL]', 'g') AS redacted
             |  FROM tt),
             |cells AS MATERIALIZED (
             |  SELECT event_type, redacted,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS cell_users
             |  FROM px GROUP BY 1, 2)
             |SELECT user_id, conv_id,
             |  CAST(count(*) AS BIGINT) AS n_turns,
             |  CAST(count(*) FILTER (n_pii > 0) AS BIGINT) AS n_pii_turns,
             |  CAST(sum(n_pii) AS BIGINT) AS n_pii_spans,
             |  CAST(count(*) FILTER (cell_users < 5) AS BIGINT)
             |    AS n_rare_turns,
             |  CASE WHEN count(*) FILTER (n_pii > 0) * 4 > count(*)
             |         THEN 'drop'
             |       WHEN count(*) FILTER (n_pii > 0) > 0
             |         OR count(*) FILTER (cell_users < 5) > 0
             |         THEN 'redact'
             |       ELSE 'keep' END AS verdict
             |FROM px JOIN cells USING (event_type, redacted)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))
}
