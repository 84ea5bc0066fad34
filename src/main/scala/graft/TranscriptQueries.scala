package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.Query.read
import graft.ops.{Dedup, TranscriptOps}

/** Agent-transcript queries over a transcript-shaped view of the documents
  * table: packing, loop and quality signals, the curation gate, sessions,
  * tool analytics, shared prefixes, SFT/preference/rejection pairs, chat
  * rendering and sharding, and conversation-level dedup and retrieval.
  */
object TranscriptQueries {

  /** Deterministic transcript-shaped view over the documents table
    * (conv_id, turn_idx, role, text, tool) — pure doc_id arithmetic on
    * both engines, no window functions in the derivation itself.
    */
  private def transcriptView(s: SparkSession, d: String): DataFrame = {
    val turnIdx = (col("doc_id") / 50).cast("long")
    read(s, d, "documents").select(
      (col("doc_id") % 50).as("conv_id"),
      turnIdx.as("turn_idx"),
      when(pmod(turnIdx, lit(5)) < 2, "user")
        .when(pmod(turnIdx, lit(5)) < 4, "assistant")
        .otherwise("tool").as("role"),
      when(col("doc_id") % 25 === 0, "I will retry the search now")
        .otherwise(col("text")).as("text"),
      when(pmod(turnIdx, lit(5)) === 4, "search").otherwise(lit(null: String))
        .as("tool"))
  }

  /** One row per conversation of `t`: its texts joined by newlines in
    * turn order.
    */
  private def convText(t: DataFrame): DataFrame = t.groupBy(col("conv_id"))
    .agg(array_join(transform(
      array_sort(collect_list(struct(col("turn_idx"), col("text")))),
      x => x.getField("text")), "\n").as("text"))

  /** SQL twin of [[transcriptView]]. */
  private val transcriptSql: String =
    """WITH t AS (
      |  SELECT doc_id % 50 AS conv_id, doc_id // 50 AS turn_idx,
      |    CASE WHEN (doc_id // 50) % 5 < 2 THEN 'user'
      |         WHEN (doc_id // 50) % 5 < 4 THEN 'assistant'
      |         ELSE 'tool' END AS role,
      |    CASE WHEN doc_id % 25 = 0 THEN 'I will retry the search now'
      |         ELSE text END AS text,
      |    CASE WHEN (doc_id // 50) % 5 = 4 THEN 'search' ELSE NULL END AS tool
      |  FROM documents)""".stripMargin

  /** Per-conversation loop signals over `t` (TranscriptOps.loopSignals and
    * turnDedupStats): `r` (same-(role, tool) islands, previous role and
    * turn signature), `runs` (longest island), `pw` (repeats and role
    * switches) and `dd` (keep-first duplicate turns, corpus-wide).
    */
  private val loopSignalsSql: String =
    """r AS (
      |  SELECT conv_id, turn_idx, role, text, tool,
      |    role || coalesce(tool, '') AS key,
      |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
      |      - row_number() OVER (PARTITION BY conv_id, role || coalesce(tool, '')
      |                           ORDER BY turn_idx) AS island,
      |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
      |    lag(coalesce(tool, '') || text)
      |      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_sig
      |  FROM t),
      |runs AS (
      |  SELECT conv_id, max(run) AS max_run FROM (
      |    SELECT conv_id, key, island, count(*) AS run
      |    FROM r GROUP BY 1, 2, 3) GROUP BY 1),
      |pw AS (
      |  SELECT conv_id, count(*) AS n_turns,
      |    CAST(sum(CASE WHEN prev_sig IS NOT NULL
      |      AND prev_sig = coalesce(tool, '') || text THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_repeats,
      |    CAST(sum(CASE WHEN prev_role IS NOT NULL
      |      AND prev_role <> role THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
      |  FROM r GROUP BY 1),
      |dd AS (
      |  SELECT conv_id, count(*) AS nt,
      |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_turns
      |  FROM (SELECT conv_id, row_number() OVER (
      |          PARTITION BY md5(text) ORDER BY conv_id, turn_idx) AS rn
      |        FROM t) GROUP BY 1)""".stripMargin

  /** The select list that renders each turn of `t` as one chat-template
    * turn named `alias` (TranscriptOps.renderChat). Unlike the other
    * fragments it keeps its margins, for the enclosing template's
    * `stripMargin` to remove: stripped, its `|| '|>'` line would start with
    * `|`, and that second `stripMargin` would drop the character.
    */
  private def chatTurnSql(alias: String): String =
    s"""  SELECT conv_id, turn_idx,
       |    '<|' || CASE WHEN tool IS NOT NULL AND tool <> ''
       |        THEN 'tool:' || tool ELSE role END
       |      || '|>' || chr(10) || text || chr(10) || '<|end|>' || chr(10)
       |      AS $alias"""

  /** `p`: each turn of `t` with the text of the last user turn before it as
    * `prompt` (the TranscriptOps.sftPairs window), plus `cols` over the same
    * window.
    */
  private def lastUserTextSql(cols: String): String =
    s"""p AS (
       |  SELECT conv_id, turn_idx, role, text,
       |    last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
       |      OVER w AS prompt$cols
       |  FROM t
       |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin

  /** [[lastUserTextSql]] and `sft`: the assistant turns that have a prompt,
    * with the prompt normalized to its template (digit runs to `#`,
    * whitespace runs to one space), as TranscriptOps.turnTemplate does.
    */
  private val promptTemplateSql: String =
    s"""${lastUserTextSql("")},
       |sft AS (
       |  SELECT conv_id, turn_idx, text AS response,
       |    trim(regexp_replace(regexp_replace(lower(prompt),
       |      '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS prompt_tpl
       |  FROM p
       |  WHERE role = 'assistant' AND prompt IS NOT NULL
       |    AND length(text) >= 1)""".stripMargin

  val table: Seq[Query] = Seq(

    // transcript-shaped view of the documents table, replicated verbatim
    // by the oracle: conv_id/turn_idx from pure doc_id arithmetic, a
    // (user,user,assistant,assistant,tool) role cycle, and a repeated
    // retry text on doc_id%25==0 so convs 0 and 25 are degenerate loops
    Query("q_transcript_pack", (s, d) => {
      TranscriptOps.packedWindows(transcriptView(s, d), tokenBudget = 400)
    },
      // per-conversation context-window packing over the transcript view
      s"""$transcriptSql,
         |tok AS (
         |  SELECT *, CASE WHEN trim(text) = '' THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM t),
         |pre AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
         |  FROM tok)
         |SELECT conv_id, CAST(pb // 400 AS BIGINT) AS window_idx,
         |  count(*) AS n_turns,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
         |  md5(string_agg(role || ': ' || text, e'\\n' ORDER BY turn_idx))
         |    AS window_md5
         |FROM pre GROUP BY 1, 2""".stripMargin),

    // per-conversation loop/structure signals + corpus-wide turn dedup:
    // max same-(role,tool) run, verbatim-retry fraction, role alternation,
    // duplicate-turn fraction under keep-first
    Query("q_transcript_quality", (s, d) => {
      val t = transcriptView(s, d)
      TranscriptOps.loopSignals(t)
        .join(TranscriptOps.turnDedupStats(t).drop("n_turns"), Seq("conv_id"))
    },
      // loop signals (gaps-and-islands runs, lag-based repeats/alternation)
      // + corpus-wide keep-first turn dedup
      s"""$transcriptSql,
         |$loopSignalsSql
         |SELECT p.conv_id, p.n_turns, CAST(runs.max_run AS BIGINT) AS max_run,
         |  round(p.n_repeats * 1.0 / greatest(p.n_turns - 1, 1), 6) AS repeat_frac,
         |  round(p.n_switches * 1.0 / greatest(p.n_turns - 1, 1), 6)
         |    AS role_alternation,
         |  dd.n_dup_turns,
         |  round(dd.n_dup_turns * 1.0 / dd.nt, 6) AS dup_turn_frac
         |FROM pw p JOIN runs USING (conv_id) JOIN dd USING (conv_id)""".stripMargin),

    // conversation-level curation gate: per-conv keep/drop with per-rule
    // reason flags — the two degenerate retry convs (0, 25) must fail the
    // repeat and dup rules while every other conversation passes
    Query("q_transcript_gate", (s, d) => {
      TranscriptOps.transcriptGate(transcriptView(s, d))
    },
      // conversation gate: the q_transcript_quality signal battery plus
      // threshold flags — all compares run on the same 6-decimal-rounded
      // fractions both engines already agree on bit-for-bit
      s"""$transcriptSql,
         |$loopSignalsSql,
         |m AS (
         |  SELECT p.conv_id, p.n_turns, CAST(runs.max_run AS BIGINT) AS max_run,
         |    round(p.n_repeats * 1.0 / greatest(p.n_turns - 1, 1), 6)
         |      AS repeat_frac,
         |    round(p.n_switches * 1.0 / greatest(p.n_turns - 1, 1), 6)
         |      AS role_alternation,
         |    round(dd.n_dup_turns * 1.0 / dd.nt, 6) AS dup_turn_frac
         |  FROM pw p JOIN runs USING (conv_id) JOIN dd USING (conv_id))
         |SELECT conv_id, n_turns, max_run, repeat_frac, role_alternation,
         |  dup_turn_frac,
         |  (n_turns >= 3 AND n_turns <= 2000) AS pass_length,
         |  (max_run <= 4) AS pass_run,
         |  (repeat_frac <= 0.4) AS pass_repeat,
         |  (role_alternation >= 0.2) AS pass_alternation,
         |  (dup_turn_frac <= 0.5) AS pass_dup,
         |  ((n_turns >= 3 AND n_turns <= 2000) AND (max_run <= 4)
         |   AND (repeat_frac <= 0.4) AND (role_alternation >= 0.2)
         |   AND (dup_turn_frac <= 0.5)) AS keep
         |FROM m""".stripMargin),

    // end-to-end curation composition: gate -> keep -> render -> digest
    // dedup, in ONE plan (each stage is separately oracle-verified; this
    // row verifies the composition — the degenerate retry convs 0/25 must
    // be gated out before rendering)
    Query("q_curation_e2e", (s, d) => {
      TranscriptOps.curateConversations(transcriptView(s, d))
    },
      // curation e2e: the q_transcript_gate CTE chain -> keep filter ->
      // the q_chat_render serialization over surviving convs -> keep-first
      // digest dedup (QUALIFY row_number)
      s"""$transcriptSql,
         |$loopSignalsSql,
         |keepers AS (
         |  SELECT p.conv_id
         |  FROM pw p JOIN runs USING (conv_id) JOIN dd USING (conv_id)
         |  WHERE p.n_turns >= 3 AND p.n_turns <= 2000
         |    AND runs.max_run <= 4
         |    AND round(p.n_repeats * 1.0 / greatest(p.n_turns - 1, 1), 6) <= 0.4
         |    AND round(p.n_switches * 1.0 / greatest(p.n_turns - 1, 1), 6) >= 0.2
         |    AND round(dd.n_dup_turns * 1.0 / dd.nt, 6) <= 0.5),
         |rr AS (
         |${chatTurnSql("rend")}
         |  FROM t SEMI JOIN keepers USING (conv_id)),
         |agg AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    CAST(sum(length(rend)) AS BIGINT) AS n_chars,
         |    md5(string_agg(rend, '' ORDER BY turn_idx)) AS digest
         |  FROM rr GROUP BY 1)
         |SELECT conv_id, n_turns, n_chars, digest FROM agg
         |QUALIFY row_number() OVER (PARTITION BY digest ORDER BY conv_id) = 1""".stripMargin),

    // time-gap sessionization: deterministic in-view ts (30s cadence with
    // a conv-periodic 1h jump) splits each conversation into sessions at
    // gaps > 600s; per-session spans/durations in exact epoch micros
    Query("q_transcript_sessions", (s, d) => {
      val t = transcriptView(s, d).withColumn("ts", expr(
        "timestamp_micros((1700000000L + turn_idx * 30L + " +
          "3600L * (turn_idx div (2 + conv_id % 3))) * 1000000L)"))
      TranscriptOps.sessionStats(t, gapSeconds = 600)
    },
      // sessionization: same gaps-and-islands arithmetic over the same
      // derived epoch-micros column
      s"""$transcriptSql,
         |tse AS (
         |  SELECT *, (1700000000 + turn_idx * 30
         |    + 3600 * (turn_idx // (2 + conv_id % 3))) * 1000000 AS ep
         |  FROM t),
         |b AS (
         |  SELECT *, CASE WHEN lag(ep) OVER w IS NOT NULL
         |    AND ep - lag(ep) OVER w > 600000000 THEN 1 ELSE 0 END AS brk
         |  FROM tse WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |s AS (
         |  SELECT *, CAST(sum(brk) OVER (PARTITION BY conv_id
         |    ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS session_idx
         |  FROM b)
         |SELECT conv_id, session_idx, count(*) AS n_turns,
         |  min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
         |  CAST(min(ep) AS BIGINT) AS start_epoch_us,
         |  CAST(max(ep) AS BIGINT) AS end_epoch_us,
         |  CAST(max(ep) - min(ep) AS BIGINT) AS duration_us
         |FROM s GROUP BY 1, 2""".stripMargin),

    // tool-transition Markov edges: a 3-tool schedule plus a 'plan'
    // pseudo-tool on even assistant turns; conditional probabilities are
    // integer-exact e6 (no float division on either engine)
    Query("q_tool_transitions", (s, d) => {
      val t = transcriptView(s, d).withColumn("tool", expr(
        "CASE WHEN turn_idx % 5 = 4 THEN " +
          "(CASE (conv_id + turn_idx) % 3 WHEN 0 THEN 'search' " +
          "WHEN 1 THEN 'browse' ELSE 'code' END) " +
          "WHEN turn_idx % 5 IN (2, 3) AND turn_idx % 2 = 0 THEN 'plan' " +
          "ELSE NULL END"))
      TranscriptOps.toolTransitions(t)
    },
      // tool transitions: lag edges + integer-exact e6 conditional
      // probability ((n*2e6 + total) // (2*total) = half-up rounding)
      s"""$transcriptSql,
         |t2 AS (
         |  SELECT conv_id, turn_idx,
         |    coalesce(CASE WHEN turn_idx % 5 = 4 THEN
         |        (CASE (conv_id + turn_idx) % 3 WHEN 0 THEN 'search'
         |         WHEN 1 THEN 'browse' ELSE 'code' END)
         |      WHEN turn_idx % 5 IN (2, 3) AND turn_idx % 2 = 0 THEN 'plan'
         |      ELSE NULL END, '') AS sig
         |  FROM t),
         |e AS (
         |  SELECT sig AS to_tool,
         |    lag(sig) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS from_tool
         |  FROM t2),
         |g AS (
         |  SELECT from_tool, to_tool, count(*) AS n
         |  FROM e WHERE from_tool IS NOT NULL GROUP BY 1, 2),
         |w AS (
         |  SELECT *, CAST(sum(n) OVER (PARTITION BY from_tool) AS BIGINT)
         |    AS from_total FROM g)
         |SELECT from_tool, to_tool, n, from_total,
         |  CAST((n * 2000000 + from_total) // (2 * from_total) AS BIGINT)
         |    AS prob_e6
         |FROM w""".stripMargin),

    // per-tool outcome analytics: a 3-tool schedule constant within each
    // 10-turn block (so the block's two tool calls are a same-tool retry),
    // deterministic injected ERROR results on (conv_id+turn_idx)%4==0;
    // error/retry rates are integer-exact e6
    Query("q_tool_errors", (s, d) => {
      val t = transcriptView(s, d)
        .withColumn("tool", expr(
          "CASE WHEN turn_idx % 5 = 4 THEN " +
            "(CASE (conv_id + turn_idx div 10) % 3 WHEN 0 THEN 'search' " +
            "WHEN 1 THEN 'browse' ELSE 'code' END) ELSE NULL END"))
        .withColumn("text", expr(
          "CASE WHEN turn_idx % 5 = 4 AND (conv_id + turn_idx) % 4 = 0 " +
            "THEN 'ERROR: tool failed with timeout' ELSE text END"))
      TranscriptOps.toolOutcomes(t)
    },
      // per-tool outcome analytics: lead() over the filtered tool turns,
      // integer-exact half-up e6 rates (same formula both engines)
      s"""$transcriptSql,
         |tt AS (
         |  SELECT conv_id, turn_idx,
         |    CASE (conv_id + turn_idx // 10) % 3 WHEN 0 THEN 'search'
         |      WHEN 1 THEN 'browse' ELSE 'code' END AS tool,
         |    CASE WHEN (conv_id + turn_idx) % 4 = 0
         |      THEN 'ERROR: tool failed with timeout' ELSE text END AS text
         |  FROM t WHERE turn_idx % 5 = 4),
         |w AS (
         |  SELECT *, lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |    AS next_tool
         |  FROM tt),
         |agg AS (
         |  SELECT tool, count(*) AS n_calls,
         |    CAST(sum(CASE WHEN regexp_matches(text,
         |      '(?i)error|fail|exception|timeout') THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_errors,
         |    CAST(sum(CASE WHEN next_tool = tool THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_retries
         |  FROM w GROUP BY 1)
         |SELECT tool, n_calls, n_errors, n_retries,
         |  (n_errors * 2000000 + n_calls) // (2 * n_calls) AS error_e6,
         |  (n_retries * 2000000 + n_calls) // (2 * n_calls) AS retry_e6
         |FROM agg""".stripMargin),

    // cross-conversation shared-prefix detection: a SYSTEM turn injected
    // at turn 0 makes every conversation share depth 1; the two degenerate
    // retry convs (0, 25) share the full depth-8 prefix with each other
    Query("q_shared_prefix", (s, d) => {
      val t = transcriptView(s, d).withColumn("text",
        when(col("turn_idx") === 0, lit("SYSTEM: you are a helpful agent"))
          .otherwise(col("text")))
      TranscriptOps.sharedPrefixStats(t, maxDepth = 8)
    },
      // shared prefixes: list-slice prefix digests, (depth, digest) counts,
      // deepest shared depth + sharing count per conversation
      s"""$transcriptSql,
         |t2 AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 0 THEN 'SYSTEM: you are a helpful agent'
         |         ELSE text END AS text
         |  FROM t),
         |lst AS (
         |  SELECT conv_id, list(text ORDER BY turn_idx) AS texts
         |  FROM t2 GROUP BY 1),
         |pd AS (
         |  SELECT conv_id, CAST(k AS BIGINT) AS prefix_depth,
         |    md5(array_to_string(texts[1:k], e'\\n')) AS prefix_md5
         |  FROM lst, UNNEST(generate_series(1, least(8, len(texts)))) AS u(k)),
         |cnt AS (
         |  SELECT prefix_depth, prefix_md5, count(*) AS n_convs
         |  FROM pd GROUP BY 1, 2)
         |SELECT conv_id,
         |  CAST(coalesce(max(CASE WHEN n_convs >= 2 THEN prefix_depth END), 0)
         |    AS BIGINT) AS max_shared_depth,
         |  CAST(coalesce(max_by(n_convs,
         |      CASE WHEN n_convs >= 2 THEN prefix_depth END), 1)
         |    AS BIGINT) AS n_convs_at_max
         |FROM pd JOIN cnt USING (prefix_depth, prefix_md5) GROUP BY 1""".stripMargin),

    // SFT pair extraction: nearest-preceding-user prompt per assistant
    // turn in one conv-keyed window pass; int lengths cast to long so the
    // schema matches DuckDB's BIGINT length()
    Query("q_sft_pairs", (s, d) => {
      TranscriptOps.sftPairs(transcriptView(s, d))
        .withColumn("prompt_chars", col("prompt_chars").cast("long"))
        .withColumn("response_chars", col("response_chars").cast("long"))
    },
      // SFT pairs: identical frame (UNBOUNDED PRECEDING .. 1 PRECEDING)
      // last-non-null user text + prior-turn count
      s"""$transcriptSql,
         |${lastUserTextSql(",\n    count(*) OVER w AS n_context_turns")}
         |SELECT conv_id, turn_idx, prompt, text AS response,
         |  CAST(n_context_turns AS BIGINT) AS n_context_turns,
         |  CAST(length(prompt) AS BIGINT) AS prompt_chars,
         |  CAST(length(text) AS BIGINT) AS response_chars
         |FROM p
         |WHERE role = 'assistant' AND prompt IS NOT NULL
         |  AND length(text) >= 1""".stripMargin),

    // preference-pair mining: repeated normalized user prompts inside a
    // conversation pair their first (rejected) and last (chosen) assistant
    // responses; the two degenerate retry convs (0, 25) guarantee pairs
    Query("q_pref_pairs", (s, d) => {
      TranscriptOps.preferencePairs(transcriptView(s, d))
    },
      // preference pairs: sft prompt derivation + the turn-template
      // normalization, arg_min/arg_max for the rejected/chosen responses
      s"""$transcriptSql,
         |$promptTemplateSql
         |SELECT conv_id, prompt_tpl, count(*) AS n_attempts,
         |  min(turn_idx) AS rejected_turn, max(turn_idx) AS chosen_turn,
         |  arg_min(response, turn_idx) AS rejected,
         |  arg_max(response, turn_idx) AS chosen
         |FROM sft GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    // rejection sampling: best-of-n assistant response per normalized
    // prompt template (retry groups), reward = the q_quality composite
    // over the response text, argmax kept (ties -> last turn)
    Query("q_reject_sample", (s, d) => {
      TranscriptOps.rejectionSample(transcriptView(s, d))
        .withColumn("response_chars", col("response_chars").cast("long"))
    }, {
      // rejection sampling: the q_sft_pairs prompt derivation, the
      // q_turn_templates normalization, the q_quality composite as reward
      // (same 6-decimal ratio rounding), argmax by (reward, turn_idx)
      val rtoks = "string_split_regex(trim(response), '\\s+')"
      s"""$transcriptSql,
         |$promptTemplateSql,
         |b AS (
         |  SELECT *, length(response) AS n_chars,
         |    CASE WHEN length(trim(response)) = 0 THEN 0
         |      ELSE len($rtoks) END AS n_words,
         |    len(regexp_extract_all(response, '[^A-Za-z0-9\\s]')) AS n_punct,
         |    len(regexp_extract_all(response, '[A-Za-z]')) AS n_alpha,
         |    len(list_filter($rtoks, w -> list_contains($stopwordsSql, w))) AS n_stop
         |  FROM sft),
         |q AS (
         |  SELECT conv_id, turn_idx, prompt_tpl, n_chars,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_punct AS DOUBLE) / n_chars, 6)
         |      ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6)
         |      ELSE 0.0 END AS alpha_ratio,
         |    CASE WHEN n_words > 0
         |      THEN round(CAST(n_stop AS DOUBLE) / n_words, 6)
         |      ELSE 0.0 END AS stopword_ratio
         |  FROM b),
         |r AS (
         |  SELECT conv_id, prompt_tpl, turn_idx, n_chars,
         |    round(greatest(0.0, least(1.0,
         |      alpha_ratio * 0.5 + least(stopword_ratio * 4.0, 1.0) * 0.3 +
         |      (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)), 6) AS reward
         |  FROM q),
         |w2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY conv_id, prompt_tpl
         |      ORDER BY reward DESC, turn_idx DESC) AS rn,
         |    count(*) OVER (PARTITION BY conv_id, prompt_tpl) AS n
         |  FROM r)
         |SELECT conv_id, prompt_tpl, CAST(n AS BIGINT) AS n_candidates,
         |  turn_idx AS chosen_turn, reward,
         |  CAST(n_chars AS BIGINT) AS response_chars
         |FROM w2 WHERE rn = 1""".stripMargin
    }),

    // chat-template rendering: each conversation serialized to ONE
    // training text in strict turn order (tool turns tagged tool:name),
    // with char count + md5 digest
    Query("q_chat_render", (s, d) => {
      TranscriptOps.renderChat(transcriptView(s, d))
    },
      // chat render: same per-turn serialization, order-pinned string_agg
      s"""$transcriptSql,
         |r AS (
         |${chatTurnSql("r")}
         |  FROM t)
         |SELECT conv_id, count(*) AS n_turns,
         |  CAST(sum(length(r)) AS BIGINT) AS n_chars,
         |  string_agg(r, '' ORDER BY turn_idx) AS text,
         |  md5(string_agg(r, '' ORDER BY turn_idx)) AS digest
         |FROM r GROUP BY 1""".stripMargin),

    // deterministic training-order shuffle + sharding over the rendered
    // conversations: md5 order key, leading-16-bit shard, dense per-shard
    // position
    Query("q_train_shards", (s, d) => {
      TranscriptOps.trainOrderShards(
        TranscriptOps.renderChat(transcriptView(s, d)), k = 8)
        .select(col("shard"), col("pos").cast("long").as("pos"),
          col("conv_id"), col("digest"))
    },
      // training-order shards over the rendered conversations: md5 order
      // key, leading-16-bit hex parsed with the '0x' cast, row_number pos
      s"""$transcriptSql,
         |r AS (
         |${chatTurnSql("r")}
         |  FROM t),
         |chat AS (
         |  SELECT conv_id, md5(string_agg(r, '' ORDER BY turn_idx)) AS digest
         |  FROM r GROUP BY 1),
         |k AS (
         |  SELECT conv_id, digest, md5('ord:' || conv_id) AS order_key FROM chat),
         |sh AS (
         |  SELECT conv_id, digest, order_key,
         |    CAST(CAST(('0x' || substr(order_key, 1, 4)) AS INT) % 8 AS BIGINT) AS shard
         |  FROM k)
         |SELECT shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY order_key, conv_id) AS pos,
         |  conv_id, digest
         |FROM sh""".stripMargin),

    // conversation-keyed leakage-proof train/val/test split (md5
    // hex-prefix threshold on conv_id, 90/5/5): every turn of a conv
    // lands in one split by construction; per-split audit counts
    Query("q_split_leakproof", (s, d) => {
      TranscriptOps.leakproofSplit(transcriptView(s, d))
    }, {
      // leakage-proof split: same md5 hex-prefix thresholds interpolated
      // from the same integer formula, same per-split audit aggregates
      val trainThr = f"${90 * 65536 / 100}%04x"
      val valThr = f"${95 * 65536 / 100}%04x"
      s"""$transcriptSql,
         |s AS (
         |  SELECT conv_id, text,
         |    CASE WHEN substr(md5(CAST(conv_id AS VARCHAR)), 1, 4) < '$trainThr'
         |           THEN 'train'
         |         WHEN substr(md5(CAST(conv_id AS VARCHAR)), 1, 4) < '$valThr'
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM t)
         |SELECT split, count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars
         |FROM s GROUP BY 1""".stripMargin
    }),

    // length-bucketed batch assembly: power-of-two token-length buckets,
    // 4 hash shards each forming batch-of-16 groups longest-first; the
    // per-bucket padding-waste audit a padded-batch trainer runs
    Query("q_batch_pack", (s, d) => {
      import graft.ops.Packing
      val t = transcriptView(s, d)
      Packing.lengthBucketBatches(t, TranscriptOps.turnTokens(col("text")),
        batchSize = 16, shards = 4)
    },
      // length-bucketed batching: same power-of-two bucket (bit length via
      // bin()), same conv-hash shard, same longest-first shard-local
      // batch numbering and padding-waste audit
      s"""$transcriptSql,
         |tok AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN trim(text) = '' THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM t),
         |bk AS (
         |  SELECT *,
         |    CAST(least(16, length(bin(greatest(n_tokens, 1)))) AS INT) AS bucket,
         |    CAST(conv_id % 4 AS INT) AS shard
         |  FROM tok),
         |w AS (
         |  SELECT bucket, shard, n_tokens,
         |    CAST((row_number() OVER (PARTITION BY bucket, shard
         |      ORDER BY n_tokens DESC, conv_id, turn_idx) - 1) // 16 AS BIGINT)
         |      AS batch
         |  FROM bk),
         |g AS (
         |  SELECT bucket, shard, batch, count(*) AS n,
         |    max(n_tokens) AS max_len, sum(n_tokens) AS toks
         |  FROM w GROUP BY 1, 2, 3)
         |SELECT bucket, CAST(sum(n) AS BIGINT) AS n_samples,
         |  count(*) AS n_batches,
         |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
         |  CAST(sum(n * max_len) AS BIGINT) AS padded_tokens,
         |  round(CAST(sum(n * max_len) - sum(toks) AS DOUBLE)
         |    / sum(n * max_len), 6) AS waste_pct
         |FROM g GROUP BY 1""".stripMargin),

    // bounded-state distribution quantiles: per-role p50/p90/p99 turn
    // token counts from a width-4 histogram CDF — exact integer rank
    // arithmetic, so both engines report the identical bucket bounds
    Query("q_token_quantiles", (s, d) => {
      import graft.ops.{Quantiles, TextOps}
      Quantiles.histogramQuantiles(transcriptView(s, d), col("role"),
        TextOps.wsTokenCount(col("text")), bucketWidth = 4L)
    },
      // histogram-CDF quantiles: same width-4 buckets, same integer rank
      // formula (n*p + 99) // 100, same bucket-lower-bound report
      s"""$transcriptSql,
         |v AS (
         |  SELECT role AS grp,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len($toks) END AS v
         |  FROM t),
         |b AS (
         |  SELECT grp, CAST(floor(v / 4.0) AS BIGINT) AS bucket,
         |    count(*) AS cnt
         |  FROM v GROUP BY 1, 2),
         |c AS (
         |  SELECT *, sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
         |    sum(cnt) OVER (PARTITION BY grp) AS n
         |  FROM b)
         |SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100
         |    THEN bucket * 4 END) AS BIGINT) AS p50,
         |  CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100
         |    THEN bucket * 4 END) AS BIGINT) AS p90,
         |  CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100
         |    THEN bucket * 4 END) AS BIGINT) AS p99
         |FROM c GROUP BY grp""".stripMargin),

    // template boilerplate mining: two injected templated families
    // (digits vary per row) plus the degenerate retry turns must come out
    // as heavy hitters AFTER digit/whitespace normalization — verbatim
    // dedup sees every injected row as unique
    Query("q_turn_templates", (s, d) => {
      val t = transcriptView(s, d).withColumn("text", expr(
        "CASE WHEN (conv_id + turn_idx) % 5 = 1 THEN " +
          "concat('Request ', CAST(conv_id * 100 + turn_idx AS STRING), " +
          "' completed in ', CAST(turn_idx * 7 AS STRING), ' ms') " +
          "WHEN (conv_id + turn_idx) % 7 = 2 THEN " +
          "concat('HTTP 404 error fetching page ', CAST(conv_id AS STRING)) " +
          "ELSE text END"))
      TranscriptOps.turnTemplates(t, phi = 0.01, k = 128)
    },
      // turn-template heavy hitters: same injection, same normalization
      // chain (DuckDB regexp_replace needs the explicit 'g' flag Spark
      // applies by default), same exact HAVING threshold
      s"""$transcriptSql,
         |i AS (
         |  SELECT CASE WHEN (conv_id + turn_idx) % 5 = 1 THEN
         |      'Request ' || CAST(conv_id * 100 + turn_idx AS VARCHAR)
         |      || ' completed in ' || CAST(turn_idx * 7 AS VARCHAR) || ' ms'
         |    WHEN (conv_id + turn_idx) % 7 = 2 THEN
         |      'HTTP 404 error fetching page ' || CAST(conv_id AS VARCHAR)
         |    ELSE text END AS text
         |  FROM t),
         |w AS (
         |  SELECT trim(regexp_replace(regexp_replace(lower(text),
         |    '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS tpl
         |  FROM i),
         |n AS (SELECT count(*) AS n FROM w)
         |SELECT tpl AS item, count(*) AS cnt FROM w, n
         |GROUP BY 1, n.n HAVING count(*) > 0.01 * n.n""".stripMargin),

    // conversation-granularity near-dup: re-logged conversations under new
    // ids — minhash over the turn-joined conversation text; a per-conv
    // tail turn makes the two degenerate retry convs NEAR (not exact) dups
    // so the pair survives the exact-dup collapse and must come out of the
    // band join
    Query("q_conv_neardup", (s, d) => {
      val t = transcriptView(s, d).withColumn("text",
        when(col("turn_idx") === 9,
          concat(col("text"), lit(" tail-"), col("conv_id").cast("string")))
          .otherwise(col("text")))
      Dedup.minhashCandidates(convText(t), idCol = "conv_id")
        .select(col("a"), col("b"))
    },
      // conversation near-dup: the q_dedup_minhash machinery over the
      // turn-joined conversation text (same exact-dup collapse, signature
      // fragments, and hot-band cap)
      s"""$transcriptSql,
         |cd AS (
         |  SELECT conv_id AS doc_id,
         |    string_agg(CASE WHEN turn_idx = 9
         |        THEN text || ' tail-' || CAST(conv_id AS VARCHAR)
         |        ELSE text END, e'\\n' ORDER BY turn_idx) AS text
         |  FROM t GROUP BY 1),
         |reps AS (SELECT min(doc_id) AS doc_id, text FROM cd GROUP BY text),
         |sh AS (SELECT doc_id,
         |            list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |${minhashPairsSql("bands", "pairs AS (")})
         |SELECT DISTINCT a, b FROM pairs""".stripMargin),

    // conversation-level containment: a RESUMED session (prefix replay of
    // an existing conversation plus new turns) scores containment 1.0 at
    // low Jaccard — injected 6-turn prefix children replicate the mode
    Query("q_conv_containment", (s, d) => {
      // bounded to the 10-turn prefix: conv length grows with SF (turns =
      // docs/50), and the shingle self-join is quadratic in conv length —
      // a no-op at the sf0.01 oracle scale, a hard bound everywhere else
      val t = transcriptView(s, d).filter(col("turn_idx") < 10)
      val parents = convText(t)
      val children = convText(
        t.filter(col("conv_id") % 5 === 0 && col("turn_idx") < 6)
          .withColumn("conv_id", col("conv_id") + 1000L))
      // structurally capped (50 conversations + prefix children)
      Dedup.containmentPairs(parents.unionByName(children),
          idCol = "conv_id", threshold = 0.9, uncapped = true)
        .agg(count(lit(1)).as("n"),
          sum(round(col("containment") * 1000000, 0).cast("long"))
            .as("sum_containment_e6"),
          sum(when(col("containment") === 1.0, 1L).otherwise(0L)).as("n_full"),
          sum(when(col("jaccard") < 0.8, 1L).otherwise(0L)).as("n_resumed"))
    },
      // conversation containment: rendered conv docs + 6-turn prefix
      // children through the same shingle-containment machinery
      s"""$transcriptSql,
         |parents AS (
         |  SELECT conv_id AS doc_id,
         |         string_agg(text, e'\\n' ORDER BY turn_idx) AS text
         |  FROM t WHERE turn_idx < 10 GROUP BY 1),
         |children AS (
         |  SELECT conv_id + 1000 AS doc_id,
         |         string_agg(text, e'\\n' ORDER BY turn_idx) AS text
         |  FROM t WHERE conv_id % 5 = 0 AND turn_idx < 6 GROUP BY 1),
         |d0 AS (SELECT * FROM parents UNION ALL SELECT * FROM children),
         |${containmentSql("0.8", "n_resumed")}""".stripMargin),

    // mean-pooled conversation embeddings: per-turn vectors (vec_id % 50
    // as the conv key) pooled dimension-wise with e6 integer quantization
    // before the sum and floor-division means — bit-exact cross-engine
    // regardless of summation order
    Query("q_conv_embedding", (s, d) => {
      val e = read(s, d, "embeddings")
        .select(pmod(col("vec_id"), lit(50)).as("conv_id"), col("embedding"))
      TranscriptOps.convEmbeddings(e)
    },
      // conversation embedding pooling: same quantize-then-sum integer
      // arithmetic; UNNEST WITH ORDINALITY replicates posexplode's dim index
      """WITH x AS (
        |  SELECT vec_id % 50 AS conv_id, CAST(i AS INT) - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
        |g AS (
        |  SELECT conv_id, dim, CAST(sum(q) AS BIGINT) AS sum_e6,
        |    count(*) AS n_turns
        |  FROM x GROUP BY 1, 2)
        |SELECT conv_id, dim, sum_e6, n_turns,
        |  CAST(sum_e6 // n_turns AS BIGINT) AS mean_e6
        |FROM g""".stripMargin),

    // conversation-level semantic retrieval: top-8 nearest conversations
    // to conv 0 by cosine over the mean-pooled conv embeddings — integer
    // dots/norms, two correctly-rounded sqrts, e6-quantized output
    Query("q_conv_retrieval", (s, d) => {
      val e = read(s, d, "embeddings")
        .select(pmod(col("vec_id"), lit(50)).as("conv_id"), col("embedding"))
      val cv = TranscriptOps.convEmbeddings(e)
        .select(col("conv_id"), col("dim"), col("mean_e6"))
      TranscriptOps.convTopK(cv, queryConv = 0L, k = 8)
    },
      // conversation retrieval: the q_conv_embedding pooling, then integer
      // dots/norms and the identical IEEE expression tree for cosine
      """WITH x AS (
        |  SELECT vec_id % 50 AS conv_id, CAST(i AS INT) - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
        |cv AS (
        |  SELECT conv_id, dim,
        |    CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT) AS mean_e6
        |  FROM x GROUP BY 1, 2),
        |norms AS (
        |  SELECT conv_id, CAST(sum(mean_e6 * mean_e6) AS BIGINT) AS norm
        |  FROM cv GROUP BY 1),
        |dots AS (
        |  SELECT c.conv_id, CAST(sum(c.mean_e6 * q.mean_e6) AS BIGINT) AS dot
        |  FROM cv c JOIN cv q ON c.dim = q.dim AND q.conv_id = 0
        |  WHERE c.conv_id <> 0 GROUP BY 1)
        |SELECT d.conv_id, d.dot,
        |  CAST(floor(CAST(d.dot AS DOUBLE)
        |    / (sqrt(CAST(n.norm AS DOUBLE)) * sqrt(CAST(qn.norm AS DOUBLE)))
        |    * 1000000 + 0.5) AS BIGINT) AS cosine_e6
        |FROM dots d JOIN norms n USING (conv_id),
        |  (SELECT norm FROM norms WHERE conv_id = 0) qn
        |ORDER BY cosine_e6 DESC, d.conv_id LIMIT 8""".stripMargin)
  )
}
