package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import SparkEntry.GoldenDir
import Shared._

/** The extraction engine's queries — the flagship pipeline, spans, the SQL
  * face of the kernel, named fields, media features and language id (per
  * document and as a confusion table), each checked against golden parquet
  * under [[SparkEntry.GoldenDir]] or a symbolic re-derivation — and the
  * conversation-level queries over the transcript events (SFT/DPO pairs,
  * token budgets, validity, tool loops). */
object Extraction {

  lazy val queries: Seq[Query] = Seq(
    // The kernels have no SQL re-derivation, but ALL six queries now carry
    // FULL hash oracles anyway: flagship/spans/sql_extract/fields/
    // media_features against spec-derived golden parquet locked under
    // [[GoldenDir]] (see GoldenDump/GoldenParquetSpec; the driver's DuckDB
    // reads it via read_parquet — the north rule's per-turn text equality,
    // hash-checked by the driver), and x_lang_id against a symbolic
    // per-doc score re-derivation ([[oLangId]]).
    Query("x_extract_flagship", (s, _) => {
      ExtractPipeline.run(s, TranscriptGen.dataset(s, 42L, nConvs = 80, hotBase = 200))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          col("text"), col("blocksKept"), col("blocksDropped"), col("charsEmitted"),
          col("classifyScore"))
    }, golden("x_extract_flagship")),

    Query("x_media_features", (s, dir) => {
      // multimodal: binary payload column + typed metadata → mapPartitions
      // batch decode with the REAL pure-JVM codec (BMP pixel luma, WAV PCM
      // RMS, GVF frame-sampled luma — BinaryMedia.RealCodec); payloads are
      // genuine encoded bytes, synthesized deterministically from the
      // fixed mediaDocs corpus (id-derived text, independent of the sf
      // dir) — which makes the spec-derived golden parquet a valid hash
      // oracle at every scale factor (features are computed there from
      // the SOURCE pixel/sample values, never by running this codec)
      val media = graft.multimodal.MediaPipeline.synthesizeReal(
        s, graft.multimodal.MediaPipeline.mediaDocs(s))
      graft.multimodal.MediaPipeline.extractFeatures(s, media,
          graft.multimodal.BinaryMedia.RealCodec)
        .toDF().withColumn("meanLuma", round(col("meanLuma"), 4))
        .withColumn("rmsLevel", round(col("rmsLevel"), 4))
    }, golden("x_media_features")),

    Query("x_sql_extract", (s, _) => {
      // the extraction kernel callable from SQL — as a NATIVE codegen'd
      // Catalyst expression (SURVEY §7.3's upgrade over the registered-UDF
      // face): `SELECT html_main_text(text) FROM transcripts` stays inside
      // whole-stage codegen (PlanSpec asserts it)
      graft.functions.HtmlMainText.register(s)
      TranscriptGen.dataset(s, 42L, 30, 60)
        .filter(col("tool") === "html")
        .createOrReplaceTempView("transcripts_tmp")
      s.sql("""SELECT conv_id, turn_idx, html_main_text(text) AS text
               FROM transcripts_tmp WHERE length(text) > 0""")
    }, golden("x_sql_extract")),

    Query("x_extract_fields", (s, _) => {
      // named-field extraction (the reference's field-dict end product):
      // line-interval assignment + per-field validators over the
      // reading-ordered layout lines. The template is DATA: parsed from
      // JSON driver-side, broadcast as a per-tool dimension (S9), looked up
      // per turn — adding a document type is a config change, not code
      val templates = graft.kernel.TemplateStore.parse(graft.kernel.TemplateStore.DefaultJson)
      val bcTemplates = s.sparkContext.broadcast(templates)
      val extracted = ExtractPipeline.run(s, TranscriptGen.dataset(s, 42L, 40, 100))
        .filter(col("tool") === "layout")
      val fieldsUdf = udf((tool: String, text: String) =>
        bcTemplates.value.get(tool) match {
          case Some(tpl) => graft.kernel.FieldExtractor.extract(text.split("\n").toIndexedSeq, tpl)
          case None      => Map.empty[String, String]
        })
      extracted
        .select(col("conv_id"), col("turn_idx"),
          explode(fieldsUdf(col("tool"), col("text"))).as(Seq("field", "value")))
    }, golden("x_extract_fields")),

    Query("q_sft_pairs", (s, dir) => {
      // SFT PROMPT/RESPONSE PAIR MINING over role-tagged transcripts — the
      // supervised-fine-tuning data-prep shape (InstructGPT-style pair
      // assembly): each assistant turn is paired with the nearest
      // PRECEDING user turn in its conversation; tool turns are
      // transparent (skipped by the ignore-nulls carry, exactly how an
      // agent trace collapses to (prompt, response) examples). The events
      // table stands in as the transcript relation with a
      // deterministically derived role column (injected-fixture
      // discipline, q_url_canon): integer arithmetic both engines agree
      // on, ~1/3 of turns per role. Scale shape: ONE exchange — the same
      // conversation-keyed window as order restore; per-conv carried
      // state is O(1) (the last user text), parallelism = |convs|.
      val role = pmod(pmod(col("event_id") * lit(2654435761L), lit(97L)), lit(3L))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .withColumn("role",
          when(role === 0, lit("user"))
            .when(role === 1, lit("assistant")).otherwise(lit("tool")))
        .withColumn("txt", concat(col("event_type"), lit(" "), col("props")))
        .withColumn("prompt",
          last(when(col("role") === "user", col("txt")), ignoreNulls = true).over(w))
        .where(col("role") === "assistant" && col("prompt").isNotNull)
        .select(col("user_id").as("conv_id"), col("event_id").as("turn_id"),
          col("prompt"), col("txt").as("response"))
    },
      """WITH t AS (SELECT user_id, ts, event_id,
             CASE ((event_id * 2654435761) % 97) % 3
               WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
             event_type || ' ' || props AS txt
           FROM events),
         p AS (SELECT user_id, event_id, role, txt,
             last_value(CASE WHEN role = 'user' THEN txt END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prompt
           FROM t)
         SELECT user_id AS conv_id, event_id AS turn_id, prompt, txt AS response
         FROM p WHERE role = 'assistant' AND prompt IS NOT NULL"""),

    Query("q_dpo_pairs", (s, dir) => {
      // PREFERENCE-PAIR MINING (DPO/RLHF data prep, Rafailov et al. 2023):
      // per conversation, elect the best- and worst-scored assistant turn
      // as the (chosen, rejected) pair; conversations whose responses all
      // tie yield no pair. Reward = the integer payload already used by
      // q_json_extract (injected-fixture discipline). Scale shape:
      // WINDOW-FREE — the election is max_by/min_by over a UNIQUE packed
      // key (score·10⁹ − turn_id, turn ids < 10⁹ here; at larger id
      // spaces widen the packing), a declarative aggregate with map-side
      // partials: each conversation crosses the one exchange as ≤ 2
      // candidate rows per map task, never a per-conv sorted window.
      val role = pmod(pmod(col("event_id") * lit(2654435761L), lit(97L)), lit(3L))
      t(s, dir, "events")
        .where(role === 1)
        .withColumn("k",
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long"))
        .withColumn("key", col("k") * lit(1000000000L) - col("event_id"))
        .groupBy(col("user_id"))
        .agg(
          max_by(col("event_id"), col("key")).as("chosen_id"),
          max_by(col("k"), col("key")).as("chosen_score"),
          min_by(col("event_id"), col("key")).as("rejected_id"),
          min_by(col("k"), col("key")).as("rejected_score"))
        .where(col("chosen_score") > col("rejected_score"))
        .withColumnRenamed("user_id", "conv_id")
    },
      """WITH a AS (SELECT user_id, event_id,
             cast(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
           FROM events
           WHERE ((event_id * 2654435761) % 97) % 3 = 1),
         b AS (SELECT user_id, event_id, k,
             k * 1000000000 - event_id AS key FROM a)
         SELECT user_id AS conv_id,
           max_by(event_id, key) AS chosen_id, max_by(k, key) AS chosen_score,
           min_by(event_id, key) AS rejected_id, min_by(k, key) AS rejected_score
         FROM b GROUP BY user_id
         HAVING max_by(k, key) > min_by(k, key)"""),

    Query("q_conv_budget", (s, dir) => {
      // CONTEXT-WINDOW TRUNCATION: keep each conversation's longest
      // whole-turn PREFIX within a token budget — how a transcript longer
      // than the model context is cut for SFT (at a turn boundary, never
      // mid-turn; the complement of q_pack_sequences' bin packing and
      // q_chunk_overlap's mid-text splits). Scale shape: ONE conv-keyed
      // window cumsum — the order-restore exchange; O(1) carried state.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("n_tok",
          size(split(concat(col("event_type"), lit(" "), col("props")), " "))
            .cast("long"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .where(col("cum_tok") <= 48)
        .select(col("user_id").as("conv_id"), col("event_id").as("turn_id"),
          col("n_tok"), col("cum_tok"))
    },
      """WITH t AS (SELECT user_id, event_id, ts,
             len(string_split(event_type || ' ' || props, ' '))::BIGINT AS n_tok
           FROM events),
         c AS (SELECT user_id, event_id, n_tok,
             (sum(n_tok) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tok
           FROM t)
         SELECT user_id AS conv_id, event_id AS turn_id, n_tok, cum_tok
         FROM c WHERE cum_tok <= 48"""),

    Query("q_conv_valid", (s, dir) => {
      // CONVERSATION STRUCTURAL VALIDATION — the transcript-curation gate
      // every SFT/agent-data pipeline runs before pair mining (malformed
      // conversations are rejected, not trained on). Checks per
      // conversation: (1) turn_idx is contiguous 0..n-1 (no gaps, no
      // duplicates), (2) the first turn is a user turn, (3) no
      // empty-text turns, (4) user/assistant roles never repeat
      // back-to-back with tool turns transparent (the well-formed agent
      // trace shape), (5) at least one assistant turn. Defects are
      // INJECTED deterministically (fixture discipline of q_c4_rules /
      // q_pii_scrub): every 23rd event's text blanked, every 37th
      // event's turn_idx bumped by one — a duplicate AND a gap at once.
      // Scale shape: ONE conv-keyed exchange — the row_number window and
      // the groupBy share the conv_id hash partitioning (no second
      // exchange), every check is either a map-side-partial'd scalar
      // aggregate or a fold over the per-conv sorted turn array (bounded
      // by conversation length — the same bound order restore carries);
      // window-free beyond the shared turn-numbering pass, no
      // distinct-aggregate Expand.
      val role = pmod(pmod(col("event_id") * lit(2654435761L), lit(97L)), lit(3L))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("role",
          when(role === 0, lit("user"))
            .when(role === 1, lit("assistant")).otherwise(lit("tool")))
        .withColumn("txt",
          when(pmod(col("event_id"), lit(23L)) === 0, lit(""))
            .otherwise(concat(col("event_type"), lit(" "), col("props"))))
        .withColumn("turn_idx0", (row_number().over(w) - 1).cast("long"))
        .withColumn("turn_idx", col("turn_idx0") +
          when(pmod(col("event_id"), lit(37L)) === 0, 1L).otherwise(0L))
        .groupBy(col("user_id").as("conv_id"))
        .agg(
          count(lit(1)).as("n_turns"),
          min_by(col("role"), col("turn_idx0")).as("first_role"),
          sum(when(trim(col("txt")) === "", 1L).otherwise(0L)).as("n_empty"),
          max(when(col("role") === "assistant", 1L).otherwise(0L)).as("has_asst"),
          sort_array(collect_list(struct(col("turn_idx0").as("i"),
            col("turn_idx").as("tidx"),
            when(col("role") =!= "tool", col("role")).as("r")))).as("seq"))
        .withColumn("st", expr("array_sort(transform(seq, x -> x.tidx))"))
        .withColumn("roles", expr(
          "filter(transform(seq, x -> x.r), r -> r IS NOT NULL)"))
        .select(col("conv_id"), col("n_turns"),
          expr("forall(sequence(1, size(st)), i -> element_at(st, i) = i - 1)")
            .as("ok_contig"),
          (col("first_role") === "user").as("ok_first_user"),
          (col("n_empty") === 0).as("ok_no_empty"),
          // CASE guards the fold: sequence(2, 1) would descend and index 0
          expr("""CASE WHEN size(roles) < 2 THEN true ELSE
                    forall(sequence(2, size(roles)),
                      i -> element_at(roles, i) != element_at(roles, i - 1))
                  END""").as("ok_alternating"),
          (col("has_asst") === 1).as("ok_has_assistant"))
        .withColumn("valid",
          col("ok_contig") && col("ok_first_user") && col("ok_no_empty") &&
            col("ok_alternating") && col("ok_has_assistant"))
    },
      """WITH t AS (SELECT user_id, event_id, ts,
             CASE ((event_id * 2654435761) % 97) % 3
               WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
             CASE WHEN event_id % 23 = 0 THEN ''
               ELSE event_type || ' ' || props END AS txt
           FROM events),
         r AS (SELECT user_id, event_id, role, txt,
             (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 1)::BIGINT AS turn_idx0
           FROM t),
         x AS (SELECT *, turn_idx0 +
             CASE WHEN event_id % 37 = 0 THEN 1 ELSE 0 END AS turn_idx FROM r),
         ar AS (SELECT user_id,
             list_filter(list(CASE WHEN role <> 'tool' THEN role END
               ORDER BY turn_idx0), v -> v IS NOT NULL) AS roles
           FROM x GROUP BY user_id),
         g AS (SELECT user_id AS conv_id, count(*)::BIGINT AS n_turns,
             (list_sort(list(turn_idx)) = range(0, count(*))) AS ok_contig,
             (arg_min(role, turn_idx0) = 'user') AS ok_first_user,
             (sum(CASE WHEN trim(txt) = '' THEN 1 ELSE 0 END) = 0) AS ok_no_empty,
             (max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) = 1)
               AS ok_has_assistant
           FROM x GROUP BY user_id),
         a AS (SELECT user_id,
             (len(roles) < 2 OR len(list_filter(range(2, len(roles) + 1),
                i -> roles[i] = roles[i - 1])) = 0) AS ok_alternating
           FROM ar)
         SELECT g.conv_id, g.n_turns, g.ok_contig, g.ok_first_user,
           g.ok_no_empty, a.ok_alternating, g.ok_has_assistant,
           (g.ok_contig AND g.ok_first_user AND g.ok_no_empty
             AND a.ok_alternating AND g.ok_has_assistant) AS valid
         FROM g JOIN a ON g.conv_id = a.user_id"""),

    Query("q_tool_loops", (s, dir) => {
      // AGENT TOOL-LOOP DETECTION — trajectory-quality mining over agent
      // transcripts: a run of CONSECUTIVE identical tool invocations is
      // the classic stuck-agent signature (retrying the same call without
      // progress), and loop-heavy conversations are dropped or truncated
      // before SFT. Per conversation: number of tool turns, the longest
      // same-tool run, and the loop flag (run ≥ 3). Scale shape: ONE
      // conv-keyed exchange — tool turns only (the filter lands before
      // the shuffle, ~1/3 of rows), groupBy + sorted per-conv array, the
      // run length a linear in-row fold (q_repetition_quality's sorted
      // max-run discipline); window-free, no second pass.
      val role = pmod(pmod(col("event_id") * lit(2654435761L), lit(97L)), lit(3L))
      t(s, dir, "events")
        .where(role === 2) // tool turns
        .groupBy(col("user_id").as("conv_id"))
        .agg(
          count(lit(1)).as("n_tool_turns"),
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("event_type").as("tool")))).as("seq"))
        .withColumn("max_tool_run", expr(
          """aggregate(transform(seq, x -> x.tool),
               named_struct('prev', CAST('' AS STRING),
                            'run',  CAST(0 AS BIGINT),
                            'best', CAST(0 AS BIGINT)),
               (a, t) -> named_struct(
                 'prev', t,
                 'run',  IF(t = a.prev, a.run + 1L, 1L),
                 'best', greatest(a.best, IF(t = a.prev, a.run + 1L, 1L))),
               a -> a.best)"""))
        .select(col("conv_id"), col("n_tool_turns"), col("max_tool_run"),
          (col("max_tool_run") >= 3).as("looping"))
    },
      """WITH tt AS (SELECT user_id, ts, event_id, event_type AS tool
           FROM events WHERE ((event_id * 2654435761) % 97) % 3 = 2),
         seq AS (SELECT user_id, tool,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, tool ORDER BY ts, event_id) AS rt
           FROM tt),
         runs AS (SELECT user_id, count(*)::BIGINT AS len
           FROM seq GROUP BY user_id, tool, rn - rt),
         g AS (SELECT user_id, max(len) AS max_tool_run FROM runs GROUP BY user_id),
         n AS (SELECT user_id, count(*)::BIGINT AS n_tool_turns FROM tt GROUP BY user_id)
         SELECT n.user_id AS conv_id, n.n_tool_turns, g.max_tool_run,
           (g.max_tool_run >= 3) AS looping
         FROM n JOIN g ON n.user_id = g.user_id"""),

    Query("x_lang_id", (s, dir) => {
      // classifier-argmax demo over a broadcast profile table (J1 shape);
      // a UDF is acceptable here: the kernel is the operator being demoed,
      // not a hot-path scalar (the hot paths use native expressions)
      val detect = udf((text: String) => graft.kernel.LangId.detect(text))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"), detect(col("text")).as("d"))
        .select(col("doc_id"), col("labeled_lang"),
          col("d._1").as("pred_lang"), col("d._2").as("pred_score"))
    }, oLangId("doc_id, ", """mx AS pred_score
        FROM best""")),

    Query("q_langid_eval", (s, dir) => {
      // The LangId kernel's checkable twin (shrinks the no_oracle surface):
      // confusion counts of predicted vs generator-labeled language. The
      // kernel score is closed-form arithmetic over fixed profile data
      // (2·function-word hits + trigram hits, argmax, tie → lang asc,
      // all-zero → "und"), so the DuckDB oracle re-derives the identical
      // integers symbolically from the same [[graft.kernel.LangId.Profiles]]
      // — a rows+schema+hash check, not rows-only.
      val pred = udf((text: String) => graft.kernel.LangId.detect(text)._1)
      t(s, dir, "documents")
        .groupBy(col("lang").as("labeled_lang"), pred(col("text")).as("pred_lang"))
        .agg(count(lit(1)).as("n"))
    }, oLangId("", """count(*) AS n
        FROM best GROUP BY 1, 2""")),

    Query("x_extract_spans", (s, _) => {
      ExtractPipeline.run(s, TranscriptGen.dataset(s, 42L, nConvs = 40, hotBase = 100))
        .select(col("conv_id"), col("turn_idx"), explode(col("spans")).as("span"))
        .select(col("conv_id"), col("turn_idx"),
          col("span.blockIdx"), col("span.start"), col("span.end"),
          col("span.kind"), col("span.text"))
    }, golden("x_extract_spans"))
  )

  /** Golden-parquet oracle of an extraction query (see [[SparkEntry.GoldenDir]]). */
  private def golden(name: String): String =
    s"SELECT * FROM read_parquet('$GoldenDir/$name.parquet')"

  /** The LangId kernel score, re-derived symbolically from the same profile
    * data (2·function-word hits + trigram hits, argmax, tie → lang asc,
    * all-zero → "und"/0; all-integer arithmetic, so hash-exact).
    * ASCII-lowering is an explicit `translate` (DuckDB `lower()` also lowers
    * non-ASCII, which the kernel does not); tokens split on ASCII
    * whitespace; trigram hits scan every position of the lowered text; the
    * argmax tie-breaks by ascending lang code via CASE order (= Profiles
    * order). `key` is carried through every CTE ("" for q_langid_eval's
    * confusion counts, "doc_id, " for x_lang_id's per-doc rows); `rest`
    * finishes the final SELECT after `labeled_lang, pred_lang, `. */
  private def oLangId(key: String, rest: String): String = {
    val lower =
      "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
    val profiles = graft.kernel.LangId.Profiles
    val scoreCols = profiles.map { p =>
      val words = p.words.toSeq.sorted.map(w => s"'$w'").mkString("[", ",", "]")
      val tris = p.trigrams.toSeq.sorted.map(g => s"'$g'").mkString("[", ",", "]")
      s"""2 * len(list_filter(w, x -> list_contains($words, x)))
         | + len(list_filter(generate_series(1, greatest(length(t) - 2, 0)),
         |     j -> list_contains($tris, substr(t, j, 3)))) AS s_${p.lang}"""
        .stripMargin.replace("\n", " ")
    }.mkString(", ")
    val sNames = profiles.map(p => s"s_${p.lang}").mkString(", ")
    val mx = profiles.map(p => s"s_${p.lang}").mkString("greatest(", ", ", ")")
    val pick = profiles.map(p => s"WHEN s_${p.lang} = mx THEN '${p.lang}'").mkString(" ")
    s"""WITH base AS (SELECT ${key}lang, $lower AS t FROM documents),
        toks AS (SELECT ${key}lang, t,
          list_filter(string_split_regex(t, '[ \t\n\r\f]+'), x -> x <> '') AS w
          FROM base),
        scored AS (SELECT ${key}lang, $scoreCols FROM toks),
        best AS (SELECT ${key}lang, $sNames, $mx AS mx FROM scored)
        SELECT ${key}lang AS labeled_lang,
          CASE WHEN mx = 0 THEN 'und' $pick END AS pred_lang,
          $rest"""
  }
}
