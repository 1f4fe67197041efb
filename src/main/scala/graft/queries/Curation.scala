package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFingerprint, TextFunctions => TF}
import Shared._

/** Dataset curation: splits, packing and chunking, stratified and priority
  * sampling, quality classifiers and buckets, profiling and data-quality
  * checks, the end-to-end curation chain, mixture rebalancing and domain
  * PageRank. */
object Curation {

  lazy val queries: Seq[Query] = Seq(
    Query("q_split_assign", (s, dir) => {
      // Reproducible train/val/test split assignment — the discipline a
      // training-data pipeline needs so a document's split NEVER depends
      // on corpus size, ordering, or engine: split = f(stable id) via the
      // portable fingerprint, 80/10/10. A narrow map (no shuffle, no
      // sampling state); stratification falls out per-stratum because the
      // hash is per-document.
      TextFingerprint.register(s)
      val pct = pmod(call_function("text_fingerprint",
        col("doc_id").cast("string")), lit(100L))
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"), pct.as("pct"),
        when(pct < 80, "train").when(pct < 90, "val").otherwise("test").as("split"))
    }, {
      val pct = s"((${oFp("cast(doc_id AS VARCHAR)")} % 100) + 100) % 100"
      s"""SELECT doc_id, lang, $pct AS pct,
            CASE WHEN $pct < 80 THEN 'train'
                 WHEN $pct < 90 THEN 'val' ELSE 'test' END AS split
          FROM documents"""
    }),

    Query("q_pack_sequences", (s, dir) => {
      // Sequence PACKING — the pretraining batch-assembly op: concatenate
      // documents (stable doc_id order) and split at a fixed token budget.
      // bin/offset are pure functions of the running token count, so
      // packing is ONE window pass (one shuffle on the shard key + an
      // in-partition running sum) — never a greedy driver loop. A doc
      // straddling a boundary belongs to the bin where it starts
      // (GPT-style concat-then-slice semantics).
      //
      // The window key is (lang, shard) with shard = hash(doc_id) mod 8:
      // packed bins are independent streams, so sharding the key is
      // semantics-free — and it makes window parallelism scale with the
      // shard count instead of capping at |langs| (~10 languages over
      // 100 TB would mean 10 sort partitions; shards are the config knob).
      TextFingerprint.register(s)
      val tokens = size(split(trim(col("text")), " +")).cast("bigint")
      val shard = pmod(call_function("text_fingerprint",
        col("doc_id").cast("string")), lit(8L))
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), shard.as("shard"), tokens.as("tokens"))
        .withColumn("cum_prev", coalesce(sum(col("tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("lang"), col("shard"), col("tokens"),
          expr("cum_prev div 512").as("bin"), // integer division, engine-exact
          (col("cum_prev") % 512).as("offset"))
    }, {
      val shard = s"((${oFp("cast(doc_id AS VARCHAR)")} % 8) + 8) % 8"
      s"""SELECT doc_id, lang, shard, tokens,
            (cum_prev // 512)::BIGINT AS bin,
            (cum_prev % 512)::BIGINT AS offset
          FROM (SELECT doc_id, lang, shard, tokens,
                  coalesce(sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_prev
                FROM (SELECT doc_id, lang, $shard AS shard,
                        len(string_split_regex(trim(text), ' +'))::BIGINT AS tokens
                      FROM documents))"""
    }),

    Query("q_chunk_overlap", (s, dir) => {
      // Context-window CHUNKING with overlap (window 80 chars, stride 64,
      // overlap 16) — the long-document splitter feeding fixed-context
      // models. Pure codegen'd builtins (sequence + explode + substring):
      // a narrow per-row expansion, no shuffle, no interpreted lambdas.
      // nChunks = max(1, ceil((len-16)/64)) so the tail chunk always
      // carries > overlap fresh characters.
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("nc", greatest(lit(1L), expr("cast((len + 47) div 64 AS BIGINT)")))
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("nc") - 1)).as("chunk_idx"))
        .withColumn("chunk", expr("substring(text, cast(chunk_idx*64+1 AS INT), 80)"))
        .select(col("doc_id"), col("chunk_idx"), col("chunk"),
          length(col("chunk")).cast("bigint").as("chunk_len"))
    },
      """SELECT doc_id, chunk_idx, chunk, length(chunk)::BIGINT AS chunk_len
         FROM (SELECT doc_id, unnest(generate_series(0, nc - 1)) AS chunk_idx, text
               FROM (SELECT doc_id, text,
                       greatest(1, (length(text) + 47) // 64) AS nc
                     FROM documents))
         CROSS JOIN LATERAL (SELECT substr(text, (chunk_idx*64+1)::INT, 80) AS chunk)"""),

    Query("q_stratified_sample", (s, dir) => {
      // Deterministic stratified corpus sampling — the mixing op that
      // downsamples sources at per-stratum rates (web-crawl 25%, curated
      // 100%, ...): selection = f(stable doc id) via the portable
      // fingerprint, so membership is reproducible on any engine, any
      // ordering, any corpus size. Narrow map + one aggregation.
      TextFingerprint.register(s)
      val srcIdx = regexp_extract(col("source"), "(\\d+)", 1).cast("int")
      val rate = (srcIdx % 4) * 25 + 25 // src0:25, src1:50, src2:75, src3:100, ...
      val pct = pmod(call_function("text_fingerprint",
        col("doc_id").cast("string")), lit(100L))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), rate.as("rate"), pct.as("pct"))
        .groupBy(col("source"), col("rate"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("pct") < col("rate"), 1L).otherwise(0L)).as("n_sampled"))
    }, {
      val pct = s"((${oFp("cast(doc_id AS VARCHAR)")} % 100) + 100) % 100"
      s"""SELECT source, rate, count(*) AS n_total,
            sum(CASE WHEN pct < rate THEN 1 ELSE 0 END)::BIGINT AS n_sampled
          FROM (SELECT source, doc_id,
                  (cast(regexp_extract(source, '(\\d+)', 1) AS INT) % 4) * 25 + 25 AS rate,
                  $pct AS pct
                FROM documents)
          GROUP BY source, rate"""
    }),

    Query("q_repetition_quality", (s, dir) => {
      // Repetition QUALITY SIGNALS (Gopher-style filters): per-doc
      // unique-word ratio, top-word fraction, and duplicate-2-gram
      // fraction, plus the keep/drop verdict. Entirely NARROW — sort +
      // linear fold + 2-gram transform inside higher-order array
      // functions, so the plan has ZERO exchanges and scales row-parallel
      // at any corpus size. The top-word count is a max-run fold over the
      // sorted token array (O(n log n) per doc) — not the O(n·distinct)
      // count-each-distinct form, which dies on long repetitive docs.
      val w = TF.tokens(col("text"))
      val nW = size(w).cast("bigint")
      val maxRun = aggregate(
        sort_array(w),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      val grams = when(size(w) >= 2,
        transform(sequence(lit(0), size(w) - 2),
          i => concat(element_at(w, i + 1), lit(" "), element_at(w, i + 2))))
        .otherwise(array().cast("array<string>"))
      t(s, dir, "documents")
        .select(col("doc_id"), nW.as("n_words"),
          round(size(array_distinct(w)).cast("double") / nW, 4).as("uniq_frac"),
          round(maxRun.cast("double") / nW, 4).as("top_word_frac"),
          when(size(grams) > 0,
            round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 4))
            .otherwise(lit(0.0)).as("dup_2gram_frac"))
        .withColumn("keep",
          col("top_word_frac") <= 0.2 && col("dup_2gram_frac") <= 0.2)
    },
      // top-word count re-derived the SQL-natural way (unnest + max count);
      // equals the Spark side's sorted max-run fold by construction
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents),
         tw AS (SELECT doc_id, max(c) AS top_c FROM
           (SELECT doc_id, wd, count(*) AS c FROM
             (SELECT doc_id, unnest(w) AS wd FROM d) GROUP BY doc_id, wd)
           GROUP BY doc_id),
         g AS (SELECT doc_id,
                 CASE WHEN len(w) >= 2
                   THEN list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])
                   ELSE []::VARCHAR[] END AS grams,
                 len(w)::BIGINT AS n_words,
                 len(list_distinct(w)) AS n_uniq
               FROM d)
         SELECT g.doc_id, n_words,
           round(n_uniq::DOUBLE / n_words, 4) AS uniq_frac,
           round(top_c::DOUBLE / n_words, 4) AS top_word_frac,
           CASE WHEN len(grams) > 0
             THEN round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 4)
             ELSE 0.0 END AS dup_2gram_frac,
           (round(top_c::DOUBLE / n_words, 4) <= 0.2 AND
            (CASE WHEN len(grams) > 0
              THEN round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 4)
              ELSE 0.0 END) <= 0.2) AS keep
         FROM g JOIN tw ON g.doc_id = tw.doc_id"""),

    Query("q_quality_classifier", (s, dir) => {
      // fastText-style hashed linear classifier INFERENCE (Joulin et al.
      // 2016, "Bag of Tricks for Efficient Text Classification") — the
      // standard web-corpus quality gate shape (CCNet / DCLM run a
      // fastText model over every document and keep by label). The
      // hashing trick bounds the MODEL at 4096 rows regardless of corpus
      // vocabulary: feature id = portable fingerprint of the token mod
      // 4096; the weight table here is generated deterministically as a
      // stand-in for trained parameters (at scale the real model is a
      // few-MB binary — still broadcast-sized BY CONSTRUCTION, which is
      // the whole point of feature hashing). Plan shape: corpus tokenizes
      // and hashes NARROWLY, the model attaches as a BroadcastHashJoin
      // (never shuffles the corpus for the lookup), and the per-doc logit
      // is one map-side-combinable aggregate — exactly one corpus
      // exchange, on doc_id. Integer weights in [-8, 8] keep the logit
      // hash-exact cross-engine (no float dot product).
      TextFingerprint.register(s)
      val model = s.range(0, 4096).select(
        col("id").as("fid"),
        (pmod(call_function("text_fingerprint",
          concat(lit("w#"), col("id").cast("string"))), lit(17L)) - 8L).as("wt"))
      fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          pmod(call_function("text_fingerprint", col("tok")), lit(4096L)).as("fid"))
        .join(broadcast(model), Seq("fid"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("logit"))
        .withColumn("label", when(col("logit") > 0, "keep").otherwise("drop"))
    }, {
      // NB: the outer column must NOT be named `i` — oFp's
      // list_transform lambda binds `i`, which would shadow it.
      val wfp = oFp("('w#' || fi::VARCHAR)")
      s"""WITH model AS (SELECT fi AS fid, (($wfp % 17) - 8)::BIGINT AS wt
           FROM (SELECT unnest(generate_series(0, 4095))::BIGINT AS fi)),
         toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
           FROM documents),
         feats AS (SELECT doc_id, ${oFp("tok")} % 4096 AS fid FROM toks)
         SELECT doc_id, count(*) AS n_tokens, sum(wt)::BIGINT AS logit,
           CASE WHEN sum(wt) > 0 THEN 'keep' ELSE 'drop' END AS label
         FROM feats JOIN model USING (fid) GROUP BY doc_id"""
    }),

    Query("q_ccnet_bucket", (s, dir) => {
      // CCNet-style per-LANGUAGE perplexity bucketing (Wenzek et al. 2020):
      // documents fall into head/middle/tail by the tercile of their LM
      // score WITHIN their language — the standard corpus-quality
      // stratification before sampling. Score = the q_unigram_lm integer
      // surprisal, reduced to milli-bits-per-token (integer division —
      // hash-exact cross-engine). The scale discipline is in the
      // bucketing: terciles are NOT a window over the corpus (a per-lang
      // single-reducer funnel at 10^12 rows) — instead (1) aggregate the
      // corpus to a (lang, score) HISTOGRAM (map-side partials; its size
      // is bounded by score granularity, not corpus size), (2) run the
      // cumulative count + tercile cut over that small table (window
      // partitioned by lang over thousands of rows, not billions),
      // (3) broadcast the cut table back onto the corpus. Ties share a
      // score value, hence a bucket — deterministic by construction.
      val docs = fanOut(t(s, dir, "documents"))
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(TF.tokens(col("text"))).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val topv = vocab.orderBy(col("c").desc, col("w")).limit(1024)
      val total = docs
        .agg(sum(size(TF.tokens(col("text")))).cast("long").as("n_total"))
      val scored = toks
        .join(broadcast(topv), Seq("w"), "left")
        .crossJoin(broadcast(total))
        .withColumn("cc", coalesce(col("c"), lit(1L)))
        .withColumn("bits", length(bin(expr("n_total div cc"))) - 1)
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("bits")).cast("long").as("bits_total"))
        .select(col("doc_id"), col("lang"),
          expr("bits_total * 1000 div n_tokens").as("bpt_milli"))
      val hist = scored.groupBy(col("lang"), col("bpt_milli"))
        .agg(count(lit(1)).as("cnt"))
      val byLang = Window.partitionBy(col("lang"))
      val cuts = hist
        .withColumn("cum", sum(col("cnt")).over(byLang.orderBy(col("bpt_milli"))))
        .withColumn("n", sum(col("cnt")).over(byLang))
        .select(col("lang"), col("bpt_milli"),
          when(col("cum") * 3 <= col("n"), "head")
            .when(col("cum") * 3 <= col("n") * 2, "middle")
            .otherwise("tail").as("bucket"))
      scored.join(broadcast(cuts), Seq("lang", "bpt_milli"))
        .select(col("doc_id"), col("lang"), col("bpt_milli"), col("bucket"))
    },
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split_regex(trim(text), ' +')) AS w
           FROM documents),
         vocab AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
         topv AS (SELECT w, c FROM (
             SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM vocab)
           WHERE rk <= 1024),
         tot AS (SELECT sum(c)::BIGINT AS n_total FROM vocab),
         docs AS (SELECT doc_id, lang, count(*)::BIGINT AS n_tokens,
             sum(length(bin(n_total // coalesce(v.c, 1)::BIGINT)) - 1)::BIGINT AS bits_total
           FROM toks t LEFT JOIN topv v ON t.w = v.w CROSS JOIN tot
           GROUP BY doc_id, lang),
         d2 AS (SELECT doc_id, lang, (bits_total * 1000 // n_tokens)::BIGINT AS bpt_milli
           FROM docs),
         hist AS (SELECT lang, bpt_milli, count(*)::BIGINT AS cnt
           FROM d2 GROUP BY lang, bpt_milli),
         cum AS (SELECT lang, bpt_milli,
             sum(cnt) OVER (PARTITION BY lang ORDER BY bpt_milli)::BIGINT AS cum,
             sum(cnt) OVER (PARTITION BY lang)::BIGINT AS n
           FROM hist),
         cuts AS (SELECT lang, bpt_milli,
             CASE WHEN cum * 3 <= n THEN 'head'
                  WHEN cum * 3 <= n * 2 THEN 'middle' ELSE 'tail' END AS bucket
           FROM cum)
         SELECT d.doc_id, d.lang, d.bpt_milli, c.bucket
         FROM d2 d JOIN cuts c USING (lang, bpt_milli)"""),

    Query("q_profile", (s, dir) => {
      // COLUMN PROFILING (the Deequ/Great-Expectations "profile" op): per
      // column — null count, exact distinct, lexicographic min/max — in
      // ONE scan: a single global aggregate (multiple distinct aggregates
      // expand to Spark's multi-distinct plan, still one pass over the
      // data) unpivoted to long form with stack(). At 100 TB the exact
      // distincts would swap to the HLL/KMV sketches ([[Sketches]]) — this is the
      // exact face; the plan shape (one scan, bounded output) is the same.
      t(s, dir, "documents").agg(
          count(lit(1)).as("n"),
          sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("null_doc_id"),
          countDistinct(col("doc_id")).as("dist_doc_id"),
          min(col("doc_id").cast("string")).as("min_doc_id"),
          max(col("doc_id").cast("string")).as("max_doc_id"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("null_lang"),
          countDistinct(col("lang")).as("dist_lang"),
          min(col("lang")).as("min_lang"), max(col("lang")).as("max_lang"),
          sum(when(col("source").isNull, 1L).otherwise(0L)).as("null_source"),
          countDistinct(col("source")).as("dist_source"),
          min(col("source")).as("min_source"), max(col("source")).as("max_source"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("null_n_chars"),
          countDistinct(col("n_chars")).as("dist_n_chars"),
          min(col("n_chars").cast("string")).as("min_n_chars"),
          max(col("n_chars").cast("string")).as("max_n_chars"))
        .selectExpr("""stack(4,
            'doc_id', null_doc_id, dist_doc_id, min_doc_id, max_doc_id,
            'lang', null_lang, dist_lang, min_lang, max_lang,
            'n_chars', null_n_chars, dist_n_chars, min_n_chars, max_n_chars,
            'source', null_source, dist_source, min_source, max_source)
          AS (column_name, n_null, n_distinct, min_val, max_val)""", "n")
    },
      """WITH m AS (SELECT count(*)::BIGINT AS n FROM documents)
         SELECT * FROM (
           SELECT 'doc_id' AS column_name,
             sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             count(DISTINCT doc_id)::BIGINT AS n_distinct,
             min(doc_id::VARCHAR) AS min_val, max(doc_id::VARCHAR) AS max_val,
             (SELECT n FROM m) AS n
           FROM documents
           UNION ALL
           SELECT 'lang',
             sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT lang)::BIGINT, min(lang), max(lang),
             (SELECT n FROM m)
           FROM documents
           UNION ALL
           SELECT 'n_chars',
             sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT n_chars)::BIGINT,
             min(n_chars::VARCHAR), max(n_chars::VARCHAR),
             (SELECT n FROM m)
           FROM documents
           UNION ALL
           SELECT 'source',
             sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
             count(DISTINCT source)::BIGINT, min(source), max(source),
             (SELECT n FROM m)
           FROM documents)"""),

    Query("q_dq_checks", (s, dir) => {
      // DATA-QUALITY ASSERTIONS (the Deequ "verification suite" op): each
      // check is a violation COUNT folded in the same single-pass global
      // aggregate, emitted as (check, observed, passed) rows — the gate a
      // production ingest runs before committing a snapshot. Violation
      // counting (not just a boolean) is what makes the failure actionable.
      t(s, dir, "documents").agg(
          count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("dist_id"),
          sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
            .as("bad_len"),
          sum(when(!col("lang").isin("en", "fr", "es", "de", "zh"), 1L)
            .otherwise(0L)).as("bad_lang"),
          sum(when(col("text").isNull || length(col("text")) === 0, 1L)
            .otherwise(0L)).as("bad_text"))
        .selectExpr("""stack(4,
            'doc_id_unique', n - dist_id,
            'n_chars_consistent', bad_len,
            'lang_in_domain', bad_lang,
            'text_nonempty', bad_text)
          AS (check_name, observed)""")
        .withColumn("passed", col("observed") === 0L)
    },
      """WITH a AS (SELECT count(*)::BIGINT AS n,
             count(DISTINCT doc_id)::BIGINT AS dist_id,
             sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT AS bad_len,
             sum(CASE WHEN lang NOT IN ('en','fr','es','de','zh') THEN 1 ELSE 0 END)::BIGINT AS bad_lang,
             sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)::BIGINT AS bad_text
           FROM documents)
         SELECT check_name, observed, (observed = 0) AS passed FROM (
           SELECT 'doc_id_unique' AS check_name, (n - dist_id)::BIGINT AS observed FROM a
           UNION ALL SELECT 'n_chars_consistent', bad_len FROM a
           UNION ALL SELECT 'lang_in_domain', bad_lang FROM a
           UNION ALL SELECT 'text_nonempty', bad_text FROM a)"""),

    Query("q_curate_e2e", (s, dir) => {
      // END-TO-END CURATION COMPOSITION — the user story as ONE Catalyst
      // plan: hygiene gate (Gopher word-count / mean-word-length /
      // stopword rules) → exact-dedup survivor election → hashed-
      // classifier quality gate → reproducible split assignment. Every
      // stage is an already-oracled operator of this engine; the point of
      // the query is COMPOSABILITY — the optimizer sees the whole
      // pipeline, pushes the narrow gate below everything, and the
      // expensive stages (dedup groupBy, classifier aggregate) run only
      // on gated survivors. Scale shape: gate narrow; survivor election a
      // partial-agg'd min groupBy on the text hash; classifier model
      // broadcast (4096 rows by construction); split a narrow map.
      TextFingerprint.register(s)
      val w = TF.tokens(col("text"))
      val gated = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          size(w).cast("long").as("n_words"),
          length(regexp_replace(trim(col("text")), " +", "")).cast("long")
            .as("sum_wlen"),
          TF.stopwordCount(col("text")).cast("long").as("n_stop"))
        .withColumn("mwl_milli", expr("sum_wlen * 1000 div n_words"))
        .filter(col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mwl_milli") >= 3000 && col("mwl_milli") <= 10000 &&
          col("n_stop") >= 2)
      val survivor = gated
        .groupBy(md5(col("text")).as("th"))
        .agg(min(col("doc_id")).as("keep_id"))
      val model = s.range(0, 4096).select(
        col("id").as("fid"),
        (pmod(call_function("text_fingerprint",
          concat(lit("w#"), col("id").cast("string"))), lit(17L)) - 8L).as("wt"))
      val logit = gated
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          pmod(call_function("text_fingerprint", col("tok")), lit(4096L)).as("fid"))
        .join(broadcast(model), Seq("fid"))
        .groupBy("doc_id").agg(sum(col("wt")).as("logit"))
      val pct = pmod(call_function("text_fingerprint",
        col("doc_id").cast("string")), lit(100L))
      gated
        .join(survivor.select(col("keep_id").as("doc_id")), Seq("doc_id"),
          "left_semi")
        .join(logit, Seq("doc_id"))
        .filter(col("logit") > 0)
        .select(col("doc_id"), col("lang"), col("logit"),
          when(pct < 80, "train").when(pct < 90, "val")
            .otherwise("test").as("split"))
    }, {
      val wfp = oFp("('w#' || fi::VARCHAR)")
      val pct = s"((${oFp("cast(doc_id AS VARCHAR)")} % 100) + 100) % 100"
      s"""WITH g0 AS (SELECT doc_id, lang, text,
             len(string_split_regex(trim(text), ' +'))::BIGINT AS n_words,
             length(regexp_replace(trim(text), ' +', '', 'g'))::BIGINT AS sum_wlen,
             len(list_filter(string_split_regex(trim(text), ' +'),
               x -> list_contains($oStop, x)))::BIGINT AS n_stop
           FROM documents),
         g AS (SELECT doc_id, lang, text FROM (
             SELECT g0.*, (sum_wlen * 1000 // n_words)::BIGINT AS mwl FROM g0)
           WHERE n_words >= 50 AND n_words <= 100000
             AND mwl >= 3000 AND mwl <= 10000 AND n_stop >= 2),
         surv AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
         model AS (SELECT fi AS fid, (($wfp % 17) - 8)::BIGINT AS wt
           FROM (SELECT unnest(generate_series(0, 4095))::BIGINT AS fi)),
         feats AS (SELECT doc_id, ${oFp("tok")} % 4096 AS fid FROM (
             SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
             FROM g)),
         lg AS (SELECT doc_id, sum(wt)::BIGINT AS logit
           FROM feats JOIN model USING (fid) GROUP BY doc_id)
         SELECT g.doc_id, g.lang, lg.logit,
           CASE WHEN $pct < 80 THEN 'train'
                WHEN $pct < 90 THEN 'val' ELSE 'test' END AS split
         FROM g JOIN surv USING (doc_id) JOIN lg USING (doc_id)
         WHERE lg.logit > 0"""
    }),

    Query("q_priority_sample", (s, dir) => {
      // PRIORITY SAMPLING (Duffield, Lund & Thorup, JACM 2007) — the
      // weight-proportional fixed-size-k sample with the canonical
      // threshold estimator: priority q_i = w_i / u_i, keep the top k,
      // τ = the (k+1)-th priority, ŵ_i = max(w_i, τ) so Σŵ estimates the
      // corpus total weight from k rows (the EDBT 2023 weighted-sampling
      // family's batch core). DETERMINISTIC: u_i is the doc's portable
      // fingerprint mapped into [1, M] — membership reproducible on any
      // engine — and priorities are BIGINTs scaled by M (τ/M floors in the
      // estimator: documented integer approximation, same floor both
      // engines). Plan: priorities are narrow; both the top-(k+1) and the
      // τ election are TakeOrderedAndProject (per-partition heaps) — NO
      // window anywhere, so nothing funnels one task at scale.
      TextFingerprint.register(s)
      val k = 50
      val pri = t(s, dir, "documents")
        .withColumn("w", greatest(col("n_chars"), lit(1L)))
        .withColumn("u",
          call_function("text_fingerprint", col("text")) + 1L)
        .withColumn("priority", expr("w * 1000000007 div u"))
        .select(col("doc_id"), col("w"), col("priority"))
      val top = pri.orderBy(col("priority").desc, col("doc_id")).limit(k + 1)
      // τ = the LAST of the k+1 by the total order (ties broken by doc_id)
      val tau = top.orderBy(col("priority").asc, col("doc_id").desc).limit(1)
        .select(col("priority").as("tau_int"), col("doc_id").as("tau_id"))
      top.crossJoin(broadcast(tau))
        .filter(!(col("priority") === col("tau_int") &&
          col("doc_id") === col("tau_id")))
        .withColumn("w_est",
          greatest(col("w"), expr("tau_int div 1000000007")))
        .select(col("doc_id"), col("w"), col("priority"), col("w_est"))
    }, {
      val fpText = oFp("text")
      s"""WITH pri AS (SELECT doc_id, greatest(n_chars, 1)::BIGINT AS w,
             (greatest(n_chars, 1)::BIGINT * 1000000007 // ($fpText + 1))::BIGINT AS priority
           FROM documents),
         top AS (SELECT doc_id, w, priority FROM (
             SELECT doc_id, w, priority,
               row_number() OVER (ORDER BY priority DESC, doc_id) AS rk FROM pri)
           WHERE rk <= 51),
         tau AS (SELECT priority AS tau_int, doc_id AS tau_id FROM (
             SELECT doc_id, priority,
               row_number() OVER (ORDER BY priority ASC, doc_id DESC) AS rk FROM top)
           WHERE rk = 1)
         SELECT doc_id, w, priority,
           greatest(w, tau_int // 1000000007)::BIGINT AS w_est
         FROM top CROSS JOIN tau
         WHERE NOT (priority = tau_int AND doc_id = tau_id)"""
    }),

    Query("q_mix_rebalance", (s, dir) => {
      // Domain-MIXTURE REBALANCING — the two-phase sampling op that evens a
      // source-skewed corpus toward a target mixture (here: uniform,
      // downsample-every-source-to-the-min policy). Unlike
      // q_stratified_sample (rates fixed a priori), the rates are COMPUTED
      // FROM THE DATA: phase 1 aggregates per-source counts (map-side
      // partials, |sources| rows), phase 2 joins that tiny rate table back
      // as a BROADCAST — the corpus never shuffles for its accept decision.
      // Membership is hash-deterministic (portable fingerprint), so the
      // sample is reproducible on any engine/ordering: accept iff
      // pmod(fp(doc_id), n_total) < n_target — integer-exact, expected
      // n_target survivors per source.
      TextFingerprint.register(s)
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
      val target = counts.agg(min(col("n_total")).as("n_target"))
      val rates = counts.crossJoin(broadcast(target))
      docs.select(col("source"), col("doc_id"))
        .join(broadcast(rates), Seq("source"))
        .withColumn("accept",
          pmod(call_function("text_fingerprint", col("doc_id").cast("string")),
            col("n_total")) < col("n_target"))
        .groupBy(col("source"), col("n_total"), col("n_target"))
        .agg(sum(when(col("accept"), 1L).otherwise(0L)).as("n_sampled"))
    }, {
      val fp = oFp("cast(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT source, count(*)::BIGINT AS n_total
            FROM documents GROUP BY source),
          m AS (SELECT min(n_total)::BIGINT AS n_target FROM c),
          d AS (SELECT d.source, c.n_total, m.n_target,
              CASE WHEN ((($fp % c.n_total) + c.n_total) % c.n_total) < m.n_target
                   THEN 1 ELSE 0 END AS acc
            FROM documents d JOIN c USING (source) CROSS JOIN m)
          SELECT source, n_total, n_target, sum(acc)::BIGINT AS n_sampled
          FROM d GROUP BY source, n_total, n_target"""
    }),

    Query("q_c4_rules", (s, dir) => {
      // C4 HEURISTIC CLEANING (Raffel et al. 2020 §2.2 — the
      // line-then-document filter cascade every web-scale text pipeline
      // runs before training): keep a line iff it ends in terminal
      // punctuation, has ≥ 5 words, and mentions neither '{' (code) nor
      // 'javascript' (boilerplate); then drop the whole document if it
      // contains a kill phrase ('lorem ipsum') or fewer than 3 lines
      // survive. The corpus has no organic line structure or boilerplate,
      // so both are INJECTED deterministically (q_pii_scrub fixture
      // discipline): 12-token lines with a per-line suffix cycling
      // clean/clean/no-punct/brace/javascript, plus a kill-phrase line on
      // every 13th document. Scale shape: ZERO exchanges — the whole
      // cascade is one narrow codegen'd pass of array lambdas
      // (sequence → transform → filter), like q_pii_scrub; doc-level
      // verdicts fold over the same in-row array.
      t(s, dir, "documents")
        .withColumn("tk", TF.tokens(col("text")))
        .withColumn("lines", expr(
          """transform(sequence(0, int((size(tk) + 11) div 12) - 1), i ->
               array_join(slice(tk, i * 12 + 1, 12), ' ') ||
               CASE (doc_id + i) % 5
                 WHEN 3 THEN ' {' WHEN 4 THEN ' javascript.'
                 WHEN 2 THEN '' ELSE '.' END)"""))
        .withColumn("lines", when(pmod(col("doc_id"), lit(13L)) === 0,
          concat(col("lines"), array(lit("and lorem ipsum filler text here."))))
          .otherwise(col("lines")))
        .withColumn("kept", expr(
          """filter(lines, l -> l LIKE '%.' AND size(split(l, ' ')) >= 5
               AND NOT contains(l, '{') AND NOT contains(l, 'javascript')
               AND NOT contains(l, 'lorem ipsum'))"""))
        .withColumn("killed", expr(
          "exists(lines, l -> contains(l, 'lorem ipsum'))"))
        .select(col("doc_id"),
          size(col("lines")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          (!col("killed") && size(col("kept")) >= 3).as("keep"),
          when(!col("killed") && size(col("kept")) >= 3,
            array_join(col("kept"), " ")).as("clean_text"))
    },
      """WITH d AS (SELECT doc_id,
             string_split_regex(trim(text), ' +') AS tk
           FROM documents),
         ln AS (SELECT doc_id,
             list_transform(range(0, (len(tk) + 11) // 12), i ->
               array_to_string(tk[i * 12 + 1 : i * 12 + 12], ' ') ||
               CASE (doc_id + i) % 5
                 WHEN 3 THEN ' {' WHEN 4 THEN ' javascript.'
                 WHEN 2 THEN '' ELSE '.' END) AS lines0
           FROM d),
         lx AS (SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
               THEN list_append(lines0, 'and lorem ipsum filler text here.')
               ELSE lines0 END AS lines
           FROM ln),
         k AS (SELECT doc_id, lines,
             list_filter(lines, l -> l LIKE '%.'
               AND len(string_split(l, ' ')) >= 5
               AND NOT contains(l, '{') AND NOT contains(l, 'javascript')
               AND NOT contains(l, 'lorem ipsum')) AS kept,
             len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0 AS killed
           FROM lx)
         SELECT doc_id, len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept,
           (NOT killed AND len(kept) >= 3) AS keep,
           CASE WHEN NOT killed AND len(kept) >= 3
             THEN array_to_string(kept, ' ') END AS clean_text
         FROM k"""),

    Query("q_domain_rank", (s, dir) => {
      // DOMAIN AUTHORITY RANKING — fixed-iteration PageRank (Page et al.
      // 1999) over the host graph, the signal CommonCrawl-scale curation
      // uses to weight sources (OpenWebText's karma filter, Gopher's
      // quality priors). The corpus has no organic links, so edges are
      // derived deterministically per doc (fixture discipline); hosts
      // match q_url_canon's 20-site space. Scale shape: the corpus
      // collapses to the DISTINCT host-edge relation in ONE partial-agg'd
      // exchange; each of the 4 unrolled iterations is rank⋈edges on src
      // (equi-join — co-partitioned at scale, broadcast here by AQE since
      // the host dim is tiny) + one groupBy dst with map-side partials.
      // Integer micro-rank arithmetic (10¹² total mass, truncating div)
      // — bit-identical across engines, no float damping. Hosts without
      // out-edges leak their mass (the classic dangling simplification);
      // hosts without in-edges keep the teleport floor via the left join.
      val edges = t(s, dir, "documents")
        .selectExpr("doc_id % 20 AS src",
          "((doc_id div 20) * 7 + doc_id) % 20 AS dst")
        .where(col("src") =!= col("dst")).distinct()
      val nodes = edges.select(col("src").as("h"))
        .union(edges.select(col("dst").as("h"))).distinct()
      val nC = nodes.agg(count(lit(1)).as("n"))
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      var rank = nodes.crossJoin(broadcast(nC))
        .selectExpr("h", "1000000000000 div n AS r")
      for (_ <- 1 to 4) {
        val contrib = edges
          .join(rank.withColumnRenamed("h", "src"), "src")
          .join(outdeg, "src")
          .groupBy("dst").agg(sum(expr("r div outdeg")).as("c"))
        rank = nodes.crossJoin(broadcast(nC))
          .join(contrib.withColumnRenamed("dst", "h"), Seq("h"), "left")
          .selectExpr("h",
            "(15 * (1000000000000 div n)) div 100 + (85 * coalesce(c, 0)) div 100 AS r")
      }
      rank.join(outdeg.withColumnRenamed("src", "h"), Seq("h"), "left")
        .select(col("h").as("host"), col("r").as("rank_u"),
          coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    }, oDomainRank)
  )

  /** q_domain_rank's oracle: the same 4 PageRank iterations unrolled as
    * chained CTEs (generated by the same loop bound as the Spark side —
    * the two engines cannot disagree on the round count). */
  private val oDomainRank: String = {
    val base =
      """WITH e0 AS (SELECT DISTINCT doc_id % 20 AS src,
             ((doc_id // 20) * 7 + doc_id) % 20 AS dst
           FROM documents
           WHERE doc_id % 20 <> ((doc_id // 20) * 7 + doc_id) % 20),
         nodes AS (SELECT DISTINCT src AS h FROM e0
                   UNION SELECT DISTINCT dst FROM e0),
         nn AS (SELECT count(*) AS n FROM nodes),
         od AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
         r0 AS (SELECT h, 1000000000000 // n AS r FROM nodes CROSS JOIN nn)"""
    val iters = (1 to 4).map { i =>
      s""",
         c$i AS (SELECT e0.dst AS h, sum(r.r // od.outdeg) AS c
           FROM e0 JOIN r${i - 1} r ON e0.src = r.h JOIN od ON e0.src = od.src
           GROUP BY e0.dst),
         r$i AS (SELECT nodes.h,
             (15 * (1000000000000 // n)) // 100
               + (85 * coalesce(c$i.c, 0)) // 100 AS r
           FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.h = c$i.h)"""
    }.mkString
    base + iters +
      """
         SELECT r4.h AS host, r4.r::BIGINT AS rank_u,
           coalesce(od.outdeg, 0)::BIGINT AS outdeg
         FROM r4 LEFT JOIN od ON r4.h = od.src"""
  }
}
