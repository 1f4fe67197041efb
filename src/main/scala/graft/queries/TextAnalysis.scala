package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFingerprint, TextFunctions => TF, WinnowF}
import Shared._

/** Per-document text analysis: statistics and quality rules, BM25/TF-IDF
  * and language models, BPE tokenization, fingerprints and winnowing,
  * and PII/URL normalization. */
object TextAnalysis {

  lazy val queries: Seq[Query] = Seq(
    Query("q_text_stats", (s, dir) => {
      val c = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(c).cast("long").as("n_tokens"),
        TF.distinctTokenCount(c).cast("long").as("n_distinct"),
        TF.stopwordCount(c).cast("long").as("n_stop"),
        round(TF.qualityScore(c), 4).as("quality"))
    },
      s"""SELECT doc_id,
            len(w)::BIGINT AS n_tokens,
            len(list_distinct(w))::BIGINT AS n_distinct,
            len(list_filter(w, x -> list_contains($oStop, x)))::BIGINT AS n_stop,
            $oQualityExpr AS quality
          FROM (SELECT doc_id, text, string_split_regex(trim(text), ' +') AS w FROM documents)"""),

    Query("q_gopher_rules", (s, dir) => {
      // Gopher rule-based quality FILTER (Rae et al. 2021, Appendix A) —
      // the standard pre-LM hygiene pass, all thresholds in one place:
      // word-count bounds, mean-word-length bounds, symbol-to-word ratio,
      // alphabetic-word ratio, minimum stopword presence. Emits the
      // per-rule verdicts (an auditable filter, not just a keep bit) plus
      // the conjunction. A NARROW per-row map — zero exchanges; ratios in
      // integer milli-units (floor division) so every engine agrees bit
      // for bit.
      val w = TF.tokens(col("text"))
      t(s, dir, "documents").select(
          col("doc_id"),
          size(w).cast("long").as("n_words"),
          length(regexp_replace(trim(col("text")), " +", "")).cast("long")
            .as("sum_wlen"),
          TF.punctCount(col("text")).cast("long").as("n_punct"),
          size(filter(w, x => x.rlike("[a-z]"))).cast("long").as("n_alpha"),
          TF.stopwordCount(col("text")).cast("long").as("n_stop"))
        .withColumn("mwl_milli", expr("sum_wlen * 1000 div n_words"))
        .withColumn("sym_milli", expr("n_punct * 1000 div n_words"))
        .withColumn("alpha_milli", expr("n_alpha * 1000 div n_words"))
        .withColumn("r_wordcount", col("n_words") >= 50 && col("n_words") <= 100000)
        .withColumn("r_meanlen", col("mwl_milli") >= 3000 && col("mwl_milli") <= 10000)
        .withColumn("r_symbol", col("sym_milli") <= 100)
        .withColumn("r_alpha", col("alpha_milli") >= 800)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("keep", col("r_wordcount") && col("r_meanlen") &&
          col("r_symbol") && col("r_alpha") && col("r_stop"))
        .drop("sum_wlen")
    },
      s"""WITH base AS (SELECT doc_id, text,
             string_split_regex(trim(text), ' +') AS w FROM documents),
         c AS (SELECT doc_id,
             len(w)::BIGINT AS n_words,
             length(regexp_replace(trim(text), ' +', '', 'g'))::BIGINT AS sum_wlen,
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::BIGINT AS n_punct,
             len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha,
             len(list_filter(w, x -> list_contains($oStop, x)))::BIGINT AS n_stop
           FROM base),
         r AS (SELECT doc_id, n_words, n_punct, n_alpha, n_stop,
             (sum_wlen * 1000 // n_words)::BIGINT AS mwl_milli,
             (n_punct * 1000 // n_words)::BIGINT AS sym_milli,
             (n_alpha * 1000 // n_words)::BIGINT AS alpha_milli
           FROM c)
         SELECT doc_id, n_words, n_punct, n_alpha, n_stop,
           mwl_milli, sym_milli, alpha_milli,
           (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
           (mwl_milli >= 3000 AND mwl_milli <= 10000) AS r_meanlen,
           (sym_milli <= 100) AS r_symbol,
           (alpha_milli >= 800) AS r_alpha,
           (n_stop >= 2) AS r_stop,
           ((n_words >= 50 AND n_words <= 100000) AND (mwl_milli >= 3000 AND mwl_milli <= 10000)
             AND sym_milli <= 100 AND alpha_milli >= 800 AND n_stop >= 2) AS keep
         FROM r"""),

    Query("q_bm25", (s, dir) => {
      // BM25 ranked retrieval (Robertson & Zaragoza 2009) — the standard
      // bag-of-words relevance function, over a bounded literal query set
      // (k1 = 1.2, b = 0.75 in milli-integer arithmetic: every division is
      // integer floor division, so scores are hash-exact cross-engine).
      // Scale shape: the token stream is restricted to query terms by a
      // NARROW isin filter before any aggregation, so the tf exchange
      // carries only matching tokens (at 100 TB: a tiny fraction of the
      // corpus); document length rides along per token row — no doc-keyed
      // join to re-attach dl later; df is derived from the tf AGGREGATE
      // (≤ |query vocabulary| rows) and broadcast; corpus totals are a
      // 1-row broadcast. The per-query top-10 election is the bounded
      // TopKAgg typed Aggregator — a hot query's candidates ship ≤ k rows
      // per map task, never a window funnel over the whole posting list.
      val queryTerms = Seq(
        (1L, "spark"), (1L, "query"), (1L, "join"),
        (2L, "hash"), (2L, "merge"), (2L, "sort"),
        (3L, "stream"), (3L, "window"), (3L, "agg"),
        (4L, "slow"), (4L, "scan"), (4L, "filter"))
      import s.implicits._
      val qterms = queryTerms.toDF("qid", "w")
      val terms = queryTerms.map(_._2).distinct
      val toks = fanOut(t(s, dir, "documents"))
        .select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("dl"),
          explode(TF.tokens(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
      val tf = toks.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      // dfreq's broadcast build re-runs the (cheap, term-filtered) tf
      // stage — Catalyst cannot reuse a stage across a broadcast-exchange
      // boundary. Deliberate: at scale the alternative (checkpointing tf)
      // WRITES the posting-list aggregate to buy back one narrow filtered
      // pass, a loss whenever the query set is selective — and it would
      // hide the isin-pushdown shape this query is the PlanSpec witness for.
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val totals = t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(size(TF.tokens(col("text")))).cast("long").as("sum_dl"))
      val scored = tf
        .join(broadcast(dfreq), Seq("w"))
        .join(broadcast(qterms), Seq("w"))
        .crossJoin(broadcast(totals))
        .withColumn("idf_bits",
          (length(bin(expr("n_docs div df"))) - 1).cast("long"))
        .withColumn("ratio_milli", expr("dl * 1000 * n_docs div sum_dl"))
        .withColumn("norm_milli", expr("250 + (750 * ratio_milli) div 1000"))
        .withColumn("den_milli",
          expr("tf * 1000 + (1200 * norm_milli) div 1000"))
        .withColumn("tscore",
          expr("idf_bits * ((tf * 2200 * 1000) div den_milli)"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("tscore")).as("score"))
      // score-carrying top-k Aggregator: one pass, no rejoin to recover
      // the score. score is BIGINT but < 2^53 by construction (tf,
      // idf_bits bounded by document/corpus size in bits) — exact through
      // the Aggregator's Double sort key, so the election order (and the
      // round-trip back to long) matches the oracle window bit-for-bit.
      val topk = udaf(new graft.functions.TopKScoredAgg(10),
        graft.functions.TopKAgg.scoredEncoder)
      scored.groupBy(col("qid"))
        .agg(topk(col("doc_id"), col("score").cast("double")).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("rk0", "t")))
        .select(col("qid"), (col("rk0") + 1).cast("int").as("rk"),
          col("t.id").as("doc_id"), col("t.score").cast("long").as("score"))
    },
      """WITH q AS (SELECT qid::BIGINT AS qid, w FROM (VALUES
             (1,'spark'),(1,'query'),(1,'join'),
             (2,'hash'),(2,'merge'),(2,'sort'),
             (3,'stream'),(3,'window'),(3,'agg'),
             (4,'slow'),(4,'scan'),(4,'filter')) v(qid, w)),
         toks AS (SELECT doc_id,
             len(string_split_regex(trim(text), ' +'))::BIGINT AS dl,
             unnest(string_split_regex(trim(text), ' +')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf, min(dl)::BIGINT AS dl
           FROM toks WHERE w IN (SELECT w FROM q) GROUP BY doc_id, w),
         dfreq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
         tot AS (SELECT count(*)::BIGINT AS n_docs,
             sum(len(string_split_regex(trim(text), ' +')))::BIGINT AS sum_dl
           FROM documents),
         sc AS (SELECT qid, doc_id,
             sum(tscore)::BIGINT AS score FROM (
             SELECT q.qid, tf.doc_id,
               (length(bin(n_docs // df)) - 1)::BIGINT *
                 ((tf * 2200 * 1000) // (tf * 1000 +
                   (1200 * (250 + (750 * (dl * 1000 * n_docs // sum_dl)) // 1000)) // 1000)) AS tscore
             FROM tf JOIN dfreq USING (w) JOIN q ON tf.w = q.w CROSS JOIN tot)
           GROUP BY qid, doc_id),
         ranked AS (SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
           FROM sc)
         SELECT qid, rk::INT AS rk, doc_id, score
         FROM ranked WHERE rk <= 10"""),

    Query("q_dsir_weight", (s, dir) => {
      // DSIR — Data Selection with Importance Resampling (Xie et al.,
      // NeurIPS 2023): per-document importance weight
      // log p_target(x) − log p_raw(x) under hashed unigram bag-of-words
      // models, the modern pretraining-data curation op (select raw web
      // text that "looks like" a target domain — here lang='en'). The
      // hashing trick bounds BOTH models at 4096 rows by construction
      // (the DSIR paper's own discipline), and ONE bounded groupBy(fid)
      // builds them together (count + conditional count — map-side
      // partials, ≤ 4096 keys cross the shuffle). Laplace-smoothed
      // surprisals as integer bits (floor(log2((tot+4096)/(c+1))) via the
      // bin-length trick — no float log), weight = Σ (bits_raw −
      // bits_target): positive ⇒ token is LIKELIER under the target
      // model. No division anywhere (Spark `div` truncates toward zero,
      // DuckDB `//` floors — they disagree on negatives), so the weight
      // stays a hash-exact BIGINT. Plan: corpus tokenizes and hashes
      // narrowly, models attach as a BroadcastHashJoin, one per-doc
      // aggregate — exactly two corpus-token exchanges (model build +
      // doc_id), both map-side combined.
      TextFingerprint.register(s)
      val docs = t(s, dir, "documents")
      val toks = fanOut(docs)
        .select(col("doc_id"), col("lang"),
          explode(TF.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), (col("lang") === "en").as("is_t"),
          pmod(call_function("text_fingerprint", col("tok")),
            lit(4096L)).as("fid"))
      val model = toks.groupBy(col("fid"))
        .agg(count(lit(1)).as("rc"),
          sum(when(col("is_t"), 1L).otherwise(0L)).as("tc"))
      val totals = docs.agg(
        sum(size(TF.tokens(col("text")))).cast("long").as("r_tot"),
        sum(when(col("lang") === "en", size(TF.tokens(col("text"))))
          .otherwise(0)).cast("long").as("t_tot"))
      toks
        .join(broadcast(model), Seq("fid"))
        .crossJoin(broadcast(totals))
        .withColumn("bits_t",
          length(bin(expr("(t_tot + 4096) div (tc + 1)"))) - 1)
        .withColumn("bits_r",
          length(bin(expr("(r_tot + 4096) div (rc + 1)"))) - 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(expr("bits_r - bits_t")).cast("long").as("w_total"))
        .withColumn("keep", col("w_total") > 0)
    }, {
      s"""WITH raw AS (SELECT doc_id, (lang = 'en') AS is_t,
             unnest(string_split_regex(trim(text), ' +')) AS tok
           FROM documents),
         toks AS (SELECT doc_id, is_t, ${oFp("tok")} % 4096 AS fid FROM raw),
         model AS (SELECT fid, count(*)::BIGINT AS rc,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS tc
           FROM toks GROUP BY fid),
         tot AS (SELECT
             sum(len(string_split_regex(trim(text), ' +')))::BIGINT AS r_tot,
             sum(CASE WHEN lang = 'en'
                 THEN len(string_split_regex(trim(text), ' +'))
                 ELSE 0 END)::BIGINT AS t_tot
           FROM documents),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
             sum((length(bin((r_tot + 4096) // (rc + 1))) - 1)
               - (length(bin((t_tot + 4096) // (tc + 1))) - 1))::BIGINT AS w_total
           FROM toks JOIN model USING (fid) CROSS JOIN tot GROUP BY doc_id)
         SELECT doc_id, n_tokens, w_total, (w_total > 0) AS keep FROM agg"""
    }),

    Query("q_token_bpe", (s, dir) => {
      // BPE-style pre-tokenization count (GPT-2-ish word/number/punct
      // splitting, simplified to a regex portable across Java and RE2):
      // runs of letters (with optional leading space), runs of digits,
      // runs of other non-space chars
      t(s, dir, "documents").select(
        col("doc_id"),
        expr("size(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+', 0))")
          .cast("long").as("bpe_tokens"),
        TF.tokenCount(col("text")).cast("long").as("ws_tokens"))
    },
      """SELECT doc_id,
           len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))::BIGINT AS bpe_tokens,
           len(string_split_regex(trim(text), ' +'))::BIGINT AS ws_tokens
         FROM documents"""),

    Query("q_fingerprint", (s, dir) => {
      TextFingerprint.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), call_function("text_fingerprint", col("text")).as("fp"))
    },
      s"""SELECT doc_id, ${oFp("text")} AS fp FROM documents"""),

    Query("q_winnow_fp", (s, dir) => {
      // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003) —
      // the EXACT-substring dedup family's scale path (Lee et al. 2022
      // dedups training data on exact 50-gram matches; a 100-TB suffix
      // array is off the table, winnowing is the local-sketch answer):
      // every shared substring ≥ K+W−1 = 23 code points is guaranteed a
      // shared fingerprint, at an expected 2/(W+1) fingerprints per
      // position. The sketch is a NARROW one-pass native expression
      // (rolling k-gram hash + monotonic-deque sliding min — no explode,
      // no window function, zero exchanges; PlanSpec asserts both). Each
      // key encodes (hash, pos) exactly as the sliding min compared them,
      // so the oracle reproduces selection — rightmost-min tie-break
      // included — with a plain SQL window min over the same keys.
      WinnowF.register(s)
      val posMask = (1L << 31) - 1
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("winnow_fp", col("text"))).as("key"))
        .select(col("doc_id"),
          (lit(posMask) - col("key").bitwiseAND(lit(posMask))).as("pos"),
          shiftright(col("key"), 31).as("fp"))
    },
      // Winnowing re-derivation: k-gram hashes per position (O(k) fold per
      // position here — the oracle may be quadratic, the engine is not), keys
      // encode (hash, pos) exactly as WinnowF compares them, selection = SQL
      // window min over the next W-1 rows, windows restricted to
      // 1..max(1, m−W+1); DISTINCT collapses repeated selections.
      (oWinnowChosen +
      """SELECT doc_id, pos, fp FROM chosen""")),

    Query("q_winnow_common_spans", (s, dir) => {
      // The dedup application of the winnowing sketch: fingerprints seen in
      // ≥ 2 distinct documents = cross-document duplicated spans (each is a
      // witness of a ≥ K-char exact match; every ≥ 23-char match is
      // guaranteed to appear). ONE shuffle on the fingerprint; doc counting
      // goes through Spark's distinct-aggregate expansion with map-side
      // partials, so a boilerplate span shared by millions of docs arrives
      // at its reducer pre-aggregated per map task — the same hot-key
      // discipline as q_paragraph_dedup.
      WinnowF.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("winnow_fp", col("text"))).as("key"))
        .select(col("doc_id"), shiftright(col("key"), 31).as("fp"))
        .groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("ndocs"),
          count(lit(1)).as("nocc"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("ndocs") >= 2)
    }, (oWinnowChosen +
      """SELECT fp, count(DISTINCT doc_id) AS ndocs, count(*) AS nocc,
            min(doc_id) AS first_doc
          FROM chosen GROUP BY fp HAVING count(DISTINCT doc_id) >= 2""")),

    Query("q_substring_scrub", (s, dir) => {
      // EXACT-substring dedup — the REMOVAL half (Lee et al. 2022 cut
      // duplicated ≥ 50-token substrings out of the corpus, keeping one
      // occurrence; q_winnow_common_spans is the detection half). Every
      // winnowing fingerprint seen in ≥ 2 distinct documents witnesses a
      // K-char exact duplicate; the FIRST document (min doc_id) keeps all
      // its occurrences, every other document cuts the K-char window at
      // each witnessed position, overlapping windows merged. Scale shape:
      // fingerprints are a narrow native-expression explode; the dup
      // dictionary is one equi-shuffle on fp (it scales with boilerplate
      // volume — NOT broadcast); cut positions regroup per doc (bounded by
      // doc length); the rewrite is a per-row fold over the sorted cut
      // list — no window function, no second pass over text. Cross-engine
      // exact: the oracle re-derives removal per-character (union of cut
      // intervals), a different derivation of the same set.
      WinnowF.register(s)
      val posMask = (1L << 31) - 1
      val K = graft.functions.WinnowF.K.toLong
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val fps = fanOut(docs)
        .select(col("doc_id"),
          explode(call_function("winnow_fp", col("text"))).as("key"))
        .select(col("doc_id"),
          (lit(posMask) - col("key").bitwiseAND(lit(posMask))).as("pos"),
          shiftright(col("key"), 31).as("fp"))
      val common = fps.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("ndocs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("ndocs") >= 2)
      val cuts = fps.join(common, Seq("fp"))
        .filter(col("doc_id") =!= col("first_doc"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("positions"))
      val folded = docs.join(cuts, Seq("doc_id"), "left")
        .withColumn("ps", coalesce(col("positions"), typedLit(Seq.empty[Long])))
        .withColumn("cleaned_text",
          org.apache.spark.sql.functions.aggregate(col("ps"),
            struct(lit("").as("out"), lit(1L).as("cur")),
            (acc, p) => struct(
              when(p > acc.getField("cur"),
                concat(acc.getField("out"), col("text").substr(
                  acc.getField("cur").cast("int"),
                  (p - acc.getField("cur")).cast("int"))))
                .otherwise(acc.getField("out")).as("out"),
              greatest(acc.getField("cur"), p + lit(K)).as("cur")),
            acc => concat(acc.getField("out"), col("text").substr(
              acc.getField("cur").cast("int"),
              greatest(length(col("text")) - acc.getField("cur").cast("int") + 1,
                lit(0))))))
      folded.select(col("doc_id"),
        length(col("text")).cast("long").as("orig_len"),
        size(col("ps")).cast("long").as("n_cut_fps"),
        col("cleaned_text"),
        (length(col("text")) - length(col("cleaned_text"))).cast("long")
          .as("n_removed"))
    }, (oWinnowChosen + {
      val k = graft.functions.WinnowF.K
      s""", common AS (SELECT fp, min(doc_id) AS first_doc FROM chosen
            GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
          cutpos AS (SELECT c.doc_id, c.pos FROM chosen c JOIN common m USING (fp)
            WHERE c.doc_id <> m.first_doc),
          chars AS (SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text
            FROM documents),
          kept AS (SELECT c.doc_id,
              coalesce(string_agg(substr(c.text, c.i, 1), '' ORDER BY c.i), '') AS ct
            FROM chars c
            WHERE NOT EXISTS (SELECT 1 FROM cutpos p
              WHERE p.doc_id = c.doc_id AND p.pos <= c.i AND c.i < p.pos + $k)
            GROUP BY c.doc_id),
          ncut AS (SELECT doc_id, count(*)::BIGINT AS n FROM cutpos GROUP BY doc_id)
          SELECT d.doc_id, length(d.text)::BIGINT AS orig_len,
            coalesce(n.n, 0)::BIGINT AS n_cut_fps,
            coalesce(k2.ct, '') AS cleaned_text,
            (length(d.text) - length(coalesce(k2.ct, '')))::BIGINT AS n_removed
          FROM documents d
          LEFT JOIN ncut n USING (doc_id)
          LEFT JOIN kept k2 ON k2.doc_id = d.doc_id"""
    })),

    Query("q_unigram_lm", (s, dir) => {
      // Unigram language-model SURPRISAL scoring — the cheap LM-quality
      // signal (CCNet-style perplexity filtering reduced to its unigram
      // core). Two passes with the bounded-model discipline: (1) corpus
      // vocabulary counts, top-1024 heavy hitters kept (orderBy+limit →
      // TakeOrderedAndProject: per-partition heaps, no global sort) and
      // BROADCAST — the MODEL is small by construction, the corpus never
      // shuffles for scoring; (2) per-token integer surprisal
      // floor(log2(N / c)) computed as length(bin(N div c)) - 1 — EXACT in
      // both engines (no float log anywhere), OOV tokens get c = 1 (max
      // surprisal), then one map-side-combinable per-doc aggregate.
      val toks = fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val topv = vocab.orderBy(col("c").desc, col("w")).limit(1024)
      // N = corpus token count — a NARROW sum over documents (size of the
      // token array per row), not a second pass over the vocab aggregate:
      // the groupBy(w) shuffle is the expensive stage and runs ONCE (for
      // the top-K model only). Same value as sum(vocab.c) by definition.
      val total = t(s, dir, "documents")
        .agg(sum(size(TF.tokens(col("text")))).cast("long").as("n_total"))
      toks
        .join(broadcast(topv), Seq("w"), "left")
        .crossJoin(broadcast(total))
        .withColumn("cc", coalesce(col("c"), lit(1L)))
        .withColumn("bits", length(bin(expr("n_total div cc"))) - 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
          sum(col("bits")).cast("long").as("bits_total"))
        .withColumn("bits_per_token",
          round(col("bits_total").cast("double") / col("n_tokens"), 4))
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
           FROM documents),
         vocab AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
         topv AS (SELECT w, c FROM (
             SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM vocab)
           WHERE rk <= 1024),
         tot AS (SELECT sum(c)::BIGINT AS n_total FROM vocab),
         scored AS (SELECT doc_id, coalesce(v.c, 1)::BIGINT AS cc,
             CASE WHEN v.c IS NULL THEN 1 ELSE 0 END AS oov
           FROM toks t LEFT JOIN topv v ON t.w = v.w)
         SELECT doc_id, count(*) AS n_tokens, sum(oov)::BIGINT AS n_oov,
           sum(length(bin(n_total // cc)) - 1)::BIGINT AS bits_total,
           round(sum(length(bin(n_total // cc)) - 1)::DOUBLE / count(*), 4) AS bits_per_token
         FROM scored CROSS JOIN tot GROUP BY doc_id"""),

    Query("q_url_canon", (s, dir) => {
      // URL CANONICALIZATION + dedup — the CommonCrawl-style crawl-hygiene
      // stage (two fetches of one page differ by scheme/host case, default
      // port, tracking params, param order, fragment). The corpus has no
      // organic URLs, so a deterministically messy URL is INJECTED per doc
      // (the q_pii_scrub honest-fixture discipline); the operator is the
      // real shape: pure codegen'd string work per row (lowercase
      // scheme+host, strip :80, drop #fragment, drop utm_* params, sort
      // the rest), then ONE exchange for the canonical-key dedup groupBy.
      val url = concat(
        lit("HTTP://WWW.Site"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".COM:80/p/"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit("?utm_source=feed&z="), pmod(col("doc_id"), lit(3)).cast("string"),
        lit("&a="), pmod(col("doc_id"), lit(5)).cast("string"),
        lit("&utm_campaign=x#sec"), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .withColumn("url", url)
        .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("pre",
          regexp_replace(lower(substring_index(col("nofrag"), "?", 1)),
            ":80/", "/"))
        .withColumn("qs", array_join(array_sort(
          filter(split(substring_index(col("nofrag"), "?", -1), "&"),
            x => !x.startsWith("utm_"))), "&"))
        .withColumn("canon_url",
          when(col("qs") === "", col("pre"))
            .otherwise(concat(col("pre"), lit("?"), col("qs"))))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
    },
      """WITH d AS (SELECT doc_id,
             'HTTP://WWW.Site' || (doc_id % 20)::VARCHAR || '.COM:80/p/' ||
             (doc_id % 7)::VARCHAR || '?utm_source=feed&z=' ||
             (doc_id % 3)::VARCHAR || '&a=' || (doc_id % 5)::VARCHAR ||
             '&utm_campaign=x#sec' || doc_id::VARCHAR AS url
           FROM documents),
         c AS (SELECT doc_id,
             string_split(regexp_replace(url, '#.*$', '', 'g'), '?') AS seg
           FROM d),
         p AS (SELECT doc_id,
             replace(lower(seg[1]), ':80/', '/') AS pre,
             array_to_string(list_sort(list_filter(string_split(seg[2], '&'),
               x -> NOT starts_with(x, 'utm_'))), '&') AS qs
           FROM c)
         SELECT CASE WHEN qs = '' THEN pre ELSE pre || '?' || qs END AS canon_url,
           count(*)::BIGINT AS n, min(doc_id) AS keep_id
         FROM p GROUP BY 1"""),

    Query("q_pmi_pairs", (s, dir) => {
      // PMI co-occurrence mining (word association / collocation
      // extraction, Church & Hanks 1990) restricted to a BOUNDED
      // vocabulary: top-32 document-frequency terms (TakeOrderedAndProject
      // + broadcast semi-join), so the per-doc pair fan-out is ≤ C(32,2)
      // by construction — linear in corpus size with a bounded constant,
      // never all-pairs over an open vocabulary. PMI as integer bits with
      // an explicit sign (floor-log2 of the ratio or its reciprocal — the
      // bin-length trick, no float log). The pair join is a doc_id-keyed
      // self equi-join of the ≤64-terms-per-doc relation.
      // the distinct (doc, term) relation feeds the df model AND both pair
      // sides — materialize it EAGERLY once (localCheckpoint, the q_tfidf
      // discipline; a lazy persist measurably re-tokenizes per concurrent
      // broadcast-build consumer because they all race the empty cache),
      // derived as a groupBy so its one exchange is partial-agg'd
      val tf = fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .select("doc_id", "w")
        .localCheckpoint()
      val topv = tf.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(32)
      val tfq = tf.join(broadcast(topv.select("w")), Seq("w"))
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val c12 = tfq.as("a").join(tfq.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
        .agg(count(lit(1)).as("c12"))
      c12
        .join(broadcast(topv.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
        .join(broadcast(topv.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
        .crossJoin(broadcast(nDocs))
        .withColumn("pmi_bits", expr(
          """CASE WHEN c12 * n_docs >= c1 * c2
               THEN length(bin((c12 * n_docs) div (c1 * c2))) - 1
               ELSE -(length(bin((c1 * c2) div (c12 * n_docs))) - 1)
             END""").cast("long"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          col("pmi_bits"))
    },
      """WITH toks AS (SELECT DISTINCT doc_id, w FROM (
             SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
             FROM documents)),
         vocab AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
         topv AS (SELECT w, c FROM (
             SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk FROM vocab)
           WHERE rk <= 32),
         tfq AS (SELECT doc_id, w FROM toks WHERE w IN (SELECT w FROM topv)),
         nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         cp AS (SELECT a.w AS w1, b.w AS w2, count(*)::BIGINT AS c12
           FROM tfq a JOIN tfq b ON a.doc_id = b.doc_id AND a.w < b.w
           GROUP BY 1, 2)
         SELECT w1, w2, c12, t1.c AS c1, t2.c AS c2,
           (CASE WHEN c12 * n_docs >= t1.c * t2.c
              THEN length(bin((c12 * n_docs) // (t1.c * t2.c))) - 1
              ELSE -(length(bin((t1.c * t2.c) // (c12 * n_docs))) - 1)
            END)::BIGINT AS pmi_bits
         FROM cp JOIN topv t1 ON cp.w1 = t1.w JOIN topv t2 ON cp.w2 = t2.w
         CROSS JOIN nd"""),

    Query("q_bigram_lm", (s, dir) => {
      // Bigram LM surprisal with STUPID BACKOFF (Brants et al., EMNLP 2007
      // "Large Language Models in Machine Translation" — the web-scale
      // backoff scheme chosen BECAUSE it needs no discounting statistics) —
      // the step from q_unigram_lm toward CCNet's real n-gram perplexity
      // filter. Bigrams come from a NARROW per-row zip of the token array
      // with its own tail (no positional self-join — a (doc,pos)⋈(doc,pos+1)
      // join would shuffle the corpus twice); both models are bounded BY
      // CONSTRUCTION (top-4096 bigrams / top-1024 unigrams via
      // TakeOrderedAndProject) and broadcast. Scoring: in-model bigram pays
      // floor(log2(B/bc)) bits; a backoff miss pays a flat 4-bit penalty
      // (α = 1/16) + the unigram surprisal of the CONTINUATION word —
      // integer-exact everywhere via the bin-length trick (no float log).
      val docs = fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), TF.tokens(col("text")).as("w"))
      val bg = docs.select(col("doc_id"), explode(expr(
          "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, b) -> struct(concat(a, ' ', b) AS bg, b AS w2))")).as("p"))
        .select(col("doc_id"), col("p.bg").as("bg"), col("p.w2").as("w2"))
      val uni = docs.select(explode(col("w")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("uc"))
      val topu = uni.orderBy(col("uc").desc, col("w2")).limit(1024)
      val topb = bg.groupBy("bg").agg(count(lit(1)).as("bc"))
        .orderBy(col("bc").desc, col("bg")).limit(4096)
      val totals = t(s, dir, "documents").agg(
        sum(size(TF.tokens(col("text")))).cast("long").as("n_total"),
        sum(greatest(size(TF.tokens(col("text"))) - 1, lit(0)))
          .cast("long").as("b_total"))
      bg.join(broadcast(topb), Seq("bg"), "left")
        .join(broadcast(topu), Seq("w2"), "left")
        .crossJoin(broadcast(totals))
        .withColumn("bits",
          when(col("bc").isNotNull,
            length(bin(expr("b_total div bc"))) - 1)
          .otherwise(lit(4) +
            length(bin(expr("n_total div coalesce(uc, 1)"))) - 1))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("bc").isNull, 1L).otherwise(0L)).as("n_backoff"),
          sum(col("bits")).cast("long").as("bits_total"))
    },
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents),
         uvocab AS (SELECT u AS w2, count(*)::BIGINT AS uc
           FROM (SELECT unnest(w) AS u FROM toks) GROUP BY u),
         topu AS (SELECT w2, uc FROM (
             SELECT w2, uc, row_number() OVER (ORDER BY uc DESC, w2) AS rk FROM uvocab)
           WHERE rk <= 1024),
         bg AS (SELECT doc_id, w[i-1] || ' ' || w[i] AS bg, w[i] AS w2
           FROM (SELECT doc_id, w, unnest(generate_series(2, len(w)))::BIGINT AS i
                 FROM toks)),
         bvocab AS (SELECT bg, count(*)::BIGINT AS bc FROM bg GROUP BY bg),
         topb AS (SELECT bg, bc FROM (
             SELECT bg, bc, row_number() OVER (ORDER BY bc DESC, bg) AS rk FROM bvocab)
           WHERE rk <= 4096),
         tot AS (SELECT sum(len(w))::BIGINT AS n_total,
             sum(greatest(len(w) - 1, 0))::BIGINT AS b_total FROM toks),
         scored AS (SELECT doc_id,
             CASE WHEN tb.bc IS NOT NULL THEN length(bin(b_total // tb.bc)) - 1
                  ELSE 4 + length(bin(n_total // coalesce(tu.uc, 1))) - 1
             END AS bits,
             CASE WHEN tb.bc IS NULL THEN 1 ELSE 0 END AS backoff
           FROM bg LEFT JOIN topb tb USING (bg) LEFT JOIN topu tu USING (w2)
           CROSS JOIN tot)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           sum(backoff)::BIGINT AS n_backoff, sum(bits)::BIGINT AS bits_total
         FROM scored GROUP BY doc_id"""),

    Query("q_pii_scrub", (s, dir) => {
      // PII SCRUBBING — detect + redact email/phone patterns, count per
      // class (the pre-training hygiene pass). The synthetic corpus has no
      // organic PII, so a deterministic doc_id-derived email+phone is
      // INJECTED first (honest fixture); the operator itself is the real
      // 100-TB shape: pure codegen'd per-row regex work, ZERO exchanges —
      // scrubbing a petabyte is embarrassingly row-parallel. Regexes kept
      // in the Java∩RE2 common subset so the DuckDB oracle is exact.
      val emailRe = "[a-z0-9_]+@[a-z0-9]+\\.[a-z]+"
      val phoneRe = "\\+1-555-[0-9]{4}"
      t(s, dir, "documents")
        .withColumn("txt", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .select(col("doc_id"),
          size(regexp_extract_all(col("txt"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("txt"), lit(phoneRe), lit(0)))
            .cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("txt"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]").as("cleaned"))
    },
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || doc_id::VARCHAR || '@example.com or +1-555-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') AS txt
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(txt, '[a-z0-9_]+@[a-z0-9]+\.[a-z]+'))::BIGINT AS n_emails,
           len(regexp_extract_all(txt, '\+1-555-[0-9]{4}'))::BIGINT AS n_phones,
           regexp_replace(regexp_replace(txt, '[a-z0-9_]+@[a-z0-9]+\.[a-z]+', '[EMAIL]', 'g'),
             '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS cleaned
         FROM d"""),

    Query("q_tfidf_topterms", (s, dir) => {
      // TF-IDF TOP-TERMS per document — the classic salient-term extractor
      // (topic tagging / keyword indexing over a web corpus). All
      // INTEGER-exact: idf is the floor-log2 trick from q_unigram_lm
      // (length(bin(N div df)) - 1 — no float log in either engine), score
      // = tf × idf_bits in BIGINT. Scale shape: df is derived from the
      // (doc,term) TF AGGREGATE, never a second pass over raw tokens; both
      // groupBys get map-side partial aggregation; N is a 1-row broadcast;
      // the per-doc top-3 window is bounded by document vocabulary (never a
      // corpus-global sort). The tf⋈df join shuffles on the term key —
      // AQE handles stopword-term skew at scale.
      val toks = fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
      // tf feeds TWO consumers (the scoring join and the df aggregate).
      // Without materialization Catalyst prunes the df branch's copy to a
      // bare distinct, its exchange stops being identical to the scoring
      // branch's, ReuseExchange can't fire — and the expensive
      // tokenize+explode stage runs TWICE (measured: 2× 3 s at sf0.1).
      // localCheckpoint materializes the small (doc,term,tf) aggregate once
      // (memory+disk, lineage-truncated) so both consumers read it — the
      // standard multi-consumer-intermediate discipline at scale, where a
      // second pass over the raw token stream is the dominant cost.
      val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("w"))
      tf.join(dfreq, Seq("w"))
        .crossJoin(broadcast(nDocs))
        .withColumn("idf_bits",
          (length(bin(expr("n_docs div df"))) - 1).cast("long"))
        .withColumn("score", col("tf") * col("idf_bits"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w"), col("tf"), col("df"),
          col("score"))
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, w),
         df AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
         nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         scored AS (SELECT t.doc_id, t.w, t.tf, d.df,
             (length(bin(n_docs // d.df)) - 1)::BIGINT AS idf_bits
           FROM tf t JOIN df d USING (w) CROSS JOIN nd),
         ranked AS (SELECT doc_id, w, tf, df, (tf * idf_bits)::BIGINT AS score,
             row_number() OVER (PARTITION BY doc_id ORDER BY tf * idf_bits DESC, w) AS rk
           FROM scored)
         SELECT doc_id, rk::INT AS rk, w, tf, df, score FROM ranked WHERE rk <= 3"""),

    Query("q_bpe_train", (s, dir) => {
      // BPE merge-rule TRAINING (Sennrich et al. 2016, "Neural Machine
      // Translation of Rare Words with Subword Units") — tokenizer
      // training as a relational job, the capability behind q_token_bpe's
      // fixed regex segmentation. Scale shape: the corpus is touched ONCE
      // (the word-histogram groupBy — the only corpus-sized shuffle); the
      // 4 merge rounds iterate on the top-256 word histogram, bounded BY
      // CONSTRUCTION like the other broadcast models here, and unroll
      // into one lazy Catalyst plan: each round is a vocab-sized pair
      // aggregate + TakeOrderedAndProject(1) + a broadcast of the single
      // winning pair — training never revisits the corpus, which is what
      // makes tokenizer training feasible at 100 TB. Ties break
      // lexicographically on (l, r).
      //
      // Symbol sequences ride as DOUBLE-space-delimited strings
      // ("  a  b  "): greedy leftmost merge application is then literally
      // replace(seq, ' l  r ', ' lr ') — left-to-right non-overlapping
      // string replace has exactly BPE's merge semantics, identically in
      // Spark and DuckDB. Each boundary donates one of its two spaces to
      // the match, so a replaced pair's neighbors stay matchable
      // ("a b a b" → "(ab) (ab)") while overlap is consumed
      // ("l l l" → "(ll) l"), and the invariant is restored by the
      // replacement's outer single spaces.
      bpeTrainRounds(s, dir).zipWithIndex.map { case (best, i) =>
        best.select(lit(i + 1).as("merge_round"), col("l"), col("r"),
          concat(col("l"), col("r")).as("merged"), col("pair_count"))
      }.reduce(_.unionByName(_))
    },
      s"""WITH $oBpeCtes
         SELECT * FROM (
           SELECT 1 AS merge_round, l, r, l || r AS merged, pair_count FROM m1
           UNION ALL SELECT 2, l, r, l || r, pair_count FROM m2
           UNION ALL SELECT 3, l, r, l || r, pair_count FROM m3
           UNION ALL SELECT 4, l, r, l || r, pair_count FROM m4)"""),

    Query("q_bpe_apply", (s, dir) => {
      // BPE ENCODING with the merge table learned by [[bpeTrainRounds]] —
      // the apply half of q_bpe_train (train + encode is the full
      // tokenizer story). Scale shape: the 4 winning pairs collapse into
      // ONE broadcast row; each document is then encoded by a NARROW
      // codegen'd per-row lambda chain (per word: char expansion + the 4
      // ordered merge replaces + subword count) — the corpus never
      // shuffles to be encoded, and the only corpus-sized exchange in the
      // whole plan is the training histogram. Merge rules apply in
      // training order, BPE's encode contract.
      val ruleRow = bpeTrainRounds(s, dir).zipWithIndex.map { case (m, i) =>
        m.select(col("l").as(s"l${i + 1}"), col("r").as(s"r${i + 1}"))
      }.reduce(_.crossJoin(_))
      t(s, dir, "documents")
        .select(col("doc_id"), TF.tokens(col("text")).as("ws"))
        .crossJoin(broadcast(ruleRow))
        .withColumn("subw", expr(
          """transform(ws, x -> size(filter(split(
            |  replace(replace(replace(replace(
            |    concat(regexp_replace(x, '(.)', '  $1'), '  '),
            |    ' ' || l1 || '  ' || r1 || ' ', ' ' || l1 || r1 || ' '),
            |    ' ' || l2 || '  ' || r2 || ' ', ' ' || l2 || r2 || ' '),
            |    ' ' || l3 || '  ' || r3 || ' ', ' ' || l3 || r3 || ' '),
            |    ' ' || l4 || '  ' || r4 || ' ', ' ' || l4 || r4 || ' '),
            |  '  '), y -> y != '')))""".stripMargin))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          expr("aggregate(ws, 0L, (a, x) -> a + length(x))").as("n_chars"),
          expr("aggregate(subw, 0L, (a, x) -> a + x)").as("n_subwords"))
    },
      s"""WITH $oBpeCtes,
         rules AS (SELECT m1.l AS l1, m1.r AS r1, m2.l AS l2, m2.r AS r2,
             m3.l AS l3, m3.r AS r3, m4.l AS l4, m4.r AS r4
           FROM m1, m2, m3, m4),
         enc AS (SELECT doc_id,
             string_split_regex(trim(text), ' +') AS ws,
             list_transform(string_split_regex(trim(text), ' +'),
               x -> len(list_filter(string_split(
                 replace(replace(replace(replace(
                   regexp_replace(x, '(.)', '  \\1', 'g') || '  ',
                   ' ' || l1 || '  ' || r1 || ' ', ' ' || l1 || r1 || ' '),
                   ' ' || l2 || '  ' || r2 || ' ', ' ' || l2 || r2 || ' '),
                   ' ' || l3 || '  ' || r3 || ' ', ' ' || l3 || r3 || ' '),
                   ' ' || l4 || '  ' || r4 || ' ', ' ' || l4 || r4 || ' '),
                 '  '), y -> y <> ''))::BIGINT) AS subw
           FROM documents, rules)
         SELECT doc_id, len(ws)::BIGINT AS n_words,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(ws, x -> length(x)::BIGINT)), (a, x) -> a + x) AS n_chars,
           list_reduce(list_prepend(0::BIGINT, subw), (a, x) -> a + x) AS n_subwords
         FROM enc""")
  )

  /** BPE merge-rule training core shared by q_bpe_train / q_bpe_apply
    * (Sennrich et al. 2016): word histogram (the only corpus-sized
    * shuffle) bounded to its top 256 types, then 4 unrolled merge rounds
    * over the bounded histogram. Returns one 1-row DataFrame per round
    * with columns (l, r, pair_count) — the round's winning pair.
    * Symbol sequences are DOUBLE-space-delimited strings so greedy
    * leftmost merge application is a literal non-overlapping replace
    * (identical semantics in Spark and DuckDB — see q_bpe_train's doc). */
  private def bpeTrainRounds(s: SparkSession, dir: String): Seq[DataFrame] = {
    val words = fanOut(t(s, dir, "documents"))
      .select(explode(TF.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("wc"))
      .orderBy(col("wc").desc, col("w")).limit(256)
    var seqs = words.select(col("wc"),
      concat(regexp_replace(col("w"), "(.)", "  $1"), lit("  ")).as("seq"))
    (1 to 4).map { _ =>
      val pairs = seqs
        .select(col("wc"),
          expr("filter(split(seq, '  '), x -> x != '')").as("tk"))
        .select(col("wc"), explode(expr(
          "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), " +
            "(a, b) -> struct(a AS l, b AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).cast("long").as("pair_count"))
      val best = pairs
        .orderBy(col("pair_count").desc, col("l"), col("r")).limit(1)
      seqs = seqs
        .crossJoin(broadcast(best.select(col("l").as("_l"), col("r").as("_r"))))
        .select(col("wc"), expr(
          "replace(seq, ' ' || _l || '  ' || _r || ' ', ' ' || _l || _r || ' ')")
          .as("seq"))
      best
    }
  }

  /** BPE training chain shared by the q_bpe_train / q_bpe_apply oracles
    * (ends with single-row CTEs `m1..m4(l, r, pair_count)` — the learned
    * merges). One merge round = three CTEs: pN counts adjacent symbol
    * pairs over the current sequences (unnest-in-SELECT fan-out, the
    * q_bigram_lm pattern), mN is the argmax with the lexicographic
    * tie-break, wN applies the merge with the SAME double-space literal
    * replace as the Spark side (leftmost non-overlapping in both engines
    * — BPE's greedy semantics). */
  private def oBpeCtes: String = {
    def round(n: Int): String = {
      val prev = s"w${n - 1}"
      s"""p$n AS (SELECT tk[i] AS l, tk[i + 1] AS r, sum(wc)::BIGINT AS pair_count
            FROM (SELECT wc, tk, unnest(generate_series(1, len(tk) - 1))::BIGINT AS i
                  FROM (SELECT wc, list_filter(string_split(seq, '  '),
                                               x -> x <> '') AS tk
                        FROM $prev))
            GROUP BY 1, 2),
          m$n AS (SELECT l, r, pair_count FROM p$n
            ORDER BY pair_count DESC, l, r LIMIT 1),
          w$n AS (SELECT wc,
              replace(seq, ' ' || m.l || '  ' || m.r || ' ',
                           ' ' || m.l || m.r || ' ') AS seq
            FROM $prev, m$n m)"""
    }
    s"""toks AS (SELECT unnest(string_split_regex(trim(text), ' +')) AS w
         FROM documents),
       hist AS (SELECT w, count(*)::BIGINT AS wc FROM toks GROUP BY w),
       topw AS (SELECT w, wc FROM (
           SELECT w, wc, row_number() OVER (ORDER BY wc DESC, w) AS rk FROM hist)
         WHERE rk <= 256),
       w0 AS (SELECT wc, regexp_replace(w, '(.)', '  \\1', 'g') || '  ' AS seq
         FROM topw),
       ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}"""
  }

  /** Winnowing selection re-derived in SQL (ends with
    * `chosen(doc_id, pos, fp)`): per-position k-gram hashes (direct O(k)
    * fold — the oracle may be slow, only the engine must be O(n)), the
    * SAME (hash, pos) key encoding as [[graft.functions.WinnowF]], then
    * window-min over the next W−1 rows restricted to window starts
    * 1..max(1, m−W+1). Tie-break (rightmost smallest hash) is inside the
    * key: smaller pos-complement = larger pos. */
  private val oWinnowChosen: String = {
    val K = graft.functions.WinnowF.K
    val W = graft.functions.WinnowF.W
    s"""WITH wpos AS (
           SELECT doc_id, text, unnest(generate_series(1, length(text) - ${K - 1})) AS i
           FROM documents WHERE length(text) >= $K),
         whash AS (
           SELECT doc_id, i,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(generate_series(i, i + ${K - 1}), j -> ord(substr(text, j, 1))::BIGINT)),
               (h, cp) -> (h*31 + cp) % 1000000007) AS h
           FROM wpos),
         wkey AS (
           SELECT doc_id, i, h*2147483648 + (2147483647 - i) AS tkey,
             count(*) OVER (PARTITION BY doc_id) AS m
           FROM whash),
         wmin AS (
           SELECT doc_id, i, m,
             min(tkey) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS sel
           FROM wkey),
         chosen AS (
           SELECT DISTINCT doc_id, 2147483647 - (sel & 2147483647) AS pos,
             sel // 2147483648 AS fp
           FROM wmin WHERE i <= greatest(1, m - ${W - 1}))
       """
  }
}
