package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFingerprint, TextFunctions => TF}
import Shared._

/** Relational operators over the TPC-H-style tables and the event log:
  * aggregates, filters, joins (broadcast, interval, fuzzy, bucketed),
  * windows, OLAP groupings (rollup, cube, pivot, grouping sets) and
  * event analytics (funnel, retention, as-of join, robust outliers). */
object Relational {

  lazy val queries: Seq[Query] = Seq(
    Query("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("sum_qty"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(24,8)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(cast(l_quantity AS DECIMAL(20,6))),2)::DOUBLE AS sum_qty,
         round(sum(cast(l_extendedprice*(1-l_discount) AS DECIMAL(24,8))),2)::DOUBLE AS revenue,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    Query("q_median", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 3).as("med_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 3).as("med_price"))
    },
      """SELECT l_returnflag, round(quantile_cont(l_quantity,0.5),3) AS med_qty,
         round(quantile_cont(l_extendedprice,0.5),3) AS med_price
         FROM lineitem GROUP BY l_returnflag"""),

    Query("q_histogram", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 1000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    },
      "SELECT cast(floor(l_extendedprice/1000) AS BIGINT) AS bucket, count(*) AS n FROM lineitem GROUP BY 1"),

    Query("q_ordered_concat", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("l_linenumber"), col("l_returnflag")))),
            e => concat(e.getField("l_linenumber").cast("string"), e.getField("l_returnflag")))
        ).as("line_seq"))
    }, oLineSeq),

    Query("q_udaf_concat", (s, dir) => {
      // the typed-Aggregator UDAF face of ordered concat (SURVEY §2.9) —
      // same semantics as q_ordered_concat's window/collect_list form, but
      // driven through a custom Aggregator (partial-agg capable: merge is
      // associative, finish sorts once per group)
      val agg = udaf(new graft.functions.OrderedConcatAgg,
        graft.functions.OrderedConcatAgg.lineEncoder)
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(agg(col("l_linenumber"), col("l_returnflag")).as("line_seq"))
    }, oLineSeq),

    Query("q_gate_filter", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2 && col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity <= 2 AND l_returnflag = 'A'"""),

    Query("q_charset_proj", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        trim(regexp_replace(regexp_replace(col("p_name"), "[aeiou]", ""), " +", " ")).as("cleaned"))
    },
      """SELECT p_partkey, trim(regexp_replace(regexp_replace(p_name, '[aeiou]', '', 'g'), ' +', ' ', 'g')) AS cleaned
         FROM part"""),

    Query("q_broadcast_join", (s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice").cast("decimal(20,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT n_name, round(sum(cast(o_totalprice AS DECIMAL(20,6))),2)::DOUBLE AS revenue,
         count(*) AS n_orders
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey GROUP BY n_name"""),

    Query("q_interval_join", (s, dir) => {
      val ranges = t(s, dir, "region").select(
        col("r_name"),
        (col("r_regionkey") * 10).cast("double").as("lo"),
        ((col("r_regionkey") + 1) * 10).cast("double").as("hi"))
      t(s, dir, "lineitem")
        .join(broadcast(ranges), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("qty"))
    },
      """SELECT r_name, count(*) AS n,
         round(sum(cast(l_quantity AS DECIMAL(20,6))),2)::DOUBLE AS qty
         FROM lineitem JOIN region
         ON l_quantity >= r_regionkey*10 AND l_quantity < (r_regionkey+1)*10
         GROUP BY r_name"""),

    Query("q_anti_join_lev", (s, dir) => {
      // Length-band BLOCKING (candidates-then-verify, the same discipline as
      // the dedup family): lev(a,b) < 3 ⇒ |len(a)−len(b)| ≤ 2, so each name
      // fans out to its 5 candidate partner lengths and candidates come from
      // an EQUI-join on exact length — never a nested-loop θ-join over the
      // full name set (PlanSpec asserts no BroadcastNestedLoopJoin). The
      // levenshtein comparator verifies candidates only; the
      // LevenshteinPruning optimizer rule still cheapens each comparison
      // with an early length-difference bound. Reference semantics
      // unchanged: idcardprocesser.py:163-165.
      graft.plans.LevenshteinPruning.install(s)
      val names = t(s, dir, "part").select(col("p_name")).distinct()
      val bnames = names.select(col("p_name").as("b_name"),
        length(col("b_name")).as("b_len"))
      val conflicted = names
        .select(col("p_name"),
          explode(array((-2 to 2).map(d => length(col("p_name")) + d): _*)).as("bl"))
        .join(bnames,
          col("bl") === col("b_len") && col("b_name") < col("p_name") &&
            levenshtein(col("p_name"), col("b_name")) < 3,
          "left_semi")
        .select(col("p_name")).distinct()
      names.join(conflicted, Seq("p_name"), "left_anti")
    },
      """WITH names AS (SELECT DISTINCT p_name FROM part)
         SELECT p_name FROM names a WHERE NOT EXISTS (
           SELECT 1 FROM names b WHERE levenshtein(a.p_name, b.p_name) < 3 AND b.p_name < a.p_name)"""),

    Query("q_dict_match", (s, dir) => {
      // J8 dictionary-lookup join: words vs a broadcast wordlist with a
      // levenshtein tolerance (the reference's enchant-dict word correction,
      // idcardprocesser.py:26-49) — left-semi so multiple dictionary hits
      // count a word once
      import s.implicits._
      val dictDf = MatchDict.toDF("dw")
      t(s, dir, "part")
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("w"))
        .join(broadcast(dictDf), levenshtein(col("w"), col("dw")) <= 1, "left_semi")
        .groupBy(col("p_partkey")).agg(count(lit(1)).as("matched"))
    }, {
      val vals = MatchDict.map(w => s"('$w')").mkString(",")
      s"""SELECT p_partkey, count(*) AS matched FROM (
            SELECT p_partkey, w FROM (
              SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w FROM part)
            WHERE EXISTS (SELECT 1 FROM (VALUES $vals) d(dw) WHERE levenshtein(w, dw) <= 1))
          GROUP BY p_partkey"""
    }),

    Query("q_ratio_match", (s, dir) => {
      // J2's RATIO-TEST acceptance as a standalone query (Lowe's 0.7-ratio
      // kNN accept, the reference's keypoint-match filter
      // keypoint_calc.py:65-84): per probe word, rank the dictionary
      // candidates by edit distance and accept the best match only when it
      // is DECISIVELY better than the runner-up — best < 0.7 × second.
      // Shape: probe × broadcast bounded dictionary (never probe × probe),
      // one window partitioned by the probe key, integer arithmetic for the
      // ratio (best*10 < second*7) so both engines compare exactly.
      import s.implicits._
      val dictDf = broadcast(MatchDict.toDF("dw"))
      val words = t(s, dir, "part")
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("w"))
        .distinct()
      val wnd = Window.partitionBy(col("p_partkey"), col("w"))
        .orderBy(col("dist"), col("dw"))
      words.crossJoin(dictDf)
        .withColumn("dist", levenshtein(col("w"), col("dw")).cast("long"))
        .withColumn("rk", row_number().over(wnd)).filter(col("rk") <= 2)
        .groupBy(col("p_partkey"), col("w"))
        .agg(
          min(when(col("rk") === 1, col("dw"))).as("best_dw"),
          min(when(col("rk") === 1, col("dist"))).as("best_dist"),
          min(when(col("rk") === 2, col("dist"))).as("second_dist"))
        .filter(col("best_dist") * 10 < col("second_dist") * 7)
    }, {
      val vals = MatchDict.map(w => s"('$w')").mkString(",")
      s"""WITH words AS (SELECT DISTINCT p_partkey, w FROM (
              SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w FROM part)),
          scored AS (SELECT p_partkey, w, dw, levenshtein(w, dw)::BIGINT AS dist
            FROM words CROSS JOIN (VALUES $vals) d(dw)),
          ranked AS (SELECT p_partkey, w, dw, dist,
              row_number() OVER (PARTITION BY p_partkey, w ORDER BY dist, dw) AS rk
            FROM scored),
          agg AS (SELECT p_partkey, w,
              min(CASE WHEN rk = 1 THEN dw END) AS best_dw,
              min(CASE WHEN rk = 1 THEN dist END) AS best_dist,
              min(CASE WHEN rk = 2 THEN dist END) AS second_dist
            FROM ranked WHERE rk <= 2 GROUP BY 1, 2)
          SELECT p_partkey, w, best_dw, best_dist, second_dist
          FROM agg WHERE best_dist * 10 < second_dist * 7"""
    }),

    Query("q_bucketed_join", (s, dir) => {
      // co-located join through the catalog: both sides written bucketed by
      // doc_id (layout shuffle paid ONCE at write — a FIXTURE step, run at
      // most once per session/dir so the timed query body is ONLY the
      // zero-Exchange join), the join itself plans with no shuffle
      // (BucketedJoinSpec asserts the plan; this query oracle-verifies the
      // RESULT of the bucketed path)
      ensureBucketedFixture(s, dir)
      graft.table.BucketedTable.colocatedJoin(s, "graft_bj_docs", "graft_bj_len", "doc_id")
        .select(col("doc_id"), col("lang"), col("len"))
    },
      "SELECT doc_id, lang, length(text) AS len FROM documents"),

    Query("q_classify_argmax", (s, dir) => {
      val scored = t(s, dir, "part")
        .crossJoin(broadcast(t(s, dir, "region")))
        .withColumn("score", levenshtein(upper(col("p_name")), col("r_name")))
      val w = Window.partitionBy(col("p_partkey")).orderBy(col("score"), col("r_name"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("p_partkey"), col("r_name").as("best_template"), col("score").cast("long").as("score"))
    },
      """SELECT p_partkey, r_name AS best_template, cast(score AS BIGINT) AS score FROM (
           SELECT p_partkey, r_name, levenshtein(upper(p_name), r_name) AS score,
             row_number() OVER (PARTITION BY p_partkey
               ORDER BY levenshtein(upper(p_name), r_name), r_name) AS rk
           FROM part CROSS JOIN region) WHERE rk = 1"""),

    Query("q_order_restore", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .select(col("user_id"), col("event_id"), col("rn"))
    },
      """SELECT user_id, event_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
         FROM events"""),

    Query("q_json_extract", (s, dir) => {
      // semi-structured column handling: pull a typed value out of the JSON
      // props payload (portable regex rather than engine-specific JSON
      // functions, so the oracle is exact)
      t(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
    },
      """SELECT cast(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k, count(*) AS n
         FROM events GROUP BY 1"""),

    Query("q_sessionize", (s, dir) => {
      // stateful window pattern: 30-minute-gap sessionization (lag →
      // boundary flag → running sum = session id → per-session aggregates).
      // The batch analog of the streaming bucket/session semantics.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // exact integer milliseconds on both engines (unix_timestamp would
      // truncate to seconds while DuckDB's epoch keeps fractions)
      t(s, dir, "events")
        .withColumn("ms", expr("unix_millis(cast(ts AS TIMESTAMP))")) // ts is TIMESTAMP_NTZ in the parquet
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("ms")) - min(col("ms"))).cast("long").as("duration_ms"))
    },
      """WITH e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
          s AS (SELECT user_id, event_id, ts, ms,
             CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS ns FROM e),
          x AS (SELECT user_id, ms,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s)
          SELECT user_id, cast(sid AS BIGINT) AS session_id, count(*) AS n_events,
            cast(max(ms) - min(ms) AS BIGINT) AS duration_ms
          FROM x GROUP BY user_id, sid"""),

    Query("q_topk_window", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
    },
      """SELECT o_orderpriority, cast(rk AS INT) AS rk, o_orderkey, round(o_totalprice,2) AS price FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3"""),

    Query("q_topk_agg", (s, dir) => {
      // Bounded top-k per group WITHOUT a window (functions/TopKAgg): the
      // window form above funnels every row of a hot group through one
      // reducer's sort; this typed Aggregator prunes its buffer to k on
      // every reduce/merge, so a group ships ≤ k rows per map task and
      // reducer state is O(k) — the shape that survives a billion-row
      // group. Same total order (quality DESC, doc_id ASC) as the window
      // twin; the oracle IS the window SQL. Quality is the shared
      // q_text_stats formula — bit-identical across engines, so the order
      // (and hence the ids) match exactly.
      val topk = udaf(new graft.functions.TopKAgg(3), graft.functions.TopKAgg.scoredEncoder)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          round(TF.qualityScore(col("text")), 4).as("quality"))
        .groupBy(col("lang"))
        .agg(topk(col("doc_id"), col("quality")).as("top_docs"))
        // Explode to rows so the cross-engine hash oracle can compare; the
        // position IS the rank (the aggregator's finish() order is the
        // total order above).
        .select(col("lang"), posexplode(col("top_docs")).as(Seq("rank", "doc_id")))
        .withColumn("rank", col("rank").cast("int"))
    },
      // Oracle for the typed-Aggregator top-k is the WINDOW form — the
      // aggregator's contract is "exactly the window prefix" (TopKAgg.scala).
      s"""SELECT lang, CAST(rn - 1 AS INT) AS rank, doc_id FROM (
            SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang
                ORDER BY $oQualityExpr DESC, doc_id) AS rn
            FROM (SELECT lang, doc_id, text,
                    string_split_regex(trim(text), ' +') AS w FROM documents))
          WHERE rn <= 3"""),

    Query("q_rollup", (s, dir) => {
      // Hierarchical aggregation: ONE pass emits the (flag,status),
      // (flag), and grand-total levels via Expand+Aggregate — no
      // per-level rescans, partial-agg capable (the 100-TB shape for
      // report cubes). lvl = grouping_id bitmask, identical encoding to
      // DuckDB's grouping().
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("int").as("lvl"),
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) AS INT) AS lvl,
           round(sum(cast(l_quantity AS DECIMAL(20,6))), 2)::DOUBLE AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),

    Query("q_cube", (s, dir) => {
      // Full cube: all four grouping sets in the same one-pass
      // Expand+Aggregate as q_rollup (cube adds the (status)-only level).
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("int").as("lvl"),
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) AS INT) AS lvl,
           round(sum(cast(l_quantity AS DECIMAL(20,6))), 2)::DOUBLE AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""),

    Query("q_pivot", (s, dir) => {
      // Pivot with an EXPLICIT bounded column set (the scale discipline:
      // no values-discovery pre-pass, one shuffle, five conditional
      // aggregates in a single Aggregate node).
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value").cast("decimal(20,6)")), 2).cast("double"))
    }, {
      val cols = Seq("click", "view", "purchase", "signup", "error").map(t =>
        s"round(sum(CASE WHEN event_type = '$t' THEN cast(value AS DECIMAL(20,6)) END), 2)::DOUBLE AS $t")
        .mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id"
    }),

    Query("q_salted_agg", (s, dir) => {
      // Two-phase SALTED aggregation — the skew defuse for heavy-hitter
      // group keys: phase 1 aggregates (key, salt) so a hot key's rows
      // spread over 16 reducers; phase 2 merges the ≤ 16 partials per key
      // (a |keys|×16-row exchange — negligible). Result is EXACTLY the
      // plain groupBy (the oracle is the unsalted SQL); sums stay in
      // BIGINT so both phases are associative bit-exactly.
      TextFingerprint.register(s)
      val salt = pmod(call_function("text_fingerprint",
        col("doc_id").cast("string")), lit(16L))
      t(s, dir, "documents")
        .select(col("lang"), col("n_chars"), salt.as("salt"))
        .groupBy(col("lang"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("n_chars")).as("pc"))
        .groupBy(col("lang"))
        .agg(sum(col("pn")).as("n_docs"), sum(col("pc")).as("sum_chars"))
    },
      // the UNSALTED plain aggregate — proving the two-phase salted form
      // computes the identical result
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         FROM documents GROUP BY lang"""),

    Query("q_skew_join", (s, dir) => {
      // SALTED N:1 join — the join-side twin of q_salted_agg, for the case
      // where the dimension is too big to broadcast AND the fact side's
      // join key is a heavy hitter (here: corpus-level per-lang stats
      // enriched back onto every document; 5 lang values over the whole
      // corpus is maximal key skew). Fact rows take a deterministic salt
      // in [0, S); the dim side replicates each row S times; the join runs
      // on (key, salt), spreading a hot key's fact rows over S reducers at
      // the cost of an S× dim replication (dim × S ≪ fact). The result is
      // EXACTLY the plain join — salt never reaches the output and the
      // oracle is the unsalted SQL. The `merge` hint pins a sort-merge
      // plan: at demo scale Spark would broadcast this dim and hide the
      // pattern under test (AQE's OptimizeSkewedJoin covers SMJ skew at
      // runtime by splitting oversized partitions; explicit salting is the
      // portable form — it also works for shuffle-hash joins, streaming
      // joins, and engines/paths AQE doesn't reach).
      TextFingerprint.register(s)
      val S = 8
      val docs = t(s, dir, "documents")
      val dim = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang_docs"), sum(col("n_chars")).as("lang_chars"))
      val dimSalted = dim.withColumn("salt",
        explode(sequence(lit(0L), lit(S - 1L))))
      val factSalted = docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("salt", pmod(call_function("text_fingerprint",
          col("doc_id").cast("string")), lit(S.toLong)))
      factSalted.hint("merge")
        .join(dimSalted, Seq("lang", "salt"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_lang_docs"), col("lang_chars"))
    },
      // the UNSALTED plain join — the salt is pure execution strategy and
      // must never change the result
      """WITH dim AS (SELECT lang, count(*) AS n_lang_docs,
              sum(n_chars)::BIGINT AS lang_chars
            FROM documents GROUP BY lang)
         SELECT doc_id, d.lang, n_chars, n_lang_docs, lang_chars
         FROM documents d JOIN dim USING (lang)"""),

    Query("q_grouping_sets", (s, dir) => {
      // Explicit GROUPING SETS (the non-hierarchical cousin of
      // rollup/cube): two disjoint group-bys in ONE Expand+Aggregate pass
      // — no per-set rescans. lvl = grouping bitmask, same encoding both
      // engines.
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               cast(grouping_id(l_returnflag, l_linestatus) AS INT) AS lvl,
               cast(round(sum(cast(l_quantity AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_qty,
               count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    },
      """SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) AS INT) AS lvl,
           round(sum(cast(l_quantity AS DECIMAL(20,6))), 2)::DOUBLE AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""),

    Query("q_moving_agg", (s, dir) => {
      // Event-time RANGE-frame window: per-user moving 1-hour count/sum.
      // One shuffle on user_id + a sorted range frame — never the
      // self-join-on-time-interval form, whose output explodes with the
      // events-per-hour density. Epoch seconds are truncated identically
      // on both engines so the frame boundaries agree exactly.
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, 0L)
      t(s, dir, "events")
        .withColumn("sec", unix_timestamp(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value").cast("decimal(20,6)")).over(w), 2)
            .cast("double").as("sum_1h"))
    },
      """SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           round(sum(cast(value AS DECIMAL(20,6))) OVER w, 2)::DOUBLE AS sum_1h
         FROM (SELECT *, cast(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"""),

    Query("q_asof_join", (s, dir) => {
      // AS-OF join (operator Spark lacks natively): each purchase matched
      // to the user's latest click at-or-before it. NOT a range join (which
      // explodes to O(pairs-in-range)): tag both sides, union, ONE shuffle
      // on user_id, and carry the last click forward with a running
      // `last(_, ignoreNulls)` window — O(n log n) per user partition, the
      // composition that survives 100 TB. Ties: (ts, side) ordering puts a
      // click at equal ts BEFORE the purchase, i.e. `click.ts <= p.ts`
      // semantics — exactly DuckDB's ASOF JOIN ON b.ts <= a.ts.
      // Clicks are pre-deduped per (user_id, ts) keeping max(value) — in
      // BOTH engines — so which simultaneous click a purchase sees is
      // deterministic (DuckDB's ASOF pick among equal-ts rows is arbitrary,
      // and so is last() over a (ts, side)-only ordering).
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
        .select(col("user_id"), col("ts"), col("value"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"), lit(1).as("side"),
          col("event_id"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("click_ts",
          last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
        .withColumn("click_value",
          last(when(col("side") === 0, col("value")), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), col("click_ts"), col("click_value"))
    },
      // DuckDB's native ASOF JOIN is the oracle for the union+window
      // composition (left join: purchases with no prior click keep NULLs).
      // Clicks pre-deduped per (user_id, ts) by max(value), mirroring the
      // Spark side, so equal-ts ties are deterministic on any data.
      """SELECT a.event_id, a.user_id, b.ts AS click_ts, b.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                         WHERE event_type = 'click' GROUP BY user_id, ts) b
           ON a.user_id = b.user_id AND b.ts <= a.ts"""),

    Query("q_funnel", (s, dir) => {
      // Ordered 3-stage FUNNEL (view → click → purchase): stage k's entry
      // time is the user's earliest stage-k event STRICTLY AFTER their
      // stage-(k−1) entry — the product-analytics sequence-match operator.
      // The sequential dependency is three same-key aggregates chained by
      // user_id equi-joins: after the first exchange every later join and
      // groupBy reuses the user_id hash partitioning (no window over a
      // user's full event history, no per-user sort of the corpus).
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t_view"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min(col("ts")).as("t_click"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
      s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          col("t_purchase"),
          (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
            + when(col("t_purchase").isNotNull, 1).otherwise(0))
            .cast("int").as("stage"))
    },
      """WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t_click
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t_view
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
           GROUP BY e.user_id)
         SELECT s1.user_id, t_view, t_click, t_purchase,
           (1 + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END)::INT AS stage
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""),

    Query("q_retention_cohort", (s, dir) => {
      // Weekly COHORT RETENTION matrix: cohort = the ISO week of the
      // user's first signup, cell (cohort_week, week_offset) = distinct
      // users of that cohort active `offset` weeks later — the standard
      // growth-analytics rollup. Scale shape: per-user first-signup and
      // the distinct (user, week) activity grid are both user_id-keyed
      // aggregates (map-side partials; the join reuses the partitioning);
      // the final matrix is bounded by weeks², not users.
      val ev = t(s, dir, "events")
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(min(to_date(date_trunc("week", col("ts")))).as("cohort_week"))
      val activity = ev.select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("act_week")).distinct()
      cohort.join(activity, Seq("user_id"))
        .filter(col("act_week") >= col("cohort_week"))
        .withColumn("week_offset",
          expr("datediff(act_week, cohort_week) div 7"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      """WITH cohort AS (SELECT user_id,
             min(date_trunc('week', ts)::DATE) AS cohort_week
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         activity AS (SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS act_week
           FROM events)
         SELECT cohort_week,
           (date_diff('day', cohort_week, act_week) // 7)::BIGINT AS week_offset,
           count(DISTINCT user_id)::BIGINT AS n_users
         FROM cohort JOIN activity USING (user_id)
         WHERE act_week >= cohort_week
         GROUP BY cohort_week, week_offset"""),

    Query("q_anomaly_mad", (s, dir) => {
      // ROBUST OUTLIER DETECTION — median absolute deviation (the
      // Hampel/MAD rule robust statistics uses where ±3σ breaks: the
      // median and MAD are unmoved by the outliers being hunted). Per
      // event_type: med = median(value), MAD = median(|value − med|),
      // outlier ⇔ |v − med| > 3·MAD. All arithmetic integerized
      // (value·10³, then ×2 at each interpolated median so the midpoint
      // stays integral — exact dyadic cross-engine, the q_median float
      // policy tightened to support a COMPARISON, where any fp wobble
      // would flip rows at the boundary). Scale shape: two grouped exact
      // percentiles (ObjectHashAggregate with partials) + the tiny
      // per-type stats broadcast back — the corpus never shuffles. Exact
      // medians are the correctness twin; at 100 TB the mergeable
      // hash-threshold sketch (q_quantile_sketch) supplies the quantiles.
      val v = t(s, dir, "events")
        .select(col("event_type"),
          round(col("value") * 1000).cast("long").as("vm"))
      val med = v.groupBy("event_type")
        .agg((expr("percentile(vm, 0.5)") * 2).cast("long").as("med2"))
      val dev = v.join(broadcast(med), "event_type")
        .withColumn("adev2", abs(col("vm") * 2 - col("med2")))
      val mad = dev.groupBy("event_type")
        .agg((expr("percentile(adev2, 0.5)") * 2).cast("long").as("mad4"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev2") * 2 > col("mad4") * 3, 1L).otherwise(0L))
            .as("n_outliers"),
          max(col("med2")).as("med2"), max(col("mad4")).as("mad4"))
    },
      """WITH v AS (SELECT event_type, round(value * 1000)::BIGINT AS vm
           FROM events),
         m AS (SELECT event_type,
             (2 * quantile_cont(vm, 0.5))::BIGINT AS med2 FROM v GROUP BY 1),
         d AS (SELECT v.event_type, abs(2 * vm - med2) AS adev2, med2
           FROM v JOIN m USING (event_type)),
         md AS (SELECT event_type,
             (2 * quantile_cont(adev2, 0.5))::BIGINT AS mad4 FROM d GROUP BY 1)
         SELECT d.event_type, count(*)::BIGINT AS n,
           sum(CASE WHEN 2 * adev2 > 3 * mad4 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           max(med2) AS med2, max(mad4) AS mad4
         FROM d JOIN md USING (event_type) GROUP BY 1""")
  )

  /** One oracle for both order-restoring concatenations (q_ordered_concat,
    * q_udaf_concat): the typed Aggregator must equal the window form. */
  private val oLineSeq =
    """SELECT l_orderkey, string_agg(cast(l_linenumber AS VARCHAR) || l_returnflag, ','
         ORDER BY l_linenumber, l_returnflag) AS line_seq FROM lineitem GROUP BY l_orderkey"""

  /** Broadcast wordlist for the dictionary-lookup join demo. */
  private val MatchDict: Seq[String] =
    Seq("red", "blue", "green", "small", "large", "widget", "bolt", "ring", "gear", "cable")

  /** Write-once fixture for q_bucketed_join: the bucketed catalog tables are
    * the LAYOUT the query demonstrates, not part of its work — writing them
    * inside the query body would re-pay the layout shuffle on every (timed)
    * invocation. Written once per (session, dir), so warm bench runs time
    * only the join. */
  private val bucketedFixture = new SessionMemo[String]

  private def ensureBucketedFixture(s: SparkSession, dir: String): Unit =
    bucketedFixture(s, dir) {
      val base = fixtureDir("graft_bj")
      val docs = t(s, dir, "documents")
      graft.table.BucketedTable.save(
        docs.select(col("doc_id"), col("lang"), col("text")),
        "graft_bj_docs", s"$base/docs", buckets = 8, key = "doc_id")
      graft.table.BucketedTable.save(
        docs.select(col("doc_id"), length(col("text")).cast("long").as("len")),
        "graft_bj_len", s"$base/len", buckets = 8, key = "doc_id")
      base
    }
}
