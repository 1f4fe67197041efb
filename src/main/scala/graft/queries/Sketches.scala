package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.{ShingleFunctions => SF, TextFingerprint, TextFunctions => TF}
import Shared._

/** Mergeable sketches as aggregates: HyperLogLog distinct counts, a
  * quantile sketch, Count-Min heavy hitters and KMV set intersection. */
object Sketches {

  lazy val queries: Seq[Query] = Seq(
    Query("q_hll_distinct", (s, dir) => {
      // HyperLogLog cardinality sketch (m = 256 registers) over the
      // per-language distinct-shingle count — the 100-TB "how many
      // distinct?" op. The shuffle carries at most 256 (lang, register,
      // max-ρ) rows per language (mergeable max-agg with a map-side
      // partial), never the values themselves. Cross-engine EXACT
      // construction: ρ is trailing zeros + 1 capped at 24, every 1/2^M
      // term is a dyadic rational with exponent ≥ -24 and the register sum
      // is < 256, so the double sum is exact in ANY accumulation order; the
      // estimate is then a single deterministic IEEE expression. n_exact
      // (the exact distinct count) rides along as the quality twin.
      TextFingerprint.register(s)
      SF.register(s)
      val words = fanOut(t(s, dir, "documents"))
        .select(col("lang"),
          explode(SF.shinglesF(TF.tokens(col("text")))).as("w"))
      val regs = words
        .withColumn("h", TF.universalHash(call_function("text_fingerprint", col("w")), 0))
        .withColumn("reg", col("h").bitwiseAND(lit(255L)))
        .withColumn("wb", shiftright(col("h"), 8))
        .withColumn("rho",
          when(col("wb") === 0, lit(24))
            .otherwise((log2(col("wb").bitwiseAND(-col("wb"))) + 1).cast("int")))
        .groupBy(col("lang"), col("reg")).agg(max(col("rho")).as("mreg"))
      val est = regs.groupBy(col("lang")).agg(
          (sum(lit(1.0) / expr("shiftleft(cast(1 as bigint), mreg)"))
            + (lit(256) - count(lit(1)))).as("sum_exp"),
          (lit(256) - count(lit(1))).as("zeros"))
        .withColumn("raw", lit(HllAlphaM2) / col("sum_exp"))
        // small-range (linear-counting) branch: 256·ln(256/zeros) looked up
        // from [[HllLinearCount]] — a 256-entry table of Scala-computed
        // doubles interpolated into BOTH engines as identical literals, so
        // no engine-native ln() is ever evaluated (closes the one
        // documented last-ulp cross-engine float risk in this query)
        .withColumn("hll_est",
          round(when(col("raw") <= 640 && col("zeros") > 0,
            element_at(array(HllLinearCount.map(lit): _*), col("zeros").cast("int")))
            .otherwise(col("raw")), 1))
      val exact = words.groupBy(col("lang")).agg(countDistinct(col("w")).as("n_exact"))
      est.join(exact, "lang").select(col("lang"), col("hll_est"), col("n_exact"))
    },
      s"""WITH wds AS (SELECT lang, unnest($oShingles) AS w
            FROM (SELECT lang, string_split_regex(trim(text), ' +') AS w FROM documents)),
          hh AS (SELECT lang, w, (${oFp("w")}*${TF.hashA(0)} + ${TF.hashB(0)}) % ${TF.HashP} AS h FROM wds),
          r AS (SELECT lang, h & 255 AS reg,
                 CASE WHEN (h >> 8) = 0 THEN 24
                      ELSE cast(log2((h >> 8) & -(h >> 8)) AS INT) + 1 END AS rho
                FROM hh),
          regs AS (SELECT lang, reg, max(rho) AS mreg FROM r GROUP BY 1, 2),
          prof AS (SELECT lang,
                    sum(1.0 / (1::BIGINT << mreg)) + (256 - count(*)) AS sum_exp,
                    256 - count(*) AS zeros
                   FROM regs GROUP BY 1),
          est AS (SELECT lang, $HllAlphaM2 / sum_exp AS raw, zeros FROM prof),
          ex AS (SELECT lang, count(DISTINCT w) AS n_exact FROM wds GROUP BY 1)
          SELECT est.lang,
            round(CASE WHEN raw <= 640 AND zeros > 0
                       THEN (${HllLinearCount.mkString("[", ", ", "]")})[zeros]
                       ELSE raw END, 1) AS hll_est,
            n_exact
          FROM est JOIN ex ON est.lang = ex.lang"""),

    Query("q_quantile_sketch", (s, dir) => {
      // Mergeable QUANTILE SKETCH via deterministic hash-threshold
      // sampling: keep a row iff fingerprint(stable row id) ≡ 0 (mod 8) —
      // a property closed under union (the sample of a merged corpus IS
      // the merged samples), which is exactly what makes it a mergeable
      // sketch: partitions sample independently, partial aggregates
      // combine, no coordination. Exact quantiles on the 1/8 sample give
      // ±O(1/√n_sample) rank error; n_total stays exact. At 100 TB the
      // shuffle carries only the per-group sample, not the corpus.
      TextFingerprint.register(s)
      val rowId = (col("l_orderkey") * lit(10) + col("l_linenumber")).cast("string")
      val sel = pmod(call_function("text_fingerprint", rowId), lit(8L)) === 0
      t(s, dir, "lineitem")
        .withColumn("samp", when(sel, col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_total"),
          count(col("samp")).as("n_sample"),
          round(expr("percentile(samp, 0.5)"), 3).as("p50_est"),
          round(expr("percentile(samp, 0.95)"), 3).as("p95_est"))
    }, {
      val fp = oFp("cast(l_orderkey*10 + l_linenumber AS VARCHAR)")
      s"""SELECT l_returnflag, count(*) AS n_total,
            count(samp) AS n_sample,
            round(quantile_cont(samp, 0.5), 3) AS p50_est,
            round(quantile_cont(samp, 0.95), 3) AS p95_est
          FROM (SELECT l_returnflag,
                  CASE WHEN ((($fp % 8) + 8) % 8) = 0 THEN l_extendedprice END AS samp
                FROM lineitem)
          GROUP BY l_returnflag"""
    }),

    Query("q_cms_heavyhitters", (s, dir) => {
      // CountMin-sketch heavy hitters (d = 4 hash rows × w = 256 buckets)
      // over token frequencies: the sketch side aggregates the stream into
      // 1024 integer cells (mergeable counts, map-side partial — at 100 TB
      // the only thing shuffled is the 1024-cell sketch per partition),
      // then the exact top-20 tokens are point-queried against it
      // (estimate = min over the 4 row cells; ≥ exact by construction, and
      // within the ε·N = N/w CountMin bound of it for true heavy hitters).
      // All-integer arithmetic: bit-identical in the DuckDB oracle, which
      // carries the exact counts (n_exact) as the quality twin.
      TextFingerprint.register(s)
      val toks = fanOut(t(s, dir, "documents"))
        .select(explode(TF.tokens(col("text"))).as("w"))
        .withColumn("fp", call_function("text_fingerprint", col("w")))
      val cellStructs = array((0 until 4).map { k =>
        struct(lit(k).as("row"),
          TF.universalHash(col("fp"), k).bitwiseAND(lit(255L)).as("bucket"))
      }: _*)
      val cells = toks.select(explode(cellStructs).as("c"))
        .groupBy(col("c.row").as("row"), col("c.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      // Distributed top-k: orderBy + limit plans as TakeOrderedAndProject
      // (per-partition top-20 heaps merged at the driver) — NOT a
      // partitionless row_number window, which would funnel every distinct
      // token into one task (PlanSpec asserts no partitionless WindowExec).
      // The ≤ 20 survivors are then ranked by a bounded self-join count
      // (rank = 1 + #strictly-better peers, ≤ 400 comparisons total).
      val top = toks.groupBy(col("w"), col("fp")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("w")).limit(20)
      val cands = top.as("x").join(top.select(col("w").as("y_w"),
          col("n_exact").as("y_n")),
          col("y_n") > col("x.n_exact") ||
            (col("y_n") === col("x.n_exact") && col("y_w") < col("x.w")),
          "left")
        .groupBy(col("x.w").as("w"), col("x.fp").as("fp"), col("x.n_exact").as("n_exact"))
        .agg((count(col("y_w")) + 1).cast("int").as("rk"))
      cands.select(col("w"), col("rk"), col("n_exact"), explode(cellStructs).as("c"))
        .join(cells,
          col("c.row") === cells("row") && col("c.bucket") === cells("bucket"))
        .groupBy(col("w"), col("rk"), col("n_exact"))
        .agg(min(col("cnt")).as("cms_est"))
        .select(col("w").as("token"), col("rk"), col("cms_est"), col("n_exact"))
    }, {
      def bucket(k: Int) = s"((fp*${TF.hashA(k)} + ${TF.hashB(k)}) % ${TF.HashP}) & 255"
      val rows = (0 until 4).map(k => s"SELECT $k AS row, ${bucket(k)} AS bucket FROM f")
        .mkString(" UNION ALL ")
      val cellJoins = (0 until 4).map(k =>
        s"JOIN cells c$k ON c$k.row = $k AND c$k.bucket = ${bucket(k)}").mkString(" ")
      s"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), ' +')) AS w FROM documents),
          f AS (SELECT w, ${oFp("w")} AS fp FROM toks),
          cells AS (SELECT row, bucket, count(*) AS cnt FROM ($rows) GROUP BY 1, 2),
          cands AS (SELECT w, fp, count(*) AS n_exact FROM f GROUP BY 1, 2),
          top AS (SELECT w, fp, n_exact,
                   cast(row_number() OVER (ORDER BY n_exact DESC, w) AS INT) AS rk
                  FROM cands QUALIFY rk <= 20)
          SELECT w AS token, rk, least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) AS cms_est, n_exact
          FROM top $cellJoins"""
    }),

    Query("q_kmv_intersect", (s, dir) => {
      // KMV / theta sketch SET OPERATIONS (Beyer et al., SIGMOD 2007; the
      // DataSketches theta framework): per-language k-minimum-values
      // sketches over distinct shingle hashes, then per-pair UNION and
      // INTERSECTION cardinality estimates — the set-op face HLL lacks
      // (HLL unions; it cannot intersect without inclusion–exclusion error
      // blowup). Estimators: û(A∪B) = (k−1)·M / v_k over the merged k-set;
      // î(A∩B) = ρ·û where ρ = |{v ∈ merged : v ∈ A ∧ v ∈ B}| / k — valid
      // because any merged value ≤ v_k present in A must be in KMV_k(A).
      // All integer arithmetic over the deterministic fingerprint space
      // M = 1e9+7 — hash-exact cross-engine. Scale shape: ONE distinct
      // (lang, h) exchange (partial-agg'd) builds the sketch input; the
      // per-lang bottom-k is the bounded TopKAgg (≤ k rows per map task
      // per lang — never a window over the distinct-hash stream); pair
      // enumeration is a |langs|² self-join of k-length arrays — a bounded
      // dimension. The exact intersection rides along as the quality twin
      // (an h-keyed equi-join — linear, each hash meets ≤ |langs| rows).
      TextFingerprint.register(s)
      SF.register(s)
      val k = 256
      val hashes = fanOut(t(s, dir, "documents"))
        .select(col("lang"), explode(SF.shinglesF(TF.tokens(col("text")))).as("sh"))
        .select(col("lang"), call_function("text_fingerprint", col("sh")).as("h"))
        .distinct()
      val bottomk = udaf(new graft.functions.TopKAgg(k),
        graft.functions.TopKAgg.scoredEncoder)
      // TopKAgg keeps (score DESC, id ASC): score = −h ⇒ the k SMALLEST
      // distinct hashes, ascending — exactly KMV_k. h < 2^31 so the Double
      // sort key is exact.
      val kmv = hashes.groupBy(col("lang"))
        .agg(bottomk(col("h"), (col("h") * -1).cast("double")).as("kmv"))
      val pairs = kmv.as("a").join(kmv.as("b"), col("a.lang") < col("b.lang"))
        .select(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"),
          col("a.kmv").as("ka"), col("b.kmv").as("kb"))
      val exact = hashes.as("x").join(hashes.as("y"),
          col("x.h") === col("y.h") && col("x.lang") < col("y.lang"))
        .groupBy(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_exact"))
      pairs
        .withColumn("merged",
          expr(s"slice(array_sort(array_distinct(concat(ka, kb))), 1, $k)"))
        .withColumn("kk", size(col("merged")).cast("long"))
        .withColumn("vk", expr("element_at(merged, cast(kk as int))"))
        .withColumn("shared",
          size(expr("array_intersect(array_intersect(merged, ka), kb)"))
            .cast("long"))
        // (k−1)·M precomputed as one BIGINT literal (an int×int product
        // would overflow in both engines): 255 × 1000000007
        .withColumn("union_est",
          expr(s"CASE WHEN kk < $k THEN kk ELSE 255000001785 div vk END"))
        .withColumn("intersect_est", expr("shared * union_est div kk"))
        .join(exact, Seq("lang_a", "lang_b"), "left")
        .select(col("lang_a"), col("lang_b"), col("kk"), col("shared"),
          col("union_est"), col("intersect_est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
    },
      s"""WITH docs AS (SELECT lang, string_split_regex(trim(text), ' +') AS w
           FROM documents),
         sh AS (SELECT lang, unnest($oShingles) AS sg FROM docs),
         h AS (SELECT DISTINCT lang, ${oFp("sg")} AS h FROM sh),
         kmv AS (SELECT lang, h FROM (
             SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
             FROM h)
           WHERE rk <= 256),
         pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b
           FROM (SELECT DISTINCT lang FROM h) a, (SELECT DISTINCT lang FROM h) b
           WHERE a.lang < b.lang),
         mh AS (SELECT p.lang_a, p.lang_b, k.h,
             max(CASE WHEN k.lang = p.lang_a THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN k.lang = p.lang_b THEN 1 ELSE 0 END) AS in_b
           FROM pr p JOIN kmv k ON k.lang = p.lang_a OR k.lang = p.lang_b
           GROUP BY p.lang_a, p.lang_b, k.h),
         topm AS (SELECT lang_a, lang_b, h, in_a, in_b FROM (
             SELECT lang_a, lang_b, h, in_a, in_b,
               row_number() OVER (PARTITION BY lang_a, lang_b ORDER BY h) AS rk
             FROM mh) WHERE rk <= 256),
         st AS (SELECT lang_a, lang_b, count(*)::BIGINT AS kk, max(h) AS vk,
             sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT AS shared
           FROM topm GROUP BY lang_a, lang_b),
         ex AS (SELECT x.lang AS lang_a, y.lang AS lang_b, count(*)::BIGINT AS n_exact
           FROM h x JOIN h y ON x.h = y.h AND x.lang < y.lang GROUP BY 1, 2)
         SELECT st.lang_a, st.lang_b, kk, shared,
           (CASE WHEN kk < 256 THEN kk ELSE 255000001785 // vk END)::BIGINT AS union_est,
           ((shared * (CASE WHEN kk < 256 THEN kk ELSE 255000001785 // vk END)) // kk)::BIGINT AS intersect_est,
           coalesce(ex.n_exact, 0)::BIGINT AS n_exact
         FROM st LEFT JOIN ex USING (lang_a, lang_b)""")
  )

  /** HLL bias-correction constant α_m·m² for m = 256 (Flajolet et al. 2007).
    * Computed once in Scala and interpolated into the DuckDB oracle as its
    * shortest-round-trip decimal, so both engines hold the identical double. */
  private val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0

  /** HLL small-range (linear counting) table: entry z (1-based) =
    * 256·ln(256/z). Same cross-engine discipline as [[HllAlphaM2]]: the
    * doubles are computed ONCE here and fed to both engines as identical
    * shortest-round-trip literals, so neither engine evaluates its own
    * ln() — the estimate is bit-exact by construction. */
  private val HllLinearCount: IndexedSeq[Double] =
    (1 to 256).map(z => 256.0 * math.log(256.0 / z))
}
