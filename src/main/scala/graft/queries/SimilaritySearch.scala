package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import Shared._

/** Vector search over the embeddings table: exact cosine k-NN, the trained
  * IVF coarse quantizer and product quantization (also used by
  * [[graft.vector.VectorIndex]]), semantic dedup, hard negatives, mean
  * pooling, rank fusion and the retrieval evals (nDCG, cluster purity). */
object SimilaritySearch {

  lazy val queries: Seq[Query] = Seq(
    Query("q_knn_cosine", (s, dir) => {
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
        .withColumn("sim", VF.dotF(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
          round(col("sim"), 6).as("sim"))
    },
      s"""WITH e AS (SELECT vec_id, embedding, ${oNorm("embedding")} AS nrm FROM embeddings)
          SELECT query_id, cast(rk AS INT) AS rk, neighbor_id, round(sim, 6) AS sim FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
              ${oDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) AS sim,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${oDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) DESC, e.vec_id) AS rk
            FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id < 10) q
            WHERE e.vec_id <> q.vec_id) WHERE rk <= 5"""),

    Query("q_knn_ivf", (s, dir) => knnIvf(s, dir, nprobe = 2), oKnnIvf),

    Query("q_pq_encode", (s, dir) => {
      // PQ compression of the embedding column: 64 float dims → 8 4-bit
      // codes (4 bytes/vector, 64× smaller than float32). The encode is an
      // equi-join of the narrow (vec_id, m, sv) subvector rows against the
      // BROADCAST 128-row codebook + one partial-agg'd argmin — no window,
      // no shuffle wider than the groupBy on (vec_id, m). Codes emit as a
      // comma-joined string (scalar) — the oracle comparator sorts/hashes
      // cells and cannot handle array cells.
      VF.register(s)
      val qz = ivfQuantized(t(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
      val books = pqTrainCodebooks(s, qz)
      pqCodes(pqSubvectors(qz, "vec_id"), books, "vec_id")
        .groupBy(col("vec_id"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(struct(col("m"), col("code")))),
            x => x.getField("code").cast("string"))).as("codes"))
    },
      s"""WITH $oQzCtes, $oPqCtes
          SELECT vec_id, string_agg(code::VARCHAR, ',' ORDER BY m) AS codes
          FROM pqcodes GROUP BY vec_id"""),

    Query("q_knn_pq", (s, dir) => {
      // IVF-ADC with exact refinement (the full FAISS IVF-PQ,Refine search,
      // no-residual variant): the coarse quantizer prunes to nprobe=2
      // inverted lists; ranking inside the lists runs ENTIRELY in the
      // compressed domain — asymmetric distance Σ_m dtable[m][code_m(x)],
      // an equi-join of candidates' codes against the query's BROADCAST
      // 8×16 distance table; then the ADC top-PqShortlist per query is
      // re-ranked by EXACT cosine (the `refine` stage — raw embeddings are
      // touched for only PqShortlist rows per query, an equi-join point
      // lookup). At 10^12 vectors the ADC scan side is the 4-byte/vector
      // code table, which is the reason PQ exists; measured on sf0.001 the
      // refine stage lifts recall@5 from 0.2 (raw 4-bit ADC ranking) to
      // 0.40 — within 0.02 of the 2-probe candidate cap 0.42 = q_knn_ivf's
      // (PqSpec pins both the recall floor and 0.86 agreement with IVF).
      // Arithmetic is integer (ADC) plus the sequential-fold cosine shared
      // with q_knn_* ⇒ hash-exact oracle. (The residual variant — encode
      // x − centroid(x) — buys ADC precision at the cost of per-list code
      // dependence; raw-vector PQ keeps codes list-independent, and the
      // refine stage recovers the precision anyway.)
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
      val qz = ivfQuantized(e)
      val cents = ivfTrainCentroids(s, qz)
      val books = pqTrainCodebooks(s, qz)
      val assign = ivfNearestMap(qz.select(col("vec_id"), col("qv")), "vec_id", cents)
      val codes = pqCodes(pqSubvectors(qz, "vec_id"), books, "vec_id")
      val q = qz.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("query_id"), col("qv"),
          col("embedding").as("qe"), col("nrm").as("qnrm"))
      val wProbe = Window.partitionBy(col("query_id")).orderBy(col("_d2"), col("cent_id"))
      val probes = q.select(col("query_id"), col("qv")).crossJoin(broadcast(cents))
        .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
        .withColumn("_rk", row_number().over(wProbe)).filter(col("_rk") <= 2)
        .select(col("query_id"), col("cent_id"))
      val dtable = pqSubvectors(q.select(col("query_id"), col("qv")), "query_id")
        .join(broadcast(books), "m")
        .select(col("query_id"), col("m"), col("code"),
          VF.sqDistL(col("sv"), col("cv")).as("d2"))
      val cand = probes.join(assign, "cent_id")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"))
      val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
      val shortlist = cand.join(codes, "vec_id")
        .join(broadcast(dtable), Seq("query_id", "m", "code"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("d2")).as("adist"))
        .withColumn("ark", row_number().over(wAdc)).filter(col("ark") <= PqShortlist)
        .select(col("query_id"), col("vec_id"))
      val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      shortlist.join(e, "vec_id")
        .join(broadcast(q.select(col("query_id"), col("qe"), col("qnrm"))), "query_id")
        .withColumn("sim", VF.dotF(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")))
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 5)
        .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
          round(col("sim"), 6).as("sim"))
    },
      s"""WITH $oIvfCtes, $oPqCtes,
          q AS (SELECT vec_id AS query_id, qv FROM qz
            WHERE vec_id >= 100 AND vec_id < 110),
          qsub AS (SELECT query_id, m,
            list_transform(generate_series(1, $PqSub), i -> qv[m*$PqSub+i]) AS sv
            FROM q, generate_series(0, ${PqM - 1}) gq(m)),
          dtable AS (SELECT query_id, qs.m, b.code,
              ${oD2n("qs.sv", "b.cv", PqSub)} AS d2
            FROM qsub qs JOIN b$PqIters b ON qs.m = b.m),
          probes AS (SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY ${oD2("q.qv", "c.cv")}, c.cent_id) AS rk
            FROM q CROSS JOIN c$IvfIters c) WHERE rk <= 2),
          cand AS (SELECT p.query_id, a.vec_id
            FROM probes p JOIN assign a ON p.cent_id = a.cent_id
            WHERE a.vec_id <> p.query_id),
          ad AS (SELECT c.query_id, c.vec_id, CAST(sum(d.d2) AS BIGINT) AS adist
            FROM cand c JOIN pqcodes k ON c.vec_id = k.vec_id
            JOIN dtable d ON d.query_id = c.query_id AND d.m = k.m AND d.code = k.code
            GROUP BY 1, 2),
          shortlist AS (SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS ark
            FROM ad) WHERE ark <= $PqShortlist),
          qv2 AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm FROM qz
            WHERE vec_id >= 100 AND vec_id < 110)
          SELECT query_id, CAST(rk AS INT) AS rk, vec_id AS neighbor_id,
            round(sim, 6) AS sim FROM (
            SELECT s.query_id, s.vec_id,
              ${oDot("e.embedding", "q2.qe")} / (e.nrm * q2.qnrm) AS sim,
              row_number() OVER (PARTITION BY s.query_id
                ORDER BY ${oDot("e.embedding", "q2.qe")} / (e.nrm * q2.qnrm) DESC,
                  s.vec_id) AS rk
            FROM shortlist s JOIN e ON s.vec_id = e.vec_id
            JOIN qv2 q2 ON s.query_id = q2.query_id) WHERE rk <= 5"""),

    Query("q_semantic_dedup", (s, dir) => {
      // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
      // cluster the embedding space FIRST with the same trained coarse
      // quantizer as q_knn_ivf, then look for near-duplicates ONLY within a
      // cluster — pairwise cosine is bounded by the cluster population,
      // never corpus-wide (contrast the all-pairs q_dedup_embed_cosine
      // twin). At 10^12 rows k grows with the corpus (k ≈ n/⟨cluster⟩ keeps
      // the per-cluster pair count constant — the paper uses k = 50k for
      // LAION), the pair join shuffles on cent_id alone, and the centroid
      // set stays a broadcast. Keep rule: a vector is dropped iff a
      // LOWER-id vector in its cluster is ≥ τ cosine-similar (the paper
      // orders by distance-to-centroid; any stable total order gives the
      // same dedup guarantee — one pass, no transitive closure needed).
      // Float policy: the cosine is a strictly sequential fold with
      // identical op order in both engines, so the τ compare is bit-exact.
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
      val qz = ivfQuantized(e)
      val cents = ivfTrainCentroids(s, qz)
      // assignment WITHOUT a join-back: argmin over the 16 broadcast
      // centroids carries embedding+nrm through ONE partial-aggregatable
      // min(struct(...)) — (d2, cent_id) is unique per group so the
      // trailing struct fields never participate in the comparison
      val assign = qz.crossJoin(broadcast(cents))
        .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("_d2"), col("cent_id"), col("embedding"), col("nrm"))).as("m"))
        .select(col("vec_id"), col("m.cent_id").as("cent_id"),
          col("m.embedding").as("embedding"), col("m.nrm").as("nrm"))
      // Three consumers read `assign` (both self-join sides + the keep-flag
      // join); AQE's ReuseExchange unifies two, and an IsNotNull pushed into
      // the join branches breaks canonical equality with the outer-join
      // branch, so the assignment aggregation computes twice here. A
      // localCheckpoint that materializes it once A/B'd WITHIN host noise
      // at sf0.1 (0.7-1.8 s both ways across windows) — the fused plan
      // stays because checkpointing is not the scale mechanism either: at
      // 10^9+ vectors the pipeline stages `assign` as a TABLE (one corpus
      // pass, consumers scan the stage), exactly like the snapshot layer
      // stages extraction output.
      val dups = assign.as("a").join(assign.as("b"),
          col("a.cent_id") === col("b.cent_id") && col("a.vec_id") < col("b.vec_id"))
        .filter(VF.dotF(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")) >= SemDedupTau)
        .select(col("b.vec_id").as("vec_id")).distinct()
      assign.select(col("vec_id"), col("cent_id"))
        .join(dups.withColumn("_dup", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cent_id"), col("_dup").isNull.as("kept"))
    },
      // cluster-scoped cosine pairs over the SAME unrolled training +
      // assignment CTEs as the q_knn_ivf oracle; kept = no lower-id
      // in-cluster neighbor at ≥ τ cosine
      s"""WITH $oIvfCtes,
          pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM assign a JOIN assign b
                    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
                    WHERE ${oDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $SemDedupTau),
          dups AS (SELECT DISTINCT id_b FROM pairs)
          SELECT a.vec_id, a.cent_id, d.id_b IS NULL AS kept
          FROM assign a LEFT JOIN dups d ON a.vec_id = d.id_b"""),

    Query("q_hard_negatives", (s, dir) => {
      // HARD-NEGATIVE MINING for contrastive training (the DPR recipe,
      // Karpukhin et al. 2020: negatives that are semantically CLOSE but
      // wrongly labeled move the loss; random negatives are too easy):
      // for each probe vector, the top-3 most-similar vectors with a
      // DIFFERENT label. Scale shape = q_knn_ivf's: train the coarse
      // quantizer once (bounded driver sample), search ONLY the probe's 2
      // nearest inverted lists (equi-join on cent_id — never all-pairs);
      // the label-inequality is a filter on the in-list candidate set and
      // the per-probe top-3 window is bounded by the probed lists.
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          VF.l2NormF(col("embedding")).as("nrm"))
      val qz = ivfQuantized(e)
      val cents = ivfTrainCentroids(s, qz)
      val assign = qz.crossJoin(broadcast(cents))
        .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("_d2"), col("cent_id"), col("label"),
          col("embedding"), col("nrm"))).as("m"))
        .select(col("vec_id"), col("m.cent_id").as("cent_id"),
          col("m.label").as("label"), col("m.embedding").as("embedding"),
          col("m.nrm").as("nrm"))
      val q = qz.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("embedding").as("qe"), col("nrm").as("qnrm"), col("qv"))
      val wProbe = Window.partitionBy(col("query_id")).orderBy(col("_d2"), col("cent_id"))
      val probes = q.crossJoin(broadcast(cents))
        .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
        .withColumn("_rk", row_number().over(wProbe)).filter(col("_rk") <= 2)
        .select(col("query_id"), col("qlabel"), col("qe"), col("qnrm"), col("cent_id"))
      val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      probes.join(assign, "cent_id")
        .filter(col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
        .withColumn("sim", VF.dotF(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")))
        .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 3)
        .select(col("query_id"), col("qlabel").as("query_label"), col("rk"),
          col("vec_id").as("negative_id"), col("label").as("negative_label"),
          round(col("sim"), 6).as("sim"))
    },
      s"""WITH $oIvfCtes,
         lab AS (SELECT vec_id, label FROM embeddings),
         q AS (SELECT qz.vec_id AS query_id, l.label AS qlabel,
             embedding AS qe, nrm AS qnrm, qv
           FROM qz JOIN lab l ON qz.vec_id = l.vec_id
           WHERE qz.vec_id >= 100 AND qz.vec_id < 110),
         probes AS (SELECT query_id, qlabel, qe, qnrm, cent_id FROM (
           SELECT q.query_id, q.qlabel, q.qe, q.qnrm, c.cent_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY ${oD2("q.qv", "c.cv")}, c.cent_id) AS rk
           FROM q CROSS JOIN c$IvfIters c) WHERE rk <= 2)
         SELECT query_id, query_label, cast(rk AS INT) AS rk,
           negative_id, negative_label, round(sim, 6) AS sim FROM (
           SELECT p.query_id, p.qlabel AS query_label, a.vec_id AS negative_id,
             l2.label AS negative_label,
             ${oDot("a.embedding", "p.qe")} / (a.nrm * p.qnrm) AS sim,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY ${oDot("a.embedding", "p.qe")} / (a.nrm * p.qnrm) DESC,
                 a.vec_id) AS rk
           FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           JOIN lab l2 ON a.vec_id = l2.vec_id
           WHERE a.vec_id <> p.query_id AND l2.label <> p.qlabel)
         WHERE rk <= 3"""),

    Query("q_embed_meanpool", (s, dir) => {
      // MEAN-POOLING chunk embeddings into item embeddings (how a document
      // or conversation vector is assembled from its chunk/turn vectors
      // before indexing — the standard sentence-transformers pooling).
      // Components are integer-scaled (floor(x·10⁶): float→double widening
      // and the multiply are bit-identical cross-engine, floor kills the
      // tail) so the pooled sum is hash-exact. Scale shape: the element-
      // wise sum is [[graft.functions.ArraySumAgg]] — a typed Aggregator
      // whose map-side combine ships ONE 64-long array per group per map
      // task, where the posexplode+groupBy form would multiply the
      // shuffled rows by the vector dimension. One exchange, window-free.
      val pool = udaf(new graft.functions.ArraySumAgg,
        graft.functions.ArraySumAgg.inputEncoder)
      t(s, dir, "embeddings")
        .select(expr("vec_id div 10").as("gid"),
          expr("transform(embedding, x -> cast(floor(cast(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("sc"))
        .groupBy(col("gid"))
        .agg(pool(col("sc")).as("sums"), count(lit(1)).as("n_chunks"))
        .select(col("gid"), col("n_chunks"),
          // Scalarized (comma-joined) for the oracle comparator, which
          // sorts/hashes cells and cannot handle array cells.
          expr("array_join(transform(sums, x -> cast(x div n_chunks AS STRING)), ',')")
            .as("pooled_micro"))
    },
      """WITH x AS (SELECT vec_id // 10 AS gid,
             list_transform(embedding, v -> floor(v::DOUBLE * 1000000)::BIGINT) AS sc
           FROM embeddings),
         u AS (SELECT gid, unnest(range(1, len(sc) + 1)) AS i, unnest(sc) AS v
           FROM x),
         g AS (SELECT gid, i, sum(v)::BIGINT AS s FROM u GROUP BY gid, i),
         c AS (SELECT gid, count(*)::BIGINT AS n_chunks FROM x GROUP BY gid)
         SELECT g.gid, c.n_chunks,
           string_agg((s // n_chunks)::VARCHAR, ',' ORDER BY i) AS pooled_micro
         FROM g JOIN c USING (gid) GROUP BY g.gid, c.n_chunks"""),

    Query("q_rank_fusion", (s, dir) => {
      // HYBRID-RETRIEVAL RANK FUSION — reciprocal rank fusion (Cormack,
      // Clarke & Büttcher, SIGIR 2009): rrf(d) = Σ_lists 1/(60 + rank_d),
      // the standard way a BM25 list and an ANN list merge into one
      // ranking. Exact micro-integer form floor(10⁶/(60+rank)) so the
      // fused score is hash-identical cross-engine. The two retrievers
      // here are quality-ranked and length-ranked per-lang top-10 lists
      // (stand-ins for the engine's q_bm25/q_knn_* retrievers — the
      // operator under test is the FUSION). Scale shape: each list is
      // bounded by the map-side-combining TopKAgg (never a corpus-wide
      // window); the fusion outer join and final re-rank see only the
      // ≤ 20-rows-per-group fused relation — bounded by construction.
      val topq = udaf(new graft.functions.TopKAgg(10),
        graft.functions.TopKAgg.scoredEncoder)
      val base = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          round(TF.qualityScore(col("text")), 4).as("quality"),
          col("n_chars").cast("double").as("len_score"))
      def list(scoreCol: String, out: String): DataFrame = base
        .groupBy(col("lang"))
        .agg(topq(col("doc_id"), col(scoreCol)).as("tops"))
        .select(col("lang"), posexplode(col("tops")).as(Seq("pos", "doc_id")))
        .select(col("lang"), col("doc_id"),
          expr("1000000 div (61 + pos)").as(out)) // pos 0-based ⇒ 60 + rank
      list("quality", "rrf_a")
        .join(list("len_score", "rrf_b"), Seq("lang", "doc_id"), "full_outer")
        .withColumn("rrf_u",
          coalesce(col("rrf_a"), lit(0L)) + coalesce(col("rrf_b"), lit(0L)))
        .withColumn("rk", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("rrf_u").desc, col("doc_id"))))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("doc_id"), col("rrf_u"))
    },
      s"""WITH d AS (SELECT lang, doc_id, text,
             string_split_regex(trim(text), ' +') AS w, n_chars FROM documents),
         la AS (SELECT lang, doc_id, 1000000 // (60 + rn) AS rrf_a FROM (
             SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
               ORDER BY $oQualityExpr DESC, doc_id) AS rn FROM d)
           WHERE rn <= 10),
         lb AS (SELECT lang, doc_id, 1000000 // (60 + rn) AS rrf_b FROM (
             SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
               ORDER BY n_chars::DOUBLE DESC, doc_id) AS rn FROM d)
           WHERE rn <= 10),
         f AS (SELECT coalesce(la.lang, lb.lang) AS lang,
             coalesce(la.doc_id, lb.doc_id) AS doc_id,
             (coalesce(rrf_a, 0) + coalesce(rrf_b, 0))::BIGINT AS rrf_u
           FROM la FULL JOIN lb ON la.lang = lb.lang AND la.doc_id = lb.doc_id)
         SELECT lang, CAST(rk AS INT) AS rk, doc_id, rrf_u FROM (
           SELECT lang, doc_id, rrf_u, row_number() OVER (PARTITION BY lang
             ORDER BY rrf_u DESC, doc_id) AS rk FROM f)
         WHERE rk <= 5"""),

    Query("q_ndcg_eval", (s, dir) => {
      // RETRIEVAL-QUALITY EVAL — nDCG@5 of the IVF ANN ranking against the
      // exact-cosine ranking (the A9 eval-metrics discipline applied to
      // the retrieval family; complements IvfRecallSpec's recall floor
      // with the POSITION-sensitive metric). Graded relevance
      // rel(d) = 6 − exact_rank(d), 0 outside the exact top-5; discount
      // gains 10⁶/log₂(i+1) are micro-integer literals computed ONCE in
      // Scala and interpolated into BOTH engines (the HllLinearCount
      // discipline — neither engine evaluates its own log), so dcg/ndcg
      // are integer-exact. Scale shape: the approx side is the pruned IVF
      // plan; the exact side is the brute-force twin restricted to the
      // bounded query fixture (an eval set, small by nature).
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
      val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe2"),
          col("nrm").as("qnrm"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
        .withColumn("sim", VF.dotF(col("embedding"), col("qe2")) / (col("nrm") * col("qnrm")))
        .withColumn("erk", row_number().over(w)).filter(col("erk") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("erk"))
      knnIvf(s, dir, nprobe = 2)
        .join(exact, Seq("query_id", "neighbor_id"), "left")
        .withColumn("rel", coalesce(lit(6) - col("erk"), lit(0)).cast("long"))
        .withColumn("g",
          element_at(array(NdcgGains.map(lit(_)): _*), col("rk")) * col("rel"))
        .groupBy(col("query_id"))
        .agg(sum(col("g")).cast("long").as("dcg_u"))
        .withColumn("idcg_u", lit(NdcgIdcg))
        .withColumn("ndcg_milli", expr("(1000 * dcg_u) div idcg_u"))
    }, {
      val gainCase = NdcgGains.zipWithIndex
        .map { case (g, i) => s"WHEN ${i + 1} THEN $g" }.mkString(" ")
      s"""WITH $oIvfCtes,
         q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm, qv
           FROM qz WHERE vec_id >= 100 AND vec_id < 110),
         probes AS (SELECT query_id, qe, qnrm, cent_id FROM (
           SELECT q.query_id, q.qe, q.qnrm, c.cent_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY ${oD2("q.qv", "c.cv")}, c.cent_id) AS rk
           FROM q CROSS JOIN c$IvfIters c) WHERE rk <= 2),
         approx AS (SELECT query_id, rk, neighbor_id FROM (
           SELECT p.query_id, a.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY ${oDot("a.embedding", "p.qe")} / (a.nrm * p.qnrm) DESC,
                 a.vec_id) AS rk
           FROM probes p JOIN assign a ON p.cent_id = a.cent_id
           WHERE a.vec_id <> p.query_id) WHERE rk <= 5),
         exact AS (SELECT query_id, neighbor_id, erk FROM (
           SELECT q.query_id, a.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY ${oDot("a.embedding", "q.qe")} / (a.nrm * q.qnrm) DESC,
                 a.vec_id) AS erk
           FROM qz a CROSS JOIN q WHERE a.vec_id <> q.query_id) WHERE erk <= 5),
         j AS (SELECT ap.query_id, ap.rk,
             coalesce(6 - ex.erk, 0)::BIGINT AS rel
           FROM approx ap LEFT JOIN exact ex
             ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id)
         SELECT query_id,
           sum(rel * CASE rk $gainCase END)::BIGINT AS dcg_u,
           $NdcgIdcg::BIGINT AS idcg_u,
           ((1000 * sum(rel * CASE rk $gainCase END)::BIGINT) // $NdcgIdcg)::BIGINT AS ndcg_milli
         FROM j GROUP BY query_id"""
    }),

    Query("q_cluster_purity", (s, dir) => {
      // QUANTIZER-QUALITY EVAL — cluster purity of the trained coarse
      // quantizer against the labeled embeddings (the A9 eval-metrics
      // face for the clustering family, beside recall@5/IvfRecallSpec and
      // nDCG/q_ndcg_eval for retrieval): per cluster, the majority
      // label's share in integer milli-purity. Scale shape: assignment is
      // the shared partial-agg'd argmin (ivfNearestMap — no corpus-sized
      // broadcast); everything after is two grouped aggregates whose
      // second input is the bounded k×|labels| relation. Majority
      // election is max_by over a UNIQUE packed key
      // count·2³² + (2³¹−1 − label): collision-free for EVERY 32-bit
      // label (a decimal base would collide once labels reach it), ties
      // break to the lowest label; counts per (cluster,label) must stay
      // < 2³¹ — beyond that, widen the election to a struct ordering.
      VF.register(s)
      val e = t(s, dir, "embeddings")
      val qz = ivfQuantized(e.select(col("vec_id"), col("embedding")))
      val cents = ivfTrainCentroids(s, qz)
      val assign = ivfNearestMap(qz.select(col("vec_id"), col("qv")), "vec_id", cents)
      assign.join(e.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cent_id"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("packed",
          col("c") * 4294967296L + (lit(2147483647L) - col("label")))
        .groupBy(col("cent_id"))
        .agg(sum(col("c")).cast("long").as("n"),
          max_by(col("label"), col("packed")).as("top_label"),
          max_by(col("c"), col("packed")).cast("long").as("top_n"))
        .withColumn("purity_milli", expr("(1000 * top_n) div n"))
    },
      s"""WITH $oIvfCtes,
         cl AS (SELECT a.cent_id, e.label, count(*)::BIGINT AS c
           FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
           GROUP BY 1, 2),
         p AS (SELECT cent_id, label, c,
             c * 4294967296 + (2147483647 - label) AS packed FROM cl)
         SELECT cent_id, sum(c)::BIGINT AS n,
           max_by(label, packed) AS top_label,
           max_by(c, packed)::BIGINT AS top_n,
           ((1000 * max_by(c, packed)) // sum(c))::BIGINT AS purity_milli
         FROM p GROUP BY cent_id""")
  )

  /** IVF coarse-quantizer training constants (deterministic Lloyd's k-means
    * over scaled-integer vectors; see q_knn_ivf). IvfMaxTrain bounds the
    * driver-side training sample (FAISS-style); it exceeds every test SF's
    * vector count, so the oracle's full-set training matches exactly. */
  private[graft] val IvfK = 16
  private[graft] val IvfIters = 3
  private[graft] val IvfScale = 1000000.0
  private[graft] val IvfMaxTrain = 65536L

  /** IVF ANN with a TRAINED coarse quantizer (q_knn_ivf body): deterministic
    * Lloyd's k-means (k=IvfK, IvfIters iterations, init = first k vectors)
    * run in SCALED-INTEGER space — vectors quantized to floor(x·10⁶ + 0.5) —
    * so sums, means (floor of an exact double division), and squared
    * distances are exact and order-independent, making training
    * bit-reproducible in DuckDB (the oracle unrolls the same iterations).
    * Queries probe their `nprobe` nearest centroids and search only those
    * inverted lists (equi-join on cent_id, no full cross join); the in-list
    * ranking is exact float cosine. Approximate by construction; exactness
    * twin = q_knn_cosine.
    *
    * `nprobe` is the FAISS-style runtime recall/cost dial: expected scanned
    * fraction ≈ nprobe/IvfK (recall/cost curve measured in IvfRecallSpec and
    * BENCH/TUNING.md; at nprobe = IvfK every list is searched and the result
    * is EXACTLY the brute-force top-k — spec-asserted). The shipped default
    * (the `q_knn_ivf` driver query and its oracle) is nprobe = 2. */
  private[graft] def knnIvf(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    VF.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
    val qz = ivfQuantized(e)
    val cents = ivfTrainCentroids(s, qz)
    // assignment WITHOUT a corpus-sized broadcast (same pattern as
    // q_semantic_dedup): the argmin over the 16 broadcast centroids carries
    // embedding+nrm through ONE partial-aggregatable min(struct) —
    // (d2, cent_id) is unique per group so the trailing fields never
    // participate in the comparison. The previous shape joined qz back to a
    // broadcast (vec_id → cent_id) map, which is corpus-sized and would
    // OOM the driver at 10^9 vectors.
    val assign = qz.crossJoin(broadcast(cents))
      .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("_d2"), col("cent_id"), col("embedding"), col("nrm"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("cent_id"),
        col("m.embedding").as("embedding"), col("m.nrm").as("nrm"))
    val q = qz.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qnrm"), col("qv"))
    // nprobe-list selection per query: rank the IvfK centroids (bounded side)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("_d2"), col("cent_id"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
      .withColumn("_rk", row_number().over(wProbe)).filter(col("_rk") <= nprobe)
      .select(col("query_id"), col("qe"), col("qnrm"), col("cent_id"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    probes.join(assign.select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id")), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", VF.dotF(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Cosine threshold for cluster-scoped semantic dedup (q_semantic_dedup);
    * same value as the banded-LSH verify threshold (q_dedup_embed_lsh) so
    * the two embedding-dedup paths are comparable. */
  private val SemDedupTau = 0.4

  /** Scaled-integer embedding quantization shared by the IVF family
    * (q_knn_ivf, q_semantic_dedup): qv[i] = floor(x·IvfScale + 0.5), making
    * training/assignment arithmetic integer-exact and order-independent —
    * bit-reproducible in the DuckDB oracle. */
  private[graft] def ivfQuantized(e: DataFrame): DataFrame =
    e.withColumn("qv",
      transform(col("embedding"), x => floor(x.cast("double") * IvfScale + lit(0.5))))

  /** Nearest-centroid map (idCol → cent_id): native integer sqdist_l against
    * the BROADCAST centroid set, argmin as a partial-aggregatable
    * min(struct(d2, cent_id)) — map-side combine, no window sort; the
    * (d2, cent_id) lexicographic min IS the tie-break the oracle uses. */
  private def ivfNearestMap(points: DataFrame, idCol: String, cents: DataFrame): DataFrame =
    points.crossJoin(broadcast(cents))
      .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
      .groupBy(col(idCol))
      .agg(min(struct(col("_d2"), col("cent_id"))).as("m"))
      .select(col(idCol), col("m.cent_id").as("cent_id"))

  /** Deterministic Lloyd's k-means (k = IvfK, IvfIters iterations, init =
    * first k vectors) on the DRIVER over a bounded deterministic training
    * sample (the FAISS discipline: the coarse quantizer trains on a
    * fixed-size sample — constant driver work regardless of corpus size —
    * while assignment and search stay distributed; at the test SFs the
    * sample is the full vector set, so the oracle's full-set unrolled
    * training matches bit-for-bit). Integer sq-dists, lexicographic
    * (d2, cent_id) argmin, floored means (exact: |sum| < 2^53 so the double
    * division's input is exact), empty clusters dropped. */
  private[graft] def ivfTrainCentroids(s: SparkSession, qz: DataFrame): DataFrame = {
    import s.implicits._
    val trainRows = ivfTrainSample(s, qz)
    val train = trainRows.map(_._2.toArray)
    val init: Vector[(Int, Array[Long])] = trainRows
      .collect { case (id, v) if id < IvfK => (id.toInt, v.toArray) }.toVector
    lloydTrain(train, init, dims = 64, iters = IvfIters)
      .map { case (id, v) => (id, v.toSeq) }.toDF("cent_id", "cv")
  }

  /** The bounded, deterministic driver-side training sample shared by the
    * coarse quantizer (IVF) and the PQ codebooks — ONE collect, sorted by
    * vec_id so initialization is order-independent. */
  private def ivfTrainSample(s: SparkSession, qz: DataFrame): Array[(Long, Seq[Long])] = {
    import s.implicits._
    qz.filter(col("vec_id") < IvfMaxTrain)
      .select(col("vec_id"), col("qv"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
  }

  /** Deterministic Lloyd's iterations over integer vectors (argmin with
    * ascending-id tie-break ⇒ lexicographic (d2, id) min; floored exact
    * means; empty clusters dropped) — the dimension-generic core shared by
    * [[ivfTrainCentroids]] (64-dim coarse) and [[pqTrainCodebooks]]
    * (8-dim subspace codebooks). */
  private def lloydTrain(train: Array[Array[Long]], init: Vector[(Int, Array[Long])],
      dims: Int, iters: Int): Vector[(Int, Array[Long])] = {
    var centsL = init
    for (_ <- 0 until iters) {
      val sums = centsL.map { case (id, _) => id -> new Array[Long](dims) }.toMap
      val counts = scala.collection.mutable.Map(centsL.map(_._1 -> 0L): _*)
      train.foreach { v =>
        var bestId = -1; var bestD = Long.MaxValue
        centsL.foreach { case (id, cvv) =>
          var d = 0L; var i = 0
          while (i < dims) { val t = v(i) - cvv(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; bestId = id } // ascending id ⇒ lexicographic (d2, id) min
        }
        counts(bestId) += 1
        val sm = sums(bestId)
        var i = 0; while (i < dims) { sm(i) += v(i); i += 1 }
      }
      // floored mean, computed exactly as the engines would:
      // floor(sum::DOUBLE / n) — |sum| < 2^53 so the division is exact-input
      centsL = centsL.collect { case (id, _) if counts(id) > 0 =>
        val n = counts(id); val sm = sums(id)
        (id, Array.tabulate(dims)(i => math.floor(sm(i).toDouble / n).toLong))
      }
    }
    centsL
  }

  /** Product quantization (Jégou, Douze, Schmid, "Product Quantization for
    * Nearest Neighbor Search", IEEE TPAMI 2011 — the FAISS IVF-PQ layout):
    * the 64-dim embedding splits into [[PqM]] = 8 subspaces of [[PqSub]] = 8
    * dims; each subspace trains its own [[PqK]] = 16-word codebook, so a
    * vector compresses to 8 × 4-bit codes = 4 bytes (vs 256 bytes of float —
    * 64×), which is what makes a 10^12-vector index fit a cluster's RAM.
    * Same determinism discipline as the coarse quantizer: scaled-integer
    * subvectors, [[lloydTrain]] per subspace on the bounded driver-side
    * sample, init = first PqK vectors' subvectors — bit-reproducible in the
    * DuckDB oracle. */
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16
  private val PqIters = 2

  /** ADC shortlist size for the exact-refine stage of q_knn_pq (FAISS
    * `refine` k_factor ≈ 6 × k = 5): raw vectors are fetched for only this
    * many rows per query. Sized by measurement (PqSpec): 4-bit ADC ordering
    * is noisy, and at 20 the shortlist still missed in-list winners
    * (agreement with q_knn_ivf 0.74); 32 buys the rest at negligible cost. */
  private[graft] val PqShortlist = 32

  /** Per-subspace PQ codebooks as a (m, code, cv) DataFrame — 8×16 rows,
    * always a broadcast. */
  private[graft] def pqTrainCodebooks(s: SparkSession, qz: DataFrame): DataFrame = {
    import s.implicits._
    val trainRows = ivfTrainSample(s, qz)
    (0 until PqM).flatMap { m =>
      val train = trainRows.map(_._2.slice(m * PqSub, (m + 1) * PqSub).toArray)
      val init: Vector[(Int, Array[Long])] = trainRows.collect {
        case (id, v) if id < PqK => (id.toInt, v.slice(m * PqSub, (m + 1) * PqSub).toArray)
      }.toVector
      lloydTrain(train, init, dims = PqSub, iters = PqIters)
        .map { case (code, cv) => (m, code, cv.toSeq) }
    }.toDF("m", "code", "cv")
  }

  /** (id, m, sv) subvector rows: one row per (vector, subspace), sv = the
    * 8 scaled-integer dims of subspace m. Narrow 8× expansion — no shuffle. */
  private[graft] def pqSubvectors(qz: DataFrame, idCol: String): DataFrame =
    qz.select(col(idCol), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qv"))
      .withColumn("sv", slice(col("qv"), col("m") * PqSub + 1, lit(PqSub)))
      .drop("qv")

  /** PQ encode: nearest codebook word per (vector, subspace) — equi-join on
    * the subspace id against the BROADCAST 128-row codebook, argmin as a
    * partial-aggregatable min(struct(d2, code)) (map-side combine, no
    * window; (d2, code) lexicographic min = the oracle's tie-break). */
  private[graft] def pqCodes(sub: DataFrame, books: DataFrame, idCol: String): DataFrame =
    sub.join(broadcast(books), "m")
      .withColumn("_d2", VF.sqDistL(col("sv"), col("cv")))
      .groupBy(col(idCol), col("m"))
      .agg(min(struct(col("_d2"), col("code"))).as("b"))
      .select(col(idCol), col("m"), col("b.code").as("code"))

  /** nDCG@5 discount gains floor(10⁶ / log₂(i+1)), i = 1..5, and the ideal
    * DCG for graded relevance (5,4,3,2,1) — computed ONCE here and
    * interpolated into both engines as integer literals (the HllAlphaM2 /
    * HllLinearCount cross-engine discipline: no engine-local log). */
  private val NdcgGains: Seq[Long] =
    (1 to 5).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)
  private val NdcgIdcg: Long =
    NdcgGains.zipWithIndex.map { case (g, i) => g * (5 - i) }.sum

  /** q_knn_ivf oracle: Lloyd's k-means unrolled to [[IvfIters]] iterations in
    * scaled-integer space — every training step (sum, floored mean, squared
    * distance, argmin with cent_id tie-break) is exact integer/IEEE-double
    * arithmetic identical to the Spark side, so the trained centroids are
    * bit-reproducible across engines. */
  private def oD2(a: String, b: String): String = oD2n(a, b, 64)
  private def oD2n(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, $n), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), (acc, x) -> acc + x)"

  /** Embedding-load + scaled-integer quantization CTEs (e, qz) — the shared
    * oracle prefix of both the IVF family and the PQ family. */
  private def oQzCtes: String =
    s"""e AS (SELECT vec_id, embedding, ${oNorm("embedding")} AS nrm FROM embeddings),
        qz AS (SELECT vec_id, embedding, nrm,
          list_transform(generate_series(1, 64),
            i -> CAST(floor(embedding[i]::DOUBLE * $IvfScale + 0.5) AS BIGINT)) AS qv FROM e)"""

  /** PQ-family CTEs (assume `qz` in scope): subvector rows (sub), per-
    * subspace unrolled Lloyd's codebooks (b0..b$PqIters), and the final
    * code assignment (pqcodes) — the SQL twin of [[pqTrainCodebooks]]/
    * [[pqSubvectors]]/[[pqCodes]]. All subspaces train in ONE set of CTEs
    * with the subspace id `m` as a grouping column. */
  private def oPqCtes: String = {
    val iterCtes = (0 until PqIters).map { it =>
      s"""pa$it AS (SELECT vec_id, m, sv, code FROM (
            SELECT sub.vec_id, sub.m, sub.sv, b.code,
              row_number() OVER (PARTITION BY sub.vec_id, sub.m
                ORDER BY ${oD2n("sub.sv", "b.cv", PqSub)}, b.code) AS rk
            FROM sub JOIN b$it b ON sub.m = b.m) WHERE rk = 1),
          ps$it AS (SELECT m, code, i, CAST(floor(sum(v)::DOUBLE / count(*)) AS BIGINT) AS c
            FROM (SELECT m, code, i, sv[i] AS v FROM pa$it, generate_series(1, $PqSub) gp$it(i))
            GROUP BY m, code, i),
          b${it + 1} AS (SELECT m, code, list(c ORDER BY i) AS cv FROM ps$it GROUP BY m, code)"""
    }.mkString(",\n          ")
    s"""sub AS (SELECT vec_id, m,
          list_transform(generate_series(1, $PqSub), i -> qv[m*$PqSub+i]) AS sv
          FROM qz, generate_series(0, ${PqM - 1}) gm(m)),
        b0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cv FROM sub WHERE vec_id < $PqK),
        $iterCtes,
        pqcodes AS (SELECT vec_id, m, code FROM (
          SELECT sub.vec_id, sub.m, b.code,
            row_number() OVER (PARTITION BY sub.vec_id, sub.m
              ORDER BY ${oD2n("sub.sv", "b.cv", PqSub)}, b.code) AS rk
          FROM sub JOIN b$PqIters b ON sub.m = b.m) WHERE rk = 1)"""
  }

  /** Shared WITH-clause prefix for the IVF-family oracles (q_knn_ivf,
    * q_semantic_dedup): quantization (qz), unrolled Lloyd's training
    * (c0..c$IvfIters), and nearest-centroid assignment — the SQL twin of
    * [[ivfQuantized]]/[[ivfTrainCentroids]]/[[ivfNearestMap]]. */
  private def oIvfCtes: String = {
    val iterCtes = (0 until IvfIters).map { it =>
      s"""a$it AS (SELECT vec_id, qv, cent_id FROM (
            SELECT qz.vec_id, qz.qv, c.cent_id,
              row_number() OVER (PARTITION BY qz.vec_id
                ORDER BY ${oD2("qz.qv", "c.cv")}, c.cent_id) AS rk
            FROM qz CROSS JOIN c$it c) WHERE rk = 1),
          s$it AS (SELECT cent_id, i, CAST(floor(sum(v)::DOUBLE / count(*)) AS BIGINT) AS c
            FROM (SELECT cent_id, i, qv[i] AS v FROM a$it, generate_series(1, 64) g$it(i))
            GROUP BY cent_id, i),
          c${it + 1} AS (SELECT cent_id, list(c ORDER BY i) AS cv FROM s$it GROUP BY cent_id)"""
    }.mkString(",\n          ")
    s"""$oQzCtes,
        c0 AS (SELECT CAST(vec_id AS INT) AS cent_id, qv AS cv FROM qz WHERE vec_id < $IvfK),
        $iterCtes,
        assign AS (SELECT vec_id, embedding, nrm, cent_id FROM (
          SELECT qz.vec_id, qz.embedding, qz.nrm, c.cent_id,
            row_number() OVER (PARTITION BY qz.vec_id
              ORDER BY ${oD2("qz.qv", "c.cv")}, c.cent_id) AS rk
          FROM qz CROSS JOIN c$IvfIters c) WHERE rk = 1)"""
  }

  private def oKnnIvf: String = {
    s"""WITH $oIvfCtes,
        q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qnrm, qv FROM qz
          WHERE vec_id >= 100 AND vec_id < 110),
        probes AS (SELECT query_id, qe, qnrm, cent_id FROM (
          SELECT q.query_id, q.qe, q.qnrm, c.cent_id,
            row_number() OVER (PARTITION BY q.query_id
              ORDER BY ${oD2("q.qv", "c.cv")}, c.cent_id) AS rk
          FROM q CROSS JOIN c$IvfIters c) WHERE rk <= 2)
        SELECT query_id, cast(rk AS INT) AS rk, neighbor_id, round(sim, 6) AS sim FROM (
          SELECT p.query_id, a.vec_id AS neighbor_id,
            ${oDot("a.embedding", "p.qe")} / (a.nrm * p.qnrm) AS sim,
            row_number() OVER (PARTITION BY p.query_id
              ORDER BY ${oDot("a.embedding", "p.qe")} / (a.nrm * p.qnrm) DESC, a.vec_id) AS rk
          FROM probes p JOIN assign a ON p.cent_id = a.cent_id
          WHERE a.vec_id <> p.query_id) WHERE rk <= 5"""
  }
}
