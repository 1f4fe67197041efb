package graft

import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan discipline (the "would this survive 100×?" checks):
  * filters must reach the parquet scan, small dimensions must broadcast,
  * aggregates must have a map-side partial phase, and the flagship pipeline
  * must contain exactly its one intended exchange (order restore; the
  * kernel fuses onto the scan). These assertions keep future edits from
  * silently regressing the plan shape.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("gate filters are pushed down to the parquet scan") {
    val p = planOf("q_gate_filter")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("LessThanOrEqual(l_quantity"), p)
    // PushedFilters list is truncated at 100 chars in toString; the
    // EqualTo(l_returnflag…) lands right at the cut
    assert(p.contains("EqualTo(l_retur"), p)
  }

  test("column pruning: charset projection reads only the two needed columns") {
    val p = planOf("q_charset_proj")
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string>"), p)
  }

  test("small dimension joins broadcast (no shuffle of the big side's keys)") {
    assert(planOf("q_broadcast_join").contains("BroadcastHashJoin"))
    assert(planOf("q_interval_join").contains("BroadcastNestedLoopJoin"))
  }

  test("aggregation has a map-side partial phase") {
    val p = planOf("q1_agg")
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("near-dup jaccard is an equi-join on the shingle key, not a nested loop") {
    val p = planOf("q_dedup_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    // inverted-index join: shingle equality is a hash-joinable key
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"), p)
  }

  test("incremental dedup: history never shuffles — every join is broadcast") {
    val p = planOf("q_dedup_incremental")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    // bloom probe + verify semi/anti all against broadcast sides
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    // and the probe is the native codegen expression, not a UDF
    assert(p.contains("bloom_maybe"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("embedding LSH dedup plans with no all-pairs join") {
    val p = planOf("q_dedup_embed_lsh")
    assert(!p.contains("CartesianProduct"), p)
    // candidates come from an equi-join on the band bucket key
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"), p)
  }

  test("simhash near-dup pairs: banded equi-join, no all-pairs join; and the " +
    "banded plan equals the all-pairs form (pigeonhole over 4×16-bit bands)") {
    val p = planOf("q_simhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"), p)
    // exactness: hamming ≤ 3 over 4 bands ⇒ ≥ 1 band identical, so banding
    // loses nothing vs brute force
    import org.apache.spark.sql.functions._
    val banded = SparkEntry.queries("q_simhash_pairs")(spark, sf)
      .select("id_a", "id_b", "hamming").collect().map(_.toSeq).toSet
    val sig = SparkEntry.queries("q_simhash")(spark, sf)
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("hamming"))
      .collect().map(_.toSeq).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty)
  }

  test("trained IVF search joins on centroid id, no full cross join of vectors") {
    val p = planOf("q_knn_ivf")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop joins are against the broadcast 16-centroid side
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val cross = "CROSS".r.findAllIn(p).length
    assert(nlj + cross >= 0) // bounded-dimension cross joins are expected
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("salted skew join: sort-merge on (key, salt) — the hot key spreads over " +
    "S reducers and the salt never reaches the output") {
    val p = planOf("q_skew_join")
    assert(p.contains("SortMergeJoin"), p)
    // the join keys must carry the salt (a plain lang-only SMJ would funnel
    // each hot lang into one reducer)
    assert(p.contains("salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ search runs in the compressed domain: codebook/distance-table " +
    "joins broadcast, encode argmin partial-aggregated, no all-pairs join") {
    val p = planOf("q_knn_pq")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is query × broadcast 16-centroid probe
    // selection; codes join dtable/codebook via BroadcastHashJoin and the
    // candidate restriction is an equi-join on cent_id
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-(vector, subspace) nearest-code argmin is a map-side-combined
    // min(struct), never a window over the corpus
    assert(p.contains("partial_min"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    val pe = planOf("q_pq_encode")
    assert(!pe.contains("CartesianProduct"), pe)
    assert(pe.contains("partial_min"), pe)
  }

  test("semantic dedup: cluster-scoped pairs only — no all-pairs join, no UDFs") {
    val p = planOf("q_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is against the broadcast ≤16-centroid set;
    // the pair join itself is an equi-join on cent_id
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // centroid assignment is ONE partial-aggregated argmin, not a window
    assert(p.contains("partial_min"), p)
  }

  test("survivor election is a partial-aggregated groupBy, not a window over the component key") {
    val p = planOf("q_dedup_survivor")
    // a hot dup-cluster key must never funnel through a single window
    // partition: the election is min(struct(-quality, id)) with map-side
    // combine (≤ 1 row per map task per component)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min"), p)
  }

  test("flagship pipeline has exactly ONE exchange (order restore; kernel fused on scan)") {
    val ds = ExtractPipeline.run(spark,
      TranscriptGen.dataset(spark, 42L, nConvs = 10, hotBase = 20))
    val plan = ds.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
  }

  test("html_main_text runs as a codegen'd native expression, not a UDF") {
    val df = SparkEntry.queries("x_sql_extract")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("html_main_text"), p)
    // native Expression ⇒ the projection stays inside a WholeStageCodegen
    // subtree and no ScalaUDF/BatchEvalPython node appears
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEval"), p)
    assert("\\*\\(\\d+\\).*html_main_text".r.findFirstIn(p).isDefined, p)
  }

  test("udaf ordered-concat keeps a map-side partial aggregation phase") {
    val df = SparkEntry.queries("q_udaf_concat")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_orderedconcatagg") || p.contains("partial_"), p)
  }

  test("as-of join plans as shuffle + window — no join operator at all") {
    val p = planOf("q_asof_join")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"), p)
    // exactly two exchanges: the click tie-dedupe aggregation (clicks
    // subset only, partial-agg capable) and the per-user window shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges in:\n$p")
    assert(p.contains("Window"), p)
  }

  test("moving range-frame aggregate: one shuffle on user_id, window frame, no self-join") {
    val p = planOf("q_moving_agg")
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$p")
  }

  test("split assignment is a narrow map — zero exchanges") {
    val p = planOf("q_split_assign")
    assert(!p.contains("Exchange"), p)
  }

  test("simhash signatures are a narrow map — zero exchanges (native one-pass expression)") {
    val p = planOf("q_simhash")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("simhash_sig"), p)
  }

  test("sketch aggregations keep map-side partials (HLL registers, CMS cells)") {
    assert(planOf("q_hll_distinct").contains("partial_"), planOf("q_hll_distinct"))
    assert(planOf("q_cms_heavyhitters").contains("partial_"), planOf("q_cms_heavyhitters"))
  }

  test("no partitionless window anywhere in the query surface (a Window " +
    "with no PARTITION BY funnels every row into ONE task at scale)") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name plans a partitionless Window")
    }
  }

  test("levenshtein anti-join: length-band equi-join candidates, no " +
    "nested-loop over the full name set") {
    val p = planOf("q_anti_join_lev")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // candidates come from the blocking equi-join on the length band
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("cms heavy-hitter top-k plans as TakeOrderedAndProject (distributed " +
    "per-partition heaps), not a global sort or single-task window") {
    val p = planOf("q_cms_heavyhitters")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ratio-test match scores against the broadcast bounded dictionary " +
    "only (J1 shape) — never probe × probe") {
    val p = planOf("q_ratio_match")
    // the only nested-loop is probe × broadcast 10-word dict (bounded);
    // a probe×probe loop would also appear as a second BNLJ or cartesian
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("unigram LM scoring: bounded model via TakeOrderedAndProject, " +
    "broadcast to the corpus — the corpus never shuffles for scoring") {
    val p = planOf("q_unigram_lm")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("substring scrub: fingerprint/dictionary work is all equi-joins " +
    "(no nested loop; at sf the dup dictionary may legitimately broadcast " +
    "— AQE re-picks a shuffle join at scale) and the rewrite fold is " +
    "windowless (per-row aggregate over the sorted cut list)") {
    val p = planOf("q_substring_scrub")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("hashed linear classifier: the fixed-4096-row model attaches as a " +
    "BroadcastHashJoin and the per-doc logit has map-side partials — the " +
    "corpus never shuffles for the model lookup") {
    val p = planOf("q_quality_classifier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("ccnet bucketing: tercile cuts are computed on the (lang, score) " +
    "HISTOGRAM (the per-lang window consumes aggregated cnt rows, not raw " +
    "docs) and broadcast back — no corpus-sized per-lang window funnel") {
    val p = planOf("q_ccnet_bucket")
    // the only Window nodes take the aggregated histogram column `cnt`
    assert(p.contains("Window"), p)
    assert("sum\\(cnt".r.findFirstIn(p).nonEmpty, p)
    // corpus re-attaches to the cut table via broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gopher rule filter is a narrow per-row map — zero exchanges") {
    val p = planOf("q_gopher_rules")
    assert(!p.contains("Exchange"), p)
  }

  test("bm25: query-term filter is pushed into the narrow token stage " +
    "(tf shuffles only matching tokens), df/query/totals all broadcast, " +
    "and the per-query top-10 is the bounded TopKAgg — window-free") {
    val p = planOf("q_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the isin() term filter runs before the explode's consumer aggregate
    assert(p.contains("w#") && p.contains(" INSET "), p)
    // tf and the per-(qid,doc) score aggregate both map-side combine
    assert(p.contains("partial_count"), p)
  }

  test("profile + dq checks: one scan each (a single global aggregate, " +
    "multi-distinct expansion included), bounded output, partial-agg'd") {
    for (q <- Seq("q_profile", "q_dq_checks")) {
      val p = planOf(q)
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q: $p")
      assert(p.contains("partial"), p)
    }
  }

  test("curation composition: the gate filter reaches the scan once for " +
    "every stage, the classifier model broadcasts, survivor election " +
    "partial-combines — one optimizer-visible pipeline, no cartesian") {
    val p = planOf("q_curate_e2e")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Window"), p)
  }

  test("priority sampling: top-(k+1) and the tau election are both " +
    "TakeOrderedAndProject (per-partition heaps) — window-free, priorities " +
    "narrow") {
    val p = planOf("q_priority_sample")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("url canonicalization: one exchange (the canonical-key dedup " +
    "groupBy, partial-agg'd) — the string work is all narrow") {
    val p = planOf("q_url_canon")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("pmi pairs: vocabulary bounded via TakeOrderedAndProject + " +
    "broadcast semi; the pair join is a doc-keyed equi-join (never " +
    "all-pairs over an open vocabulary)") {
    val p = planOf("q_pmi_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("kmv theta sketch: per-lang bottom-k is the bounded ObjectHashAggregate " +
    "(no window over the distinct-hash stream); distinct partial-combines; " +
    "only the |langs|-row sketch dimension nested-loops") {
    val p = planOf("q_kmv_intersect")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial"), p)
  }

  test("bigram LM: both models bounded via TakeOrderedAndProject and " +
    "broadcast; bigrams come from a narrow array zip (no positional " +
    "self-join of the corpus)") {
    val p = planOf("q_bigram_lm")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("zip_with"), p)
  }

  test("funnel: every stage aggregate map-side combines; no window over " +
    "a user's event history, no cartesian") {
    val p = planOf("q_funnel")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("retention cohort: user-keyed aggregates partial-combine; no " +
    "cartesian; matrix aggregate is a plain hash aggregate") {
    val p = planOf("q_retention_cohort")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsir: both hashed models come from ONE bounded groupBy(fid) " +
    "(map-side partials), attach as a BroadcastHashJoin, and the per-doc " +
    "weight aggregate partial-combines — the corpus never shuffles for " +
    "the model lookup") {
    val p = planOf("q_dsir_weight")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("hard-negative mining inherits the IVF prune: candidates come from " +
    "an equi-join on cent_id (never all-pairs); nested loops only against " +
    "the broadcast bounded centroid set") {
    val p = planOf("q_hard_negatives")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("BPE training: corpus feeds ONE word-histogram aggregate; the 4 " +
    "unrolled merge rounds run on the 256-word bound (TakeOrderedAndProject " +
    "heaps for the bound and each argmax, 1-row broadcasts for the winning " +
    "pair) — window-free, no cartesian, no sort-merge") {
    val p = planOf("q_bpe_train")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("BPE encoding: the learned rules collapse to ONE broadcast row and " +
    "the corpus is encoded by a narrow per-row lambda chain — no window, " +
    "no corpus-side sort-merge or cartesian; the only corpus-sized " +
    "exchange is the training histogram") {
    val p = planOf("q_bpe_apply")
    assert(p.contains("TakeOrderedAndProject"), p) // training bound + argmax
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("PII scrub is a narrow per-row map — zero exchanges") {
    val p = planOf("q_pii_scrub")
    assert(!p.contains("Exchange"), p)
  }

  test("chunking is a narrow per-row expansion — zero exchanges") {
    val p = planOf("q_chunk_overlap")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p) // explode(sequence(...)), codegen'd
  }

  test("sequence packing is one shuffle on the shard key + a window — no join") {
    val p = planOf("q_pack_sequences")
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$p")
    assert(p.contains("Window"), p)
  }

  test("salted aggregation: salt fan-out + tiny merge exchange, partials in both phases") {
    val p = planOf("q_salted_agg")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges in:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("flagship exchange ships SLIM spans: slim on the map side, fatten above the sort") {
    val ds = ExtractPipeline.run(spark,
      TranscriptGen.dataset(spark, 42L, nConvs = 10, hotBase = 20))
    val p = ds.queryExecution.executedPlan.toString
    val slimAt = p.indexOf("spans_slim")
    val fattenAt = p.indexOf("spans_fatten")
    val exchangeAt = p.indexOf("Exchange hashpartitioning")
    assert(slimAt >= 0 && fattenAt >= 0 && exchangeAt >= 0, p)
    // executedPlan prints top-down: fatten (reduce side) above the
    // exchange, slim (map side) below it — proving the exchange carries
    // the slim encoding
    assert(fattenAt < exchangeAt && exchangeAt < slimAt, p)
  }

  test("repetition-quality signals are a narrow map — zero exchanges") {
    val p = planOf("q_repetition_quality")
    assert(!p.contains("Exchange"), p)
  }

  test("decontamination joins corpus shingles against a BROADCAST benchmark " +
    "set — corpus text never shuffles for the join") {
    val p = planOf("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quantile sketch: hash-threshold sample aggregates with map-side " +
    "partials — only the per-group sample crosses the one exchange") {
    val p = planOf("q_quantile_sketch")
    // the SPECIFIC marker only: the percentile aggregate itself must run a
    // map-side partial (a generic "partial" would match partial_count in any
    // hash aggregate and could never fail — round-3 advice)
    assert(p.contains("partial_percentile"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("tf-idf top-terms: df comes off the tf AGGREGATE (partial-agg'd), " +
    "N is a 1-row broadcast, the top-3 window is per-doc") {
    val p = planOf("q_tfidf_topterms")
    // both groupBys (tf, then df-over-tf) run map-side partials
    assert(p.contains("partial_count"), p)
    // the corpus-size scalar joins as a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-doc ranking window is partitioned (the global sweep also checks
    // this, but assert locally so a refactor fails HERE with context)
    assert(p.contains("Window"), p)
  }

  test("paragraph dedup: first-occurrence election is a partial-agg'd " +
    "min-struct groupBy, NOT a window over the segment key (a hot " +
    "boilerplate segment must not funnel into one reducer)") {
    val df = SparkEntry.queries("q_paragraph_dedup")(spark, sf)
    // no Window anywhere: the election is min(struct(doc_id, seg_idx))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_min"), p)
    // join-back on the segment key is hash-joinable, never all-pairs
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("top-k aggregator: NO window — the typed Aggregator map-side-combines " +
    "(a hot group ships <= k rows per map task; a window would funnel every " +
    "row of the group through one reducer's sort)") {
    val df = SparkEntry.queries("q_topk_agg")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val p = df.queryExecution.executedPlan.toString
    // typed Aggregator runs as ObjectHashAggregate with a partial mode
    // before the exchange — the map-side combine that bounds shuffle rows
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial_topkagg"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("mixture rebalancing: computed rate table joins back as a BROADCAST " +
    "— the corpus never shuffles for its accept decision") {
    val p = planOf("q_mix_rebalance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("SFT pair mining: exactly the one conversation-keyed window exchange " +
    "(the order-restore shape; per-conv carried state is O(1))") {
    val p = planOf("q_sft_pairs")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("DPO pair election is WINDOW-FREE: max_by/min_by partial-aggregate, " +
    "each conversation crosses the exchange as O(1) candidate rows") {
    val df = SparkEntry.queries("q_dpo_pairs")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_max_by") || p.contains("partial_maxby")
      || p.contains("partial_max"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("C4 rule cascade is a narrow per-row array-lambda pass — zero exchanges") {
    val p = planOf("q_c4_rules")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("domain PageRank: corpus collapses to the distinct edge relation; " +
    "iterations are hash equi-joins + partial-agg'd sums (the only " +
    "nested-loop is the 1-row node-count broadcast)") {
    val p = planOf("q_domain_rank")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("embedding mean-pool: ArraySumAgg map-side-combines (one dim-length " +
    "array per group per map task — never a posexplode dim x row blow-up); " +
    "window-free, single exchange") {
    val df = SparkEntry.queries("q_embed_meanpool")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.toLowerCase.contains("partial_arraysumagg"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Generate"), p) // no explode anywhere
  }

  test("MAD outlier detection: exact percentiles partial-aggregate and the " +
    "tiny per-type stats BROADCAST back — the corpus never shuffles") {
    val p = planOf("q_anomaly_mad")
    assert(p.contains("partial_percentile"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("context-budget truncation: one conv-keyed window exchange, O(1) state") {
    val p = planOf("q_conv_budget")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
  }

  test("tool-loop detection: window-free single conv-keyed exchange; the " +
    "tool-turn filter lands below the shuffle (only ~1/3 of rows cross)") {
    val df = SparkEntry.queries("q_tool_loops")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    // filter is below the exchange: the Scan/Filter section after the
    // exchange marker must contain the role predicate
    val ix = p.indexOf("Exchange hashpartitioning")
    assert(p.substring(ix).contains("pmod"), p.substring(ix).take(400))
  }

  test("conversation validation: turn-numbering window and the per-conv " +
    "aggregate SHARE one conv-keyed exchange (no re-shuffle), and no " +
    "distinct-aggregate Expand doubles the exchange bytes") {
    val p = planOf("q_conv_valid")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Expand"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("rank fusion: each retriever list is the map-side-combining TopKAgg " +
    "(bounded), never a corpus-wide window; fusion join is hash-joinable") {
    val p = planOf("q_rank_fusion")
    assert(p.toLowerCase.contains("partial_topkagg"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only Window ranks the fused ≤20-rows-per-group relation — it
    // must sit ABOVE both TopKAgg aggregations in the plan (root prints
    // first); indexOf of a MISSING marker would be -1 and pass vacuously,
    // so presence is asserted first
    val iw = p.indexOf("Window"); val ia = p.indexOf("ObjectHashAggregate")
    assert(iw >= 0 && ia >= 0, p)
    assert(iw < ia, p)
  }

  test("nDCG eval: approx side stays the pruned IVF equi-join; gains are " +
    "literal integers (no engine-local log); final agg partial-aggregates") {
    val p = planOf("q_ndcg_eval")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), p)
    assert(!p.toLowerCase.contains("log("), p)
  }

  test("containment (asymmetric near-dup) keeps the inverted-index shape: " +
    "no all-pairs join, pair enumeration only within df-capped posting lists") {
    val p = planOf("q_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("sorted_pairs"), p)
  }

  test("cluster purity: assignment is the partial-agg'd argmin (no corpus " +
    "broadcast); majority election is window-free max_by") {
    val df = SparkEntry.queries("q_cluster_purity")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial_max"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LSH banding sweep: every candidate generator is a banded EQUI-join " +
    "over signature columns — no all-pairs plan at any configuration") {
    val p = planOf("q_lsh_tuning")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("whole-stage codegen covers the relational operator queries") {
    // executedPlan.toString marks codegen'd subtrees with "*(n)"; under AQE
    // the final plan only materializes after execution
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect() // count() would build a separate QueryExecution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("isFinalPlan=true"), p)
  }
}
