package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{ShingleFunctions => SF, TextFingerprint, TextFunctions => TF, VectorFunctions => VF, WinnowF}
import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline

/** Driver contract (see SURVEY §7.2 step 5).
  *
  * `queries` demonstrates every SQL-expressible operator family of SURVEY §2
  * over the driver's parquet tables, each with an exact DuckDB oracle in
  * `oracleSql` (column names aligned — the driver hash-compares by sorted
  * column name). Extraction-kernel queries (prefix `x_`) have no SQL
  * RE-DERIVATION, but since round 4 they are hash-oracled anyway — against
  * spec-derived golden parquet under [[GoldenDir]] (flagship/spans/
  * sql_extract/fields/media_features) or a symbolic score re-derivation
  * (x_lang_id) — every driver query now carries a full
  * rows+schema+hash oracle.
  *
  * Float policy: derived doubles are `round`-ed in BOTH engines. SUMs over
  * parquet DOUBLE columns are cast to DECIMAL before aggregating — exact and
  * order-independent on both engines (a double SUM accumulates in
  * partition-dependent order in Spark vs sequential order in DuckDB, so a
  * round(x,2) could flip at a .005 boundary). Scalar folds (dot products,
  * fingerprints) are strictly sequential with identical op order on both
  * sides; `percentile` interpolates over sorted values (order-independent)
  * and keeps the round-only treatment.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Small-input fan-out guard for CPU-heavy per-row stages (tokenize →
    * shingle → explode): those stages inherit the SCAN's split count, and
    * an input smaller than one parquet row group yields fewer splits than
    * cores — the whole tokenize stage runs as ONE hot task (measured:
    * q_dedup_jaccard's posting build, 4.3 s single-task at sf0.1). When,
    * and only when, the scan under-splits relative to the cluster, pay one
    * tiny round-robin exchange — its bytes are the small input itself — to
    * use every core; at real scale (thousands of splits) the condition is
    * false and the plan is untouched. Used ONLY by queries whose plan
    * already exchanges; the strictly-narrow queries (q_simhash,
    * q_repetition_quality, q_chunk_overlap, q_split_assign, q_pii_scrub)
    * stay exchange-free — that property IS their scale story and PlanSpec
    * asserts it. */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

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

  /** Flagship: full extraction pipeline over the deterministic transcript
    * corpus (gates → kernel step → repartition(conv_id) → sort →
    * `spans_fatten`; see [[ExtractPipeline]]). */
  def entry(spark: SparkSession): DataFrame =
    ExtractPipeline.run(spark,
      TranscriptGen.dataset(spark, seed = 42L, nConvs = 100, hotBase = 400))
      .drop("spans")

  // ------------------------------------------------------------------
  // shared pieces

  /** Correctness-only exactness twins EXCLUDED from the timed bench suite:
    * their plan is quadratic BY CONSTRUCTION (the all-pairs oracle shape a
    * banded/bucketed production query is verified against), so timing them
    * says nothing about 100-TB behavior. Verify still dumps them — the
    * driver's DuckDB oracle check is unaffected. Bench records the exclusion
    * in its JSON line (`untimed_correctness_twins`) — bounded coverage is
    * declared, never silent. */
  val UntimedTwins: Set[String] = Set("q_dedup_embed_cosine")

  /** Golden-parquet oracle fixtures for the extraction queries (written by
    * [[graft.tools.GoldenDump]] from the SPEC-derived generator goldens —
    * TranscriptGen authors expected text/spans while assembling payloads,
    * never by running the kernels — and locked in git; GoldenParquetSpec
    * re-derives them on every `sbt test` so the committed artifact cannot
    * go stale). The driver's DuckDB reads them via `read_parquet`, turning
    * the former rows-only `x_*` checks into full rows+schema+hash oracles
    * of the north rule's per-turn text equality. */
  val GoldenDir: String = sys.env.getOrElse(
    "SPARK_GRAFT_GOLDEN_DIR", "/root/repo/src/test/resources/golden")

  private val minhashK = 16

  /** Document-frequency cap for the shingle inverted index: a shingle shared
    * by k docs creates a k²-pair group in the self-join, so boilerplate
    * shingles (high df) are both a skewed-key scale-killer and a weak dedup
    * signal. Dropping them before the join is standard MinHash/LSH practice
    * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3). */
  private val JaccardMaxDf = 16

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

  /** Connected components over the verified near-dup pair graph — the
    * clustering step a real dedup pipeline runs AFTER pair generation
    * (pairs alone over-delete: {A,B},{B,C} must keep exactly one of
    * {A,B,C}). Hash-to-min label propagation with pointer jumping
    * (comp ← comp(comp), O(log diameter) convergence) to the fixpoint:
    * the order-independent canonical labeling comp = min reachable
    * doc_id. Returns (doc_id, comp) for EVERY document (vertices with no
    * near-dup edge re-join as singletons at the end). Shared by
    * q_dedup_components (keep = doc_id == comp) and q_dedup_survivor
    * (quality-based election). Oracle: recursive-CTE transitive closure.
    *
    * The EDGES come from the codegen'd DataFrame pipeline; the fixpoint
    * loop itself runs on RDDs — the GraphX precedent, and the measured
    * reason: a DataFrame loop pays whole-stage-codegen RECOMPILATION
    * every iteration (1.3 s/iter here vs 0.15 s for the same joins as
    * precompiled RDD ops; 6 iterations at sf0.1). This is the brief's
    * "genuine per-partition imperative logic" carve-out.
    *
    * MEMOIZED per (session, dir): three driver queries consume the map
    * (q_dedup_components / q_dedup_survivor / q_split_leakfree), and a real
    * pipeline computes components ONCE and fans consumers out from the
    * materialized result — re-running a multi-round distributed fixpoint
    * per consumer would be the actual anti-pattern at 100 TB. persist
    * (MEMORY_AND_DISK, lineage kept — an evicted block recomputes slowly
    * but correctly) + an eager count so the first consumer pays the
    * fixpoint and the rest pay a cached scan. */
  private val compCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def componentMap(s: SparkSession, dir: String): DataFrame = {
    // a stopped session's cached plan is unusable AND pins the session:
    // evict dead entries so a long-lived JVM (sbt test with a self-healing
    // shared session) never accumulates them
    compCache.keySet.removeIf(_._1.sparkContext.isStopped)
    compCache.computeIfAbsent((s, dir), { _ =>
      val df = componentMapBuild(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    })
  }

  private def componentMapBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import s.implicits._
    // dedup MATTERS here (unlike the verify-join consumers): the edge
    // multiset is traversed EVERY fixpoint round, so a ≤4-band duplicate
    // pair costs 4× in every round's join — one distinct shuffle up
    // front amortizes over all rounds. (Measured at sf0.1: 1.4M raw edge
    // entries vs ~0.35M distinct — clique-heavy near-dup graphs make the
    // multiset blow-up the rule, not the exception.)
    // dedup stays ON for the edge source — re-A/B'd after the round-4
    // LongMap rewrite (BENCH/TUNING.md): dedup=false doubles the edge
    // multiset (≤4-band duplicates) and with it the fixpoint's partition
    // count and every round's propose scan — 3.5 s → 6.5 s warm at
    // sf0.1. The up-front distinct (now over hamming-verified pairs
    // only) is cheaper than re-traversing duplicates 6 rounds.
    val edges = simhashPairs(s, dir)
      .select(col("id_a"), col("id_b"))
    // The fixpoint runs ONLY over the edge-induced subgraph: a vertex with
    // no near-dup edge is trivially its own component and never enters the
    // loop (at 100 TB the pair graph is orders of magnitude smaller than
    // the corpus — iterating over every doc_id would shuffle |V|-sized
    // label state per hop for nothing). Singletons rejoin at the end via
    // a left join + coalesce.
    val undRaw = edges.as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((b, a), (a, b)) } // undirected, keyed by proposer
      .cache()
    // partition count DERIVED from the measured edge count (≈250k edges
    // per fixpoint task), capped by the cluster's core budget — NOT by
    // the upstream partition count: AQE routinely coalesces the small
    // edge DataFrame to ONE partition, and inheriting that cap would
    // single-thread the whole fixpoint (measured exactly that at sf0.1).
    // The label state scales with the edge graph, so its partitioning
    // must too; a fixed count is either a 100-TB bottleneck or (locally)
    // pure per-task scheduling overhead.
    val nE = undRaw.count()
    val lp = math.max(1, math.min(s.sparkContext.defaultParallelism,
      math.ceil(nE / 250000.0).toInt))
    val part = new HashPartitioner(lp)
    val und = undRaw.partitionBy(part).cache()
    und.foreachPartition(_ => ()) // materialize, then free the raw copy
    undRaw.unpersist(false)
    // ---- Fixpoint round structure (round-4 rewrite; BENCH/TUNING.md r4):
    // the round-3 join/reduceByKey/union formulation paid 4-6 shuffles per
    // round — `labels` lost its partitioner at every map, so each join
    // RE-shuffled the full label state, and every cogroup/combiner ran an
    // ExternalAppendOnlyMap whose SizeTracker sampling dominated the
    // profile (BENCH/TUNING.md round 3b). This formulation keeps `labels`
    // hash-partitioned by `part` across rounds and does all per-partition
    // work in plain LongMaps:
    //   S1  prop:   edges look labels up via narrow zipPartitions (both
    //               sides co-partitioned by `part`), pre-combined per map
    //               partition (manual map-side combine, bounded by the
    //               250k-edges/task sizing) → ONE plain partitionBy
    //               shuffle of (target, candComp) pairs;
    //   —   merge:  labels ⊕ prop min-merge, zipPartitions, NO shuffle;
    //   S2  jump:   comp ← comp(comp) (pointer jumping keeps chained
    //               near-dups at O(log diameter)): swap-key partitionBy;
    //   S3  align:  jump results re-keyed by id back to `part`, then a
    //               narrow compare against the previous labels COUNTS
    //               CHANGES IN AN ACCUMULATOR inside the same job that
    //               materializes the round — convergence costs ZERO extra
    //               jobs (over-count on a task retry only means one extra
    //               no-op round; under-count is impossible in a job that
    //               ran to completion).
    // 3 plain (Long,Long) shuffles per round, no aggregation machinery,
    // no redundant label re-shuffles. Per-partition helpers live in the
    // serializable [[CCKernels]] object (static access — a local def here
    // would pull the enclosing non-serializable closure into every task).
    import CCKernels.{minFoldByKey, toLongMap}
    // label init fused with round 1: comp(id) = min(id, min neighbor) —
    // for the clique-ish components near-dup graphs produce this is
    // already the fixpoint (the first loop round then just verifies).
    var labels: RDD[(Long, Long)] = und
      .mapPartitions(it => minFoldByKey(it.map { case (p, t) => (t, p) }))
      .partitionBy(part)
      .mapPartitions(it => minFoldByKey(it.map { case (v, c) => (v, math.min(v, c)) }),
        preservesPartitioning = true)
      .cache()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val changed = s.sparkContext.longAccumulator(s"graft.cc.changed.$rounds")
      // S1: propose min labels along edges (lookup narrow, pre-combined)
      val prop = und.zipPartitions(labels) { (eIt, lIt) =>
        val lbl = toLongMap(lIt)
        minFoldByKey(eIt.map { case (u, v) => (v, lbl(u)) })
      }.partitionBy(part)
      // merge: per-key min of (previous label, best proposal) — narrow
      val merged = labels.zipPartitions(prop, preservesPartitioning = true) {
        (lIt, pIt) =>
          val m = toLongMap(lIt)
          pIt.foreach { case (id, c) => if (c < m(id)) m(id) = c }
          m.iterator
      }.cache()
      // S2+S3: pointer jump comp ← comp(comp), re-aligned to `part` and
      // compared against the previous labels in the same pass
      val next = merged
        .map { case (id, c) => (c, id) }.partitionBy(part)
        .zipPartitions(merged) { (rIt, lIt) =>
          val m = toLongMap(lIt)
          rIt.map { case (c, id) => (id, m.getOrElse(c, c)) }
        }.partitionBy(part)
        .zipPartitions(labels, preservesPartitioning = true) { (nIt, oIt) =>
          val old = toLongMap(oIt)
          nIt.map { case (id, cc) =>
            if (cc != old(id)) changed.add(1L)
            (id, cc)
          }
        }.cache()
      next.foreachPartition(_ => ()) // materialize; accumulator now final
      converged = changed.value == 0L
      labels.unpersist(false)
      merged.unpersist(false)
      labels = next
    }
    // free the edge cache: the returned frame depends only on the FINAL
    // labels (cached + fully materialized by the convergence count); if
    // those blocks were ever evicted the lineage recompute is slow but
    // correct. Without this, every invocation in a long-lived session
    // leaked one edge-set cache.
    und.unpersist(false)
    t(s, dir, "documents").select(col("doc_id"))
      .join(labels.toDF("doc_id", "comp"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
  }

  /** Signature matrix: doc_id, h0..h15 — computed by the native one-pass
    * minhash_sig expression (identical values to the former explode →
    * fingerprint → groupBy(min×16) plan, with NO explode and NO shuffle:
    * the signature stage is a narrow map over documents). */
  private def minhashSignatures(s: SparkSession, dir: String,
      fan: Boolean = false): DataFrame = {
    SF.register(s)
    // fan=true for consumers whose plan already exchanges (band joins):
    // see [[fanOut]]. The bare q_minhash_sig face stays narrow — its
    // zero-shuffle signature pass is the point being demonstrated.
    val src = if (fan) fanOut(t(s, dir, "documents")) else t(s, dir, "documents")
    src
      .withColumn("w", TF.tokens(col("text"))) // materialize words ONCE per row
      .withColumn("sig", SF.minhashSig(col("w")))
      .select(col("doc_id") +: (0 until minhashK).map(k => col("sig").getItem(k).as(s"h$k")): _*)
  }

  /** LSH candidate pairs (id_a < id_b) from 4×4 banding over the minhash
    * signature: docs sharing any band bucket meet via an equi-join on the
    * band key — never a quadratic pair enumeration. Shared by
    * q_dedup_minhash_pairs (verification) and q_minhash_accuracy (eval). */
  private def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(s, dir, fan = true)
    val bandStructs = array((0 until 4).map { j =>
      struct(lit(j).as("band"),
        concat_ws("_", (0 until 4).map(r => col(s"h${4 * j + r}")): _*).as("key"))
    }: _*)
    val bands = sig.select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
  }

  /** 64-bit SimHash signatures (doc_id, simhash): per-distinct-word
    * fingerprints, 4 universal hashes × 16 bits each (the hash family
    * yields 31-bit values, so one hash can't supply 64 bits), signed
    * bit-vote sums, sign → bit — computed by the native one-pass
    * `simhash_sig` codegen expression (no explode, NO SHUFFLE: the
    * signature stage is a narrow map; NativeExprEquivalenceSpec pins it
    * value-identical to the explode → 64-aggregate declarative form).
    * Shared by q_simhash and q_simhash_pairs so semantics can't drift. */
  private def simhashSignatures(s: SparkSession, dir: String,
      fan: Boolean = false): DataFrame = {
    SF.register(s)
    // fan: same discipline as [[minhashSignatures]] — q_simhash stays
    // narrow (PlanSpec asserts zero exchanges), band-join consumers fan
    val src = if (fan) fanOut(t(s, dir, "documents")) else t(s, dir, "documents")
    src.select(col("doc_id"), SF.simhashSig(TF.tokens(col("text"))).as("simhash"))
  }

  /** Hamming near-dup pairs via SimHash banding — EXACT by pigeonhole: 4
    * bands of 16 bits, so any pair at hamming distance ≤ 3 has at least one
    * identical band and is generated by the band equi-join (no all-pairs
    * join anywhere; the all-pairs oracle returns the same rows). 65536
    * buckets per band keeps candidate lists short at scale. Shared by
    * q_simhash_pairs and q_dedup_components. */
  private def simhashPairs(s: SparkSession, dir: String,
      dedup: Boolean = true): DataFrame = {
    val sig = simhashSignatures(s, dir, fan = true)
    val bandStructs = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L)).as("key"))
    }: _*)
    // the full 8-byte signature RIDES THROUGH the band shuffle (round-4
    // change): the hamming verify is then a codegen'd scalar on the join
    // output — no join-backs to the signature table. The former 3-join
    // shape (bands → distinct → sig ⋈ sig) paid two extra shuffled joins
    // to keep the band rows 8 bytes slimmer; measured at sf0.1 the carried
    // column is ~2× faster end-to-end and feeds the CC fixpoint's edge
    // stage the same way (BENCH/TUNING.md round 4).
    val bands = sig.select(col("doc_id"), col("simhash"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("hamming"))
    // dedup AFTER the hamming filter: the distinct then shuffles only the
    // verified near-dup pairs (3.5k at sf0.1), not the full candidate
    // multiset. `dedup = false` consumers tolerate ≤4-band duplicates.
    if (dedup) pairs.distinct() else pairs
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -------------------------------------------------- aggregates (A)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("sum_qty"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(24,8)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    "q_median" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 3).as("med_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 3).as("med_price"))
    }),

    "q_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 1000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
    }),

    "q_ordered_concat" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("l_linenumber"), col("l_returnflag")))),
            e => concat(e.getField("l_linenumber").cast("string"), e.getField("l_returnflag")))
        ).as("line_seq"))
    }),

    "q_udaf_concat" -> ((s, dir) => {
      // the typed-Aggregator UDAF face of ordered concat (SURVEY §2.9) —
      // same semantics as q_ordered_concat's window/collect_list form, but
      // driven through a custom Aggregator (partial-agg capable: merge is
      // associative, finish sorts once per group)
      val agg = udaf(new graft.functions.OrderedConcatAgg,
        graft.functions.OrderedConcatAgg.lineEncoder)
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(agg(col("l_linenumber"), col("l_returnflag")).as("line_seq"))
    }),

    // -------------------------------------------------- filters (F)
    "q_gate_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2 && col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    "q_charset_proj" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        trim(regexp_replace(regexp_replace(col("p_name"), "[aeiou]", ""), " +", " ")).as("cleaned"))
    }),

    // -------------------------------------------------- joins (J)
    "q_broadcast_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice").cast("decimal(20,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q_interval_join" -> ((s, dir) => {
      val ranges = t(s, dir, "region").select(
        col("r_name"),
        (col("r_regionkey") * 10).cast("double").as("lo"),
        ((col("r_regionkey") + 1) * 10).cast("double").as("hi"))
      t(s, dir, "lineitem")
        .join(broadcast(ranges), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("qty"))
    }),

    "q_anti_join_lev" -> ((s, dir) => {
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
    }),

    "q_dict_match" -> ((s, dir) => {
      // J8 dictionary-lookup join: words vs a broadcast wordlist with a
      // levenshtein tolerance (the reference's enchant-dict word correction,
      // idcardprocesser.py:26-49) — left-semi so multiple dictionary hits
      // count a word once
      import s.implicits._
      val dictDf = SparkEntry.MatchDict.toDF("dw")
      t(s, dir, "part")
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("w"))
        .join(broadcast(dictDf), levenshtein(col("w"), col("dw")) <= 1, "left_semi")
        .groupBy(col("p_partkey")).agg(count(lit(1)).as("matched"))
    }),

    "q_ratio_match" -> ((s, dir) => {
      // J2's RATIO-TEST acceptance as a standalone query (Lowe's 0.7-ratio
      // kNN accept, the reference's keypoint-match filter
      // keypoint_calc.py:65-84): per probe word, rank the dictionary
      // candidates by edit distance and accept the best match only when it
      // is DECISIVELY better than the runner-up — best < 0.7 × second.
      // Shape: probe × broadcast bounded dictionary (never probe × probe),
      // one window partitioned by the probe key, integer arithmetic for the
      // ratio (best*10 < second*7) so both engines compare exactly.
      import s.implicits._
      val dictDf = broadcast(SparkEntry.MatchDict.toDF("dw"))
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
    }),

    "q_bucketed_join" -> ((s, dir) => {
      // co-located join through the catalog: both sides written bucketed by
      // doc_id (layout shuffle paid ONCE at write — a FIXTURE step, run at
      // most once per session/dir so the timed query body is ONLY the
      // zero-Exchange join), the join itself plans with no shuffle
      // (BucketedJoinSpec asserts the plan; this query oracle-verifies the
      // RESULT of the bucketed path)
      ensureBucketedFixture(s, dir)
      graft.table.BucketedTable.colocatedJoin(s, "graft_bj_docs", "graft_bj_len", "doc_id")
        .select(col("doc_id"), col("lang"), col("len"))
    }),

    "q_classify_argmax" -> ((s, dir) => {
      val scored = t(s, dir, "part")
        .crossJoin(broadcast(t(s, dir, "region")))
        .withColumn("score", levenshtein(upper(col("p_name")), col("r_name")))
      val w = Window.partitionBy(col("p_partkey")).orderBy(col("score"), col("r_name"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("p_partkey"), col("r_name").as("best_template"), col("score").cast("long").as("score"))
    }),

    // -------------------------------------------------- windows (W)
    "q_order_restore" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .select(col("user_id"), col("event_id"), col("rn"))
    }),

    "q_json_extract" -> ((s, dir) => {
      // semi-structured column handling: pull a typed value out of the JSON
      // props payload (portable regex rather than engine-specific JSON
      // functions, so the oracle is exact)
      t(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
    }),

    "q_sessionize" -> ((s, dir) => {
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
    }),

    "q_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
    }),

    "q_topk_agg" -> ((s, dir) => {
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
    }),

    // -------------------------------------------------- dedup family
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // Incremental-ingest dedup — the shape q_dedup_exact CANNOT take at
      // scale: a daily batch must dedup against the ALREADY-COMMITTED
      // corpus without re-scanning (or shuffling) petabytes of history per
      // batch. The history is folded ONCE into per-shard bloom blobs
      // (mergeable aggregate; 16 KiB × shards, amortized across every
      // future batch — in production a persisted table, here built inline),
      // the batch probes the BROADCAST blobs (codegen bloom_maybe, zero
      // shuffle), and only bloom-POSITIVE rows (true dups + ~1% fpp tail)
      // enter the exact verify: history is semi-joined against the tiny
      // broadcast candidate-key set (column-pruned scan, history never
      // shuffles — the q_decontaminate discipline), then candidates
      // anti-join the confirmed collisions. No false negatives (bloom
      // property) ⇒ result is EXACTLY batch ∖ history; the oracle is the
      // plain anti-join. Stand-in slices: history = doc_id % 3 = 0, batch =
      // doc_id % 2 = 0 — their overlap (doc_id % 6 = 0) models re-delivered
      // documents.
      import graft.functions.BloomSketch
      TextFingerprint.register(s)
      val fp = call_function("text_fingerprint", col("text"))
      val nShards = 16
      val hist = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(fp.as("fp"))
      val batch = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), fp.as("fp"))
      val blooms = BloomSketch.shardedBlooms(fanOut(hist), col("fp"), nShards)
      val probed = batch
        .withColumn("shard", pmod(col("fp"), lit(nShards.toLong)))
        // left: a shard absent from history proves the key is new
        .join(broadcast(blooms), Seq("shard"), "left")
        .withColumn("maybe",
          coalesce(BloomSketch.maybe(s, col("bloom"), col("fp")), lit(false)))
        .select(col("doc_id"), col("lang"), col("fp"), col("maybe"))
      val candidates = probed.filter(col("maybe"))
      val collisions = hist.join(
        broadcast(candidates.select(col("fp"))), Seq("fp"), "left_semi")
      probed.filter(!col("maybe")).drop("maybe")
        .unionByName(candidates.drop("maybe")
          .join(broadcast(collisions), Seq("fp"), "left_anti"))
        .select(col("doc_id"), col("lang"), col("fp"))
    }),

    "q_dedup_jaccard" -> ((s, dir) => {
      // Inverted-index plan (the 100-TB shape): shingle → POSTING LIST
      // (one groupBy), document-frequency cap on the list length (a
      // boilerplate shingle shared by k docs would otherwise create a
      // k²-pair group — the classic skewed-key scale-killer), then pair
      // enumeration per capped list (native sorted_pairs, ≤ k(k−1)/2
      // bounded output) → per-pair shared-shingle count → Jaccard over the
      // capped shingle sets. No all-pairs join anywhere: only docs sharing
      // a rare shingle ever meet.
      SF.register(s)
      val docs = fanOut(t(s, dir, "documents"))
        .withColumn("w", TF.tokens(col("text")))
        .select(col("doc_id"), col("lang"), col("source"), SF.shinglesF(col("w")).as("sh"))
      val posting = docs
        .select(col("doc_id"), col("lang"), col("source"), explode(col("sh")).as("shingle"))
        .groupBy(col("shingle"), col("lang"), col("source"))
        .agg(collect_list(col("doc_id")).as("ids"))
        .filter(size(col("ids")) <= JaccardMaxDf)
      val sizes = posting.select(explode(col("ids")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = posting.filter(size(col("ids")) >= 2)
        .select(explode(SF.sortedPairs(col("ids"))).as("p"))
        .groupBy(col("p.a").cast("long").as("id_a"), col("p.b").cast("long").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
        .withColumn("jac", col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")))
        .filter(col("jac") >= 0.02)
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
    }),

    "q_minhash_sig" -> ((s, dir) => minhashSignatures(s, dir)),

    "q_dedup_minhash_pairs" -> ((s, dir) => {
      // LSH banding over the 16-hash signature (4 bands × 4 rows): docs
      // sharing any band bucket become candidates (equi-join on the band
      // key — the scale path: no quadratic pair enumeration), then exact
      // shingle-Jaccard verification on the candidates only.
      val cands = minhashCandidates(s, dir)
      val sh = fanOut(t(s, dir, "documents"))
        .withColumn("w", TF.tokens(col("text")))
        .select(col("doc_id"), SF.shinglesF(col("w")).as("sh"))
      val inter = size(array_intersect(col("sa.sh"), col("sb.sh")))
      cands
        .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("id_b") === col("sb.doc_id"))
        .withColumn("jac", inter.cast("double") / (size(col("sa.sh")) + size(col("sb.sh")) - inter))
        .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
    }),

    "q_minhash_accuracy" -> ((s, dir) => {
      // Sketch-accuracy EVAL (the reference's A9 eval-metrics discipline
      // applied to the sketch family): minhash agreement (matching
      // hashes / 16) is an unbiased Jaccard estimator — score it against
      // the exact shingle Jaccard, per LSH candidate pair. Candidates come
      // from the banded equi-join (never all-pairs); the eval adds two
      // equi-joins on doc_id. est is k/16 (exact dyadic double) and the
      // error arithmetic is identical in both engines, so the comparison
      // is hash-exact.
      val sig = minhashSignatures(s, dir)
      val sh = fanOut(t(s, dir, "documents"))
        .withColumn("w", TF.tokens(col("text")))
        .select(col("doc_id"), SF.shinglesF(col("w")).as("sh"))
      val nMatch = (0 until minhashK)
        .map(k => when(col(s"sa.h$k") === col(s"sb.h$k"), 1).otherwise(0))
        .reduce(_ + _)
      val inter = size(array_intersect(col("ka.sh"), col("kb.sh")))
      minhashCandidates(s, dir)
        .join(sig.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sig.as("sb"), col("id_b") === col("sb.doc_id"))
        .withColumn("est", nMatch.cast("double") / minhashK)
        .select(col("id_a"), col("id_b"), col("est"))
        .join(sh.as("ka"), col("id_a") === col("ka.doc_id"))
        .join(sh.as("kb"), col("id_b") === col("kb.doc_id"))
        .withColumn("jac",
          inter.cast("double") / (size(col("ka.sh")) + size(col("kb.sh")) - inter))
        .select(col("id_a"), col("id_b"),
          round(col("est"), 4).as("est_jac"),
          round(col("jac"), 4).as("exact_jac"),
          round(abs(col("est") - col("jac")), 4).as("abs_err"))
    }),

    "q_simhash" -> ((s, dir) => simhashSignatures(s, dir)),

    "q_simhash_pairs" -> ((s, dir) => simhashPairs(s, dir)),

    "q_dedup_components" -> ((s, dir) =>
      // keep = (doc_id == comp) marks the min-id survivor; the fixpoint
      // itself is the shared [[componentMap]] (also feeds q_dedup_survivor)
      componentMap(s, dir).withColumn("keep", col("doc_id") === col("comp"))),

    "q_dedup_survivor" -> ((s, dir) => {
      // Quality-based survivor election: near-dup CLUSTERS keep their
      // highest-quality member, not the arbitrary min-id one — what a real
      // training-data pipeline does (among near-duplicate pages keep the
      // cleanest rendering). Reuses the [[componentMap]] fixpoint; the
      // election itself is ONE partial-aggregatable
      // min(struct(-quality, doc_id)) groupBy — map-side combine, NO window
      // over the component key, so a giant dup cluster sends ≤ 1 row per
      // map task. Quality is the round(·,4) score both engines compute
      // bit-identically (q_text_stats); -quality is an exact sign flip
      // (and -(-q) restores q's bits), so the lexicographic min IS
      // (max quality, tie → min doc_id).
      val q = t(s, dir, "documents").select(col("doc_id"),
        round(TF.qualityScore(col("text")), 4).as("quality"))
      componentMap(s, dir).join(q, "doc_id")
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("quality")).as("nq"), col("doc_id").as("id"))).as("m"))
        .select(col("comp"), col("n_members"),
          col("m.id").as("survivor_id"), (-col("m.nq")).as("quality"))
    }),


    "q_dedup_embed_cosine" -> ((s, dir) => {
      // norms precomputed once per vector; dot via the native codegen'd
      // dot_f expression (O(n) norm folds + O(n²) dots, no HOFs in the
      // quadratic stage — the 100-TB-shaped plan)
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .withColumn("sim",
          VF.dotF(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
        .filter(col("sim") >= 0.4)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(col("sim"), 6).as("sim"))
    }),

    "q_dedup_embed_lsh" -> ((s, dir) => {
      // The no-all-pairs embedding dedup (the 100-TB shape, mirroring how
      // minhash_pairs sits behind banding): 32-bit random-hyperplane
      // signatures (plane_sig), banded 4×8 bits, candidates = equi-join on
      // the band bucket, exact cosine verify on candidates only. The
      // all-pairs q_dedup_embed_cosine stays as the exactness twin.
      //
      // REGIME (measured, BENCH/TUNING.md round 4e): this shape is for
      // TIGHT near-dup (τ→0.9), where banding is selective and per-pair
      // cost is flat. On cluster-structured corpora with a LOOSE τ,
      // cluster-mates agree on nearly every hyperplane bit, each cluster
      // lands in one bucket per band, and candidates degenerate to
      // within-cluster all-pairs — median-calibrated thresholds don't fix
      // it (bits balanced but correlated) and a bucket df cap guts recall
      // (767→4 true pairs at cap 256). The loose-τ scale path is
      // q_semantic_dedup: bound the cluster population with a trained
      // quantizer whose k grows with n, then pair within clusters only
      // (measured flat at ×10 corpus where this query grew 38×).
      VF.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"),
          VF.planeSig(col("embedding")).as("sig"))
      val bandStructs = array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), 8 * b).bitwiseAND(lit(255L)).as("key"))
      }: _*)
      val bands = e.select(col("vec_id"), explode(bandStructs).as("bk"))
        .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b")).distinct()
      cands
        .join(e.as("sa"), col("id_a") === col("sa.vec_id"))
        .join(e.as("sb"), col("id_b") === col("sb.vec_id"))
        .withColumn("sim",
          VF.dotF(col("sa.embedding"), col("sb.embedding")) / (col("sa.nrm") * col("sb.nrm")))
        .filter(col("sim") >= 0.4)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
    }),

    "q_hll_distinct" -> ((s, dir) => {
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
    }),

    "q_rollup" -> ((s, dir) => {
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
    }),

    "q_cube" -> ((s, dir) => {
      // Full cube: all four grouping sets in the same one-pass
      // Expand+Aggregate as q_rollup (cube adds the (status)-only level).
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("int").as("lvl"),
          round(sum(col("l_quantity").cast("decimal(20,6)")), 2).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "q_pivot" -> ((s, dir) => {
      // Pivot with an EXPLICIT bounded column set (the scale discipline:
      // no values-discovery pre-pass, one shuffle, five conditional
      // aggregates in a single Aggregate node).
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value").cast("decimal(20,6)")), 2).cast("double"))
    }),

    "q_split_assign" -> ((s, dir) => {
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
    }),

    "q_split_leakfree" -> ((s, dir) => {
      // Leakage-free variant of q_split_assign: split by near-dup
      // COMPONENT, not by document — two near-duplicates of the same page
      // must never straddle train and test (the doc-keyed split's classic
      // eval-contamination bug). Same portable fingerprint arithmetic,
      // keyed on the component label, so every member of a dup cluster
      // lands in the same split BY CONSTRUCTION, not by post-hoc
      // filtering; singletons (comp = doc_id) split exactly like the
      // doc-keyed form. Cost on top of the [[componentMap]] fixpoint is
      // one narrow map.
      TextFingerprint.register(s)
      val pct = pmod(call_function("text_fingerprint",
        col("comp").cast("string")), lit(100L))
      componentMap(s, dir).select(
        col("doc_id"), col("comp"), pct.as("pct"),
        when(pct < 80, "train").when(pct < 90, "val").otherwise("test").as("split"))
    }),

    "q_pack_sequences" -> ((s, dir) => {
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
    }),

    "q_chunk_overlap" -> ((s, dir) => {
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
    }),

    "q_stratified_sample" -> ((s, dir) => {
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
    }),

    "q_salted_agg" -> ((s, dir) => {
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
    }),

    "q_skew_join" -> ((s, dir) => {
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
    }),

    "q_grouping_sets" -> ((s, dir) => {
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
    }),

    "q_decontaminate" -> ((s, dir) => {
      // Benchmark DECONTAMINATION — the training-data hygiene op: flag
      // corpus documents whose 3-gram shingles overlap a held-out eval
      // benchmark (here a deterministic doc_id % 41 slice standing in for
      // an eval suite). The 100-TB shape: eval suites are tiny BY NATURE,
      // so the benchmark's distinct-shingle set is BROADCAST — the
      // petabyte corpus side is a narrow explode into a broadcast hash
      // join (zero shuffle of corpus text), then one map-side-combinable
      // per-doc count. Never a corpus×benchmark shuffle join.
      //
      // SCALE CAVEAT (round-3 advice): the % 41 stand-in slice scales WITH
      // the corpus, so the broadcast hint is only valid here because test
      // SFs are small. In production the bench side must be a genuinely
      // bounded external eval table (MMLU/GSM8K-sized, ≪ executor memory);
      // if the eval set can grow, drop the hint and let AQE pick the
      // strategy from the actual build-side size.
      SF.register(s)
      val docs = fanOut(t(s, dir, "documents"))
        .withColumn("w", TF.tokens(col("text")))
        .select(col("doc_id"), SF.shinglesF(col("w")).as("sh"))
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(explode(col("sh")).as("shingle")).distinct()
      val corpus = docs.filter(col("doc_id") % 41 =!= 0)
        .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_sh"),
          explode(col("sh")).as("shingle"))
      corpus.join(broadcast(bench), "shingle")
        .groupBy(col("doc_id"), col("n_sh"))
        .agg(count(lit(1)).as("n_hit"))
        .withColumn("overlap", round(col("n_hit").cast("double") / col("n_sh"), 4))
        .filter(col("overlap") >= 0.05)
        .select(col("doc_id"), col("n_sh"), col("n_hit"), col("overlap"))
    }),

    "q_repetition_quality" -> ((s, dir) => {
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
    }),

    "q_quantile_sketch" -> ((s, dir) => {
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
    }),

    "q_moving_agg" -> ((s, dir) => {
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
    }),

    "q_asof_join" -> ((s, dir) => {
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
    }),

    "q_cms_heavyhitters" -> ((s, dir) => {
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
    }),

    // -------------------------------------------------- similarity search
    "q_knn_cosine" -> ((s, dir) => {
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
    }),

    "q_knn_ivf" -> ((s, dir) => knnIvf(s, dir, nprobe = 2)),

    "q_pq_encode" -> ((s, dir) => {
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
    }),

    "q_knn_pq" -> ((s, dir) => {
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
    }),

    "q_semantic_dedup" -> ((s, dir) => {
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
    }),

    // -------------------------------------------------- text analysis
    "q_text_stats" -> ((s, dir) => {
      val c = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(c).cast("long").as("n_tokens"),
        TF.distinctTokenCount(c).cast("long").as("n_distinct"),
        TF.stopwordCount(c).cast("long").as("n_stop"),
        round(TF.qualityScore(c), 4).as("quality"))
    }),

    "q_gopher_rules" -> ((s, dir) => {
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
    }),

    "q_bm25" -> ((s, dir) => {
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
    }),

    "q_dsir_weight" -> ((s, dir) => {
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
    }),

    "q_token_bpe" -> ((s, dir) => {
      // BPE-style pre-tokenization count (GPT-2-ish word/number/punct
      // splitting, simplified to a regex portable across Java and RE2):
      // runs of letters (with optional leading space), runs of digits,
      // runs of other non-space chars
      t(s, dir, "documents").select(
        col("doc_id"),
        expr("size(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+', 0))")
          .cast("long").as("bpe_tokens"),
        TF.tokenCount(col("text")).cast("long").as("ws_tokens"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      TextFingerprint.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), call_function("text_fingerprint", col("text")).as("fp"))
    }),

    "q_winnow_fp" -> ((s, dir) => {
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
    }),

    "q_winnow_common_spans" -> ((s, dir) => {
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
    }),

    "q_substring_scrub" -> ((s, dir) => {
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
    }),

    "q_unigram_lm" -> ((s, dir) => {
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
    }),

    "q_quality_classifier" -> ((s, dir) => {
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
    }),

    "q_ccnet_bucket" -> ((s, dir) => {
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
    }),

    "q_profile" -> ((s, dir) => {
      // COLUMN PROFILING (the Deequ/Great-Expectations "profile" op): per
      // column — null count, exact distinct, lexicographic min/max — in
      // ONE scan: a single global aggregate (multiple distinct aggregates
      // expand to Spark's multi-distinct plan, still one pass over the
      // data) unpivoted to long form with stack(). At 100 TB the exact
      // distincts would swap to the HLL/KMV sketches above — this is the
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
    }),

    "q_dq_checks" -> ((s, dir) => {
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
    }),

    "q_curate_e2e" -> ((s, dir) => {
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
    }),

    "q_priority_sample" -> ((s, dir) => {
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
    }),

    "q_url_canon" -> ((s, dir) => {
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
    }),

    "q_pmi_pairs" -> ((s, dir) => {
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
    }),

    "q_kmv_intersect" -> ((s, dir) => {
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
    }),

    "q_bigram_lm" -> ((s, dir) => {
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
    }),

    "q_funnel" -> ((s, dir) => {
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
    }),

    "q_retention_cohort" -> ((s, dir) => {
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
    }),

    "q_pii_scrub" -> ((s, dir) => {
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
    }),

    "q_tfidf_topterms" -> ((s, dir) => {
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
    }),

    "q_paragraph_dedup" -> ((s, dir) => {
      // PARAGRAPH-level exact dedup with in-order reassembly — the
      // RefinedWeb/CCNet hygiene op that strips boilerplate blocks
      // (headers, nav bars, license banners) REPEATED ACROSS documents
      // while keeping each document's residual text coherent. The corpus
      // has no organic paragraph breaks, so segmentation is a deterministic
      // 16-token blocking (an input detail — a real pipeline splits on
      // \n\n); the OPERATOR is the interesting part:
      //   (1) explode segments with position,
      //   (2) global first-occurrence election per segment via
      //       groupBy(seg).agg(min(struct(doc_id, seg_idx))) — map-side
      //       partial aggregation means a hot boilerplate segment sends ≤ 1
      //       row per map task across the shuffle (a window row_number here
      //       would funnel ALL occurrences of a hot segment into one
      //       reducer — the skew trap). The electees ARE the kept
      //       occurrences — no join-back to the segment stream is needed
      //       (that join would also force a second corpus-wide
      //       tokenize+explode pass, since its exchange can't unify with
      //       the election's partial-agg'd one), and
      //   (3) ordered reassembly per doc (array_sort over collected
      //       (idx, seg) structs — one bounded in-group sort).
      // Every doc survives with n_kept ≥ 0 (left join against the narrow
      // per-doc segment counts — size arithmetic only, no second explode),
      // so downstream accounting sees drops explicitly rather than losing
      // rows. ONE heavy corpus pass total.
      val segLen = 16
      val base = fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), TF.tokens(col("text")).as("w"))
        .withColumn("n_segs",
          expr(s"cast((size(w) + ${segLen - 1}) div $segLen AS BIGINT)"))
      val segs = base.select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(cast(0 AS BIGINT), n_segs - 1),
           |  i -> array_join(slice(w, cast(i * $segLen + 1 AS INT), $segLen), ' '))"""
          .stripMargin)))
        .toDF("doc_id", "seg_idx", "seg")
      val kept = segs.groupBy(col("seg"))
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
        .select(col("first.doc_id").as("doc_id"),
          col("first.seg_idx").as("seg_idx"), col("seg"))
      val reassembled = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            e => e.getField("seg"))).as("cleaned_text"))
      base.select(col("doc_id"), col("n_segs"))
        .join(reassembled, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
    }),

    "q_mix_rebalance" -> ((s, dir) => {
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
    }),

    "q_langid_eval" -> ((s, dir) => {
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
    }),

    "q_bpe_train" -> ((s, dir) => {
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
    }),

    "q_hard_negatives" -> ((s, dir) => {
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
    }),

    "q_bpe_apply" -> ((s, dir) => {
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
    }),

    // -------------------------------------------------- extraction engine
    // The kernels have no SQL re-derivation, but ALL six queries now carry
    // FULL hash oracles anyway: flagship/spans/sql_extract/fields/
    // media_features against spec-derived golden parquet locked under
    // [[GoldenDir]] (see GoldenDump/GoldenParquetSpec; the driver's DuckDB
    // reads it via read_parquet — the north rule's per-turn text equality,
    // hash-checked by the driver), and x_lang_id against a symbolic
    // per-doc score re-derivation ([[oLangIdPerDoc]]).
    "x_extract_flagship" -> ((s, _) => {
      ExtractPipeline.run(s, TranscriptGen.dataset(s, 42L, nConvs = 80, hotBase = 200))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          col("text"), col("blocksKept"), col("blocksDropped"), col("charsEmitted"),
          col("classifyScore"))
    }),

    "x_media_features" -> ((s, dir) => {
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
    }),

    "x_sql_extract" -> ((s, _) => {
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
    }),

    "x_extract_fields" -> ((s, _) => {
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
    }),

    "q_sft_pairs" -> ((s, dir) => {
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
    }),

    "q_dpo_pairs" -> ((s, dir) => {
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
    }),

    "q_c4_rules" -> ((s, dir) => {
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
    }),

    "q_domain_rank" -> ((s, dir) => {
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
    }),

    "q_embed_meanpool" -> ((s, dir) => {
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
    }),

    "q_anomaly_mad" -> ((s, dir) => {
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
    }),

    "q_conv_budget" -> ((s, dir) => {
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
    }),

    "q_conv_valid" -> ((s, dir) => {
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
    }),

    "q_tool_loops" -> ((s, dir) => {
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
    }),

    "q_rank_fusion" -> ((s, dir) => {
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
    }),

    "q_ndcg_eval" -> ((s, dir) => {
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
    }),

    "q_containment" -> ((s, dir) => {
      // ASYMMETRIC near-dup — shingle CONTAINMENT C(A,B) = |A∩B| / |A|
      // (Broder 1997's second resemblance measure): catches a short
      // document quoted/embedded inside a longer one, where Jaccard stays
      // low and the symmetric dedup family is blind (the quote-detection /
      // partial-copy face of decontamination). The corpus has no organic
      // quotes, so QUOTE documents are injected (fixture discipline):
      // every 10th doc contributes its 40-token prefix under a shifted id —
      // synthesized UNTIMED once per (session, dir) by
      // [[ensureContainmentFixture]] so the timed body measures the index,
      // not corpus synthesis + shingling.
      // Scale shape = q_dedup_jaccard's inverted index: posting lists with
      // the df cap, pair enumeration only within capped lists — only docs
      // sharing a rare shingle ever meet; containment is then integer
      // division over the capped shingle sets, both directions, keep
      // pairs where either direction ≥ 0.5.
      SF.register(s)
      val docs = s.read.parquet(ensureContainmentFixture(s, dir))
      val posting = docs
        .select(col("doc_id"), col("lang"), col("source"),
          explode(col("sh")).as("shingle"))
        .groupBy(col("shingle"), col("lang"), col("source"))
        .agg(collect_list(col("doc_id")).as("ids"))
        .filter(size(col("ids")) <= JaccardMaxDf)
      val sizes = posting.select(explode(col("ids")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = posting.filter(size(col("ids")) >= 2)
        .select(explode(SF.sortedPairs(col("ids"))).as("p"))
        .groupBy(col("p.a").cast("long").as("id_a"), col("p.b").cast("long").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.as("ca"), col("id_a") === col("ca.doc_id"))
        .join(sizes.as("cb"), col("id_b") === col("cb.doc_id"))
        .withColumn("c_ab", col("inter").cast("double") / col("ca.n"))
        .withColumn("c_ba", col("inter").cast("double") / col("cb.n"))
        .filter(col("c_ab") >= 0.5 || col("c_ba") >= 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("c_ab"), 4).as("c_ab"), round(col("c_ba"), 4).as("c_ba"))
    }),

    "q_cluster_purity" -> ((s, dir) => {
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
    }),

    "q_lsh_tuning" -> ((s, dir) => {
      // LSH BANDING PARAMETER SWEEP — the S-curve tradeoff (MMDS §3.4)
      // that decides a dedup deployment: for the SAME 16-hash signatures,
      // 2×8 / 4×4 / 8×2 banding trade recall (more bands catch lower
      // similarities) against candidate volume (more bands = more pairs
      // to verify — the cost term at 100 TB). Per config: candidate-pair
      // count, verified count (est ≥ 0.5 ⇔ ≥ 8 matching components —
      // integer, no float threshold), precision in milli. Scale shape:
      // per config nb banded EQUI-joins (never all-pairs) + two signature
      // equi-joins for verification; the output is 3 rows.
      val sig = minhashSignatures(s, dir, fan = true)
      Seq((2, 8), (4, 4), (8, 2)).map { case (nb, nr) =>
        val pairs = (0 until nb).map { j =>
          val cond = (0 until nr)
            .map(r => col(s"a.h${j * nr + r}") === col(s"b.h${j * nr + r}"))
            .reduce(_ && _)
          sig.as("a").join(sig.as("b"), cond && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        }.reduce(_ unionByName _).distinct()
        pairs
          .join(sig.as("sa"), col("id_a") === col("sa.doc_id"))
          .join(sig.as("sb"), col("id_b") === col("sb.doc_id"))
          .withColumn("matches", (0 until minhashK)
            .map(k => when(col(s"sa.h$k") === col(s"sb.h$k"), 1).otherwise(0))
            .reduce(_ + _))
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum(when(col("matches") >= 8, 1L).otherwise(0L)), lit(0L))
              .as("n_verified"))
          .select(lit(nb).cast("int").as("n_bands"),
            lit(nr).cast("int").as("rows_per_band"),
            col("n_candidates"), col("n_verified"))
      }.reduce(_ unionByName _)
        .withColumn("precision_milli",
          when(col("n_candidates") === 0, 0L)
            .otherwise(expr("(1000 * n_verified) div n_candidates")))
    }),

    "x_lang_id" -> ((s, dir) => {
      // classifier-argmax demo over a broadcast profile table (J1 shape);
      // a UDF is acceptable here: the kernel is the operator being demoed,
      // not a hot-path scalar (the hot paths use native expressions)
      val detect = udf((text: String) => graft.kernel.LangId.detect(text))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"), detect(col("text")).as("d"))
        .select(col("doc_id"), col("labeled_lang"),
          col("d._1").as("pred_lang"), col("d._2").as("pred_score"))
    }),

    "x_extract_spans" -> ((s, _) => {
      ExtractPipeline.run(s, TranscriptGen.dataset(s, 42L, nConvs = 40, hotBase = 100))
        .select(col("conv_id"), col("turn_idx"), explode(col("spans")).as("span"))
        .select(col("conv_id"), col("turn_idx"),
          col("span.blockIdx"), col("span.start"), col("span.end"),
          col("span.kind"), col("span.text"))
    })
  )

  // ------------------------------------------------------------------
  // DuckDB oracles — exact twins of the queries above.

  /** Sequential-fold helpers shared by several oracles. */
  private val oFpBody =
    "list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, length(%s)), i -> ord(substr(%s, i, 1))::BIGINT)), (h, cp) -> (h*31 + cp) %% 1000000007)"
  private def oFp(c: String): String = oFpBody.format(c, c)

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

  private def oDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"
  private def oNorm(a: String): String = s"sqrt(${oDot(a, a)})"
  private def oSim(a: String, b: String): String =
    s"${oDot(a, b)} / (${oNorm(a)} * ${oNorm(b)})"

  private val oShingles =
    "list_distinct(CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [array_to_string(w, ' ')] END)"

  private val oStop = "['the','a','an','and','or','of','to','in','is','it']"

  /** Shared simhash-signature CTEs (ends with `simsig(doc_id, simhash)`) —
    * same 64-bit, 4-hash construction as [[simhashSignatures]] (bit 63
    * weighted Long.MinValue; the sum runs in INT128 and the cast to BIGINT
    * is exact because the signed total is in range). */
  private val oSimhashCtes = {
    val hashes = (0 until 4)
      .map(k => s"(fp*${TF.hashA(k)} + ${TF.hashB(k)}) % ${TF.HashP} AS h$k").mkString(", ")
    val bits = (0 until 64).map { j =>
      val w = if (j == 63) Long.MinValue else 1L << j
      s"(CASE WHEN sum(2*((h${j / 16}>>${j % 16})&1) - 1) > 0 THEN $w ELSE 0 END)"
    }.mkString(" + ")
    s"""wds AS (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), ' +'))) AS w
          FROM documents),
        f AS (SELECT doc_id, ${oFp("w")} AS fp FROM wds),
        hs AS (SELECT doc_id, $hashes FROM f),
        simsig AS (SELECT doc_id, cast($bits AS BIGINT) AS simhash FROM hs GROUP BY doc_id)"""
  }

  /** Recursive transitive closure of the simhash near-dup graph, yielding
    * comp(doc_id, comp) — the SQL twin of [[componentMap]], shared by the
    * q_dedup_components and q_dedup_survivor oracles. Base case seeds every
    * doc with itself, so singletons keep comp = doc_id. */
  private def oComponentCtes: String =
    s"""$oSimhashCtes,
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT doc_id, doc_id FROM simsig
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY 1)"""

  /** The q_text_stats quality score (round 4 digits), over a scope binding
    * `text` and `w` = string_split_regex(trim(text), ' +') — the SQL twin of
    * TF.qualityScore; shared by the q_text_stats and q_dedup_survivor
    * oracles. */
  private def oQualityExpr: String =
    s"""round(
          least(1.0, 4.0 * (len(list_filter(w, x -> list_contains($oStop, x)))::DOUBLE / len(w))) *
          least(1.0, (length(regexp_replace(trim(text), ' +', '', 'g'))::DOUBLE / len(w)) / 4) *
          (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text)), 4)"""

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

  /** q_langid_eval oracle: the LangId kernel score, re-derived symbolically
    * from the same profile data. ASCII-lowering is an explicit `translate`
    * (DuckDB `lower()` also lowers non-ASCII, which the kernel does not);
    * tokens split on ASCII whitespace; trigram hits scan every position of
    * the lowered text; argmax tie-breaks by ascending lang code via CASE
    * order (= Profiles order); all-zero scores map to 'und'. */
  private def oLangIdEval: String = {
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
    s"""WITH base AS (SELECT lang, $lower AS t FROM documents),
        toks AS (SELECT lang, t,
          list_filter(string_split_regex(t, '[ \t\n\r\f]+'), x -> x <> '') AS w
          FROM base),
        scored AS (SELECT lang, $scoreCols FROM toks),
        best AS (SELECT lang, $sNames, $mx AS mx FROM scored)
        SELECT lang AS labeled_lang,
          CASE WHEN mx = 0 THEN 'und' $pick END AS pred_lang,
          count(*) AS n
        FROM best GROUP BY 1, 2"""
  }

  /** x_lang_id oracle: the per-doc twin of [[oLangIdEval]] — identical
    * symbolic score re-derivation (2·function-word hits + trigram hits,
    * argmax, tie → lang asc, all-zero → "und"/0), keyed by doc_id and
    * carrying the winning score. All-integer arithmetic: hash-exact. */
  private def oLangIdPerDoc: String = {
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
    s"""WITH base AS (SELECT doc_id, lang, $lower AS t FROM documents),
        toks AS (SELECT doc_id, lang, t,
          list_filter(string_split_regex(t, '[ \t\n\r\f]+'), x -> x <> '') AS w
          FROM base),
        scored AS (SELECT doc_id, lang, $scoreCols FROM toks),
        best AS (SELECT doc_id, lang, $sNames, $mx AS mx FROM scored)
        SELECT doc_id, lang AS labeled_lang,
          CASE WHEN mx = 0 THEN 'und' $pick END AS pred_lang,
          mx AS pred_score
        FROM best"""
  }

  /** Broadcast wordlist for the dictionary-lookup join demo. */
  val MatchDict: Seq[String] =
    Seq("red", "blue", "green", "small", "large", "widget", "bolt", "ring", "gear", "cable")

  /** Per-partition kernels of the q_dedup_components fixpoint — a
    * standalone serializable object so task closures reference it
    * statically (`CCKernels.minFoldByKey`) instead of capturing the
    * enclosing query lambda (which holds the non-serializable session). */
  private[graft] object CCKernels extends Serializable {
    import scala.collection.mutable.LongMap

    /** Manual map-side combine: per-key min fold in an unboxed-key LongMap.
      * Bounded by the 250k-edges/task partition sizing, so the map always
      * fits (the reason the fixpoint can shun Spark's ExternalAppendOnlyMap
      * combiners and their SizeTracker sampling cost entirely). */
    def minFoldByKey(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
      val best = new LongMap[Long](1 << 12)
      it.foreach { case (k, v) =>
        if (v < best.getOrElse(k, Long.MaxValue)) best(k) = v
      }
      best.iterator
    }

    /** Materialize a co-partitioned label iterator for O(1) lookups.
      * Lookups via `apply` throw on a missing key — every vertex is labeled
      * by construction (symmetric edge set), so a miss is a real bug. */
    def toLongMap(it: Iterator[(Long, Long)]): LongMap[Long] = {
      val m = new LongMap[Long](1 << 12)
      it.foreach { case (k, v) => m(k) = v }
      m
    }
  }

  /** Write-once fixture for q_bucketed_join: the bucketed catalog tables are
    * the LAYOUT the query demonstrates, not part of its work — writing them
    * inside the query body would re-pay the layout shuffle on every (timed)
    * invocation. Idempotent per session: the catalog check makes warm bench
    * runs time only the join. */
  private val bucketedFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** q_containment's injected-quote corpus (every 10th doc's 40-token
    * prefix under a shifted id, already tokenized + shingled), materialized
    * ONCE per (session, dir) — fixture-synthesis discipline: the timed
    * query body should measure the inverted INDEX, not corpus synthesis
    * (same hoist as [[ensureBucketedFixture]]). Returns the parquet path. */
  private val containmentFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (String, String)]()

  private def ensureContainmentFixture(s: SparkSession, dir: String): String = {
    val memo = containmentFixtureDir.get(s)
    if (memo != null && memo._1 == dir) memo._2
    else synchronized {
      val again = containmentFixtureDir.get(s)
      if (again != null && again._1 == dir) again._2
      else {
        SF.register(s)
        val path = java.nio.file.Files
          .createTempDirectory("graft_containment").toString
        val base = fanOut(t(s, dir, "documents"))
          .select(col("doc_id"), col("lang"), col("source"),
            TF.tokens(col("text")).as("w"))
        val quotes = base.filter(pmod(col("doc_id"), lit(10L)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            col("source"), expr("slice(w, 1, 40)").as("w"))
        base.unionByName(quotes)
          .select(col("doc_id"), col("lang"), col("source"),
            SF.shinglesF(col("w")).as("sh"))
          .write.mode("overwrite").parquet(path)
        containmentFixtureDir.put(s, (dir, path))
        path
      }
    }
  }

  private def ensureBucketedFixture(s: SparkSession, dir: String): Unit =
    if (bucketedFixtureDir.get(s) != dir) synchronized {
      if (bucketedFixtureDir.get(s) != dir) {
        val base = java.nio.file.Files.createTempDirectory("graft_bj").toString
        val docs = t(s, dir, "documents")
        graft.table.BucketedTable.save(
          docs.select(col("doc_id"), col("lang"), col("text")),
          "graft_bj_docs", s"$base/docs", buckets = 8, key = "doc_id")
        graft.table.BucketedTable.save(
          docs.select(col("doc_id"), length(col("text")).cast("long").as("len")),
          "graft_bj_len", s"$base/len", buckets = 8, key = "doc_id")
        bucketedFixtureDir.put(s, dir)
      }
    }

  /** nDCG@5 discount gains floor(10⁶ / log₂(i+1)), i = 1..5, and the ideal
    * DCG for graded relevance (5,4,3,2,1) — computed ONCE here and
    * interpolated into both engines as integer literals (the HllAlphaM2 /
    * HllLinearCount cross-engine discipline: no engine-local log). */
  private val NdcgGains: Seq[Long] =
    (1 to 5).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)
  private val NdcgIdcg: Long =
    NdcgGains.zipWithIndex.map { case (g, i) => g * (5 - i) }.sum

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

  def oracleSql: Map[String, String] = Map(
    "q_domain_rank" -> oDomainRank,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(cast(l_quantity AS DECIMAL(20,6))),2)::DOUBLE AS sum_qty,
         round(sum(cast(l_extendedprice*(1-l_discount) AS DECIMAL(24,8))),2)::DOUBLE AS revenue,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_median" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity,0.5),3) AS med_qty,
         round(quantile_cont(l_extendedprice,0.5),3) AS med_price
         FROM lineitem GROUP BY l_returnflag""",

    "q_histogram" ->
      "SELECT cast(floor(l_extendedprice/1000) AS BIGINT) AS bucket, count(*) AS n FROM lineitem GROUP BY 1",

    "q_ordered_concat" ->
      """SELECT l_orderkey, string_agg(cast(l_linenumber AS VARCHAR) || l_returnflag, ','
         ORDER BY l_linenumber, l_returnflag) AS line_seq FROM lineitem GROUP BY l_orderkey""",

    "q_udaf_concat" ->
      """SELECT l_orderkey, string_agg(cast(l_linenumber AS VARCHAR) || l_returnflag, ','
         ORDER BY l_linenumber, l_returnflag) AS line_seq FROM lineitem GROUP BY l_orderkey""",

    "q_gate_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity <= 2 AND l_returnflag = 'A'""",

    "q_charset_proj" ->
      """SELECT p_partkey, trim(regexp_replace(regexp_replace(p_name, '[aeiou]', '', 'g'), ' +', ' ', 'g')) AS cleaned
         FROM part""",

    "q_broadcast_join" ->
      """SELECT n_name, round(sum(cast(o_totalprice AS DECIMAL(20,6))),2)::DOUBLE AS revenue,
         count(*) AS n_orders
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey GROUP BY n_name""",

    "q_interval_join" ->
      """SELECT r_name, count(*) AS n,
         round(sum(cast(l_quantity AS DECIMAL(20,6))),2)::DOUBLE AS qty
         FROM lineitem JOIN region
         ON l_quantity >= r_regionkey*10 AND l_quantity < (r_regionkey+1)*10
         GROUP BY r_name""",

    "q_anti_join_lev" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part)
         SELECT p_name FROM names a WHERE NOT EXISTS (
           SELECT 1 FROM names b WHERE levenshtein(a.p_name, b.p_name) < 3 AND b.p_name < a.p_name)""",

    "q_dict_match" -> {
      val vals = MatchDict.map(w => s"('$w')").mkString(",")
      s"""SELECT p_partkey, count(*) AS matched FROM (
            SELECT p_partkey, w FROM (
              SELECT p_partkey, unnest(string_split(p_name, ' ')) AS w FROM part)
            WHERE EXISTS (SELECT 1 FROM (VALUES $vals) d(dw) WHERE levenshtein(w, dw) <= 1))
          GROUP BY p_partkey"""
    },

    "q_ratio_match" -> {
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
    },

    "x_extract_flagship" ->
      s"SELECT * FROM read_parquet('$GoldenDir/x_extract_flagship.parquet')",

    "x_extract_spans" ->
      s"SELECT * FROM read_parquet('$GoldenDir/x_extract_spans.parquet')",

    "x_sql_extract" ->
      s"SELECT * FROM read_parquet('$GoldenDir/x_sql_extract.parquet')",

    "x_extract_fields" ->
      s"SELECT * FROM read_parquet('$GoldenDir/x_extract_fields.parquet')",

    "x_media_features" ->
      s"SELECT * FROM read_parquet('$GoldenDir/x_media_features.parquet')",

    "q_bucketed_join" ->
      "SELECT doc_id, lang, length(text) AS len FROM documents",

    "q_classify_argmax" ->
      """SELECT p_partkey, r_name AS best_template, cast(score AS BIGINT) AS score FROM (
           SELECT p_partkey, r_name, levenshtein(upper(p_name), r_name) AS score,
             row_number() OVER (PARTITION BY p_partkey
               ORDER BY levenshtein(upper(p_name), r_name), r_name) AS rk
           FROM part CROSS JOIN region) WHERE rk = 1""",

    "q_order_restore" ->
      """SELECT user_id, event_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
         FROM events""",

    "q_json_extract" ->
      """SELECT cast(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k, count(*) AS n
         FROM events GROUP BY 1""",

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
          s AS (SELECT user_id, event_id, ts, ms,
             CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS ns FROM e),
          x AS (SELECT user_id, ms,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM s)
          SELECT user_id, cast(sid AS BIGINT) AS session_id, count(*) AS n_events,
            cast(max(ms) - min(ms) AS BIGINT) AS duration_ms
          FROM x GROUP BY user_id, sid""",

    "q_topk_window" ->
      """SELECT o_orderpriority, cast(rk AS INT) AS rk, o_orderkey, round(o_totalprice,2) AS price FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders) WHERE rk <= 3""",

    // Oracle for the typed-Aggregator top-k is the WINDOW form — the
    // aggregator's contract is "exactly the window prefix" (TopKAgg.scala).
    "q_topk_agg" ->
      s"""SELECT lang, CAST(rn - 1 AS INT) AS rank, doc_id FROM (
            SELECT lang, doc_id,
              row_number() OVER (PARTITION BY lang
                ORDER BY $oQualityExpr DESC, doc_id) AS rn
            FROM (SELECT lang, doc_id, text,
                    string_split_regex(trim(text), ' +') AS w FROM documents))
          WHERE rn <= 3""",

    "q_dedup_exact" ->
      "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n FROM documents GROUP BY 1",

    // bloom prefilter + exact verify ≡ plain anti-join (no false negatives)
    "q_dedup_incremental" ->
      s"""WITH hist AS (SELECT ${oFp("text")} AS fp FROM documents WHERE doc_id % 3 = 0),
          batch AS (SELECT doc_id, lang, ${oFp("text")} AS fp FROM documents WHERE doc_id % 2 = 0)
          SELECT b.doc_id, b.lang, b.fp FROM batch b
          WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)""",

    "q_dedup_jaccard" ->
      s"""WITH s AS (SELECT doc_id, lang, source, $oShingles AS sh
            FROM (SELECT doc_id, lang, source, string_split_regex(trim(text), ' +') AS w FROM documents)),
          ex AS (SELECT doc_id, lang, source, unnest(sh) AS shingle FROM s),
          dfc AS (SELECT shingle, lang, source, count(*) AS df FROM ex GROUP BY shingle, lang, source),
          rare AS (SELECT ex.doc_id, ex.lang, ex.source, ex.shingle
            FROM ex JOIN dfc USING(shingle, lang, source) WHERE df <= $JaccardMaxDf),
          sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.lang = b.lang
              AND a.source = b.source AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT id_a, id_b, round(jac, 4) AS jac FROM (
            SELECT id_a, id_b, inter::DOUBLE / (sa.n + sb.n - inter) AS jac
            FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
          WHERE jac >= 0.02""",

    "q_minhash_sig" -> {
      val mins = (0 until minhashK).map(k =>
        s"min((fp*${TF.hashA(k)} + ${TF.hashB(k)}) % ${TF.HashP}) AS h$k").mkString(", ")
      s"""WITH sh AS (SELECT doc_id, unnest($oShingles) AS shingle
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents)),
          f AS (SELECT doc_id, ${oFp("shingle")} AS fp FROM sh)
          SELECT doc_id, $mins FROM f GROUP BY doc_id"""
    },

    "q_dedup_minhash_pairs" -> {
      val mins = (0 until minhashK).map(k =>
        s"min((fp*${TF.hashA(k)} + ${TF.hashB(k)}) % ${TF.HashP}) AS h$k").mkString(", ")
      val bandSelects = (0 until 4).map { j =>
        val key = (0 until 4).map(r => s"cast(h${4 * j + r} AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc_id, $j AS band, $key AS key FROM sig"
      }.mkString(" UNION ALL ")
      s"""WITH sh AS (SELECT doc_id, unnest($oShingles) AS shingle
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents)),
          f AS (SELECT doc_id, ${oFp("shingle")} AS fp FROM sh),
          sig AS (SELECT doc_id, $mins FROM f GROUP BY doc_id),
          bands AS ($bandSelects),
          cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
          shs AS (SELECT doc_id, $oShingles AS sh
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents))
          SELECT id_a, id_b,
            round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::DOUBLE
              / (len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))), 4) AS jac
          FROM cands JOIN shs sa ON id_a = sa.doc_id JOIN shs sb ON id_b = sb.doc_id"""
    },

    "q_minhash_accuracy" -> {
      val mins = (0 until minhashK).map(k =>
        s"min((fp*${TF.hashA(k)} + ${TF.hashB(k)}) % ${TF.HashP}) AS h$k").mkString(", ")
      val bandSelects = (0 until 4).map { j =>
        val key = (0 until 4).map(r => s"cast(h${4 * j + r} AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc_id, $j AS band, $key AS key FROM sig"
      }.mkString(" UNION ALL ")
      val nMatch = (0 until minhashK)
        .map(k => s"(CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH sh AS (SELECT doc_id, unnest($oShingles) AS shingle
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents)),
          f AS (SELECT doc_id, ${oFp("shingle")} AS fp FROM sh),
          sig AS (SELECT doc_id, $mins FROM f GROUP BY doc_id),
          bands AS ($bandSelects),
          cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
          shs AS (SELECT doc_id, $oShingles AS sh
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents)),
          est AS (SELECT id_a, id_b, ($nMatch)::DOUBLE / $minhashK AS est
            FROM cands JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id),
          ex AS (SELECT id_a, id_b, est,
              len(list_filter(ka.sh, x -> list_contains(kb.sh, x)))::DOUBLE
                / (len(ka.sh) + len(kb.sh)
                   - len(list_filter(ka.sh, x -> list_contains(kb.sh, x)))) AS jac
            FROM est JOIN shs ka ON id_a = ka.doc_id JOIN shs kb ON id_b = kb.doc_id)
          SELECT id_a, id_b, round(est, 4) AS est_jac, round(jac, 4) AS exact_jac,
            round(abs(est - jac), 4) AS abs_err
          FROM ex"""
    },

    "q_simhash" ->
      s"""WITH $oSimhashCtes
          SELECT doc_id, simhash FROM simsig""",

    "q_simhash_pairs" ->
      // all-pairs form: exact-equal to the Spark banded plan by pigeonhole
      // (hamming ≤ 3 over 4 bands ⇒ ≥ 1 band identical)
      s"""WITH $oSimhashCtes
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            cast(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM simsig a JOIN simsig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

    "q_dedup_embed_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${oNorm("embedding")} AS nrm FROM embeddings)
          SELECT id_a, id_b, round(sim, 6) AS sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              ${oDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id)
          WHERE sim >= 0.4""",

    "q_hll_distinct" ->
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
          FROM est JOIN ex ON est.lang = ex.lang""",

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) AS INT) AS lvl,
           round(sum(cast(l_quantity AS DECIMAL(20,6))), 2)::DOUBLE AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) AS INT) AS lvl,
           round(sum(cast(l_quantity AS DECIMAL(20,6))), 2)::DOUBLE AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q_pivot" -> {
      val cols = Seq("click", "view", "purchase", "signup", "error").map(t =>
        s"round(sum(CASE WHEN event_type = '$t' THEN cast(value AS DECIMAL(20,6)) END), 2)::DOUBLE AS $t")
        .mkString(", ")
      s"SELECT user_id, $cols FROM events GROUP BY user_id"
    },

    "q_dedup_components" ->
      // transitive closure of the (all-pairs-form) near-dup graph; base
      // case seeds every doc with itself, so singletons keep comp = doc_id
      s"""WITH RECURSIVE $oComponentCtes
          SELECT doc_id, comp, doc_id = comp AS keep FROM comp""",

    "q_dedup_survivor" ->
      // same transitive closure, election = (max quality, tie min doc_id):
      // ORDER BY quality DESC, doc_id ≡ Spark's min(struct(-quality, id))
      // for finite doubles (exact sign flip; -0.0 vs 0.0 compare equal so
      // the tie falls to doc_id identically in both engines)
      s"""WITH RECURSIVE $oComponentCtes,
          q AS (SELECT doc_id, $oQualityExpr AS quality
                FROM (SELECT doc_id, text, string_split_regex(trim(text), ' +') AS w
                      FROM documents))
          SELECT comp, n_members, doc_id AS survivor_id, quality FROM (
            SELECT c.comp, c.doc_id, q.quality,
              count(*) OVER (PARTITION BY c.comp) AS n_members,
              row_number() OVER (PARTITION BY c.comp
                ORDER BY q.quality DESC, c.doc_id) AS rk
            FROM comp c JOIN q ON c.doc_id = q.doc_id) WHERE rk = 1""",

    "q_split_assign" -> {
      val pct = s"((${oFpBody.format("cast(doc_id AS VARCHAR)", "cast(doc_id AS VARCHAR)")} % 100) + 100) % 100"
      s"""SELECT doc_id, lang, $pct AS pct,
            CASE WHEN $pct < 80 THEN 'train'
                 WHEN $pct < 90 THEN 'val' ELSE 'test' END AS split
          FROM documents"""
    },

    "q_split_leakfree" -> {
      val pct = s"((${oFpBody.format("cast(comp AS VARCHAR)", "cast(comp AS VARCHAR)")} % 100) + 100) % 100"
      s"""WITH RECURSIVE $oComponentCtes
          SELECT doc_id, comp, $pct AS pct,
            CASE WHEN $pct < 80 THEN 'train'
                 WHEN $pct < 90 THEN 'val' ELSE 'test' END AS split
          FROM comp"""
    },

    "q_pack_sequences" -> {
      val shard = s"((${oFpBody.format("cast(doc_id AS VARCHAR)", "cast(doc_id AS VARCHAR)")} % 8) + 8) % 8"
      s"""SELECT doc_id, lang, shard, tokens,
            (cum_prev // 512)::BIGINT AS bin,
            (cum_prev % 512)::BIGINT AS offset
          FROM (SELECT doc_id, lang, shard, tokens,
                  coalesce(sum(tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_prev
                FROM (SELECT doc_id, lang, $shard AS shard,
                        len(string_split_regex(trim(text), ' +'))::BIGINT AS tokens
                      FROM documents))"""
    },

    "q_chunk_overlap" ->
      """SELECT doc_id, chunk_idx, chunk, length(chunk)::BIGINT AS chunk_len
         FROM (SELECT doc_id, unnest(generate_series(0, nc - 1)) AS chunk_idx, text
               FROM (SELECT doc_id, text,
                       greatest(1, (length(text) + 47) // 64) AS nc
                     FROM documents))
         CROSS JOIN LATERAL (SELECT substr(text, (chunk_idx*64+1)::INT, 80) AS chunk)""",

    "q_stratified_sample" -> {
      val pct = s"((${oFpBody.format("cast(doc_id AS VARCHAR)", "cast(doc_id AS VARCHAR)")} % 100) + 100) % 100"
      s"""SELECT source, rate, count(*) AS n_total,
            sum(CASE WHEN pct < rate THEN 1 ELSE 0 END)::BIGINT AS n_sampled
          FROM (SELECT source, doc_id,
                  (cast(regexp_extract(source, '(\\d+)', 1) AS INT) % 4) * 25 + 25 AS rate,
                  $pct AS pct
                FROM documents)
          GROUP BY source, rate"""
    },

    "q_salted_agg" ->
      // the UNSALTED plain aggregate — proving the two-phase salted form
      // computes the identical result
      """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
         FROM documents GROUP BY lang""",

    "q_skew_join" ->
      // the UNSALTED plain join — the salt is pure execution strategy and
      // must never change the result
      """WITH dim AS (SELECT lang, count(*) AS n_lang_docs,
              sum(n_chars)::BIGINT AS lang_chars
            FROM documents GROUP BY lang)
         SELECT doc_id, d.lang, n_chars, n_lang_docs, lang_chars
         FROM documents d JOIN dim USING (lang)""",

    "q_decontaminate" ->
      s"""WITH s AS (SELECT doc_id, $oShingles AS sh
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents)),
          bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE doc_id % 41 = 0),
          corpus AS (SELECT doc_id, len(sh)::BIGINT AS n_sh, unnest(sh) AS shingle
            FROM s WHERE doc_id % 41 <> 0),
          hits AS (SELECT doc_id, n_sh, count(*) AS n_hit
            FROM corpus JOIN bench USING (shingle) GROUP BY 1, 2)
          SELECT doc_id, n_sh, n_hit, overlap
          FROM (SELECT doc_id, n_sh, n_hit, round(n_hit::DOUBLE / n_sh, 4) AS overlap FROM hits)
          WHERE overlap >= 0.05""",

    "q_repetition_quality" ->
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
         FROM g JOIN tw ON g.doc_id = tw.doc_id""",

    "q_quantile_sketch" -> {
      val fp = oFpBody.format(
        "cast(l_orderkey*10 + l_linenumber AS VARCHAR)",
        "cast(l_orderkey*10 + l_linenumber AS VARCHAR)")
      s"""SELECT l_returnflag, count(*) AS n_total,
            count(samp) AS n_sample,
            round(quantile_cont(samp, 0.5), 3) AS p50_est,
            round(quantile_cont(samp, 0.95), 3) AS p95_est
          FROM (SELECT l_returnflag,
                  CASE WHEN ((($fp % 8) + 8) % 8) = 0 THEN l_extendedprice END AS samp
                FROM lineitem)
          GROUP BY l_returnflag"""
    },

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           cast(grouping(l_returnflag, l_linestatus) AS INT) AS lvl,
           round(sum(cast(l_quantity AS DECIMAL(20,6))), 2)::DOUBLE AS sum_qty,
           count(*) AS n
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",

    "q_moving_agg" ->
      """SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           round(sum(cast(value AS DECIMAL(20,6))) OVER w, 2)::DOUBLE AS sum_1h
         FROM (SELECT *, cast(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",

    "q_asof_join" ->
      // DuckDB's native ASOF JOIN is the oracle for the union+window
      // composition (left join: purchases with no prior click keep NULLs).
      // Clicks pre-deduped per (user_id, ts) by max(value), mirroring the
      // Spark side, so equal-ts ties are deterministic on any data.
      """SELECT a.event_id, a.user_id, b.ts AS click_ts, b.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                         WHERE event_type = 'click' GROUP BY user_id, ts) b
           ON a.user_id = b.user_id AND b.ts <= a.ts""",

    "q_cms_heavyhitters" -> {
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
    },

    "q_knn_cosine" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${oNorm("embedding")} AS nrm FROM embeddings)
          SELECT query_id, cast(rk AS INT) AS rk, neighbor_id, round(sim, 6) AS sim FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
              ${oDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) AS sim,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${oDot("e.embedding", "q.embedding")} / (e.nrm * q.nrm) DESC, e.vec_id) AS rk
            FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id < 10) q
            WHERE e.vec_id <> q.vec_id) WHERE rk <= 5""",

    "q_knn_ivf" -> oKnnIvf,

    "q_pq_encode" ->
      s"""WITH $oQzCtes, $oPqCtes
          SELECT vec_id, string_agg(code::VARCHAR, ',' ORDER BY m) AS codes
          FROM pqcodes GROUP BY vec_id""",

    "q_knn_pq" ->
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
            JOIN qv2 q2 ON s.query_id = q2.query_id) WHERE rk <= 5""",

    "q_semantic_dedup" ->
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
          FROM assign a LEFT JOIN dups d ON a.vec_id = d.id_b""",

    "q_dedup_embed_lsh" -> {
      val terms = (0 until graft.functions.PlaneSigF.Bits).map { j =>
        val aj = TF.hashA(j); val bj = TF.hashB(j)
        s"""(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),
           | i -> embedding[i]::DOUBLE * (((($aj::BIGINT*i + $bj) % ${TF.HashP})::DOUBLE / ${TF.HashP}) - 0.5))),
           | (acc, x) -> acc + x) >= 0 THEN ${1L << j} ELSE 0 END)""".stripMargin.replace("\n", "")
      }.mkString(" + ")
      val bandSelects = (0 until 4).map(b =>
        s"SELECT vec_id, $b AS band, (sig >> ${8 * b}) & 255 AS key FROM sig").mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding, ${oNorm("embedding")} AS nrm FROM embeddings),
          sig AS (SELECT vec_id, embedding, nrm, CAST($terms AS BIGINT) AS sig FROM e),
          bands AS ($bandSelects),
          cands AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
          SELECT id_a, id_b, round(sim, 6) AS sim FROM (
            SELECT id_a, id_b,
              ${oDot("sa.embedding", "sb.embedding")} / (sa.nrm * sb.nrm) AS sim
            FROM cands JOIN e sa ON id_a = sa.vec_id JOIN e sb ON id_b = sb.vec_id)
          WHERE sim >= 0.4"""
    },

    "q_text_stats" ->
      s"""SELECT doc_id,
            len(w)::BIGINT AS n_tokens,
            len(list_distinct(w))::BIGINT AS n_distinct,
            len(list_filter(w, x -> list_contains($oStop, x)))::BIGINT AS n_stop,
            $oQualityExpr AS quality
          FROM (SELECT doc_id, text, string_split_regex(trim(text), ' +') AS w FROM documents)""",

    "q_token_bpe" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))::BIGINT AS bpe_tokens,
           len(string_split_regex(trim(text), ' +'))::BIGINT AS ws_tokens
         FROM documents""",

    "q_gopher_rules" ->
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
         FROM r""",

    "q_bm25" ->
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
         FROM ranked WHERE rk <= 10""",

    "q_dsir_weight" -> {
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
    },

    "q_fingerprint" ->
      s"""SELECT doc_id, ${oFp("text")} AS fp FROM documents""",

    // Winnowing re-derivation: k-gram hashes per position (O(k) fold per
    // position here — the oracle may be quadratic, the engine is not), keys
    // encode (hash, pos) exactly as WinnowF compares them, selection = SQL
    // window min over the next W-1 rows, windows restricted to
    // 1..max(1, m−W+1); DISTINCT collapses repeated selections.
    "q_winnow_fp" -> (oWinnowChosen +
      """SELECT doc_id, pos, fp FROM chosen"""),

    "q_winnow_common_spans" -> (oWinnowChosen +
      """SELECT fp, count(DISTINCT doc_id) AS ndocs, count(*) AS nocc,
            min(doc_id) AS first_doc
          FROM chosen GROUP BY fp HAVING count(DISTINCT doc_id) >= 2"""),

    "q_substring_scrub" -> (oWinnowChosen + {
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
    }),

    "q_unigram_lm" ->
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
         FROM scored CROSS JOIN tot GROUP BY doc_id""",

    "q_quality_classifier" -> {
      // NB: the outer column must NOT be named `i` — oFpBody's
      // list_transform lambda binds `i`, which would shadow it.
      val wfp = oFpBody.format("('w#' || fi::VARCHAR)", "('w#' || fi::VARCHAR)")
      s"""WITH model AS (SELECT fi AS fid, (($wfp % 17) - 8)::BIGINT AS wt
           FROM (SELECT unnest(generate_series(0, 4095))::BIGINT AS fi)),
         toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
           FROM documents),
         feats AS (SELECT doc_id, ${oFp("tok")} % 4096 AS fid FROM toks)
         SELECT doc_id, count(*) AS n_tokens, sum(wt)::BIGINT AS logit,
           CASE WHEN sum(wt) > 0 THEN 'keep' ELSE 'drop' END AS label
         FROM feats JOIN model USING (fid) GROUP BY doc_id"""
    },

    "q_ccnet_bucket" ->
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
         FROM d2 d JOIN cuts c USING (lang, bpt_milli)""",

    "q_profile" ->
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
           FROM documents)""",

    "q_dq_checks" ->
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
           UNION ALL SELECT 'text_nonempty', bad_text FROM a)""",

    "q_curate_e2e" -> {
      val wfp = oFpBody.format("('w#' || fi::VARCHAR)", "('w#' || fi::VARCHAR)")
      val pct = s"((${oFpBody.format("cast(doc_id AS VARCHAR)", "cast(doc_id AS VARCHAR)")} % 100) + 100) % 100"
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
    },

    "q_priority_sample" -> {
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
    },

    "q_url_canon" ->
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
         FROM p GROUP BY 1""",

    "q_pmi_pairs" ->
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
         CROSS JOIN nd""",

    "q_kmv_intersect" ->
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
         FROM st LEFT JOIN ex USING (lang_a, lang_b)""",

    "q_bigram_lm" ->
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
         FROM scored GROUP BY doc_id""",

    "q_funnel" ->
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
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",

    "q_retention_cohort" ->
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
         GROUP BY cohort_week, week_offset""",

    "q_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || doc_id::VARCHAR || '@example.com or +1-555-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') AS txt
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(txt, '[a-z0-9_]+@[a-z0-9]+\.[a-z]+'))::BIGINT AS n_emails,
           len(regexp_extract_all(txt, '\+1-555-[0-9]{4}'))::BIGINT AS n_phones,
           regexp_replace(regexp_replace(txt, '[a-z0-9_]+@[a-z0-9]+\.[a-z]+', '[EMAIL]', 'g'),
             '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS cleaned
         FROM d""",

    "q_tfidf_topterms" ->
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
         SELECT doc_id, rk::INT AS rk, w, tf, df, score FROM ranked WHERE rk <= 3""",

    "q_paragraph_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS w
           FROM documents),
         base AS (SELECT doc_id, w, ((len(w) + 15) // 16)::BIGINT AS n_segs FROM toks),
         idx AS (SELECT doc_id, w, unnest(range(0, n_segs))::BIGINT AS i FROM base),
         segs AS (SELECT doc_id, i AS seg_idx,
             array_to_string(w[(i*16+1):(i*16+16)], ' ') AS seg
           FROM idx),
         ranked AS (SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rk
           FROM segs),
         kept AS (SELECT doc_id, seg_idx, seg FROM ranked WHERE rk = 1),
         agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned_text
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id, b.n_segs, coalesce(a.n_kept, 0)::BIGINT AS n_kept,
           coalesce(a.cleaned_text, '') AS cleaned_text
         FROM base b LEFT JOIN agg a USING (doc_id)""",

    "q_mix_rebalance" -> {
      val fp = oFpBody.format("cast(doc_id AS VARCHAR)", "cast(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT source, count(*)::BIGINT AS n_total
            FROM documents GROUP BY source),
          m AS (SELECT min(n_total)::BIGINT AS n_target FROM c),
          d AS (SELECT d.source, c.n_total, m.n_target,
              CASE WHEN ((($fp % c.n_total) + c.n_total) % c.n_total) < m.n_target
                   THEN 1 ELSE 0 END AS acc
            FROM documents d JOIN c USING (source) CROSS JOIN m)
          SELECT source, n_total, n_target, sum(acc)::BIGINT AS n_sampled
          FROM d GROUP BY source, n_total, n_target"""
    },

    "q_langid_eval" -> oLangIdEval,

    "q_hard_negatives" ->
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
         WHERE rk <= 3""",

    "q_bpe_train" ->
      s"""WITH $oBpeCtes
         SELECT * FROM (
           SELECT 1 AS merge_round, l, r, l || r AS merged, pair_count FROM m1
           UNION ALL SELECT 2, l, r, l || r, pair_count FROM m2
           UNION ALL SELECT 3, l, r, l || r, pair_count FROM m3
           UNION ALL SELECT 4, l, r, l || r, pair_count FROM m4)""",

    "q_bpe_apply" ->
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
         FROM enc""",

    "q_sft_pairs" ->
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
         FROM p WHERE role = 'assistant' AND prompt IS NOT NULL""",

    "q_dpo_pairs" ->
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
         HAVING max_by(k, key) > min_by(k, key)""",

    "q_c4_rules" ->
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
         FROM k""",

    "q_embed_meanpool" ->
      """WITH x AS (SELECT vec_id // 10 AS gid,
             list_transform(embedding, v -> floor(v::DOUBLE * 1000000)::BIGINT) AS sc
           FROM embeddings),
         u AS (SELECT gid, unnest(range(1, len(sc) + 1)) AS i, unnest(sc) AS v
           FROM x),
         g AS (SELECT gid, i, sum(v)::BIGINT AS s FROM u GROUP BY gid, i),
         c AS (SELECT gid, count(*)::BIGINT AS n_chunks FROM x GROUP BY gid)
         SELECT g.gid, c.n_chunks,
           string_agg((s // n_chunks)::VARCHAR, ',' ORDER BY i) AS pooled_micro
         FROM g JOIN c USING (gid) GROUP BY g.gid, c.n_chunks""",

    "q_anomaly_mad" ->
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
         FROM d JOIN md USING (event_type) GROUP BY 1""",

    "q_conv_budget" ->
      """WITH t AS (SELECT user_id, event_id, ts,
             len(string_split(event_type || ' ' || props, ' '))::BIGINT AS n_tok
           FROM events),
         c AS (SELECT user_id, event_id, n_tok,
             (sum(n_tok) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tok
           FROM t)
         SELECT user_id AS conv_id, event_id AS turn_id, n_tok, cum_tok
         FROM c WHERE cum_tok <= 48""",

    "q_conv_valid" ->
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
         FROM g JOIN a ON g.conv_id = a.user_id""",

    "q_tool_loops" ->
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
         FROM n JOIN g ON n.user_id = g.user_id""",

    "q_rank_fusion" ->
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
         WHERE rk <= 5""",

    "q_ndcg_eval" -> {
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
    },

    "q_containment" ->
      s"""WITH b AS (SELECT doc_id, lang, source,
             string_split_regex(trim(text), ' +') AS w FROM documents),
          u AS (SELECT * FROM b
                UNION ALL
                SELECT doc_id + 1000000, lang, source, w[1:40] FROM b
                WHERE doc_id % 10 = 0),
          s AS (SELECT doc_id, lang, source, $oShingles AS sh FROM u),
          ex AS (SELECT doc_id, lang, source, unnest(sh) AS shingle FROM s),
          dfc AS (SELECT shingle, lang, source, count(*) AS df FROM ex GROUP BY shingle, lang, source),
          rare AS (SELECT ex.doc_id, ex.lang, ex.source, ex.shingle
            FROM ex JOIN dfc USING(shingle, lang, source) WHERE df <= $JaccardMaxDf),
          sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
          inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.lang = b.lang
              AND a.source = b.source AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT id_a, id_b, round(c_ab, 4) AS c_ab, round(c_ba, 4) AS c_ba FROM (
            SELECT id_a, id_b, inter::DOUBLE / ca.n AS c_ab,
              inter::DOUBLE / cb.n AS c_ba
            FROM inter JOIN sizes ca ON id_a = ca.doc_id
              JOIN sizes cb ON id_b = cb.doc_id)
          WHERE c_ab >= 0.5 OR c_ba >= 0.5""",

    "q_cluster_purity" ->
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
         FROM p GROUP BY cent_id""",

    "q_lsh_tuning" -> {
      val mins = (0 until minhashK).map(k =>
        s"min((fp*${TF.hashA(k)} + ${TF.hashB(k)}) % ${TF.HashP}) AS h$k").mkString(", ")
      val matches = (0 until minhashK)
        .map(k => s"CASE WHEN sa.h$k = sb.h$k THEN 1 ELSE 0 END")
        .mkString(" + ")
      val perConfig = Seq((2, 8), (4, 4), (8, 2)).map { case (nb, nr) =>
        val bandJoins = (0 until nb).map { j =>
          val cond = (0 until nr)
            .map(r => s"a.h${j * nr + r} = b.h${j * nr + r}").mkString(" AND ")
          s"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND $cond"
        }.mkString(" UNION ")
        s"""SELECT $nb::INT AS n_bands, $nr::INT AS rows_per_band,
              count(*)::BIGINT AS n_candidates,
              coalesce(sum(CASE WHEN m >= 8 THEN 1 ELSE 0 END), 0)::BIGINT AS n_verified
            FROM (SELECT p.id_a, p.id_b, $matches AS m
              FROM ($bandJoins) p
              JOIN sig sa ON p.id_a = sa.doc_id
              JOIN sig sb ON p.id_b = sb.doc_id)"""
      }.mkString(" UNION ALL ")
      s"""WITH sh AS (SELECT doc_id, unnest($oShingles) AS shingle
            FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS w FROM documents)),
          f AS (SELECT doc_id, ${oFp("shingle")} AS fp FROM sh),
          sig AS (SELECT doc_id, $mins FROM f GROUP BY doc_id)
          SELECT n_bands, rows_per_band, n_candidates, n_verified,
            CASE WHEN n_candidates = 0 THEN 0
              ELSE (1000 * n_verified) // n_candidates END::BIGINT AS precision_milli
          FROM ($perConfig)"""
    },

    "x_lang_id" -> oLangIdPerDoc
  )
}
