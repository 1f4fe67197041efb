package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{VectorFunctions => VF}

/** The trained IVF quantizer must buy real recall: with k=16 lists and
  * 2 probes only ~12.5% of the corpus is searched per query, so random
  * lists would land recall@5 ≈ 0.125. Lloyd's-trained lists measure ~0.34
  * on this corpus — the spec pins a floor comfortably above random and
  * below the measured value (the exactness of the IVF pipeline itself is
  * the DuckDB oracle's job; this is the quality check). */
class IvfRecallSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("trained-IVF recall@5 beats the random-probe baseline") {
    val ivf = SparkEntry.queries("q_knn_ivf")(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == 50, s"expected 10 queries x 5 neighbors, got ${ivf.size}")

    // exact ground truth for the SAME query set (vec_id 100..109)
    VF.register(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", VF.dotF(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = (ivf & exact).size.toDouble / exact.size
    info(f"IVF recall@5 = $recall%.3f (random-probe baseline ~= 0.125)")
    assert(recall >= 0.25, f"recall $recall%.3f under floor 0.25")
  }

  test("nprobe recall/cost curve is monotone and reaches brute-force EXACTLY at full probe") {
    // exact ground truth (same construction as above, kept independent so
    // each test stands alone)
    VF.register(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 110)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", VF.dotF(col("embedding"), col("qv")) / (col("nrm") * col("qnrm")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // nprobe is the runtime recall/cost dial (scanned fraction ~= nprobe/16
    // of the corpus): recall must be non-decreasing in nprobe, and at
    // nprobe = 16 (every list searched) the IVF plan degenerates to brute
    // force — same candidate set, same (sim desc, vec_id) tie order — so
    // the top-5 must be IDENTICAL to exact, ranks included, not just
    // high-recall. Measured curve recorded in BENCH/TUNING.md.
    val exactPairs = exact.map { case (qid, _, nid) => (qid, nid) }
    val curve = Seq(1, 2, 4, 8, 16).map { nprobe =>
      val got = graft.queries.SimilaritySearch.knnIvf(spark, sf, nprobe)
        .select(col("query_id"), col("rk"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      if (nprobe == 16)
        assert(got.toSet == exact, "full-probe IVF must equal brute force rank-for-rank")
      val gotPairs = got.map { case (qid, _, nid) => (qid, nid) }.toSet
      nprobe -> (gotPairs & exactPairs).size.toDouble / exactPairs.size
    }
    info(curve.map { case (p, r) => f"nprobe=$p%2d recall@5=$r%.3f" }.mkString("  "))
    curve.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r2 >= r1, f"recall fell $r1%.3f -> $r2%.3f from nprobe=$p1 to $p2")
    }
    assert(curve.last._2 == 1.0)
  }

  test("semantic dedup is sound (never drops a non-duplicate) and its cluster " +
    "scoping recalls a useful fraction of the true cosine-pair graph") {
    // Soundness: every DROPPED vector must have a true >= tau cosine
    // neighbor with a lower id (the verify step is exact cosine, so false
    // drops are impossible by construction — this asserts the plumbing).
    // Recall: the approximation loses only tau-pairs SPLIT across clusters;
    // measure that fraction against the all-pairs twin and pin a floor.
    val sem = SparkEntry.queries("q_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val dropped = sem.collect { case (id, kept) if !kept => id }.toSet

    VF.register(spark)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), VF.l2NormF(col("embedding")).as("nrm"))
    val truePairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        VF.dotF(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") >= 0.4)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val trueDups = truePairs.map(_._2) // ids with a lower-id tau-neighbor

    assert(dropped.subsetOf(trueDups),
      s"unsound drops: ${(dropped -- trueDups).take(5)}")
    assert(trueDups.nonEmpty)
    // measured 0.274 on this corpus (17/62 true dups share a cluster with
    // their tau-neighbor at k=16 over 500 vectors); the floor is pinned
    // below that and well above 0 — the knob is k: fewer clusters raise
    // recall and pair cost together (SemDeDup's explicit trade-off)
    val recall = dropped.size.toDouble / trueDups.size
    info(f"semantic-dedup drop recall = $recall%.3f over ${trueDups.size} true dups")
    assert(recall >= 0.2, f"recall $recall%.3f under floor 0.2")
  }

  test("nDCG@5 floor: the IVF ranking is position-sensitive good, not just " +
    "recall-good (q_ndcg_eval mean over the query fixture)") {
    // measured mean 497 milli at sf0.001 (2-probe over k=16 cells); the
    // floor is half that — same margin discipline as the recall floors.
    // A degenerate quantizer (all-one-cluster, or probes missing the
    // true neighborhood) lands near 0.
    val rows = SparkEntry.queries("q_ndcg_eval")(spark, sf).collect()
    val mean = rows.map(_.getAs[Long]("ndcg_milli")).sum.toDouble / rows.length
    info(f"mean nDCG@5 = $mean%.0f milli over ${rows.length} queries")
    assert(mean >= 250, f"mean nDCG $mean%.0f under floor 250")
  }
}
