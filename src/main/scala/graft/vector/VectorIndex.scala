package graft.vector

import graft.functions.{VectorFunctions => VF}
import graft.table.Refs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** PERSISTED IVF vector index — the FAISS-on-disk analog for this engine:
  * build once (train the coarse quantizer, assign, write inverted lists),
  * then many consumers `open` and `search` without retraining, and new
  * vectors `append` into the EXISTING geometry (the production incremental
  * path: re-training on every ingest would re-shuffle the whole corpus).
  *
  * Layout (all under `dir`):
  *  - `CENTROIDS` — text, one line per centroid: `id|v1,v2,…` in the
  *    scaled-integer space of [[graft.SparkEntry.ivfQuantized]] (written
  *    atomically; k = [[graft.SparkEntry.IvfK]] lines — driver-sized by
  *    construction).
  *  - `CODEBOOKS` — text, one line per PQ codebook word: `m|code|v1,…,v8`
  *    (8 subspaces × ≤16 words; trained once at build on the same bounded
  *    sample, FIXED for the index's lifetime — appends encode against it).
  *  - `lists/run=<runId>/cent_id=<c>/…parquet` — the inverted lists
  *    (embedding + nrm + the vector's 4-bit PQ `codes`),
  *    PARTITIONED BY cent_id so a search's `cent_id IN (probed)` filter is
  *    partition pruning: only the probed lists' files are ever opened
  *    (spec-proven by hiding an unprobed list's directory). Each
  *    build/append is a new `run=` file-set; readers union them.
  *
  * Search = the q_knn_ivf plan against the loaded index: probe the nprobe
  * nearest centroids per query (bounded broadcast side), scan only those
  * lists, exact-float-cosine rank. With the same training sample the
  * persisted index reproduces the in-memory query BIT-FOR-BIT
  * (VectorIndexSpec). Durability note: appends are plain directory adds —
  * the hardened commit protocol (manifests, atomic CURRENT, replay
  * detection) lives in [[graft.table.SnapshotTable]]; an index over a
  * mutating corpus would be rebuilt from a tagged snapshot.
  */
final class VectorIndex private (val dir: String) {
  import VectorIndex._

  /** Driver-side centroids (k lines — bounded by construction). */
  lazy val centroids: Seq[(Int, Seq[Long])] =
    Files.readAllLines(Paths.get(dir, "CENTROIDS")).asScala.toSeq.map { ln =>
      val Array(id, vs) = ln.split('|')
      (id.toInt, vs.split(',').toSeq.map(_.toLong))
    }

  /** Driver-side PQ codebooks (8×16 lines — bounded by construction):
    * (m, code, cv) in the scaled-integer subvector space. Fixed at build
    * time, like the centroids — appends encode against them (the FAISS
    * `add` discipline). */
  lazy val codebooks: Seq[(Int, Int, Seq[Long])] =
    Files.readAllLines(Paths.get(dir, "CODEBOOKS")).asScala.toSeq.map { ln =>
      val Array(m, c, vs) = ln.split('|')
      (m.toInt, c.toInt, vs.split(',').toSeq.map(_.toLong))
    }

  private def centsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    centroids.toDF("cent_id", "cv")
  }

  private[vector] def booksDf(s: SparkSession): DataFrame = {
    import s.implicits._
    codebooks.toDF("m", "code", "cv")
  }

  private def lists(s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/lists")

  /** Total indexed vectors (metadata-cheap count over the lists). */
  def count(s: SparkSession): Long = lists(s).count()

  /** ANN search from the persisted lists.
    * @param queries (query_id: long, qe: array&lt;float&gt;)
    * @return (query_id, rk, neighbor_id, sim) — self-matches excluded,
    *         ranked by (sim DESC, vec_id ASC), rk ≤ k. */
  def search(s: SparkSession, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    VF.register(s)
    val q = queries
      .select(col("query_id"), col("qe"), VF.l2NormF(col("qe")).as("qnrm"),
        transform(col("qe"),
          x => floor(x.cast("double") * graft.SparkEntry.IvfScale + lit(0.5))).as("qv"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("_d2"), col("cent_id"))
    val probes = q.crossJoin(broadcast(centsDf(s)))
      .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
      .withColumn("_rk", row_number().over(wProbe)).filter(col("_rk") <= nprobe)
      .select(col("query_id"), col("qe"), col("qnrm"), col("cent_id"))
    // bounded driver-side probed-cell set (≤ nprobe × |queries|, and ≤ k
    // centroids total) → an isin PARTITION filter, so the scan opens only
    // the probed lists' files
    val cids = probes.select("cent_id").distinct().collect().map(_.getInt(0)).sorted
    val lst = lists(s).filter(col("cent_id").isin(cids.map(Integer.valueOf): _*))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    probes.join(lst, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", VF.dotF(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Compressed-domain ANN search (the persisted IVF-ADC + refine layout
    * of q_knn_pq): probe `nprobe` cells, rank the probed lists' candidates
    * by asymmetric distance over their PERSISTED 4-bit codes (an equi-join
    * against the query's broadcast 8×16 distance table — the scan side is
    * the code table, not the embeddings), then re-rank the ADC
    * top-[[graft.SparkEntry.PqShortlist]] by exact cosine fetched from the
    * same pruned lists. Built on the same training sample, this reproduces
    * the in-memory q_knn_pq result bit-for-bit (VectorIndexSpec). */
  def searchAdc(s: SparkSession, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    VF.register(s)
    val q = queries
      .select(col("query_id"), col("qe"), VF.l2NormF(col("qe")).as("qnrm"),
        transform(col("qe"),
          x => floor(x.cast("double") * graft.SparkEntry.IvfScale + lit(0.5))).as("qv"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("_d2"), col("cent_id"))
    val probes = q.crossJoin(broadcast(centsDf(s)))
      .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
      .withColumn("_rk", row_number().over(wProbe)).filter(col("_rk") <= nprobe)
      .select(col("query_id"), col("cent_id"))
    val cids = probes.select("cent_id").distinct().collect().map(_.getInt(0)).sorted
    val lst = lists(s).filter(col("cent_id").isin(cids.map(Integer.valueOf): _*))
    val dtable = graft.SparkEntry.pqSubvectors(q.select(col("query_id"), col("qv")), "query_id")
      .join(broadcast(booksDf(s)), "m")
      .select(col("query_id"), col("m"), col("code"),
        VF.sqDistL(col("sv"), col("cv")).as("d2"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    val shortlist = probes.join(lst.select(col("cent_id"), col("vec_id"), col("codes")), "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(dtable), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adist"))
      .withColumn("ark", row_number().over(wAdc))
      .filter(col("ark") <= graft.SparkEntry.PqShortlist)
      .select(col("query_id"), col("vec_id"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    shortlist.join(lst.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qe"), col("qnrm"))), "query_id")
      .withColumn("sim", VF.dotF(col("embedding"), col("qe")) / (col("nrm") * col("qnrm")))
      .withColumn("rk", row_number().over(wTop)).filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Incremental add WITHOUT retraining: assign `vectors` to the existing
    * centroids and write a new `run=` file-set alongside the base lists
    * (base files untouched — spec-asserted). The FAISS `add` discipline:
    * quantizer geometry is fixed at build time; drift is handled by a
    * rebuild from a tagged snapshot, not by mutating a live index. */
  def append(s: SparkSession, vectors: DataFrame, runId: String): Unit = {
    require(runId.matches("[A-Za-z0-9._-]+"), s"unsafe runId: $runId")
    writeLists(s, this, vectors, runId)
  }
}

object VectorIndex {

  /** Train + assign + persist. `vectors` = (vec_id: long, embedding:
    * array&lt;float&gt;). Training is the bounded driver-side sample
    * discipline of q_knn_ivf (constant driver work at any corpus size);
    * assignment and the list writes are distributed. */
  def build(s: SparkSession, vectors: DataFrame, dir: String): VectorIndex = {
    VF.register(s)
    val e = vectors.select(col("vec_id"), col("embedding"),
      VF.l2NormF(col("embedding")).as("nrm"))
    val qz = graft.SparkEntry.ivfQuantized(e)
    val cents = graft.SparkEntry.ivfTrainCentroids(s, qz)
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    Refs.atomicWrite(Paths.get(dir, "CENTROIDS"),
      cents.map { case (id, v) => s"$id|${v.mkString(",")}" }.mkString("\n"))
    // PQ codebooks: trained once on the same bounded sample (the FAISS
    // IVF-PQ layout), fixed for the index's lifetime — appends encode
    // against them. 8×16 lines, driver-sized by construction.
    val books = graft.SparkEntry.pqTrainCodebooks(s, qz)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(b => (b._1, b._2))
    Refs.atomicWrite(Paths.get(dir, "CODEBOOKS"),
      books.map { case (m, c, v) => s"$m|$c|${v.mkString(",")}" }.mkString("\n"))
    val idx = new VectorIndex(dir)
    writeLists(s, idx, vectors, runId = "base")
    idx
  }

  def open(dir: String): VectorIndex = {
    require(Files.exists(Paths.get(dir, "CENTROIDS")), s"no index in $dir")
    new VectorIndex(dir)
  }

  /** Assign to the index's centroids (argmin as a partial-aggregatable
    * min(struct) — the q_knn_ivf shape, no corpus-sized broadcast), PQ-encode
    * against the index's FIXED codebooks (4 bits × 8 subspaces per vector —
    * the compressed search column), and write one `run=` file-set
    * partitioned by cent_id. */
  private def writeLists(s: SparkSession, idx: VectorIndex,
      vectors: DataFrame, runId: String): Unit = {
    VF.register(s)
    import s.implicits._
    val e = vectors.select(col("vec_id"), col("embedding"),
      VF.l2NormF(col("embedding")).as("nrm"))
    val qz = graft.SparkEntry.ivfQuantized(e)
    val cents = idx.centroids.toDF("cent_id", "cv")
    val codes = graft.SparkEntry.pqCodes(
        graft.SparkEntry.pqSubvectors(qz.select(col("vec_id"), col("qv")), "vec_id"),
        idx.booksDf(s), "vec_id")
      .groupBy(col("vec_id"))
      .agg(collect_list(struct(col("m"), col("code"))).as("mc"))
      .select(col("vec_id"),
        transform(array_sort(col("mc")), x => x.getField("code")).as("codes"))
    qz.crossJoin(broadcast(cents))
      .withColumn("_d2", VF.sqDistL(col("qv"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("_d2"), col("cent_id"), col("embedding"), col("nrm"))).as("m"))
      .select(col("vec_id"), col("m.cent_id").as("cent_id"),
        col("m.embedding").as("embedding"), col("m.nrm").as("nrm"))
      .join(codes, "vec_id")
      .write.mode("errorifexists").partitionBy("cent_id")
      .parquet(s"${idx.dir}/lists/run=$runId")
  }
}
