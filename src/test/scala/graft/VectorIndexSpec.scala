package graft

import graft.vector.VectorIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Persisted IVF index: build/open/search/append against the in-memory
  * q_knn_ivf twin, partition-pruned list scans, and incremental add
  * without retraining. */
class VectorIndexSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queriesDf(lo: Long, hi: Long) =
    vecs.filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("build → open → search reproduces the in-memory q_knn_ivf result " +
    "bit-for-bit (same training sample, same plan semantics, persisted lists)") {
    val dir = suiteTempDir("vidx") + "/idx"
    VectorIndex.build(spark, vecs, dir)
    val idx = VectorIndex.open(dir)
    val got = rows(idx.search(spark, queriesDf(100, 110), k = 5, nprobe = 2))
    val want = rows(SparkEntry.queries("q_knn_ivf")(spark, sf))
    assert(got == want)
    assert(idx.count(spark) == vecs.count())
  }

  test("search opens ONLY the probed lists: hiding an unprobed cent_id " +
    "directory does not disturb the search") {
    val dir = suiteTempDir("vidx2") + "/idx"
    val idx = VectorIndex.build(spark, vecs, dir)
    val q = queriesDf(100, 102)
    val baseline = rows(idx.search(spark, q, k = 5, nprobe = 2))

    // replicate the probe math driver-side: top-2 centroids per query
    val cents = idx.centroids
    val probed = q.collect().flatMap { r =>
      val qv = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
      cents.map { case (id, cv) =>
        val d = qv.zip(cv).map { case (a, b) => val t = a - b; t * t }.sum
        (d, id)
      }.sorted.take(2).map(_._2)
    }.toSet
    val listDirs = Files.list(Paths.get(s"$dir/lists/run=base")).iterator()
    var victim: java.nio.file.Path = null
    listDirs.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.startsWith("cent_id=") &&
          !probed.contains(n.stripPrefix("cent_id=").toInt) && victim == null)
        victim = p
    }
    assert(victim != null, s"all cells probed? probed=$probed")
    // park the hidden dir OUTSIDE the lists tree (partition discovery
    // rejects non-partition directories inside it)
    val hidden = Paths.get(dir).getParent.resolve("hidden_cent")
    Files.move(victim, hidden)
    try assert(rows(idx.search(spark, q, k = 5, nprobe = 2)) == baseline,
      "search must not touch unprobed lists")
    finally Files.move(hidden, victim)
  }

  test("searchAdc reproduces the in-memory q_knn_pq result bit-for-bit " +
    "from the PERSISTED codes (IVF-ADC + exact refine, on-disk layout)") {
    val dir = suiteTempDir("vidx4") + "/idx"
    VectorIndex.build(spark, vecs, dir)
    val idx = VectorIndex.open(dir)
    val got = rows(idx.searchAdc(spark, queriesDf(100, 110), k = 5, nprobe = 2))
    val want = rows(SparkEntry.queries("q_knn_pq")(spark, sf))
    assert(got == want)
    // the codebooks are the persisted geometry: 8 subspaces × ≤16 words
    assert(idx.codebooks.map(_._1).distinct.size == 8)
    assert(idx.codebooks.forall(_._3.size == 8))
  }

  test("append encodes against the FIXED codebooks (no retrain): CODEBOOKS " +
    "byte-identical after append, appended copy found by ADC search") {
    import testImplicits._
    val dir = suiteTempDir("vidx5") + "/idx"
    val idx = VectorIndex.build(spark, vecs, dir)
    val booksBefore = Files.readAllBytes(Paths.get(s"$dir/CODEBOOKS")).toSeq

    val copy = vecs.filter(col("vec_id") === 100)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    idx.append(spark, copy, runId = "add1")
    assert(Files.readAllBytes(Paths.get(s"$dir/CODEBOOKS")).toSeq == booksBefore,
      "append must not retrain the codebooks")
    // an exact copy ADC-ties its source at distance 0 and survives the
    // refine: top-1 by exact cosine
    val got = rows(idx.searchAdc(spark, queriesDf(100, 101), k = 5, nprobe = 2))
    assert(got.head == ((100L, 1, 999999L, got.head._4)), got.toString)
  }

  test("append without retraining: an exact copy of a query vector becomes " +
    "its top-1 neighbor; the base file-set is byte-untouched") {
    import testImplicits._
    val dir = suiteTempDir("vidx3") + "/idx"
    val idx = VectorIndex.build(spark, vecs, dir)
    def baseFiles = {
      val w = Files.walk(Paths.get(s"$dir/lists/run=base"))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.getLastModifiedTime(p).toMillis, Files.size(p)))
        .toVector.sortBy(_._1)
      finally w.close()
    }
    val before = baseFiles

    val copy = vecs.filter(col("vec_id") === 100)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    idx.append(spark, copy, runId = "add1")
    assert(idx.count(spark) == vecs.count() + 1)
    assert(baseFiles == before, "append must not rewrite the base lists")

    val got = rows(idx.search(spark, queriesDf(100, 101), k = 5, nprobe = 2))
    assert(got.head == ((100L, 1, 999999L, got.head._4)), got.toString)
    // idempotence guard: re-appending the same runId must fail, not dup
    intercept[Exception](idx.append(spark, copy, runId = "add1"))
  }
}
