package perfbench

import graft.SparkEntry
import java.io.File
import org.apache.spark.sql.SparkSession

/** A fixed sample of the timed SparkEntry.queries, one per operator family,
  * over the benchmark's bundled copy of the sf0.01 test tables it reads
  * (documents, embeddings, part). */
object QuerySample {
  /** Operator family → query. Families name the modules whose operators do
    * the work in the query. */
  val Families: Seq[(String, String)] = Seq(
    "dedup" -> "q_winnow_common_spans",
    "vector" -> "q_knn_cosine",
    "functions" -> "q_kmv_intersect",
    "plans" -> "q_anti_join_lev",
    "multimodal" -> "x_media_features")

  def names: Seq[String] = Families.map(_._2)

  def requireRegistered(): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains) ++ names.filter(SparkEntry.UntimedTwins)
    require(missing.isEmpty, s"sampled queries not in the timed registry: $missing")
  }

  /** Untimed: runs each query once and writes its result plus the oracle SQL
    * (oracle_sql.json) for the DuckDB comparison run.py makes. */
  def writeForOracle(spark: SparkSession, dir: String, out: File): Unit = {
    out.mkdirs()
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(new File(out, q).getPath)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed before its oracle check: $e") }
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath, Json.render(sql))
  }

  /** One timed pass; per-query wall seconds. A failed query counts as a
    * failure and its time is still recorded. */
  def pass(ctx: Ctx, r: Result, spark: SparkSession, dir: String): Seq[(String, Double)] =
    Families.map { case (fam, q) =>
      ctx.tracer.span(s"suite.q.$q", Map("family" -> fam)) {
        val (ok, s) = Stats.seconds {
          try { SparkEntry.queries(q)(spark, dir).count(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] $q failed: $e"); false }
        }
        r.check(ok, s"$q failed")
        q -> s
      }
    }
}
