package graft.pipe

import graft.model.{ExtractConfig, Turn}
import graft.table.SnapshotTable
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed incremental extraction (SURVEY §2.10): each run processes
  * only the input buckets NOT yet committed to the snapshot table — the
  * anti-join-vs-manifest resume protocol. A run that dies after writing data
  * but before swinging CURRENT leaves only invisible orphan files; the next
  * run redoes those buckets exactly once.
  */
object ExtractJob {

  /** `runId` names this run's data directory and must be fresh: a runId
    * the table's history already references fails fast (published files
    * untouched), while the runId of a run that crashed before its commit
    * is reusable (the rerun's publish clears the crashed attempt's files).
    * @return new snapshot id, or None if everything was already committed. */
  def runIncremental(
      spark: SparkSession,
      table: SnapshotTable,
      turns: Dataset[Turn],
      cfg: ExtractConfig = ExtractConfig.default,
      runId: String,
      metrics: Option[ExtractPipeline.Metrics] = None
  ): Option[Long] = {
    import spark.implicits._
    val committed = table.committedBuckets(spark)
    val pending =
      if (committed.isEmpty) turns
      else turns
        .withColumn("bucket", table.bucketOf)
        .where(!col("bucket").isin(committed.toSeq: _*))
        .drop("bucket")
        .as[Turn]
    // No emptiness pre-probe (that was an extra pass over the gated input):
    // commit itself detects the nothing-pending case in the same write pass
    // and declines to cut a snapshot.
    val extracted = ExtractPipeline.extract(spark, pending, cfg, metrics)
    table.commit(spark, extracted, runId)
  }
}
