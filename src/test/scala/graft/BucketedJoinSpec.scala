package graft

import graft.gen.TranscriptGen
import graft.table.BucketedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-located join story (SURVEY §2.10 / VERDICT round-1 gap #7): a
  * conv_id-bucketed fact joined with a conv_id-bucketed dimension must plan
  * with ZERO Exchange — the layout, not the join, pays the shuffle, once,
  * at write time. */
class BucketedJoinSpec extends AnyFunSuite with SparkTestBase {

  test("join of two same-bucketed tables has no Exchange on either side") {
    import testImplicits._
    val base = suiteTempDir("buck")
    val turns = TranscriptGen.dataset(spark, 42L, nConvs = 50, hotBase = 100)
    val perConv = turns.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"), max("turn_idx").as("last_idx"))

    BucketedTable.save(turns.toDF(), "bj_turns", s"$base/turns", buckets = 8)
    BucketedTable.save(perConv, "bj_dim", s"$base/dim", buckets = 8)

    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the co-location (not a BroadcastExchange) is
      // what removes the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedTable.colocatedJoin(spark, "bj_turns", "bj_dim")
      val rows = joined.count()
      assert(rows == TranscriptGen.totalTurns(50, 100))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected zero Exchange:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      // and the scans confirm the bucketed layout was used
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bj_turns")
      spark.sql("DROP TABLE IF EXISTS bj_dim")
    }
  }
}
