package graft

import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** `Dataset.observe` metrics face: exactly-once per action (no accumulator
  * retry double-count), delivered via QueryExecutionListener — the
  * Spark-native channel a metrics sink would subscribe to at scale. */
class ObservedMetricsSpec extends AnyFunSuite with SparkTestBase {

  test("observed extraction metrics equal the golden totals") {
    @volatile var captured: Option[org.apache.spark.sql.Row] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("graft_extract").foreach(r => captured = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val goldens = TranscriptGen.corpus(42L, nConvs = 20, hotBase = 40).toVector
      val ds = ExtractPipeline.observed(
        ExtractPipeline.run(spark, TranscriptGen.dataset(spark, 42L, 20, 40)))
      ds.write.mode("overwrite").parquet(suiteTempDir("graft_observe_out"))
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (captured.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(captured.isDefined, "no observed metrics delivered")
      val m = captured.get
      assert(m.getAs[Long]("turnsOut") == goldens.size)
      assert(m.getAs[Long]("charsEmitted") == goldens.map(_.expText.length).sum)
      assert(m.getAs[Long]("blocksKept") == goldens.map(_.expKept).sum)
      assert(m.getAs[Long]("blocksDropped") == goldens.map(_.expDropped).sum)
    } finally spark.listenerManager.unregister(listener)
  }

  test("accumulator metrics count post-F2-gate turns, matching observe()") {
    val goldens = TranscriptGen.corpus(43L, nConvs = 20, hotBase = 40).toVector
    val acc = ExtractPipeline.newMetrics(spark)
    val ds = ExtractPipeline.run(
      spark, TranscriptGen.dataset(spark, 43L, 20, 40), metrics = Some(acc))
    ds.write.mode("overwrite").parquet(suiteTempDir("graft_acc_out"))
    // generator goldens are all confident-dialect turns (classifyScore 1.0),
    // so nothing is F2-gated and turnsOut must equal the golden count exactly
    assert(acc.turnsOut.value == goldens.size)
    assert(acc.charsEmitted.value == goldens.map(_.expText.length).sum)
    assert(acc.blocksKept.value == goldens.map(_.expKept).sum)
    assert(acc.blocksDropped.value == goldens.map(_.expDropped).sum)
  }
}
