package graft

import graft.gen.TranscriptGen
import graft.kernel.{Extractor, ExtractorContext}
import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import graft.pipe.{BoundedListAccumulator, ExtractPipeline}
import graft.table.SnapshotTable
import org.apache.spark.SparkException
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Poison-row quarantine (ExtractConfig.failFast): at 10^12-turn scale one
  * pathological payload must not kill a multi-hour job, so a kernel
  * exception quarantines the turn (dropped by the F2 gate, alarmed via
  * Metrics.turnsFailed) instead of failing the task. The shipped kernels
  * are total functions — no input makes them throw — so these tests inject
  * a throwing kernel through the seam ExtractPipeline.extract exposes. */
class QuarantineSpec extends AnyFunSuite with SparkTestBase {

  /** Delegates to the real kernel except for one marked conversation. */
  private val poisoned: (Turn, ExtractConfig, ExtractorContext) => ExtractedTurn =
    (t, c, ctx) =>
      if (t.conv_id == "poison") throw new IllegalStateException("kernel bug")
      else Extractor.extractTurn(t, c, ctx)

  private def corpusWithPoison(): org.apache.spark.sql.Dataset[Turn] = {
    import testImplicits._
    val clean = TranscriptGen.dataset(spark, 44L, nConvs = 10, hotBase = 20)
    val bad = Seq(
      Turn("poison", 0, "user", "any payload", "plain", new java.sql.Timestamp(1000L)),
      Turn("poison", 1, "user", "another payload", "plain", new java.sql.Timestamp(2000L))).toDS()
    clean.unionByName(bad)
  }

  test("default: poisoned rows are quarantined, counted, and dropped; " +
    "clean rows are untouched") {
    val acc = ExtractPipeline.newMetrics(spark)
    val goldens = TranscriptGen.corpus(44L, nConvs = 10, hotBase = 20).toVector
    val out = ExtractPipeline.orderRestore(ExtractPipeline.extract(
      spark, corpusWithPoison(), metrics = Some(acc), kernel = poisoned))
      .collect()
    assert(!out.exists(_.conv_id == "poison"), "quarantined rows must not reach the sink")
    assert(out.length == goldens.size, "every clean turn survives")
    assert(acc.turnsFailed.value == 2L)
    assert(acc.turnsGated.value == 0L, "quarantined rows are not double-counted as gated")
    assert(acc.turnsOut.value == goldens.size.toLong)
    // dead-letter sample carries the reprocess keys and the error head
    val samples = acc.failedSamples.sample
    assert(samples.map(r => (r.conv_id, r.turn_idx)).sorted ==
      Vector(("poison", 0), ("poison", 1)))
    assert(samples.forall(_.error.contains("kernel bug")))
    // clean rows' texts are byte-identical to the spec goldens
    val byKey = out.map(e => (e.conv_id, e.turn_idx) -> e.text).toMap
    goldens.foreach(g => assert(byKey((g.turn.conv_id, g.turn.turn_idx)) == g.expText))
  }

  test("failFast=true: the kernel exception propagates and fails the job") {
    val ex = intercept[SparkException] {
      ExtractPipeline.extract(spark, corpusWithPoison(),
        cfg = ExtractConfig.default.copy(failFast = true), kernel = poisoned)
        .collect()
    }
    assert(ex.getMessage.contains("kernel bug") ||
      Option(ex.getCause).exists(_.getMessage.contains("kernel bug")))
  }

  test("BoundedListAccumulator caps add, merge, and survives copy") {
    val a = new BoundedListAccumulator[Int](3)
    (1 to 10).foreach(a.add)
    assert(a.sample == Vector(1, 2, 3), "add stops at the cap")
    val b = new BoundedListAccumulator[Int](3)
    b.add(7)
    b.merge(a)
    assert(b.sample == Vector(7, 1, 2), "merge fills only up to the cap")
    assert(a.copy().sample == a.sample)
    a.reset()
    assert(a.isZero)
  }

  test("operator story: quarantine -> triage via dead-letter sample -> " +
    "replaceWhere reprocess, other buckets untouched") {
    import testImplicits._
    val dir = suiteTempDir("quar")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val acc = ExtractPipeline.newMetrics(spark)
    val turns = corpusWithPoison()

    // A buggy kernel deploy: the run COMPLETES (poison conversation
    // quarantined, not a job failure) and commits everything else.
    table.commit(spark,
      ExtractPipeline.extract(spark, turns, metrics = Some(acc), kernel = poisoned),
      runId = "buggy")
    assert(table.read(spark).where(col("conv_id") === "poison").count() == 0)

    // Triage: the dead-letter sample IS the reprocess worklist (dedup by
    // key — task retries may duplicate entries).
    val convs = acc.failedSamples.sample.map(_.conv_id).distinct
    assert(convs == Vector("poison"))

    val before = scannedFiles(table.read(spark)).toSet
    val poisonBucket = table.bucketOfId("poison")

    // Kernel fixed: re-extract ONLY the quarantined conversations and swap
    // their buckets in-place — O(buckets touched), not a full-table rewrite.
    val repaired = ExtractPipeline.extract(
      spark, turns.filter(col("conv_id").isin(convs: _*)))
    table.replaceWhere(spark, convs, repaired, runId = "fixed")

    val healed = table.read(spark)
    val poisonRows = healed.where(col("conv_id") === "poison")
      .select("turn_idx", "text").as[(Int, String)].collect().sortBy(_._1)
    val expected = Seq(
      Turn("poison", 0, "user", "any payload", "plain", new java.sql.Timestamp(1000L)),
      Turn("poison", 1, "user", "another payload", "plain", new java.sql.Timestamp(2000L)))
      .map(t => (t.turn_idx, Extractor.extractTurn(t, ExtractConfig.default,
        new ExtractorContext).text))
    assert(poisonRows.toSeq == expected)
    // every clean conversation is still there, and the rewrite touched ONLY
    // the poison conversation's bucket (all other buckets' files identical)
    assert(healed.count() ==
      TranscriptGen.totalTurns(10, 20) + 2)
    val after = scannedFiles(healed).toSet
    def bucketOfFile(f: String): Int =
      "bucket=(\\d+)".r.findFirstMatchIn(f).get.group(1).toInt
    assert(before.filter(bucketOfFile(_) != poisonBucket) ==
      after.filter(bucketOfFile(_) != poisonBucket))
    assert(before.filter(bucketOfFile(_) == poisonBucket) !=
      after.filter(bucketOfFile(_) == poisonBucket))
  }
}
