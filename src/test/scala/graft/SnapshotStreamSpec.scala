package graft

import graft.connector.{SnapshotMicroBatchStream, SnapshotOffset}
import graft.model.{ExtractedTurn, Span}
import graft.table.SnapshotTable
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.datasources.FilePartition
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming face of the graft-snapshot connector: offsets are snapshot
  * ids, each micro-batch is the manifest-level file-set delta — so a
  * follower re-reads nothing it already processed, and a restart recovers
  * from the checkpointed snapshot id alone (two manifest reads, no data
  * listing). Mirrors `SnapshotTable.readChanges` semantics, including the
  * append-only guard.
  */
class SnapshotStreamSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1767225600000L // 2026-01-01T00:00:00Z

  private def mk(conv: String, idx: Int): ExtractedTurn = {
    val text = s"stream body $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  test("micro-batches follow commits: full-history batch 0, then per-commit deltas") {
    import testImplicits._
    val dir = suiteTempDir("snapstream")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 10).map(i => mk(s"c$i", 0)).toDS(), "runA")

    val q = spark.readStream.format("graft-snapshot").load(dir)
      .writeStream.format("memory").queryName("snapstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snapstream").count() == 10L)

      // a new APPEND commit arrives while the stream runs → one delta batch
      table.commit(spark, (0 until 5).map(i => mk(s"c$i", 1)).toDS(), "runB",
        replaceBuckets = false)
      q.processAllAvailable()
      val got = spark.table("snapstream")
      assert(got.count() == 15L)
      import org.apache.spark.sql.functions.col
      assert(got.where(col("turn_idx") === 1).count() == 5L)

      // no new commit → processAllAvailable adds nothing (no re-delivery)
      q.processAllAvailable()
      assert(spark.table("snapstream").count() == 15L)
    } finally q.stop()
  }

  test("startSnapshotId skips history: only commits after start are delivered") {
    import testImplicits._
    val dir = suiteTempDir("snapstream2")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 10).map(i => mk(s"c$i", 0)).toDS(), "runA")
    val cur = table.currentSnapshotId.get

    val q = spark.readStream.format("graft-snapshot")
      .option("startSnapshotId", cur.toString).load(dir)
      .writeStream.format("memory").queryName("snapstream_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("snapstream_tail").count() == 0L)
      table.commit(spark, Seq(mk("late", 7)).toDS(), "runB", replaceBuckets = false)
      q.processAllAvailable()
      import testImplicits._
      val rows = spark.table("snapstream_tail")
        .select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
      assert(rows == Set(("late", 7)))
    } finally q.stop()
  }

  test("append-only guard: a compaction under the stream throws unless allowReplaced") {
    import testImplicits._
    val dir = suiteTempDir("snapstream3")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 6).map(i => mk(s"c$i", 0)).toDS(), "runA")
    table.commit(spark, (0 until 6).map(i => mk(s"c$i", 1)).toDS(), "runB",
      replaceBuckets = false)
    table.compact(spark, "runC") // rewrites every bucket: 0→2 is NOT append-only

    val schema = Encoders.product[ExtractedTurn].schema
    val strict = new SnapshotMicroBatchStream(dir, schema, schema,
      Array.empty, startId = 0L, allowReplaced = false)
    val ex = intercept[IllegalStateException] {
      strict.planInputPartitions(SnapshotOffset(0L), SnapshotOffset(2L))
    }
    assert(ex.getMessage.contains("not append-only"))

    // opted-in: the delta is the full rewritten content (at-least-once)
    val tolerant = new SnapshotMicroBatchStream(dir, schema, schema,
      Array.empty, startId = 0L, allowReplaced = true)
    val parts = tolerant.planInputPartitions(SnapshotOffset(0L), SnapshotOffset(2L))
    assert(parts.nonEmpty)
    // and a pure append delta stays exact even for the strict stream
    assert(strict.planInputPartitions(SnapshotOffset(0L), SnapshotOffset(1L)).nonEmpty)
  }

  test("a delta that crosses a rebucket prunes by the bucket count of the manifest it read") {
    import testImplicits._
    val dir = suiteTempDir("snapstream4")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 12).map(i => mk(s"c$i", 0)).toDS(), "runA")
    table.rebucket(spark, 8, "runB") // snapshot 1 rewrites every row under 8 buckets
    val (four, eight) = (new SnapshotTable(dir, 4), new SnapshotTable(dir, 8))
    val conv = (0 until 12).map(i => s"c$i").find(c => four.bucketOfId(c) != eight.bucketOfId(c)).get

    val schema = Encoders.product[ExtractedTurn].schema
    val stream = new SnapshotMicroBatchStream(dir, schema, schema,
      Array(org.apache.spark.sql.sources.EqualTo("conv_id", conv)), startId = 0L,
      allowReplaced = true)
    val files = stream.planInputPartitions(SnapshotOffset(0L), SnapshotOffset(1L)).toSeq
      .flatMap { case FilePartition(_, fs) => fs.map(_.filePath.toString) }
    assert(files.nonEmpty && files.forall(_.contains(s"run=runB/bucket=${eight.bucketOfId(conv)}/")),
      files.mkString(", "))
  }

  test("offset round-trip: json ↔ SnapshotOffset") {
    val schema = Encoders.product[ExtractedTurn].schema
    val s = new SnapshotMicroBatchStream("/nonexistent", schema, schema,
      Array.empty, -1L, allowReplaced = false)
    assert(s.deserializeOffset(SnapshotOffset(17L).json()) == SnapshotOffset(17L))
    assert(s.initialOffset() == SnapshotOffset(-1L))
  }
}
