package graft

import graft.model.{ExtractedTurn, Span}
import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Write-audit-publish (the Iceberg WAP pattern): a commit lands its data
  * and manifest but defers the CURRENT swing until an auditor approves.
  * Readers keep seeing the pre-commit snapshot; the auditor reads the
  * staged snapshot via time travel; publish is one atomic pointer swing,
  * discard frees the claimed id and the staged-only data.
  *
  * Reference precedent: the prototype gates outputs on a validation pass
  * before results are used downstream (confidence gate in
  * `/root/reference/src/calc/form9_calc.py:61-64`); WAP is that gate at
  * snapshot granularity.
  */
class WapSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1767225600000L

  private def mk(conv: String, idx: Int, tag: String): ExtractedTurn = {
    val text = s"$tag $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  private def freshTable(n: Int): (String, SnapshotTable) = {
    import testImplicits._
    val dir = suiteTempDir("wap")
    (0 until n).map(i => mk(s"w$i", 0, "base")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)
    (dir, SnapshotTable.open(dir))
  }

  test("stage → audit → publish: readers see old data until the atomic swing") {
    import testImplicits._
    val (dir, table) = freshTable(6)
    assert(table.currentSnapshotId.contains(0L))

    Seq(mk("w_new", 0, "staged")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "audit1").option("wap", "true").save(dir)

    // CURRENT did not move; live readers see the pre-commit table
    assert(table.currentSnapshotId.contains(0L))
    assert(spark.read.format("graft-snapshot").load(dir).count() == 6L)
    assert(table.stagedIds == Seq(1L))

    // the auditor reads the staged snapshot through time travel
    val audit = spark.read.format("graft-snapshot")
      .option("snapshotId", "1").load(dir)
    assert(audit.count() == 7L)
    assert(audit.where("conv_id = 'w_new'").count() == 1L)

    // while staged, the chain is blocked for every other committer
    val e = intercept[Exception] {
      Seq(mk("w_blocked", 0, "x")).toDS().toDF()
        .write.format("graft-snapshot").mode("append")
        .option("runId", "blocked").save(dir)
    }
    assert(e.getMessage.contains("concurrent commit") ||
      Option(e.getCause).exists(_.getMessage.contains("concurrent commit")),
      s"expected a commit conflict while staged, got: $e")

    // audit approves: one atomic pointer swing
    table.publishStaged(1L)
    assert(table.currentSnapshotId.contains(1L))
    assert(spark.read.format("graft-snapshot").load(dir).count() == 7L)
    assert(table.stagedIds.isEmpty)
    // and the chain is unblocked
    Seq(mk("w_after", 0, "y")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "after").save(dir)
    assert(spark.read.format("graft-snapshot").load(dir).count() == 8L)
  }

  test("stage → discard: claimed id freed, staged-only data reclaimed, history intact") {
    import testImplicits._
    val (dir, table) = freshTable(4)

    Seq(mk("w_bad", 0, "staged")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "audit2").option("wap", "true").save(dir)
    assert(table.stagedIds == Seq(1L))
    val stagedPaths = table.entriesAt(spark, 1L).map(_.path)
      .filterNot(table.entriesAt(spark, 0L).map(_.path).toSet)
    assert(stagedPaths.nonEmpty)

    val dead = table.discardStaged(spark, 1L)
    assert(dead.toSet == stagedPaths.toSet)
    stagedPaths.foreach(p => assert(!Files.exists(Paths.get(p)),
      s"staged-only data $p must be reclaimed"))
    assert(table.currentSnapshotId.contains(0L))
    assert(spark.read.format("graft-snapshot").load(dir).count() == 4L)

    // the freed id is claimable again by a normal commit
    Seq(mk("w_retry", 0, "z")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "retry").save(dir)
    assert(table.currentSnapshotId.contains(1L))
    assert(spark.read.format("graft-snapshot").load(dir).count() == 5L)
  }

  test("GC safety: orphan reclaim spares a staged snapshot; publishing requires the marker") {
    import testImplicits._
    val (dir, table) = freshTable(3)
    Seq(mk("w_keep", 0, "staged")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "audit3").option("wap", "true").save(dir)

    // an aggressive (zero-horizon) orphan sweep must NOT eat the audit
    assert(table.removeOrphanManifests(olderThanMillis = 0L).isEmpty)
    assert(table.stagedIds == Seq(1L))
    // expireSnapshots keeps the staged snapshot too
    table.expireSnapshots(spark, keepLast = 1)
    assert(table.stagedIds == Seq(1L))
    table.publishStaged(1L)
    assert(spark.read.format("graft-snapshot").load(dir).count() == 4L)

    // published history can't be "discarded" and can't be re-published
    intercept[IllegalArgumentException] { table.discardStaged(spark, 1L) }
    intercept[IllegalArgumentException] { table.publishStaged(1L) }
  }
}
