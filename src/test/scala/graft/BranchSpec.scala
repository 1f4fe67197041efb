package graft

import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import graft.table.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Branching suite (Iceberg branch / fast_forward analog): named mutable
  * refs over the snapshot table — commits land on a branch without moving
  * CURRENT, the main line fast-forwards to a descendant branch head, and
  * GC treats branch-reachable manifests as live history. The canonical
  * flow under test is the multi-commit audit: reprocess on a branch,
  * validate, fast-forward main.
  */
class BranchSpec extends AnyFunSuite with SparkTestBase {

  private val seed = 7L

  /** All generated turns, split into two disjoint conv populations by the
    * numeric conv index (conv ids are seed-independent conv%06d). */
  private def mkTurns(n: Int) =
    TranscriptGen.dataset(spark, seed, n, hotBase = 30, partitions = 2)

  private def half(df: org.apache.spark.sql.Dataset[graft.model.Turn], lo: Boolean) = {
    import testImplicits._
    val idx = substring(col("conv_id"), 5, 6).cast("int")
    df.where(if (lo) idx < 8 else idx >= 8).as[graft.model.Turn]
  }

  test("branch commits diverge from main; main's files stay byte-untouched; " +
    "fast-forward publishes the branch head onto CURRENT") {
    val dir = suiteTempDir("branch")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val all = mkTurns(16)

    // main line: first half of the convs
    val snapMain = table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = true)), "run-main").get
    val mainFiles = scannedFiles(table.read(spark)).toSet
    val mainRows = table.read(spark).count()

    // cut a branch and land the second half there over TWO commits
    assert(table.createBranch("reproc") == snapMain)
    val b1 = table.commit(spark,
      ExtractPipeline.extract(spark,
        half(all, lo = false).where(col("turn_idx") % 2 === 0)),
      "run-b1", replaceBuckets = false, toBranch = Some("reproc")).get
    val b2 = table.commit(spark,
      ExtractPipeline.extract(spark,
        half(all, lo = false).where(col("turn_idx") % 2 === 1)),
      "run-b2", replaceBuckets = false, toBranch = Some("reproc")).get
    assert(b2 > b1 && b1 > snapMain)
    assert(table.branches == Map("reproc" -> b2))

    // main is untouched: same snapshot, same file set, byte-identical files
    assert(table.currentSnapshotId.contains(snapMain))
    assert(scannedFiles(table.read(spark)).toSet == mainFiles)
    assert(table.read(spark).count() == mainRows)

    // the branch sees main's history PLUS both branch commits
    val branchRows = table.readBranch(spark, "reproc").count()
    assert(branchRows > mainRows)
    // branch snapshots are first-class: time travel by id
    assert(table.readAt(spark, b1).count() > mainRows)
    assert(table.readAt(spark, b1).count() < branchRows)

    // fast-forward: CURRENT advances to the branch head, reads converge
    assert(table.fastForward("reproc") == b2)
    assert(table.currentSnapshotId.contains(b2))
    assert(table.read(spark).count() == branchRows)
  }

  test("non-fast-forward is refused after main advances independently; " +
    "main and branch commits allocate distinct snapshot ids") {
    val dir = suiteTempDir("branch")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val all = mkTurns(16)

    table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = true)), "base").get
    table.createBranch("exp")
    val onBranch = table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = false).limit(20)),
      "exp-1", replaceBuckets = false, toBranch = Some("exp")).get
    // main advances independently — must NOT collide with the branch id
    val onMain = table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = false).limit(10)),
      "main-2", replaceBuckets = false).get
    assert(onMain != onBranch)
    val e = intercept[IllegalStateException](table.fastForward("exp"))
    assert(e.getMessage.contains("not an ancestor"), e.getMessage)
  }

  test("GC: expireSnapshots pins the branch head; removeOrphanManifests " +
    "never reclaims branch-reachable manifests until the branch is dropped") {
    val dir = suiteTempDir("branch")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val all = mkTurns(16)

    table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = true)), "base").get
    table.createBranch("exp")
    val b1 = table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = false).limit(20)),
      "exp-1", replaceBuckets = false, toBranch = Some("exp")).get
    val b2 = table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = false).limit(40)),
      "exp-2", replaceBuckets = false, toBranch = Some("exp")).get

    // zero-horizon orphan reclaim: b1/b2 are beyond CURRENT but belong to
    // the branch — both must survive
    assert(table.removeOrphanManifests(0L).isEmpty)
    assert(Files.exists(Paths.get(dir, "manifests", s"snap-$b1.json")))
    val headRows = table.readBranch(spark, "exp").count()

    // expire everything but the live snapshot: the branch head stays
    // readable (manifests are self-contained), older branch commits may go
    table.expireSnapshots(spark, keepLast = 1)
    assert(table.readBranch(spark, "exp").count() == headRows)
    assert(table.read(spark).count() > 0) // main intact

    // dropping the branch releases its manifests to the orphan reclaim
    assert(table.dropBranch("exp"))
    val reclaimed = table.removeOrphanManifests(0L)
    assert(reclaimed.exists(_.contains(s"snap-$b2.json")), reclaimed.toString)
    intercept[IllegalArgumentException](table.readBranch(spark, "exp"))
  }

  test("expireSnapshots keeps branch-reachable intermediates: a " +
    "multi-commit branch still fast-forwards after keepLast=1") {
    val dir = suiteTempDir("branch")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val all = mkTurns(16)
    table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = true)), "base").get
    table.createBranch("ff")
    table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = false).limit(20)),
      "ff-1", replaceBuckets = false, toBranch = Some("ff")).get
    val b2 = table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = false).limit(40)),
      "ff-2", replaceBuckets = false, toBranch = Some("ff")).get
    val headRows = table.readBranch(spark, "ff").count()
    // keepLast=1 must NOT break the branch's parentOf chain: fastForward
    // walks b2 -> b1 -> CURRENT through the intermediate manifest files,
    // so expiring b1 would make a legitimate fast-forward refuse forever
    table.expireSnapshots(spark, keepLast = 1)
    assert(table.fastForward("ff") == b2)
    assert(table.read(spark).count() == headRows)
  }

  test("SQL/connector faces: CALL create_branch, V2 append with " +
    "option(branch), read by branch, t$branches metadata, CALL fast_forward") {
    import testImplicits._
    val wh = suiteTempDir("branch_wh")
    val dir = s"$wh/bt"
    Seq(("c1", 0, "main-row")).toDF("conv_id", "turn_idx", "text")
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)

    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val head = s.sql("CALL graft.system.create_branch('bt', 'exp')")
      .collect().head.getLong(0)
    assert(head == 0L)

    // V2 append onto the branch: main read unchanged, branch read grows
    Seq(("c2", 0, "branch-row")).toDF("conv_id", "turn_idx", "text")
      .write.format("graft-snapshot").mode("append")
      .option("runId", "w2").option("branch", "exp").save(dir)
    assert(s.read.format("graft-snapshot").load(dir).count() == 1)
    val viaBranch = s.read.format("graft-snapshot")
      .option("branch", "exp").load(dir)
    assert(viaBranch.count() == 2)

    // metadata table lists the branch and its head
    val rows = s.sql("SELECT name, head_snapshot_id FROM graft.`bt$branches`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("exp", 1L)), rows.toString)

    // overwrite onto a branch is refused (append-only lane)
    val err = intercept[Exception] {
      Seq(("c3", 0, "x")).toDF("conv_id", "turn_idx", "text")
        .write.format("graft-snapshot").mode("overwrite")
        .option("runId", "w3").option("branch", "exp").save(dir)
    }
    assert(err.getMessage.contains("append mode only"), err.getMessage)

    // fast-forward publishes the branch onto the main line
    assert(s.sql("CALL graft.system.fast_forward('bt', 'exp')")
      .collect().head.getLong(0) == 1L)
    assert(s.read.format("graft-snapshot").load(dir).count() == 2)
    assert(s.sql("CALL graft.system.drop_branch('bt', 'exp')")
      .collect().head.getLong(0) == 1L)
  }

  test("guards: duplicate branch name refused; WAP staging cannot target " +
    "a branch; branching from an unknown snapshot refused") {
    val dir = suiteTempDir("branch")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val all = mkTurns(8)
    table.commit(spark,
      ExtractPipeline.extract(spark, half(all, lo = true)), "base").get
    table.createBranch("b")
    intercept[IllegalStateException](table.createBranch("b"))
    intercept[IllegalArgumentException](table.createBranch("x", Some(99L)))
    intercept[IllegalArgumentException] {
      table.commitEntries(spark, Seq.empty, replaceBuckets = false,
        publish = false, toBranch = Some("b"))
    }
  }
}
