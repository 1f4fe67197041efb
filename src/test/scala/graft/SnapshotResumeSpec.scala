package graft

import graft.gen.TranscriptGen
import graft.pipe.{ExtractJob, ExtractPipeline}
import graft.model.{ExtractedTurn, Span}
import graft.table.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Checkpoint/resume suite (SURVEY §5.2, FIXTURES.md §5): a run killed after
  * a partial commit must resume processing exactly the uncommitted buckets
  * and converge to byte-identical output — exactly-once despite orphan data
  * files from the crash.
  */
class SnapshotResumeSpec extends AnyFunSuite with SparkTestBase {

  private val seed = 42L
  private val nConvs = 60
  private val hotBase = 120

  test("kill-resume: partial commit + orphan files → exactly-once final output") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)

    // Run A: "crashes" after committing only buckets {0,1,2} …
    val partialInput = turns
      .withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 3).drop("bucket").as[graft.model.Turn]
    val snapA = ExtractJob.runIncremental(spark, table, partialInput, runId = "runA")
    assert(snapA.contains(0L))
    // … and leaves ORPHAN data from an uncommitted attempt at bucket 5.
    val orphanDir = s"$dir/data/run=crashed/bucket=5"
    ExtractPipeline.extract(spark, partialInput.limit(5))
      .write.parquet(orphanDir)

    val committedAfterA = table.committedBuckets(spark)
    assert(committedAfterA == Set(0, 1, 2), committedAfterA.toString)

    // Run B: resume over the FULL input — must process only buckets 3..7.
    val snapB = ExtractJob.runIncremental(spark, table, turns, runId = "runB")
    assert(snapB.contains(1L))
    assert(table.committedBuckets(spark) == (0 until 8).toSet)

    // Run C: nothing pending → no new snapshot.
    assert(ExtractJob.runIncremental(spark, table, turns, runId = "runC").isEmpty)

    // Final table == single-shot run, exactly once (orphan invisible).
    val fromTable = table.read(spark)
      .select("conv_id", "turn_idx", "text", "blocksKept", "blocksDropped", "charsEmitted")
      .as[(String, Int, String, Int, Int, Int)].collect().sorted
    val oneShot = ExtractPipeline.run(spark, turns)
      .select("conv_id", "turn_idx", "text", "blocksKept", "blocksDropped", "charsEmitted")
      .as[(String, Int, String, Int, Int, Int)].collect().sorted
    assert(fromTable.length == TranscriptGen.totalTurns(nConvs, hotBase))
    assert(fromTable.sameElements(oneShot))
  }

  test("stats: per-bucket metadata-only aggregates match the data, cost no data-file IO") {
    import testImplicits._
    val dir = suiteTempDir("snapstats")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)
    // two commits so at least one bucket has >1 file set to aggregate over
    val half = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 4).drop("bucket").as[graft.model.Turn]
    ExtractJob.runIncremental(spark, table, half, runId = "runA")
    ExtractJob.runIncremental(spark, table, turns, runId = "runB")

    val st = table.stats(spark).collect().map(r =>
      r.getInt(0) -> (r.getLong(2), r.getLong(5))).toMap // bucket -> (turns, chars)

    // ground truth from the DATA (what stats must reproduce without scanning)
    val truth = table.read(spark)
      .groupBy(table.bucketOf.as("bucket"))
      .agg(count(lit(1)).as("turns"), sum(length(col("text"))).as("chars"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(st.keySet == truth.keySet)
    for ((b, (n, _)) <- truth) assert(st(b)._1 == n, s"bucket $b turns")

    // metadata-only: the stats job must read ZERO parquet data files —
    // rename the data directory out from under the table; stats still works
    val hidden = java.nio.file.Paths.get(dir, "data_hidden")
    Files.move(java.nio.file.Paths.get(dir, "data"), hidden)
    try {
      val again = table.stats(spark).collect().map(r =>
        r.getInt(0) -> (r.getLong(2), r.getLong(5))).toMap
      assert(again == st)
    } finally Files.move(hidden, java.nio.file.Paths.get(dir, "data"))
  }

  test("bucket-pruned conversation read touches only one bucket's files") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val turns = TranscriptGen.dataset(spark, seed, 40, 80, partitions = 3)
    ExtractJob.runIncremental(spark, table, turns, runId = "runP")

    val df = table.readConversation(spark, "conv000007")
    val rows = df.select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(rows.nonEmpty && rows.forall(_._1 == "conv000007"))
    assert(rows.map(_._2).sorted.sameElements(0 until TranscriptGen.turnCount(7, 80)))
    // pruning: every scanned file lives under exactly one bucket dir
    val buckets = scannedFiles(df).map(f => "bucket=(\\d+)".r.findFirstMatchIn(f).get.group(1)).distinct
    assert(buckets.length == 1, buckets.mkString(","))
  }

  test("driver-side bucketOfId matches the SQL bucketOf expression") {
    import testImplicits._
    val table = new SnapshotTable("/tmp/unused", numBuckets = 8)
    val ids = (0 until 200).map(i => f"conv$i%06d")
    val sql = ids.toDF("conv_id").withColumn("b", table.bucketOf)
      .as[(String, Int)].collect().toMap
    ids.foreach { id => assert(table.bucketOfId(id) == sql(id), id) }
  }

  test("compaction folds multi-run buckets into one run, preserving data") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, 30, 60, partitions = 2)
    // two incremental runs → two run dirs referenced
    val half = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 2).drop("bucket").as[graft.model.Turn]
    ExtractJob.runIncremental(spark, table, half, runId = "runA")
    ExtractJob.runIncremental(spark, table, turns, runId = "runB")
    assert(table.committedEntries(spark).map(_.runId).distinct.sorted == Seq("runA", "runB"))
    val before = table.read(spark)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted

    val snap = table.compact(spark, runId = "compact1")
    assert(snap == 2L)
    val entries = table.committedEntries(spark)
    assert(entries.map(_.runId).distinct == Seq("compact1"))
    assert(entries.map(_.bucket).sorted == (0 until 4))
    val after = table.read(spark)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(after.sameElements(before))

    // time travel: snapshot 0 (only buckets 0-1) is still readable as-was
    val asOf0 = table.readAt(spark, 0L)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(asOf0.length < before.length && asOf0.nonEmpty)
    assert(asOf0.toSet.subsetOf(before.toSet))
    // and snapshot 1 (pre-compaction full table) equals the live table
    val asOf1 = table.readAt(spark, 1L)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(asOf1.sameElements(after))
  }

  test("expireSnapshots: old files gone, kept snapshots still time-travel, live reads unaffected") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, 30, 60, partitions = 2)
    // snap 0: partial, snap 1: full, snap 2: compaction rewrite
    val half = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 2).drop("bucket").as[graft.model.Turn]
    ExtractJob.runIncremental(spark, table, half, runId = "runA")
    ExtractJob.runIncremental(spark, table, turns, runId = "runB")
    table.compact(spark, runId = "compact1")
    val live = table.read(spark)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    val snap1 = table.readAt(spark, 1L)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(table.snapshotIds == Seq(0L, 1L, 2L))

    // keep the newest 2 (snap 1 and live snap 2) — snap 0 expires, but all
    // of snap 0's files are ALSO referenced by snap 1, so only the manifest
    // goes; nothing reachable is deleted
    val deleted1 = table.expireSnapshots(spark, keepLast = 2)
    assert(deleted1.isEmpty, deleted1.mkString(","))
    assert(table.snapshotIds == Seq(1L, 2L))
    assert(intercept[IllegalArgumentException](table.readAt(spark, 0L))
      .getMessage.contains("does not exist"))
    // snap 1 still fully readable (time travel preserved for kept snapshots)
    val snap1After = table.readAt(spark, 1L)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(snap1After.sameElements(snap1))

    // now keep only the live snapshot: runA/runB file-sets (referenced only
    // by expired snap 1) are physically deleted
    val deleted2 = table.expireSnapshots(spark, keepLast = 1)
    assert(deleted2.nonEmpty)
    assert(deleted2.forall(p => p.contains("run=runA") || p.contains("run=runB")))
    assert(deleted2.forall(p => !Files.exists(java.nio.file.Paths.get(p))))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/data/run=runA")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/data/run=runB")))
    // compacted (live) data untouched; reads identical
    val liveAfter = table.read(spark)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(liveAfter.sameElements(live))
    // idempotent: nothing left to expire
    assert(table.expireSnapshots(spark, keepLast = 1).isEmpty)
  }

  test("readRange prunes file-sets by manifest ts stats before scanning") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, 30, 60, partitions = 2)
    // two appended runs with DISJOINT ts windows (generator gives each
    // conversation its own hour slot): early convs 0-9, late convs 20-29 —
    // the daily-ingest shape where time-range pruning pays off
    val early = turns.where(col("conv_id") < "conv000010").as[graft.model.Turn]
    val late = turns.where(col("conv_id") >= "conv000020").as[graft.model.Turn]
    table.commit(spark, ExtractPipeline.extract(spark, early), "runEarly",
      replaceBuckets = false)
    table.commit(spark, ExtractPipeline.extract(spark, late), "runLate",
      replaceBuckets = false)
    val entries = table.committedEntries(spark)
    val earlyMax = entries.filter(_.runId == "runEarly").map(_.maxTs).max
    val lateMin = entries.filter(_.runId == "runLate").map(_.minTs).min
    assert(earlyMax < lateMin, "fixture must have disjoint ts windows")

    // a query over the early window must scan ZERO runLate files
    val df = table.readRange(spark,
      entries.filter(_.runId == "runEarly").map(_.minTs).min, earlyMax)
    val scanned = scannedFiles(df)
    assert(scanned.nonEmpty && scanned.forall(_.contains("run=runEarly")),
      scanned.mkString(","))
    // row predicate still exact: equals a full-scan filter
    val expected = table.read(spark)
      .where(col("ts") <= to_timestamp(lit(earlyMax)))
      .select("conv_id", "turn_idx").as[(String, Int)].collect().sorted
    val got = df.select("conv_id", "turn_idx").as[(String, Int)].collect().sorted
    assert(got.nonEmpty && got.sameElements(expected))
    // and a range BETWEEN the two windows scans nothing, returns empty
    assert(table.readRange(spark, "2090-01-01T00:00:00", "2091-01-01T00:00:00").count() == 0)
  }

  test("readRange keeps rows whose bounds are sub-second or space-separated") {
    import testImplicits._
    def turn(conv: String, ts: String): ExtractedTurn =
      ExtractedTurn(conv, 0, "user", "html", Timestamp.valueOf(ts), conv,
        Seq(Span(0, 0, conv.length, "p", conv)), 1, 0, conv.length, 1.0)
    val table = new SnapshotTable(suiteTempDir("snap"), numBuckets = 4)
    // the manifest floors both runs' ts to the second: runA records
    // 10:00:00 for a row at 10:00:00.700
    table.commit(spark, Seq(turn("a", "2024-01-01 10:00:00.700")).toDS(), "runA")
    table.commit(spark, Seq(turn("b", "2024-01-01 12:00:00")).toDS(), "runB",
      replaceBuckets = false)
    def convs(lo: String, hi: String) = {
      val df = table.readRange(spark, lo, hi)
      val scanned = scannedFiles(df)
      assert(scanned.nonEmpty && scanned.forall(_.contains("run=runA")), scanned.mkString(","))
      df.select("conv_id").as[String].collect().toSeq
    }
    assert(convs("2024-01-01T10:00:00.500", "2024-01-01T11:00:00") == Seq("a"))
    assert(convs("2024-01-01 09:00:00", "2024-01-01 11:00:00") == Seq("a"))
    assert(convs("2024-01-01 10:00:00.701", "2024-01-01 11:00:00").isEmpty)
    val bad = intercept[IllegalArgumentException](
      table.readRange(spark, "yesterday", "2024-01-01 11:00:00"))
    assert(bad.getMessage.contains("'yesterday'"))
  }

  test("a pre-1970 row is floored to its second in the manifest and kept by readRange") {
    import testImplicits._
    val at = Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59.999500Z"))
    val row = ExtractedTurn("old", 0, "user", "html", at, "old",
      Seq(Span(0, 0, 3, "p", "old")), 1, 0, 3, 1.0)
    val table = new SnapshotTable(suiteTempDir("snap"), numBuckets = 4)
    table.commit(spark, Seq(row).toDS(), "runOld")
    val entry = table.committedEntries(spark).filter(_.kind == "data")
    assert(entry.map(e => (e.minTs, e.maxTs)) == Seq(("1969-12-31T23:59:59", "1969-12-31T23:59:59")))
    val (lo, hi) = ("1969-12-31 23:59:59", "1969-12-31 23:59:59.9999")
    assert(table.read(spark).where(col("ts").between(lit(lo).cast("timestamp"),
      lit(hi).cast("timestamp"))).count() == 1)
    assert(table.readRange(spark, lo, hi).count() == 1)
  }

  test("commit refuses a schema change against kept entries; manifest records schema") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, 20, 40, partitions = 2)
    ExtractJob.runIncremental(spark, table, turns, runId = "runS")
    val entries = table.committedEntries(spark)
    assert(entries.forall(_.schema.nonEmpty))
    assert(entries.map(_.schema).distinct.size == 1)
    // a would-be writer with a different schema (simulated by rewriting one
    // entry's schema string) must be rejected at commit time
    val manifest = java.nio.file.Paths.get(dir, "manifests",
      s"snap-${table.currentSnapshotId.get}.json")
    val forged = Files.readString(manifest).linesIterator.zipWithIndex.map {
      case (l, 0) => l.replaceFirst("\"schema\":\"struct<", "\"schema\":\"struct<zz:int,")
      case (l, _) => l
    }.mkString("\n")
    Files.writeString(manifest, forged)
    val half = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") === 3).drop("bucket").as[graft.model.Turn]
    val ex = intercept[IllegalStateException] {
      graft.pipe.ExtractPipeline.extract(spark, half) match {
        case ds => table.commit(spark, ds, runId = "runS2")
      }
    }
    assert(ex.getMessage.contains("schema change detected"))
  }

  test("replaceWhere rewrites only the target conversation's bucket; " +
    "other buckets' files untouched, time travel intact") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val turns = TranscriptGen.dataset(spark, seed, 40, 80, partitions = 3)
    ExtractJob.runIncremental(spark, table, turns, runId = "runFull")
    val before = table.read(spark)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    val entriesBefore = table.committedEntries(spark)
    val filesBefore = entriesBefore.map(e =>
      e.bucket -> spark.read.parquet(e.path).inputFiles.sorted.toSeq).toMap

    // "bad kernel deploy" on one conversation: reprocess it with a fixed
    // kernel (simulated by a text rewrite) and swap it in
    val convId = "conv000007"
    val b = table.bucketOfId(convId)
    val replacement = ExtractPipeline
      .extract(spark, turns.where(col("conv_id") === convId).as[graft.model.Turn])
      .withColumn("text", concat(col("text"), lit("\nREPROCESSED")))
      .as[graft.model.ExtractedTurn]
    val snap = table.replaceWhere(spark, Seq(convId), replacement, runId = "runFix")
    assert(snap.contains(1L))

    // the fixed conversation reads back fixed; everything else is identical
    val fixed = table.readConversation(spark, convId)
      .select("text").as[String].collect()
    assert(fixed.nonEmpty && fixed.forall(_.endsWith("\nREPROCESSED")))
    val after = table.read(spark)
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect().sorted
    assert(after.length == before.length)
    assert(after.filterNot(_._1 == convId)
      .sameElements(before.filterNot(_._1 == convId)))

    // every OTHER bucket still points at the ORIGINAL files (no rewrite)
    val entriesAfter = table.committedEntries(spark)
    entriesAfter.filterNot(_.bucket == b).foreach { e =>
      assert(e.runId == "runFull", s"bucket ${e.bucket} was rewritten")
      assert(spark.read.parquet(e.path).inputFiles.sorted.toSeq == filesBefore(e.bucket))
    }
    assert(entriesAfter.find(_.bucket == b).get.runId == "runFix")

    // time travel: the pre-fix snapshot still serves the ORIGINAL text
    val asOf0 = table.readAt(spark, 0L).where(col("conv_id") === convId)
      .select("text").as[String].collect()
    assert(asOf0.nonEmpty && asOf0.forall(!_.endsWith("\nREPROCESSED")))

    // replacement rows hashing OUTSIDE the rewritten buckets are refused
    val stray = ExtractPipeline.extract(spark,
      turns.where(col("conv_id") =!= convId).limit(20).as[graft.model.Turn])
    assertThrows[IllegalArgumentException](
      table.replaceWhere(spark, Seq(convId), stray, runId = "runBad"))
  }

  test("merge: keyed upsert updates matched rows and inserts new ones, " +
    "rewrites only owning buckets, refuses duplicate update keys") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val turns = TranscriptGen.dataset(spark, seed, 40, 80, partitions = 3)
    ExtractJob.runIncremental(spark, table, turns, runId = "runFull")
    val before = table.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sorted
    val filesBefore = table.committedEntries(spark).map(e =>
      e.bucket -> spark.read.parquet(e.path).inputFiles.sorted.toSeq).toMap

    // the "late correction" flow: one existing turn corrected, one brand-new
    // turn appended to the same conversation — a single-bucket merge
    val convId = "conv000007"
    val b = table.bucketOfId(convId)
    val base = ExtractPipeline.extract(spark,
      turns.where(col("conv_id") === convId).as[graft.model.Turn])
    val maxIdx = base.agg(max(col("turn_idx"))).as[Int].head()
    val updated = base.where(col("turn_idx") === 0)
      .withColumn("text", lit("CORRECTED")).as[graft.model.ExtractedTurn]
    val inserted = base.where(col("turn_idx") === 0)
      .withColumn("turn_idx", lit(maxIdx + 1))
      .withColumn("text", lit("APPENDED")).as[graft.model.ExtractedTurn]
    val snap = table.merge(spark, updated.unionByName(inserted), runId = "runMerge")
    assert(snap.contains(1L))

    val after = table.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sorted
    assert(after.length == before.length + 1)
    assert(after.contains((convId, 0, "CORRECTED")))
    assert(after.contains((convId, maxIdx + 1, "APPENDED")))
    // every row the merge didn't key on is unchanged
    assert(after.filterNot(r => r._1 == convId && (r._2 == 0 || r._2 == maxIdx + 1))
      .sameElements(before.filterNot(r => r._1 == convId && r._2 == 0)))
    // untouched buckets still point at the ORIGINAL files
    table.committedEntries(spark).filterNot(_.bucket == b).foreach { e =>
      assert(e.runId == "runFull", s"bucket ${e.bucket} was rewritten")
      assert(spark.read.parquet(e.path).inputFiles.sorted.toSeq == filesBefore(e.bucket))
    }
    assert(table.committedEntries(spark).find(_.bucket == b).get.runId == "runMerge")
    // time travel: pre-merge snapshot serves the original row
    val asOf0 = table.readAt(spark, 0L)
      .where(col("conv_id") === convId && col("turn_idx") === 0)
      .select("text").as[String].collect()
    assert(asOf0.nonEmpty && asOf0.forall(_ != "CORRECTED"))
    // Iceberg MERGE cardinality rule: two update rows for one key refused
    assertThrows[IllegalArgumentException](
      table.merge(spark, updated.unionByName(updated), runId = "runDup"))
  }

  test("diff: row-level changelog between snapshots — a merged correction " +
    "emits its delete+insert pair; unchanged buckets' files never read") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val turns = TranscriptGen.dataset(spark, seed, 40, 80, partitions = 3)
    ExtractJob.runIncremental(spark, table, turns, runId = "runFull")
    val convId = "conv000007"
    val base = ExtractPipeline.extract(spark,
      turns.where(col("conv_id") === convId).as[graft.model.Turn])
    val oldText = base.where(col("turn_idx") === 0)
      .select("text").as[String].head()
    val updated = base.where(col("turn_idx") === 0)
      .withColumn("text", lit("CORRECTED")).as[graft.model.ExtractedTurn]
    table.merge(spark, updated, runId = "runFix")

    val d = table.diff(spark, 0L, 1L)
    // manifest compare prunes to the ONE changed bucket — no other
    // bucket's files appear in the scan
    val b = table.bucketOfId(convId)
    val scanned = scannedFiles(d)
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"bucket=$b")),
      scanned.mkString(","))
    val rows = d.select("op", "conv_id", "turn_idx", "text")
      .as[(String, String, Int, String)].collect().toSet
    assert(rows == Set(
      ("insert", convId, 0, "CORRECTED"),
      ("delete", convId, 0, oldText)))
    // identical snapshots diff to empty
    assert(table.diff(spark, 1L, 1L).count() == 0)
  }

  test("deleteConversations drops an emptied bucket from the manifest") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val nc = 40
    val turns = TranscriptGen.dataset(spark, seed, nc, 80, partitions = 3)
    ExtractJob.runIncremental(spark, table, turns, runId = "runFull")
    val total = table.read(spark).count()

    // empty out one bucket entirely: delete EVERY conversation that hashes
    // to it (driver-side bucket math — no job needed to plan the delete)
    val ids = (0 until nc).map(i => f"conv$i%06d")
    val victim = ids.groupBy(table.bucketOfId).minBy(_._2.size)
    val snap = table.deleteConversations(spark, victim._2, runId = "runDel")
    assert(snap.contains(1L))
    val entries = table.committedEntries(spark)
    assert(!entries.exists(_.bucket == victim._1), "emptied bucket must drop out")
    val remaining = table.read(spark)
    assert(remaining.count() ==
      total - victim._2.map(c => TranscriptGen.turnCount(c.drop(4).toInt, 80).toLong).sum)
    assert(remaining.where(col("conv_id").isin(victim._2: _*)).count() == 0)
    // time travel unaffected
    assert(table.readAt(spark, 0L).count() == total)
  }

  test("manifest carries lineage and per-bucket extraction metrics") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, 30, 60, partitions = 2)
    ExtractJob.runIncremental(spark, table, turns, runId = "run1")

    val entries = table.committedEntries(spark)
    assert(entries.map(_.bucket).sorted == (0 until 4))
    assert(entries.forall(_.runId == "run1"))
    assert(entries.map(_.turns).sum == TranscriptGen.totalTurns(30, 60))
    // metrics in the manifest match a direct aggregation of the data
    val direct = table.read(spark).agg(
      sum("blocksKept"), sum("blocksDropped"), sum("charsEmitted")
    ).as[(Long, Long, Long)].first()
    assert((entries.map(_.blocksKept).sum,
      entries.map(_.blocksDropped).sum,
      entries.map(_.charsEmitted).sum) == direct)
    // data files are sorted by (conv_id, turn_idx) within each bucket
    val e0 = entries.head
    val rows = spark.read.parquet(e0.path)
      .select("conv_id", "turn_idx").as[(String, Int)].collect().toVector
    assert(rows == rows.sortBy(identity))
  }

  test("readChanges: append-only delta between snapshots; rewrite detected; " +
    "allowReplaced re-delivers the rewritten bucket") {
    import testImplicits._
    val dir = suiteTempDir("snap")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, 30, 60, partitions = 2)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("conv_id", "turn_idx").as[(String, Int)].collect().toSet

    // snapshot 0: buckets {0,1}; snapshot 1: the rest (incremental resume)
    val half = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 2).drop("bucket").as[graft.model.Turn]
    assert(ExtractJob.runIncremental(spark, table, half, runId = "runA").contains(0L))
    assert(ExtractJob.runIncremental(spark, table, turns, runId = "runB").contains(1L))

    // delta 0→1 = exactly the rows runB added = live minus snapshot-0
    val delta = table.readChanges(spark, 0L, 1L)
    assert(key(delta) == key(table.read(spark)) -- key(table.readAt(spark, 0L)))
    assert(key(delta).nonEmpty)
    // from == to → empty frame, full schema intact
    val none = table.readChanges(spark, 1L, 1L)
    assert(none.isEmpty && none.columns.contains("spans"))

    // snapshot 2 rewrites one conversation's bucket (replaceWhere): the
    // 0→2 and 1→2 windows are no longer append-only
    val victimConv = table.read(spark).select("conv_id").as[String].first()
    val victimBucket = table.bucketOfId(victimConv)
    val rewritten = table.read(spark).as[graft.model.ExtractedTurn]
      .filter(_.conv_id == victimConv)
    assert(table.replaceWhere(spark, Seq(victimConv), rewritten, runId = "runC")
      .contains(2L))
    val ex = intercept[IllegalStateException](table.readChanges(spark, 1L, 2L))
    assert(ex.getMessage.contains(s"bucket(s) $victimBucket"))
    // opt-in: the delta is the rewritten bucket's full new file-set
    val replayed = table.readChanges(spark, 1L, 2L, allowReplaced = true)
    assert(key(replayed) == key(spark.read.parquet(
      table.committedEntries(spark).filter(_.bucket == victimBucket).map(_.path): _*)))
  }

  test("rebucket: layout evolution preserves data and time travel; open() " +
    "recovers the live bucket count; shrink leaves no stale old-layout entries") {
    import testImplicits._
    val dir = suiteTempDir("snaprebucket")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)
    ExtractJob.runIncremental(spark, table, turns, runId = "runA")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sorted.toSeq
    val before = rows(table.read(spark))
    assert(table.committedBuckets(spark) == (0 until 4).toSet)

    // grow 4 → 16: data identical, manifest carries only new-layout ids,
    // point reads hash with the NEW count via the returned handle / open()
    val wide = table.rebucket(spark, 16, runId = "grow16")
    assert(rows(wide.read(spark)) == before)
    assert(wide.committedBuckets(spark).forall(_ < 16))
    assert(wide.committedBuckets(spark).exists(_ >= 4)) // layout actually changed
    val opened = SnapshotTable.open(dir)
    assert(opened.numBuckets == 16)
    val conv = before.head._1
    assert(rows(opened.readConversation(spark, conv).where(col("turn_idx") >= 0))
      == before.filter(_._1 == conv))

    // time travel: the pre-rebucket snapshot still reads the OLD layout
    assert(rows(wide.readAt(spark, 0L)) == before)

    // shrink 16 → 2: forceReplace must drop every old-layout entry (ids
    // ≥ 2 would otherwise survive the merge as stale manifest lines)
    val narrow = wide.rebucket(spark, 2, runId = "shrink2")
    assert(narrow.committedBuckets(spark) == Set(0, 1))
    assert(rows(narrow.read(spark)) == before)
    assert(SnapshotTable.open(dir).numBuckets == 2)

    // the STALE handle is the documented hazard open() exists for: it
    // still full-reads correctly (paths come from the manifest) but
    // mis-hashes point reads
    assert(rows(table.read(spark)) == before)
  }

  test("tags pin snapshots against GC (Iceberg tag analog): readTag " +
    "time-travels, expireSnapshots never collects a tagged snapshot, " +
    "dropTag releases the pin") {
    import testImplicits._
    val dir = suiteTempDir("snaptag")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)
    val half = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 2).drop("bucket").as[graft.model.Turn]
    ExtractJob.runIncremental(spark, table, half, runId = "runA") // snap 0
    ExtractJob.runIncremental(spark, table, turns, runId = "runB") // snap 1
    table.compact(spark, runId = "compactC") // snap 2 (all-new file-sets)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sorted.toSeq
    val v1 = rows(table.readAt(spark, 0L))
    val live = rows(table.read(spark))

    table.tag("release-v1", 0L)
    assert(table.tags == Map("release-v1" -> 0L))
    intercept[IllegalArgumentException](table.tag("nope", 99L))
    intercept[IllegalArgumentException](table.tag("../evil", 0L))

    // keepLast=1 would normally expire snapshots 0 and 1 — the tag pins 0
    table.expireSnapshots(spark, keepLast = 1)
    assert(table.snapshotIds == Seq(0L, 2L), table.snapshotIds.toString)
    assert(rows(table.readTag(spark, "release-v1")) == v1,
      "tagged release must stay byte-reproducible after GC")
    assert(rows(table.read(spark)) == live)

    // releasing the pin makes the snapshot collectable; tag gone
    assert(table.dropTag("release-v1"))
    table.expireSnapshots(spark, keepLast = 1)
    assert(table.snapshotIds == Seq(2L))
    assert(table.tags.isEmpty || !table.tags.contains("release-v1"))
    assert(rows(table.read(spark)) == live)
    intercept[IllegalArgumentException](table.readTag(spark, "release-v1"))
  }

  test("removeOrphanFiles: unreferenced crashed-run data is collected past " +
    "the age horizon, young (possibly in-flight) data and every " +
    "manifest-referenced file survive, time travel intact") {
    import testImplicits._
    val dir = suiteTempDir("snaporphan")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)
    ExtractJob.runIncremental(spark, table, turns, runId = "runA")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().sorted.toSeq
    val before = rows(table.read(spark))
    val liveFiles = scannedFiles(table.read(spark)).sorted

    // a crashed writer's residue: data written, manifest never committed
    val sample = turns.limit(5)
    ExtractPipeline.extract(spark, sample)
      .write.parquet(s"$dir/data/run=crashed/bucket=1")
    // an in-flight writer's residue: same shape, but YOUNG
    ExtractPipeline.extract(spark, sample)
      .write.parquet(s"$dir/data/run=inflight/bucket=2")
    def backdate(p: java.nio.file.Path): Unit = {
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000)
      val w = java.nio.file.Files.walk(p)
      try w.iterator().forEachRemaining(f =>
        java.nio.file.Files.setLastModifiedTime(f, old))
      finally w.close()
    }
    backdate(java.nio.file.Paths.get(s"$dir/data/run=crashed"))

    val deleted = table.removeOrphanFiles(spark, olderThanMillis = 60000)
    assert(deleted == Seq(s"$dir/data/run=crashed/bucket=1"), deleted)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/data/run=crashed")),
      "emptied crashed run dir must be dropped")
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/data/run=inflight/bucket=2")),
      "young data inside the horizon must survive (may be a commit in flight)")
    // referenced data byte-untouched, live read + time travel unchanged
    assert(scannedFiles(table.read(spark)).sorted == liveFiles)
    assert(rows(table.read(spark)) == before)
    assert(rows(table.readAt(spark, 0L)) == before)

    // horizon passes for the in-flight residue → second pass collects it;
    // idempotent after that
    backdate(java.nio.file.Paths.get(s"$dir/data/run=inflight"))
    assert(table.removeOrphanFiles(spark, olderThanMillis = 60000)
      == Seq(s"$dir/data/run=inflight/bucket=2"))
    assert(table.removeOrphanFiles(spark, olderThanMillis = 60000).isEmpty)
    assert(rows(table.read(spark)) == before)
  }

  test("optimistic concurrency: a racing claim on the next snapshot id makes " +
    "the loser THROW (no silent clobber); a crashed claim is invisible to " +
    "readers and reclaimed age-gated by removeOrphanManifests") {
    val dir = suiteTempDir("snap_occ")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, seed, nConvs = 20, hotBase = 40)
    assert(ExtractJob.runIncremental(spark, table, turns, runId = "occA").contains(0L))
    val before = table.read(spark).count()

    // a concurrent committer (same parent = 0) claims snap 1 and "crashes"
    // before publishing
    val claim = java.nio.file.Paths.get(dir, "manifests", "snap-1.json")
    Files.createFile(claim)

    val more = TranscriptGen.dataset(spark, seed + 1, nConvs = 10, hotBase = 20)
    // append semantics (the streaming-sink rule): the loser must not
    // replace the winner's buckets once the conflict is resolved
    val extracted = graft.pipe.ExtractPipeline.extract(spark, more)
    val moreCount = extracted.count()
    intercept[SnapshotTable.CommitConflictException] {
      table.commit(spark, extracted, runId = "occB", replaceBuckets = false)
    }
    // the loser changed NOTHING: CURRENT, readers, and the snapshot list
    assert(table.currentSnapshotId.contains(0L))
    assert(table.read(spark).count() == before)
    assert(table.snapshotIds == Seq(0L), "an unpublished claim must be invisible")

    // a fresh claim inside the horizon is protected (may be in flight) …
    assert(table.removeOrphanManifests(olderThanMillis = 60000).isEmpty)
    // … past the horizon it is reclaimed, and the blocked commit succeeds
    assert(table.removeOrphanManifests(olderThanMillis = 0L)
      == Seq(claim.toString))
    assert(table.commit(spark, extracted, runId = "occB",
      replaceBuckets = false).contains(1L))
    assert(table.read(spark).count() == before + moreCount)
    assert(table.readAt(spark, 0L).count() == before) // time travel intact

    // SELF-HEALING: a zero-length claim OLDER than the grace window is a
    // dead committer — the conflicting commit reclaims it inline and
    // lands without any manual removeOrphanManifests (the crashed
    // streaming-replay scenario)
    val staleClaim = java.nio.file.Paths.get(dir, "manifests", "snap-2.json")
    Files.createFile(staleClaim)
    Files.setLastModifiedTime(staleClaim,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - SnapshotTable.ClaimGraceMs - 60000))
    val third = graft.pipe.ExtractPipeline.extract(spark,
      TranscriptGen.dataset(spark, seed + 2, nConvs = 5, hotBase = 10))
    assert(table.commit(spark, third, runId = "occC",
      replaceBuckets = false).contains(2L))
    assert(table.currentSnapshotId.contains(2L))
  }
}
