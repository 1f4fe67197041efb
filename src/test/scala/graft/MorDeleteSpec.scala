package graft

import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import graft.table.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths

/** Merge-on-read delete suite (Iceberg v2 equality-delete-file analog):
  * deleting rows writes only their keys; reads apply them as a co-bucketed
  * anti-join; compact folds them away; the V2 connector refuses rather than
  * resurrects. The contract under test everywhere: the LOGICAL table equals
  * copy-on-write's result while the data files stay byte-untouched.
  */
class MorDeleteSpec extends AnyFunSuite with SparkTestBase {

  private def freshTable(nConvs: Int = 12): (String, SnapshotTable) = {
    val dir = suiteTempDir("mor")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, 11L, nConvs, hotBase = 30, partitions = 2)
    table.commit(spark, ExtractPipeline.extract(spark, turns), "base").get
    (dir, table)
  }

  test("deleteRowsMor: rows vanish from every read path; data files stay " +
    "byte-untouched; time travel sees them; inert keys are no-ops") {
    import testImplicits._
    val (dir, table) = freshTable()
    val before = table.read(spark)
    val total = before.count()
    val preSnap = table.currentSnapshotId.get
    val dataFiles = scannedFiles(before).toSet

    // delete one full conversation + one single turn of another
    val victimConv = before.select("conv_id").as[String].head()
    val otherTurn = before.where(col("conv_id") =!= victimConv)
      .select("conv_id", "turn_idx").as[(String, Int)].head()
    val doomed = before.where(col("conv_id") === victimConv)
      .select("conv_id", "turn_idx")
      .unionByName(Seq(otherTurn).toDF("conv_id", "turn_idx"))
      .unionByName(Seq(("no-such-conv", 0)).toDF("conv_id", "turn_idx")) // inert
    val nDoomed = before.where(col("conv_id") === victimConv).count() + 1
    val snap = table.deleteRowsMor(spark, doomed, "mor-1").get

    val after = table.read(spark)
    assert(after.count() == total - nDoomed)
    assert(after.where(col("conv_id") === victimConv).count() == 0)
    assert(after.where(col("conv_id") === otherTurn._1 &&
      col("turn_idx") === otherTurn._2).count() == 0)
    // the surviving turn of the partially-deleted conversation is intact
    assert(table.readConversation(spark, otherTurn._1).count() > 0)
    // data files untouched: the new snapshot still references every one
    assert(dataFiles.subsetOf(scannedFiles(after).toSet ++
      scannedFiles(table.read(spark)).toSet)) // anti-join side adds delete files
    assert(table.readAt(spark, preSnap).count() == total) // time travel
    // stats still describe the data file-sets (deletes not netted)
    import org.apache.spark.sql.functions.{sum => fsum}
    assert(table.stats(spark).agg(fsum("turns")).as[Long].head() == total)
    assert(snap > preSnap)
  }

  test("readRange still applies deletes (delete key-sets carry no ts and " +
    "must not be pruned away)") {
    import testImplicits._
    val (_, table) = freshTable()
    val all = table.read(spark)
    val victim = all.select("conv_id").as[String].head()
    table.deleteRowsMor(spark,
      all.where(col("conv_id") === victim).select("conv_id", "turn_idx"), "mor-r")
    val lo = "1970-01-01T00:00:00"; val hi = "2100-01-01T00:00:00"
    assert(table.readRange(spark, lo, hi)
      .where(col("conv_id") === victim).count() == 0)
  }

  test("compact folds deletes: no delete entries remain, logical rows " +
    "unchanged, fully-deleted buckets drop from the manifest") {
    import testImplicits._
    val (_, table) = freshTable()
    val all = table.read(spark)
    val victim = all.select("conv_id").as[String].head()
    table.deleteRowsMor(spark,
      all.where(col("conv_id") === victim).select("conv_id", "turn_idx"), "mor-c")
    val logical = table.read(spark).select("conv_id", "turn_idx")
      .as[(String, Int)].collect().sorted
    table.compact(spark, "fold-1")
    val entries = table.committedEntries(spark)
    assert(entries.forall(_.kind == "data"), entries.map(_.kind).toString)
    val folded = table.read(spark).select("conv_id", "turn_idx")
      .as[(String, Int)].collect().sorted
    assert(folded.sameElements(logical))
  }

  test("COW maintenance over pending deletes does not resurrect: merge and " +
    "replaceWhere read the LOGICAL survivors") {
    import testImplicits._
    val (_, table) = freshTable()
    val all = table.read(spark).as[graft.model.ExtractedTurn]
    // MOR-delete one turn, then merge-update a DIFFERENT turn in the same
    // bucket: the rewrite must not bring the deleted turn back
    val rows = all.limit(50).collect()
    val delRow = rows.head
    val updRow = rows.find(r => r.conv_id == delRow.conv_id &&
      r.turn_idx != delRow.turn_idx).getOrElse(rows(1))
    table.deleteRowsMor(spark,
      Seq((delRow.conv_id, delRow.turn_idx)).toDF("conv_id", "turn_idx"), "mor-m")
    table.merge(spark,
      Seq(updRow.copy(text = "corrected")).toDS(), "fix-1")
    val now = table.read(spark)
    assert(now.where(col("conv_id") === delRow.conv_id &&
      col("turn_idx") === delRow.turn_idx).count() == 0) // still deleted
    assert(now.where(col("conv_id") === updRow.conv_id &&
      col("turn_idx") === updRow.turn_idx && col("text") === "corrected")
      .count() == 1)
  }

  test("V2 connector refuses a snapshot with pending MOR deletes, reads " +
    "fine after compact; snapshot-delta stream stops on a MOR delete") {
    import testImplicits._
    val (dir, table) = freshTable()
    val all = table.read(spark)
    val victim = all.select("conv_id").as[String].head()
    val preSnap = table.currentSnapshotId.get
    table.deleteRowsMor(spark,
      all.where(col("conv_id") === victim).select("conv_id", "turn_idx"), "mor-v")
    val err = intercept[Exception] {
      spark.read.format("graft-snapshot").load(dir).count()
    }
    assert(err.getMessage.contains("merge-on-read"), err.getMessage)
    // time travel to the pre-delete snapshot is still V2-servable
    assert(spark.read.format("graft-snapshot")
      .option("snapshotId", preSnap.toString).load(dir).count() == all.count())
    table.compact(spark, "fold-v")
    assert(spark.read.format("graft-snapshot").load(dir).count() ==
      all.count() - all.where(col("conv_id") === victim).count())
  }

  test("V2 incremental read (changesFrom) refuses a delta whose bucket " +
    "holds an older pending MOR delete") {
    import testImplicits._
    val dir = suiteTempDir("mor_changes_from")
    val table = new SnapshotTable(dir, numBuckets = 4)
    def rows(keys: String*) = keys.map(c => (c, 0, s"note $c")).toDF("conv_id", "turn_idx", "note")
    table.commit(spark, rows("x", "y"), "base")                                  // snapshot 0
    table.deleteRowsMor(spark, rows("x").select("conv_id", "turn_idx"), "del-x") // 1
    table.commit(spark, rows("x"), "re-add", replaceBuckets = false)             // 2
    // the older delete key still kills the re-added x#0 on every library read
    assert(table.read(spark).count() == 1L)
    assert(table.readChanges(spark, 1L, 2L).count() == 0L)
    // the V2 delta read cannot apply it, so it refuses as the full read does
    val err = intercept[Exception] {
      spark.read.format("graft-snapshot").option("changesFrom", "1").load(dir).count()
    }
    assert(err.getMessage.contains("merge-on-read"), err.getMessage)
  }

  test("SQL DELETE routes merge-on-read under spark.graft.delete.mode; " +
    "default mode still rewrites (COW); key/ts lanes unaffected") {
    import testImplicits._
    val (dir, table) = freshTable()
    val pre = table.committedEntries(spark).map(_.path).toSet
    val victimTool = table.read(spark).select("tool").as[String].head()
    val n = table.read(spark).where(col("tool") === victimTool).count()
    assert(n > 0)

    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      Paths.get(dir).getParent.toString)
    val tname = Paths.get(dir).getFileName.toString
    s.conf.set("spark.graft.delete.mode", "merge-on-read")
    s.sql(s"DELETE FROM graft.`$tname` WHERE tool = '$victimTool'")

    // keys-only commit: every pre-delete data path still referenced,
    // a kind=delete entry appeared, logical rows gone
    val entries = table.committedEntries(spark)
    assert(pre.subsetOf(entries.filter(_.kind == "data").map(_.path).toSet))
    assert(entries.exists(_.kind == "delete"))
    assert(table.read(spark).where(col("tool") === victimTool).count() == 0)

    // a SECOND MOR delete with deletes already pending must still work
    // (SupportsDelete.deleteWhere never scans — the MOR gate guards
    // scan/write surfaces, not table resolution)
    val secondTool = table.read(spark).select("tool").as[String].head()
    s.sql(s"DELETE FROM graft.`$tname` WHERE tool = '$secondTool'")
    assert(table.read(spark).where(col("tool") === secondTool).count() == 0)
    // …while a V2 append is refused (a re-inserted key would be re-killed
    // by the pending delete — no sequence numbers in this format)
    val werr = intercept[Exception] {
      Seq(("cX", 0, "late")).toDF("conv_id", "turn_idx", "text")
        .write.format("graft-snapshot").mode("append")
        .option("runId", "late-1").save(dir)
    }
    assert(werr.getMessage.contains("merge-on-read"), werr.getMessage)

    // default mode: same predicate on a fresh table takes the COW lane
    // (bucket rewrite — no delete entries in the manifest)
    val (dir2, table2) = freshTable()
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.warehouse",
      Paths.get(dir2).getParent.toString)
    val tname2 = Paths.get(dir2).getFileName.toString
    s2.sql(s"DELETE FROM graft.`$tname2` WHERE tool = '$victimTool'")
    assert(table2.committedEntries(spark).forall(_.kind == "data"))
    assert(table2.read(spark).where(col("tool") === victimTool).count() == 0)
  }

  test("rewriteDeletes: only buckets past the delete-ratio threshold are " +
    "rewritten; their delete entries fold away (read amplification drops); " +
    "logical rows unchanged; SQL CALL face works") {
    import testImplicits._
    val (dir, table) = freshTable(nConvs = 24)
    val all = table.read(spark)
    // heavy deletes in ONE bucket (a whole conversation), nothing elsewhere
    val victim = all.select("conv_id").as[String].head()
    val heavyBucket = table.bucketOfId(victim)
    table.deleteRowsMor(spark,
      all.where(col("conv_id") === victim).select("conv_id", "turn_idx"),
      "mor-heavy").get
    // one lone key in a DIFFERENT bucket: stays below any sane threshold
    val lightTurn = all
      .withColumn("b", table.bucketOf).where(col("b") =!= heavyBucket)
      .select("conv_id", "turn_idx").as[(String, Int)].head()
    table.deleteRowsMor(spark,
      Seq(lightTurn).toDF("conv_id", "turn_idx"), "mor-light").get
    val logicalBefore = table.read(spark).count()
    val entriesBefore = table.committedEntries(spark)
    assert(entriesBefore.count(_.kind == "delete") == 2)

    // threshold 10%: the whole-conversation bucket crosses it, the
    // single-key bucket does not
    val snap = table.rewriteDeletes(spark, "rw-1", minDeleteRatio = 0.1)
    assert(snap.nonEmpty)
    val entriesAfter = table.committedEntries(spark)
    val heavyAfter = entriesAfter.filter(_.bucket == heavyBucket)
    assert(heavyAfter.nonEmpty && heavyAfter.forall(_.kind == "data"))
    assert(heavyAfter.size < entriesBefore.count(_.bucket == heavyBucket))
    assert(entriesAfter.count(_.kind == "delete") == 1) // the light one stays
    assert(table.read(spark).count() == logicalBefore) // results unchanged
    assert(table.read(spark).where(col("conv_id") === victim).count() == 0)
    // untargeted buckets' files byte-untouched (same paths referenced)
    val untouched = entriesBefore.filter(e =>
      e.bucket != heavyBucket && e.kind == "data").map(_.path).toSet
    assert(untouched.subsetOf(entriesAfter.map(_.path).toSet))
    // steady state: nothing left past the threshold -> None, no snapshot
    assert(table.rewriteDeletes(spark, "rw-2", minDeleteRatio = 0.1).isEmpty)
    // CALL face: ratio 0% now sweeps the remaining single-key delete
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      Paths.get(dir).getParent.toString)
    val tname = Paths.get(dir).getFileName.toString
    val called = s.sql(
      s"CALL graft.system.rewrite_deletes('$tname', 'rw-sql', 0)").collect()
    assert(called.length == 1)
    assert(table.committedEntries(spark).forall(_.kind == "data"))
    assert(table.read(spark).count() == logicalBefore)
  }

  test("zero-match MOR delete is an inert no-op: None, no new snapshot, " +
    "no crash on the empty key set") {
    val (_, table) = freshTable()
    val pre = table.currentSnapshotId.get
    val n = table.read(spark).count()
    // predicate matching nothing -> empty key set; the data-first write
    // of an EMPTY partitionBy frame leaves only _SUCCESS, so the
    // pre-count short-circuit is what keeps this from throwing
    // UNABLE_TO_INFER_SCHEMA on the count read-back
    assert(table.deleteWhereMor(spark,
      col("conv_id") === "no-such-conversation", "mor-zero").isEmpty)
    assert(table.currentSnapshotId.get == pre)
    assert(table.read(spark).count() == n)
  }

  test("deleteRowsMor evaluates the caller's keys once: the per-bucket count " +
    "and the key write share one evaluation") {
    import testImplicits._
    val (_, table) = freshTable()
    val victims = table.read(spark).select("conv_id", "turn_idx")
      .as[(String, Int)].collect().sortBy(identity).take(5)
    val n = table.read(spark).count()
    val evals = spark.sparkContext.longAccumulator("mor-key-evals")
    val counted = udf { (i: Long) => evals.add(1L); i }.asNondeterministic()
    val keys = spark.range(victims.length).select(counted(col("id")).as("i"))
      .select(element_at(typedLit(victims.map(_._1).toSeq), col("i").cast("int") + 1).as("conv_id"),
        element_at(typedLit(victims.map(_._2).toSeq), col("i").cast("int") + 1).as("turn_idx"))
    assert(table.deleteRowsMor(spark, keys, "mor-once").isDefined)
    assert(evals.value == victims.length.toLong,
      s"keys evaluated ${evals.value} times for ${victims.length} rows")
    assert(table.read(spark).count() == n - victims.length)
  }

  test("readChanges: data appended AFTER an older MOR delete has that " +
    "delete's keys applied — the delta never over-delivers logically " +
    "deleted rows") {
    import testImplicits._
    val (_, table) = freshTable()
    val all = table.read(spark)
    val victim = all.select("conv_id").as[String].head()
    val s1 = table.deleteRowsMor(spark,
      all.where(col("conv_id") === victim).select("conv_id", "turn_idx"),
      "mor-old").get
    // append: re-insert the victim's rows plus genuinely fresh
    // conversations (conv ids are seed-independent conv%06d, so idx >= 12
    // is disjoint from the 12-conv base corpus)
    val wide = TranscriptGen.dataset(spark, 11L, 16, hotBase = 30, partitions = 2)
    val idx = substring(col("conv_id"), 5, 6).cast("int")
    val appended = ExtractPipeline.extract(spark,
      wide.where(idx >= 12 || col("conv_id") === victim)
        .as[graft.model.Turn])
    val nAppended = appended.count()
    val nVictimAppended = appended.where(col("conv_id") === victim).count()
    assert(nVictimAppended > 0) // the re-insert actually happened
    val s2 = table.commit(spark, appended, "append-after-del",
      replaceBuckets = false).get
    // no NEW deletes and no rewrites between s1 and s2 -> strict
    // append-only path is legal; with no sequence numbers the OLD delete
    // keys still kill their key in the appended file-sets
    val delta = table.readChanges(spark, s1, s2)
    assert(delta.where(col("conv_id") === victim).count() == 0)
    assert(delta.count() == nAppended - nVictimAppended)
    // the logical table agrees (documented re-delete-before-compact
    // semantics): the re-inserted rows are dead until a compact
    assert(table.read(spark).where(col("conv_id") === victim).count() == 0)
  }

  test("readChanges across a MOR delete: append-only guard trips; " +
    "allowReplaced redelivers the bucket's full new logical content") {
    import testImplicits._
    val (_, table) = freshTable()
    val s0 = table.currentSnapshotId.get
    val all = table.read(spark)
    val victim = all.select("conv_id").as[String].head()
    val bucket = table.bucketOfId(victim)
    val s1 = table.deleteRowsMor(spark,
      all.where(col("conv_id") === victim).select("conv_id", "turn_idx"),
      "mor-rc").get
    val e = intercept[IllegalStateException](table.readChanges(spark, s0, s1))
    assert(e.getMessage.contains("MOR-deleted"), e.getMessage)
    val delta = table.readChanges(spark, s0, s1, allowReplaced = true)
    // the delta is exactly the touched bucket's post-delete logical rows
    assert(delta.where(col("conv_id") === victim).count() == 0)
    val expected = table.read(spark)
      .withColumn("b", table.bucketOf).where(col("b") === bucket).count()
    assert(delta.count() == expected)
  }
}
