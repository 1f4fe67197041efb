package graft

import graft.model.{ExtractedTurn, Span}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Catalog plugin suite: snapshot tables as first-class catalog tables
  * (`spark.table("graft.t")`, SQL `VERSION AS OF`), and the headline scale
  * feature the catalog unlocks — STORAGE-PARTITIONED JOINS: two snapshot
  * tables bucketed by the same conv_id layout join with ZERO shuffle
  * exchange, because their scans report `KeyGroupedPartitioning(bucket(n,
  * conv_id))` and the catalog's V2 `bucket` function proves the layouts
  * identical. At 100 TB that turns the table-to-table join from a
  * full-corpus shuffle into per-bucket merge IO.
  */
class GraftCatalogSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1767225600000L

  private def mk(conv: String, idx: Int, tag: String): ExtractedTurn = {
    val text = s"$tag $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  /** Warehouse with two co-bucketed tables (same conv_ids, numBuckets=4). */
  private lazy val warehouse: String = {
    import testImplicits._
    val wh = suiteTempDir("graft_wh")
    val t1 = (0 until 60).map(i => mk(s"c$i", 0, "left"))
    val t2 = (0 until 60).map(i => mk(s"c$i", 0, "right"))
    t1.toDS().toDF().write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(s"$wh/t1")
    t2.toDS().toDF().write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(s"$wh/t2")
    wh
  }

  private def catalogSession(spj: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", spj.toString)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  test("catalog resolution: spark.table, SQL, listing, VERSION AS OF") {
    val s = catalogSession(spj = false)
    assert(s.table("graft.t1").count() == 60L)
    assert(s.sql("SELECT text FROM graft.t2 WHERE conv_id = 'c7'")
      .collect().map(_.getString(0)).toSeq == Seq("right c7#0"))
    assert(s.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).toSet == Set("t1", "t2"))
    // time travel through SQL: snapshot 0 is the only one → same rows
    assert(s.sql("SELECT count(*) FROM graft.t1 VERSION AS OF 0")
      .collect().head.getLong(0) == 60L)
  }

  test("storage-partitioned join: co-bucketed tables join with ZERO shuffle") {
    val s = catalogSession(spj = true)
    val joined = s.table("graft.t1").alias("a")
      .join(s.table("graft.t2").alias("b"), "conv_id")
      .select(col("conv_id"), col("a.text").as("lt"), col("b.text").as("rt"))
    assert(shuffles(joined).isEmpty,
      s"expected a shuffle-free storage-partitioned join:\n${joined.queryExecution.executedPlan}")
    val rows = joined.collect()
    assert(rows.length == 60)
    assert(rows.forall(r => r.getString(1).startsWith("left") &&
      r.getString(2).startsWith("right")))

    // control: identical join WITHOUT v2 bucketing shuffles both sides
    val s2 = catalogSession(spj = false)
    val control = s2.table("graft.t1")
      .join(s2.table("graft.t2"), "conv_id")
    assert(shuffles(control).nonEmpty)
    assert(control.count() == 60L)
  }

  test("CREATE TABLE then INSERT INTO resolves and commits snapshot 0") {
    val s = catalogSession(spj = false)
    s.sql("CREATE TABLE graft.fresh (conv_id STRING, ts TIMESTAMP, note STRING) " +
      "USING `graft-snapshot` TBLPROPERTIES ('numBuckets'='4')")
    assert(s.table("graft.fresh").count() == 0L) // resolvable before any commit
    s.sql("INSERT INTO graft.fresh VALUES ('c1', TIMESTAMP'2026-01-01 00:00:00', 'hello')")
    val rows = s.sql("SELECT conv_id, note FROM graft.fresh").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("c1", "hello")))
    assert(s.sql("SELECT count(*) FROM graft.fresh").collect().head.getLong(0) == 1L)
    s.sql("DROP TABLE graft.fresh")
    assert(!s.catalog.tableExists("graft.fresh"))
  }

  test("a delete-emptied snapshot still loads as an empty, appendable table") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_empty"
    (0 until 3).map(i => mk(s"e$i", 0, "x")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)
    val table = graft.table.SnapshotTable.open(dir)
    table.deleteConversations(spark, (0 until 3).map(i => s"e$i"), "del1")
    assert(s.table("graft.t_empty").count() == 0L)
    // and it accepts a fresh append afterwards
    Seq(mk("e_new", 0, "y")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "w2").save(dir)
    assert(s.table("graft.t_empty").count() == 1L)
  }

  test("SQL DELETE FROM: conv_id predicates map to bucket-targeted row-level delete") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_del"
    (0 until 10).map(i => mk(s"d$i", 0, "x")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)

    s.sql("DELETE FROM graft.t_del WHERE conv_id = 'd3'")
    assert(s.table("graft.t_del").count() == 9L)
    assert(s.sql("SELECT * FROM graft.t_del WHERE conv_id = 'd3'").count() == 0L)
    s.sql("DELETE FROM graft.t_del WHERE conv_id IN ('d4', 'd5')")
    assert(s.table("graft.t_del").count() == 7L)
    // non-key predicate: executed as a copy-on-write group rewrite (no
    // longer declined — SupportsRowLevelOperations). Matches nothing here,
    // so the table rewrites to the same 7 rows.
    s.sql("DELETE FROM graft.t_del WHERE turn_idx = 5")
    assert(s.table("graft.t_del").count() == 7L)
    // deleting a conversation that doesn't exist is a no-op
    s.sql("DELETE FROM graft.t_del WHERE conv_id = 'nope'")
    assert(s.table("graft.t_del").count() == 7L)
  }

  test("SQL DELETE FROM by conv_id on a table whose schema is not ExtractedTurn's") {
    val s = catalogSession(spj = false)
    s.sql("CREATE TABLE graft.t_notes (conv_id STRING, ts TIMESTAMP, note STRING) " +
      "USING `graft-snapshot` TBLPROPERTIES ('numBuckets'='4')")
    s.sql("INSERT INTO graft.t_notes VALUES " +
      "('n1', TIMESTAMP'2026-01-01 00:00:00', 'one'), " +
      "('n2', TIMESTAMP'2026-01-01 00:00:01', 'two'), " +
      "('n3', TIMESTAMP'2026-01-01 00:00:02', 'three')")
    s.sql("DELETE FROM graft.t_notes WHERE conv_id = 'n2'")
    assert(s.sql("SELECT conv_id, note FROM graft.t_notes").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet == Set(("n1", "one"), ("n3", "three")))
    assert(s.table("graft.t_notes").schema.fieldNames.toSeq == Seq("conv_id", "ts", "note"))
    s.sql("DROP TABLE graft.t_notes")
  }

  test("SQL UPDATE / MERGE INTO / non-key DELETE: copy-on-write bucket rewrite") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_cow"
    val seed = (0 until 8).flatMap(i => Seq(mk(s"u$i", 0, "a"), mk(s"u$i", 1, "b")))
    seed.toDS().toDF().write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)

    val table = graft.table.SnapshotTable.open(dir)
    val before = table.committedEntries(spark).map(e => e.bucket -> (e.path, e.runId)).toMap

    // key-pruned UPDATE: rewrites ONLY the bucket owning u3
    s.sql("UPDATE graft.t_cow SET text = 'patched' WHERE conv_id = 'u3' AND turn_idx = 1")
    assert(s.table("graft.t_cow").count() == 16L)
    assert(s.sql("SELECT text FROM graft.t_cow WHERE conv_id='u3' AND turn_idx=1")
      .collect().map(_.getString(0)).toSeq == Seq("patched"))
    assert(s.sql("SELECT text FROM graft.t_cow WHERE conv_id='u3' AND turn_idx=0")
      .collect().head.getString(0).startsWith("a"))
    val after = table.committedEntries(spark).map(e => e.bucket -> (e.path, e.runId)).toMap
    val hot = table.bucketOfId("u3")
    assert(after(hot) != before(hot), "the scanned bucket must be rewritten")
    (before.keySet - hot).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b must keep its file-set")
    }
    // the pre-operation snapshot stays time-travelable
    assert(s.sql("SELECT text FROM graft.t_cow VERSION AS OF 0 WHERE conv_id='u3' AND turn_idx=1")
      .collect().head.getString(0).startsWith("b"))

    // non-key UPDATE: full-table copy-on-write, all rows preserved
    s.sql("UPDATE graft.t_cow SET role = 'assistant' WHERE turn_idx = 1")
    assert(s.sql("SELECT count(*) FROM graft.t_cow WHERE role = 'assistant'")
      .collect().head.getLong(0) == 8L)
    assert(s.table("graft.t_cow").count() == 16L)

    // non-key DELETE: rows actually drop
    s.sql("DELETE FROM graft.t_cow WHERE turn_idx = 1")
    assert(s.table("graft.t_cow").count() == 8L)

    // MERGE INTO: update matched rows, insert brand-new conversations
    s.createDataFrame(Seq(mk("u0", 0, "merged"), mk("zz1", 0, "fresh")))
      .createOrReplaceTempView("cow_src")
    s.sql(
      """MERGE INTO graft.t_cow t USING cow_src v
        |ON t.conv_id = v.conv_id AND t.turn_idx = v.turn_idx
        |WHEN MATCHED THEN UPDATE SET t.text = v.text
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s.table("graft.t_cow").count() == 9L)
    assert(s.sql("SELECT text FROM graft.t_cow WHERE conv_id='u0'")
      .collect().head.getString(0).startsWith("merged"))
    assert(s.sql("SELECT text FROM graft.t_cow WHERE conv_id='zz1'")
      .collect().head.getString(0).startsWith("fresh"))
  }

  test("ts-retention DELETE: clean range coverage is a manifest edit (zero data IO); straddling falls back to COW") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_ret"
    def mkTs(conv: String, offMs: Long): ExtractedTurn = {
      val text = s"r $conv"
      ExtractedTurn(conv, 0, "user", "html", new Timestamp(base + offMs),
        text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
    }
    // two append runs with disjoint ts ranges: old [0s, 5s], new [100s, 105s]
    (0 until 6).map(i => mkTs(s"old$i", i * 1000L)).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "wA").save(dir)
    (0 until 6).map(i => mkTs(s"new$i", 100000L + i * 1000L)).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "wB").save(dir)

    val table = graft.table.SnapshotTable.open(dir)
    val before = table.committedEntries(spark)
    val oldPaths = before.filter(_.runId == "wA").map(_.path)
    assert(oldPaths.nonEmpty)

    // cutoff cleanly between the two runs → metadata-only delete: run-A
    // entries drop from the manifest, nothing is read or written
    s.sql(s"DELETE FROM graft.t_ret WHERE ts < TIMESTAMP'2026-01-01 00:00:50'")
    assert(s.table("graft.t_ret").count() == 6L)
    val after = table.committedEntries(spark)
    assert(after.map(_.runId).toSet == Set("wB"))
    assert(after.map(_.path).toSet == before.filter(_.runId == "wB").map(_.path).toSet)
    assert(after.forall(e => !e.runId.startsWith("cow-")), "must not rewrite data")
    // dropped file-sets remain on disk for time travel until expireSnapshots
    oldPaths.foreach(p => assert(Files.exists(java.nio.file.Paths.get(p))))
    assert(s.sql("SELECT count(*) FROM graft.t_ret VERSION AS OF 1")
      .collect().head.getLong(0) == 12L)

    // a cutoff INSIDE run B's range is unprovable from file-set stats →
    // copy-on-write rewrite; rows still come out exactly right
    s.sql(s"DELETE FROM graft.t_ret WHERE ts < TIMESTAMP'2026-01-01 00:01:41.500'")
    assert(s.table("graft.t_ret").count() == 4L)
    assert(s.sql("SELECT min(conv_id) FROM graft.t_ret").collect().head.getString(0) == "new2")
    assert(table.committedEntries(spark).exists(_.runId.startsWith("cow-delete-")),
      "straddling range must take the copy-on-write path")
  }

  test("INSERT OVERWRITE / mode(overwrite): snapshot becomes exactly the new data, history time-travels") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_ovw"
    (0 until 10).map(i => mk(s"o$i", 0, "old")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)
    (0 until 3).map(i => mk(s"n$i", 0, "new")).toDS().toDF()
      .write.format("graft-snapshot").mode("overwrite")
      .option("runId", "w2").save(dir)

    assert(s.table("graft.t_ovw").count() == 3L)
    assert(s.table("graft.t_ovw").select("text").collect()
      .forall(_.getString(0).startsWith("new")))
    // the pre-overwrite snapshot remains time-travel-able
    assert(s.sql("SELECT count(*) FROM graft.t_ovw VERSION AS OF 0")
      .collect().head.getLong(0) == 10L)
  }

  test("CALL graft.system.*: SQL maintenance procedures (compact, expire, tag, restore, WAP)") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_proc"
    (0 until 6).map(i => mk(s"p$i", 0, "one")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)
    (6 until 9).map(i => mk(s"p$i", 0, "two")).toDS().toDF()
      .write.format("graft-snapshot").mode("append").option("runId", "w2").save(dir)
    val table = graft.table.SnapshotTable.open(dir)

    // SHOW PROCEDURES lists the maintenance surface
    assert(s.sql("SHOW PROCEDURES IN graft.system").collect()
      .map(_.mkString(",")).exists(_.contains("compact")))

    // compact folds the two runs; result set carries the new snapshot id
    val cid = s.sql("CALL graft.system.compact('t_proc', 'c1')")
      .collect().head.getLong(0)
    assert(cid == 2L)
    assert(s.table("graft.t_proc").count() == 9L)

    // tag the compacted release, then expire everything older
    assert(s.sql("CALL graft.system.tag('t_proc', 'rel', 2)")
      .collect().head.getLong(0) == 2L)
    val expired = s.sql("CALL graft.system.expire_snapshots('t_proc', 1)").collect()
    assert(expired.nonEmpty) // pre-compact file-sets reclaimed, paths reported
    assert(table.tags("rel") == 2L)

    // restore = rollback as a NEW snapshot (id chain intact)
    (9 until 11).map(i => mk(s"p$i", 0, "three")).toDS().toDF()
      .write.format("graft-snapshot").mode("append").option("runId", "w3").save(dir)
    assert(s.table("graft.t_proc").count() == 11L)
    val rid = s.sql("CALL graft.system.restore('t_proc', 2)").collect().head.getLong(0)
    assert(rid == 4L)
    assert(s.table("graft.t_proc").count() == 9L)
    assert(s.sql("SELECT count(*) FROM graft.t_proc VERSION AS OF 3")
      .collect().head.getLong(0) == 11L) // the abandoned line stays travelable

    // WAP through SQL: stage a write, audit, publish via CALL
    Seq(mk("p_wap", 0, "staged")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("runId", "wapped").option("wap", "true").save(dir)
    assert(s.table("graft.t_proc").count() == 9L) // not visible yet
    assert(s.sql("CALL graft.system.publish_staged('t_proc', 5)")
      .collect().head.getLong(0) == 5L)
    assert(s.table("graft.t_proc").count() == 10L)

    // metadata tables: commit chain / live file-sets / tags, pure SQL,
    // driver-side manifest reads only (ids 0-1 were expired above)
    val snaps = s.sql("SELECT snapshot_id, is_current, is_staged FROM " +
      "graft.`t_proc$snapshots` ORDER BY snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L, 5L))
    assert(snaps.filter(_.getBoolean(1)).map(_.getLong(0)).toSeq == Seq(5L))
    assert(snaps.forall(!_.getBoolean(2)))
    assert(s.sql("SELECT count(*) FROM graft.`t_proc$files`")
      .collect().head.getLong(0) > 0L)
    assert(s.sql("SELECT sum(turns) FROM graft.`t_proc$files`")
      .collect().head.getLong(0) == 10L)
    assert(s.sql("SELECT name, snapshot_id FROM graft.`t_proc$tags`").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("rel", 2L)))
  }

  test("ALTER TABLE ADD COLUMNS: additive evolution, old files read null-filled, non-additive refused") {
    val s = catalogSession(spj = false)
    s.sql("CREATE TABLE graft.t_evo (conv_id STRING, ts TIMESTAMP, note STRING) " +
      "USING `graft-snapshot` TBLPROPERTIES ('numBuckets'='4')")
    s.sql("INSERT INTO graft.t_evo VALUES ('e1', TIMESTAMP'2026-01-01 00:00:00', 'a')")

    s.sql("ALTER TABLE graft.t_evo ADD COLUMNS (score INT)")
    assert(s.table("graft.t_evo").schema.fieldNames.toSeq ==
      Seq("conv_id", "ts", "note", "score"))
    // pre-evolution file-set reads null-filled, byte-untouched
    assert(s.sql("SELECT score FROM graft.t_evo WHERE conv_id = 'e1'")
      .collect().head.isNullAt(0))

    s.sql("INSERT INTO graft.t_evo VALUES ('e2', TIMESTAMP'2026-01-01 00:00:01', 'b', 7)")
    val rows = s.sql("SELECT conv_id, score FROM graft.t_evo ORDER BY conv_id").collect()
    assert(rows.map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq ==
      Seq(("e1", -1), ("e2", 7)))
    // the library read path resolves the same widest schema
    val lib = graft.table.SnapshotTable.open(s"$warehouse/t_evo").read(spark)
    assert(lib.schema.fieldNames.toSeq == Seq("conv_id", "ts", "note", "score"))
    assert(lib.count() == 2L)
    // time travel keeps the snapshot's own (pre-evolution) schema
    assert(s.sql("SELECT * FROM graft.t_evo VERSION AS OF 0").schema.fieldNames.toSeq ==
      Seq("conv_id", "ts", "note"))

    // type changes are still refused, not approximated (rename/drop have
    // their own metadata-only lane — see the column-mapping test below)
    intercept[Exception] {
      s.sql("ALTER TABLE graft.t_evo ALTER COLUMN note TYPE INT")
    }
    // COW UPDATE over the MIXED-schema table: the operation scan reads old
    // files null-filled under the widest schema, the rewritten bucket
    // lands in the evolved shape, and the prefix guard accepts the commit
    s.sql("UPDATE graft.t_evo SET score = 1 WHERE conv_id = 'e1'")
    assert(s.sql("SELECT score FROM graft.t_evo WHERE conv_id = 'e1'")
      .collect().head.getInt(0) == 1)
    assert(s.sql("SELECT score FROM graft.t_evo WHERE conv_id = 'e2'")
      .collect().head.getInt(0) == 7)

    // generic compact (non-ExtractedTurn schema → V2 overwrite path) folds
    // the mixed file-sets back to one evolved shape
    assert(s.sql("CALL graft.system.compact('t_evo', 'fold')")
      .collect().head.getLong(0) > 0L)
    assert(s.table("graft.t_evo").count() == 2L)
    assert(graft.table.SnapshotTable.open(s"$warehouse/t_evo")
      .committedEntries(spark).map(_.schema).distinct.size == 1)
  }

  test("RENAME/DROP COLUMN via field-id mapping: metadata-only, old " +
    "snapshots read correctly, COW UPDATE over a renamed column, re-added " +
    "name never resurrects dropped bytes") {
    val s = catalogSession(spj = false)
    s.sql("CREATE TABLE graft.t_map (conv_id STRING, ts TIMESTAMP, " +
      "note STRING, score INT) USING `graft-snapshot` " +
      "TBLPROPERTIES ('numBuckets'='4')")
    s.sql("INSERT INTO graft.t_map VALUES " +
      "('m1', TIMESTAMP'2026-01-01 00:00:00', 'alpha', 1), " +
      "('m2', TIMESTAMP'2026-01-01 00:00:01', 'beta', 2)")
    val dir = s"$warehouse/t_map"
    val filesBefore = graft.table.SnapshotTable.open(dir)
      .committedEntries(spark).map(_.path).toSet

    // ---- RENAME: pure metadata; snapshot 0's data reads under the new name
    s.sql("ALTER TABLE graft.t_map RENAME COLUMN note TO memo")
    assert(s.table("graft.t_map").schema.fieldNames.toSeq ==
      Seq("conv_id", "ts", "memo", "score"))
    assert(s.sql("SELECT memo FROM graft.t_map WHERE conv_id = 'm1'")
      .collect().head.getString(0) == "alpha")
    // filter ON the renamed column (pushed filters translate to phys)
    assert(s.sql("SELECT conv_id FROM graft.t_map WHERE memo = 'beta'")
      .collect().map(_.getString(0)).toSeq == Seq("m2"))
    // time travel to the pre-rename snapshot: same rows, current names
    assert(s.sql("SELECT memo FROM graft.t_map VERSION AS OF 0 " +
      "WHERE conv_id = 'm2'").collect().head.getString(0) == "beta")
    // no data file was touched
    assert(graft.table.SnapshotTable.open(dir)
      .committedEntries(spark).map(_.path).toSet == filesBefore)

    // ---- COW UPDATE over the renamed column
    s.sql("UPDATE graft.t_map SET memo = 'gamma' WHERE conv_id = 'm1'")
    assert(s.sql("SELECT memo FROM graft.t_map ORDER BY conv_id").collect()
      .map(_.getString(0)).toSeq == Seq("gamma", "beta"))
    // the rewrite landed under the PHYSICAL name (file-level naming stable)
    assert(graft.table.SnapshotTable.open(dir).committedEntries(spark)
      .forall(e => e.schema.contains("note") && !e.schema.contains("memo")))

    // ---- new append through the logical name
    s.sql("INSERT INTO graft.t_map VALUES " +
      "('m3', TIMESTAMP'2026-01-01 00:00:02', 'delta', 3)")
    assert(s.sql("SELECT memo FROM graft.t_map WHERE conv_id = 'm3'")
      .collect().head.getString(0) == "delta")

    // ---- DROP: metadata-only; column vanishes, rows intact
    s.sql("ALTER TABLE graft.t_map DROP COLUMN memo")
    assert(s.table("graft.t_map").schema.fieldNames.toSeq ==
      Seq("conv_id", "ts", "score"))
    assert(s.table("graft.t_map").count() == 3L)
    // time travel post-drop: the dropped column is hidden there too
    assert(!s.sql("SELECT * FROM graft.t_map VERSION AS OF 0")
      .schema.fieldNames.contains("memo"))

    // ---- append AFTER the drop (new files lack the dropped phys column:
    // union-compatible, the modulo-drop commit guard accepts)
    s.sql("INSERT INTO graft.t_map VALUES " +
      "('m4', TIMESTAMP'2026-01-01 00:00:03', 4)")
    assert(s.table("graft.t_map").count() == 4L)
    assert(s.sql("SELECT score FROM graft.t_map WHERE conv_id = 'm4'")
      .collect().head.getInt(0) == 4)

    // ---- re-ADD the dropped logical name: fresh field id + de-collided
    // physical name — the old 'memo'/'note' bytes must NOT resurrect
    s.sql("ALTER TABLE graft.t_map ADD COLUMNS (memo STRING)")
    val re = s.sql("SELECT conv_id, memo FROM graft.t_map ORDER BY conv_id")
      .collect()
    assert(re.forall(_.isNullAt(1)),
      "re-added column resurrected dropped bytes: " + re.mkString(","))
    s.sql("INSERT INTO graft.t_map VALUES " +
      "('m5', TIMESTAMP'2026-01-01 00:00:04', 5, 'fresh')")
    assert(s.sql("SELECT memo FROM graft.t_map WHERE conv_id = 'm5'")
      .collect().head.getString(0) == "fresh")

    // ---- guards: the table key and stats columns are immutable
    intercept[Exception] {
      s.sql("ALTER TABLE graft.t_map RENAME COLUMN conv_id TO cid")
    }
    intercept[Exception] { s.sql("ALTER TABLE graft.t_map DROP COLUMN ts") }

    // ---- maintenance still works end-to-end on the mapped table
    assert(s.sql("CALL graft.system.compact('t_map', 'fold-map')")
      .collect().head.getLong(0) > 0L)
    assert(s.table("graft.t_map").count() == 5L)
    assert(s.sql("SELECT memo FROM graft.t_map WHERE conv_id = 'm5'")
      .collect().head.getString(0) == "fresh")
  }

  test("widening ALTER COLUMN TYPE (INT->BIGINT, FLOAT->DOUBLE): " +
    "metadata-only, old files upcast per file, narrowing refused") {
    val s = catalogSession(spj = false)
    s.sql("CREATE TABLE graft.t_wide (conv_id STRING, ts TIMESTAMP, " +
      "score INT, conf FLOAT) USING `graft-snapshot` " +
      "TBLPROPERTIES ('numBuckets'='4')")
    s.sql("INSERT INTO graft.t_wide VALUES " +
      "('w1', TIMESTAMP'2026-01-01 00:00:00', 2147483647, CAST(0.5 AS FLOAT))")
    val dir = s"$warehouse/t_wide"
    val filesBefore = graft.table.SnapshotTable.open(dir)
      .committedEntries(spark).map(_.path).toSet

    s.sql("ALTER TABLE graft.t_wide ALTER COLUMN score TYPE BIGINT")
    s.sql("ALTER TABLE graft.t_wide ALTER COLUMN conf TYPE DOUBLE")
    assert(s.table("graft.t_wide").schema("score").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(s.table("graft.t_wide").schema("conf").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // the INT32/FLOAT file reads upcast, byte-untouched
    val r0 = s.sql("SELECT score, conf FROM graft.t_wide WHERE conv_id = 'w1'")
      .collect().head
    assert(r0.getLong(0) == 2147483647L && r0.getDouble(1) == 0.5)
    assert(graft.table.SnapshotTable.open(dir)
      .committedEntries(spark).map(_.path).toSet == filesBefore)

    // a value that needs the wide type lands through the widened schema
    s.sql("INSERT INTO graft.t_wide VALUES " +
      "('w2', TIMESTAMP'2026-01-01 00:00:01', 9999999999, 1.25)")
    val rows = s.sql("SELECT conv_id, score, conf FROM graft.t_wide " +
      "ORDER BY conv_id").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("w1", 2147483647L, 0.5), ("w2", 9999999999L, 1.25)))
    // aggregate across the mixed int/long file-sets
    assert(s.sql("SELECT sum(score) FROM graft.t_wide").collect()
      .head.getLong(0) == 2147483647L + 9999999999L)
    // library read resolves the same widened physical schema
    val lib = graft.table.SnapshotTable.open(dir).read(spark)
    assert(lib.schema("score").dataType == org.apache.spark.sql.types.LongType)
    assert(lib.count() == 2L)
    // COW UPDATE over the mixed widths
    s.sql("UPDATE graft.t_wide SET score = 7 WHERE conv_id = 'w1'")
    assert(s.sql("SELECT sum(score) FROM graft.t_wide").collect()
      .head.getLong(0) == 7L + 9999999999L)

    // narrowing / lossy changes are refused
    intercept[Exception] {
      s.sql("ALTER TABLE graft.t_wide ALTER COLUMN score TYPE INT")
    }
    intercept[Exception] {
      s.sql("ALTER TABLE graft.t_wide ALTER COLUMN conf TYPE FLOAT")
    }
    // key/stats columns immutable
    intercept[Exception] {
      s.sql("ALTER TABLE graft.t_wide ALTER COLUMN conv_id TYPE BINARY")
    }
  }

  test("persisted indexes as catalog tables: CALL build_dup_index / " +
    "build_vec_index, probe via graft.`t$dupindex` / graft.`t$vecindex`") {
    import testImplicits._
    val s = catalogSession(spj = false)

    // ---- near-dup index over a transcript table's text
    val shared = "the quick brown fox jumps over the lazy dog and keeps " +
      "jumping over it all day long without ever stopping once"
    val rows = (0 until 30).map { i =>
      val txt =
        if (i % 3 == 0) shared
        else s"document number $i talks at length about topic ${i * 7} in " +
          s"its own particular words and phrasing variant $i"
      ExtractedTurn(s"x$i", 0, "user", "html",
        new Timestamp(base + i * 1000L), txt,
        Seq(Span(0, 0, txt.length, "p", txt)), 1, 0, txt.length, 1.0)
    }
    rows.toDS().toDF().write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(s"$warehouse/t_idx")
    val built = s.sql("CALL graft.system.build_dup_index('t_idx')").collect()
    assert(built.head.getLong(0) > 0L)
    val lists = s.table("graft.`t_idx$dupindex`")
    // run is the append lineage (lists/run=…/cell=… layout), cell the
    // pruning key — both surface as partition columns
    assert(lists.columns.toSet == Set("bkey", "doc_id", "sig", "cell", "run"))
    assert(lists.count() == built.head.getLong(0))
    // cell-probe query: partition-pruned scan, runs from pure SQL
    val c0 = lists.select("cell").distinct().limit(1).collect().head.getInt(0)
    assert(s.sql("SELECT count(*) FROM graft.`t_idx$dupindex` " +
      s"WHERE cell = $c0").collect().head.getLong(0) > 0L)
    // SQL banded self-join surfaces the shared-text near-dup candidates —
    // the DupIndex.probe shape expressed by a SQL user
    val pairs = s.sql(
      """SELECT count(*) FROM graft.`t_idx$dupindex` a
         JOIN graft.`t_idx$dupindex` b
         ON a.cell = b.cell AND a.bkey = b.bkey AND a.doc_id < b.doc_id""")
      .collect().head.getLong(0)
    assert(pairs > 0L)

    // ---- ANN index over a (vec_id, embedding) table
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(concat(lit("v"), col("vec_id")).cast("string").as("conv_id"),
        col("vec_id"), col("embedding"))
    val nVec = emb.count()
    emb.write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(s"$warehouse/t_vec")
    val vbuilt = s.sql("CALL graft.system.build_vec_index('t_vec')").collect()
    assert(vbuilt.head.getLong(0) == nVec)
    val vl = s.table("graft.`t_vec$vecindex`")
    assert(vl.columns.contains("cent_id") && vl.columns.contains("vec_id"))
    assert(vl.count() == nVec)
    // cent_id-probe (the IVF search's pruned-list scan) from pure SQL
    val probed = s.sql("SELECT count(*) FROM graft.`t_vec$vecindex` " +
      "WHERE cent_id IN (0, 1)").collect().head.getLong(0)
    assert(probed > 0L && probed < nVec)
  }

  test("incremental batch read: option(changesFrom) scopes the table to the file-set delta") {
    import testImplicits._
    val s = catalogSession(spj = false)
    val dir = s"$warehouse/t_inc"
    (0 until 4).map(i => mk(s"i$i", 0, "one")).toDS().toDF()
      .write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "w1").save(dir)
    (4 until 7).map(i => mk(s"i$i", 0, "two")).toDS().toDF()
      .write.format("graft-snapshot").mode("append").option("runId", "w2").save(dir)

    // delta (0, CURRENT]: only the second append's rows
    val delta = spark.read.format("graft-snapshot")
      .option("changesFrom", "0").load(dir)
    assert(delta.count() == 3L)
    assert(delta.select("text").collect().forall(_.getString(0).startsWith("two")))
    // empty delta keeps the table schema
    val none = spark.read.format("graft-snapshot")
      .option("changesFrom", "1").load(dir)
    assert(none.count() == 0L)
    assert(none.schema.fieldNames.contains("conv_id"))
    // a rewrite in between is guarded…
    (0 until 2).map(i => mk(s"j$i", 0, "three")).toDS().toDF()
      .write.format("graft-snapshot").mode("overwrite").option("runId", "w3").save(dir)
    intercept[Exception] {
      spark.read.format("graft-snapshot").option("changesFrom", "1").load(dir).count()
    }
    // …unless the reader opts into at-least-once redelivery
    assert(spark.read.format("graft-snapshot").option("changesFrom", "1")
      .option("allowReplaced", "true").load(dir).count() == 2L)
  }

  test("grouped scan mode keeps per-bucket partition keys consistent with the data") {
    val s = catalogSession(spj = true)
    // groupBy conv_id ON TOP of the keyed scan: Spark may also use the
    // partitioning for aggregation; results must be exact either way
    val agg = s.table("graft.t1").groupBy("conv_id").count()
    assert(agg.collect().map(_.getLong(1)).forall(_ == 1L))
  }

  test("catalog INSERT and writeTo cluster by bucket: at most one data file per bucket") {
    val s = catalogSession(spj = false)
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.sql("CREATE TABLE graft.clustered (conv_id STRING, turn_idx INT, note STRING) " +
      "USING `graft-snapshot` TBLPROPERTIES ('numBuckets'='16')")
    def rows(from: Long) = s.range(from, from + 2000, 1, 8).select(
      concat(lit("c"), (col("id") % 400).cast("string")).as("conv_id"),
      (col("id") / 400).cast("int").as("turn_idx"), lit("x").as("note"))
    assert(rows(0).rdd.getNumPartitions >= 4)
    rows(0).createOrReplaceTempView("clustered_src")
    s.sql("INSERT INTO graft.clustered SELECT * FROM clustered_src")
    rows(2000).writeTo("graft.clustered").append()

    val table = graft.table.SnapshotTable.open(s"$warehouse/clustered")
    val first = table.entriesAt(s, 0L)
    val second = table.entriesAt(s, 1L).filterNot(e => first.exists(_.path == e.path))
    Seq(first, second).foreach { written =>
      assert(written.nonEmpty && written.size <= 16)
      written.foreach { e =>
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(e.path)).toArray
          .count(_.toString.endsWith(".parquet"))
        assert(files == 1, s"${e.path}: $files files")
      }
    }
    assert(s.table("graft.clustered").count() == 4000L)
    assert(s.sql("SELECT count(DISTINCT conv_id) FROM graft.clustered").head().getLong(0) == 400L)
    s.sql("DROP TABLE graft.clustered")
  }
}
