package graft

import graft.model.{ExtractedTurn, Span}
import graft.streaming.StreamingExtract
import graft.table.SnapshotTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Driver-side read planning: the manifest is parsed on the driver, its
  * file-sets are listed there, and data is read under the schema each entry
  * recorded. Two things make that safe and worth it, and both are pinned
  * here: every writer path records the schema its files actually carry (an
  * explicit parquet schema would silently null-fill a misnamed column), and
  * planning a read launches no Spark job, however many file-sets it spans.
  */
class SnapshotPlanningSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1767225600000L

  private def mk(conv: String, idx: Int, tag: String): ExtractedTurn = {
    val text = s"$tag $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every entry of every snapshot reads the same rows under its recorded
    * DDL as under footer inference, and the footer schema is the DDL. */
  private def assertParity(table: SnapshotTable): Int = {
    val entries = table.snapshotIds.flatMap(table.entriesAt(spark, _)).distinctBy(_.path)
    entries.foreach { e =>
      val recorded = SnapshotTable.parseSchema(e.schema)
      assert(recorded.isDefined, s"${e.path}: unparseable recorded DDL [${e.schema}]")
      val inferred = spark.read.parquet(e.path)
      assert(inferred.schema.catalogString == e.schema,
        s"${e.path}: footer ${inferred.schema.catalogString} vs recorded ${e.schema}")
      assert(rows(spark.read.schema(recorded.get).parquet(e.path)) == rows(inferred),
        s"${e.path}: recorded-DDL read differs from the footer-inferred read")
    }
    entries.size
  }

  test("manifest/footer schema parity on every library writer path: commit, " +
    "streaming append, MOR key sets, compact") {
    import testImplicits._
    val dir = suiteTempDir("parity-lib")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 12).map(i => mk(s"c$i", 0, "base")).toDS(), "base")
    (0 until 2).foreach { b =>
      StreamingExtract.commitBatch(table,
        (0 until 8).map(i => mk(s"s$b-$i", i % 3, "stream")).toDS(), b.toLong)
    }
    table.deleteRowsMor(spark, Seq(("c1", 0), ("s0-2", 2)).toDF("conv_id", "turn_idx"), "mor")
    val kinds = table.committedEntries(spark).map(_.kind).toSet
    assert(kinds == Set("data", "delete"))
    table.compact(spark, "compact")
    assert(table.read(spark).count() == 12L + 16L - 2L)
    assert(assertParity(table) > 0)
  }

  test("manifest/footer schema parity on every V2 writer path: INSERT, COW " +
    "UPDATE/DELETE, ADD COLUMNS, RENAME/DROP under a column mapping, compact") {
    val wh = suiteTempDir("parity-wh")
    val s: SparkSession = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s.sql("CREATE TABLE graft.p (conv_id STRING, ts TIMESTAMP, note STRING, " +
      "score INT) USING `graft-snapshot` TBLPROPERTIES ('numBuckets'='2')")
    s.sql("INSERT INTO graft.p VALUES " +
      "('p1', TIMESTAMP'2026-01-01 00:00:00', 'a', 1), " +
      "('p2', TIMESTAMP'2026-01-01 00:00:01', 'b', 2), " +
      "('p3', TIMESTAMP'2026-01-01 00:00:02', 'c', 3)")
    s.sql("UPDATE graft.p SET note = 'z' WHERE score = 2")
    s.sql("DELETE FROM graft.p WHERE score = 3")
    s.sql("ALTER TABLE graft.p ADD COLUMNS (extra STRING)")
    s.sql("INSERT INTO graft.p VALUES ('p4', TIMESTAMP'2026-01-01 00:00:03', 'd', 4, 'x')")
    s.sql("ALTER TABLE graft.p RENAME COLUMN note TO memo")
    s.sql("UPDATE graft.p SET memo = 'y' WHERE conv_id = 'p1'")
    s.sql("ALTER TABLE graft.p DROP COLUMN score")
    s.sql("INSERT INTO graft.p VALUES ('p5', TIMESTAMP'2026-01-01 00:00:04', 'e', 'w')")
    assert(rows(s.sql("SELECT conv_id, memo, extra FROM graft.p")) == Seq(
      "[p1,y,null]", "[p2,z,null]", "[p4,d,x]", "[p5,e,w]"))
    val table = SnapshotTable.open(s"$wh/p")
    // the library read of the evolved, mapped table agrees with the catalog
    assert(table.read(spark).count() == 4L)
    s.sql("CALL graft.system.compact('p', 'fold')")
    assert(rows(s.sql("SELECT conv_id, memo, extra FROM graft.p")) == Seq(
      "[p1,y,null]", "[p2,z,null]", "[p4,d,x]", "[p5,e,w]"))
    assert(assertParity(table) > 0)
  }

  /** Spark jobs launched by `body` on this thread. Listener events arrive
    * in order, so once a sentinel job's start is seen, every start of the
    * measured jobs has been delivered. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("measured", "measured")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup("sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("sentinel"), "listener bus did not deliver the sentinel")
      (a, groups.asScala.count(_ == "measured"))
    } finally sc.removeSparkListener(listener)
  }

  test("planning a read runs no Spark job; a point lookup over a bucket with " +
    "3 appended file sets runs exactly one") {
    import testImplicits._
    val dir = suiteTempDir("plan-jobs")
    val table = new SnapshotTable(dir, numBuckets = 2)
    (0 until 3).foreach { b =>
      StreamingExtract.commitBatch(table,
        (0 until 10).flatMap(i => Seq(mk(s"b$b-$i", 0, "x"), mk(s"b$b-$i", 1, "y"))).toDS(),
        b.toLong)
    }
    val conv = "b0-3"
    val bucket = table.bucketOfId(conv)
    val (entries, planJobs) = jobsOf(table.committedEntries(spark))
    assert(entries.count(_.bucket == bucket) == 3)
    assert(planJobs == 0, s"committedEntries launched $planJobs Spark job(s)")
    val (found, lookupJobs) = jobsOf(table.readConversation(spark, conv).collect())
    assert(found.map(_.getAs[Int]("turn_idx")).sorted.toSeq == Seq(0, 1))
    assert(lookupJobs == 1, s"readConversation(...).collect() launched $lookupJobs Spark jobs")
  }

  test("a library read of 48 file-sets (16 buckets x 3 appends) launches no " +
    "job to plan, counts what was committed and reads exactly the entries' files") {
    import testImplicits._
    val dir = suiteTempDir("plan-wide")
    val table = new SnapshotTable(dir, numBuckets = 16)
    val batches = (0 until 3).map(b => (0 until 256).map(i => mk(s"w$b-$i", i % 2, s"t$b")))
    batches.zipWithIndex.foreach { case (rs, b) =>
      StreamingExtract.commitBatch(table, rs.toDS(), b.toLong)
    }
    val entries = table.committedEntries(spark)
    assert(entries.size == 48 && entries.map(_.bucket).distinct.size == 16)
    val (df, planJobs) = jobsOf(table.read(spark))
    assert(planJobs == 0, s"table.read launched $planJobs Spark job(s) to plan 48 file-sets")
    val agg = df.agg(count(lit(1)), sum(length(col("text")))).head()
    assert(agg.getLong(0) == entries.map(_.turns).sum && agg.getLong(0) == 3L * 256)
    assert(agg.getLong(1) == batches.flatten.map(_.text.length.toLong).sum)
    val onDisk = entries.flatMap { e =>
      val ls = Files.list(Paths.get(e.path))
      try ls.iterator.asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      finally ls.close()
    }
    assert(onDisk.size >= 48)
    // the same strings Spark's own listing of those paths names them by
    val listed = spark.read.parquet(entries.map(_.path): _*).inputFiles.sorted.toSeq
    assert(scannedFiles(df).sorted == listed)
    assert(listed.map(new org.apache.hadoop.fs.Path(_).toUri.getPath) == onDisk.sorted)
  }

  test("legacy entries that recorded no schema are read by footer inference") {
    import testImplicits._
    val dir = suiteTempDir("plan-legacy")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 12).map(i => mk(s"l$i", i % 3, "legacy")).toDS(), "base")
    val recorded = table.read(spark)
    val expected = rows(recorded)
    val manifest = Paths.get(dir, "manifests", "snap-0.json")
    Files.writeString(manifest,
      Files.readString(manifest).replaceAll(""","schema":"(?:[^"\\]|\\.)*"""", ""))
    assert(table.committedEntries(spark).forall(_.schema.isEmpty))
    val legacy = table.read(spark)
    assert(legacy.schema == recorded.schema)
    assert(rows(legacy) == expected)
  }

  test("a file-set the manifest lists but the file system lost fails the " +
    "library read, naming the snapshot and the path") {
    import testImplicits._
    val dir = suiteTempDir("plan-lost")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 12).map(i => mk(s"g$i", 0, "gone")).toDS(), "base")
    val lost = table.committedEntries(spark).head.path
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lost))
    val e = intercept[IllegalStateException](table.read(spark).collect())
    assert(e.getMessage.contains("snapshot 0") && e.getMessage.contains(lost), e.getMessage)
  }
}
