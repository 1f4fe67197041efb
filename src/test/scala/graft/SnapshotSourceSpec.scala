package graft

import graft.connector.SnapshotScan
import graft.model.{ExtractedTurn, Span}
import graft.table.{SnapshotTable, TableFormat}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** DataSource V2 connector suite (`spark.read.format("graft-snapshot")`):
  * the table must behave like a real Spark source — planning-time bucket
  * and ts-range pruning FROM THE MANIFEST (asserted on the planned scan's
  * kept file-sets, not just on row results), column pruning, time travel
  * via option, manifest statistics — while every result stays equal to the
  * library read path (`SnapshotTable.read` / `readAt`).
  */
class SnapshotSourceSpec extends AnyFunSuite with SparkTestBase {

  private val dayMs = 86400000L
  private val baseA = 1767225600000L // 2026-01-01T00:00:00Z
  private val baseB = baseA + 30 * dayMs

  private def mk(conv: String, idx: Int, tsMs: Long): ExtractedTurn = {
    val text = s"body of $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(tsMs), text,
      Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  /** Two committed file-set generations with disjoint ts ranges: runA at
    * baseA (snapshot 0), runB APPENDED (streaming-style, replaceBuckets =
    * false) at baseB (snapshot 1) — so ts pruning has whole file-sets to
    * drop while every bucket stays covered by both. One runB row sits at
    * +500 ms inside a second to pin the manifest's second-granularity
    * widening. */
  private lazy val fixture: (String, SnapshotTable) = {
    val dir = Files.createTempDirectory("snapsource").toString
    val table = new SnapshotTable(dir, numBuckets = 4)
    import testImplicits._
    val a = (0 until 20).map(i => mk(s"conv$i", 0, baseA + i * 60000L))
    val b = (0 until 20).map(i => mk(s"conv$i", 1, baseB + i * 60000L)) :+
      mk("convHalf", 0, baseB + 500L)
    assert(table.commit(spark, a.toDS(), "runA").contains(0L))
    assert(table.commit(spark, b.toDS(), "runB", replaceBuckets = false).contains(1L))
    (dir, table)
  }

  private def load(opts: (String, String)*): DataFrame = {
    val r = spark.read.format("graft-snapshot")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(fixture._1)
  }

  private def scanOf(df: DataFrame): SnapshotScan =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }
      .get.asInstanceOf[SnapshotScan]

  private def key(df: DataFrame): Set[(String, Int, String)] = {
    import testImplicits._
    df.select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)].collect().toSet
  }

  test("format read ≡ SnapshotTable.read (rows and schema)") {
    val (_, table) = fixture
    val viaSource = load()
    assert(viaSource.schema.fieldNames.sameElements(table.read(spark).schema.fieldNames))
    assert(key(viaSource) == key(table.read(spark)))
    assert(viaSource.count() == 41L)
  }

  test("conv_id equality prunes to the owning bucket's file-sets at planning time") {
    val (_, table) = fixture
    val df = load().where(col("conv_id") === "conv7")
    val kept = scanOf(df).keptEntries
    assert(kept.map(_.bucket).toSet == Set(table.bucketOfId("conv7")), kept.toString)
    // both generations of that bucket survive (runA + runB file sets)
    assert(kept.size == 2, kept.toString)
    assert(key(df) == Set(("conv7", 0, "body of conv7#0"), ("conv7", 1, "body of conv7#1")))
  }

  test("conv_id IN prunes to the union of owning buckets; other filters prune nothing") {
    val (_, table) = fixture
    val df = load().where(col("conv_id").isin("conv1", "conv2") && col("turn_idx") === 0)
    val expected = Set("conv1", "conv2").map(table.bucketOfId)
    assert(scanOf(df).keptEntries.map(_.bucket).toSet == expected)
    assert(key(df) == Set(("conv1", 0, "body of conv1#0"), ("conv2", 0, "body of conv2#0")))
  }

  test("ts range predicates drop whole file-sets via manifest min/max stats") {
    val df = load().where(col("ts") >= new Timestamp(baseB))
    val kept = scanOf(df).keptEntries
    assert(kept.nonEmpty && kept.forall(_.path.contains("run=runB")), kept.toString)
    assert(df.count() == 21L)
    // and the complement: everything strictly before baseB is runA only
    val old = load().where(col("ts") < new Timestamp(baseA + dayMs))
    assert(old.count() == 20L)
    assert(scanOf(old).keptEntries.forall(_.path.contains("run=runA")))
  }

  test("second-granularity manifest ts is widened, not a false-prune boundary") {
    // convHalf sits at baseB+500ms; the manifest FLOORS its file-set's max
    // to the whole second. A predicate inside that second must still see it.
    val df = load().where(col("ts") > new Timestamp(baseB + 200L) &&
      col("ts") < new Timestamp(baseB + 900L))
    assert(key(df) == Set(("convHalf", 0, "body of convHalf#0")))
  }

  test("time travel: option snapshotId reads the historical snapshot") {
    val (_, table) = fixture
    val df = load("snapshotId" -> "0")
    assert(key(df) == key(table.readAt(spark, 0L)))
    assert(df.count() == 20L)
  }

  test("column pruning reaches the scan's read schema") {
    val df = load().select("conv_id")
    assert(scanOf(df).readSchema().fieldNames.sameElements(Array("conv_id")))
  }

  test("SQL face: CREATE TEMPORARY VIEW … USING graft-snapshot") {
    val (dir, table) = fixture
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_sql USING `graft-snapshot` " +
      s"OPTIONS (path '$dir')")
    val viaSql = spark.sql("SELECT conv_id, turn_idx, text FROM snap_sql")
    assert(key(viaSql) == key(table.read(spark)))
    val one = spark.sql("SELECT text FROM snap_sql WHERE conv_id = 'conv3' AND turn_idx = 0")
    assert(one.collect().map(_.getString(0)).toSeq == Seq("body of conv3#0"))
  }

  test("COUNT(*) pushes down completely: answered from the manifest, no data scan") {
    val df = load().groupBy().count()
    val scan = df.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b.scan }.get
    assert(scan.isInstanceOf[graft.connector.SnapshotCountScan], scan.getClass.toString)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(41L))
    // any filter blocks the complete pushdown (manifest counts would
    // overcount a set-granular prune) and plans the normal scan
    val filtered = load().where(col("conv_id") === "conv7").groupBy().count()
    val fscan = filtered.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b.scan }.get
    assert(fscan.isInstanceOf[SnapshotScan], fscan.getClass.toString)
    assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("runtime filtering re-prunes file-sets after planning (DPP analog)") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val (_, table) = fixture
    val scan = scanOf(load())
    assert(scan.keptEntries.size == 8) // 4 buckets × 2 runs, nothing pruned yet
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("conv_id", Array("conv7"))))
    assert(scan.keptEntries.map(_.bucket).toSet == Set(table.bucketOfId("conv7")))
    // runtime + planning-time filters intersect
    val scan2 = scanOf(load().where(col("ts") >= new Timestamp(baseB)))
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("conv_id", "conv7")))
    val kept = scan2.keptEntries
    assert(kept.size == 1 && kept.head.path.contains("run=runB"), kept.toString)
    assert(scan2.filterAttributes().map(_.describe()).toSeq == Seq("conv_id"))
  }

  test("manifest statistics: post-pruning row count with zero data-file IO") {
    val st = scanOf(load()).estimateStatistics()
    assert(st.numRows().getAsLong == 41L)
    assert(st.sizeInBytes().getAsLong > 0L)
    val pruned = scanOf(load().where(col("conv_id") === "conv7")).estimateStatistics()
    // the pruned estimate counts the kept bucket's file-sets only
    assert(pruned.numRows().getAsLong < 41L)
  }

  test("a file-set the manifest lists but the file system lost fails the " +
    "V2 read, naming the snapshot and the path") {
    import testImplicits._
    val dir = suiteTempDir("snapsource-lost")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, (0 until 12).map(i => mk(s"g$i", 0, baseA)).toDS(), "base")
    val lost = table.committedEntries(spark).head.path
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(lost))
    val e = intercept[IllegalStateException](
      spark.read.format("graft-snapshot").load(dir).collect())
    assert(e.getMessage.contains("snapshot 0") && e.getMessage.contains(lost), e.getMessage)
  }

  test("a manifest that recorded a non-identifier column name unquoted reads " +
    "on the V2 face as on the library face") {
    import testImplicits._
    val dir = suiteTempDir("snapsource-legacy-ddl")
    val table = new SnapshotTable(dir, numBuckets = 4)
    table.commit(spark, Seq(("c1", "one")).toDF("conv_id", "my-col"), "r0")
    // the manifest as a writer before name quoting left it
    val legacy = TableFormat.readManifest(dir, 0L).entries
      .map(_.copy(schema = "struct<conv_id:string,my-col:string>"))
    table.commitEntries(spark, legacy, replaceBuckets = true)
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val v2 = spark.read.format("graft-snapshot").load(dir)
    assert(v2.columns.toSeq == Seq("conv_id", "my-col"))
    assert(rows(v2) == Seq(("c1", "one")))
    assert(rows(table.read(spark)) == Seq(("c1", "one")))
  }
}
