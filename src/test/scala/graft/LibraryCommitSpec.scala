package graft

import graft.gen.TranscriptGen
import graft.pipe.{ExtractJob, ExtractPipeline}
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The library face of the snapshot table writes through the same V2
  * writer as SQL INSERT: `SnapshotTable.commit` (and everything built on
  * it — ExtractJob, compact, rewriteDeletes, rebucket) takes any frame, and
  * a runId some manifest already references fails fast instead of
  * rewriting published files. */
class LibraryCommitSpec extends AnyFunSuite with SparkTestBase {

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("ExtractJob.runIncremental twice with one runId: the second run fails " +
    "fast and the live snapshot stays readable with every manifest path present") {
    val dir = Files.createTempDirectory("runid_reuse").toString
    val table = new SnapshotTable(dir, numBuckets = 4)
    val turns = TranscriptGen.dataset(spark, 42L, 20, 40, partitions = 2)
    assert(ExtractJob.runIncremental(spark, table, turns, runId = "r1").contains(0L))
    val n = table.read(spark).count()
    assert(n == TranscriptGen.totalTurns(20, 40))

    // nothing is pending, but the run identity is already taken
    val ex = intercept[Exception](ExtractJob.runIncremental(spark, table, turns, runId = "r1"))
    assert(msgs(ex).exists(_.contains("runId r1 is already committed")), msgs(ex).toString)

    assert(table.currentSnapshotId.contains(0L))
    val entries = table.committedEntries(spark)
    assert(entries.size == 4)
    entries.foreach { e =>
      val files = Files.list(Paths.get(e.path)).iterator().asScala.toSeq
      assert(files.exists(_.getFileName.toString.endsWith(".parquet")), s"${e.path} lost its data")
    }
    assert(table.read(spark).count() == n)
  }

  test("a commit of extracted turns plans one V2 append: no span re-slimming " +
    "before the writer's exchange") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val table = new SnapshotTable(Files.createTempDirectory("one_append").toString, 4)
      val turns = TranscriptGen.dataset(spark, 7L, 8, 20, partitions = 2)
      assert(table.commit(spark, ExtractPipeline.extract(spark, turns), "c1").contains(0L))
      // listener delivery is async; poll briefly
      val deadline = System.nanoTime() + 10000000000L
      while (!plans.asScala.exists(_.contains("AppendData")) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val append = plans.asScala.filter(_.contains("AppendData")).toSeq
      assert(append.size == 1, plans.asScala.mkString("\n---\n"))
      // the adaptive plan prints its final form first
      val fin = append.head.split("== Initial Plan ==").head
      assert("Exchange ".r.findAllIn(fin).size == 1, fin)
      assert(!fin.contains("spans_slim("), fin)
      assert("spans_fatten\\(".r.findAllIn(fin).size == 1, fin)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a library commit and a compaction write one file per bucket " +
    "whatever the shuffle width") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "16")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val table = new SnapshotTable(Files.createTempDirectory("one_file").toString, 4)
    val turns = TranscriptGen.dataset(s, 3L, 40, 20, partitions = 4)
    assert(table.commit(s, ExtractPipeline.extract(s, turns), "w1").contains(0L))
    table.compact(s, "c1")
    Seq(table.entriesAt(s, 0L), table.committedEntries(s)).foreach { es =>
      assert(es.size == 4)
      es.foreach { e =>
        val files = Files.list(Paths.get(e.path)).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(files == 1, s"${e.path}: $files files")
      }
    }
    assert(table.read(s).count() == TranscriptGen.totalTurns(40, 20))
  }

  /** A catalog session over a fresh warehouse and the table `t` in it. */
  private def catalogTable(ddl: String): (SparkSession, String) = {
    val wh = suiteTempDir("graft_evo_wh")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s.sql(s"CREATE TABLE graft.t ($ddl) USING `graft-snapshot` " +
      "TBLPROPERTIES ('numBuckets'='4')")
    (s, s"$wh/t")
  }

  private def insert(s: SparkSession, rows: Seq[String]): Unit =
    s.sql(s"INSERT INTO graft.t VALUES ${rows.mkString(", ")}")

  private def logical(s: SparkSession): Seq[String] = rowsOf(s.table("graft.t"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** MOR-delete `keys` through the library, then check that `call` folds
    * the deletes and leaves exactly the logical rows minus those keys. */
  private def foldsDeletes(s: SparkSession, dir: String, keys: Seq[(String, Int)],
      runId: String, call: String): Unit = {
    import testImplicits._
    val before = s.table("graft.t")
    val expected = rowsOf(before.join(
      keys.toDF("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .select(before.columns.map(before.col): _*))
    assert(expected.size == logical(s).size - keys.size)
    val table = SnapshotTable.open(dir)
    assert(table.deleteRowsMor(spark, keys.toDF("conv_id", "turn_idx"), runId).isDefined)
    assert(table.committedEntries(spark).exists(_.kind == "delete"))
    assert(s.sql(call).collect().length == 1)
    assert(SnapshotTable.open(dir).committedEntries(spark).forall(_.kind == "data"))
    assert(logical(s) == expected)
  }

  private def row(conv: String, idx: Int, rest: String*): String =
    (Seq(s"'$conv'", idx.toString, s"TIMESTAMP'2026-01-01 00:00:0${idx % 10}'") ++ rest)
      .mkString("(", ", ", ")")

  test("CALL rewrite_deletes and CALL compact on an ADD COLUMNS-evolved table " +
    "fold MOR deletes: logical rows = rows before minus the deleted keys") {
    val (s, dir) = catalogTable("conv_id STRING, turn_idx INT, ts TIMESTAMP, note STRING")
    insert(s, (0 until 6).flatMap(c => (0 until 2).map(i => row(s"a$c", i, s"'n$c$i'"))))
    s.sql("ALTER TABLE graft.t ADD COLUMNS (score INT)")
    insert(s, (0 until 6).map(c => row(s"b$c", 0, s"'m$c'", c.toString)))
    assert(SnapshotTable.open(dir).committedEntries(spark).map(_.schema).distinct.size == 2)

    foldsDeletes(s, dir, Seq(("a1", 0), ("b2", 0)), "mor-1",
      "CALL graft.system.rewrite_deletes('t', 'rw-1', 0)")
    foldsDeletes(s, dir, Seq(("a3", 1), ("b4", 0)), "mor-2",
      "CALL graft.system.compact('t', 'fold-1')")
    assert(logical(s).size == 18 - 4)
  }

  test("CALL rewrite_deletes and CALL compact on a column-mapped table with a " +
    "RENAME and a DROP fold MOR deletes: logical rows = rows before minus the deleted keys") {
    val (s, dir) = catalogTable(
      "conv_id STRING, turn_idx INT, ts TIMESTAMP, note STRING, score INT")
    insert(s, (0 until 6).flatMap(c => (0 until 2).map(i => row(s"a$c", i, s"'n$c$i'", c.toString))))
    s.sql("ALTER TABLE graft.t RENAME COLUMN note TO memo")
    insert(s, (0 until 4).map(c => row(s"b$c", 0, s"'m$c'", c.toString)))
    s.sql("ALTER TABLE graft.t DROP COLUMN score")
    insert(s, (0 until 4).map(c => row(s"d$c", 0, s"'k$c'")))
    assert(s.table("graft.t").schema.fieldNames.toSeq == Seq("conv_id", "turn_idx", "ts", "memo"))

    foldsDeletes(s, dir, Seq(("a1", 1), ("b2", 0), ("d3", 0)), "mor-1",
      "CALL graft.system.rewrite_deletes('t', 'rw-1', 0)")
    foldsDeletes(s, dir, Seq(("a4", 0), ("d0", 0)), "mor-2",
      "CALL graft.system.compact('t', 'fold-1')")
    assert(logical(s).size == 20 - 5)
  }
}
