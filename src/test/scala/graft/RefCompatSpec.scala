package graft

import graft.model.{ExtractedTurn, Span}
import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** On-disk compatibility of the refs: a table whose `CURRENT`,
  * `branches/<name>` and `tags/<name>` were written by hand in the plain
  * decimal format, with the fixed-name tmp files a crashed writer of that
  * format leaves behind (`CURRENT.tmp`, `branches/b.tmp`), opens through
  * the library, the path source and the catalog, and keeps committing,
  * tagging and fast-forwarding. A stale tmp is never read as a ref.
  */
class RefCompatSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1767225600000L

  private def mk(conv: String, idx: Int, tag: String): ExtractedTurn = {
    val text = s"$tag $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 1, 0, text.length, 1.0)
  }

  private def rows(tag: String, n: Int) = {
    import testImplicits._
    (0 until n).map(i => mk(s"$tag$i", 0, tag)).toDS().toDF()
  }

  test("hand-written refs and stale fixed-name tmps open, commit, tag and fast-forward") {
    val warehouse = Paths.get(suiteTempDir("refcompat"))
    val dir: Path = warehouse.resolve("t")
    val writer = new SnapshotTable(dir.toString, 4)
    assert(writer.commit(spark, rows("a", 6), "r0").contains(0L))
    assert(writer.commit(spark, rows("b", 4), "r1", replaceBuckets = false).contains(1L))

    // the refs as a writer of the plain format leaves them: CURRENT rewound
    // to 0, snapshot 1 named only by branch b, a tag, and crashed tmps
    // holding ids no ref names
    Files.writeString(dir.resolve("CURRENT"), "0")
    Files.createDirectories(dir.resolve("branches"))
    Files.writeString(dir.resolve("branches/b"), "1")
    Files.writeString(dir.resolve("branches/b.tmp"), "0")
    Files.createDirectories(dir.resolve("tags"))
    Files.writeString(dir.resolve("tags/t"), "0")
    Files.writeString(dir.resolve("CURRENT.tmp"), "1")

    // library
    val table = SnapshotTable.open(dir.toString)
    assert(table.numBuckets == 4)
    assert(table.currentSnapshotId.contains(0L))
    assert(table.branches == Map("b" -> 1L))
    assert(table.tags == Map("t" -> 0L))
    assert(table.read(spark).count() == 6L)
    assert(table.readBranch(spark, "b").count() == 10L)

    // path source
    val src = spark.read.format("graft-snapshot")
    assert(src.load(dir.toString).count() == 6L)
    assert(src.option("branch", "b").load(dir.toString).count() == 10L)

    // catalog
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", warehouse.toString)
    assert(s.sql("SHOW TABLES IN graft").collect().map(_.getString(1)).toSeq == Seq("t"))
    assert(s.table("graft.t").count() == 6L)
    assert(s.sql("SELECT name, head_snapshot_id FROM graft.`t$branches`").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("b", 1L)))
    assert(s.sql("SELECT name FROM graft.`t$tags`").collect().map(_.getString(0))
      .toSeq == Seq("t"))

    // fast-forward, tag, commit
    assert(table.fastForward("b") == 1L)
    assert(table.currentSnapshotId.contains(1L))
    table.tag("t", 1L)
    table.tag("t2", 0L)
    assert(table.tags == Map("t" -> 1L, "t2" -> 0L))
    assert(table.commit(spark, rows("c", 2), "r2", replaceBuckets = false).contains(2L))
    assert(table.currentSnapshotId.contains(2L))
    assert(s.table("graft.t").count() == 12L)
    assert(s.sql("SELECT count(*) FROM graft.t VERSION AS OF 0")
      .collect().head.getLong(0) == 6L)

    // the stale tmps were never read nor consumed, and no swing left a
    // tmp or the ref lock behind
    assert(Files.readString(dir.resolve("CURRENT.tmp")) == "1")
    assert(Files.readString(dir.resolve("branches/b.tmp")) == "0")
    val leftovers = Seq(dir, dir.resolve("branches"), dir.resolve("tags")).flatMap { d =>
      val l = Files.list(d)
      try l.iterator().asScala.map(_.getFileName.toString).toSeq finally l.close()
    }.filter(n => n.endsWith(".tmp") || n.endsWith(".lock"))
    assert(leftovers.sorted == Seq("CURRENT.tmp", "b.tmp"), leftovers)
  }
}
