package graft

import graft.table.{SnapshotTable, TableFormat}
import graft.table.SnapshotTable.BucketEntry
import graft.table.TableFormat.{ColumnMapEntry, TableMeta}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The snapshot table's metadata files, written through [[TableFormat]]:
  *
  *  - the bytes of a manifest (a data entry, a `kind: delete` entry, a
  *    tombstone) and of TABLE_META (without and with a column mapping) are
  *    the bytes the hand-built JSON writers produced for the same inputs,
  *    recorded from them — a field-order or escaping drift fails here;
  *  - strings with a quote, a backslash, a tab, a newline and non-ASCII
  *    text survive both writers and the catalog face (CREATE TABLE, INSERT,
  *    SELECT). Control characters are not byte-pinned: the JSON writer
  *    escapes a tab as `\t` where the hand-built one wrote `\u0009`, and
  *    both parse to the same string.
  */
class TableFormatSpec extends AnyFunSuite with SparkTestBase {

  test("manifest and TABLE_META bytes are the ones the hand-built writers wrote") {
    val dir = suiteTempDir("format_pin")
    val table = new SnapshotTable(dir, 4)
    val run = "r\"q\\é✓"
    table.commitEntries(spark, Seq(
      BucketEntry(1, s"/t/data/run=$run/bucket=1", run, 11L, 21L, 1L, 1001L,
        "2024-01-02T00:00:00", "2024-02-02T12:34:56",
        "struct<conv_id:string,ts:timestamp,`nö\"te`:string>"),
      BucketEntry(2, "/t/data/run=d1/bucket=2", "d1", 3L, 0L, 0L, 0L,
        "1970-01-01T00:00:00", "1970-01-01T00:00:00",
        "struct<conv_id:string,turn_idx:int>", "delete")), replaceBuckets = true)
    table.commitEntries(spark, Seq.empty, replaceBuckets = true, forceReplace = Set(1, 2))
    assert(Files.readString(TableFormat.manifestFile(dir, 0L)) ==
      """{"snapshotId":0,"parentId":-1,"buckets":4,"bucket":1,"path":"/t/data/run=r\"q\\é✓/bucket=1","runId":"r\"q\\é✓","turns":11,"blocksKept":21,"blocksDropped":1,"charsEmitted":1001,"minTs":"2024-01-02T00:00:00","maxTs":"2024-02-02T12:34:56","schema":"struct<conv_id:string,ts:timestamp,`nö\"te`:string>"}""" +
      "\n" +
      """{"snapshotId":0,"parentId":-1,"buckets":4,"bucket":2,"path":"/t/data/run=d1/bucket=2","runId":"d1","turns":3,"blocksKept":0,"blocksDropped":0,"charsEmitted":0,"minTs":"1970-01-01T00:00:00","maxTs":"1970-01-01T00:00:00","schema":"struct<conv_id:string,turn_idx:int>","kind":"delete"}""")
    assert(Files.readString(TableFormat.manifestFile(dir, 1L)) ==
      """{"snapshotId":1,"parentId":0,"buckets":4,"tombstone":true}""")

    val plain = suiteTempDir("format_pin_meta")
    TableFormat.writeMeta(plain,
      TableMeta("struct<conv_id:string,ts:timestamp,`nö\"te\\x`:string>", 8))
    assert(Files.readString(java.nio.file.Paths.get(plain, "TABLE_META.json")) ==
      """{"schema":"struct<conv_id:string,ts:timestamp,`nö\"te\\x`:string>","numBuckets":8}""")

    val mapped = suiteTempDir("format_pin_meta")
    TableFormat.writeMeta(mapped, TableMeta(
      "struct<conv_id:string,ts:timestamp,`rë\"m\\k`:string>", 8, Some(Seq(
        ColumnMapEntry(1, "conv_id", "conv_id"), ColumnMapEntry(2, "ts", "ts"),
        ColumnMapEntry(3, "rë\"m\\k", "nö\"te\\x"),
        ColumnMapEntry(4, "gone", "gone", dropped = true)))))
    assert(Files.readString(java.nio.file.Paths.get(mapped, "TABLE_META.json")) ==
      """{"schema":"struct<conv_id:string,ts:timestamp,`rë\"m\\k`:string>","numBuckets":8,"mapping":[{"id":1,"name":"conv_id","phys":"conv_id","dropped":false},{"id":2,"name":"ts","phys":"ts","dropped":false},{"id":3,"name":"rë\"m\\k","phys":"nö\"te\\x","dropped":false},{"id":4,"name":"gone","phys":"gone","dropped":true}]}""")
  }

  private val odd = "q\"b\\t\tn\né✓"

  test("quotes, backslashes, control characters and non-ASCII text round-trip through both writers") {
    val dir = suiteTempDir("format_rt")
    val table = new SnapshotTable(dir, 4)
    val entries = Seq(
      BucketEntry(0, s"/t/data/run=$odd/bucket=0", odd, 5L, 6L, 7L, 8L,
        "2024-01-01T00:00:00", "2024-01-01T00:00:01",
        TableFormat.schemaDdl(StructType(Seq(StructField("conv_id", StringType),
          StructField(odd, StringType))))),
      BucketEntry(3, s"/t/data/run=$odd/bucket=3", s"$odd-del", 1L, 0L, 0L, 0L,
        "1970-01-01T00:00:00", "1970-01-01T00:00:00",
        "struct<conv_id:string,turn_idx:int>", "delete"))
    table.commitEntries(spark, entries, replaceBuckets = true)
    assert(TableFormat.readManifest(dir, 0L) == TableFormat.Manifest(-1L, Some(4), entries))
    assert(SnapshotTable.parseSchema(entries.head.schema).map(_.fieldNames.toSeq)
      .contains(Seq("conv_id", odd)))

    val meta = TableMeta(entries.head.schema, 4, Some(Seq(
      ColumnMapEntry(1, "conv_id", "conv_id"), ColumnMapEntry(2, s"$odd-now", odd))))
    TableFormat.writeMeta(dir, meta)
    assert(TableFormat.readMeta(dir).contains(meta))
  }

  test("a table whose manifest recorded a non-identifier name unquoted keeps accepting commits") {
    import testImplicits._
    val dir = suiteTempDir("format_legacy_ddl")
    val table = new SnapshotTable(dir, 4)
    val rows = Seq(("c1", "one")).toDF("conv_id", "my-col")
    table.commit(spark, rows, "r0")
    // the manifest as a writer before name quoting left it
    val legacy = TableFormat.readManifest(dir, 0L).entries
      .map(_.copy(schema = "struct<conv_id:string,my-col:string>"))
    table.commitEntries(spark, legacy, replaceBuckets = true)
    assert(table.commit(spark, Seq(("c2", "two")).toDF("conv_id", "my-col"), "r1",
      replaceBuckets = false).contains(2L))
    assert(table.read(spark).orderBy("conv_id").collect().map(_.getString(1)).toSeq ==
      Seq("one", "two"))
  }

  test("a column named with a quote, a backslash, a tab, a newline and non-ASCII " +
    "text goes through CREATE TABLE, INSERT and SELECT") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", suiteTempDir("format_wh"))
    s.createDataFrame(Seq(("c1", "one"))).toDF("conv_id", odd).writeTo("graft.odd").create()
    s.sql("INSERT INTO graft.odd VALUES ('c2', 'two')")
    val t = s.table("graft.odd")
    assert(t.columns.toSeq == Seq("conv_id", odd))
    assert(t.orderBy("conv_id").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("c1", "one"), ("c2", "two")))
    assert(s.sql("SELECT count(*) FROM graft.odd VERSION AS OF 0").head().getLong(0) == 1L)
  }
}
