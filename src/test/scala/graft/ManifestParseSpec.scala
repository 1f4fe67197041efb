package graft

import graft.table.{SnapshotTable, TableFormat}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}

/** Manifest lines written by older writers — no `schema`, no `kind`, no
  * `buckets`, tombstone-only — must keep parsing to the same entries. The
  * expected values were recorded from the Spark-JSON manifest reader the
  * driver-side parser replaced, so the one entry type is pinned field by
  * field, with its widened pruning bounds and the manifest's bucket count.
  */
class ManifestParseSpec extends AnyFunSuite with SparkTestBase {

  private def ms(ts: String): Long =
    LocalDateTime.parse(ts).toInstant(ZoneOffset.UTC).toEpochMilli

  /** A table dir holding the given manifests (id → lines). */
  private def tableWith(manifests: (Long, Seq[String])*): Path = {
    val dir = Paths.get(suiteTempDir("legacy-manifest"))
    Files.createDirectories(dir.resolve("manifests"))
    manifests.foreach { case (id, lines) =>
      Files.writeString(dir.resolve(s"manifests/snap-$id.json"), lines.mkString("\n"))
    }
    dir
  }

  private def line(snap: Long, parent: Long, bucket: Int, run: String,
      extra: String, buckets: Option[Int] = Some(4)): String =
    s"""{"snapshotId":$snap,"parentId":$parent,""" +
      buckets.map(n => s""""buckets":$n,""").getOrElse("") +
      s""""bucket":$bucket,"path":"/t/data/run=$run/bucket=$bucket","runId":"$run",""" +
      s""""turns":${10 + bucket},"blocksKept":${20 + bucket},"blocksDropped":$bucket,""" +
      s""""charsEmitted":${1000 + bucket},"minTs":"2024-01-0${bucket + 1}T00:00:00",""" +
      s""""maxTs":"2024-02-0${bucket + 1}T12:34:56"$extra}"""

  private def fields(p: Product): List[Any] = p.productIterator.toList

  private val KeyDdl = "struct<conv_id:string,turn_idx:int>"

  test("legacy manifest lines give the same bucket and manifest entries as before") {
    val dir = tableWith(
      // pre-schema-tracking writer: no `schema`, no `kind`
      0L -> Seq(line(0, -1, 1, "r0", ""), line(0, -1, 3, "r0", "")),
      // pre-MOR writer: `schema` but no `kind`, next to a delete entry
      1L -> Seq(line(1, 0, 1, "r1", s""","schema":"$KeyDdl""""),
        line(1, 0, 2, "d1", s""","schema":"$KeyDdl","kind":"delete"""")),
      // pre-bucket-count writer: no `buckets` on any line
      2L -> Seq(line(2, 1, 0, "r2", "", buckets = None),
        line(2, 1, 5, "r2", "", buckets = None)),
      // delete-everything snapshot: one tombstone line, no entries
      3L -> Seq("""{"snapshotId":3,"parentId":2,"buckets":4,"tombstone":true}"""))
    val table = new SnapshotTable(dir.toString, 4)

    def bucketEntry(b: Int, run: String, schema: String, kind: String): List[Any] =
      List(b, s"/t/data/run=$run/bucket=$b", run, 10L + b, 20L + b, b.toLong,
        1000L + b, s"2024-01-0${b + 1}T00:00:00", s"2024-02-0${b + 1}T12:34:56",
        schema, kind)
    // the pruning bounds: recorded min, recorded max widened by 1 s
    def bounds(id: Long): Seq[(Long, Long)] =
      TableFormat.readManifest(dir.toString, id).entries.map(e => (e.minTsMs, e.maxTsMs))
    def widened(b: Int): (Long, Long) =
      (ms(s"2024-01-0${b + 1}T00:00:00"), ms(s"2024-02-0${b + 1}T12:34:56") + 1000L)
    def buckets(id: Long): Option[Int] = TableFormat.readManifest(dir.toString, id).numBuckets

    assert(table.entriesAt(spark, 0L).map(fields) == Seq(
      bucketEntry(1, "r0", "", "data"), bucketEntry(3, "r0", "", "data")))
    assert(bounds(0L) == Seq(widened(1), widened(3)))
    assert(buckets(0L).contains(4))

    assert(table.entriesAt(spark, 1L).map(fields) == Seq(
      bucketEntry(1, "r1", KeyDdl, "data"), bucketEntry(2, "d1", KeyDdl, "delete")))
    assert(bounds(1L) == Seq(widened(1), widened(2)))
    assert(buckets(1L).contains(4))

    // the bucket count back-fills from max(bucket) + 1
    assert(table.entriesAt(spark, 2L).map(fields) == Seq(
      bucketEntry(0, "r2", "", "data"), bucketEntry(5, "r2", "", "data")))
    assert(bounds(2L) == Seq(widened(0), widened(5)))
    assert(buckets(2L).contains(6))
    assert(TableFormat.resolve(dir.toString, Some(2L)).numBuckets.contains(6))

    assert(table.entriesAt(spark, 3L).isEmpty)
    assert(TableFormat.readManifest(dir.toString, 3L).entries.isEmpty)
    assert(TableFormat.resolve(dir.toString, Some(3L)).numBuckets.contains(4))

    // open() recovers the live bucket count, back-filled or from a tombstone
    Files.writeString(dir.resolve("CURRENT"), "2")
    assert(SnapshotTable.open(dir.toString).numBuckets == 6)
    Files.writeString(dir.resolve("CURRENT"), "3")
    assert(SnapshotTable.open(dir.toString).numBuckets == 4)
    assert(table.committedEntries(spark).isEmpty)
  }

  test("a missing snapshot fails the require on both faces") {
    val dir = tableWith(0L -> Seq(line(0, -1, 1, "r0", "")))
    val table = new SnapshotTable(dir.toString, 4)
    val e1 = intercept[IllegalArgumentException](table.entriesAt(spark, 7L))
    assert(e1.getMessage.contains("snapshot 7 does not exist"))
    val e2 = intercept[IllegalArgumentException](TableFormat.readManifest(dir.toString, 7L))
    assert(e2.getMessage.contains("snapshot 7 does not exist"))
    intercept[IllegalArgumentException](TableFormat.resolve(dir.toString, Some(7L)))
  }
}
