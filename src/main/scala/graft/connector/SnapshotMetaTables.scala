package graft.connector

import graft.table.{Refs, SnapshotTable, TableFormat}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style SQL metadata tables over the snapshot format:
  *
  * {{{
  *   SELECT * FROM graft.`turns$snapshots`   -- the commit chain
  *   SELECT * FROM graft.`turns$files`       -- live file-sets + stats
  *   SELECT * FROM graft.`turns$tags`        -- pinned releases
  * }}}
  *
  * Everything is answered from manifests on the DRIVER — zero data-file
  * IO, zero executors. At 100 TB "what snapshots exist / how big is each
  * bucket / what does the tag point at" must cost a metadata read, which
  * is the same principle as the manifest-backed COUNT(*) pushdown.
  * Results ride back as a [[LocalScan]] (computed fresh per query plan,
  * so a SELECT after a commit sees the new state).
  */
object SnapshotMetaTables {

  val Kinds: Set[String] = Set("snapshots", "files", Refs.TagKind, Refs.BranchKind)

  def load(dir: String, kind: String): Table = kind match {
    case "snapshots" => new SnapshotMetaTable(s"$dir#snapshots",
      new StructType()
        .add("snapshot_id", LongType, nullable = false)
        .add("parent_id", LongType, nullable = false)
        .add("buckets", IntegerType, nullable = false)
        .add("filesets", IntegerType, nullable = false)
        .add("turns", LongType, nullable = false)
        .add("is_current", BooleanType, nullable = false)
        .add("is_staged", BooleanType, nullable = false),
      () => snapshotRows(dir))
    case "files" => new SnapshotMetaTable(s"$dir#files",
      new StructType()
        .add("bucket", IntegerType, nullable = false)
        .add("path", StringType, nullable = false)
        .add("run_id", StringType, nullable = false)
        .add("turns", LongType, nullable = false)
        .add("min_ts", StringType, nullable = false)
        .add("max_ts", StringType, nullable = false),
      () => fileRows(dir))
    case Refs.TagKind => new SnapshotMetaTable(s"$dir#tags",
      new StructType()
        .add("name", StringType, nullable = false)
        .add("snapshot_id", LongType, nullable = false),
      () => tagRows(dir))
    case Refs.BranchKind => new SnapshotMetaTable(s"$dir#branches",
      new StructType()
        .add("name", StringType, nullable = false)
        .add("head_snapshot_id", LongType, nullable = false),
      () => branchRows(dir))
    case other => sys.error(
      s"unknown metadata table $$$other — available: ${Kinds.mkString(", ")}")
  }

  private def snapshotRows(dir: String): Seq[InternalRow] = {
    val table = SnapshotTable.open(dir)
    val cur = table.currentSnapshotId.getOrElse(-1L)
    val staged = table.stagedIds.toSet
    table.snapshotIds.map { id =>
      val m = TableFormat.readManifest(dir, id)
      // MOR delete key-sets are counted as file-sets but their key counts
      // are not turns
      new GenericInternalRow(Array[Any](
        id, m.parentId, m.numBuckets.getOrElse(-1), m.entries.size,
        m.entries.filter(_.kind == "data").map(_.turns).sum,
        id == cur, staged(id)))
    }
  }

  /** The live data file-sets; `min_ts`/`max_ts` are the instants the
    * manifest recorded (not the widened pruning bounds). */
  private def fileRows(dir: String): Seq[InternalRow] = {
    def instant(ts: String) =
      UTF8String.fromString(java.time.Instant.ofEpochMilli(TableFormat.tsMs(ts)).toString)
    val table = SnapshotTable.open(dir)
    table.currentSnapshotId.map(TableFormat.readManifest(dir, _).entries).getOrElse(Seq.empty)
      .filter(_.kind == "data") // MOR delete key-sets are not data files
      .sortBy(e => (e.bucket, e.path))
      .map(e => new GenericInternalRow(Array[Any](
        e.bucket, UTF8String.fromString(e.path), UTF8String.fromString(e.runId),
        e.turns, instant(e.minTs), instant(e.maxTs))))
  }

  private def tagRows(dir: String): Seq[InternalRow] =
    SnapshotTable.open(dir).tags.toSeq.sortBy(_._1).map { case (n, id) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(n), id))
    }

  private def branchRows(dir: String): Seq[InternalRow] =
    SnapshotTable.open(dir).branches.toSeq.sortBy(_._1).map { case (n, id) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(n), id))
    }
}

final class SnapshotMetaTable(name0: String, schema0: StructType,
    rowsFn: () => Seq[InternalRow]) extends Table with SupportsRead {

  override def name(): String = name0
  override def schema(): StructType = schema0
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        // computed at plan time: each query sees the manifests as of now
        val out = rowsFn().toArray
        new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = schema0
          override def description(): String = s"$name0 (driver-side manifest read)"
        }
      }
    }
}
