package graft.connector

import graft.table.{SnapshotTable, TableFormat}
import graft.table.SnapshotTable.BucketEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations for the snapshot
  * table — the face behind SQL `UPDATE`, `MERGE INTO`, and non-key
  * `DELETE FROM` (key-only deletes keep taking the cheaper metadata path
  * via `SupportsDelete`; Spark's `OptimizeMetadataOnlyDeleteFromTable`
  * folds them back automatically).
  *
  * The REPLACEMENT GROUP is a bucket: Spark reads every row of the
  * buckets that might contain matches (through [[SnapshotCowScan]]),
  * applies the assignments/merge actions, and the write commits the
  * rewritten rows as a snapshot that replaces EXACTLY the scanned
  * buckets — untouched buckets keep their existing file-sets
  * byte-identical, and the pre-operation snapshot stays time-travelable.
  *
  * Correctness invariant (the one thing a COW scan must get right): the
  * pushed command condition is used for BUCKET-granular pruning ONLY.
  * It must never reach the parquet reader as a row filter and never
  * prune file-sets WITHIN a kept bucket — the rewrite plan preserves the
  * non-matching rows of matched groups, so dropping any row of a scanned
  * bucket would silently delete it. We therefore scan all file-sets of
  * every kept bucket with zero pushed filters, and replace exactly the
  * bucket ids we scanned (read-set == replace-set by construction).
  *
  * Rows the operation routes to UNSCANNED buckets (a `MERGE … WHEN NOT
  * MATCHED THEN INSERT` landing in a bucket that had no matches) APPEND
  * alongside that bucket's existing entries — same manifest-merge rule as
  * the streaming sink; compaction folds them back to one file-set.
  *
  * Reference precedent: reprocess-one-conversation after a bad kernel
  * deploy is the first maintenance flow the prototype's operators reach
  * for (the respawn/reprocess loop in
  * `/root/reference/src/controller/cmnd9processer.py:30-43` re-runs
  * individual work items); here that flow is one SQL `UPDATE … WHERE
  * conv_id = …` rewriting one bucket crash-safely.
  */
final class SnapshotRowLevelOperation(dir: String, entries: Seq[BucketEntry],
    numBuckets: Int, tableSchema: StructType, physical: Map[String, String],
    cmd: RowLevelOperation.Command, private[connector] val baseSnapshotId: Long)
  extends RowLevelOperation {

  /** The scan instance Spark planned for this operation. Scan and write
    * come from the SAME operation instance (RowLevelOperationTable
    * delegates both), which is what lets the write's commit replace
    * exactly the buckets the scan read. */
  @volatile private[connector] var configuredScan: SnapshotCowScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-snapshot COW $cmd on $dir"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotCowScanBuilder(this, dir, entries, tableSchema, numBuckets, physical)

  /** The publish rule of the rewrite, checked at the driver commit before
    * anything is renamed. SERIALIZABLE-conflict guard (the Iceberg
    * validate-no-conflicting-commits analog): the rewrite was computed
    * against the snapshot this statement loaded; if anyone committed since,
    * replacing the scanned buckets would silently clobber their changes,
    * so the commit fails retryably instead. */
  private[connector] def replaceRule(dir: String, numBuckets: Int): PublishRule = {
    val scan = configuredScan
    if (scan == null || scan.scannedBuckets == null)
      throw new IllegalStateException(
        "graft-snapshot COW commit without a planned operation scan — the " +
          "row-level rewrite must read through the operation's own scan")
    val live = new SnapshotTable(dir, numBuckets).currentSnapshotId.getOrElse(-1L)
    if (live != baseSnapshotId)
      throw new SnapshotTable.CommitConflictException(
        s"concurrent commit on $dir: the row-level operation read snapshot " +
          s"$baseSnapshotId but CURRENT is now $live — re-run the statement")
    PublishRule(replaceExactly = Some(scan.scannedBuckets))
  }

  /** The replacement write: the shared [[SnapshotWrite]] shape
    * (clustered by bucket, sorted (bucket, conv_id, turn_idx) — the
    * catalog relation carries the `bucket` function), committing a
    * snapshot that swaps out exactly the scanned buckets. COW rewrites land
    * under the PHYSICAL column names too, or a rewritten bucket would fork
    * the file-level naming. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new SnapshotWrite(info.schema(), numBuckets,
        new SnapshotCowBatchWrite(SnapshotRowLevelOperation.this, dir, numBuckets,
          TableFormat.toPhysical(physical, info.schema()),
          s"cow-${cmd.toString.toLowerCase}-${info.queryId()}"))
    }
}

/** Accepts pushed filters and column pruning like the plain scan builder,
  * but everything stays residual AND row-invisible: filters only feed the
  * bucket-granular prune in the scan. */
final class SnapshotCowScanBuilder(op: SnapshotRowLevelOperation, dir: String,
    entries: Seq[BucketEntry], fullSchema: StructType, numBuckets: Int,
    physical: Map[String, String])
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: pruning is bucket-set-level, rows re-evaluated
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val scan = new SnapshotCowScan(dir, op.baseSnapshotId, entries, fullSchema,
      required, pushed, numBuckets, physical)
    op.configuredScan = scan
    scan
  }
}

/** The COW read: full rows of every file-set of every bucket that might
  * hold a matching row. Runtime group filtering (Spark's
  * RowLevelOperationRuntimeGroupFiltering) narrows the bucket set further
  * at execution for conditions that only resolve at runtime (MERGE
  * sources, subqueries) via the conv_id runtime filter. */
final class SnapshotCowScan(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
    dataSchema: StructType, required: StructType, pushed: Array[Filter],
    numBuckets: Int, physical: Map[String, String])
  extends Scan with Batch with SupportsRuntimeFiltering {

  private def spark = SparkSession.active

  private var runtimeFilters: Array[Filter] = Array.empty

  /** Bucket ids that MIGHT own a row matching the condition under the
    * current (static + runtime) filters — the groups this operation reads
    * and the write replaces: the buckets of the entries the manifest
    * pruning keeps ([[SnapshotRead.prune]]). It keeps an entry iff its
    * bucket could own a candidate conversation AND the entry overlaps the
    * ts range, so a bucket is excluded only when that holds for the whole
    * bucket, as bucket-granular replacement needs. */
  private def candidateBucketIds(filters: Array[Filter]): Set[Int] =
    SnapshotRead.prune(dir, numBuckets, entries, filters).map(_.bucket).toSet

  /** Final bucket set at execution time: recorded when Spark plans the
    * input partitions (after runtime group filtering has landed), read by
    * the write's commit. */
  @volatile private[connector] var scannedBuckets: Set[Int] = _

  private def keptEntries: Seq[BucketEntry] = {
    val ids = candidateBucketIds(pushed ++ runtimeFilters)
    entries.filter(e => ids(e.bucket))
  }

  override def filterAttributes(): Array[NamedReference] =
    SnapshotRead.runtimeFilterAttributes(required)

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String = {
    val ids = candidateBucketIds(pushed ++ runtimeFilters).toSeq.sorted
    s"graft-snapshot COW scan $dir buckets=${ids.mkString("[", ",", "]")} " +
      s"(bucket-granular pruning only; PushedFilters never row-filter)"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // MOR gate at EXECUTION time (analysis builds this scan eagerly for
    // every DELETE, even ones the metadata/MOR deleteWhere lane takes):
    // a COW rewrite over buckets with pending merge-on-read deletes
    // would re-materialize the deleted rows
    SnapshotRead.morGate(dir, snapshotId, entries, "run a copy-on-write row-level operation")
    val kept = keptEntries
    scannedBuckets = kept.map(_.bucket).toSet
    SnapshotRead.filePartitions(spark,
      SnapshotRead.listFiles(spark, dir, snapshotId, kept.map(_.path)).flatten)
  }

  /** NO pushed filters reach parquet: row groups of kept buckets must
    * surface every row (see class doc invariant). Built once per scan. */
  private lazy val readerFactory: PartitionReaderFactory =
    SnapshotRead.readerFactory(spark, physical, dataSchema, required, Array.empty)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** The COW write: the shared batch write, publishing under the
  * copy-on-write rule (replace exactly the scanned buckets) once
  * [[SnapshotRowLevelOperation.replaceRule]] has checked the table did not
  * move under the statement. */
final class SnapshotCowBatchWrite(op: SnapshotRowLevelOperation, dir: String,
    numBuckets: Int, schema: StructType, runId: String)
  extends SnapshotBatchWrite(dir, numBuckets, schema, runId, op.replaceRule(dir, numBuckets)) {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    SnapshotCowWriterFactory(super.createBatchWriterFactory(info), schema)
}

/** Spark 4.1 quirk guard (verified against ReplaceDataExec bytecode): for
  * a group-based operation with NO required metadata attributes, the plain
  * `DataWritingSparkTask` hands the writer the RAW ReplaceData query rows —
  * `[__row_operation int] ++ dataColumns` — even though
  * `LogicalWriteInfo.schema()` was the data schema alone; the
  * `projections.rowProjection` that would strip the marker is only applied
  * on the metadata path (`DataAndMetadataWritingSparkTask`), which is why
  * Iceberg's COW never sees this (it requires `_file` metadata). We keep
  * the operation metadata-free and strip the marker here with Spark's own
  * [[ProjectingInternalRow]], keyed off the row width so a future Spark
  * that projects for us degrades to a pass-through rather than a silent
  * column shift. Any other width is corruption — fail loudly. */
final case class SnapshotCowWriterFactory(base: DataWriterFactory,
    schema: StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner = base.createWriter(partitionId, taskId)
    val width = schema.length
    new DataWriter[InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(row: InternalRow): Unit =
        if (row.numFields == width) inner.write(row)
        else {
          if (proj == null) {
            require(row.numFields == width + 1,
              s"graft-snapshot COW writer expected $width data columns " +
                s"(or +1 leading __row_operation marker), got ${row.numFields}")
            proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
              schema, (1 to width).toIndexedSeq)
          }
          proj.project(row)
          inner.write(proj)
        }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
