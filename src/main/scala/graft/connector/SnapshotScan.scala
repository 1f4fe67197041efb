package graft.connector

import graft.table.{SnapshotTable, TableFormat}
import graft.table.SnapshotTable.BucketEntry
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition,
  FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  FilePartitionReaderFactory, PartitionReaderFromIterator}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/** One snapshot's entries as a read-only table, planned as [[SnapshotScan]]
  * by every face. `physical` maps the schema's names to those frozen in the
  * files (empty: the same names); `numBuckets` is the count of the entries'
  * manifest, which pushed conv_id filters hash with. */
final class SnapshotReadTable(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
    tableSchema: StructType, numBuckets: Int, physical: Map[String, String] = Map.empty)
  extends Table with SupportsRead {

  override def name(): String = dir
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(dir, snapshotId, entries, tableSchema, numBuckets, physical, options)
}

final class SnapshotScanBuilder(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
    fullSchema: StructType, numBuckets: Int, physical: Map[String, String],
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var countStarPushed = false

  /** COMPLETE aggregate pushdown for exactly `COUNT(*)` with no grouping
    * and no filters: the manifest's commit-time per-file-set row counts
    * answer it EXACTLY with zero data-file IO (the Iceberg
    * metadata-aggregate trick). Anything else — grouped, filtered (bucket/
    * row-group pruning is set-granular, so a residual filter makes manifest
    * counts an overcount), or any other function — is declined and planned
    * normally. Spark only offers aggregates when every filter was fully
    * handled, and we always keep filters residual, so the `pushed.isEmpty`
    * guard is belt and braces. */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushed.isEmpty && agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    countStarPushed = supportCompletePushDown(agg)
    countStarPushed
  }

  /** Accept every filter: all of them go to the parquet reader (row-group
    * min/max skipping) and the conv_id/ts ones additionally drive
    * manifest-level pruning in [[SnapshotScan]]. ALL are returned as
    * residual — pruning is file-set/row-group granular, so Spark must still
    * evaluate rows; reporting them in [[pushedFilters]] is what surfaces
    * `PushedFilters: […]` in explain. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    if (countStarPushed) new SnapshotCountScan(entries)
    else new SnapshotScan(dir, snapshotId, entries, fullSchema, required, pushed,
      numBuckets, physical, options)
}

/** The completely-pushed `COUNT(*)` scan: one partition, one row, straight
  * from the manifest's commit-time counts — no data file is opened. */
final class SnapshotCountScan(entries: Seq[BucketEntry])
  extends Scan with Batch {

  private val total: Long = entries.map(_.turns).sum

  override def readSchema(): StructType =
    new StructType().add("count_star", org.apache.spark.sql.types.LongType, nullable = false)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot COUNT(*) from manifest = $total (zero data-file IO)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotCountPartition(total))
  override def createReaderFactory(): PartitionReaderFactory = SnapshotCountReaderFactory
}

final case class SnapshotCountPartition(total: Long) extends InputPartition

case object SnapshotCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReaderFromIterator(Iterator.single(
      InternalRow(partition.asInstanceOf[SnapshotCountPartition].total)))
}

/** The shared read machinery: manifest pruning from pushed filters, file
  * listing, Spark's split packing, and the parquet reader factory — used
  * identically by the batch scan, the COW scan and the micro-batch stream
  * (the stream just swaps WHICH manifest entries feed it: a snapshot-delta
  * instead of one snapshot's full set), and by the library through
  * [[frame]]. */
private[graft] object SnapshotRead {

  /** The merge-on-read gate of the V2 faces: they cannot apply pending
    * delete key-sets, so a snapshot that holds any refuses `surface`. */
  def morGate(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
      surface: String): Unit =
    if (entries.exists(_.kind == "delete"))
      throw new IllegalStateException(
        s"snapshot $snapshotId of $dir has pending merge-on-read deletes — " +
          s"cannot $surface; fold them first (SnapshotTable.compact / " +
          "CALL graft.system.compact) or go through the library API " +
          "(SnapshotTable.read applies them)")

  /** Manifest-level pruning: intersect the conv_id value sets demanded by
    * equality/IN filters and keep a file-set iff it could own one of those
    * conversations — hashed with `numBuckets`, the count of THE MANIFEST
    * THE ENTRIES CAME FROM, so entries of a snapshot before a rebucket
    * (reachable via time travel or an allowReplaced stream crossing the
    * rewrite) prune correctly under their own layout. ts predicates drop
    * file-sets whose interval cannot overlap ([[BucketEntry.overlaps]]).
    * Unknown/other filters prune nothing (they still reach parquet +
    * Spark's residual evaluation). */
  def prune(dir: String, numBuckets: Int, entries: Seq[BucketEntry],
      pushed: Array[Filter]): Seq[BucketEntry] = {
    val layout = new SnapshotTable(dir, numBuckets)
    val keepConvs = pushed.toSeq.flatMap(convSet).reduceOption(_ intersect _)
    def ownsSome(e: BucketEntry): Boolean =
      keepConvs.forall(_.exists(c => layout.bucketOfId(c) == e.bucket))
    var lo = Long.MinValue
    var hi = Long.MaxValue
    pushed.foreach {
      case GreaterThan(a, v) if a.equalsIgnoreCase("ts") =>
        filterMs(v).foreach(m => lo = math.max(lo, m))
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        filterMs(v).foreach(m => lo = math.max(lo, m))
      case LessThan(a, v) if a.equalsIgnoreCase("ts") =>
        filterMs(v).foreach(m => hi = math.min(hi, m))
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        filterMs(v).foreach(m => hi = math.min(hi, m))
      case _ => ()
    }
    entries.filter(e => ownsSome(e) && e.overlaps(lo, hi))
  }

  /** The conversations an equality/IN filter on conv_id admits. */
  def convSet(f: Filter): Option[Set[String]] = f match {
    case EqualTo(a, v: String) if a.equalsIgnoreCase("conv_id")       => Some(Set(v))
    case EqualNullSafe(a, v: String) if a.equalsIgnoreCase("conv_id") => Some(Set(v))
    case In(a, vs) if a.equalsIgnoreCase("conv_id") &&
        vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      Some(vs.map(_.asInstanceOf[String]).toSet)
    case _ => None
  }

  /** Epoch ms of a pushed filter's timestamp literal. */
  def filterMs(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant  => Some(i.toEpochMilli)
    case _                     => None
  }

  /** The file-set delta (from, to] of an incremental read, a micro-batch
    * and `SnapshotTable.readChanges`: `added` = the file-sets `to` lists
    * that `from` (-1: none) does not, `rewritten` = those `from` lists that
    * `to` no longer does (compact/replaceWhere/delete). */
  final case class Delta(added: Seq[BucketEntry], rewritten: Seq[BucketEntry]) {
    /** New merge-on-read delete key-sets: they shrink their bucket's
      * content without removing a path. */
    def morDeleted: Seq[BucketEntry] = added.filter(_.kind == "delete")
  }

  /** The one append-only delta rule. Only the two endpoint manifests are
    * consulted (intermediate snapshots may already be expired). A delta
    * with rewritten or MOR-deleted buckets is not an append and fails the
    * read, naming the buckets, unless the caller opted into at-least-once
    * redelivery of them. */
  def delta(dir: String, from: Long, to: Long, toEntries: Seq[BucketEntry],
      allowReplaced: Boolean): Delta = {
    val fromEntries =
      if (from < 0) Seq.empty[BucketEntry] else TableFormat.readManifest(dir, from).entries
    val fromPaths = fromEntries.map(_.path).toSet
    val toPaths = toEntries.map(_.path).toSet
    val d = Delta(toEntries.filterNot(e => fromPaths(e.path)),
      fromEntries.filterNot(e => toPaths(e.path)))
    val broken = d.rewritten ++ d.morDeleted
    if (broken.nonEmpty && !allowReplaced)
      throw new IllegalStateException(
        s"snapshots $from → $to are not append-only: " +
          s"bucket(s) ${broken.map(_.bucket).distinct.sorted.mkString(",")} " +
          "were rewritten or MOR-deleted (compact/replaceWhere/delete) in " +
          "between. Pass allowReplaced=true (the allowReplaced option on the " +
          "connector) to accept at-least-once redelivery of those buckets.")
    d
  }

  /** The one listing of manifest file-sets, for every read face (the
    * scan, the COW scan, the micro-batch stream): one
    * `listStatus` per path on the driver, no Spark job, one result per path
    * in order. A path the manifest of `snapshotId` lists but the file
    * system no longer holds fails the read, naming both: skipping it would
    * return fewer rows with no error. */
  def listFiles(spark: SparkSession, dir: String, snapshotId: Long,
      paths: Seq[String]): Seq[Seq[FileStatus]] = {
    val hconf = spark.sessionState.newHadoopConf()
    paths.map { path =>
      val p = new HPath(path)
      val listed =
        try p.getFileSystem(hconf).listStatus(p)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"snapshot $snapshotId of $dir lists file-set $path, which does " +
                "not exist: it was deleted outside the table's own maintenance", e)
        }
      listed.toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    }
  }

  /** A library read: the scan over `entries`, under `schema` as the files
    * name it, with no merge-on-read gate (the library applies deletes
    * itself), planned ungrouped — a library frame offers no
    * storage-partitioned join to pay a bucket per task for. */
  def frame(spark: SparkSession, dir: String, snapshotId: Long, numBuckets: Int,
      entries: Seq[BucketEntry], schema: StructType): DataFrame =
    new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(
        new SnapshotReadTable(dir, snapshotId, entries, schema, numBuckets), None, None,
        new CaseInsensitiveStringMap(Map("groupByBucket" -> "false").asJava)),
      ExpressionEncoder(schema))

  /** The schema of file-sets whose manifest schema is missing or does not
    * parse, inferred from a parquet footer and put through the manifest's
    * DDL form, which makes every field nullable as `spark.read.parquet`
    * does. */
  def footerSchema(spark: SparkSession, dir: String, snapshotId: Long,
      paths: Seq[String]): StructType =
    new ParquetFileFormat().inferSchema(spark, Map.empty,
      listFiles(spark, dir, snapshotId, paths).flatten)
      .map(s => SnapshotTable.parseSchema(TableFormat.schemaDdl(s)).getOrElse(s))
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapshotId of $dir: no schema recorded and no parquet " +
          s"file to infer one from under ${paths.mkString(", ")}"))

  /** Files packed as Spark's file source packs them: split at
    * `FilePartition.maxSplitBytes`, largest first, into [[FilePartition]]s. */
  def filePartitions(spark: SparkSession, files: Seq[FileStatus]): Array[InputPartition] = {
    val listed = files.map(FileStatusWithMetadata(_))
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, listed)))
    val splits = listed.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
      isSplitable = true, maxSplit, InternalRow.empty)).sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray
  }

  /** A scan's runtime-filter attribute: conv_id, only if the scan reads it
    * (Spark resolves it against the pruned output). */
  def runtimeFilterAttributes(schema: StructType): Array[NamedReference] =
    schema.fieldNames.filter(_.equalsIgnoreCase("conv_id")).map(Expressions.column)

  /** The one reader construction of every scan face (batch, COW,
    * micro-batch): Spark's parquet reader over the pruned schema and pushed
    * filters, returning columnar batches whenever its vectorized reader can.
    * `physical` renames the scan's columns to those frozen in the files;
    * rows and batches are positional, so the scan keeps its own names. Each
    * call broadcasts the Hadoop conf: a scan builds its factory once. */
  def readerFactory(spark: SparkSession, physical: Map[String, String],
      dataSchema: StructType, required: StructType,
      pushed: Array[Filter]): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat
    val read = TableFormat.toPhysical(physical, required)
    val columnar = fmt.supportBatch(spark, read)
    SnapshotReaderFactory(fmt.buildReaderWithPartitionValues(spark,
      TableFormat.toPhysical(physical, dataSchema), new StructType(), read,
      // filters name the scan's columns: after a rename they stay residual
      if (physical.forall { case (l, p) => l == p }) pushed.toSeq else Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      spark.sessionState.newHadoopConfWithOptions(Map.empty)), columnar)
  }
}

final class SnapshotScan(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
    dataSchema: StructType, required: StructType, pushed: Array[Filter],
    numBuckets: Int, physical: Map[String, String], options: CaseInsensitiveStringMap)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
  with SupportsReportPartitioning {

  private def spark = SparkSession.active

  /** Runtime filtering (the dynamic-partition-pruning analog for this
    * source): when the planner derives a conv_id set at execution time —
    * e.g. the broadcast side of a join produced the conversations worth
    * scanning — the late filters re-prune the manifest entries before
    * planInputPartitions runs. Pruning stays set-granular and the filters
    * stay residual, so this only SHRINKS IO, never changes results. */
  private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    SnapshotRead.runtimeFilterAttributes(required)
  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    // re-prune under the late filters
    cachedKept = null; cachedListing = null; cachedPartitions = null
  }

  // prune, listing and packing cached per runtime-filter state: description
  // / estimateStatistics / planInputPartitions may each be called several
  // times during planning, and re-listing every kept file-set per call is
  // repeated driver-side FS IO at manifest scale
  @volatile private var cachedKept: Seq[BucketEntry] = _
  @volatile private var cachedListing: Seq[Seq[FileStatus]] = _
  @volatile private var cachedPartitions: Array[InputPartition] = _

  private[graft] def keptEntries: Seq[BucketEntry] = {
    if (cachedKept == null)
      cachedKept = SnapshotRead.prune(dir, numBuckets, entries, pushed ++ runtimeFilters)
    cachedKept
  }

  /** The kept entries' files, one listing per entry, in entry order. */
  private def listing: Seq[Seq[FileStatus]] = {
    if (cachedListing == null)
      cachedListing = SnapshotRead.listFiles(spark, dir, snapshotId, keptEntries.map(_.path))
    cachedListing
  }

  private def fileStatuses: Seq[FileStatus] = listing.flatten

  /** The files this scan reads, as `Dataset.inputFiles` names them. */
  private[graft] def inputFiles: Seq[String] = fileStatuses.map(_.getPath.toUri.toString)

  override def readSchema(): StructType = required

  override def description(): String = {
    val bs = keptEntries.map(_.bucket).distinct.sorted
    s"graft-snapshot $dir buckets=${bs.mkString("[", ",", "]")} " +
      s"filesets=${keptEntries.size}/${entries.size} " +
      s"PushedFilters=${pushed.mkString("[", ", ", "]")}"
  }

  override def toBatch: Batch = this

  /** Post-pruning stats straight from the manifest (rows) + listing
    * (bytes): exact pre-residual-filter, so the planner can e.g. decide a
    * broadcast from real numbers instead of a whole-table size guess. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(fileStatuses.map(_.getLen).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(keptEntries.map(_.turns).sum)
  }

  /** Bucket-grouped planning (storage-partitioned-join mode): one
    * InputPartition per bucket, keyed by the bucket id, matching the
    * reported `KeyGroupedPartitioning(bucket(n, conv_id))`. The default is
    * `spark.sql.sources.v2.bucketing.enabled`, which Spark 4.1 turns ON
    * unless a session sets it off — so a V2-face read trades split-level
    * parallelism (a bucket is one task) for shuffle-free conv_id joins in
    * every default session. Override per read with
    * option("groupByBucket", …); the library's reads pass false
    * ([[SnapshotRead.frame]]). Captured lazily so the partition layout
    * reported at planning cannot drift afterwards (runtime filters keep
    * shrinking IO in ungrouped mode only). */
  private lazy val groupByBucket: Boolean =
    Option(options.get("groupByBucket")).map(_.trim.toBoolean).getOrElse(
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled").exists(_.toBoolean))

  private lazy val bucketPartitions: Array[InputPartition] =
    keptEntries.map(_.bucket).zip(listing).groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (b, listed) =>
        val files = listed.flatten.map { st =>
          PartitionedFileUtil.getPartitionedFile(FileStatusWithMetadata(st), st.getPath,
            InternalRow.empty, 0L, st.getLen)
        }
        new SnapshotBucketPartition(b, files.toArray): InputPartition
      }.toArray

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (groupByBucket)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(numBuckets, "conv_id")),
        bucketPartitions.length)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  override def planInputPartitions(): Array[InputPartition] =
    if (groupByBucket) bucketPartitions
    else {
      if (cachedPartitions == null)
        cachedPartitions = SnapshotRead.filePartitions(spark, fileStatuses)
      cachedPartitions
    }

  // built once per scan: Spark asks for the factory more than once per read
  private lazy val readerFactory: PartitionReaderFactory =
    SnapshotRead.readerFactory(spark, physical, dataSchema, required, pushed)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Structured-streaming face (the Iceberg incremental-append-scan analog
    * as a real `readStream` source): each micro-batch is the file-set DELTA
    * between the last processed snapshot and the table's live snapshot —
    * offsets ARE snapshot ids, so exactly-once restart costs two manifest
    * reads and zero data-file listing of already-processed history.
    * `startSnapshotId` skips history (set it to the current id for
    * new-commits-only); `allowReplaced=true` opts into at-least-once
    * delivery of rewritten buckets (compaction/replaceWhere), mirroring
    * `SnapshotTable.readChanges`. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val startId = Option(options.get("startSnapshotId")).map(_.trim.toLong).getOrElse(-1L)
    val allowReplaced = Option(options.get("allowReplaced")).exists(_.trim.toBoolean)
    new SnapshotMicroBatchStream(dir, dataSchema, required,
      pushed, startId, allowReplaced, physical)
  }
}

/** One whole bucket as one partition, keyed by its bucket id — the shape
  * `KeyGroupedPartitioning` requires for storage-partitioned joins. */
final class SnapshotBucketPartition(bucket: Int, files: Array[PartitionedFile])
  extends FilePartition(bucket, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(index)
}

/** Reads a [[FilePartition]] file by file through the parquet reader
  * function; the batches of a columnar read come out of it as rows
  * do, as in Spark's own file scan. */
final case class SnapshotReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow], columnar: Boolean)
  extends FilePartitionReaderFactory {

  override def options: FileSourceOptions = new FileSourceOptions(CaseInsensitiveMap(Map.empty))
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] =
    new PartitionReaderFromIterator(readFunc(file))
  override def buildColumnarReader(file: PartitionedFile): PartitionReader[ColumnarBatch] =
    new PartitionReaderFromIterator(readFunc(file).asInstanceOf[Iterator[ColumnarBatch]])
}
