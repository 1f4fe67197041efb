package graft.connector

import graft.table.{Refs, SnapshotTable, TableFormat}
import graft.table.SnapshotTable.BucketEntry
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/** DataSource V2 connector for [[graft.table.SnapshotTable]] — the
  * Iceberg-connector analog for our snapshot format, so the table is a
  * first-class Spark source instead of a library call:
  *
  * {{{
  *   spark.read.format("graft-snapshot").load(dir)                  // live
  *   spark.read.format("graft-snapshot")
  *     .option("snapshotId", "3").load(dir)                         // time travel
  * }}}
  *
  * Both faces plan from the manifest, which they resolve and parse through
  * [[TableFormat]] (the bucket count by its one rule), and list its
  * file-sets through [[SnapshotRead.listFiles]]; `SnapshotTable.read`
  * hands the listed files to Spark's own parquet relation
  * ([[SnapshotRead.parquetRelation]]). What the connector adds over it:
  *
  *  - '''Planning-time pruning from the manifest, driven by pushed
  *    filters.''' `conv_id = x` / `conv_id IN (…)` prunes to the owning
  *    hash bucket(s) (the conv_id-bucketed layout's point-read path), and
  *    `ts` range predicates prune whole file-sets via the per-entry
  *    min/max ts stats the commit recorded — at 100 TB this is Iceberg's
  *    core trick: metadata, not data, decides what gets scanned.
  *  - '''Column pruning + parquet row-group pushdown.''' The pruned
  *    required schema and the pushed filters reach the parquet reader
  *    (`ParquetFileFormat.buildReaderWithPartitionValues`), so the scan
  *    reads only requested columns and skips row groups by min/max. All
  *    filters are also returned as residual — file/row-group pruning is
  *    set-level, Spark re-evaluates rows — so correctness never depends
  *    on the pruning.
  *  - '''Manifest statistics to the planner''' (`SupportsReportStatistics`):
  *    post-pruning row counts from the commit-time accumulators and byte
  *    sizes from the file listing, so joins against a pruned snapshot read
  *    can broadcast without a size guess.
  *
  * Reference precedent: the prototype's readers hide storage layout behind
  * one loader face (`/root/reference/src/controller/common.py:30-49`); here
  * that face is Spark's own source API, which is what makes the table
  * usable from SQL (`CREATE TABLE … USING graft-snapshot`), not just Scala.
  */
final class SnapshotSource extends TableProvider with DataSourceRegister
  with StreamSinkProvider {

  override def shortName(): String = "graft-snapshot"

  private def dirOf(options: CaseInsensitiveStringMap): String = {
    val d = Option(options.get("path")).getOrElse(
      sys.error("graft-snapshot needs a path: spark.read.format(\"graft-snapshot\").load(dir)"))
    d
  }

  private def loadTable(options: CaseInsensitiveStringMap,
      externalSchema: Option[StructType] = None): SnapshotV2Table = {
    val dir = dirOf(options)
    // `option("branch", name)` reads the branch head — sugar for time
    // travel to the pointer's snapshot id (explicit snapshotId wins)
    val branchOpt = Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)
      .map(name => new Refs(dir).read(Refs.Branch(name))
        .getOrElse(sys.error(s"no branch '$name' in $dir")))
    // a table never committed resolves to snapshot -1 with no entries: a
    // brand-new table (first commit creates snapshot 0) whose bucket count
    // comes from CREATE TABLE metadata or the writer's option
    val snap = TableFormat.resolve(dir,
      Option(options.get("snapshotId")).map(_.trim.toLong).orElse(branchOpt))
    val (snapId, full) = (snap.snapshotId, snap.entries)
    // INCREMENTAL BATCH READ (the Iceberg incremental-append-scan as a
    // batch option): `.option("changesFrom", N)` scopes the table to
    // the file-set delta (N, snapId] — a daily downstream job reads
    // only what landed since the snapshot it last processed, costing
    // two manifest reads and zero listing of processed history.
    // `.option("snapshotId", M)` doubles as the inclusive upper end;
    // `allowReplaced=true` opts into at-least-once redelivery of
    // rewritten buckets, mirroring readChanges/the streaming face.
    val changesFrom = Option(options.get("changesFrom")).map(_.trim.toLong)
      .filter(_ => snapId >= 0)
    // the delta's buckets keep their pending deletes (a key-set committed
    // before N still kills re-added rows): the scan refuses, as a full read
    val entries = changesFrom.fold(full) { from =>
      val added = SnapshotRead.delta(dir, from, snapId, full,
        Option(options.get("allowReplaced")).exists(_.trim.toBoolean)).added
      val buckets = added.map(_.bucket).toSet
      added ++ full.filter(e => e.kind == "delete" && buckets(e.bucket) && !added.contains(e))
    }
    // a delta read whose delta is EMPTY still needs the table's
    // schema: fall back to the full snapshot's widest entry schema
    val deltaSchemaFallback =
      if (changesFrom.isDefined)
        SnapshotTable.widestSchema(full.map(_.schema)).flatMap(SnapshotTable.parseSchema)
      else None
    new SnapshotV2Table(dir, snapId, entries, numBuckets(snap, options),
      externalSchema.orElse(deltaSchemaFallback).orElse(snap.meta.map(_.structType)),
      preferExternalSuperset =
        Option(options.get("snapshotId")).isEmpty && branchOpt.isEmpty)
  }

  /** THE bucket-count rule, then the `numBuckets` option of a table that
    * records none, then 16. */
  private def numBuckets(snap: TableFormat.Resolved, options: CaseInsensitiveStringMap): Int =
    snap.numBuckets.getOrElse(Option(options.get("numBuckets")).map(_.trim.toInt).getOrElse(16))

  /** A caller-supplied schema (e.g. the dataframe being written to a
    * brand-new path) is accepted — the format tracks schema per commit,
    * ExtractedTurn is only the fallback for schemaless empty tables. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    loadTable(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    loadTable(new CaseInsensitiveStringMap(properties),
      Option(schema).filter(_.fields.nonEmpty))

  /** `writeStream.format("graft-snapshot").start(dir)`: the table declares
    * no STREAMING_WRITE, so Spark asks for this V1 sink. Each micro-batch,
    * as a static frame over its rows, is appended once through the library
    * writer ([[SnapshotWriterUtil.appendBatch]]) behind the batch append's
    * merge-on-read gate. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val options = new CaseInsensitiveStringMap(parameters.asJava)
    val dir = dirOf(options)
    (batchId: Long, data: DataFrame) => {
      val snap = TableFormat.resolve(dir, None)
      SnapshotRead.morGate(dir, snap.snapshotId, snap.entries,
        "append (a re-inserted key would be re-killed by the pending delete)")
      val spark = data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val qe = data.queryExecution
      val rows = new org.apache.spark.sql.classic.Dataset[Row](spark,
        LogicalRDD(qe.analyzed.output, qe.toRdd)(spark), ExpressionEncoder(data.schema))
      SnapshotWriterUtil.appendBatch(SnapshotWriterUtil.physical(rows, dir), dir,
        numBuckets(snap, options), batchId)
      ()
    }
  }
}

final class SnapshotV2Table(dir: String, snapshotId: Long,
    entries: Seq[BucketEntry], numBuckets: Int,
    externalSchema: Option[StructType] = None,
    preferExternalSuperset: Boolean = false)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  // MERGE-ON-READ gate: the V2 scan maps file-sets straight onto Spark's
  // parquet reader and cannot apply pending delete key-sets — serving a
  // scan anyway would silently resurrect MOR-deleted rows; a COW
  // row-level op built on such a scan would re-materialize them; and an
  // APPEND that re-inserts a deleted key would be killed by the pending
  // key on read (this table has no Iceberg sequence numbers — deletes
  // apply to everything). Refuse at every scan/write surface (the
  // Iceberg format-version posture: a reader below the table's
  // capability must not guess) — but NOT at table resolution, so the
  // metadata-only faces keep working: repeated SQL MOR deletes
  // (SupportsDelete.deleteWhere never scans), CALL procedures,
  // metadata tables.
  private def morGate(surface: String): Unit =
    SnapshotRead.morGate(dir, snapshotId, entries, surface)

  /** SQL `UPDATE` / `MERGE INTO` / non-key `DELETE`: group-based
    * copy-on-write over buckets ([[SnapshotRowLevelOperation]]).
    * Key-only deletes still collapse to the metadata path below —
    * Spark's OptimizeMetadataOnlyDeleteFromTable prefers `deleteWhere`
    * whenever [[canDeleteWhere]] accepts the whole condition. */
  // NOTE: no morGate here — Spark's RewriteDeleteFromTable builds the
  // row-level operation EAGERLY during analysis for every DELETE, before
  // OptimizeMetadataOnlyDeleteFromTable can swap in the metadata/MOR
  // deleteWhere lane; the gate fires at COW scan EXECUTION instead
  // (SnapshotCowScan.planInputPartitions)
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo): org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new SnapshotRowLevelOperation(dir, entries, numBuckets, schema(),
      info.command(), baseSnapshotId = snapshotId)

  // plain name only: Spark's AttributeNameParser parses table names in
  // some write plans (OverwriteByExpression), and backticks break it
  override def name(): String = dir

  /** SQL `DELETE FROM graft.t WHERE …` metadata paths, accepted exactly
    * when the predicate can be satisfied without touching data:
    *
    *  - '''conv_id equality/IN''' (the table key): maps to the library's
    *    bucket-targeted [[SnapshotTable.deleteConversations]], which
    *    rewrites ONLY the owning buckets crash-safely.
    *  - '''ts range''' (retention age-off, `DELETE … WHERE ts < cutoff`):
    *    accepted iff the manifest's per-file-set ts stats PROVE every
    *    live file-set either fully inside the range (dropped from the
    *    manifest — zero data IO, the Iceberg metadata-delete analog; at
    *    100 TB aging off a month of data must be a manifest edit, not a
    *    rewrite) or fully outside (kept untouched). The proof is
    *    conservative under the manifest's second-granular ts flooring,
    *    and an entry whose minTs folded to the epoch (a possible null-ts
    *    row, which SQL semantics KEEP under `ts < x`) always declines.
    *
    * Anything unprovable is declined — Spark then runs the same DELETE as
    * a copy-on-write group rewrite ([[SnapshotRowLevelOperation]]), so
    * declining costs correctness nothing, only IO. */
  /** `SET spark.graft.delete.mode = merge-on-read` routes SQL DELETEs
    * whose predicate the translator below can express to
    * [[SnapshotTable.deleteWhereMor]] (keys only, no bucket rewrite) —
    * the Iceberg `write.delete.mode = merge-on-read` analog. The cheaper
    * lanes still win first: conv-id key sets and fully-covered ts ranges
    * stay metadata-only in every mode; untranslatable predicates fall
    * back to the group-based copy-on-write row-level operation. */
  private def morDeleteEnabled: Boolean =
    SparkSession.active.conf
      .getOption("spark.graft.delete.mode").map(_.trim.toLowerCase)
      .exists(m => m == "merge-on-read" || m == "mor")

  /** V1 Filter → Column for the MOR delete lane; None on any node the
    * subset doesn't cover (conservative — COW handles the rest). */
  private def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case And(l, r) => for { a <- filterColumn(l); b <- filterColumn(r) } yield a && b
      case Or(l, r)  => for { a <- filterColumn(l); b <- filterColumn(r) } yield a || b
      case Not(c)    => filterColumn(c).map(!_)
      case _         => None
    }
  }

  private def morDeleteColumn(filters: Array[Filter]): Option[org.apache.spark.sql.Column] =
    if (!morDeleteEnabled || filters.isEmpty) None
    else filters.toSeq.map(filterColumn).reduce((a, b) =>
      for { x <- a; y <- b } yield x && y)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    convDeleteSets(filters).isDefined || tsDeleteCoverage(filters).isDefined ||
      morDeleteColumn(filters).isDefined

  private def convDeleteSets(filters: Array[Filter]): Option[Seq[Set[String]]] = {
    val sets = filters.toSeq.map(SnapshotRead.convSet)
    if (filters.nonEmpty && sets.forall(_.isDefined)) Some(sets.flatten) else None
  }

  /** The delete range as conservative [lo, hi] ms bounds, and the live
    * entries it fully covers — `None` when any conjunct is not a ts
    * comparison, or any live file-set straddles the range boundary. */
  private def tsDeleteCoverage(filters: Array[Filter]): Option[Seq[BucketEntry]] = {
    // conservative range: lo is the largest lower bound we must EXCEED
    // (strictly, so GreaterThanOrEqual maps to lo = X - 1ms… avoided by
    // tracking bounds as "delete iff minTs >= loMin and maxTs <= hiMax"
    // with the manifest's widened stats — see entry tests below)
    var loMin = Long.MinValue // fully-in requires entry.minTsMs >= loMin
    var loOut = Long.MinValue // fully-out-below requires entry.maxTsMs <= loOut
    var hiMax = Long.MaxValue // fully-in requires entry.maxTsMs <= hiMax
    var hiOut = Long.MaxValue // fully-out-above requires entry.minTsMs >= hiOut… strictly >
    var bounded = false
    var ok = filters.nonEmpty
    filters.foreach {
      case LessThan(a, v) if a.equalsIgnoreCase("ts") =>
        SnapshotRead.filterMs(v) match { case Some(m) => bounded = true; hiMax = math.min(hiMax, m); hiOut = math.min(hiOut, m); case None => ok = false }
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        // inclusive upper: widened maxTs (floor+1s) <= X still proves
        // trueMax < X <= X, so the same conservative test applies
        SnapshotRead.filterMs(v) match { case Some(m) => bounded = true; hiMax = math.min(hiMax, m); hiOut = math.min(hiOut, m); case None => ok = false }
      case GreaterThan(a, v) if a.equalsIgnoreCase("ts") =>
        // exclusive lower: recorded minTs (floor <= trueMin) must be > X
        SnapshotRead.filterMs(v) match { case Some(m) => bounded = true; loMin = math.max(loMin, m + 1); loOut = math.max(loOut, m); case None => ok = false }
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        SnapshotRead.filterMs(v) match { case Some(m) => bounded = true; loMin = math.max(loMin, m); loOut = math.max(loOut, m); case None => ok = false }
      case IsNotNull(a) if a.equalsIgnoreCase("ts") => () // no-op conjunct
      case _ => ok = false
    }
    if (!ok || !bounded) return None
    val curOpt = new SnapshotTable(dir, numBuckets).currentSnapshotId
    if (curOpt.isEmpty) return None
    val live = TableFormat.readManifest(dir, curOpt.get).entries
    // entry stats: minTsMs = floor(trueMin) <= trueMin;
    //             maxTsMs = floor(trueMax)+1s > trueMax (widened)
    def fullyIn(e: BucketEntry): Boolean =
      e.minTsMs > 0 && e.minTsMs >= loMin && e.maxTsMs <= hiMax
    def fullyOut(e: BucketEntry): Boolean =
      e.maxTsMs <= loOut || e.minTsMs > hiOut
    if (live.forall(e => fullyIn(e) || fullyOut(e)))
      Some(live.filter(fullyIn))
    else None
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val table = new SnapshotTable(dir, numBuckets)
    convDeleteSets(filters) match {
      case Some(sets) =>
        val convs = sets.reduce(_ intersect _).toSeq.sorted
        if (convs.isEmpty) return
        // deleting conversations that don't exist is a no-op, not an error
        val committed = table.committedBuckets(spark)
        val present = convs.filter(c => committed(table.bucketOfId(c)))
        if (present.isEmpty) return
        val runId = s"delete-$snapshotId-${math.abs(present.mkString(",").hashCode)}"
        table.deleteConversations(spark, present, runId)
        ()
      case None =>
        // ts-retention metadata path (canDeleteWhere proved coverage; the
        // manifest may have moved since — a coverage recheck keeps the
        // proof and the commit on the same snapshot)
        tsDeleteCoverage(filters) match {
          case Some(covered) =>
            if (covered.isEmpty) return // nothing in range: no-op
            table.commitEntries(spark, Seq.empty, replaceBuckets = false,
              dropPaths = covered.map(_.path).toSet)
            ()
          case None =>
            // merge-on-read lane (opted in by spark.graft.delete.mode)
            val cond = morDeleteColumn(filters).getOrElse(
              throw new IllegalStateException(
                "graft-snapshot: delete predicate no longer provable — " +
                  "the manifest changed between planning and execution; retry"))
            val runId = s"delete-mor-$snapshotId-" +
              math.abs(filters.map(_.toString).mkString(";").hashCode)
            table.deleteWhereMor(spark, cond, runId)
            ()
        }
    }
  }

  override def schema(): StructType = {
    // COLUMN-MAPPED table (a rename/drop happened at some point): the
    // CURRENT logical schema of the table metadata is authoritative for
    // every read, time travel included — entries carry PHYSICAL names and
    // may, post-drop, be only union-compatible; the reader resolves parquet
    // columns by physical name per file (missing → null), so an old
    // snapshot surfaces exactly its own data under today's names.
    TableFormat.readMeta(dir).filter(_.mapping.isDefined)
      .foreach(m => return m.structType)
    // additive evolution: a snapshot can mix old and appended-column
    // file-sets — resolve the WIDEST (old files read null-filled)
    // a DDL that does not parse (a name an older writer left unquoted) is
    // read from the footers, as the library face reads it
    val fromEntries = SnapshotTable.widestSchema(entries.map(_.schema))
      .orElse(entries.find(_.schema.nonEmpty).map(_.schema)) // legacy mix
      .map(d => SnapshotTable.parseSchema(d).getOrElse {
        val paths = entries.filter(_.kind == "data").map(_.path)
        val spark = SparkSession.active
        SnapshotRead.footerSchema(spark, dir, snapshotId, paths,
          SnapshotRead.listFiles(spark, dir, snapshotId, paths).flatten)
      })
    val resolved = fromEntries.orElse(externalSchema)
      .getOrElse(org.apache.spark.sql.Encoders.product[graft.model.ExtractedTurn].schema)
    // a LIVE table whose CREATE/ALTER metadata extends the data's schema
    // (ALTER TABLE ADD COLUMNS before the first evolved write) surfaces
    // the evolved shape; time-travel loads keep their snapshot's schema
    externalSchema match {
      case Some(ext) if preferExternalSuperset && fromEntries.isDefined &&
          ext.length > resolved.length &&
          SnapshotTable.prefixCompatible(TableFormat.schemaDdl(resolved), TableFormat.schemaDdl(ext)) => ext
      case _ => resolved
    }
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** The physical layout as V2 metadata: resolved against the catalog's
    * `bucket` function, this is what lets two snapshot tables prove they
    * are co-partitioned (storage-partitioned join). */
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(numBuckets, "conv_id"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    morGate("scan")
    new SnapshotScanBuilder(dir, snapshotId, entries, schema(), numBuckets, options)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    morGate("append (a re-inserted key would be re-killed by the pending delete)")
    new SnapshotWriteBuilder(dir, numBuckets, info)
  }
}

final class SnapshotScanBuilder(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
    fullSchema: StructType, numBuckets: Int, options: CaseInsensitiveStringMap)
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
      numBuckets, options)
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
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val total = partition.asInstanceOf[SnapshotCountPartition].total
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](total))
      override def close(): Unit = ()
    }
  }
}

/** The shared read machinery: manifest pruning from pushed filters, file
  * listing, FilePartition-style split packing, and the parquet reader
  * factory — used identically by the batch scan and the micro-batch
  * stream (the stream just swaps WHICH manifest entries feed it: a
  * snapshot-delta instead of one snapshot's full set). */
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
    * library's relation, the V2 and COW scans, the micro-batch stream): one
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

  /** The library's read of manifest file-sets: Spark's own parquet
    * relation (vectorized `FileSourceScanExec`, pushed filters, the same
    * `inputFiles`) over a [[ManifestFileIndex]] of the listed files, so
    * there is no partition discovery and no listing job however many
    * file-sets a snapshot holds. `schema` is the manifest's; None (legacy
    * entries that recorded none) infers it from a footer, as
    * `spark.read.parquet` does. */
  def parquetRelation(spark: SparkSession, dir: String, snapshotId: Long,
      paths: Seq[String], schema: Option[StructType]): DataFrame = {
    val files = listFiles(spark, dir, snapshotId, paths).flatten
    val dataSchema = schema.getOrElse(footerSchema(spark, dir, snapshotId, paths, files))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      ManifestFileIndex(paths.map(new HPath(_)), files), new StructType(),
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The schema of file-sets whose manifest schema is missing or does not
    * parse, inferred from a parquet footer and put through the manifest's
    * DDL form, which makes every field nullable as `spark.read.parquet`
    * does. */
  def footerSchema(spark: SparkSession, dir: String, snapshotId: Long,
      paths: Seq[String], files: Seq[FileStatus]): StructType =
    new ParquetFileFormat().inferSchema(spark, Map.empty, files)
      .map(s => SnapshotTable.parseSchema(TableFormat.schemaDdl(s)).getOrElse(s))
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapshotId of $dir: no schema recorded and no parquet " +
          s"file to infer one from under ${paths.mkString(", ")}"))

  /** Spark's own size-based packing (FilePartition.maxSplitBytes math):
    * parquet is splittable, so files first split at maxSplitBytes, then the
    * splits bin-pack (descending, openCost padding) — partition count tracks
    * bytes, not file count, exactly like the built-in file source. */
  def pack(spark: SparkSession,
      fileStatuses: Seq[FileStatus]): Array[InputPartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val totalBytes = fileStatuses.map(_.getLen + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.min(conf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))

    val splits = fileStatuses.flatMap { st =>
      (0L until st.getLen by maxSplit).map { off =>
        PartitionedFile(InternalRow.empty,
          SparkPath.fromPathString(st.getPath.toString),
          off, math.min(maxSplit, st.getLen - off),
          Array.empty[String], st.getModificationTime, st.getLen)
      }
    }.sortBy(-_.length)

    val parts = scala.collection.mutable.ArrayBuffer.empty[Array[PartitionedFile]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[PartitionedFile]
    var curBytes = 0L
    def flush(): Unit = if (cur.nonEmpty) { parts += cur.toArray; cur.clear(); curBytes = 0L }
    splits.foreach { f =>
      if (curBytes + f.length + openCost > maxSplit) flush()
      cur += f; curBytes += f.length + openCost
    }
    flush()
    parts.map(SnapshotInputPartition(_): InputPartition).toArray
  }

  /** The parquet read path IS Spark's: buildReaderWithPartitionValues wires
    * the pruned schema + pushed filters into the (vectorized) parquet
    * reader and returns a serializable per-file closure — identical
    * row-group skipping and column decoding to the built-in source, but
    * over OUR manifest-selected file set. */
  /** Single reader-construction point for every scan face (batch, COW,
    * micro-batch). Column-mapping translation happens HERE: the caller
    * passes LOGICAL-named schemas/filters (what Spark planned against);
    * parquet resolves columns by the PHYSICAL names frozen in the files.
    * V2 rows are positional, so renaming schema fields redirects parquet
    * column resolution without touching row layout. */
  def readerFactory(spark: SparkSession, dir: String, dataSchema: StructType,
      required: StructType, pushed: Array[Filter]): PartitionReaderFactory = {
    val fmt = new ParquetFileFormat
    val hconf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val readFunc = fmt.buildReaderWithPartitionValues(
      spark, TableFormat.toPhysical(dir, dataSchema), new StructType(),
      TableFormat.toPhysical(dir, required),
      TableFormat.filtersToPhysical(dir, pushed).toSeq,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hconf)
    SnapshotReaderFactory(readFunc)
  }
}

final class SnapshotScan(dir: String, snapshotId: Long, entries: Seq[BucketEntry],
    dataSchema: StructType, required: StructType, pushed: Array[Filter],
    numBuckets: Int, options: CaseInsensitiveStringMap)
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
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("conv_id"))
  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    cachedKept = null; cachedListing = null // re-prune under the late filters
  }

  // prune + listing cached per runtime-filter state: description /
  // estimateStatistics / planInputPartitions may each be called several
  // times during planning, and re-listing every kept file-set per call is
  // repeated driver-side FS IO at manifest scale
  @volatile private var cachedKept: Seq[BucketEntry] = _
  @volatile private var cachedListing: Seq[Seq[FileStatus]] = _

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
    * reported `KeyGroupedPartitioning(bucket(n, conv_id))`. On by default
    * exactly when `spark.sql.sources.v2.bucketing.enabled` is — a session
    * that asked for SPJ trades split-level parallelism (a bucket is one
    * task) for shuffle-free conv_id joins; override per read with
    * option("groupByBucket", …). Captured lazily so the partition layout
    * reported at planning cannot drift afterwards (runtime filters keep
    * shrinking IO in ungrouped mode only). */
  private lazy val groupByBucket: Boolean =
    Option(options.get("groupByBucket")).map(_.trim.toBoolean).getOrElse(
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled").exists(_.toBoolean))

  private lazy val bucketPartitions: Array[InputPartition] =
    keptEntries.map(_.bucket).zip(listing).groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case (b, listed) =>
        val files = listed.flatten.map { st =>
          PartitionedFile(InternalRow.empty,
            SparkPath.fromPathString(st.getPath.toString),
            0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen)
        }
        SnapshotBucketPartition(b, files.toArray): InputPartition
      }.toArray

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (groupByBucket)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(numBuckets, "conv_id")),
        bucketPartitions.length)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  override def planInputPartitions(): Array[InputPartition] =
    if (groupByBucket) bucketPartitions
    else SnapshotRead.pack(spark, fileStatuses)

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotRead.readerFactory(spark, dir, dataSchema, required, pushed)

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
      pushed, startId, allowReplaced)
  }
}

/** Offsets are snapshot ids: the manifest chain is the changelog. */
final case class SnapshotOffset(snapshotId: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

final class SnapshotMicroBatchStream(dir: String,
    dataSchema: StructType, required: StructType, pushed: Array[Filter],
    startId: Long, allowReplaced: Boolean)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private def spark = SparkSession.active
  private def currentId: Long = new Refs(dir).read(Refs.Main).getOrElse(-1L)

  /** First batch covers (initialOffset, latestOffset]: the default -1
    * replays the full table history (snapshot 0's file-sets included);
    * `startSnapshotId = current` streams only commits made after start. */
  override def initialOffset(): Offset = SnapshotOffset(startId)
  override def latestOffset(): Offset = SnapshotOffset(currentId)
  override def deserializeOffset(json: String): Offset =
    SnapshotOffset((org.json4s.jackson.JsonMethods.parse(json) \ "snapshotId") match {
      case org.json4s.JInt(id) => id.toLong
      case _ => sys.error(s"graft-snapshot: not a snapshot offset: $json")
    })

  /** The delta (from, to]: to's file-sets minus from's, exactly
    * `SnapshotTable.readChanges` — append-only unless the caller opted
    * into at-least-once redelivery of rewritten buckets. Only the two
    * endpoint manifests are consulted; intermediate snapshots may already
    * be expired. Conv_id/ts pruning applies to the delta too (a stream
    * that only follows some conversations never lists other buckets). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].snapshotId
    val e = end.asInstanceOf[SnapshotOffset].snapshotId
    if (e <= s) return Array.empty
    val to = TableFormat.readManifest(dir, e)
    val delta = SnapshotRead.delta(dir, s, e, to.entries, allowReplaced)
    val added = delta.added
    // even with allowReplaced, a new MOR delete key-set stops the stream:
    // it cannot retract rows it already emitted
    if (delta.morDeleted.nonEmpty)
      throw new IllegalStateException(
        s"snapshots $s → $e introduce merge-on-read deletes under the " +
          "stream; a snapshot-delta stream cannot retract emitted rows — " +
          "compact the table and restart the query from a fresh offset")
    // hashed under `e`'s own count: the stream may cross a rebucket
    val pruned = to.numBuckets.fold(added)(SnapshotRead.prune(dir, _, added, pushed))
    SnapshotRead.pack(spark,
      SnapshotRead.listFiles(spark, dir, e, pruned.map(_.path)).flatten)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotRead.readerFactory(spark, dir, dataSchema, required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A snapshot's files as Spark's file index: the manifest already chose
  * them, so listing hands back the [[SnapshotRead.listFiles]] result as
  * one unpartitioned directory, and refresh has nothing to re-read (a
  * snapshot never changes). */
final case class ManifestFileIndex(rootPaths: Seq[HPath], files: Seq[FileStatus])
  extends FileIndex {
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
  override def inputFiles: Array[String] = files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()
}

final case class SnapshotInputPartition(files: Array[PartitionedFile])
  extends InputPartition

/** One whole bucket as one partition, keyed by its bucket id — the shape
  * `KeyGroupedPartitioning` requires for storage-partitioned joins. */
final case class SnapshotBucketPartition(bucket: Int, files: Array[PartitionedFile])
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

final case class SnapshotReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition match {
      case SnapshotInputPartition(fs)     => fs
      case SnapshotBucketPartition(_, fs) => fs
      case p => sys.error(s"unexpected partition ${p.getClass}")
    }
    new PartitionReader[InternalRow] {
      private val it = files.iterator.flatMap(readFunc)
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
