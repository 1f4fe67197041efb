package graft.connector

import graft.table.{Refs, SnapshotTable, TableFormat}
import graft.table.SnapshotTable.BucketEntry
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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
  * [[TableFormat]] (the bucket count by its one rule), and both read
  * through one scan, [[SnapshotScan]] over a [[SnapshotReadTable]]: this
  * face after its merge-on-read gate and under the table's logical names,
  * `SnapshotTable.read` and its kin under the physical names and with
  * their own delete anti-join ([[SnapshotRead.frame]]). What the scan
  * does:
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

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      sys.error("graft-snapshot needs a path: spark.read.format(\"graft-snapshot\").load(dir)"))

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
    () => new SnapshotRowLevelOperation(dir, entries, numBuckets, schema(), physical,
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
      .map(d => SnapshotTable.parseSchema(d).getOrElse(SnapshotRead.footerSchema(
        SparkSession.active, dir, snapshotId, entries.filter(_.kind == "data").map(_.path))))
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

  /** The table's column mapping, LOGICAL → PHYSICAL: the scans read the
    * files under it. */
  private lazy val physical: Map[String, String] = TableFormat.physicalNames(dir)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    morGate("scan")
    new SnapshotReadTable(dir, snapshotId, entries, schema(), numBuckets, physical)
      .newScanBuilder(options)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    morGate("append (a re-inserted key would be re-killed by the pending delete)")
    new SnapshotWriteBuilder(dir, numBuckets, info)
  }
}
