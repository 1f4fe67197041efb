package graft.connector

import com.fasterxml.jackson.databind.ObjectMapper
import graft.table.{Refs, SnapshotTable}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
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
  * What the connector adds over `SnapshotTable.read` (a plain parquet read
  * of the manifest's paths):
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
final class SnapshotSource extends TableProvider with DataSourceRegister {

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
    val snap = SnapshotManifest.resolve(dir,
      Option(options.get("snapshotId")).map(_.trim.toLong).orElse(branchOpt),
      Option(options.get("numBuckets")).map(_.trim.toInt).getOrElse(16))
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
    val entries = changesFrom match {
      case Some(from) =>
        val fromPaths =
          if (from < 0) Set.empty[String]
          else SnapshotManifest.read(dir, from).map(_.path).toSet
        val toPaths = full.map(_.path).toSet
        val rewritten = fromPaths.filterNot(toPaths)
        if (rewritten.nonEmpty &&
            !Option(options.get("allowReplaced")).exists(_.trim.toBoolean))
          throw new IllegalStateException(
            s"snapshots $from → $snapId are not append-only: " +
              s"${rewritten.size} file-set(s) were rewritten in between. " +
              "Set .option(\"allowReplaced\", \"true\") for at-least-once " +
              "redelivery of rewritten buckets.")
        full.filterNot(e => fromPaths(e.path))
      case None => full
    }
    // a delta read whose delta is EMPTY still needs the table's
    // schema: fall back to the full snapshot's widest entry schema
    val deltaSchemaFallback =
      if (changesFrom.isDefined)
        SnapshotTable.widestSchema(full.map(_.schema))
          .map(d => DataType.fromDDL(d).asInstanceOf[StructType])
      else None
    new SnapshotV2Table(dir, snapId, entries, snap.numBuckets,
      externalSchema.orElse(deltaSchemaFallback).orElse(snap.metaSchema),
      preferExternalSuperset =
        Option(options.get("snapshotId")).isEmpty && branchOpt.isEmpty)
  }

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
}

/** One column of the table's FIELD-ID mapping (the Iceberg field-id /
  * Delta column-mapping analog): `id` is assigned once at column creation
  * and never changes; `phys` is the column name frozen into data files at
  * creation time; `name` is the current LOGICAL name SQL users see.
  * RENAME edits only `name`; DROP only flips `dropped` (the phys name
  * stays reserved so a later ADD of the same logical name cannot collide
  * with bytes still sitting in old files). Data files are never touched by
  * either — rename/drop are pure metadata operations, which is the only
  * form that survives 100 TB. */
final case class ColumnMapEntry(id: Int, name: String, phys: String,
    dropped: Boolean = false)

/** `CREATE TABLE`-time metadata for tables that have no commit yet (and
  * the bucket-count/schema fallback for delete-emptied snapshots): one
  * tiny JSON file, superseded by manifests as soon as snapshot 0 lands —
  * EXCEPT the optional column `mapping`, which stays authoritative for the
  * table's logical↔physical name overlay for as long as the table lives. */
object SnapshotTableMeta {
  private def file(dir: String) = Paths.get(dir, "TABLE_META.json")

  /** Replaces the file atomically ([[Refs.atomicWrite]]): a reader racing
    * an `ALTER` sees the old or the new metadata, never a torn file. */
  def write(dir: String, schemaDdl: String, numBuckets: Int,
      mapping: Option[Seq[ColumnMapEntry]] = None): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val mapField = mapping match {
      case Some(ms) =>
        ms.map(m => s"""{"id":${m.id},"name":"${esc(m.name)}",""" +
          s""""phys":"${esc(m.phys)}","dropped":${m.dropped}}""")
          .mkString(""","mapping":[""", ",", "]")
      case None => ""
    }
    Refs.atomicWrite(file(dir),
      s"""{"schema":"${esc(schemaDdl)}","numBuckets":$numBuckets$mapField}""")
  }

  /** The one parse of the file; a malformed file fails loudly. */
  private def json(dir: String) =
    if (!Files.exists(file(dir))) None
    else Some(new ObjectMapper().readTree(Files.readString(file(dir))))

  def read(dir: String): Option[(String, Int)] =
    json(dir).map(n => (n.get("schema").asText(), n.get("numBuckets").asInt()))

  /** The column mapping, present only once an ALTER created one. */
  def mapping(dir: String): Option[Seq[ColumnMapEntry]] =
    json(dir).flatMap(n => Option(n.get("mapping"))).map(_.elements().asScala.map(e =>
      ColumnMapEntry(e.get("id").asInt(), e.get("name").asText(),
        e.get("phys").asText(), e.get("dropped").asBoolean())).toSeq)

  /** Rename a LOGICAL-named schema to the PHYSICAL names frozen in data
    * files (identity when the table has no mapping — the common case and
    * every pre-mapping table). Positions and types are untouched: V2 rows
    * are positional, so this only redirects parquet column resolution. */
  def toPhysical(dir: String, schema: StructType): StructType =
    mapping(dir) match {
      case None => schema
      case Some(ms) =>
        val byName = ms.filterNot(_.dropped).map(m => m.name -> m.phys).toMap
        StructType(schema.fields.map(f =>
          byName.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))
    }

  /** Rewrite filter attribute names logical→physical so pushed filters
    * keep driving parquet row-group skipping after a rename. Filters
    * naming un-mapped columns pass through; filter shapes outside the
    * rewritable subset are DROPPED — safe because every pushed filter is
    * also kept residual (Spark re-evaluates rows). */
  def filtersToPhysical(dir: String, filters: Array[Filter]): Array[Filter] =
    mapping(dir) match {
      case None => filters
      case Some(ms) =>
        val byName = ms.filterNot(_.dropped).map(m => m.name -> m.phys).toMap
        def ren(a: String): String = byName.getOrElse(a, a)
        def go(f: Filter): Option[Filter] = f match {
          case EqualTo(a, v)            => Some(EqualTo(ren(a), v))
          case EqualNullSafe(a, v)      => Some(EqualNullSafe(ren(a), v))
          case GreaterThan(a, v)        => Some(GreaterThan(ren(a), v))
          case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(ren(a), v))
          case LessThan(a, v)           => Some(LessThan(ren(a), v))
          case LessThanOrEqual(a, v)    => Some(LessThanOrEqual(ren(a), v))
          case In(a, vs)                => Some(In(ren(a), vs))
          case IsNull(a)                => Some(IsNull(ren(a)))
          case IsNotNull(a)             => Some(IsNotNull(ren(a)))
          case StringStartsWith(a, v)   => Some(StringStartsWith(ren(a), v))
          case StringEndsWith(a, v)     => Some(StringEndsWith(ren(a), v))
          case StringContains(a, v)     => Some(StringContains(ren(a), v))
          case And(l, r) => for { a <- go(l); b <- go(r) } yield And(a, b)
          case Or(l, r)  => for { a <- go(l); b <- go(r) } yield Or(a, b)
          case Not(c)    => go(c).map(Not)
          case _         => None
        }
        filters.flatMap(go)
    }

  def exists(dir: String): Boolean = Files.exists(file(dir))
}

/** The connector's view of one manifest line
  * ([[graft.table.SnapshotTable.readManifest]] parses it). `maxTsMs` is
  * widened by +1 s: the manifest formats ts at second granularity, so the
  * recorded max FLOORS the true max — an overlap test against the raw value
  * could prune a file-set whose last rows sit inside the truncated second.
  * `minTsMs` floors too, which only widens the range (safe). */
final case class ManifestEntry(bucket: Int, path: String, runId: String,
    turns: Long, minTsMs: Long, maxTsMs: Long, schema: String, numBuckets: Int,
    kind: String = "data")

object SnapshotManifest {
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private def tsMs(s: String): Long =
    LocalDateTime.parse(s, TsFmt).toInstant(ZoneOffset.UTC).toEpochMilli

  def read(dir: String, snapshotId: Long): Seq[ManifestEntry] =
    entries(SnapshotTable.readManifest(dir, snapshotId))

  private def entries(m: SnapshotTable.Manifest): Seq[ManifestEntry] = {
    val nb = m.bucketCount.getOrElse(0) // None only when there are no entries
    m.entries.map(e => ManifestEntry(e.bucket, e.path, e.runId, e.turns,
      tsMs(e.minTs), tsMs(e.maxTs) + 1000L, e.schema, nb, e.kind))
  }

  /** What a table load resolves to: the snapshot (-1 with no entries for
    * a table never committed), its entries, the bucket count and the
    * CREATE/ALTER schema of TABLE_META.json. */
  final case class Resolved(snapshotId: Long, entries: Seq[ManifestEntry],
      numBuckets: Int, metaSchema: Option[StructType])

  /** Resolve `snapshotId`, or the live snapshot when None, for both load
    * faces (the path source and the catalog). The bucket count is the
    * manifest's — also for a delete-emptied, tombstone-only snapshot —
    * then TABLE_META's, then `fallbackBuckets`. */
  def resolve(dir: String, snapshotId: Option[Long], fallbackBuckets: Int): Resolved = {
    val meta = SnapshotTableMeta.read(dir)
    val metaSchema = meta.map(m => DataType.fromDDL(m._1).asInstanceOf[StructType])
    def buckets(m: Option[Int]) = m.orElse(meta.map(_._2)).getOrElse(fallbackBuckets)
    snapshotId.orElse(new Refs(dir).read(Refs.Main)) match {
      case Some(id) =>
        val m = SnapshotTable.readManifest(dir, id)
        Resolved(id, entries(m), buckets(m.bucketCount), metaSchema)
      case None => Resolved(-1L, Seq.empty, buckets(None), metaSchema)
    }
  }
}

final class SnapshotV2Table(dir: String, snapshotId: Long,
    entries: Seq[ManifestEntry], numBuckets: Int,
    externalSchema: Option[StructType] = None,
    preferExternalSuperset: Boolean = false,
    bucketClustered: Boolean = false)
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
    if (entries.exists(_.kind == "delete"))
      throw new IllegalStateException(
        s"snapshot $snapshotId of $dir has pending merge-on-read deletes — " +
          s"cannot $surface; fold them first (SnapshotTable.compact / " +
          "CALL graft.system.compact) or go through the library API " +
          "(SnapshotTable.read applies them)")

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
    val sets = filters.toSeq.map {
      case EqualTo(a, v: String) if a.equalsIgnoreCase("conv_id")       => Some(Set(v))
      case EqualNullSafe(a, v: String) if a.equalsIgnoreCase("conv_id") => Some(Set(v))
      case In(a, vs) if a.equalsIgnoreCase("conv_id") &&
        vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        Some(vs.map(_.asInstanceOf[String]).toSet)
      case _                                                            => None
    }
    if (filters.nonEmpty && sets.forall(_.isDefined)) Some(sets.flatten) else None
  }

  /** The delete range as conservative [lo, hi] ms bounds, and the live
    * entries it fully covers — `None` when any conjunct is not a ts
    * comparison, or any live file-set straddles the range boundary. */
  private def tsDeleteCoverage(filters: Array[Filter]): Option[Seq[ManifestEntry]] = {
    def ms(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime)
      case i: java.time.Instant  => Some(i.toEpochMilli)
      case _                     => None
    }
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
        ms(v) match { case Some(m) => bounded = true; hiMax = math.min(hiMax, m); hiOut = math.min(hiOut, m); case None => ok = false }
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        // inclusive upper: widened maxTs (floor+1s) <= X still proves
        // trueMax < X <= X, so the same conservative test applies
        ms(v) match { case Some(m) => bounded = true; hiMax = math.min(hiMax, m); hiOut = math.min(hiOut, m); case None => ok = false }
      case GreaterThan(a, v) if a.equalsIgnoreCase("ts") =>
        // exclusive lower: recorded minTs (floor <= trueMin) must be > X
        ms(v) match { case Some(m) => bounded = true; loMin = math.max(loMin, m + 1); loOut = math.max(loOut, m); case None => ok = false }
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        ms(v) match { case Some(m) => bounded = true; loMin = math.max(loMin, m); loOut = math.max(loOut, m); case None => ok = false }
      case IsNotNull(a) if a.equalsIgnoreCase("ts") => () // no-op conjunct
      case _ => ok = false
    }
    if (!ok || !bounded) return None
    val curOpt = new SnapshotTable(dir, numBuckets).currentSnapshotId
    if (curOpt.isEmpty) return None
    val live = SnapshotManifest.read(dir, curOpt.get)
    // entry stats: minTsMs = floor(trueMin) <= trueMin;
    //             maxTsMs = floor(trueMax)+1s > trueMax (widened by read)
    def fullyIn(e: ManifestEntry): Boolean =
      e.minTsMs > 0 && e.minTsMs >= loMin && e.maxTsMs <= hiMax
    def fullyOut(e: ManifestEntry): Boolean =
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
    // CURRENT logical schema in TABLE_META is authoritative for every
    // read, time travel included — entries carry PHYSICAL names and may,
    // post-drop, be only union-compatible; the reader resolves parquet
    // columns by physical name per file (missing → null), so an old
    // snapshot surfaces exactly its own data under today's names.
    if (SnapshotTableMeta.mapping(dir).isDefined)
      SnapshotTableMeta.read(dir)
        .map(m => DataType.fromDDL(m._1).asInstanceOf[StructType])
        .foreach(s => return s)
    // additive evolution: a snapshot can mix old and appended-column
    // file-sets — resolve the WIDEST (old files read null-filled)
    val fromEntries = SnapshotTable.widestSchema(entries.map(_.schema))
      .orElse(entries.find(_.schema.nonEmpty).map(_.schema)) // legacy mix
      .map(d => DataType.fromDDL(d).asInstanceOf[StructType])
    val resolved = fromEntries.orElse(externalSchema)
      .getOrElse(org.apache.spark.sql.Encoders.product[graft.model.ExtractedTurn].schema)
    // a LIVE table whose CREATE/ALTER metadata extends the data's schema
    // (ALTER TABLE ADD COLUMNS before the first evolved write) surfaces
    // the evolved shape; time-travel loads keep their snapshot's schema
    externalSchema match {
      case Some(ext) if preferExternalSuperset && fromEntries.isDefined &&
          ext.length > resolved.length &&
          SnapshotTable.prefixCompatible(resolved.catalogString, ext.catalogString) => ext
      case _ => resolved
    }
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  /** The physical layout as V2 metadata: resolved against the catalog's
    * `bucket` function, this is what lets two snapshot tables prove they
    * are co-partitioned (storage-partitioned join). */
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(numBuckets, "conv_id"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    morGate("scan")
    new SnapshotScanBuilder(dir, entries, schema(), numBuckets, options)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    morGate("append (a re-inserted key would be re-killed by the pending delete)")
    new SnapshotWriteBuilder(dir, numBuckets, info, bucketClustered)
  }
}

final class SnapshotScanBuilder(dir: String, entries: Seq[ManifestEntry],
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
    else new SnapshotScan(dir, entries, fullSchema, required, pushed, numBuckets, options)
}

/** The completely-pushed `COUNT(*)` scan: one partition, one row, straight
  * from the manifest's commit-time counts — no data file is opened. */
final class SnapshotCountScan(entries: Seq[ManifestEntry])
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

  /** Manifest-level pruning: intersect the conv_id value sets demanded by
    * equality/IN filters and keep a file-set iff it could own one of those
    * conversations — hashed with THE ENTRY'S OWN bucket count, so entries
    * written before a rebucket (reachable via time travel or an
    * allowReplaced stream crossing the rewrite) prune correctly under
    * their original layout. ts predicates drop file-sets whose
    * [minTs, maxTs] cannot overlap. Unknown/other filters prune nothing
    * (they still reach parquet + Spark's residual evaluation). */
  def prune(dir: String, numBuckets: Int, entries: Seq[ManifestEntry],
      pushed: Array[Filter]): Seq[ManifestEntry] = {
    val twins = scala.collection.mutable.Map.empty[Int, SnapshotTable]
    def bucketOf(c: String, nb: Int): Int =
      twins.getOrElseUpdate(nb, new SnapshotTable(dir, nb)).bucketOfId(c)
    val convSets = pushed.toSeq.collect {
      case EqualTo(a, v: String) if a.equalsIgnoreCase("conv_id")       => Set(v)
      case EqualNullSafe(a, v: String) if a.equalsIgnoreCase("conv_id") => Set(v)
      case In(a, vs) if a.equalsIgnoreCase("conv_id") &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    val keepConvs = convSets.reduceOption(_ intersect _)
    def ownsSome(e: ManifestEntry): Boolean = keepConvs.forall { convs =>
      val nb = if (e.numBuckets > 0) e.numBuckets else numBuckets
      convs.exists(c => bucketOf(c, nb) == e.bucket)
    }
    def ms(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime)
      case i: java.time.Instant  => Some(i.toEpochMilli)
      case _                     => None
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    pushed.foreach {
      case GreaterThan(a, v) if a.equalsIgnoreCase("ts") =>
        ms(v).foreach(m => lo = math.max(lo, m))
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        ms(v).foreach(m => lo = math.max(lo, m))
      case LessThan(a, v) if a.equalsIgnoreCase("ts") =>
        ms(v).foreach(m => hi = math.min(hi, m))
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase("ts") =>
        ms(v).foreach(m => hi = math.min(hi, m))
      case _ => ()
    }
    entries.filter(e => ownsSome(e) && e.maxTsMs >= lo && e.minTsMs <= hi)
  }

  def listFiles(spark: SparkSession,
      entries: Seq[ManifestEntry]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val hconf = spark.sessionState.newHadoopConf()
    entries.flatMap { e =>
      val p = new HPath(e.path)
      val fs = p.getFileSystem(hconf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    }
  }

  /** Spark's own size-based packing (FilePartition.maxSplitBytes math):
    * parquet is splittable, so files first split at maxSplitBytes, then the
    * splits bin-pack (descending, openCost padding) — partition count tracks
    * bytes, not file count, exactly like the built-in file source. */
  def pack(spark: SparkSession,
      fileStatuses: Seq[org.apache.hadoop.fs.FileStatus]): Array[InputPartition] = {
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
      spark, SnapshotTableMeta.toPhysical(dir, dataSchema), new StructType(),
      SnapshotTableMeta.toPhysical(dir, required),
      SnapshotTableMeta.filtersToPhysical(dir, pushed).toSeq,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hconf)
    SnapshotReaderFactory(readFunc)
  }
}

final class SnapshotScan(dir: String, entries: Seq[ManifestEntry],
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
    cachedKept = null; cachedStatuses = null // re-prune under the late filters
  }

  // prune + listing cached per runtime-filter state: description /
  // estimateStatistics / planInputPartitions may each be called several
  // times during planning, and re-listing every kept file-set per call is
  // repeated driver-side FS IO at manifest scale
  @volatile private var cachedKept: Seq[ManifestEntry] = _
  @volatile private var cachedStatuses: Seq[org.apache.hadoop.fs.FileStatus] = _

  private[graft] def keptEntries: Seq[ManifestEntry] = {
    if (cachedKept == null)
      cachedKept = SnapshotRead.prune(dir, numBuckets, entries, pushed ++ runtimeFilters)
    cachedKept
  }

  private def fileStatuses: Seq[org.apache.hadoop.fs.FileStatus] = {
    if (cachedStatuses == null)
      cachedStatuses = SnapshotRead.listFiles(spark, keptEntries)
    cachedStatuses
  }

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
    keptEntries.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, es) =>
      val files = SnapshotRead.listFiles(spark, es).map { st =>
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
    new SnapshotMicroBatchStream(dir, numBuckets, dataSchema, required,
      pushed, startId, allowReplaced)
  }
}

/** Offsets are snapshot ids: the manifest chain is the changelog. */
final case class SnapshotOffset(snapshotId: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

final class SnapshotMicroBatchStream(dir: String, numBuckets: Int,
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
    SnapshotOffset(new ObjectMapper().readTree(json).get("snapshotId").asLong())

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
    val fromPaths =
      if (s < 0) Set.empty[String]
      else SnapshotManifest.read(dir, s).map(_.path).toSet
    val toEntries = SnapshotManifest.read(dir, e)
    val toPaths = toEntries.map(_.path).toSet
    val rewritten = fromPaths.filterNot(toPaths)
    if (rewritten.nonEmpty && !allowReplaced)
      throw new IllegalStateException(
        s"snapshots $s → $e are not append-only: ${rewritten.size} file-set(s) " +
          "were rewritten (compact/replaceWhere/delete) under the stream. Set " +
          ".option(\"allowReplaced\", \"true\") to accept at-least-once " +
          "redelivery of rewritten buckets.")
    val added = toEntries.filterNot(en => fromPaths(en.path))
    // a new MOR delete key-set is not an append — the stream cannot
    // retract rows it already emitted; stop loudly (same posture as a
    // rewrite without allowReplaced)
    if (added.exists(_.kind == "delete"))
      throw new IllegalStateException(
        s"snapshots $s → $e introduce merge-on-read deletes under the " +
          "stream; a snapshot-delta stream cannot retract emitted rows — " +
          "compact the table and restart the query from a fresh offset")
    val pruned = SnapshotRead.prune(dir, numBuckets, added, pushed)
    SnapshotRead.pack(spark, SnapshotRead.listFiles(spark, pruned))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotRead.readerFactory(spark, dir, dataSchema, required, pushed)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
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
