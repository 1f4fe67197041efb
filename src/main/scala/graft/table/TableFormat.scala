package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.table.SnapshotTable.BucketEntry
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._

/** The snapshot table's on-disk format: what its metadata files are called
  * and what they mean. Every face reads and writes them here, with one
  * Jackson parse and one Jackson write per file:
  *
  *  - `manifests/snap-<id>.json`: one line per committed file-set
  *    ([[BucketEntry]] after the header `snapshotId`, `parentId`,
  *    `buckets`), or one tombstone line for a snapshot with none (a
  *    zero-length file is an unpublished claim). An empty
  *    `snap-<id>.staged` beside it marks a write-audit-publish audit.
  *  - `TABLE_META.json`: the CREATE/ALTER schema, the bucket count a
  *    never-written table was created with, the optional column mapping.
  *
  * Older lines read as they always did: no `schema` is "", no `kind` is
  * "data", no `buckets` is max(bucket)+1, a tombstone has no entries.
  */
object TableFormat {

  private val Json = new ObjectMapper()

  // ------------------------------------------------------------ file names

  def manifestsDir(dir: String): Path = Paths.get(dir, "manifests")
  def manifestFile(dir: String, snapshotId: Long): Path =
    manifestsDir(dir).resolve(s"snap-$snapshotId.json")
  def stagedMarker(dir: String, snapshotId: Long): Path =
    manifestsDir(dir).resolve(s"snap-$snapshotId.staged")
  private def metaFile(dir: String): Path = Paths.get(dir, "TABLE_META.json")

  private val FileName = """snap-(\d+)\.(json|staged)""".r

  /** The snapshot id a file under [[manifestsDir]] is the manifest
    * (`staged = false`) or the staged marker of. */
  def snapshotIdOf(p: Path, staged: Boolean): Option[Long] = p.getFileName.toString match {
    case FileName(id, ext) if (ext == "staged") == staged => Some(id.toLong)
    case _ => None
  }

  // ------------------------------------------------------------ timestamps

  private val TsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** A manifest timestamp: UTC, `T`-separated, floored to the second. */
  def tsText(epochUs: Long): String =
    TsFmt.format(Instant.ofEpochMilli(Math.floorDiv(epochUs, 1000L)))

  /** Epoch ms of a manifest timestamp. */
  def tsMs(text: String): Long =
    LocalDateTime.parse(text, TsFmt).toInstant(ZoneOffset.UTC).toEpochMilli

  // ---------------------------------------------------------------- schema

  /** A schema as the manifest and TABLE_META record it: Spark's
    * `catalogString`, except that a field name that is not a plain
    * identifier is back-quoted, so every name — spaces, quotes, control
    * characters — parses back with `DataType.fromDDL`. Plain names render
    * as `catalogString` renders them. */
  def schemaDdl(t: DataType): String = t match {
    case s: StructType => s.fields.map(f =>
      s"${QuotingUtils.quoteIfNeeded(f.name)}:${schemaDdl(f.dataType)}").mkString("struct<", ",", ">")
    case a: ArrayType  => s"array<${schemaDdl(a.elementType)}>"
    case m: MapType    => s"map<${schemaDdl(m.keyType)},${schemaDdl(m.valueType)}>"
    case other         => other.catalogString
  }

  // -------------------------------------------------------------- manifest

  /** A parsed manifest. `numBuckets` is the `buckets` field, or
    * max(bucket)+1 for manifests older than it; None with neither. */
  final case class Manifest(parentId: Long, numBuckets: Option[Int],
      entries: Seq[BucketEntry])

  /** The one parse of a manifest, on the driver (no Spark job — Iceberg
    * likewise plans from manifests on the driver). */
  def readManifest(dir: String, snapshotId: Long): Manifest = {
    val f = manifestFile(dir, snapshotId)
    require(Files.exists(f), s"snapshot $snapshotId does not exist in $dir")
    val lines = Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty).map(Json.readTree)
    def text(n: JsonNode, field: String, absent: String): String =
      Option(n.get(field)).filterNot(_.isNull).map(_.asText()).getOrElse(absent)
    val entries = lines.filterNot(_.has("tombstone")).map(n => BucketEntry(
      n.get("bucket").asInt(), n.get("path").asText(), n.get("runId").asText(),
      n.get("turns").asLong(), n.get("blocksKept").asLong(),
      n.get("blocksDropped").asLong(), n.get("charsEmitted").asLong(),
      n.get("minTs").asText(), n.get("maxTs").asText(),
      text(n, "schema", ""), text(n, "kind", "data")))
    Manifest(
      lines.collectFirst { case n if n.has("parentId") => n.get("parentId").asLong() }
        .getOrElse(-1L),
      lines.collectFirst { case n if n.has("buckets") => n.get("buckets").asInt() }
        .orElse(entries.map(_.bucket).maxOption.map(_ + 1)),
      entries)
  }

  /** The one write of a manifest: `entries` in the order given, or the
    * tombstone line when there are none. Replaces the file atomically
    * ([[Refs.atomicWrite]]) over the committer's zero-length claim. */
  def writeManifest(dir: String, snapshotId: Long, parentId: Long,
      numBuckets: Int, entries: Seq[BucketEntry]): Unit = {
    def header = Json.createObjectNode().put("snapshotId", snapshotId)
      .put("parentId", parentId).put("buckets", numBuckets)
    val lines = entries.map { e =>
      val n = header.put("bucket", e.bucket).put("path", e.path).put("runId", e.runId)
        .put("turns", e.turns).put("blocksKept", e.blocksKept)
        .put("blocksDropped", e.blocksDropped).put("charsEmitted", e.charsEmitted)
        .put("minTs", e.minTs).put("maxTs", e.maxTs).put("schema", e.schema)
      if (e.kind != "data") n.put("kind", e.kind)
      n
    }
    Refs.atomicWrite(manifestFile(dir, snapshotId),
      (if (lines.nonEmpty) lines else Seq(header.put("tombstone", true)))
        .map(Json.writeValueAsString).mkString("\n"))
  }

  // ------------------------------------------------------------ TABLE_META

  /** One column of the table's FIELD-ID mapping (the Iceberg field-id /
    * Delta column-mapping analog): `id` never changes; `phys` is the name
    * frozen into data files at column creation; `name` is the LOGICAL name
    * SQL sees. RENAME edits only `name`; DROP only flips `dropped` (the phys
    * name stays reserved, so a later ADD of the same name cannot read the
    * bytes old files hold under it). Data files are never touched. */
  final case class ColumnMapEntry(id: Int, name: String, phys: String,
      dropped: Boolean = false)

  /** The schema and bucket count a table resolves to before its first
    * commit, and the column `mapping`, authoritative for the table's life. */
  final case class TableMeta(schema: String, numBuckets: Int,
      mapping: Option[Seq[ColumnMapEntry]] = None) {
    def structType: StructType = DataType.fromDDL(schema).asInstanceOf[StructType]
  }

  def metaExists(dir: String): Boolean = Files.exists(metaFile(dir))

  /** The one parse of TABLE_META; a malformed file fails loudly. */
  def readMeta(dir: String): Option[TableMeta] =
    if (!metaExists(dir)) None
    else {
      val n = Json.readTree(Files.readString(metaFile(dir)))
      Some(TableMeta(n.get("schema").asText(), n.get("numBuckets").asInt(),
        Option(n.get("mapping")).map(_.elements().asScala.map(e =>
          ColumnMapEntry(e.get("id").asInt(), e.get("name").asText(),
            e.get("phys").asText(), e.get("dropped").asBoolean())).toSeq)))
    }

  /** The one write of TABLE_META, replacing the file atomically: a reader
    * racing an `ALTER` sees the old or the new metadata, never a torn file. */
  def writeMeta(dir: String, meta: TableMeta): Unit = {
    val n = Json.createObjectNode().put("schema", meta.schema)
      .put("numBuckets", meta.numBuckets)
    meta.mapping.foreach { ms =>
      val arr = n.putArray("mapping")
      ms.foreach(m => arr.addObject().put("id", m.id).put("name", m.name)
        .put("phys", m.phys).put("dropped", m.dropped))
    }
    Refs.atomicWrite(metaFile(dir), Json.writeValueAsString(n))
  }

  /** The column mapping, present only once an ALTER created one. */
  def mapping(dir: String): Option[Seq[ColumnMapEntry]] = readMeta(dir).flatMap(_.mapping)

  private def physNames(dir: String): Option[Map[String, String]] =
    mapping(dir).map(_.filterNot(_.dropped).map(m => m.name -> m.phys).toMap)

  /** Rename a LOGICAL-named schema to the PHYSICAL names frozen in data
    * files (identity when the table has no mapping — the common case and
    * every pre-mapping table). Positions and types are untouched: V2 rows
    * are positional, so this only redirects parquet column resolution. */
  def toPhysical(dir: String, schema: StructType): StructType =
    physNames(dir).fold(schema)(byName =>
      StructType(schema.fields.map(f => byName.get(f.name).fold(f)(p => f.copy(name = p)))))

  /** Rewrite filter attribute names logical→physical so pushed filters
    * keep driving parquet row-group skipping after a rename. Filters
    * naming un-mapped columns pass through; filter shapes outside the
    * rewritable subset are DROPPED — safe because every pushed filter is
    * also kept residual (Spark re-evaluates rows). */
  def filtersToPhysical(dir: String, filters: Array[Filter]): Array[Filter] =
    physNames(dir).fold(filters) { byName =>
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

  // -------------------------------------------------------- table at a snapshot

  /** A table at `snapshotId`, or at CURRENT when None: the snapshot (-1
    * for a table never committed), its manifest, and TABLE_META. */
  final case class Resolved(snapshotId: Long, manifest: Option[Manifest],
      meta: Option[TableMeta]) {
    def entries: Seq[BucketEntry] = manifest.fold(Seq.empty[BucketEntry])(_.entries)

    /** THE bucket-count rule: the manifest's count (also for a tombstone),
      * else TABLE_META's. None for a table with neither: a path write's
      * `numBuckets` option, or 16, decides then. */
    def numBuckets: Option[Int] =
      manifest.flatMap(_.numBuckets).orElse(meta.map(_.numBuckets))
  }

  def resolve(dir: String, snapshotId: Option[Long]): Resolved = {
    val id = snapshotId.orElse(new Refs(dir).read(Refs.Main))
    Resolved(id.getOrElse(-1L), id.map(readManifest(dir, _)), readMeta(dir))
  }
}
