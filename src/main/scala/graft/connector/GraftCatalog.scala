package graft.connector

import graft.table.{Refs, TableFormat}
import graft.table.TableFormat.{ColumnMapEntry, TableMeta}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Catalog plugin for snapshot tables (the Iceberg `SparkCatalog` analog):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.connector.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/graft")
  *   spark.table("graft.turns")                       // = <warehouse>/turns
  *   spark.sql("SELECT * FROM graft.turns VERSION AS OF 3")
  *   df.writeTo("graft.turns").append()
  * }}}
  *
  * Beyond name resolution, the catalog is what unlocks STORAGE-PARTITIONED
  * JOINS: it is also a [[FunctionCatalog]] exposing the table's `bucket`
  * transform as a V2 function, so when two snapshot tables loaded through
  * it report `KeyGroupedPartitioning(bucket(n, conv_id))` from their scans,
  * Spark can prove both sides partition identically (same canonical
  * function, same n) and plan their conv_id equi-join with NO exchange —
  * at 100 TB the join cost becomes per-bucket merge IO instead of a
  * full-table shuffle. (Enable `spark.sql.sources.v2.bucketing.enabled`.)
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.error(s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(s"$warehouse/", "/", "")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = Paths.get((s"$warehouse" +: namespace).mkString("/"))
    if (!Files.isDirectory(base)) Array.empty
    else {
      val s = Files.list(base)
      try s.iterator.asScala
        .filter(p => new Refs(p.toString).read(Refs.Main).isDefined)
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
      finally s.close()
    }
  }

  override def tableExists(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    // committed tables carry CURRENT; created-but-never-written tables
    // carry the CREATE TABLE metadata — both are loadable (INSERT INTO a
    // freshly created table must resolve)
    new Refs(dir).read(Refs.Main).isDefined || TableFormat.metaExists(dir)
  }

  private def load(ident: Identifier, snapshotId: Option[Long]): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // a created, never written table resolves to an empty snapshot -1; a
    // delete-emptied one to a snapshot with no entries — both readable
    // and appendable
    val snap = TableFormat.resolve(dir, snapshotId)
    new SnapshotV2Table(dir, snap.snapshotId, snap.entries, snap.numBuckets.getOrElse(16),
      snap.meta.map(_.structType), preferExternalSuperset = snapshotId.isEmpty)
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: graft.`t$snapshots` / `t$files` / `t$tags`
    val n = ident.name()
    val dollar = n.lastIndexOf('$')
    if (dollar > 0 && SnapshotMetaTables.Kinds(n.substring(dollar + 1))) {
      val base = Identifier.of(ident.namespace(), n.substring(0, dollar))
      if (tableExists(base))
        return SnapshotMetaTables.load(dirOf(base), n.substring(dollar + 1))
    }
    // Persisted-index tables: graft.`t$dupindex` (MinHash-LSH band lists,
    // partitioned by cell) / graft.`t$vecindex` (IVF inverted lists,
    // partitioned by cent_id) — the indexes CALL graft.system.build_*_index
    // materialized under <table>/index/. Read-only parquet scans with
    // partition pruning, so `WHERE cell IN (…)` / `cent_id IN (…)` probes
    // open only the matching cells' files — the SQL face of
    // DupIndex.probe / VectorIndex.search.
    val indexSub = Map("dupindex" -> "dup", "vecindex" -> "vec")
    if (dollar > 0 && indexSub.contains(n.substring(dollar + 1))) {
      val base = Identifier.of(ident.namespace(), n.substring(0, dollar))
      val listsDir = s"${dirOf(base)}/index/${indexSub(n.substring(dollar + 1))}/lists"
      if (tableExists(base) && Files.exists(Paths.get(listsDir)))
        return org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
          s"$listsDir", org.apache.spark.sql.SparkSession.active
            .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap()),
          Seq(listsDir), None,
          classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
    }
    load(ident, None)
  }

  /** SQL time travel: `SELECT … FROM graft.t VERSION AS OF <snapshotId>`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** New-table DDL (`CREATE TABLE graft.t …` / `df.writeTo(…).create()`):
    * persists the declared schema + bucket count as the table metadata so the
    * created table RESOLVES before its first commit (INSERT INTO right
    * after CREATE TABLE); snapshot 0 arrives with the first write, and
    * manifests supersede the metadata from then on. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    val nb = Option(properties.get("numBuckets")).map(_.toInt).getOrElse(16)
    TableFormat.writeMeta(dir, TableMeta(TableFormat.schemaDdl(schema), nb))
    new SnapshotV2Table(dir, -1L, Seq.empty, nb, Some(schema))
  }

  /** METADATA-ONLY schema evolution — `ADD COLUMNS`, `RENAME COLUMN`,
    * `DROP COLUMN` — via the field-id column mapping (the Iceberg
    * field-id / Delta column-mapping analog, [[ColumnMapEntry]]):
    *
    *  - ADD appends a nullable column; its PHYSICAL name is frozen at
    *    creation (de-collided against every name ever used, so re-adding
    *    a dropped column's name cannot resurrect old bytes);
    *  - RENAME edits only the logical name in the mapping;
    *  - DROP flips the mapping entry's `dropped` flag.
    *
    * No data file is touched by any of them — at 10^12 turns that is the
    * only acceptable cost. Old snapshots keep reading correctly: the scan
    * resolves parquet columns by physical name
    * ([[TableFormat.toPhysical]]) and, rows being positional,
    * surfaces them under the table schema's logical names.
    * Type changes are still rejected (a widening read is engine-specific;
    * migrate by rewrite). The table key (`conv_id`, `turn_idx`) and the
    * stats column `ts` are immutable — bucketing, manifest pruning and
    * the write distribution contract name them. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val immutable = Set("conv_id", "turn_idx", "ts")
    val fields = scala.collection.mutable.ArrayBuffer.from(loadTable(ident).schema().fields)
    // existing mapping, or the identity mapping synthesized from the
    // current logical schema (first ALTER on a pre-mapping table)
    var mapping: Vector[ColumnMapEntry] =
      TableFormat.mapping(dir).map(_.toVector).getOrElse(
        fields.zipWithIndex.map { case (f, i) =>
          ColumnMapEntry(i + 1, f.name, f.name) }.toVector)
    var widened = false
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft-snapshot evolution: nested column adds are unsupported")
        require(add.position() == null,
          "graft-snapshot evolution: columns append at the end (no FIRST/AFTER)")
        require(add.isNullable,
          "graft-snapshot evolution: added columns must be nullable (old files have no values)")
        val n = add.fieldNames()(0)
        require(!fields.exists(_.name.equalsIgnoreCase(n)), s"column $n already exists")
        val id = mapping.map(_.id).maxOption.getOrElse(0) + 1
        // physical de-collision: a dropped column's bytes still sit in old
        // files under its phys name — a re-added logical twin gets a fresh
        // physical identity instead of inheriting them
        val phys =
          if (mapping.exists(_.phys.equalsIgnoreCase(n))) s"${n}_$id" else n
        mapping :+= ColumnMapEntry(id, n, phys)
        fields += org.apache.spark.sql.types.StructField(n, add.dataType(), nullable = true)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graft-snapshot evolution: nested column renames are unsupported")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(!immutable.contains(from.toLowerCase),
          s"cannot rename $from: the table key (conv_id, turn_idx) and the " +
            "stats column ts anchor bucketing, pruning and write distribution")
        require(!fields.exists(_.name.equalsIgnoreCase(to)), s"column $to already exists")
        val i = fields.indexWhere(_.name.equalsIgnoreCase(from))
        require(i >= 0, s"no such column $from")
        fields(i) = fields(i).copy(name = to)
        val mi = mapping.indexWhere(m => !m.dropped && m.name.equalsIgnoreCase(from))
        require(mi >= 0, s"column $from missing from the mapping (corrupt table metadata?)")
        mapping = mapping.updated(mi, mapping(mi).copy(name = to))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft-snapshot evolution: nested column drops are unsupported")
        val n = del.fieldNames()(0)
        require(!immutable.contains(n.toLowerCase),
          s"cannot drop $n: the table key (conv_id, turn_idx) and the " +
            "stats column ts anchor bucketing, pruning and write distribution")
        val i = fields.indexWhere(_.name.equalsIgnoreCase(n))
        require(i >= 0 || del.ifExists(), s"no such column $n")
        if (i >= 0) {
          fields.remove(i)
          val mi = mapping.indexWhere(m => !m.dropped && m.name.equalsIgnoreCase(n))
          if (mi >= 0) mapping = mapping.updated(mi, mapping(mi).copy(dropped = true))
        }
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames().length == 1,
          "graft-snapshot evolution: nested column type changes are unsupported")
        val n = up.fieldNames()(0)
        require(!immutable.contains(n.toLowerCase),
          s"cannot retype $n: the table key (conv_id, turn_idx) and the " +
            "stats column ts anchor bucketing, pruning and write distribution")
        val i = fields.indexWhere(_.name.equalsIgnoreCase(n))
        require(i >= 0, s"no such column $n")
        import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
        val ok = (fields(i).dataType, up.newDataType()) match {
          case (IntegerType, LongType)  => true // parquet reads INT32 as LONG
          case (FloatType, DoubleType)  => true // and FLOAT as DOUBLE
          case (a, b) if a == b         => true // idempotent no-op
          case _                        => false
        }
        require(ok,
          s"graft-snapshot evolution: only WIDENING type changes are " +
            s"metadata-only (INT→BIGINT, FLOAT→DOUBLE); $n is " +
            s"${fields(i).dataType.simpleString} → " +
            s"${up.newDataType().simpleString} requires a rewrite " +
            "(compact after migrating).")
        fields(i) = fields(i).copy(dataType = up.newDataType())
        widened = true
      case other => throw new UnsupportedOperationException(
        s"graft-snapshot supports metadata-only evolution (ADD COLUMNS, " +
          s"RENAME COLUMN, DROP COLUMN, widening ALTER COLUMN TYPE); got $other. " +
          "Migrate by compacting after a rewrite.")
    }
    require(fields.nonEmpty, "cannot drop every column")
    val nb = TableFormat.resolve(dir, None).numBuckets.getOrElse(
      sys.error(s"$dir records no bucket count"))
    // Persist the mapping only once the table is evolution-managed (a
    // rename, drop, de-collided phys name, or WIDENING exists — widening
    // needs the mapping marker so readers treat the meta schema as
    // authoritative). ADD-only evolution keeps the original no-mapping
    // behavior BIT-IDENTICAL — including time travel surfacing each
    // snapshot's own (pre-evolution) schema; mapped tables deliberately
    // surface the current logical schema everywhere instead.
    val mappingOpt = TableFormat.mapping(dir).map(_ => mapping)
      .orElse(if (widened || mapping.exists(m => m.dropped || m.name != m.phys))
        Some(mapping) else None)
    TableFormat.writeMeta(dir, TableMeta(TableFormat.schemaDdl(StructType(fields.toSeq)), nb,
      mappingOpt))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = Paths.get(dirOf(ident))
    if (!Files.exists(dir)) false
    else {
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.iterator.asScala.toSeq.foreach(rm) finally s.close()
        }
        Files.deleteIfExists(p)
        ()
      }
      rm(dir); true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    Files.move(Paths.get(dirOf(oldIdent)), Paths.get(dirOf(newIdent)))

  // ---- FunctionCatalog: the bucket transform as a V2 function ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    BucketFunctions.listFunctions(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    BucketFunctions.loadFunction(ident)

  // ---- ProcedureCatalog: SQL maintenance (CALL graft.system.…) ----

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(warehouse, ident).getOrElse(
      throw new RuntimeException(s"no such procedure: ${ident.namespace().mkString(".")}.${ident.name()}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.list(namespace)
}

/** The function catalog of the layout hash alone: the catalog's
  * function face, and what the library writer's relation carries so that
  * [[SnapshotWrite]] can require clustering by `bucket(n, conv_id)`. */
private[connector] object BucketFunctions extends FunctionCatalog {
  override def name(): String = "graft-snapshot"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** `bucket(numBuckets, conv_id)` — the table's physical layout as a V2
  * function. `canonicalName` is the identity two scans must share for
  * Spark to treat their KeyGroupedPartitionings as co-partitioned; it pins
  * the exact hash (xxhash64 seed 42, pmod), matching
  * [[graft.table.SnapshotTable.bucketOfId]] bit for bit. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, conv_id): pmod(xxhash64(conv_id, seed=42), n) — the snapshot table layout hash"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == StringType,
      s"bucket expects (int numBuckets, string conv_id), got ${inputType.catalogString}")
    GraftBucketBound
  }
}

object GraftBucketBound extends ScalarFunction[Integer] {
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket[xxhash64-seed42-pmod]"
  override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val h = XxHash64Function.hash(input.getUTF8String(1), StringType, 42L)
    (((h % n) + n) % n).toInt
  }
}
