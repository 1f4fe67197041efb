package graft.connector

import graft.table.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL stored procedures for snapshot-table maintenance (the Iceberg
  * `CALL catalog.system.…` analog on Spark 4's ProcedureCatalog API):
  *
  * {{{
  *   CALL graft.system.expire_snapshots('turns', 3)
  *   CALL graft.system.remove_orphan_files('turns', 86400000)
  *   CALL graft.system.compact('turns', 'nightly-7')
  *   CALL graft.system.rewrite_deletes('turns', 'maint-1', 10)
  *   CALL graft.system.publish_staged('turns', 12)
  *   CALL graft.system.restore('turns', 9)
  * }}}
  *
  * Every maintenance face the library exposes in Scala becomes callable
  * from pure SQL — at 100 TB the table operator running retention and
  * compaction from an orchestrator speaks SQL, not Scala. Results come
  * back as result sets (deleted paths, new snapshot ids), so the
  * orchestrator can log/audit what each run actually reclaimed.
  */
object GraftProcedures {

  private val PathRow = new StructType().add("path", StringType, nullable = false)
  private val SnapRow = new StructType().add("snapshot_id", LongType, nullable = false)
  private val CountRow = new StructType().add("entries", LongType, nullable = false)

  private def pathRows(ps: Seq[String]): Seq[InternalRow] =
    ps.map(p => new GenericInternalRow(Array[Any](UTF8String.fromString(p))))
  private def snapRow(id: Long): Seq[InternalRow] =
    Seq(new GenericInternalRow(Array[Any](id)))

  /** All procedures live in the `system` namespace, first argument is the
    * table name relative to the catalog warehouse. */
  def load(warehouse: String, ident: Identifier): Option[UnboundProcedure] = {
    if (!ident.namespace().sameElements(Array("system"))) return None
    def t(input: InternalRow) =
      SnapshotTable.open(s"$warehouse/${input.getUTF8String(0)}")
    def spark = SparkSession.active
    val p = ident.name().toLowerCase match {
      case "expire_snapshots" => GraftProcedure("expire_snapshots",
        Seq("table" -> StringType, "keep_last" -> IntegerType), PathRow,
        in => pathRows(t(in).expireSnapshots(spark, in.getInt(1))))
      case "remove_orphan_files" => GraftProcedure("remove_orphan_files",
        Seq("table" -> StringType, "older_than_ms" -> LongType), PathRow,
        in => pathRows(t(in).removeOrphanFiles(spark, in.getLong(1))))
      case "remove_orphan_manifests" => GraftProcedure("remove_orphan_manifests",
        Seq("table" -> StringType, "older_than_ms" -> LongType), PathRow,
        in => pathRows(t(in).removeOrphanManifests(in.getLong(1))))
      case "compact" => GraftProcedure("compact",
        Seq("table" -> StringType, "run_id" -> StringType), SnapRow,
        // any schema: evolved and column-mapped tables compact at the
        // physical level, pending merge-on-read deletes fold in
        in => snapRow(t(in).compact(spark, in.getUTF8String(1).toString)))
      case "build_dup_index" => GraftProcedure("build_dup_index",
        // Persist a MinHash-LSH near-dup index over the table's live text
        // at <table>/index/dup; SQL users then probe it via the
        // graft.`t$dupindex` metadata table (cell-pruned scans). Doc ids
        // are xxhash64(conv_id, turn_idx) — the stable 64-bit key of the
        // table's row key.
        Seq("table" -> StringType), CountRow,
        in => {
          val table = t(in)
          import org.apache.spark.sql.functions.{col, xxhash64}
          val docs = table.read(spark)
            .select(xxhash64(col("conv_id"), col("turn_idx")).as("doc_id"),
              col("text"))
          val idx = graft.dedup.DupIndex.build(spark, docs,
            s"${table.dir}/index/dup")
          snapRow(idx.count(spark))
        })
      case "build_vec_index" => GraftProcedure("build_vec_index",
        // Persist an IVF(-PQ) ANN index over a (vec_id, embedding) table
        // at <table>/index/vec; probe via graft.`t$vecindex` (cent_id-
        // pruned scans) or the library's VectorIndex.search.
        Seq("table" -> StringType), CountRow,
        in => {
          val table = t(in)
          val df = table.read(spark)
          require(df.columns.contains("vec_id") && df.columns.contains("embedding"),
            "build_vec_index needs (vec_id, embedding) columns; got " +
              s"[${df.columns.mkString(", ")}]")
          val idx = graft.vector.VectorIndex.build(spark,
            df.select("vec_id", "embedding"), s"${table.dir}/index/vec")
          snapRow(idx.count(spark))
        })
      case "rewrite_deletes" => GraftProcedure("rewrite_deletes",
        // delete-ratio-triggered MOR maintenance: rewrite only buckets
        // whose pending delete keys ≥ min_ratio_pct% of their data rows
        // (see SnapshotTable.rewriteDeletes); empty result set = nothing
        // crossed the threshold (the healthy steady state, not an error)
        Seq("table" -> StringType, "run_id" -> StringType,
          "min_ratio_pct" -> IntegerType), SnapRow,
        in => t(in).rewriteDeletes(spark, in.getUTF8String(1).toString,
          in.getInt(2) / 100.0).map(snapRow).getOrElse(Seq.empty))
      case "publish_staged" => GraftProcedure("publish_staged",
        Seq("table" -> StringType, "snapshot_id" -> LongType), SnapRow,
        in => { val id = in.getLong(1); t(in).publishStaged(id); snapRow(id) })
      case "discard_staged" => GraftProcedure("discard_staged",
        Seq("table" -> StringType, "snapshot_id" -> LongType), PathRow,
        in => pathRows(t(in).discardStaged(spark, in.getLong(1))))
      case "tag" => GraftProcedure("tag",
        Seq("table" -> StringType, "name" -> StringType, "snapshot_id" -> LongType), SnapRow,
        in => { val id = in.getLong(2); t(in).tag(in.getUTF8String(1).toString, id); snapRow(id) })
      case "create_branch" => GraftProcedure("create_branch",
        Seq("table" -> StringType, "name" -> StringType), SnapRow,
        in => snapRow(t(in).createBranch(in.getUTF8String(1).toString)))
      case "fast_forward" => GraftProcedure("fast_forward",
        Seq("table" -> StringType, "name" -> StringType), SnapRow,
        in => snapRow(t(in).fastForward(in.getUTF8String(1).toString)))
      case "drop_branch" => GraftProcedure("drop_branch",
        Seq("table" -> StringType, "name" -> StringType), SnapRow,
        in => {
          val table = t(in)
          val name = in.getUTF8String(1).toString
          val head = table.branches.getOrElse(name,
            throw new IllegalArgumentException(s"no branch '$name'"))
          table.dropBranch(name); snapRow(head)
        })
      case "restore" => GraftProcedure("restore",
        Seq("table" -> StringType, "snapshot_id" -> LongType), SnapRow,
        // rollback WITHOUT breaking the id chain (a raw CURRENT rewind
        // would make the next committer collide with the abandoned head,
        // Iceberg's rollback pitfall): restore commits a NEW snapshot
        // whose entries are exactly the target's — zero data IO, history
        // keeps both lines
        in => {
          val table = t(in)
          val entries = table.entriesAt(spark, in.getLong(1))
          val id = table.commitEntries(spark, entries, replaceBuckets = true,
            forceReplace = table.committedBuckets(spark))
            .getOrElse(sys.error("restore target has no entries"))
          snapRow(id)
        })
      case _ => null
    }
    Option(p)
  }

  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("expire_snapshots", "remove_orphan_files", "remove_orphan_manifests",
        "compact", "rewrite_deletes", "build_dup_index", "build_vec_index",
        "publish_staged", "discard_staged",
        "tag", "restore", "create_branch", "fast_forward", "drop_branch")
        .map(Identifier.of(namespace, _))
    else Array.empty
}

/** One maintenance procedure: unbound == bound (no overloading — the
  * parameter list is fixed; Spark coerces arguments to the declared
  * types). Runs driver-side; the result set rides back as a LocalScan. */
final case class GraftProcedure(name0: String,
    params: Seq[(String, DataType)], resultSchema: StructType,
    body: InternalRow => Seq[InternalRow])
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = name0
  override def description(): String = s"graft-snapshot maintenance: $name0"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] =
    params.map { case (n, t) => ProcedureParameter.in(n, t).build() }.toArray

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val out = body(input).toArray
    java.util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = out
      override def readSchema(): StructType = resultSchema
      override def description(): String = s"graft $name0 result"
    }).iterator()
  }
}
