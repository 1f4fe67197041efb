package graft.table

import graft.connector.{PublishRule, SnapshotRead, SnapshotWriterUtil}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.model.ExtractedTurn
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-STYLE snapshot table over plain Parquet (no Iceberg jar in this
  * sandbox — SURVEY §7.0; semantics implemented, format honest about being
  * our own):
  *
  *  - Data layout: `dir/data/run=<runId>/bucket=<b>/…parquet`, bucketed by
  *    `pmod(xxhash64(conv_id), numBuckets)` (the conv_id-bucketed layout of
  *    the north rule; bucket pruning = partition pruning on the bucket dir).
  *  - Snapshots: one manifest per snapshot, JSON Lines, one line per
  *    committed bucket with lineage (runId, parentId) and per-partition
  *    extraction metrics (turns, blocksKept, blocksDropped, charsEmitted,
  *    minTs, maxTs). Each snapshot lists the FULL committed set (Iceberg
  *    manifest-list style), so a reader needs exactly one file. What the
  *    metadata files are called and what they mean is [[TableFormat]]'s
  *    alone: every face parses and writes them there.
  *  - `dir/CURRENT` names the live snapshot, `dir/branches/<name>` and
  *    `dir/tags/<name>` the other refs ([[Refs]]); every ref moves by
  *    [[Refs.swing]] under the ref lock, a compare-and-swap against the
  *    snapshot the writer built on. Data written by a crashed run is
  *    invisible (unreferenced) — readers and resumers only trust the
  *    manifest, which is what makes resume exactly-once (SURVEY §7.4 #3:
  *    data first, manifest second, ref last).
  *  - Resume: a restarted run asks [[committedBuckets]] and processes only
  *    the complement (anti-join of input buckets vs committed — SURVEY §2.10).
  *  - Planning happens on the driver, as in Iceberg: the manifest is parsed
  *    with Jackson ([[TableFormat.readManifest]]), its file-sets are
  *    listed by the one listing every read face shares
  *    ([[graft.connector.SnapshotRead.listFiles]]), and data is read
  *    under the schema each entry recorded, so choosing the files of a read
  *    launches no Spark job however many file-sets it spans, and a point
  *    lookup runs exactly one (the scan).
  *
  * Reference precedent for at-least-once + idempotent naming: unique upload
  * names `/root/reference/src/controller/webapp.py:19-22`; batch-id matched
  * scatter/gather `src/extras/weinman/interface/linepredictor.py:32-51`.
  */
final class SnapshotTable(val dir: String, val numBuckets: Int) {
  import SnapshotTable.BucketEntry
  import Refs.{Branch, Expect, Main, Tag}

  private def manifestsDir: Path = TableFormat.manifestsDir(dir)
  private[graft] val refs = new Refs(dir)

  def bucketOf = pmod(xxhash64(col("conv_id")), lit(numBuckets.toLong)).cast("int")

  /** Driver/kernel-side twin of [[bucketOf]] (same xxhash64 seed 42 +
    * pmod) — a point lookup must not launch a Spark job to hash one key.
    * Parity with the SQL expression is asserted by SnapshotResumeSpec. */
  def bucketOfId(convId: String): Int = {
    val h = XxHash64Function.hash(UTF8String.fromString(convId), StringType, 42L)
    (((h % numBuckets) + numBuckets) % numBuckets).toInt
  }

  def currentSnapshotId: Option[Long] = refs.read(Main)

  /** All bucket entries of the live snapshot (empty if none), planned on
    * the driver: one Jackson parse of the manifest, no Spark job. `spark`
    * is not needed for that and is kept for the callers' signature. */
  def committedEntries(spark: SparkSession): Seq[BucketEntry] =
    liveEntries(spark)._2

  /** The live snapshot's id (-1 if none) and its entries, from one read of
    * CURRENT — a read names the snapshot it planned from in its errors. */
  private def liveEntries(spark: SparkSession): (Long, Seq[BucketEntry]) =
    currentSnapshotId match {
      case None     => (-1L, Seq.empty)
      case Some(id) => (id, entriesAt(spark, id))
    }

  /** Bucket entries of a SPECIFIC snapshot — time travel: older manifests
    * stay on disk (until [[expireSnapshots]]), so any historical snapshot
    * remains readable. */
  def entriesAt(spark: SparkSession, snapshotId: Long): Seq[BucketEntry] =
    TableFormat.readManifest(dir, snapshotId).entries

  def committedBuckets(spark: SparkSession): Set[Int] =
    committedEntries(spark).map(_.bucket).toSet

  /** Write `rows` (all buckets it contains) as a new run's data files and
    * commit a new snapshot = previous entries ∪ new entries. There is one
    * writer for every face: the rows go through the DataSource V2 writer
    * ([[graft.connector.SnapshotWrite]]) — Spark clusters them by bucket
    * and sorts (bucket, conv_id, turn_idx), so each bucket gets one file
    * per commit, in the stable order; executors stage per-attempt files
    * and count the per-bucket manifest stats as they write, and the
    * driver publishes data → manifest → ref
    * ([[graft.connector.SnapshotWriterUtil.publish]]). The stats come from
    * the commit messages of successful task attempts only, so a retried
    * task never double-counts and the written data is never re-scanned.
    * `rows` is any frame with a string `conv_id`; its columns are written
    * under their own names. `runId` must be fresh: a runId some retained
    * manifest already references fails fast before anything is renamed,
    * leaving the published files untouched.
    *
    * `replaceBuckets` selects the entry-merge rule: `true` (batch default)
    * replaces a bucket's previous entries — each bucket is written by
    * exactly one run under the incremental-resume protocol, and compaction
    * relies on replacement; `false` (the streaming sink) APPENDS this run's
    * entries alongside previous runs' — a bucket accumulates one file set
    * per micro-batch (readers union them; compaction folds them back to
    * one).
    *
    * `forceReplace` lists buckets whose previous entries must be replaced
    * even if this run wrote NO rows for them — the delete-only path of
    * [[replaceWhere]] (a bucket left empty after a row-level delete must
    * drop out of the manifest, not keep its stale entry).
    *
    * @return Some(the snapshot id the commit published), or None if `rows`
    *         was empty (no data ⇒ no new snapshot; the manifest chain is
    *         unchanged — unless `forceReplace` demands a delete-only
    *         commit). */
  def commit(spark: SparkSession, rows: Dataset[_], runId: String,
      replaceBuckets: Boolean = true, forceReplace: Set[Int] = Set.empty,
      toBranch: Option[String] = None): Option[Long] =
    SnapshotWriterUtil.write(rows.toDF(), dir, numBuckets, runId,
      PublishRule(replaceBuckets, forceReplace, toBranch = toBranch))

  /** The manifest half of the commit protocol, callable with entries
    * whose DATA is already written — the writer's driver-side publish
    * lands here: executors wrote the run's parquet (data first), the
    * driver merged their per-task stats into [[BucketEntry]]s, and this
    * publishes the manifest under an optimistic-concurrency claim, then
    * the ref by `swing` under the ref lock. `restore` and metadata-only
    * deletes call it with entries that reference existing data. */
  def commitEntries(spark: SparkSession, newEntries: Seq[BucketEntry],
      replaceBuckets: Boolean, forceReplace: Set[Int] = Set.empty,
      replaceExactly: Option[Set[Int]] = None,
      publish: Boolean = true,
      dropPaths: Set[String] = Set.empty,
      toBranch: Option[String] = None): Option[Long] = {
    require(publish || toBranch.isEmpty,
      "write-audit-publish staging targets the main line; audit on main " +
        "and fastForward a branch instead")
    // schema tracking governs DATA entries; merge-on-read delete entries
    // carry the fixed key schema and never participate in the guard
    val schemaDdl = newEntries.find(_.kind == "data").map(_.schema).getOrElse("")
    if (newEntries.isEmpty && forceReplace.isEmpty &&
        replaceExactly.forall(_.isEmpty) && dropPaths.isEmpty)
      return None

    // 3. MANIFEST SECOND: full committed set = parent's ∪ new. The parent
    // is the targeted REF's head: CURRENT for the main line, the branch
    // pointer for a branch commit (Iceberg branch semantics — branches
    // share one data dir and one snapshot-id space, diverge only in which
    // manifest their pointer names).
    val ref = toBranch.fold[Refs.Ref](Main)(Branch)
    val parent = refs.read(ref).getOrElse {
      require(toBranch.isEmpty, s"no branch '${toBranch.get}' in $dir (createBranch first)")
      -1L
    }
    val base = if (parent < 0) Seq.empty[BucketEntry] else entriesAt(spark, parent)
    val prevAll = replaceExactly match {
      // copy-on-write rule: drop EXACTLY the scanned groups; new entries
      // append (a new entry for an unscanned bucket rides alongside that
      // bucket's existing file-sets, like a streaming append)
      case Some(rb) => base.filterNot(e => rb(e.bucket))
      case None =>
        if (replaceBuckets)
          base.filterNot(e =>
            forceReplace(e.bucket) || newEntries.exists(_.bucket == e.bucket))
        else base
    }
    // metadata-only deletes: file-sets proven fully covered by the delete
    // predicate drop from the manifest with ZERO data IO (their files stay
    // for time travel until expireSnapshots) — the Iceberg metadata-delete
    // analog for retention age-off
    val prev = prevAll.filterNot(e => dropPaths(e.path))
    // delete-only commits (no new entries ⇒ schemaDdl empty) change no
    // schema and skip the guard. ADDITIVE EVOLUTION is allowed: two
    // schemas may coexist iff one is an exact name+type field-prefix of
    // the other (`ALTER TABLE ADD COLUMNS` appends nullable columns;
    // readers resolve the widest and null-fill old files). Anything else
    // — renames, type changes, reorders — is still rejected.
    // columns DROPPED via the catalog's field-id mapping stop appearing in
    // new write schemas, and columns WIDENED (int→long, float→double)
    // change type — on an evolution-managed table (mapping present),
    // normalize both sides modulo the dropped physical names and accept
    // widening pairs before the prefix test; genuine renames/reorders/
    // arbitrary type changes are still rejected, and unmapped tables keep
    // the strict name+type prefix rule
    lazy val dropped = TableFormat.mapping(dir)
      .map(_.filter(_.dropped).map(_.phys).toSet)
    // an entry recorded before TableFormat.schemaDdl quoted names holds
    // Spark's unquoted catalogString, which does not parse back for a name
    // that is not a plain identifier: the same schema, rendered the old way
    def schemaOk(a: String, b: String): Boolean =
      SnapshotTable.prefixCompatible(a, b) ||
        dropped.exists(SnapshotTable.prefixCompatibleModulo(a, b, _)) ||
        SnapshotTable.parseSchema(b).exists(_.catalogString == a)
    prev.find(e => e.kind == "data" && schemaDdl.nonEmpty && e.schema.nonEmpty &&
        e.schema != schemaDdl &&
        !schemaOk(e.schema, schemaDdl)).foreach { e =>
      throw new IllegalStateException(
        s"schema change detected: table $dir bucket ${e.bucket} (run ${e.runId}) " +
          s"was committed with schema [${e.schema}] but run " +
          s"${newEntries.headOption.map(_.runId).getOrElse("?")} writes " +
          s"[$schemaDdl]. Only additive evolution (appending nullable " +
          "columns) is supported; rewrite the table (compact after " +
          "migrating) for anything else.")
    }
    // Snapshot ids are allocated from the GLOBAL max published id, not
    // parent+1: branches and the main line share one id space, so a
    // diverged branch must never collide with (and thus permanently
    // block) main's next commit. STAGED (write-audit-publish) manifests
    // are excluded from the allocation base on purpose — a staged audit
    // keeps occupying the id the next committer computes, so every other
    // commit still CONFLICTS until the audit is published or discarded
    // (the WAP gate). Zero-length claims are invisible to snapshotIds,
    // so two racing committers still compute the same id and resolve on
    // the exclusive-create claim below.
    val publishedUnstagedMax = snapshotIds
      .filterNot(id => Files.exists(stagedMarker(id))).maxOption.getOrElse(-1L)
    val snapId = math.max(parent, publishedUnstagedMax) + 1
    Files.createDirectories(manifestsDir)
    // OPTIMISTIC CONCURRENCY (the Iceberg commit-CAS analog on a plain
    // filesystem): CLAIM the snapshot id with an atomic exclusive create
    // before writing anything. Two committers that both read parent = N
    // both want snap N+1 — exactly one create succeeds; the loser throws a
    // retryable conflict instead of silently clobbering the winner's
    // manifest (the pre-guard behavior: REPLACE_EXISTING + last-wins
    // CURRENT swing = lost commits). A committer that CRASHES between
    // claim and swing leaves a claimed-but-unpublished manifest blocking
    // its id — [[removeOrphanManifests]] is the age-gated reclaim (same
    // posture as removeOrphanFiles for data); a zero-length claim older
    // than the grace window is reclaimed inline ([[Refs.claim]]), which
    // lets a replayed streaming batch (same parent, same snapId) recover
    // from its own crashed predecessor.
    val target = TableFormat.manifestFile(dir, snapId)
    if (!Refs.claim(target))
      throw new SnapshotTable.CommitConflictException(
        s"concurrent commit on $dir: snapshot id $snapId is already " +
          s"claimed while the ref is at $parent. Re-read and retry; if a " +
          "committer crashed between claiming and publishing, reclaim " +
          "stale claims with removeOrphanManifests(olderThanMs).")
    // From here the claim is OURS: any failure before the ref swing must
    // release it, or this committer's own retry/replay (same parent ⇒
    // same snapId) would wedge on its own abandoned claim.
    try {
      // a delete-everything commit has ZERO entries: the format writes a
      // tombstone line instead
      TableFormat.writeManifest(dir, snapId, parent, numBuckets,
        (prev ++ newEntries).sortBy(_.bucket))

      if (!publish) {
        // WRITE-AUDIT-PUBLISH staging: everything above happened — data
        // landed, the id is claimed, the manifest is readable via time
        // travel — but CURRENT does not move. The marker is what tells
        // removeOrphanManifests "a live audit, not a crashed committer":
        // a stager killed before this line left an unmarked unpublished
        // manifest, which the age-gated reclaim treats exactly like any
        // other crashed commit. While staged, the id blocks the chain —
        // every other committer conflicts until publishStaged/
        // discardStaged resolves the audit (that IS the gate).
        Files.writeString(stagedMarker(snapId), "")
        return Some(snapId)
      }

      // 4. REF LAST (the commit point): `swing` under the ref lock moves
      // CURRENT for the main line, the branch pointer for a branch commit,
      // only if it still names the parent this snapshot was built on. A
      // fast-forward, WAP publish, or branch drop that moved the ref
      // since fails the commit (releasing the claim below) instead of
      // being rewound.
      refs.swing(ref, Expect.is(Some(parent).filter(_ >= 0)), snapId)
    } catch {
      case e: Throwable =>
        try Files.deleteIfExists(target)
        catch { case _: Throwable => () } // best effort; age-gated GC remains
        throw e
    }
    Some(snapId)
  }

  // --------------------------------------------- write-audit-publish (WAP)

  private def stagedMarker(snapshotId: Long): Path = TableFormat.stagedMarker(dir, snapshotId)

  /** Snapshot ids currently staged (committed-but-unpublished WAP
    * audits): non-empty manifest + marker, id beyond CURRENT. */
  def stagedIds: Seq[Long] =
    snapshotIds.filter(id => id > currentSnapshotId.getOrElse(-1L) &&
      Files.exists(stagedMarker(id)))

  /** Publish a staged snapshot: the deferred CURRENT swing of a
    * `commitEntries(…, publish = false)`. The staged claim blocks every
    * other committer, but not a fast-forward: the swing is a
    * compare-and-swap against the staged manifest's parent, and a moved
    * CURRENT fails the publish with a conflict (discard and re-stage). */
  def publishStaged(snapshotId: Long): Unit = {
    val m = TableFormat.manifestFile(dir, snapshotId)
    require(Files.exists(m) && Files.size(m) > 0,
      s"staged snapshot $snapshotId does not exist in $dir")
    require(Files.exists(stagedMarker(snapshotId)),
      s"snapshot $snapshotId is not staged (already published, or a foreign claim)")
    val parent = TableFormat.readManifest(dir, snapshotId).parentId
    // the marker is checked under the ref lock too: a discard that won
    // the lock first has deleted the manifest CURRENT would name
    val onParent = Expect.is(Some(parent).filter(_ >= 0))
    refs.swing(Main, onParent.copy(ok = seen =>
      onParent.ok(seen) && Files.exists(stagedMarker(snapshotId))), snapshotId)
    Files.deleteIfExists(stagedMarker(snapshotId))
    ()
  }

  /** Abandon a staged snapshot after a failed audit: delete its manifest
    * (freeing the claimed id for the next committer) and any data
    * file-sets only it referenced. Manifest-first ordering, same as
    * [[expireSnapshots]]. The checks and the manifest delete run under
    * the ref lock, so a racing [[publishStaged]] either lands first (and
    * the discard is refused) or finds the audit gone (and conflicts).
    * @return the deleted data paths. */
  def discardStaged(spark: SparkSession, snapshotId: Long): Seq[String] = {
    val mine = entriesAt(spark, snapshotId).map(_.path).toSet
    val keptPaths = snapshotIds.filterNot(_ == snapshotId)
      .flatMap(entriesAt(spark, _)).map(_.path).toSet
    refs.locked {
      require(Files.exists(stagedMarker(snapshotId)),
        s"snapshot $snapshotId is not staged — refusing to discard published history")
      require(currentSnapshotId.forall(_ < snapshotId),
        s"snapshot $snapshotId is not beyond CURRENT")
      Files.deleteIfExists(TableFormat.manifestFile(dir, snapshotId))
      Files.deleteIfExists(stagedMarker(snapshotId))
    }
    val dead = (mine -- keptPaths).toSeq.sorted
    dead.foreach(p => deleteTree(Paths.get(p)))
    dead
  }

  /** Pending merge-on-read delete keys of an entry set, applied as a
    * `(conv_id, turn_idx)` anti-join — the read-time half of
    * [[deleteRowsMor]]. Both sides are conv_id-bucketed on disk, so on
    * the co-located read path this is a per-bucket merge, and the delete
    * side is bounded by deletes-since-last-compact (transient by design —
    * [[compact]] folds them back to zero). */
  private def applyDeletes(spark: SparkSession, snap: Long, df: DataFrame,
      delEntries: Seq[BucketEntry]): DataFrame =
    if (delEntries.isEmpty) df
    else df.join(
      SnapshotRead.parquetRelation(spark, dir, snap, delEntries.map(_.path),
        Some(SnapshotTable.DeleteKeySchema)),
      Seq("conv_id", "turn_idx"), "left_anti")

  /** Data rows of an entry set of snapshot `snap` under the schema the
    * manifest recorded — WITHOUT delete application (callers decide). The
    * files come from the manifest's own listing and go to Spark's parquet
    * relation directly ([[SnapshotRead.parquetRelation]]): no partition
    * discovery, no listing job, and the recorded schema spares the
    * footer-inference job, so the only job of a read is its scan;
    * inference is left to legacy entries that recorded no schema. */
  private def dataRead(spark: SparkSession, snap: Long,
      dataEntries: Seq[BucketEntry]): DataFrame = {
    val ddls = dataEntries.map(_.schema).filter(_.nonEmpty).distinct
    val schema =
      if (ddls.size > 1)
        // additive evolution left old and new file-sets in one snapshot:
        // read under the WIDEST schema — parquet null-fills the columns an
        // old file doesn't carry (no mergeSchema footer sweep needed; the
        // manifest already knows the answer)
        SnapshotTable.widestSchema(ddls).flatMap(SnapshotTable.parseSchema)
          // an EVOLUTION-MANAGED table (mapping present) that dropped or
          // widened a column holds a mix no single entry schema covers:
          // read under the current logical schema re-expressed under
          // PHYSICAL names — dropped columns project away by omission,
          // widened columns upcast per file (the parquet reader reads
          // INT32 as LONG / FLOAT as DOUBLE when handed the wider type)
          .orElse(TableFormat.readMeta(dir).filter(_.mapping.isDefined)
            .map(m => TableFormat.toPhysical(dir, m.structType)))
          // otherwise: incompatible mix (pre-guard table) — infer as before
      else if (ddls.size == 1 && dataEntries.forall(_.schema.nonEmpty))
        SnapshotTable.parseSchema(ddls.head)
      else None
    SnapshotRead.parquetRelation(spark, dir, snap, dataEntries.map(_.path), schema)
  }

  /** Logical rows of an entry set of snapshot `snap`: data minus pending
    * MOR deletes. */
  private def logicalRead(spark: SparkSession, snap: Long,
      entries: Seq[BucketEntry]): DataFrame = {
    val (del, data) = entries.partition(_.kind == "delete")
    applyDeletes(spark, snap, dataRead(spark, snap, data), del)
  }

  /** Read the live snapshot (only manifest-listed paths — orphan data from
    * crashed runs is invisible). */
  def read(spark: SparkSession): DataFrame = {
    val (snap, entries) = liveEntries(spark)
    require(entries.nonEmpty, s"no committed snapshot in $dir")
    logicalRead(spark, snap, entries)
  }

  /** Per-bucket table statistics straight from the live manifest — the
    * Iceberg metadata-table analog (`table$partitions`): turns / blocks /
    * chars and the ts range come from the writers' commit messages, so the
    * query costs ZERO data-file IO. At 100 TB the difference between a
    * manifest read and a table scan is the whole point of carrying stats
    * in the manifest — "how big is each bucket / how fresh is the data"
    * must not cost a cluster job. One row per bucket, aggregated over the
    * bucket's file sets (incremental/streaming commits append several). */
  def stats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // manifest stats describe DATA file-sets; pending MOR deletes are not
    // netted out until compact folds them (document, don't guess — the
    // delete side's per-bucket key counts are in its own entries)
    committedEntries(spark).filter(_.kind == "data")
      .map(e => (e.bucket, e.turns, e.blocksKept, e.blocksDropped,
        e.charsEmitted, e.minTs, e.maxTs))
      .toDF("bucket", "turns", "blocksKept", "blocksDropped",
        "charsEmitted", "minTs", "maxTs")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_filesets"),
        sum(col("turns")).as("turns"),
        sum(col("blocksKept")).as("blocks_kept"),
        sum(col("blocksDropped")).as("blocks_dropped"),
        sum(col("charsEmitted")).as("chars_emitted"),
        min(col("minTs")).as("min_ts"),
        max(col("maxTs")).as("max_ts"))
      .orderBy(col("bucket"))
  }

  /** Time-travel read: the table as of `snapshotId` (Iceberg
    * `VERSION AS OF` analog — compaction and later commits do not delete
    * the files older manifests reference). */
  def readAt(spark: SparkSession, snapshotId: Long): DataFrame = {
    val entries = entriesAt(spark, snapshotId)
    require(entries.nonEmpty, s"snapshot $snapshotId is empty")
    logicalRead(spark, snapshotId, entries)
  }

  /** Bucket-pruned single-conversation read: computes the conversation's
    * bucket driver-side and scans ONLY that bucket's files — the partition
    * pruning the bucketed layout exists for (S1's single-row path:
    * `.where(conv_id === x)` without touching the other 99.9% of the table).
    */
  def readConversation(spark: SparkSession, convId: String): DataFrame = {
    val b = bucketOfId(convId) // driver-side hash: a point lookup costs no job
    val (snap, live) = liveEntries(spark)
    val entries = live.filter(_.bucket == b)
    require(entries.nonEmpty, s"bucket $b not committed in $dir")
    logicalRead(spark, snap, entries)
      .where(col("conv_id") === convId)
  }

  /** Compaction (Iceberg rewrite-data-files analog): reads the live
    * snapshot and rewrites every bucket as one fresh run, committing a
    * snapshot where each bucket points at exactly one compacted file set.
    * Old files stay on disk but become unreferenced from the NEW snapshot
    * (still time-travel-able via older manifests) — [[expireSnapshots]] is
    * the GC pass that reclaims them. Incremental runs append a
    * run-directory per resume — compaction folds them back to one. */
  def compact(spark: SparkSession, runId: String): Long =
    // the table's rows as they are (any schema: evolved and column-mapped
    // tables compact at the physical level). forceReplace every committed
    // bucket: the compacted snapshot holds EXACTLY the rewrite — stale
    // pairs of a fully-MOR-deleted bucket (all data matched by delete keys
    // ⇒ no compacted output rows for it) drop out instead of lingering,
    // and every pending delete file-set folds in
    commit(spark, read(spark), runId, replaceBuckets = true,
      forceReplace = committedBuckets(spark))
      .getOrElse(sys.error(s"compact of empty table $dir"))

  /** Row-level maintenance (the Iceberg delete/overwrite-where analog at
    * bucket granularity — "reprocess one conversation after a bad kernel
    * deploy" without a full-table compact): rewrites ONLY the buckets that
    * own `convIds`. Survivors = those buckets' current rows minus the
    * targeted conversations; `replacement` (possibly empty = pure delete)
    * is unioned in and must itself belong to the rewritten buckets
    * (validated — a stray row would otherwise vanish from a bucket this
    * commit doesn't cover). Every other bucket's files are untouched
    * (readers of the new snapshot keep pointing at the OLD file-sets), and
    * the write is crash-safe under the existing data-first → manifest →
    * CURRENT protocol: a crash at any point leaves the previous snapshot
    * live and time travel intact.
    *
    * At 100 TB this is the point of the conv_id-bucketed layout: the
    * rewrite cost is O(buckets touched), i.e. O(convIds), not O(table). */
  def replaceWhere(spark: SparkSession, convIds: Seq[String],
      replacement: Dataset[_], runId: String): Option[Long] =
    rewriteConversations(spark, convIds, Some(replacement.toDF()), runId)

  /** Pure row-level delete: [[replaceWhere]] with no replacement rows. */
  def deleteConversations(spark: SparkSession, convIds: Seq[String],
      runId: String): Option[Long] =
    rewriteConversations(spark, convIds, None, runId)

  /** The owning buckets' rows minus `convIds`, plus `replacement`, in the
    * table's own schema (untyped: any schema with a string `conv_id`). */
  private def rewriteConversations(spark: SparkSession, convIds: Seq[String],
      replacement: Option[DataFrame], runId: String): Option[Long] = {
    require(convIds.nonEmpty, "replaceWhere needs at least one conversation")
    val buckets = convIds.map(bucketOfId).toSet
    val (snap, live) = liveEntries(spark)
    val entries = live.filter(e => buckets(e.bucket))
    require(entries.nonEmpty, s"none of buckets $buckets is committed in $dir")
    replacement.foreach { r =>
      val stray = r.filter(!bucketOf.isin(buckets.toSeq: _*)).count()
      require(stray == 0L,
        s"$stray replacement row(s) hash outside the rewritten buckets $buckets")
    }
    val survivors = logicalRead(spark, snap, entries) // pending MOR deletes honored
      .where(!col("conv_id").isin(convIds: _*))
    commit(spark, replacement.fold(survivors)(survivors.unionByName(_)), runId,
      replaceBuckets = true, forceReplace = buckets)
  }

  /** MERGE-ON-READ row-level delete (the Iceberg v2 position/equality
    * delete-file analog, equality form on the table key): instead of
    * rewriting the owning buckets (copy-on-write — [[replaceWhere]] /
    * [[merge]] / the SQL row-level ops), the delete writes only the
    * `(conv_id, turn_idx)` KEYS as a bucketed parquet file-set and commits
    * a manifest entry of `kind = "delete"`. Write cost is O(deleted keys)
    * — at 100 TB, deleting a few thousand rows costs kilobytes, not a
    * bucket rewrite. Every read path applies pending deletes as a
    * co-bucketed anti-join; [[compact]] folds them back into plain data
    * file-sets (the read-tax amortization point, as in Iceberg). Time
    * travel to the pre-delete snapshot still sees the rows (the data
    * files are untouched by construction). Keys that match nothing are
    * inert. The V2 connector refuses to scan/append a snapshot with
    * pending MOR deletes (compact first, or read through the library)
    * rather than silently resurrecting rows — the Iceberg format-version
    * posture. LIMITATION (no sequence numbers): a pending delete key
    * applies to EVERY file-set of its bucket, so re-inserting a deleted
    * key before the next compact re-deletes the new row too — compact
    * before re-ingesting keys you previously MOR-deleted.
    *
    * @param keys distinct delete keys; extra columns are ignored.
    * @return the new snapshot id (None if `keys` touches no committed
    *         bucket). */
  def deleteRowsMor(spark: SparkSession, keys: DataFrame,
      runId: String): Option[Long] = {
    require(keys.columns.contains("conv_id") && keys.columns.contains("turn_idx"),
      s"deleteRowsMor needs (conv_id, turn_idx) columns; got [${keys.columns.mkString(", ")}]")
    val live = committedBuckets(spark)
    val k = keys
      .select(col("conv_id").cast("string").as("conv_id"),
        col("turn_idx").cast("int").as("turn_idx"))
      .distinct()
      .filter(bucketOf.isin(live.toSeq: _*)) // keys to nowhere are inert
    // through the one writer, as `kind = "delete"` entries: the per-bucket
    // key counts come from the write's own commit messages, so the
    // caller's keys are evaluated once and the counted set is the written
    // set; a zero-match delete writes no file and publishes nothing (None)
    SnapshotWriterUtil.write(k, dir, numBuckets, runId,
      PublishRule(kind = "delete"))
  }

  /** [[deleteRowsMor]] by predicate: the matching keys are computed from
    * the live logical table, then deleted merge-on-read. */
  def deleteWhereMor(spark: SparkSession, condition: org.apache.spark.sql.Column,
      runId: String): Option[Long] =
    deleteRowsMor(spark,
      read(spark).where(condition).select(col("conv_id"), col("turn_idx")), runId)

  /** Targeted MOR-delete compaction (the Iceberg
    * `rewrite_position_delete_files` / delete-ratio-triggered
    * `rewrite_data_files` maintenance analog): folds pending delete
    * file-sets back into plain data — but ONLY for buckets whose pending
    * delete-key count is at least `minDeleteRatio` of the bucket's data
    * rows. This is what keeps merge-on-read read amplification bounded at
    * scale: every read of a delete-carrying bucket pays the anti-join
    * tax, so buckets past the threshold get rewritten (O(those buckets),
    * not O(table) like [[compact]]), while lightly-deleted buckets keep
    * their cheap delete files. The decision is manifest-only (driver-side
    * counts, no data IO); the rewrite itself reads just the targeted
    * buckets' files and commits under the standard crash-safe protocol.
    *
    * @return the new snapshot id, or None when no bucket crosses the
    *         threshold (nothing to do — the healthy steady state). */
  def rewriteDeletes(spark: SparkSession, runId: String,
      minDeleteRatio: Double = 0.1): Option[Long] = {
    require(minDeleteRatio >= 0.0, s"negative minDeleteRatio $minDeleteRatio")
    val (snap, entries) = liveEntries(spark)
    val targets = entries.groupBy(_.bucket).collect {
      case (b, es) if {
        val delKeys = es.filter(_.kind == "delete").map(_.turns).sum
        val dataRows = math.max(1L, es.filter(_.kind == "data").map(_.turns).sum)
        delKeys > 0 && delKeys.toDouble / dataRows >= minDeleteRatio
      } => b
    }.toSet
    if (targets.isEmpty) return None
    val tEntries = entries.filter(e => targets(e.bucket))
    // pending deletes applied exactly once, here — the rewritten buckets
    // carry no delete entries afterwards (forceReplace drops them)
    commit(spark, logicalRead(spark, snap, tEntries), runId, replaceBuckets = true,
      forceReplace = targets)
  }

  /** Keyed UPSERT (the Iceberg `MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT` analog on the table key `(conv_id, turn_idx)`): rows in
    * `updates` replace same-key rows where they exist and insert otherwise.
    * Unlike [[replaceWhere]] (whole-conversation granularity, caller decides
    * the targets), merge derives the touched buckets FROM the update set and
    * preserves every non-matching row of those buckets — the "late
    * correction lands in an existing conversation" flow.
    *
    * Scale shape: the update set is the small side by assumption; survivors
    * are read from the touched buckets ONLY (O(updates), not O(table)) and
    * anti-joined against the distinct update keys. Multiple update rows for
    * one key are rejected up front — Iceberg MERGE's cardinality rule; a
    * nondeterministic "one of them wins" would poison the table silently.
    * Crash-safe under the data-first → manifest → CURRENT protocol; every
    * untouched bucket's files stay byte-identical in the new snapshot. */
  def merge(spark: SparkSession, updates: Dataset[ExtractedTurn],
      runId: String): Option[Long] = {
    import spark.implicits._
    val dups = updates.groupBy(col("conv_id"), col("turn_idx"))
      .count().filter(col("count") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"merge updates contain multiple rows for key (${dups.head.get(0)}, " +
        s"${dups.head.get(1)}) — one row per (conv_id, turn_idx) required")
    val buckets = updates.toDF().select(bucketOf.as("b")).distinct()
      .as[Int].collect().toSet
    require(buckets.nonEmpty, "merge with an empty update set")
    val (snap, live) = liveEntries(spark)
    val entries = live.filter(e => buckets(e.bucket))
    val keys = updates.select(col("conv_id"), col("turn_idx")).distinct()
    val survivors =
      (if (entries.isEmpty) spark.emptyDataset[ExtractedTurn].toDF()
       else logicalRead(spark, snap, entries)) // pending MOR deletes honored
        .join(keys, Seq("conv_id", "turn_idx"), "left_anti")
        .as[ExtractedTurn]
    commit(spark, survivors.unionByName(updates), runId,
      replaceBuckets = true, forceReplace = buckets)
  }

  /** Bucket-layout EVOLUTION (the Iceberg partition-spec-evolution analog):
    * rewrite the live snapshot at a new bucket count — the operation a
    * growing table needs when the count chosen at day one stops matching
    * the data (buckets too fat for a task, or so many that point reads
    * touch dust-sized files). One full rewrite through the existing commit
    * machinery, so it inherits crash safety (data → manifest → CURRENT; a
    * crash leaves the OLD layout live) and time travel (older snapshots
    * keep their old-layout file sets and remain readable via [[readAt]]).
    *
    * `forceReplace` covers the shrink case: old-layout bucket ids ≥ the
    * new count would otherwise survive the entry merge as stale manifest
    * lines pointing at superseded data.
    *
    * Returns the handle for the NEW layout — the receiver keeps hashing
    * point reads with the old count and must not be used afterwards
    * ([[SnapshotTable.open]] recovers the live layout from the manifest,
    * so readers never need to know a rebucket happened). */
  def rebucket(spark: SparkSession, newNumBuckets: Int, runId: String): SnapshotTable = {
    require(newNumBuckets > 0, s"bucket count must be positive: $newNumBuckets")
    // the target handle writes, so rows hash with the NEW count
    val target = new SnapshotTable(dir, newNumBuckets)
    val old = committedBuckets(spark)
    target.commit(spark, read(spark), runId,
      replaceBuckets = true, forceReplace = old)
      .getOrElse(sys.error(s"rebucket of empty table $dir"))
    target
  }

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toSeq finally s.close()
  }

  /** Delete `p` and everything under it, if it exists. */
  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator.asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
    finally w.close()
  }

  /** All snapshot ids present on disk (ascending). */
  def snapshotIds: Seq[Long] =
    if (!Files.exists(manifestsDir)) Seq.empty
    else listDir(manifestsDir)
      // a zero-length manifest is a CLAIM from an in-flight (or crashed)
      // committer, not a snapshot — invisible to readers/GC until
      // published (removeOrphanManifests reclaims crashed claims). A file
      // deleted between the listing and the stat (concurrent GC/reclaim —
      // exactly what optimistic concurrency allows) counts as absent, not
      // a crash.
      .filter { p =>
        try Files.size(p) > 0
        catch { case _: java.nio.file.NoSuchFileException => false }
      }
      .flatMap(TableFormat.snapshotIdOf(_, staged = false))
      .sorted

  /** Snapshot GC (Iceberg `expireSnapshots` analog): keep the newest
    * `keepLast` snapshots (always including the live one), delete older
    * manifests, and delete every data file-set referenced ONLY by the
    * expired manifests. Kept snapshots remain fully time-travel-able: a
    * file-set reachable from any kept manifest is never touched. Without
    * this pass an incremental pipeline re-run daily doubles storage until
    * someone hand-deletes — the round-2 verdict's top missing item.
    *
    * Crash-safe ordering: manifests are deleted FIRST, then the data they
    * referenced — a crash mid-GC leaves unreferenced data (re-collectable
    * by a rerun), never a manifest pointing at deleted data.
    *
    * @return the deleted data paths (bucket file-set directories). */
  def expireSnapshots(spark: SparkSession, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "must keep at least the live snapshot")
    val ids = snapshotIds
    // tagged snapshots are pinned (the [[tag]] retention contract);
    // staged WAP snapshots are live audits (always newest, but explicit);
    // branch snapshots keep their whole parent CHAIN, not just the head:
    // manifests are self-contained for READS, but fastForward and
    // branchReachableIds walk parentOf through the intermediate manifest
    // files — expiring a multi-commit branch's intermediates would make a
    // still-legitimate fast-forward permanently refuse with "CURRENT is
    // not an ancestor". Bounded by the branch's commit count (small).
    val keep = ids.takeRight(keepLast).toSet ++ currentSnapshotId ++
      tags.values ++ stagedIds ++ branchReachableIds
    val expired = ids.filterNot(keep)
    if (expired.isEmpty) return Seq.empty
    val keptPaths = keep.toSeq.flatMap(entriesAt(spark, _)).map(_.path).toSet
    val deadPaths = expired.flatMap(entriesAt(spark, _)).map(_.path)
      .distinct.filterNot(keptPaths)
    // 1. manifests first (see ordering note above)
    expired.foreach(id => Files.deleteIfExists(TableFormat.manifestFile(dir, id)))
    // 2. then the newly-unreachable data file-sets
    deadPaths.foreach { p =>
      val path = Paths.get(p)
      deleteTree(path)
      // drop the parent run=<id> dir too once its last bucket is gone —
      // writer-side markers (_SUCCESS, .crc) don't count as live content
      val run = path.getParent
      if (run != null && Files.isDirectory(run)) {
        val residue = listDir(run)
        if (residue.forall(f => { val n = f.getFileName.toString
          n.startsWith("_") || n.startsWith(".") })) {
          residue.foreach(Files.deleteIfExists(_))
          Files.deleteIfExists(run)
        }
      }
    }
    deadPaths
  }

  // ---------------------------------------------------------------- tags

  /** Tag a snapshot (Iceberg tag analog): a named, immutable pin on a
    * snapshot id — "the corpus release we trained v3 on". Tags are the
    * retention contract: [[expireSnapshots]] NEVER collects a tagged
    * snapshot, however old, so a tagged release stays reproducible while
    * the daily chain around it is GC'd. Re-tagging moves the tag (a
    * `swing` that accepts any previous value); the name is validated to
    * stay a safe path segment. */
  def tag(name: String, snapshotId: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"unsafe tag name: $name")
    require(snapshotIds.contains(snapshotId),
      s"cannot tag unknown snapshot $snapshotId (have ${snapshotIds.mkString(",")})")
    refs.swing(Tag(name), Expect.AnyValue, snapshotId)
  }

  /** All tags: name → snapshot id. */
  def tags: Map[String, Long] = refs.list(Refs.TagKind)

  def dropTag(name: String): Boolean = refs.drop(Tag(name))

  /** Time travel by tag. */
  def readTag(spark: SparkSession, name: String): DataFrame =
    readAt(spark, refs.read(Tag(name)).getOrElse(
      throw new IllegalArgumentException(s"no tag '$name' in $dir")))

  // ------------------------------------------------------------ branches

  /** Create a branch (Iceberg branch analog): a named MUTABLE pointer
    * starting at `fromSnapshotId` (default: the live snapshot). Commits
    * with `toBranch = Some(name)` build on the branch head and swing only
    * the branch pointer — the main line (CURRENT) never sees them until
    * [[fastForward]]. The canonical flow is the long-lived audit:
    * reprocess a month of data on a branch over several commits, validate
    * the branch read, then fast-forward main — WAP for multi-commit work.
    * Branches share the main line's data dir and snapshot-id space; a
    * branch commit's manifest is a first-class snapshot (time travel by
    * id works), it just isn't named by CURRENT. */
  def createBranch(name: String, fromSnapshotId: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z0-9._-]+"), s"unsafe branch name: $name")
    val from = fromSnapshotId.orElse(currentSnapshotId).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in $dir to branch from"))
    require(snapshotIds.contains(from),
      s"cannot branch from unknown snapshot $from (have ${snapshotIds.mkString(",")})")
    refs.swing(Branch(name), Expect.Absent, from)
    from
  }

  /** All branches: name → head snapshot id. */
  def branches: Map[String, Long] = refs.list(Refs.BranchKind)

  /** Drop a branch pointer. Its commits stay time-travel-able by id until
    * [[expireSnapshots]] / [[removeOrphanManifests]] collect them (they
    * lose their GC protection with the pointer — an abandoned experiment
    * ages off with the rest of the history). */
  def dropBranch(name: String): Boolean = refs.drop(Branch(name))

  /** Read a branch's head snapshot. */
  def readBranch(spark: SparkSession, name: String): DataFrame =
    readAt(spark, refs.read(Branch(name)).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' in $dir")))

  /** Parent snapshot id of a manifest (the lineage pointer every entry
    * line carries); None when the manifest is gone or unreadable. */
  private[graft] def parentOf(id: Long): Option[Long] =
    scala.util.Try(TableFormat.readManifest(dir, id).parentId).toOption

  /** `head` and its ancestors, newest first, by parent pointers. */
  private def chain(head: Long): Iterator[Long] =
    Iterator.iterate(Option(head))(_.flatMap(parentOf))
      .takeWhile(_.exists(_ >= 0)).flatten

  /** Every snapshot id reachable by parent pointers from a branch head —
    * the set GC must treat as published branch history, not crashed
    * claims. A walk stops where an earlier branch's walk already went. */
  private def branchReachableIds: Set[Long] =
    branches.values.foldLeft(Set.empty[Long])((seen, head) =>
      seen ++ chain(head).takeWhile(!seen(_)))

  /** Fast-forward the main line to a branch head (the Iceberg
    * `fast_forward` procedure): allowed only when the branch head is a
    * DESCENDANT of CURRENT (walking the branch's parent chain reaches
    * CURRENT), so main's history is a prefix of the branch's — a plain
    * pointer advance, never a rewrite. Non-fast-forward states (main
    * advanced independently since the branch was cut) are refused;
    * reconcile by re-branching from the new main and replaying, as with
    * git. The ancestry walk is the `swing`'s expectation, checked under
    * the ref lock, so a main-line commit or publish that lands first makes
    * the fast-forward conflict instead of being rewound. The branch
    * pointer itself is left in place. */
  def fastForward(name: String): Long = {
    val head = refs.read(Branch(name)).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' in $dir"))
    def isAncestor(cur: Option[Long]): Boolean =
      cur.forall(c => chain(head).takeWhile(_ >= c).contains(c))
    refs.swing(Main, Expect(isAncestor, cur =>
      s"is ${cur.getOrElse(-1L)}, not an ancestor of branch '$name' (head " +
        s"$head): cannot fast-forward. Re-branch from the live snapshot and " +
        "replay the branch's changes."), head)
    head
  }

  /** Orphan-file cleanup (Iceberg `removeOrphanFiles` analog): delete data
    * file-sets under `data/` that NO manifest on disk references. Orphans
    * are the residue of the crash-safe commit protocol itself — data is
    * written FIRST, so a writer that dies before its manifest lands leaves
    * a complete but unreachable `run=<id>/bucket=<b>` tree that `read`
    * correctly ignores but nothing ever deletes; a pipeline that retries
    * failed runs accumulates them forever. [[expireSnapshots]] cannot
    * collect these (it only walks manifest-referenced paths), so the two
    * maintenance passes are complements, as in Iceberg.
    *
    * `olderThanMillis` is the same safety valve as Iceberg's `olderThan`:
    * an IN-FLIGHT writer has, by protocol, already written data its
    * manifest hasn't claimed yet — deleting young unreferenced files would
    * corrupt a concurrent commit. Only bucket dirs whose newest file is
    * older than the horizon are collected.
    *
    * @return deleted bucket file-set paths. */
  /** Reclaim snapshot ids CLAIMED by committers that crashed between the
    * exclusive claim and the CURRENT swing (see the optimistic-concurrency
    * note in commit): a claimed-but-unpublished manifest blocks its id for
    * every future committer. Deletes manifest files with id > CURRENT whose
    * mtime is older than the horizon — the age gate protects an in-flight
    * commit, exactly like [[removeOrphanFiles]] protects in-flight data.
    * Never touches ids ≤ CURRENT (committed history / time travel). */
  def removeOrphanManifests(olderThanMillis: Long): Seq[String] = {
    if (!Files.exists(manifestsDir)) return Seq.empty
    val cur = currentSnapshotId.getOrElse(-1L)
    // ids published to a BRANCH sit beyond CURRENT by construction but are
    // live history, not crashed claims — everything reachable from a
    // branch head is off-limits (dropBranch is what releases them)
    val branchLive = branchReachableIds
    val horizon = System.currentTimeMillis() - olderThanMillis
    // a WAP marker whose manifest is gone (discard crashed between the
    // two deletes) is inert residue — sweep it
    listDir(manifestsDir).foreach { p =>
      TableFormat.snapshotIdOf(p, staged = true)
        .filterNot(id => Files.exists(TableFormat.manifestFile(dir, id)))
        .foreach(_ => Files.deleteIfExists(p))
    }
    listDir(manifestsDir).flatMap { p =>
      TableFormat.snapshotIdOf(p, staged = false) match {
        case Some(id) if id > cur && !branchLive(id) =>
          // tolerate the concurrent-reclaim race (another GC or a
          // committer's publish/delete between our listing and the stat)
          // — same posture as snapshotIds
          try {
            // a STAGED snapshot (non-empty manifest + marker) is a live
            // write-audit-publish audit, not a crashed commit — never
            // reclaimed, however old; publishStaged/discardStaged are its
            // only exits. A zero-length claim is reclaimable even when
            // marked (the stager died before its manifest landed).
            val staged = Files.exists(stagedMarker(id)) && Files.size(p) > 0
            if (!staged && Files.getLastModifiedTime(p).toMillis < horizon &&
                Files.deleteIfExists(p)) {
              Files.deleteIfExists(stagedMarker(id))
              Some(p.toString)
            } else None
          } catch { case _: java.nio.file.NoSuchFileException => None }
        case _ => None
      }
    }
  }

  def removeOrphanFiles(spark: SparkSession, olderThanMillis: Long): Seq[String] = {
    val dataDir = Paths.get(dir, "data")
    if (!Files.exists(dataDir)) return Seq.empty
    val live = snapshotIds.flatMap(entriesAt(spark, _)).map(_.path).toSet
    val horizon = System.currentTimeMillis() - olderThanMillis
    def newestMtime(p: Path): Long = {
      val w = Files.walk(p)
      try w.iterator.asScala.map(Files.getLastModifiedTime(_).toMillis).max
      finally w.close()
    }
    val deleted = for {
      run <- listDir(dataDir) if Files.isDirectory(run)
      bucket <- listDir(run)
      if Files.isDirectory(bucket) &&
        bucket.getFileName.toString.startsWith("bucket=") &&
        !live(bucket.toString) && newestMtime(bucket) < horizon
    } yield {
      deleteTree(bucket)
      bucket.toString
    }
    // drop run dirs reduced to writer-side markers (_SUCCESS, .crc) or a
    // crashed V2 writer's _staging TREE — but only if the residue itself is
    // past the horizon (a run dir whose buckets were ALL orphaned above is
    // garbage; a just-created one with no buckets yet may be a writer about
    // to move files in). Markers can be whole directories (_staging holds
    // per-attempt subtrees), so deletion is recursive.
    listDir(dataDir).filter(Files.isDirectory(_)).foreach { run =>
      val residue = listDir(run)
      if (residue.forall(f => { val n = f.getFileName.toString
        n.startsWith("_") || n.startsWith(".") }) &&
          (residue.isEmpty || newestMtime(run) < horizon)) {
        residue.foreach(deleteTree)
        Files.deleteIfExists(run)
      }
    }
    deleted
  }

  /** Incremental scan (Iceberg `incremental append scan` analog): the rows
    * added AFTER `fromSnapshotId`, up to and including `toSnapshotId` —
    * exactly the file-sets listed by `to`'s manifest but not `from`'s. A
    * downstream consumer (the incremental-dedup ingest, a feature
    * extractor, an index builder) re-processes only the delta instead of
    * re-scanning the table per run; at 100 TB the difference is the whole
    * job. Driver cost: two manifest reads — no data-file listing.
    *
    * Semantics are APPEND-ONLY, like Iceberg's (the rule is
    * [[SnapshotRead.delta]], shared with the incremental V2 read and the
    * stream): if any file-set referenced by `from` is gone from `to`, or
    * `to` adds a merge-on-read delete key-set, some bucket was REWRITTEN or
    * MOR-deleted in between (compact / replaceWhere / delete), "rows added
    * since" is no longer well-defined from manifests alone, and this method
    * throws. Passing `allowReplaced = true` opts into the overwrite-tolerant
    * reading: the delta then includes the FULL new content of each affected
    * bucket (a superset of the true row-delta — callers who opt in must be
    * idempotent on re-delivered rows, the same contract as the streaming
    * sink's at-least-once replay).
    *
    * The snapshot id space is linear (parent+1, single-writer commit
    * protocol), so `from ≤ to` with both manifests present identifies the
    * chain; intermediate snapshots may already be expired — only the two
    * endpoint manifests are consulted. */
  def readChanges(spark: SparkSession, fromSnapshotId: Long, toSnapshotId: Long,
      allowReplaced: Boolean = false): DataFrame = {
    require(fromSnapshotId <= toSnapshotId,
      s"fromSnapshotId $fromSnapshotId must be ≤ toSnapshotId $toSnapshotId")
    val toEntries = entriesAt(spark, toSnapshotId)
    val delta = SnapshotRead.delta(dir, fromSnapshotId, toSnapshotId, toEntries, allowReplaced)
    // buckets that gained delete keys must be redelivered as their FULL
    // new logical content (data minus deletes at `to`); everything else
    // is the plain added-data delta — with one more wrinkle: with no
    // sequence numbers, a delete key committed BEFORE `from` still applies
    // to data files appended AFTER it (it kills its key in EVERY file-set
    // of the bucket), so added data landing in a bucket with OLDER pending
    // deletes must have those keys anti-joined out, or the delta
    // over-delivers rows that are logically deleted at `to`.
    val morBuckets = delta.morDeleted.map(_.bucket).toSet
    val rest = delta.added.filter(e => e.kind == "data" && !morBuckets(e.bucket))
    val oldDel = toEntries.filter(e =>
      e.kind == "delete" && !morBuckets(e.bucket) &&
        rest.exists(_.bucket == e.bucket))
    val parts = Seq(
      if (morBuckets.nonEmpty)
        Some(logicalRead(spark, toSnapshotId, toEntries.filter(e => morBuckets(e.bucket))))
      else None,
      if (rest.nonEmpty)
        Some(applyDeletes(spark, toSnapshotId, dataRead(spark, toSnapshotId, rest), oldDel))
      else None).flatten
    if (parts.isEmpty) readAt(spark, toSnapshotId).limit(0) // empty, full schema
    else parts.reduce(_ unionByName _)
  }

  /** Row-level CDC between two snapshots (the Iceberg
    * `changelog`/`create_changelog_view` analog): emits every row that
    * differs, tagged `op = insert | delete` — an update (e.g. a
    * [[merge]]d correction) appears as its delete + insert pair, standard
    * changelog semantics. Complements [[readChanges]] (file-set level,
    * append-oriented): diff answers "WHAT rows changed", including through
    * rewrites.
    *
    * Scale shape: buckets whose file-sets are IDENTICAL in both manifests
    * are skipped without touching data (manifest compare); only changed
    * buckets' old and new file-sets are read and EXCEPT ALL'd both ways —
    * O(changed buckets), not O(table). */
  def diff(spark: SparkSession, fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val fromEntries = entriesAt(spark, fromSnapshotId)
    val toEntries = entriesAt(spark, toSnapshotId)
    def byBucket(es: Seq[BucketEntry]) = es.groupBy(_.bucket)
      .view.mapValues(_.map(_.path).sorted).toMap
    val fromB = byBucket(fromEntries)
    val toB = byBucket(toEntries)
    val changed = (fromB.keySet ++ toB.keySet)
      .filter(b => fromB.get(b) != toB.get(b)).toSeq.sorted
    val schema = readAt(spark,
      if (toEntries.nonEmpty) toSnapshotId else fromSnapshotId).limit(0)
    // each side is its snapshot's LOGICAL content of the changed buckets
    // (data minus that snapshot's pending MOR deletes) — a delete-only
    // commit therefore diffs as pure `op = delete` rows
    def side(snap: Long, es: Seq[BucketEntry]): DataFrame = {
      val sel = es.filter(e => changed.contains(e.bucket))
      if (sel.forall(_.kind != "data")) schema else logicalRead(spark, snap, sel)
    }
    val oldRows = side(fromSnapshotId, fromEntries)
    val newRows = side(toSnapshotId, toEntries)
    newRows.exceptAll(oldRows).withColumn("op", lit("insert"))
      .unionByName(oldRows.exceptAll(newRows).withColumn("op", lit("delete")))
  }

  /** Manifest-pruned time-range read: selects only data file-sets whose
    * manifest ts interval overlaps [minTs, maxTs] ([[BucketEntry.overlaps]],
    * the rule the V2 scan prunes by), THEN applies the exact per-row
    * predicate. A "last week's turns" query scans the buckets that contain
    * last week — not the full table. The bounds are parsed once, as a
    * string-to-timestamp cast parses them in the session time zone (`T` or
    * space separated, fractional seconds allowed); a bound that does not
    * parse fails the read, naming it. */
  def readRange(spark: SparkSession, minTs: String, maxTs: String): DataFrame = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    def bound(s: String): java.time.Instant = DateTimeUtils
      .stringToTimestamp(UTF8String.fromString(s), zone).map(DateTimeUtils.microsToInstant)
      .getOrElse(throw new IllegalArgumentException(s"readRange: '$s' is not a timestamp"))
    val (lo, hi) = (bound(minTs), bound(maxTs))
    val (snap, all) = liveEntries(spark)
    // ts pruning applies to DATA file-sets only — delete key-sets carry no
    // ts range and must always apply, or a range read would resurrect
    // MOR-deleted rows whose delete entry sits "outside" the range
    val data = all.filter(e => e.kind == "data" && e.overlaps(lo.toEpochMilli, hi.toEpochMilli))
    if (data.isEmpty)
      return read(spark).limit(0) // empty frame, full schema
    val dels = all.filter(e => e.kind == "delete" &&
      data.exists(_.bucket == e.bucket))
    applyDeletes(spark, snap, dataRead(spark, snap, data), dels)
      .where(col("ts") >= lit(lo) && col("ts") <= lit(hi))
  }
}

object SnapshotTable {

  /** Grace window for the inline reclaim of a ZERO-LENGTH (claimed but
    * never published) snapshot manifest on a commit conflict: younger than
    * this, the claim may belong to a live committer mid-publish; older, the
    * claimant is dead and the conflicting committer reclaims and retries
    * itself (self-healing replay). Non-empty unswung manifests are rarer
    * (death inside the two renames) and stay on the explicit
    * removeOrphanManifests path. */
  val ClaimGraceMs: Long = 10 * 60 * 1000L

  /** A concurrent writer claimed this snapshot id, or moved the ref this
    * write built on, first — re-read the table and retry (the
    * optimistic-concurrency loser path; never thrown by replays, which are
    * detected earlier via runId). */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** One committed file-set of a snapshot: a manifest line with lineage
    * stripped ([[TableFormat]] parses and writes it). `schema` is the DDL
    * the file-set was written under ("" for entries older than schema
    * tracking); `minTs`/`maxTs` are the recorded bounds in the manifest's
    * timestamp form ([[TableFormat.tsText]]). */
  final case class BucketEntry(
      bucket: Int, path: String, runId: String,
      turns: Long, blocksKept: Long, blocksDropped: Long, charsEmitted: Long,
      minTs: String, maxTs: String, schema: String,
      kind: String = "data") { // "data" | "delete" (merge-on-read key file-set)

    /** The pruning bounds in epoch ms. The manifest floors both to the
      * second: the floored min only widens the interval, but the floored
      * max could sit below rows inside its second, so `maxTsMs` is the
      * recorded max + 1 s. */
    def minTsMs: Long = TableFormat.tsMs(minTs)
    def maxTsMs: Long = TableFormat.tsMs(maxTs) + 1000L

    /** Could this file-set hold a row with ts in [loMs, hiMs]? */
    def overlaps(loMs: Long, hiMs: Long): Boolean = maxTsMs >= loMs && minTsMs <= hiMs
  }

  /** The schema of merge-on-read delete key file-sets. */
  private lazy val DeleteKeySchema = parseSchema("struct<conv_id:string,turn_idx:int>").get

  /** Additive-evolution compatibility: true iff the shorter schema's
    * fields are an exact name+type prefix of the longer's (nullability and
    * metadata ignored — evolved columns are always nullable). Unparseable
    * DDL is incompatible (conservative). Parses are memoized: the guard
    * runs per commit over every kept entry. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[org.apache.spark.sql.types.StructType]]()
  private[graft] def parseSchema(ddl: String): Option[org.apache.spark.sql.types.StructType] =
    schemaCache.computeIfAbsent(ddl, d =>
      try Some(org.apache.spark.sql.types.DataType.fromDDL(d)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      catch { case _: Exception => None })

  private[graft] def prefixCompatible(a: String, b: String): Boolean =
    (parseSchema(a), parseSchema(b)) match {
      case (Some(sa), Some(sb)) =>
        val (short, long) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
        short.fields.zip(long.fields).forall { case (f, g) =>
          f.name == g.name && f.dataType == g.dataType
        }
      case _ => false
    }

  /** [[prefixCompatible]] for EVOLUTION-MANAGED tables: after removing
    * `dropped` physical column names from both sides (new writes no longer
    * carry a dropped column, old files still do), and accepting WIDENING
    * type pairs (int↔long, float↔double — post-widening writes carry the
    * wide type, old files the narrow one; the parquet reader upcasts per
    * file, so both read correctly under the wider schema). */
  private[graft] def prefixCompatibleModulo(a: String, b: String,
      dropped: Set[String]): Boolean =
    (parseSchema(a), parseSchema(b)) match {
      case (Some(sa), Some(sb)) =>
        def live(s: org.apache.spark.sql.types.StructType) =
          s.fields.filterNot(f => dropped.contains(f.name))
        val (fa, fb) = (live(sa), live(sb))
        val (short, long) = if (fa.length <= fb.length) (fa, fb) else (fb, fa)
        import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
        def widening(x: org.apache.spark.sql.types.DataType,
            y: org.apache.spark.sql.types.DataType): Boolean = (x, y) match {
          case (IntegerType, LongType) | (LongType, IntegerType) => true
          case (FloatType, DoubleType) | (DoubleType, FloatType) => true
          case _ => false
        }
        short.zip(long).forall { case (f, g) =>
          f.name == g.name && (f.dataType == g.dataType ||
            widening(f.dataType, g.dataType))
        }
      case _ => false
    }

  /** The widest of a prefix-compatible chain of schema DDLs (what a mixed
    * old/evolved snapshot reads as); None when empty or incompatible. */
  private[graft] def widestSchema(ddls: Seq[String]): Option[String] = {
    val distinct = ddls.filter(_.nonEmpty).distinct
    if (distinct.isEmpty) return None
    val widest = distinct.maxBy(d => parseSchema(d).map(_.length).getOrElse(-1))
    if (parseSchema(widest).isDefined &&
        distinct.forall(prefixCompatible(_, widest))) Some(widest)
    else None
  }

  /** Open an existing table, recovering the LIVE bucket count by the one
    * rule ([[TableFormat.Resolved.numBuckets]]) — the reason the count is
    * a manifest field and not caller configuration: after a
    * [[SnapshotTable.rebucket]] every reader constructed with the old count
    * would mis-hash point reads. */
  def open(dir: String): SnapshotTable = {
    val live = TableFormat.resolve(dir, None)
    if (live.snapshotId < 0)
      throw new IllegalArgumentException(s"no committed snapshot in $dir")
    new SnapshotTable(dir, live.numBuckets.getOrElse(
      sys.error(s"snapshot ${live.snapshotId} of $dir records no bucket count")))
  }
}
