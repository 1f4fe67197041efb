package graft.connector

import graft.table.SnapshotTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.{Column, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{IntegerType, StringType, StructType, TimestampType}
import org.apache.spark.util.SerializableConfiguration
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** THE write path of the snapshot table — every face writes data files
  * through it:
  *
  * {{{
  *   df.write.format("graft-snapshot").mode("append")
  *     .option("numBuckets", "16")        // first commit only; manifest after
  *     .option("runId", "runX")           // default: the query id
  *     .save(dir)
  *   df.writeStream.format("graft-snapshot").start(dir)   // snapshot/epoch
  *   table.commit(spark, rows, runId)     // the library face
  * }}}
  *
  * plus SQL INSERT, the COW UPDATE/MERGE rewrite ([[SnapshotRowLevel]])
  * and merge-on-read delete key sets (`SnapshotTable.deleteRowsMor`).
  *
  * `bucketClustered`: the table was loaded through [[GraftCatalog]], whose
  * relation carries the `bucket` function, so the write clusters and sorts
  * by `bucket(numBuckets, conv_id)` and commits at most one file per
  * bucket. The path face (`format("graft-snapshot")`) has no function
  * catalog to resolve `bucket` against and clusters by conv_id: a write
  * there emits up to (write partitions × buckets) files.
  *
  * EXACTLY-ONCE PROTOCOL (every face). Executors write parquet into a
  * per-attempt `_staging` dir — never where readers look — and ship their
  * per-bucket stats + staged paths as WriterCommitMessages. The DRIVER
  * commit then: (1) checks lineage across every retained manifest — a
  * replayed streaming epoch is a no-op, a batch runId collision fails
  * fast, and neither has touched published files because no rename has
  * happened yet; (2) clears stale bucket dirs left by a crashed prior
  * attempt of this same run (the manifest doesn't reference the run yet,
  * so they are invisible garbage — and a crashed attempt may have used a
  * DIFFERENT partition count, so overwrite-in-place is not enough);
  * (3) renames staged files to their deterministic final names
  * (`part-<partitionId>`); (4) publishes manifest-then-CURRENT through
  * [[SnapshotTable.commitEntries]] under its optimistic-concurrency
  * claim. A crash at ANY point leaves the previous snapshot live and only
  * invisible files on disk.
  */
final class SnapshotWriteBuilder(dir: String, numBuckets: Int,
    info: LogicalWriteInfo, bucketClustered: Boolean = false)
  extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  /** `mode("overwrite")` / `INSERT OVERWRITE`: the committed snapshot
    * becomes EXACTLY this write's data — previous buckets drop from the
    * new manifest (their files stay for time travel until GC), nothing is
    * deleted in place. */
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    // column mapping: data files carry PHYSICAL names (frozen at column
    // creation) — translate the logical write schema before anything is
    // written or recorded in the manifest entry DDL
    val schema = SnapshotTableMeta.toPhysical(dir, info.schema())
    new SnapshotWrite(info.schema(), () => {
      val runId = Option(info.options().get("runId")).getOrElse(info.queryId())
      val wap = Option(info.options().get("wap")).exists(_.trim.toBoolean)
      // `option("branch", name)`: the append lands on the branch head and
      // swings only the branch pointer (create the branch first). Branch
      // writes are APPENDS — overwrite rewrites main-line history and WAP
      // already has its own staging lane, so both combinations are refused.
      val toBranch = Option(info.options().get("branch")).map(_.trim).filter(_.nonEmpty)
      require(toBranch.isEmpty || (!truncateFirst && !wap),
        "option(\"branch\") supports append mode only (no overwrite, no wap)")
      // entries APPEND (the streaming-sink merge rule; compaction folds
      // them back); an overwrite force-replaces every committed bucket
      // (files remain for time travel until expireSnapshots)
      new SnapshotBatchWrite(dir, numBuckets, schema, runId, PublishRule(
        replaceBuckets = truncateFirst,
        forceReplace =
          if (truncateFirst) new SnapshotTable(dir, numBuckets).committedBuckets(SparkSession.active)
          else Set.empty,
        stageOnly = wap, toBranch = toBranch), bucketSorted = bucketClustered)
    }, streaming = Some(() =>
      // one snapshot per micro-batch, runId = `<queryId>-<epoch>` —
      // replayed epochs are detected in the retained manifest lineage and
      // publish nothing
      new SnapshotStreamingWrite(dir, numBuckets, schema, info.queryId())),
      numBuckets = Option.when(bucketClustered)(numBuckets))
  }
}

/** The one write shape every face shares. [[RequiresDistributionAndOrdering]]
  * declares the shuffle/sort instead of hand-planning it: Spark clusters
  * the rows and sorts (conv_id, turn_idx) within partitions, so every file
  * holds contiguous, order-restored conversations. The clustering key is
  * conv_id, or — given `numBuckets`, for a relation that carries
  * [[BucketFunctions]] (the library face) or [[GraftCatalog]] (the catalog
  * face) — the bucket itself, which also leads the sort: a
  * bucket's rows meet in one task, a commit writes one file per bucket
  * however many partitions the shuffle has, and a task holds one file
  * open at a time (the batch write's `bucketSorted`). `schema` is the
  * rows' schema as the query produces them; what happens at the driver
  * commit is the `batch` write's business. */
final class SnapshotWrite(schema: StructType, batch: () => BatchWrite,
    streaming: Option[() => StreamingWrite] = None, numBuckets: Option[Int] = None)
  extends Write with RequiresDistributionAndOrdering {

  require(schema.fieldNames.contains("conv_id"),
    s"graft-snapshot writes need a conv_id column; got [${schema.fieldNames.mkString(", ")}]")

  private val bucket = numBuckets.map(n => Expressions.bucket(n, "conv_id"))

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(bucket.getOrElse(Expressions.column("conv_id"))))

  override def requiredOrdering(): Array[SortOrder] = {
    val keys = bucket.toSeq ++ Seq(Expressions.column("conv_id")) ++
      (if (schema.fieldNames.contains("turn_idx")) Seq(Expressions.column("turn_idx")) else Nil)
    keys.map(Expressions.sort(_, SortDirection.ASCENDING)).toArray
  }

  override def toBatch: BatchWrite = batch()

  override def toStreaming: StreamingWrite = streaming.getOrElse(
    throw new UnsupportedOperationException("graft-snapshot: no streaming face for this write"))()
}

/** Per-bucket stats + staged file one task observed/wrote. */
final case class BucketWriteStats(turns: Long, blocksKept: Long,
    blocksDropped: Long, charsEmitted: Long, minTsUs: Long, maxTsUs: Long) {
  def merge(o: BucketWriteStats): BucketWriteStats = BucketWriteStats(
    turns + o.turns, blocksKept + o.blocksKept, blocksDropped + o.blocksDropped,
    charsEmitted + o.charsEmitted, math.min(minTsUs, o.minTsUs), math.max(maxTsUs, o.maxTsUs))
}

final case class SnapshotCommitMessage(partitionId: Int,
    stats: Map[Int, BucketWriteStats], staged: Map[Int, String])
  extends WriterCommitMessage

/** How one write's entries join the manifest: the merge rule of
  * [[SnapshotTable.commitEntries]], carried from the face that started the
  * write to the driver's publish. `replaceBuckets` replaces the previous
  * entries of every bucket the write touched, `forceReplace` also those of
  * the listed buckets (a delete-only commit still cuts a snapshot),
  * `replaceExactly` is the copy-on-write rule, `stageOnly` the WAP
  * staging lane, `toBranch` the branch pointer, and `kind = "delete"`
  * marks merge-on-read key sets. */
private[graft] final case class PublishRule(replaceBuckets: Boolean = false,
    forceReplace: Set[Int] = Set.empty, replaceExactly: Option[Set[Int]] = None,
    stageOnly: Boolean = false, toBranch: Option[String] = None,
    kind: String = "data")

/** The shared driver-side commit machinery for every face. */
private[graft] object SnapshotWriterUtil {

  private val TsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** The library face ([[SnapshotTable.commit]], `deleteRowsMor`): plans
    * `df` as a V2 append into a write-only table whose builder returns
    * [[SnapshotWrite]] directly, runs it, and returns the snapshot id the
    * commit published (None: no rows and nothing force-replaced). It does
    * not go through [[SnapshotV2Table]]: that table's merge-on-read gate
    * belongs to the SQL/DataFrame face, while the library applies pending
    * deletes itself. The relation carries [[BucketFunctions]], so the
    * write clusters by bucket: a compaction writes one file per bucket, as
    * the bucket-partitioned writer it replaced did. Columns are written
    * under `df`'s own names — the library works at the physical level. */
  def write(df: DataFrame, dir: String, numBuckets: Int, runId: String,
      rule: PublishRule): Option[Long] = {
    val batch = new SnapshotBatchWrite(dir, numBuckets, df.schema, runId, rule,
      bucketSorted = true)
    val target = new Table with SupportsWrite {
      override def name(): String = s"graft-snapshot $dir run=$runId"
      override def columns(): Array[Column] =
        df.schema.fields.map(f => Column.create(f.name, f.dataType, f.nullable))
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_WRITE)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write =
            new SnapshotWrite(df.schema, () => batch, numBuckets = Some(numBuckets))
        }
    }
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(AppendData.byPosition(
        DataSourceV2Relation.create(target, Some(BucketFunctions), None),
        df.queryExecution.analyzed))
      .assertCommandExecuted()
    batch.published
  }

  def writerFactory(spark: SparkSession, schema: StructType,
      dataPath: String, numBuckets: Int,
      bucketSorted: Boolean = false): SnapshotDataWriterFactory = {
    val hconf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val job = Job.getInstance(hconf)
    val factory = ParquetUtils.prepareWrite(
      spark.sessionState.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    SnapshotDataWriterFactory(factory,
      new SerializableConfiguration(job.getConfiguration), dataPath, numBuckets, schema,
      bucketSorted)
  }

  /** Is `runId` referenced by ANY retained manifest (not just CURRENT)?
    * Compaction rewrites CURRENT's entries under its own runId, so lineage
    * must be answered from history — Jackson, driver-side, no Spark job.
    * The honest caveat (same as Iceberg): `expireSnapshots` that drops the
    * manifest containing a replayable epoch also drops the evidence, so
    * snapshot retention must cover the streaming checkpoint's replay
    * window. */
  def runIdCommitted(dir: String, numBuckets: Int, runId: String): Boolean =
    new SnapshotTable(dir, numBuckets).snapshotIds.exists(id =>
      SnapshotManifest.read(dir, id).exists(_.runId == runId))

  def dropStaging(conf: Configuration, dataPath: String): Unit = {
    val p = new HPath(s"$dataPath/_staging")
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** Steps (2)-(4) of the protocol: clean stale bucket dirs, rename staged
    * files to deterministic names, publish the manifest under `rule`.
    * Caller has already established that `runId` is fresh. */
  def publish(spark: SparkSession, dir: String, numBuckets: Int,
      dataPath: String, runId: String, schema: StructType,
      messages: Array[WriterCommitMessage], rule: PublishRule = PublishRule()): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new HPath(dataPath).getFileSystem(conf)

    // (2) a crashed prior attempt of this run may have renamed files with
    // a different partition layout: clear every bucket dir (invisible to
    // readers — this runId is in no manifest) so the dir holds EXACTLY
    // this attempt's files after (3)
    val root = new HPath(dataPath)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("bucket="))
        fs.delete(st.getPath, true)
    }

    // (3) staged → deterministic final names
    val msgs = messages.collect { case m: SnapshotCommitMessage => m }
    msgs.foreach { m =>
      m.staged.foreach { case (b, stagedPath) =>
        val name = new HPath(stagedPath).getName // b<bucket><ext>
        val ext = name.drop(s"b$b".length)
        val dest = new HPath(s"$dataPath/bucket=$b/part-${m.partitionId}$ext")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(new HPath(stagedPath), dest))
          throw new java.io.IOException(s"failed to publish $dest from staging")
      }
    }
    dropStaging(conf, dataPath)

    // (4) stats → entries → OCC manifest publish. The stats come from the
    // commit messages of the successful task attempts only, so a retried
    // or speculative task never double-counts.
    val merged = msgs.map(_.stats)
      .foldLeft(Map.empty[Int, BucketWriteStats]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (b, s)) =>
          a.updated(b, a.get(b).map(_.merge(s)).getOrElse(s))
        }
      }
    val schemaDdl = schema.catalogString
    val entries = merged.toSeq.sortBy(_._1).map { case (b, s) =>
      SnapshotTable.BucketEntry(b, s"$dataPath/bucket=$b", runId,
        s.turns, s.blocksKept, s.blocksDropped, s.charsEmitted,
        TsFmt.format(Instant.ofEpochMilli(s.minTsUs / 1000L)),
        TsFmt.format(Instant.ofEpochMilli(s.maxTsUs / 1000L)), schemaDdl, rule.kind)
    }
    new SnapshotTable(dir, numBuckets).commitEntries(spark, entries,
      rule.replaceBuckets, rule.forceReplace, rule.replaceExactly,
      publish = !rule.stageOnly, toBranch = rule.toBranch)
  }

  /** Failed/aborted job: nothing was published (publish is the only
    * manifest writer and the only renamer), so dropping staging plus the
    * run dir — UNLESS a previous incarnation of this runId is already
    * manifest-referenced (then the dir holds published data and only
    * staging goes). Even a missed abort is safe: unreferenced files are
    * invisible and removeOrphanFiles reclaims them. */
  def guardedAbort(spark: SparkSession, dir: String, numBuckets: Int,
      dataPath: String, runId: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    dropStaging(conf, dataPath)
    if (!runIdCommitted(dir, numBuckets, runId)) {
      val p = new HPath(dataPath)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    ()
  }
}

/** `option("wap", "true")` stages the commit for write-audit-publish:
  * data + manifest land, CURRENT stays — audit via
  * `option("snapshotId", <staged>)`, then `SnapshotTable.publishStaged`
  * or `discardStaged`. While staged, the id blocks other committers. */
final class SnapshotBatchWrite(dir: String, numBuckets: Int,
    schema: StructType, runId: String, rule: PublishRule,
    bucketSorted: Boolean = false)
  extends BatchWrite {

  private val dataPath = s"$dir/data/run=$runId"

  /** The snapshot id [[commit]] published — how the library face gets its
    * return value without re-reading CURRENT. */
  @volatile private[connector] var published: Option[Long] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    SnapshotWriterUtil.writerFactory(SparkSession.active, schema, dataPath,
      numBuckets, bucketSorted)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // batch jobs don't replay themselves: a runId collision is a caller
    // re-using an identity — appending the same paths again would make
    // readers double-count, and rewriting the dir would corrupt time
    // travel to the snapshots that reference it. Fail fast, BEFORE any
    // rename (staged files are the only thing this job has written).
    if (SnapshotWriterUtil.runIdCommitted(dir, numBuckets, runId))
      throw new IllegalStateException(
        s"runId $runId is already committed in $dir — pick a fresh runId " +
          "(batch writes are not replayable; the streaming face handles epoch replays)")
    published = SnapshotWriterUtil.publish(spark, dir, numBuckets, dataPath,
      runId, schema, messages, rule)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SnapshotWriterUtil.guardedAbort(SparkSession.active, dir, numBuckets, dataPath, runId)
}

final class SnapshotStreamingWrite(dir: String, numBuckets: Int,
    schema: StructType, queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def runId(epochId: Long) = s"$queryId-$epochId"
  private def dataPath(epochId: Long) = s"$dir/data/run=${runId(epochId)}"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    SnapshotStreamingDataWriterFactory(
      SnapshotWriterUtil.writerFactory(SparkSession.active, schema,
        dataPath = "", numBuckets = numBuckets), // per-epoch path set in createWriter
      dir, queryId)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val rid = runId(epochId)
    // replay detection (lineage across ALL retained manifests — compaction
    // renames CURRENT's entries but history keeps the evidence): nothing
    // has been renamed yet, so a replayed epoch leaves published files
    // byte-untouched and only drops its own staging
    if (SnapshotWriterUtil.runIdCommitted(dir, numBuckets, rid)) {
      SnapshotWriterUtil.dropStaging(
        spark.sessionState.newHadoopConf(), dataPath(epochId))
      return
    }
    SnapshotWriterUtil.publish(spark, dir, numBuckets, dataPath(epochId), rid,
      schema, messages)
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    SnapshotWriterUtil.guardedAbort(SparkSession.active, dir, numBuckets,
      dataPath(epochId), runId(epochId))
}

final case class SnapshotDataWriterFactory(factory: OutputWriterFactory,
    conf: SerializableConfiguration, dataPath: String, numBuckets: Int,
    schema: StructType, bucketSorted: Boolean = false) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(factory, conf.value, dataPath, numBuckets, schema,
      partitionId, taskId, bucketSorted)
}

final case class SnapshotStreamingDataWriterFactory(base: SnapshotDataWriterFactory,
    dir: String, queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(base.factory, base.conf.value,
      s"$dir/data/run=$queryId-$epochId", base.numBuckets, base.schema,
      partitionId, taskId)
}

/** One parquet OutputWriter per BUCKET this task's rows hash into, all in
  * the task's private `_staging/attempt-…` dir — the manifest-referenced
  * bucket dirs are only ever touched by the driver's publish step. Rows
  * arrive clustered and sorted (conv_id, turn_idx), so each staged file
  * holds its conversations contiguous and ordered; rows that also arrive
  * sorted by bucket (`bucketSorted`) finish a bucket's file before the
  * next one opens, so the task holds one open file, not one per bucket
  * (parquet buffers a row group per open file). The
  * per-bucket manifest stats are tracked inline as the rows are written
  * (one pass, no re-scan of the written data) and shipped with the staged
  * paths as the commit message; only successful attempts' messages reach
  * the driver, which is what makes the stats exactly-once. */
final class SnapshotDataWriter(factory: OutputWriterFactory, conf: Configuration,
    dataPath: String, numBuckets: Int, schema: StructType,
    partitionId: Int, taskId: Long, bucketSorted: Boolean = false)
  extends DataWriter[InternalRow] {

  private val ctx = new TaskAttemptContextImpl(conf,
    new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID("graft", 0),
      TaskType.MAP, partitionId), taskId.toInt))
  private val ext = factory.getFileExtension(ctx)
  private val stagingDir = s"$dataPath/_staging/attempt-$partitionId-$taskId"
  private def fs = new HPath(dataPath).getFileSystem(conf)

  private val convIdx = schema.fieldIndex("conv_id")
  require(schema(convIdx).dataType == StringType,
    s"conv_id must be a string, got ${schema(convIdx).dataType}")
  /** Stats columns participate only at their exact library type — a
    * re-typed column (e.g. charsEmitted cast to long) must NOT be read
    * with the wrong accessor, which would silently record garbage. */
  private def typedIdx(n: String, t: org.apache.spark.sql.types.DataType): Int = {
    val i = if (schema.fieldNames.contains(n)) schema.fieldIndex(n) else -1
    if (i >= 0 && schema(i).dataType != t) -1 else i
  }
  private val tsIdx = typedIdx("ts", TimestampType)
  private val keptIdx = typedIdx("blocksKept", IntegerType)
  private val dropIdx = typedIdx("blocksDropped", IntegerType)
  private val charsIdx = typedIdx("charsEmitted", IntegerType)

  private val writers = scala.collection.mutable.Map.empty[Int, org.apache.spark.sql.execution.datasources.OutputWriter]
  private val staged = scala.collection.mutable.Map.empty[Int, String]
  private val stats = scala.collection.mutable.Map.empty[Int, BucketWriteStats]

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(convIdx))
      throw new IllegalArgumentException(
        "graft-snapshot: conv_id is null — the table key cannot be null")
    val conv = row.getUTF8String(convIdx)
    val h = XxHash64Function.hash(conv, StringType, 42L)
    val b = (((h % numBuckets) + numBuckets) % numBuckets).toInt
    writers.getOrElse(b, open(b)).write(row)
    val tsUs = if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx) else 0L
    val s = BucketWriteStats(1L,
      if (keptIdx >= 0 && !row.isNullAt(keptIdx)) row.getInt(keptIdx).toLong else 0L,
      if (dropIdx >= 0 && !row.isNullAt(dropIdx)) row.getInt(dropIdx).toLong else 0L,
      if (charsIdx >= 0 && !row.isNullAt(charsIdx)) row.getInt(charsIdx).toLong else 0L,
      tsUs, tsUs)
    stats.updateWith(b) { case Some(p) => Some(p.merge(s)); case None => Some(s) }
  }

  private def open(b: Int): org.apache.spark.sql.execution.datasources.OutputWriter = {
    // a closed file is never reopened: its path would be overwritten
    if (staged.contains(b))
      throw new IllegalStateException(
        s"graft-snapshot: rows of bucket $b arrived after its file was closed")
    if (bucketSorted) { writers.values.foreach(_.close()); writers.clear() }
    val p = s"$stagingDir/b$b$ext"
    staged(b) = p
    val w = factory.newInstance(p, schema, ctx)
    writers(b) = w
    w
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    writers.clear()
    SnapshotCommitMessage(partitionId, stats.toMap, staged.toMap)
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Throwable => () })
    writers.clear()
    try fs.delete(new HPath(stagingDir), true)
    catch { case _: Throwable => () }
    ()
  }

  override def close(): Unit = {
    writers.values.foreach(w => try w.close() catch { case _: Throwable => () })
    writers.clear()
  }
}
