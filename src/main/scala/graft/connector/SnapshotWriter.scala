package graft.connector

import graft.table.SnapshotTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType, TimestampType}
import org.apache.spark.util.SerializableConfiguration
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** DataSource V2 WRITE path for the snapshot table:
  *
  * {{{
  *   df.write.format("graft-snapshot").mode("append")
  *     .option("numBuckets", "16")        // first commit only; manifest after
  *     .option("runId", "runX")           // default: the query id
  *     .save(dir)
  *   df.writeStream.format("graft-snapshot").start(dir)   // snapshot/epoch
  * }}}
  *
  * EXACTLY-ONCE PROTOCOL (both faces). Executors write parquet into a
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
  * [[SnapshotTable.commitEntries]] under the same optimistic-concurrency
  * claim as the library path. A crash at ANY point leaves the previous
  * snapshot live and only invisible files on disk.
  *
  * [[RequiresDistributionAndOrdering]] declares the shuffle/sort instead
  * of hand-planning it: Spark clusters by conv_id and sorts
  * (conv_id, turn_idx) within partitions, so every file holds contiguous,
  * order-restored conversations. Entries APPEND (replaceBuckets = false,
  * the streaming-sink merge rule); compaction folds them back.
  */
final class SnapshotWriteBuilder(dir: String, numBuckets: Int,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  /** `mode("overwrite")` / `INSERT OVERWRITE`: the committed snapshot
    * becomes EXACTLY this write's data — previous buckets drop from the
    * new manifest (their files stay for time travel until GC), nothing is
    * deleted in place. */
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new SnapshotWrite(dir, numBuckets, info, truncateFirst)
}

final class SnapshotWrite(dir: String, numBuckets: Int, info: LogicalWriteInfo,
    truncateFirst: Boolean = false)
  extends Write with RequiresDistributionAndOrdering {

  require(info.schema().fieldNames.contains("conv_id"),
    s"graft-snapshot writes need a conv_id column; got [${info.schema().fieldNames.mkString(", ")}]")

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("conv_id")))

  override def requiredOrdering(): Array[SortOrder] = {
    val cols = Seq("conv_id") ++
      (if (info.schema().fieldNames.contains("turn_idx")) Seq("turn_idx") else Nil)
    cols.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  }

  override def toBatch: BatchWrite = {
    val runId = Option(info.options().get("runId")).getOrElse(info.queryId())
    val wap = Option(info.options().get("wap")).exists(_.trim.toBoolean)
    // `option("branch", name)`: the append lands on the branch head and
    // swings only the branch pointer (create the branch first). Branch
    // writes are APPENDS — overwrite rewrites main-line history and WAP
    // already has its own staging lane, so both combinations are refused.
    val toBranch = Option(info.options().get("branch")).map(_.trim).filter(_.nonEmpty)
    require(toBranch.isEmpty || (!truncateFirst && !wap),
      "option(\"branch\") supports append mode only (no overwrite, no wap)")
    // column mapping: data files carry PHYSICAL names (frozen at column
    // creation) — translate the logical write schema before anything is
    // written or recorded in the manifest entry DDL
    new SnapshotBatchWrite(dir, numBuckets,
      SnapshotTableMeta.toPhysical(dir, info.schema()), runId, truncateFirst,
      wap, toBranch)
  }

  /** Streaming sink face: one snapshot per micro-batch, runId =
    * `<queryId>-<epoch>` — replayed epochs are detected in the retained
    * manifest lineage and publish nothing. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new SnapshotStreamingWrite(dir, numBuckets,
      SnapshotTableMeta.toPhysical(dir, info.schema()), info.queryId())
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

/** The shared driver-side commit machinery for both write faces. */
private[graft] object SnapshotWriterUtil {

  private val TsFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  def writerFactory(spark: SparkSession, schema: StructType,
      dataPath: String, numBuckets: Int): SnapshotDataWriterFactory = {
    val hconf = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    val job = Job.getInstance(hconf)
    val factory = ParquetUtils.prepareWrite(
      spark.sessionState.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    SnapshotDataWriterFactory(factory,
      new SerializableConfiguration(job.getConfiguration), dataPath, numBuckets, schema)
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
    * files to deterministic names, publish the manifest. Caller has
    * already established that `runId` is fresh.
    *
    * `replaceExactly` is the copy-on-write commit rule: the new snapshot
    * drops previous entries of EXACTLY those bucket ids (the groups the
    * operation scan read) and appends every new entry — including entries
    * for buckets outside the set (MERGE inserts), which accumulate
    * alongside that bucket's existing file-sets like a streaming append. */
  def publish(spark: SparkSession, dir: String, numBuckets: Int,
      dataPath: String, runId: String, schema: StructType,
      messages: Array[WriterCommitMessage], truncateFirst: Boolean = false,
      replaceExactly: Option[Set[Int]] = None,
      stageOnly: Boolean = false,
      toBranch: Option[String] = None): Option[Long] = {
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

    // (4) stats → entries → OCC manifest publish
    val merged = msgs.map(_.stats)
      .foldLeft(Map.empty[Int, BucketWriteStats]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (b, s)) =>
          a.updated(b, a.get(b).map(_.merge(s)).getOrElse(s))
        }
      }
    val table = new SnapshotTable(dir, numBuckets)
    val schemaDdl = schema.catalogString
    val entries = merged.toSeq.sortBy(_._1).map { case (b, s) =>
      SnapshotTable.BucketEntry(b, s"$dataPath/bucket=$b", runId,
        s.turns, s.blocksKept, s.blocksDropped, s.charsEmitted,
        TsFmt.format(Instant.ofEpochMilli(s.minTsUs / 1000L)),
        TsFmt.format(Instant.ofEpochMilli(s.maxTsUs / 1000L)), schemaDdl)
    }
    if (truncateFirst)
      // overwrite: the new snapshot = exactly this write — every previous
      // bucket is force-replaced out of the manifest (files remain for
      // time travel until expireSnapshots)
      table.commitEntries(spark, entries, replaceBuckets = true,
        forceReplace = table.committedBuckets(spark), publish = !stageOnly)
    else if (replaceExactly.isDefined)
      table.commitEntries(spark, entries, replaceBuckets = false,
        replaceExactly = replaceExactly, publish = !stageOnly)
    else
      table.commitEntries(spark, entries, replaceBuckets = false,
        publish = !stageOnly, toBranch = toBranch)
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
    schema: StructType, runId: String, truncateFirst: Boolean = false,
    stageOnly: Boolean = false, toBranch: Option[String] = None)
  extends BatchWrite {

  private val dataPath = s"$dir/data/run=$runId"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    SnapshotWriterUtil.writerFactory(SparkSession.active, schema, dataPath, numBuckets)

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
    SnapshotWriterUtil.publish(spark, dir, numBuckets, dataPath, runId, schema,
      messages, truncateFirst, stageOnly = stageOnly, toBranch = toBranch)
    ()
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
    schema: StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(factory, conf.value, dataPath, numBuckets, schema,
      partitionId, taskId)
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
  * arrive clustered by conv_id and sorted (conv_id, turn_idx), so each
  * staged file holds its conversations contiguous and ordered. Stats are
  * tracked inline (single pass, same as the library commit's accumulator)
  * and shipped with the staged paths as the commit message. */
final class SnapshotDataWriter(factory: OutputWriterFactory, conf: Configuration,
    dataPath: String, numBuckets: Int, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

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
    val w = writers.getOrElseUpdate(b, {
      val p = s"$stagingDir/b$b$ext"
      staged(b) = p
      factory.newInstance(p, schema, ctx)
    })
    w.write(row)
    val tsUs = if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx) else 0L
    val s = BucketWriteStats(1L,
      if (keptIdx >= 0 && !row.isNullAt(keptIdx)) row.getInt(keptIdx).toLong else 0L,
      if (dropIdx >= 0 && !row.isNullAt(dropIdx)) row.getInt(dropIdx).toLong else 0L,
      if (charsIdx >= 0 && !row.isNullAt(charsIdx)) row.getInt(charsIdx).toLong else 0L,
      tsUs, tsUs)
    stats.updateWith(b) { case Some(p) => Some(p.merge(s)); case None => Some(s) }
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
