package graft.connector

import graft.table.{Refs, TableFormat}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Offsets are snapshot ids: the manifest chain is the changelog. */
final case class SnapshotOffset(snapshotId: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"snapshotId":$snapshotId}"""
}

final class SnapshotMicroBatchStream(dir: String,
    dataSchema: StructType, required: StructType, pushed: Array[Filter],
    startId: Long, allowReplaced: Boolean, physical: Map[String, String] = Map.empty)
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
    SnapshotRead.filePartitions(spark,
      SnapshotRead.listFiles(spark, dir, e, pruned.map(_.path)).flatten)
  }

  // built once for the stream's life: Spark asks for it every micro-batch
  private lazy val readerFactory: PartitionReaderFactory =
    SnapshotRead.readerFactory(spark, physical, dataSchema, required, pushed)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
