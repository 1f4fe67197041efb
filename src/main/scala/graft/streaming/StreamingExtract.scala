package graft.streaming

import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming face of the extraction engine.
  *
  * The reference's ingestion is a long-lived daemon consuming a queue with
  * time/size-triggered micro-batches (`Bucket.getBatch`: flush when
  * count > batch_size OR age > 10 s — `/root/reference/src/controller/
  * server.py:45-57`, `bucket_max_time=10` `controller/common.py:16`).
  * Structured Streaming gives exactly those semantics declaratively:
  * micro-batch triggers ≈ bucket flush, watermark ≈ max queue age, and the
  * stateful windowed aggregation below reproduces the per-batch metrics the
  * daemons logged. The primary engine stays batch-with-checkpoints (north
  * rule); this face exists for stream-shaped deployments and is exercised
  * by StreamingSpec via MemoryStream.
  */
object StreamingExtract {

  /** Per-turn streaming extraction: the batch kernel step
    * ([[graft.pipe.ExtractPipeline.extract]] — same gates, kernel,
    * quarantine and F2 gate) under micro-batch execution. */
  def extract(spark: SparkSession, turns: Dataset[Turn],
      cfg: ExtractConfig = ExtractConfig.default): Dataset[ExtractedTurn] =
    graft.pipe.ExtractPipeline.extract(spark, turns, cfg)

  /** Streaming exact dedup: drop turns whose (conv_id, turn_idx) was
    * already seen, with state bounded by the watermark (a duplicate older
    * than the lateness horizon can re-emit — the standard streaming-dedup
    * contract; unbounded-state `dropDuplicates` is not a 100-TB shape).
    * This is the stream twin of the batch `q_dedup_exact` family. */
  def dedup(turns: Dataset[Turn]): Dataset[Turn] =
    turns
      .withWatermark("ts", "30 seconds")
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx")

  /** Streaming incremental-ingest dedup — the stream twin of the batch
    * `q_dedup_incremental` (fast path / slow path):
    *
    *  1. every row probes the committed corpus's per-shard bloom blobs
    *     (built/maintained by the BATCH engine via
    *     [[graft.functions.BloomSketch.shardedBlooms]]; 16 KiB × shards,
    *     here a broadcast stream-static equi-join — stateless, zero history
    *     access per micro-batch);
    *  2. bloom-NEGATIVE rows are exactly-new (no false negatives) and take
    *     the fast path with `maybe_dup = false`;
    *  3. bloom-POSITIVE rows (true re-deliveries + the ~fpp tail) get
    *     `maybe_dup = true` — a streaming job CANNOT exact-verify against
    *     petabytes of history per batch, so the caller diverts them to a
    *     suspect side output that the batch verify (the
    *     `q_dedup_incremental` anti-join) resolves asynchronously. Nothing
    *     is silently dropped: the split is advisory, exactness lives in
    *     the batch twin.
    *
    * Within-stream repeats are a separate concern: chain
    * [[dedupByContent]] (watermarked state, bounded) before or after.
    *
    * @param stream streaming DataFrame with a `fp` LONG column (content
    *               fingerprint, e.g. `text_fingerprint(text)`)
    * @param blooms STATIC `(shard, bloom)` frame from
    *               [[graft.functions.BloomSketch.shardedBlooms]]
    */
  def probeHistory(stream: DataFrame, blooms: DataFrame, nShards: Int): DataFrame = {
    val spark = stream.sparkSession
    graft.functions.BloomSketch.register(spark)
    stream
      .withColumn("shard", pmod(col("fp"), lit(nShards.toLong)))
      // left join: a shard with no blob proves no history key hashes there
      .join(broadcast(blooms), Seq("shard"), "left")
      .withColumn("maybe_dup", coalesce(
        call_function("bloom_maybe", col("bloom"), col("fp")), lit(false)))
      .drop("bloom", "shard")
  }

  /** Watermark-bounded exact dedup on the content fingerprint (in-stream
    * repeats; the (conv_id, turn_idx) [[dedup]] face keys on identity
    * instead). Same bounded-state contract: a repeat older than the
    * lateness horizon can re-emit. */
  def dedupByContent(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "30 seconds")
      .dropDuplicatesWithinWatermark("fp")

  /** Commit one micro-batch into a [[graft.table.SnapshotTable]] with
    * replay-safe (exactly-once) semantics: the `graft-snapshot` sink's
    * append ([[graft.connector.SnapshotWriterUtil.appendBatch]]), which
    * skips a re-delivered batch — the same idempotence protocol as the
    * batch engine's anti-join-vs-manifest resume, keyed by batch instead
    * of bucket.
    * @return Some(snapshot id) if a new snapshot was cut. */
  def commitBatch(table: graft.table.SnapshotTable,
      batch: Dataset[ExtractedTurn], batchId: Long): Option[Long] =
    graft.connector.SnapshotWriterUtil.appendBatch(batch.toDF(), table.dir,
      table.numBuckets, batchId)

  /** The `graft-snapshot` streaming sink into `table`: streaming extraction
    * lands in the SAME snapshot table (manifest lineage, per-bucket
    * metrics, time travel) the batch engine writes — one storage layer for
    * both faces, one snapshot per micro-batch, one file per bucket. */
  def snapshotSink(extracted: Dataset[ExtractedTurn],
      table: graft.table.SnapshotTable,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[ExtractedTurn] =
    extracted.writeStream.format("graft-snapshot")
      .option("checkpointLocation", checkpoint)
      .option("path", table.dir)
      .option("numBuckets", table.numBuckets.toString)
      .outputMode("append")

  /** Commit one micro-batch as a keyed UPSERT ([[graft.table.SnapshotTable.merge]])
    * with the same replay-safe protocol as [[commitBatch]]: the runId is
    * `<queryId>-merge-<batchId>` (`stream-merge-<batchId>` outside a
    * query); a re-delivered batch is detected via the manifest's runId
    * lineage and skipped. Idempotence holds even though merge REWRITES
    * buckets — the commit point is the atomic CURRENT swing, so a crash
    * mid-merge leaves the previous snapshot live and the replay merges
    * from that state. Empty batches cut no snapshot. */
  def mergeBatch(table: graft.table.SnapshotTable,
      batch: Dataset[ExtractedTurn], batchId: Long): Option[Long] = {
    val spark = batch.sparkSession
    val runId = s"${graft.connector.SnapshotWriterUtil.streamScope(spark)}-merge-$batchId"
    if (graft.connector.SnapshotWriterUtil.runIdCommitted(table.dir, table.numBuckets, runId)) None
    else if (batch.isEmpty) None
    else table.merge(spark, batch, runId)
  }

  /** foreachBatch UPSERT sink — the CDC / late-correction ingest face:
    * each micro-batch merges by (conv_id, turn_idx), so a corrected turn
    * REPLACES the previously-landed row instead of appending a duplicate
    * beside it (the append sink's contract). Use this when the upstream
    * re-emits turns (editor corrections, kernel redeploys, at-least-once
    * sources whose duplicates survive the watermark). */
  def upsertSink(extracted: Dataset[ExtractedTurn],
      table: graft.table.SnapshotTable,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[ExtractedTurn] =
    extracted.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[ExtractedTurn], batchId: Long) =>
        mergeBatch(table, batch, batchId); ()
      }

  /** A feedback/annotation event arriving on its OWN stream (tool results,
    * human labels, safety verdicts) that must be attached to the turn it
    * annotates — the other half of the stream-stream join below. */
  final case class Feedback(conv_id: String, turn_idx: Int,
      fb_ts: java.sql.Timestamp, label: String)

  /** STREAM-STREAM event-time join: attach feedback events to turns when
    * the feedback arrives within `[ts, ts + horizonSec]` of the turn.
    * Both sides carry a watermark AND the join condition bounds the two
    * event times against each other — the two requirements that let the
    * engine expire join state instead of buffering both streams forever
    * (the only stream-stream shape that survives at scale; an unbounded
    * stream-stream join is a memory leak by construction). `leftOuter`:
    * a turn whose horizon passes with no feedback emits once, null-padded,
    * when the watermark PROVES no match can still arrive — the engine's
    * completeness guarantee, not a timer heuristic. State per key is
    * bounded by horizon + watermark delay. */
  def joinFeedback(turns: Dataset[Turn], feedback: Dataset[Feedback],
      watermarkDelay: String = "10 seconds", horizonSec: Int = 60): DataFrame = {
    val t = turns.toDF().withWatermark("ts", watermarkDelay)
    val f = feedback.toDF()
      .withColumnRenamed("conv_id", "fb_conv_id")
      .withColumnRenamed("turn_idx", "fb_turn_idx")
      .withWatermark("fb_ts", watermarkDelay)
    t.join(f,
        col("conv_id") === col("fb_conv_id") &&
        col("turn_idx") === col("fb_turn_idx") &&
        col("fb_ts") >= col("ts") &&
        col("fb_ts") <= col("ts") + expr(s"interval $horizonSec seconds"),
        "leftOuter")
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        col("fb_ts"), col("label"))
  }

  /** Continuous per-window TOP-K over the stream (the "continuous top-k
    * over streaming data" shape, ICDE 2018): event-time tumbling windows ×
    * group key, ranked by the bounded [[graft.functions.TopKAgg]] typed
    * Aggregator — state per (window, key) is O(k) and a hot group ships
    * ≤ k rows per map task, exactly the batch q_topk_agg discipline under
    * micro-batch execution. Append mode: a window's top-k emits ONCE, when
    * the watermark closes the window (the deterministic-under-replay
    * contract). `idCol` must be castable to LONG (the Aggregator's id
    * slot); ranking order is (score DESC, id ASC). */
  def windowedTopK(extracted: Dataset[ExtractedTurn], idCol: Column,
      scoreCol: Column, k: Int = 3): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(k),
      graft.functions.TopKAgg.scoredEncoder)
    extracted
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("tool"))
      .agg(topk(idCol.cast("long"), scoreCol.cast("double")).as("top_ids"))
  }

  /** Windowed extraction metrics (the streaming analog of the snapshot
    * manifest's per-partition metrics): 10-second event-time tumbling
    * windows per tool dialect, 30-second watermark for late turns. */
  def windowedMetrics(extracted: Dataset[ExtractedTurn]): DataFrame =
    extracted
      .withWatermark("ts", "30 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("tool"))
      .agg(
        count(lit(1)).as("turns"),
        sum("blocksKept").as("blocksKept"),
        sum("blocksDropped").as("blocksDropped"),
        sum("charsEmitted").as("charsEmitted"))
}
