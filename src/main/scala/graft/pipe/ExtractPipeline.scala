package graft.pipe

import graft.kernel.{Extractor, ExtractorContext}
import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.util.LongAccumulator

/** The flagship extraction job (SURVEY §3.1 "Spark shape"):
  *
  * scan → cheap gates (Catalyst filters BEFORE the kernel — the optimizer
  * cannot move filters through the kernel step, so we author them first,
  * the same cheap-predicate-first discipline as the reference's blur gate
  * `/root/reference/src/cmnd/main.py:57-60`) → [[KernelStep]] FUSED onto
  * the scan partitions (one pass per partition over `InternalRow`,
  * broadcast config, per-task kernel buffers ≈ per-daemon model load
  * `template.py:73`; it writes rows with slim spans and applies the F2 gate)
  * → repartition(conv_id) → (conv_id, turn_idx) sort → `spans_fatten` →
  * sink.
  *
  * The one exchange is the order-restoring repartition by conv_id. With
  * AQE partition coalescing on, AQE sizes it from the shuffle bytes it
  * measured. With coalescing off, it sizes itself from its input
  * ([[exchangePartitions]]): whole waves of `defaultParallelism` tasks,
  * each holding at least AQE's `coalescePartitions.minPartitionSize` of the
  * analyzed plan's size estimate, capped at `spark.sql.shuffle.partitions`.
  * A small run then writes one wave of parquet files instead of one per
  * shuffle partition (each write task pays ~35 ms of task deserialization,
  * BENCH/TUNING.md round 7); at headline scale the cap holds. Skew is
  * handled structurally, not by
  * a salt shuffle: scan splits are size-bounded (`files.maxPartitionBytes`)
  * and per-turn kernel cost is bounded (maxTextLen gate), so no
  * conversation can concentrate more than one split's worth of kernel work
  * in one task — and the raw payloads never cross the network
  * (BENCH/SKEW.md has the ablation against a salted pre-kernel exchange:
  * ~1/3 the task time, 2.5× faster at 16 cores).
  */
object ExtractPipeline {

  /** Kernel-stage counters. `turnsOut`/`blocksKept`/`blocksDropped`/
    * `charsEmitted` count ONLY turns that also pass the F2 confidence gate
    * (matching `observe()` and the snapshot manifest stats); turns the
    * kernel extracted but F2 then drops land in `turnsGated`. Cheap-gate
    * (F1/F6) drops are NOT counted here — those gates are Catalyst Column
    * filters (pushable into the scan), and an accumulator there would force
    * them into opaque typed lambdas. Input cardinality is the source's own
    * metric (e.g. scan rows). */
  final case class Metrics(
      turnsOut: LongAccumulator,
      blocksKept: LongAccumulator,
      blocksDropped: LongAccumulator,
      charsEmitted: LongAccumulator,
      turnsGated: LongAccumulator,
      /** turns QUARANTINED by the poison-row guard (kernel threw; see
        * [[graft.model.ExtractConfig.failFast]]). Task retries can inflate
        * this (accumulator semantics) — it is an operator alarm, not an
        * exact count; the exact drop count is turnsIn − turnsOut −
        * turnsGated on the observed metrics. */
      turnsFailed: LongAccumulator,
      /** Bounded dead-letter sample of quarantined turns: the reprocess
        * keys (→ [[graft.table.SnapshotTable.replaceWhere]]) and error
        * heads. See [[BoundedListAccumulator]] for the bounding rationale. */
      failedSamples: BoundedListAccumulator[QuarantineRecord]
  )

  /** Cap on the dead-letter sample ([[Metrics.failedSamples]]). */
  val FailedSampleCap = 4096

  def newMetrics(spark: SparkSession): Metrics = {
    val samples = new BoundedListAccumulator[QuarantineRecord](FailedSampleCap)
    spark.sparkContext.register(samples, "graft.failedSamples")
    Metrics(
      spark.sparkContext.longAccumulator("graft.turnsOut"),
      spark.sparkContext.longAccumulator("graft.blocksKept"),
      spark.sparkContext.longAccumulator("graft.blocksDropped"),
      spark.sparkContext.longAccumulator("graft.charsEmitted"),
      spark.sparkContext.longAccumulator("graft.turnsGated"),
      spark.sparkContext.longAccumulator("graft.turnsFailed"),
      samples
    )
  }

  /** The default kernel. [[extract]] runs it over the row's `text` and
    * `tool` only; any other kernel passed to the seam gets whole Turns. */
  val DefaultKernel: (Turn, ExtractConfig, ExtractorContext) => ExtractedTurn =
    Extractor.extractTurn(_, _, _)

  /** Gates → kernel step → `spans_fatten`. Output is in scan order; callers
    * that need the stable order use [[run]] or apply [[orderRestore]] (kept
    * separate so the snapshot writer can instead sort within bucket files).
    *
    * The kernel seam is injectable so the poison-row guard is testable (the
    * shipped kernels are total functions — no input makes them throw — so
    * QuarantineSpec injects a throwing one). A kernel must keep the
    * extraction invariant `text` = its span texts joined with `"\n"`:
    * spans cross the step slim and are sliced back out of `text`. The
    * output's identity columns (conv_id, turn_idx, role, tool, ts) are the
    * input row's. */
  def extract(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: ExtractConfig = ExtractConfig.default,
      metrics: Option[Metrics] = None,
      kernel: (Turn, ExtractConfig, ExtractorContext) => ExtractedTurn = DefaultKernel
  ): Dataset[ExtractedTurn] =
    fatten(kernelStep(spark, turns, cfg, metrics, kernel))

  /** Gates (Catalyst filters, pushable into the scan) → [[KernelStep]]:
    * rows in [[KernelStep.OutputSchema]], spans slim. */
  private def kernelStep(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: ExtractConfig,
      metrics: Option[Metrics],
      kernel: (Turn, ExtractConfig, ExtractorContext) => ExtractedTurn
  ): DataFrame = {
    val text = col("text")
    // F1/F6 cheap gates, O(1) per row: the UTF-8 byte count bounds the
    // char count from above, so `length` (a scan over the bytes) runs only
    // for texts with more bytes than maxTextLen
    val gated = turns
      .filter(text.isNotNull && col("conv_id").isNotNull && octet_length(text) > 0 &&
        (octet_length(text) <= cfg.maxTextLen || length(text) <= cfg.maxTextLen))
      .select(KernelStep.InputColumns.map { case (n, t) => col(n).cast(t).as(n) }: _*)
    val step = new KernelStep(spark.sparkContext.broadcast(cfg), metrics,
      if (kernel eq DefaultKernel) None else Some(kernel))
    ExtractKernelStrategy.install(spark)
    new org.apache.spark.sql.classic.Dataset[Row](
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      ExtractKernel(step, gated.queryExecution.analyzed),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(KernelStep.OutputSchema))
  }

  /** Restore the north-rule stable ordering: each output partition holds
    * whole conversations, sorted by (conv_id, turn_idx) — a shuffle on
    * conv_id alone + local sort, NOT a global orderBy (no driver-side range
    * sampling job, and downstream per-conversation consumers keep locality).
    *
    * Shuffle-byte halving: span texts are exactly the `"\n"`-joined pieces
    * of `text` (kernel invariant), so the exchange ships spans SLIMMED to
    * byte lengths and the reduce side slices the texts back out of `text`
    * — lossless, codegen'd both sides ([[graft.functions.SpanShuffle]]).
    * The exchange (serialize → sort → fetch) is the flagship's measured
    * memory-bandwidth ceiling, so bytes through it cost scaling efficiency.
    * [[run]] feeds it the kernel step's rows, which are slim already.
    */
  def orderRestore(ds: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] = {
    graft.functions.SpanShuffle.register(ds.sparkSession)
    sorted(ds.toDF().withColumn("spans", graft.functions.SpanShuffle.slim(col("spans"))))
  }

  private def sorted(slim: DataFrame): Dataset[ExtractedTurn] = {
    val conf = slim.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    // AQE coalescing sizes the exchange from the bytes it measured; only
    // without it does the estimate size the exchange up front
    val exchanged =
      if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
        slim.repartition(col("conv_id"))
      else slim.repartition(exchangePartitions(slim.sparkSession.sparkContext.defaultParallelism,
        conf.numShufflePartitions, slim.queryExecution.analyzed.stats.sizeInBytes,
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)), col("conv_id"))
    fatten(exchanged.sortWithinPartitions(col("conv_id"), col("turn_idx")))
  }

  /** Partition count of the order-restoring exchange:
    * `min(cap, p × max(1, ⌊inputBytes / (p × minPartitionBytes)⌋))` —
    * whole waves of `p` tasks, at least one wave, never more than `cap`
    * (the unsized repartition's count). An unknown estimate
    * (`Long.MaxValue`) lands on the cap. */
  def exchangePartitions(p: Int, cap: Int, inputBytes: BigInt, minPartitionBytes: Long): Int = {
    val waves = (inputBytes / (BigInt(p) * minPartitionBytes.max(1L))).max(1)
    (BigInt(p) * waves).min(cap).toInt
  }

  /** Every output column is aliased here, so a self-join of the result
    * renews its attributes at this projection (the analyzer cannot renew
    * the kernel step's own output). */
  private def fatten(slim: DataFrame): Dataset[ExtractedTurn] = {
    import slim.sparkSession.implicits._
    graft.functions.SpanShuffle.register(slim.sparkSession)
    slim.select(slim.columns.toSeq.map {
      case "spans" => graft.functions.SpanShuffle.fatten(col("text"), col("spans")).as("spans")
      case c => col(c).as(c)
    }: _*).as[ExtractedTurn]
  }

  /** Wrap an extraction output with `Dataset.observe` metrics (name
    * "graft_extract": turnsOut + blocksKept/blocksDropped/charsEmitted
    * sums). Unlike the accumulator [[Metrics]], observed metrics are
    * exactly-once per action (no task-retry double counting) and surface
    * through the standard `QueryExecutionListener` channel; placed on the
    * OUTPUT so no Filter/scan pushdown is blocked (a CollectMetrics node
    * between scan and gates would pin the gates above the scan). */
  def observed(ds: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] =
    ds.observe("graft_extract",
      count(lit(1)).as("turnsOut"),
      sum(col("blocksKept")).as("blocksKept"),
      sum(col("blocksDropped")).as("blocksDropped"),
      sum(col("charsEmitted")).as("charsEmitted"))

  /** End-to-end: gates → kernel step → repartition(conv_id) → sort →
    * `spans_fatten`. */
  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: ExtractConfig = ExtractConfig.default,
      metrics: Option[Metrics] = None
  ): Dataset[ExtractedTurn] =
    sorted(kernelStep(spark, turns, cfg, metrics, DefaultKernel))
}
