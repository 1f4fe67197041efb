package graft.pipe

import graft.kernel.Extractor
import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The flagship extraction job (SURVEY §3.1 "Spark shape"):
  *
  * scan → cheap gates (BEFORE the kernel — Catalyst cannot reorder filters
  * through an opaque mapPartitions, so we author them first, the same
  * cheap-predicate-first discipline as the reference's blur gate
  * `/root/reference/src/cmnd/main.py:57-60`) → mapPartitions kernel FUSED
  * onto the scan partitions (per-partition batched, broadcast config, lazy
  * per-executor init ≈ per-daemon model load `template.py:73`) → stable
  * (conv_id, turn_idx) order restore → sink.
  *
  * Exactly ONE exchange in the default configuration: the order-restoring
  * repartition by conv_id. Skew is handled structurally, not by a salt
  * shuffle: scan splits are size-bounded (`files.maxPartitionBytes`) and
  * per-turn kernel cost is bounded (maxTextLen gate), so no conversation
  * can concentrate more than one split's worth of kernel work in one task —
  * and the raw payloads never cross the network (measured: the fused plan
  * does ~1/3 the task-time of the salted one and runs 2.5× faster at 16
  * cores). `cfg.saltBuckets > 0` re-enables the salted pre-kernel exchange
  * for cost-skewed kernels (BENCH/SKEW.md carries both ablations).
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

  /** Gates → salt → kernel. Output is UNORDERED (post-shuffle); callers that
    * need the stable order apply [[orderRestore]] (kept separate so the
    * snapshot writer can instead sort within bucket files). */
  def extract(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: ExtractConfig = ExtractConfig.default,
      metrics: Option[Metrics] = None,
      // kernel seam: injectable so the poison-row guard below is testable
      // (the shipped kernels are total functions — no input makes them
      // throw — so QuarantineSpec injects a throwing one)
      kernel: (Turn, ExtractConfig, graft.kernel.ExtractorContext) => ExtractedTurn =
        Extractor.extractTurn(_, _, _)
  ): Dataset[ExtractedTurn] = {
    import spark.implicits._
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val m = metrics

    val gated = turns.filter(
      col("text").isNotNull && col("conv_id").isNotNull &&
        length(col("text")) > 0 && length(col("text")) <= cfg.maxTextLen
    )
    val salted = Salting.salted(gated, cfg.saltBuckets)
    salted.mapPartitions { it =>
      val c = bcCfg.value // one broadcast fetch per task, not per row
      val ctx = new graft.kernel.ExtractorContext // per-task reusable buffers
      it.map { t =>
        val out = try kernel(t, c, ctx) catch {
          // Poison-row quarantine: emit a sentinel the F2 gate drops
          // (classifyScore −1 < any sane gate) and alarm via the
          // accumulator; fatal JVM errors (OOM, stack overflow) still kill
          // the task — only application-level failures are survivable.
          case scala.util.control.NonFatal(e) if !c.failFast =>
            m.foreach { acc =>
              acc.turnsFailed.add(1)
              acc.failedSamples.add(QuarantineRecord(
                t.conv_id, t.turn_idx, e.toString.take(200)))
            }
            ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
              "", Vector.empty, 0, 0, 0, -1.0)
        }
        // the accumulator test mirrors the declarative F2 filter below
        // (same deterministic predicate on the kernel's own output), so
        // counts reflect rows that actually reach the sink
        m.foreach { acc =>
          if (out.classifyScore >= c.minClassifyScore) {
            acc.turnsOut.add(1)
            acc.blocksKept.add(out.blocksKept)
            acc.blocksDropped.add(out.blocksDropped)
            acc.charsEmitted.add(out.charsEmitted)
          } else if (out.classifyScore >= 0) acc.turnsGated.add(1)
          // (score −1 = quarantine sentinel: already counted in turnsFailed)
        }
        out
      }
    }
      // F2 confidence gate (reference classify-score gate < 0.3,
      // idcardprocesser.py:135): a no-op for turns whose `tool` named the
      // dialect (score 1.0); sniffed low-confidence turns are dropped here
      .filter(col("classifyScore") >= cfg.minClassifyScore)
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
    */
  def orderRestore(ds: Dataset[ExtractedTurn]): Dataset[ExtractedTurn] = {
    import ds.sparkSession.implicits._
    graft.functions.SpanShuffle.register(ds.sparkSession)
    ds.toDF()
      .withColumn("spans", graft.functions.SpanShuffle.slim(col("spans")))
      .repartition(col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .withColumn("spans", graft.functions.SpanShuffle.fatten(col("text"), col("spans")))
      .as[ExtractedTurn]
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

  /** End-to-end: gates → salt → kernel → order restore. */
  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: ExtractConfig = ExtractConfig.default,
      metrics: Option[Metrics] = None
  ): Dataset[ExtractedTurn] =
    orderRestore(extract(spark, turns, cfg, metrics))
}
