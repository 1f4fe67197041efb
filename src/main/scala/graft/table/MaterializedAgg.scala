package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Incrementally-maintained aggregate over a [[SnapshotTable]] — the
  * materialized-view-maintenance analog (Iceberg/Delta "incremental
  * refresh"): per-(tool, role) turn/char/block counts kept in their own
  * versioned parquet state, refreshed from [[SnapshotTable.readChanges]]
  * DELTAS instead of full table rescans. At 100 TB a dashboard aggregate
  * that rescans the table per refresh IS the cluster's biggest job; this
  * one reads only the appended files since the last refreshed snapshot.
  *
  * Correct by algebra: every maintained measure is a commutative monoid
  * (counts and integer sums), so merge(old_agg, agg(delta)) ≡
  * agg(old ∪ delta) exactly — no floats, no order dependence. Distinct
  * counts — NOT a monoid exactly — ride along as an HLL register vector
  * (m = 64, same construction as q_hll_distinct), which IS a monoid under
  * element-wise max: the merged registers are bit-identical to a
  * from-scratch sketch of the union, so the estimate never drifts across
  * refreshes. Exact distincts / medians still need a rescan by nature.
  *
  * Append-only deltas are the fast path. If the chain from the refreshed
  * snapshot was broken by a rewrite (compact / replaceWhere / delete),
  * [[SnapshotTable.readChanges]] throws — and refresh falls back to a full
  * recompute at the target snapshot, the honest MV-maintenance behavior
  * (a rewritten bucket's old rows cannot be subtracted from manifests
  * alone).
  *
  * State protocol mirrors the table's own (data first, CURRENT last,
  * [[Refs.atomicWrite]]): `dir/agg-v<snapId>/` parquet + `dir/CURRENT` naming the
  * snapshot the view is consistent with. A crash between the two leaves an
  * orphan agg-v dir that the next refresh simply overwrites — refresh is
  * idempotent.
  */
final class MaterializedAgg(val table: SnapshotTable, val dir: String) {

  private val pointer = new Refs(dir)

  /** Snapshot id the materialized state is consistent with, if any. */
  def refreshedSnapshot: Option[Long] = pointer.read(Refs.Main)

  /** The view definition over extracted turns (mergeable partials only).
    * The HLL registers are 64 conditional-max aggregates in the SAME
    * Aggregate node as the counts — one pass over the delta, map-side
    * partials throughout, no join and no per-group row collection. */
  private def aggregate(rows: DataFrame): DataFrame = {
    implicit val s: SparkSession = rows.sparkSession
    val h = graft.functions.TextFunctions.universalHash(
      graft.functions.TextFingerprint(col("conv_id")), 0)
    val hashed = rows
      .withColumn("_h", h)
      .withColumn("_reg", col("_h").bitwiseAND(lit(63L)).cast("int"))
      .withColumn("_wb", shiftright(col("_h"), 6))
      .withColumn("_rho",
        when(col("_wb") === 0, lit(24))
          .otherwise((log2(col("_wb").bitwiseAND(-col("_wb"))) + 1).cast("int")))
    val measures =
      count(lit(1)).as("n_turns") +:
      sum(col("charsEmitted").cast("long")).as("chars") +:
      sum(col("blocksKept").cast("long")).as("blocks_kept") +:
      (0 until MaterializedAgg.HllM).map(i =>
        max(when(col("_reg") === i, col("_rho"))).as(s"_r$i"))
    hashed.groupBy(col("tool"), col("role"))
      .agg(measures.head, measures.tail: _*)
      .select(col("tool"), col("role"), col("n_turns"), col("chars"),
        col("blocks_kept"),
        array((0 until MaterializedAgg.HllM)
          .map(i => coalesce(col(s"_r$i"), lit(0))): _*).as("hll_convs"))
  }

  private def merge(oldAgg: DataFrame, deltaAgg: DataFrame): DataFrame =
    oldAgg.unionByName(deltaAgg)
      .groupBy(col("tool"), col("role"))
      .agg(sum(col("n_turns")).as("n_turns"), sum(col("chars")).as("chars"),
        sum(col("blocks_kept")).as("blocks_kept"),
        // element-wise register max over the (≤ 2) rows per group — the
        // HLL monoid merge; collect_list here is bounded by the union's
        // per-group multiplicity, never by data size
        org.apache.spark.sql.functions.aggregate(collect_list(col("hll_convs")),
          array_repeat(lit(0), MaterializedAgg.HllM),
          (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b))).as("hll_convs"))

  /** Current materialized state (empty-schema frame before first refresh). */
  def read(spark: SparkSession): DataFrame = refreshedSnapshot match {
    case Some(id) => spark.read.parquet(s"$dir/agg-v$id")
    case None     => aggregate(table.read(spark)).limit(0)
  }

  /** State plus the decoded cardinality estimate (distinct conversations
    * per group) from the maintained registers — raw HLL with the standard
    * small-range linear-counting branch (Flajolet et al. 2007). */
  def readWithEstimate(spark: SparkSession): DataFrame = {
    val m = MaterializedAgg.HllM
    val sumExp = org.apache.spark.sql.functions.aggregate(col("hll_convs"),
      lit(0.0), (acc, r) => acc + lit(1.0) / pow(lit(2.0), r))
    val zeros = size(filter(col("hll_convs"), r => r === 0))
    val raw = lit(MaterializedAgg.HllAlphaM2) / sumExp
    read(spark).withColumn("distinct_convs_est",
      round(when(raw <= m * 2.5 && zeros > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
        .otherwise(raw), 1))
  }

  /** Bring the view to the table's current snapshot. Returns the snapshot
    * the view is now consistent with (no-op when already current). */
  def refresh(spark: SparkSession): Long = {
    val target = table.currentSnapshotId.getOrElse(
      throw new IllegalStateException(s"table ${table.dir} has no committed snapshot"))
    val from = refreshedSnapshot
    if (from.contains(target)) return target
    val newAgg = from match {
      case Some(f) =>
        try merge(read(spark), aggregate(table.readChanges(spark, f, target)))
        catch { case _: IllegalStateException =>
          // chain broken by compact/replaceWhere/delete: full recompute
          aggregate(table.readAt(spark, target))
        }
      case None => aggregate(table.readAt(spark, target))
    }
    val out = s"$dir/agg-v$target"
    newAgg.coalesce(1).write.mode("overwrite").parquet(out)
    Refs.atomicWrite(pointer.path(Refs.Main), target.toString)
    // GC superseded versions (safe AFTER the marker move; keep the live one)
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("agg-v")
        && p.getFileName.toString != s"agg-v$target")
      .foreach(deleteRecursively)
    target
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object MaterializedAgg {
  /** HLL register count for the distinct-conversation measure. m = 64
    * (σ ≈ 1.04/√64 = 13%) — a dashboard-grade estimate at 64 ints of
    * state per group. */
  final val HllM = 64

  /** α₆₄ · 64² — the HLL bias-correction constant for m = 64. */
  final val HllAlphaM2: Double = 0.709 * HllM * HllM
}
