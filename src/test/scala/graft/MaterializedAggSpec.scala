package graft

import graft.gen.TranscriptGen
import graft.pipe.ExtractJob
import graft.table.{MaterializedAgg, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Materialized-view maintenance over the snapshot table: refresh must be
  * (1) delta-driven — PROVEN by hiding the already-aggregated data files
  * before the second refresh, which would crash a full recompute,
  * (2) exactly equal to a from-scratch aggregate at every point,
  * (3) a no-op when already current, idempotent after a simulated crash,
  * and (4) full-recompute-correct after a rewrite breaks the append chain.
  */
class MaterializedAggSpec extends AnyFunSuite with SparkTestBase {

  private val seed = 42L
  private val nConvs = 60
  private val hotBase = 120

  private def fullAgg(df: DataFrame): Set[(String, String, Long, Long, Long)] =
    df.groupBy(col("tool"), col("role"))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("charsEmitted").cast("long")).as("chars"),
        sum(col("blocksKept").cast("long")).as("blocks_kept"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  private def viewRows(ma: MaterializedAgg): Set[(String, String, Long, Long, Long)] =
    ma.read(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("incremental refresh reads ONLY the delta and equals the full aggregate; " +
    "no-op when current; rewrite falls back to full recompute") {
    import testImplicits._
    val dir = suiteTempDir("snapagg")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val ma = new MaterializedAgg(table, s"$dir/view")
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)

    // batch 1: buckets {0,1,2} → first refresh is a full compute at snap 0
    val batch1 = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 3).drop("bucket").as[graft.model.Turn]
    ExtractJob.runIncremental(spark, table, batch1, runId = "runA")
    assert(ma.refresh(spark) == 0L)
    assert(viewRows(ma) == fullAgg(table.read(spark)))

    // batch 2: remaining buckets. Before refreshing, HIDE runA's data files:
    // a delta refresh never touches them (the view already holds their
    // aggregate); a full recompute would throw. This is the proof the
    // refresh is incremental, not just correct.
    ExtractJob.runIncremental(spark, table, turns, runId = "runB")
    val runADir = Paths.get(s"$dir/data/run=runA")
    val hidden = Paths.get(s"$dir/data/hidden-runA")
    Files.move(runADir, hidden)
    assert(ma.refresh(spark) == 1L)
    Files.move(hidden, runADir)
    assert(viewRows(ma) == fullAgg(table.read(spark)))

    // already current → no-op (marker unchanged, no new state version)
    val before = Files.readString(Paths.get(s"$dir/view/CURRENT"))
    assert(ma.refresh(spark) == 1L)
    assert(Files.readString(Paths.get(s"$dir/view/CURRENT")) == before)

    // a crash between state write and marker move leaves an orphan agg-v
    // dir; the next refresh overwrites it (idempotent)
    Files.createDirectories(Paths.get(s"$dir/view/agg-v99"))
    Files.writeString(Paths.get(s"$dir/view/agg-v99/garbage"), "x")
    // compact REWRITES buckets → append chain from snap 1 is broken →
    // refresh must fall back to a full recompute and stay exact
    table.compact(spark, runId = "compact1")
    val snapAfterCompact = table.currentSnapshotId.get
    assert(ma.refresh(spark) == snapAfterCompact)
    assert(ma.refreshedSnapshot.contains(snapAfterCompact))
    assert(viewRows(ma) == fullAgg(table.read(spark)))
    // superseded + orphan state versions were GC'd, live one remains
    assert(!Files.exists(Paths.get(s"$dir/view/agg-v1")))
    assert(!Files.exists(Paths.get(s"$dir/view/agg-v99")))
    assert(Files.exists(Paths.get(s"$dir/view/agg-v$snapAfterCompact")))
  }

  test("hll distinct-conversation registers: the incrementally-merged sketch " +
    "is bit-identical to a from-scratch sketch of the union, and the decoded " +
    "estimate tracks the exact per-group distinct count") {
    import testImplicits._
    val dir = suiteTempDir("snapagghll")
    val table = new SnapshotTable(dir, numBuckets = 8)
    val ma = new MaterializedAgg(table, s"$dir/view")
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4)

    // two appends with a refresh between them → the second refresh takes
    // the MERGE path (register-wise max of stored state vs delta sketch)
    val batch1 = turns.withColumn("bucket", table.bucketOf)
      .where(col("bucket") < 4).drop("bucket").as[graft.model.Turn]
    ExtractJob.runIncremental(spark, table, batch1, runId = "runA")
    ma.refresh(spark)
    ExtractJob.runIncremental(spark, table, turns, runId = "runB")
    ma.refresh(spark)

    // independent from-scratch register twin, built in the spec (never via
    // MaterializedAgg) over the FULL table — if the merge lost or doubled
    // any register this differs
    import graft.functions.{TextFingerprint, TextFunctions => TF}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val h = TF.universalHash(TextFingerprint(col("conv_id")), 0)
    val scratch = table.read(spark)
      .withColumn("_h", h)
      .withColumn("reg", col("_h").bitwiseAND(lit(63L)).cast("int"))
      .withColumn("wb", shiftright(col("_h"), 6))
      .withColumn("rho", when(col("wb") === 0, lit(24))
        .otherwise((log2(col("wb").bitwiseAND(-col("wb"))) + 1).cast("int")))
      .groupBy(col("tool"), col("role"), col("reg")).agg(max(col("rho")).as("mreg"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getInt(2) -> r.getInt(3)))
      .groupBy(_._1).map { case (k, vs) =>
        val regs = Array.fill(64)(0)
        vs.foreach { case (_, (i, v)) => regs(i) = v }
        k -> regs.toSeq
      }
    val merged = ma.read(spark).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getSeq[Int](5))).toMap
    assert(merged.keySet == scratch.keySet)
    merged.foreach { case (k, regs) => assert(regs == scratch(k), s"group $k") }

    // decoded estimate vs exact distinct conversations per group: m = 64
    // gives σ ≈ 13%, and these groups sit in the accurate linear-counting
    // range — a generous ±40% bound pins gross construction errors without
    // flaking on sketch variance
    val exact = table.read(spark).groupBy(col("tool"), col("role"))
      .agg(countDistinct(col("conv_id")).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val est = ma.readWithEstimate(spark).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(6))).toMap
    exact.foreach { case (k, n) =>
      val e = est(k)
      assert(e >= n * 0.6 && e <= n * 1.4, s"group $k: est $e vs exact $n")
    }
  }

  test("streaming-maintained view: a refresh per micro-batch rides the " +
    "append-only delta (proven by hiding the earlier batch's files) and " +
    "stays exactly equal to a from-scratch aggregate") {
    import testImplicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("snapaggstream")
    val table = new SnapshotTable(s"$dir/table", numBuckets = 4)
    val ma = new MaterializedAgg(table, s"$dir/view")
    val turns = TranscriptGen.corpus(11L, nConvs = 16, hotBase = 30).map(_.turn).toVector

    val stream = MemoryStream[graft.model.Turn]
    val q = graft.streaming.StreamingExtract.snapshotSink(
      graft.streaming.StreamingExtract.extract(spark, stream.toDS()),
      table, s"$dir/ckpt").trigger(Trigger.ProcessingTime(0)).start()
    val (a, b) = turns.splitAt(turns.size / 2)
    stream.addData(a); q.processAllAvailable()
    val snap0 = ma.refresh(spark)
    assert(viewRows(ma) == fullAgg(table.read(spark)))

    stream.addData(b); q.processAllAvailable()
    q.stop()
    // hide batch 0's data files before the second refresh: a full
    // recompute would crash, the delta path never touches them
    val run0 = Paths.get(s"$dir/table/data/run=${q.id}-0")
    val hidden = Paths.get(s"$dir/table/data/hidden-stream-0")
    Files.move(run0, hidden)
    val snap1 = ma.refresh(spark)
    assert(snap1 > snap0)
    Files.move(hidden, run0)
    assert(viewRows(ma) == fullAgg(table.read(spark)))
  }
}
