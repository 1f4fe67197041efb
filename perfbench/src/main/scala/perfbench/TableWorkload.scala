package perfbench

import graft.gen.TranscriptGen
import graft.model.ExtractedTurn
import graft.streaming.StreamingExtract
import graft.table.SnapshotTable
import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `table`: one client in a closed loop against one SnapshotTable. Each
  * micro-batch of pre-extracted turns is appended with
  * StreamingExtract.commitBatch, then followed by seeded point lookups and a
  * full-table aggregate; the loop ends with compact, lookups and an
  * aggregate again, and then the client's curation queries: one
  * SparkEntry query per operator family ([[QuerySample]]). No kernel runs
  * in the loop; its input is extracted once in set-up. */
object TableWorkload {
  val Batches = 3
  val Buckets = 16
  val SetupReps = 3

  final case class Sizes(nConvs: Int, hot: Int, lookups: Int) {
    def perBatch: Int = nConvs / Batches
    def turnsBelow(conv: Int): Long = (0 until conv).map(TranscriptGen.turnCount(_, hot).toLong).sum
  }

  /** Latencies of one loop, by operation. The first micro-batch's commit,
    * lookups and aggregate warm the loop up and are kept out. */
  final class Ops {
    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val scans = mutable.ArrayBuffer.empty[(Long, Double)]
    var entriesBeforeCompact = 0
    var bytesWritten = 0L
    var bytesLive = 0L
    def add(op: String, s: Double): Unit = lat.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += s
    def merge(o: Ops): Unit = {
      o.lat.foreach { case (k, v) => lat.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
      scans ++= o.scans
      entriesBeforeCompact = o.entriesBeforeCompact
      bytesWritten = o.bytesWritten
      bytesLive = o.bytesLive
    }
    def median(op: String): Double = Stats.median(lat(op).toSeq)
    /** Rows per second over all kept aggregates (the table grows and then
      * compacts, so single scans differ by position in the loop). */
    def scanRate: Double = scans.map(_._1).sum / scans.map(_._2).sum
  }

  /** Writes the micro-batches of pre-extracted turns, one parquet
    * directory each; batch b holds conversations [b·perBatch, (b+1)·perBatch).
    * The extraction is the generator's spec-derived expectation, so the
    * table's input does not depend on the kernel. */
  def prepare(spark: SparkSession, seed: Long, sz: Sizes, dir: File): Seq[File] = {
    import spark.implicits._
    val hot = sz.hot
    val perBatch = sz.perBatch
    spark.range(0, Batches.toLong * perBatch, 1, 4)
      .flatMap { i =>
        TranscriptGen.conv(seed, i.toInt, hot).map { g =>
          val t = g.turn
          (i / perBatch, ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
            g.expText, g.expSpans, g.expKept, g.expDropped, g.expText.length, 1.0))
        }
      }
      .select($"_1".as("batch"), $"_2.*")
      .write.partitionBy("batch").parquet(dir.getPath)
    (0 until Batches).map(b => new File(dir, s"batch=$b"))
  }

  /** The closed loop over a fresh table. */
  def loop(ctx: Ctx, r: Result, spark: SparkSession, sz: Sizes, batches: Seq[File],
      dir: File, rng: TranscriptGen.Rng): Ops = {
    import spark.implicits._
    val tr = ctx.tracer
    val ops = new Ops
    Files.delete(dir)
    val table = new SnapshotTable(dir.getPath, Buckets)
    def timed[A](op: String, keep: Boolean)(body: => A): A = {
      val (a, s) = Stats.seconds(tr.span(op)(body))
      if (keep) ops.add(op, s)
      a
    }
    def lookups(committedConvs: Int, keep: Boolean): Unit = (0 until sz.lookups).foreach { _ =>
      val conv = rng.nextInt(committedConvs)
      val id = f"conv$conv%06d"
      val rows = timed("table.readConversation", keep)(table.readConversation(spark, id).collect().length)
      val want = TranscriptGen.turnCount(conv, sz.hot)
      r.check(rows == want, s"lookup $id returned $rows rows, expected $want")
    }
    def aggregate(expect: Long, keep: Boolean): Long = {
      val (n, s) = Stats.seconds(timed("table.read.aggregate", keep) {
        table.read(spark).agg(count(lit(1)), sum(length(col("text")))).collect()(0).getLong(0)
      })
      if (keep) ops.scans += n -> s
      r.check(n == expect, s"aggregate counted $n rows, expected $expect")
      n
    }
    var last = 0L
    batches.zipWithIndex.foreach { case (f, b) =>
      val keep = b > 0
      val batch = spark.read.parquet(f.getPath).as[ExtractedTurn]
      val snap = timed("streaming.commitBatch", keep)(StreamingExtract.commitBatch(table, batch, b.toLong))
      r.check(snap.isDefined, s"commitBatch $b cut no snapshot")
      val committed = (b + 1) * sz.perBatch
      lookups(committed, keep)
      last = aggregate(sz.turnsBelow(committed), keep)
    }
    ops.entriesBeforeCompact = manifestLines(dir)
    timed("table.compact", keep = true)(table.compact(spark, "compact"))
    r.check(manifestLines(dir) == Buckets, "compact left more than one file set per bucket")
    lookups(batches.size * sz.perBatch, keep = true)
    aggregate(last, keep = true)
    QuerySample.pass(ctx, r, spark, ctx.dataDir.getPath).foreach { case (q, s) => ops.add(s"suite.q.$q", s) }
    // table shape after the loop (untimed): everything written vs live
    ops.bytesWritten = Files.parquetBytes(new File(dir, "data"))
    ops.bytesLive = table.committedEntries(spark).map(e => Files.parquetBytes(new File(e.path))).sum
    ops
  }

  /** Operations of one loop, by kind (the loop's shape, independent of
    * timing). */
  def opsPerLoop(sz: Sizes): Seq[(String, Int)] = Seq(
    "streaming.commitBatch" -> Batches,
    "table.readConversation" -> (Batches + 1) * sz.lookups,
    "table.read.aggregate" -> (Batches + 1),
    "table.compact" -> 1) ++ QuerySample.names.map(q => s"suite.q.$q" -> 1)

  /** The loop's wall time composed from per-operation medians: a transient
    * host stall inflates one operation, not the reported loop. */
  def composed(ops: Ops, sz: Sizes): Double =
    opsPerLoop(sz).map { case (op, n) => n * ops.median(op) }.sum

  /** Entries of the live snapshot, read straight from the manifest file. */
  private def manifestLines(dir: File): Int = {
    val id = java.nio.file.Files.readString(new File(dir, "CURRENT").toPath).trim
    java.nio.file.Files.readAllLines(new File(dir, s"manifests/snap-$id.json").toPath).size()
  }

  /** The commit path alone at both levels, batch by batch into two fresh
    * tables. The two commits of a batch run back to back (a session switch
    * apart), so each pair sees the same host conditions. Returns the
    * (local[4], local[1]) seconds of batches 1.. and the local[1] spans. */
  def commitPairs(ctx: Ctx, r: Result, batches: Seq[File], dir: File): Seq[((Double, Double), Option[Span])] = {
    val dirs = Map(4 -> new File(dir, "c4"), 1 -> new File(dir, "c1"))
    dirs.values.foreach(Files.delete)
    batches.zipWithIndex.map { case (f, b) =>
      val t = Seq(4, 1).map { c =>
        val spark = Sessions.start(ctx, c, coalesce = true)
        import spark.implicits._
        val table = new SnapshotTable(dirs(c).getPath, Buckets)
        val batch = spark.read.parquet(f.getPath).as[ExtractedTurn]
        val (snap, s) = Stats.seconds(ctx.tracer.span(s"table.commit.${c}c") {
          StreamingExtract.commitBatch(table, batch, b.toLong)
        })
        r.check(snap.isDefined, s"commitBatch $b at local[$c] cut no snapshot")
        ctx.tracer.drain()
        s -> ctx.tracer.lastClosed.filter(_ => c == 1)
      }
      ((t(0)._1, t(1)._1), t(1)._2)
    }.drop(1)
  }

  def run(ctx: Ctx, r: Result): Unit = {
    val nConvs = if (ctx.smoke) 400 else 6000
    val sz = Sizes(nConvs, ExtractWorkload.hotBaseFor(nConvs, 0.008), if (ctx.smoke) 2 else 4)
    r.detail ++= Seq("corpus.conversations" -> nConvs, "corpus.turns" -> sz.turnsBelow(nConvs),
      "corpus.hot_conversation_turns" -> sz.hot, "corpus.seed" -> ctx.seed,
      "batches" -> Batches, "buckets" -> Buckets, "lookups_per_batch" -> sz.lookups,
      "queries" -> QuerySample.Families.toMap)
    QuerySample.requireRegistered()

    var batchDir: File = null
    var batches: Seq[File] = Nil
    val setups = (0 until SetupReps).map { i =>
      if (batchDir != null) Files.delete(batchDir)
      batchDir = new File(ctx.work, s"batches-$i")
      Stats.seconds {
        val spark = Sessions.start(ctx, 4, coalesce = true)
        batches = prepare(spark, ctx.seed, sz, batchDir)
      }._2
    }
    val logicalBytes = batches.map(Files.parquetBytes).sum.toDouble
    val tableDir = new File(ctx.work, "table")
    val rng = new TranscriptGen.Rng(ctx.seed * 31 + 7)

    // untimed: the sampled queries run once and leave their results for the
    // oracle check (this also warms their code)
    val warm = Stats.seconds(
      QuerySample.writeForOracle(Sessions.start(ctx, 4, coalesce = true), ctx.dataDir.getPath, ctx.oracleOut))._2
    if (ctx.injectFailure) sys.error("injected failure (table)")

    val tr = ctx.tracer
    val ops = new Ops
    val c1 = mutable.ArrayBuffer.empty[Double]
    val ratios = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.Map.empty[Int, mutable.ArrayBuffer[(Span, Double)]]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val gc0 = Jvm.gcSeconds
    val gcn0 = Jvm.gcCount
    val reps = Loop.reps(ctx.seconds, minReps = 1) { i =>
      tr.newRep()
      val spark = Sessions.start(ctx, 4, coalesce = true)
      // traced runs also run the loop untraced, alternating which goes first;
      // the overhead compares loops composed from per-operation medians,
      // which leave the first batch's warm-up out
      def plain(): Unit = if (ctx.trace) {
        tr.setActive(false)
        untraced += composed(loop(ctx, r, spark, sz, batches, tableDir, rng), sz)
        tr.setActive(true)
      }
      if (i % 2 == 0) plain()
      val o = tr.span("table.loop.4c")(loop(ctx, r, spark, sz, batches, tableDir, rng))
      ops.merge(o)
      traced += composed(o, sz)
      if (ctx.trace) {
        tr.drain()
        spans.getOrElseUpdate(4, mutable.ArrayBuffer.empty) += (tr.lastClosed.get -> traced.last)
      }
      if (i % 2 == 1) plain()
      commitPairs(ctx, r, batches, tableDir).foreach { case ((t4, t1), sp) =>
        ratios += t1 / t4
        c1 += t1
        sp.foreach(x => spans.getOrElseUpdate(1, mutable.ArrayBuffer.empty) += (x -> t1))
      }
    }
    val gcS = Jvm.gcSeconds - gc0
    val gcN = Jvm.gcCount - gcn0
    val heap = Jvm.liveHeapMb()

    val spark = SparkSession.active
    val lookupsMs = ops.lat("table.readConversation").map(_ * 1000).toSeq
    val loopS = composed(ops, sz)
    val commit4 = ops.median("streaming.commitBatch")
    r.detail ++= Seq(
      "loop_s" -> loopS,
      "commit_s_p50" -> commit4,
      "commit_s_p50.1c" -> Stats.median(c1.toSeq),
      "scan_rows_per_s" -> ops.scanRate,
      "compact_s" -> ops.median("table.compact"),
      "suite_s" -> QuerySample.names.map(q => ops.median(s"suite.q.$q")).sum,
      "lookups" -> lookupsMs.length, "reps" -> reps, "warm_s" -> warm,
      "setup_s.all" -> setups, "jvm.gc_s" -> gcS,
      "table.manifest_entries" -> ops.entriesBeforeCompact,
      "table.files_per_bucket" -> ops.entriesBeforeCompact.toDouble / Buckets,
      "table.write_amp" -> ops.bytesWritten / logicalBytes,
      "table.space_amp" -> ops.bytesLive / logicalBytes)
    Stats.tail(lookupsMs).foreach { case (q, v) => r.detail(s"lookup_ms_$q") = v }
    QuerySample.Families.foreach { case (fam, q) =>
      r.detail(s"suite.family.${fam}_s") = ops.median(s"suite.q.$q")
    }
    if (ctx.trace) {
      Layers.fromPasses(r, ctx, "4c", spans(4).toSeq)
      Layers.fromPasses(r, ctx, "1c", spans(1).toSeq)
      Layers.common(r, traced.toSeq, untraced.toSeq, gcS, gcN)
      tableDetail(ctx, r, spark, sz, tableDir)
    } else {
      r.e2e ++= Seq(
        "pass_s" -> loopS,
        "rows_per_s" -> ops.scanRate,
        "scaling_eff" -> Stats.median(ratios.toSeq) / 4,
        "op_ms_p50" -> Stats.median(lookupsMs),
        "setup_s" -> Stats.median(setups),
        "heap_live_mb" -> heap)
    }
  }

  /** Table-layer split of the traced loops: Spark job time inside
    * commitBatch versus the manifest work around it, and a lookup's
    * planning (manifest read + bucket hash, called directly) versus scan. */
  private def tableDetail(ctx: Ctx, r: Result, spark: SparkSession, sz: Sizes, dir: File): Unit = {
    val tr = ctx.tracer
    val commits = tr.all.filter(_.name == "streaming.commitBatch")
    val sparkS = commits.map { sp =>
      sp.seconds - StageSummary.driverSeconds(sp.startMs, sp.endMs, tr.jobsUnder(sp.id))
    }
    r.detail("table.commit.spark_s") = Stats.median(sparkS)
    r.detail("table.commit.driver_s") = Stats.median(commits.map(_.seconds)) - Stats.median(sparkS)
    val table = new SnapshotTable(dir.getPath, Buckets)
    val plan = (0 until 20).map { i =>
      val id = f"conv${i * 37 % sz.nConvs}%06d"
      Stats.seconds(tr.span("table.lookup.plan") {
        table.committedEntries(spark).count(_.bucket == table.bucketOfId(id))
      })._2 * 1000
    }
    val look = tr.all.filter(_.name == "table.readConversation")
    r.detail("table.lookup.plan_ms") = Stats.median(plan)
    r.detail("table.lookup.scan_ms") = Stats.median(look.map(_.seconds * 1000)) - Stats.median(plan)
    r.detail("table.lookup.jobs") = Stats.median(look.map(sp => tr.jobsUnder(sp.id).size.toDouble))
  }
}
