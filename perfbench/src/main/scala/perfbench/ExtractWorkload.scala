package perfbench

import graft.gen.TranscriptGen
import graft.kernel.{Extractor, ExtractorContext}
import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import graft.pipe.ExtractPipeline
import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `extract`: the flagship batch job, parquet corpus → ExtractPipeline.run →
  * parquet, timed at local[4] and local[1] over one seeded corpus. */
object ExtractWorkload {
  val SetupReps = 3

  /** Zipf head sized so the hottest conversation holds ~0.8% of all turns. */
  def hotBaseFor(nConvs: Int, share: Double): Int = {
    var h = math.max(2, (share * 2 * nConvs).toInt)
    (0 until 6).foreach(_ => h = math.max(2, (share * TranscriptGen.totalTurns(nConvs, h)).toInt))
    h
  }

  def writeCorpus(spark: SparkSession, seed: Long, nConvs: Int, hot: Int, dir: File): Unit =
    TranscriptGen.dataset(spark, seed, nConvs, hot, partitions = 4)
      .write.mode("overwrite").parquet(dir.getPath)

  private def turnsOf(spark: SparkSession, corpus: File): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(corpus.getPath).as[Turn]
  }

  /** The flagship job; returns wall seconds. */
  def job(spark: SparkSession, corpus: File, out: File,
      metrics: Option[ExtractPipeline.Metrics] = None): Double =
    Stats.seconds {
      ExtractPipeline.run(spark, turnsOf(spark, corpus), ExtractConfig.default, metrics)
        .write.mode("overwrite").parquet(out.getPath)
    }._2

  private def noop(ds: Dataset[_]): Double =
    Stats.seconds(ds.write.format("noop").mode("overwrite").save())._2

  def run(ctx: Ctx, r: Result): Unit = {
    val nConvs = if (ctx.smoke) 1500 else 24000
    val hot = hotBaseFor(nConvs, 0.008)
    val turns = TranscriptGen.totalTurns(nConvs, hot)
    r.detail ++= Seq("corpus.conversations" -> nConvs, "corpus.turns" -> turns,
      "corpus.hot_conversation_turns" -> hot, "corpus.seed" -> ctx.seed)

    var corpus: File = null
    val setups = (0 until SetupReps).map { i =>
      if (corpus != null) Files.delete(corpus)
      corpus = new File(ctx.work, s"corpus-$i")
      Stats.seconds {
        val spark = Sessions.start(ctx, 4)
        writeCorpus(spark, ctx.seed, nConvs, hot, corpus)
      }._2
    }
    r.detail("corpus.mb") = Files.parquetBytes(corpus) / 1048576.0
    val out = new File(ctx.work, "out")
    val checked = new File(ctx.work, "checked")

    // untimed warm-up, one job per level: the local[4] one runs with the
    // kernel-stage counters on, and its output is the one the golden check
    // reads
    val metrics = ExtractPipeline.newMetrics(Sessions.start(ctx, 4))
    val warm = job(SparkSession.active, corpus, checked, Some(metrics)) +
      job(Sessions.start(ctx, 1), corpus, out)
    if (ctx.injectFailure) sys.error("injected failure (extract)")

    if (ctx.trace) traced(ctx, r, corpus, out, turns, nConvs, hot)
    else {
      val times = Map(4 -> mutable.ArrayBuffer.empty[Double], 1 -> mutable.ArrayBuffer.empty[Double])
      val gc0 = Jvm.gcSeconds
      // at least four pairs: per-job times keep falling over the first few
      // jobs, so a run with fewer samples would report a slower median
      val reps = Loop.reps(ctx.seconds, minReps = 4) { i =>
        val order = if (i % 2 == 0) Seq(1, 4) else Seq(4, 1)
        order.foreach(c => times(c) += job(Sessions.start(ctx, c), corpus, out))
      }
      val t4 = Stats.median(times(4).toSeq)
      val t1 = Stats.median(times(1).toSeq)
      val gcS = Jvm.gcSeconds - gc0
      r.e2e ++= Seq(
        "pass_s" -> t4,
        "rows_per_s" -> turns / t4,
        "scaling_eff" -> (t1 / t4) / 4,
        "op_ms_p50" -> t4 * 1000,
        "setup_s" -> Stats.median(setups),
        "heap_live_mb" -> Jvm.liveHeapMb())
      r.detail ++= Seq(
        "extract_tps_4c" -> turns / t4, "extract_tps_1c" -> turns / t1,
        "job_s.4c" -> times(4).toSeq, "job_s.1c" -> times(1).toSeq,
        "reps" -> reps, "warm_s" -> warm, "setup_s.all" -> setups,
        "jvm.gc_s" -> gcS)
    }
    verify(ctx, r, checked, turns, metrics.turnsFailed.value)
  }

  /** Golden check of one job's output (untimed): every turn equals the
    * generator's spec-derived expectation, no turn was quarantined, and each
    * conversation sits in one output file sorted by turn_idx. */
  def verify(ctx: Ctx, r: Result, out: File, turns: Long, quarantined: Long): Unit = {
    val spark = Sessions.start(ctx, 4)
    import spark.implicits._
    val seed = ctx.seed
    val got = spark.read.parquet(out.getPath).as[ExtractedTurn]
    val mismatched = got.filter { t =>
      val g = TranscriptGen.genTurn(seed, t.conv_id.stripPrefix("conv").toInt, t.turn_idx)
      !(g.expText == t.text && g.expSpans == t.spans.toVector &&
        g.expKept == t.blocksKept && g.expDropped == t.blocksDropped)
    }.count()
    val n = got.count()
    val distinctKeys = got.select($"conv_id", $"turn_idx").distinct().count()
    val withFile = spark.read.parquet(out.getPath)
      .select($"conv_id", $"turn_idx", input_file_name().as("f"))
    val splitConvs = withFile.groupBy($"conv_id").agg(countDistinct($"f").as("nf"))
      .filter($"nf" > 1).count()
    val unordered = withFile.as[(String, Int, String)].mapPartitions { it =>
      var prev: (String, Int, String) = null
      var bad = 0L
      it.foreach { row =>
        if (prev != null && prev._3 == row._3) {
          val c = prev._1.compareTo(row._1)
          if (c > 0 || (c == 0 && prev._2 >= row._2)) bad += 1
        }
        prev = row
      }
      Iterator(bad)
    }.collect().sum
    // one check per turn: present exactly once and equal to its golden
    val badTurns = mismatched + (turns - distinctKeys).abs + (n - distinctKeys) + quarantined
    r.attempted += turns
    r.failed += math.min(turns, badTurns)
    if (badTurns > 0) r.failures += s"$mismatched golden mismatches, $n rows for $turns turns, $quarantined quarantined"
    r.check(splitConvs == 0, s"$splitConvs conversations span several output files")
    r.check(unordered == 0, s"$unordered rows out of (conv_id, turn_idx) order")
    r.detail ++= Seq("verify.turns_out" -> n, "verify.golden_mismatches" -> mismatched,
      "verify.quarantined" -> quarantined, "verify.split_conversations" -> splitConvs,
      "verify.out_of_order_rows" -> unordered)
  }

  /** Traced run: per level, the full job traced and untraced (overhead), and
    * the pipe decomposition by differencing calls into noop sinks. */
  private def traced(ctx: Ctx, r: Result, corpus: File, out: File, turns: Long,
      nConvs: Int, hot: Int): Unit = {
    val tr = ctx.tracer
    val full = mutable.Map.empty[Int, mutable.ArrayBuffer[(Span, Double)]]
    val plain = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    val parts = mutable.Map.empty[(Int, String), mutable.ArrayBuffer[Double]]
    def add(c: Int, k: String, v: Double) = parts.getOrElseUpdate((c, k), mutable.ArrayBuffer.empty) += v
    val gc0 = Jvm.gcSeconds
    val gcn0 = Jvm.gcCount
    Loop.reps(ctx.seconds, minReps = 2) { i =>
      tr.newRep()
      Seq(4, 1).foreach { c =>
        val spark = Sessions.start(ctx, c)
        // traced and untraced jobs alternate which goes first in a session
        def untraced(): Unit = {
          tr.setActive(false)
          plain.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += job(spark, corpus, out)
          tr.setActive(true)
        }
        if (i % 2 == 0) untraced()
        val t = tr.span(s"extract.job.${c}c")(job(spark, corpus, out))
        tr.drain()
        full.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += (tr.lastClosed.get -> t)
        if (i % 2 == 1) untraced()
        add(c, "scan", tr.span(s"pipe.scan.${c}c")(noop(turnsOf(spark, corpus))))
        add(c, "extract", tr.span(s"pipe.extract.${c}c")(
          noop(ExtractPipeline.extract(spark, turnsOf(spark, corpus)))))
        add(c, "run", tr.span(s"pipe.run.${c}c")(
          noop(ExtractPipeline.run(spark, turnsOf(spark, corpus)))))
        add(c, "job", t)
      }
    }
    Sessions.stop()
    val k = tr.span("kernel.direct")(Kernel.measure(ctx.seed, nConvs, hot))
    r.detail ++= k.detail

    Seq(4, 1).foreach { c =>
      val l = s"${c}c"
      def med(key: String) = Stats.median(parts((c, key)).toSeq)
      val scan = med("scan"); val ext = med("extract"); val run = med("run"); val jb = med("job")
      // kernel time for the same turns on `c` threads
      val kernelS = if (c == 1) turns * k.usPerTurn1t / 1e6 else turns / k.tps4t
      val layers = Seq("scan_s" -> scan, "encode_s" -> (ext - scan - kernelS),
        "order_restore_s" -> (run - ext), "write_s" -> (jb - run))
      r.detail ++= layers.map { case (n, v) => s"pipe.$n.$l" -> v }
      r.detail(s"pipe.extract_s.$l") = ext
      r.detail(s"pipe.kernel_s.$l") = kernelS
      r.detail(s"pipe.largest_non_kernel_layer.$l") = layers.maxBy(_._2)._1.stripSuffix("_s")
      Layers.fromPasses(r, ctx, l, full(c).toSeq)
      r.detail(s"job_s.$l.untraced") = plain(c).toSeq
    }
    Layers.common(r, full(4).map(_._2).toSeq ++ full(1).map(_._2).toSeq,
      plain(4).toSeq ++ plain(1).toSeq, Jvm.gcSeconds - gc0, Jvm.gcCount - gcn0)
  }
}

/** Kernel rates from direct calls over the same corpus, in memory, without
  * Spark. */
final case class KernelRates(usPerTurn1t: Double, tps4t: Double, turns: Int,
    usPerTurnByTool: Map[String, Double]) {
  def detail: Seq[(String, Any)] =
    Seq("kernel.us_per_turn_1t" -> usPerTurn1t, "kernel.tps_4t" -> tps4t, "kernel.turns" -> turns) ++
      usPerTurnByTool.toSeq.sorted.map { case (tool, us) => s"kernel.us_per_turn.$tool" -> us }
}

object Kernel {
  def measure(seed: Long, nConvs: Int, hot: Int): KernelRates = {
    val cfg = ExtractConfig.default
    val turns = TranscriptGen.corpus(seed, nConvs, hot).map(_.turn).toArray
    def pass(ts: Array[Turn]): Double = {
      val ctx = new ExtractorContext
      var sink = 0L
      val (_, s) = Stats.seconds {
        var i = 0
        while (i < ts.length) { sink += Extractor.extractTurn(ts(i), cfg, ctx).charsEmitted; i += 1 }
      }
      if (sink == 42) println("") // keeps the loop's result observable
      s
    }
    val chunks = turns.grouped((turns.length + 3) / 4).toSeq
    def fourThreads(): Double = Stats.seconds {
      val ts = chunks.map { c => val th = new Thread(() => { pass(c); () }); th.start(); th }
      ts.foreach(_.join())
    }._2
    pass(turns); pass(turns) // JIT
    val one = Stats.median((0 until 3).map(_ => pass(turns)))
    val four = Stats.median((0 until 3).map(_ => fourThreads()))
    val byTool = turns.groupBy(_.tool).map { case (tool, ts) =>
      tool -> Stats.median((0 until 3).map(_ => pass(ts))) / ts.length * 1e6
    }
    KernelRates(one / turns.length * 1e6, turns.length / four, turns.length, byTool)
  }
}
