package graft

import graft.gen.TranscriptGen
import graft.kernel.{Extractor, ExtractorContext}
import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import graft.pipe.{ExtractPipeline, KernelStep, QuarantineRecord}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The kernel step over `InternalRow` ([[graft.pipe.KernelStep]]) against a
  * copy of the typed `mapPartitions` path it replaced: same rows, same
  * counters, one kernel call per gated turn, and the gates' boundaries. */
class KernelStepSpec extends AnyFunSuite with SparkTestBase {

  private type Kernel = (Turn, ExtractConfig, ExtractorContext) => ExtractedTurn

  /** The typed path as it was before the kernel step: cheap gates, typed
    * mapPartitions over Turn with the quarantine sentinel and counters,
    * then the F2 filter. */
  private def typedExtract(turns: Dataset[Turn], cfg: ExtractConfig,
      m: Option[ExtractPipeline.Metrics], kernel: Kernel): Dataset[ExtractedTurn] = {
    import testImplicits._
    val bcCfg = spark.sparkContext.broadcast(cfg)
    turns.filter(col("text").isNotNull && col("conv_id").isNotNull &&
        length(col("text")) > 0 && length(col("text")) <= cfg.maxTextLen)
      .mapPartitions { it =>
        val c = bcCfg.value
        val ctx = new ExtractorContext
        it.map { t =>
          val out = try kernel(t, c, ctx) catch {
            case scala.util.control.NonFatal(e) if !c.failFast =>
              m.foreach { acc =>
                acc.turnsFailed.add(1)
                acc.failedSamples.add(QuarantineRecord(t.conv_id, t.turn_idx, e.toString.take(200)))
              }
              ExtractedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
                "", Vector.empty, 0, 0, 0, -1.0)
          }
          m.foreach { acc =>
            if (out.classifyScore >= c.minClassifyScore) {
              acc.turnsOut.add(1)
              acc.blocksKept.add(out.blocksKept)
              acc.blocksDropped.add(out.blocksDropped)
              acc.charsEmitted.add(out.charsEmitted)
            } else if (out.classifyScore >= 0) acc.turnsGated.add(1)
          }
          out
        }
      }
      .filter(col("classifyScore") >= cfg.minClassifyScore)
  }

  private val throwing: Kernel = (t, c, ctx) =>
    if (t.conv_id == "poison") throw new IllegalStateException("kernel bug")
    else Extractor.extractTurn(t, c, ctx)

  private def ts(ms: Long) = new Timestamp(ms)

  /** Generator corpus plus the edge rows: null role/ts/tool, a sniffed
    * unknown tool, a sniffed low-confidence turn the F2 gate drops, astral
    * and multibyte text, a poison conversation, and rows the cheap gates
    * drop (empty text, null text, null conv_id). */
  private def edgeCorpus(): Dataset[Turn] = {
    import testImplicits._
    val astral = "😀 smile 𝄞 clef, café 中文"
    val edges = Seq(
      Turn("edge", 0, null, "a <p>plain</p> payload with nothing odd", "html", null),
      Turn("edge", 1, "user", "<div>sniffed</div><p>as html here</p>", null, ts(1000L)),
      Turn("edge", 2, "user", "<div>unknown</div><p>tool name given</p>", "scanner", ts(2000L)),
      Turn("edge", 3, "user", "   \n\t  ", "mystery", ts(3000L)), // sniffed plain, score 0
      Turn("edge", 4, "user", "just some words", "mystery", ts(4000L)), // sniffed plain, 0.4
      Turn("edge", 5, "assistant", astral, "plain", ts(5000L)),
      Turn("edge", 6, "assistant", s"<p>$astral and more text</p><p>second $astral block</p>",
        "html", ts(6000L)),
      Turn("edge", 7, "tool", s"10 20 $astral\n30 40 line two", "layout", ts(7000L)),
      Turn("edge", 8, "user", "", "plain", ts(8000L)),
      Turn("edge", 9, "user", null, "plain", ts(9000L)),
      Turn(null, 0, "user", "no conversation", "plain", ts(10000L)),
      Turn("poison", 0, "user", "any payload", "plain", ts(11000L)),
      Turn("poison", 1, null, "another payload", null, null))
    TranscriptGen.dataset(spark, 44L, nConvs = 12, hotBase = 20, partitions = 3)
      .unionByName(edges.toDS())
  }

  private def counters(m: ExtractPipeline.Metrics) =
    (m.turnsOut.value, m.blocksKept.value, m.blocksDropped.value, m.charsEmitted.value,
      m.turnsGated.value, m.turnsFailed.value,
      m.failedSamples.sample.map(r => (r.conv_id, r.turn_idx, r.error)).sorted)

  test("kernel step equals the typed path: rows, order and counters, edge rows included") {
    val cfg = ExtractConfig.default
    val (mNew, mOld) = (ExtractPipeline.newMetrics(spark), ExtractPipeline.newMetrics(spark))
    val got = ExtractPipeline.extract(spark, edgeCorpus(), cfg, Some(mNew), throwing).collect()
    val want = typedExtract(edgeCorpus(), cfg, Some(mOld), throwing).collect()
    assert(got.toSet == want.toSet)
    assert(got.length == want.length)
    assert(counters(mNew) == counters(mOld))
    // the edge rows exercised what they were put in for
    val keys = got.map(e => (e.conv_id, e.turn_idx)).toSet
    assert(keys.contains(("edge", 1)) && keys.contains(("edge", 2)), "sniffed tools kept")
    assert(!keys.contains(("edge", 3)), "F2 drops the sniffed score-0 turn")
    assert(!keys.exists(_._1 == "poison"))
    assert(mNew.turnsFailed.value == 2 && mNew.turnsGated.value >= 1)
    val astral = got.filter(e => e.conv_id == "edge" && Set(5, 6, 7)(e.turn_idx))
    assert(astral.length == 3 && astral.forall(_.text.contains("😀")))

    // and through the order restore: run == orderRestore(typed path)
    val ordered = ExtractPipeline.run(spark, edgeCorpus().filter(col("conv_id") =!= "poison"), cfg)
    val typedOrdered = ExtractPipeline.orderRestore(typedExtract(
      edgeCorpus().filter(col("conv_id") =!= "poison"), cfg, None, ExtractPipeline.DefaultKernel))
    def layout(ds: Dataset[ExtractedTurn]) = {
      import testImplicits._
      ds.mapPartitions(it => Iterator(it.toVector)).collect().filter(_.nonEmpty).toSet
    }
    assert(layout(ordered) == layout(typedOrdered))
  }

  test("the kernel runs exactly once per gated turn") {
    val calls = spark.sparkContext.longAccumulator("kernelCalls")
    val counting: Kernel = (t, c, ctx) => { calls.add(1); Extractor.extractTurn(t, c, ctx) }
    val turns = edgeCorpus()
    val gated = turns.filter(col("text").isNotNull && col("conv_id").isNotNull &&
      length(col("text")) > 0).count()
    val out = ExtractPipeline.orderRestore(
      ExtractPipeline.extract(spark, turns, kernel = counting)).collect()
    assert(calls.value == gated)
    assert(out.length < gated, "F2 dropped the low-confidence turn after its one call")
  }

  test("cheap gate: O(1) byte bound, exact char bound on multibyte and astral text") {
    import testImplicits._
    val max = 8
    val cfg = ExtractConfig.default.copy(maxTextLen = max)
    val cases = Seq(
      "ascii" -> "abcdefgh", "ascii+1" -> "abcdefghi",
      "2byte" -> "é" * max, "2byte+1" -> "é" * (max + 1),
      "3byte" -> "中" * max, "3byte+1" -> "中" * (max + 1),
      "astral" -> "😀" * max, "astral+1" -> "😀" * (max + 1))
    val turns = cases.zipWithIndex.map { case ((name, text), i) =>
      Turn(name, i, "user", text, "plain", ts(0L)) }.toDS()
    val kept = ExtractPipeline.extract(spark, turns, cfg).collect().map(_.conv_id).toSet
    assert(kept == Set("ascii", "2byte", "3byte", "astral"))
  }

  test("utf8Length equals the encoded byte count, lone surrogates included") {
    val rnd = new scala.util.Random(7)
    val alphabet = "a\né߿ࠀ中￿😀𐀀\uDBFF"
    (0 until 2000).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(12))(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
      assert(KernelStep.utf8Length(s) == s.getBytes(UTF_8).length, s.map(_.toInt.toHexString))
    }
  }

  test("the flagship plan has no object (de)serialization and one exchange") {
    import testImplicits._
    val dir = suiteTempDir("kstep")
    TranscriptGen.dataset(spark, 42L, nConvs = 10, hotBase = 20).write.mode("overwrite").parquet(dir)
    val ds = ExtractPipeline.run(spark, spark.read.parquet(dir).as[Turn])
    val plan = ds.queryExecution.executedPlan.toString
    Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions").foreach { n =>
      assert(!plan.contains(n), s"$n in:\n$plan")
    }
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("ExtractKernel"), plan)
    assert(ds.count() == TranscriptGen.totalTurns(10, 20))
  }

  test("kernel-step output self-joins (consecutive turns)") {
    val e = ExtractPipeline.run(spark, TranscriptGen.dataset(spark, 42L, nConvs = 10, hotBase = 20))
    val pairs = e.as("a").join(e.as("b"),
      col("a.conv_id") === col("b.conv_id") && col("a.turn_idx") + 1 === col("b.turn_idx"))
    assert(pairs.count() == TranscriptGen.totalTurns(10, 20) - 10)
  }
}
