package graft.tools

import graft.gen.TranscriptGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Writes the golden-parquet oracle fixtures for the extraction queries
  * (see [[graft.SparkEntry.GoldenDir]]). Each fixture is a pure function of
  * the SPEC-derived generator goldens ([[TranscriptGen.GoldenTurn]]: expected
  * text/spans authored while assembling the payload, never by running the
  * kernels), so the driver's DuckDB hash compare against them IS the north
  * rule's per-turn text-equality check. Deterministic: same bytes every run
  * (single sorted parquet file, no timestamps) — committed to git and
  * re-derived on every `sbt test` by GoldenParquetSpec.
  *
  * Run: `sbt "runMain graft.tools.GoldenDump [outDir]"`.
  */
object GoldenDump {

  /** (query name, golden rows builder) — shared with GoldenParquetSpec so the
    * spec asserts the exact artifact this tool writes. */
  def goldenFrames(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._

    // x_extract_flagship: corpus(42, 80, 200); all generator turns name their
    // dialect in `tool` → classifyScore 1.0, and no gate drops anything
    // (payloads are non-empty and far under maxTextLen) — asserted e2e by
    // PipelineE2ESpec ("row count" + per-turn equality).
    val flagship = TranscriptGen.corpus(42L, 80, 200).map { g =>
      (g.turn.conv_id, g.turn.turn_idx, g.turn.role, g.turn.tool,
        g.expText, g.expKept, g.expDropped, g.expText.length, 1.0)
    }.toSeq.toDF("conv_id", "turn_idx", "role", "tool", "text",
      "blocksKept", "blocksDropped", "charsEmitted", "classifyScore")

    // x_extract_spans: corpus(42, 40, 100), one row per expected span.
    val spans = TranscriptGen.corpus(42L, 40, 100).flatMap { g =>
      g.expSpans.map(sp => (g.turn.conv_id, g.turn.turn_idx,
        sp.blockIdx, sp.start, sp.end, sp.kind, sp.text))
    }.toSeq.toDF("conv_id", "turn_idx", "blockIdx", "start", "end", "kind", "text")

    // x_sql_extract: corpus(42, 30, 60), html turns only (the query's WHERE
    // filters empty payloads; generator html payloads are never empty).
    // html_main_text(payload) == kernel text == expText (the native
    // expression is pinned kernel-identical by NativeExprEquivalenceSpec).
    val sqlExtract = TranscriptGen.corpus(42L, 30, 60)
      .filter(g => g.turn.tool == "html" && g.turn.text.nonEmpty)
      .map(g => (g.turn.conv_id, g.turn.turn_idx, g.expText))
      .toSeq.toDF("conv_id", "turn_idx", "text")

    // x_extract_fields: corpus(42, 40, 100), layout turns; fields extracted
    // from the GOLDEN text (not pipeline output) with the same broadcast
    // template — so the oracle still independently checks the pipeline's
    // text path end-to-end.
    val templates = graft.kernel.TemplateStore.parse(graft.kernel.TemplateStore.DefaultJson)
    val fields = TranscriptGen.corpus(42L, 40, 100)
      .filter(_.turn.tool == "layout")
      .flatMap { g =>
        templates.get(g.turn.tool).toSeq.flatMap { tpl =>
          graft.kernel.FieldExtractor.extract(g.expText.split("\n").toIndexedSeq, tpl)
            .toSeq.sortBy(_._1)
            .map { case (f, v) => (g.turn.conv_id, g.turn.turn_idx, f, v) }
        }
      }.toSeq.toDF("conv_id", "turn_idx", "field", "value")

    // x_media_features: the media demo corpus is id-derived
    // (MediaPipeline.mediaDocText) and the payload byte streams replay the
    // synthesis PRNG; the EXPECTED features are computed HERE from the
    // SOURCE pixel/sample values by the published format semantics
    // (Rec.601 integer-per-mille luma, RMS over 16-bit PCM) —
    // BinaryMedia's encoder/decoder never runs in this builder, so an
    // encode- or decode-side bug surfaces as a golden mismatch. Every
    // feature is an integer accumulation + one final IEEE division (+
    // sqrt), replicated op-for-op against the decoder: bit-exact, and the
    // display rounding below is the query's own round(·, 4).
    import org.apache.spark.sql.functions.{col, round}
    val media = (0 until 500).map { i =>
      val id = i.toLong
      var h = 1125899906842597L
      graft.multimodal.MediaPipeline.mediaDocText(id).foreach(c => h = 31 * h + c)
      def next(): Int = {
        h = h * 6364136223846793005L + 1442695040888963407L
        ((h >>> 33) & 0xff).toInt
      }
      def lumaOf(rgb: IndexedSeq[Int]): Double = {
        var sum = 0L
        var p = 0
        while (p < 20) {
          sum += 299L * rgb(3 * p) + 587L * rgb(3 * p + 1) + 114L * rgb(3 * p + 2)
          p += 1
        }
        sum.toDouble / (20L * 1000L * 255L)
      }
      (i % 3) match {
        case 0 => // 5×4 24-bpp BMP: 14+40 header + 16-byte stride × 4 rows
          val rgb = IndexedSeq.fill(60)(next())
          (id, "image", 118, lumaOf(rgb), 0, 0.0)
        case 1 => // 240 16-bit mono PCM samples: 44-byte RIFF header + 480
          var sumSq = 0L
          var k = 0
          while (k < 240) {
            val hi = next()
            val lo = next() // synthesis builds each sample hi-byte first
            val sv = ((hi << 8) | lo).toShort.toLong
            sumSq += sv * sv
            k += 1
          }
          (id, "audio", 524, 0.0, 0, math.sqrt(sumSq.toDouble / 240) / 32768.0)
        case _ => // GVF: 8-byte header + 3 × (4-byte length + 118-byte BMP);
          // frame-sampling decodes frames 0 and 2 (every 2nd of 3)
          val f0 = IndexedSeq.fill(60)(next())
          val skipped = IndexedSeq.fill(60)(next()) // frame 1: generated, unsampled
          val f2 = IndexedSeq.fill(60)(next())
          require(skipped.length == 60)
          (id, "video", 374, (0.0 + lumaOf(f0) + lumaOf(f2)) / 2, 3, 0.0)
      }
    }.toSeq.toDF("media_id", "kind", "n_bytes", "meanLuma", "frameCount", "rmsLevel")
      .withColumn("meanLuma", round(col("meanLuma"), 4))
      .withColumn("rmsLevel", round(col("rmsLevel"), 4))

    Seq(
      "x_extract_flagship" -> flagship,
      "x_extract_spans" -> spans,
      "x_sql_extract" -> sqlExtract,
      "x_extract_fields" -> fields,
      "x_media_features" -> media)
  }

  /** Write `df` as exactly ONE parquet file at `target` (a file path, not a
    * directory): single-partition write to a temp dir, then move the part
    * file. Stable bytes for git. */
  def writeSingleFile(df: DataFrame, target: String): Unit = {
    val tmp = Files.createTempDirectory("graft_golden").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = Files.list(Paths.get(s"$tmp/out")).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    require(src != null, s"no parquet part written for $target")
    Files.createDirectories(Paths.get(target).getParent)
    Files.move(src, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    // clean the temp dir
    val w = Files.walk(Paths.get(tmp))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator.asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
    } finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("src/test/resources/golden")
    val spark = graft.Sessions.create("local[4]", 4)(_.appName("graft-golden-dump"))
    goldenFrames(spark).foreach { case (name, df) =>
      writeSingleFile(df, s"$outDir/$name.parquet")
      println(s"[golden] wrote $outDir/$name.parquet")
    }
    spark.stop()
  }
}
