package graft.pipe

import graft.kernel.ExtractorContext
import graft.model.{ExtractConfig, ExtractedTurn, Turn}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The extraction kernel as one physical step over `InternalRow`.
  *
  * Input rows are the gated turns projected to [[KernelStep.InputColumns]].
  * The step decodes only `text` and `tool` to Strings (the default kernel
  * reads nothing else), runs the kernel, and writes each output row with
  * [[UnsafeRowWriter]]: the identity columns are copied as bytes from the
  * input row, and the spans are written SLIM — `tlen` is the UTF-8 byte
  * length of the span text, counted from the String, so span texts are
  * never encoded ([[graft.functions.SpanShuffle]] has the encoding and the
  * `spans_fatten` that restores it).
  *
  * Per turn it also applies the poison-row quarantine
  * ([[graft.model.ExtractConfig.failFast]]), the kernel-stage counters
  * ([[ExtractPipeline.Metrics]]) and the F2 confidence gate: a turn whose
  * kernel throws scores −1, and a turn scoring below `minClassifyScore` is
  * not emitted.
  *
  * @param kernel the kernel seam; `None` = [[graft.kernel.Extractor.extractTurn]]
  *               fed a Turn that carries only `text` and `tool`. An injected
  *               kernel gets the whole decoded Turn.
  */
final class KernelStep(
    cfg: Broadcast[ExtractConfig],
    metrics: Option[ExtractPipeline.Metrics],
    kernel: Option[(Turn, ExtractConfig, ExtractorContext) => ExtractedTurn]
) extends Serializable {
  import KernelStep._

  /** One task's pass. `ord(i)` is the input row ordinal of
    * [[KernelStep.InputColumns]]`(i)`. */
  def apply(ord: Array[Int], rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val (convId, turnIdx, role, text, tool, ts) = (ord(0), ord(1), ord(2), ord(3), ord(4), ord(5))
    val c = cfg.value // one broadcast fetch per task, not per row
    val ctx = new ExtractorContext // per-task reusable buffers
    val run = kernel.getOrElse(ExtractPipeline.DefaultKernel)
    val w = new UnsafeRowWriter(OutputSchema.length, 256)
    val spansW = new UnsafeArrayWriter(w, 8)
    val spanW = new UnsafeRowWriter(spansW, 5)

    def str(in: InternalRow, i: Int): String =
      if (in.isNullAt(i)) null else in.getUTF8String(i).toString

    def copyStr(in: InternalRow, i: Int, o: Int): Unit =
      if (in.isNullAt(i)) w.setNullAt(o) else w.write(o, in.getUTF8String(i))

    def one(in: InternalRow): UnsafeRow = {
      val payload = if (in.isNullAt(text)) "" else in.getUTF8String(text).toString
      val turn =
        if (kernel.isEmpty) Turn(null, 0, null, payload, str(in, tool), null)
        else Turn(str(in, convId), in.getInt(turnIdx), str(in, role), payload, str(in, tool),
          if (in.isNullAt(ts)) null else DateTimeUtils.toJavaTimestamp(in.getLong(ts)))
      val out = try run(turn, c, ctx) catch {
        // Poison-row quarantine: the turn scores −1, which the F2 gate
        // below drops, and the accumulators raise the alarm; fatal JVM
        // errors (OOM, stack overflow) still kill the task — only
        // application-level failures are survivable.
        case scala.util.control.NonFatal(e) if !c.failFast =>
          metrics.foreach { acc =>
            acc.turnsFailed.add(1)
            acc.failedSamples.add(QuarantineRecord(
              str(in, convId), in.getInt(turnIdx), e.toString.take(200)))
          }
          null
      }
      val score = if (out == null) -1.0 else out.classifyScore
      // the F2 confidence gate (reference classify-score gate < 0.3,
      // idcardprocesser.py:135): a no-op for turns whose `tool` named the
      // dialect (score 1.0); sniffed low-confidence turns are dropped here,
      // and the counters count exactly the rows that reach the sink
      if (score < c.minClassifyScore) {
        // (score −1 = quarantine sentinel: already counted in turnsFailed)
        if (score >= 0) metrics.foreach(_.turnsGated.add(1))
        return null
      }
      metrics.foreach { acc =>
        acc.turnsOut.add(1)
        acc.blocksKept.add(out.blocksKept)
        acc.blocksDropped.add(out.blocksDropped)
        acc.charsEmitted.add(out.charsEmitted)
      }
      w.reset()
      w.zeroOutNullBytes()
      copyStr(in, convId, 0)
      w.write(1, in.getInt(turnIdx))
      copyStr(in, role, 2)
      copyStr(in, tool, 3)
      if (in.isNullAt(ts)) w.setNullAt(4) else w.write(4, in.getLong(ts))
      if (out.text == null) w.setNullAt(5) else w.write(5, UTF8String.fromString(out.text))
      if (out.spans == null) w.setNullAt(6)
      else {
        val start = w.cursor()
        spansW.initialize(out.spans.length)
        var i = 0
        out.spans.foreach { s =>
          val at = spansW.cursor()
          spanW.resetRowWriter()
          spanW.write(0, s.blockIdx)
          spanW.write(1, s.start)
          spanW.write(2, s.end)
          if (s.kind == null) spanW.setNullAt(3) else spanW.write(3, UTF8String.fromString(s.kind))
          spanW.write(4, if (s.text == null) 0 else utf8Length(s.text))
          spansW.setOffsetAndSizeFromPreviousCursor(i, at)
          i += 1
        }
        w.setOffsetAndSizeFromPreviousCursor(6, start)
      }
      w.write(7, out.blocksKept)
      w.write(8, out.blocksDropped)
      w.write(9, out.charsEmitted)
      w.write(10, score)
      w.getRow
    }

    rows.map(one).filter(_ != null)
  }
}

object KernelStep {

  /** The step's input columns ([[Turn]]'s fields). */
  val InputColumns: Seq[(String, DataType)] = Seq(
    "conv_id" -> StringType, "turn_idx" -> IntegerType, "role" -> StringType,
    "text" -> StringType, "tool" -> StringType, "ts" -> TimestampType)

  /** The step's output: [[ExtractedTurn]]'s columns, with `spans` slim. */
  val OutputSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType),
    StructField("text", StringType),
    StructField("spans", graft.functions.SpanShuffle.SlimType),
    StructField("blocksKept", IntegerType, nullable = false),
    StructField("blocksDropped", IntegerType, nullable = false),
    StructField("charsEmitted", IntegerType, nullable = false),
    StructField("classifyScore", DoubleType, nullable = false)))

  /** Bytes `UTF8String.fromString(s)` would hold, without encoding: Java's
    * UTF-8 encoder writes a surrogate pair as 4 bytes and replaces a lone
    * surrogate with the 1-byte '?'. */
  def utf8Length(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch < 0x80) n += 1
      else if (ch < 0x800) n += 2
      else if (!Character.isSurrogate(ch)) n += 3
      else if (Character.isHighSurrogate(ch) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else n += 1
      i += 1
    }
    n
  }
}

/** Logical node of the kernel step: `input` are the child's columns for
  * [[KernelStep.InputColumns]] (so they are this node's references, and
  * column pruning keeps them), `output` are fresh attributes for
  * [[KernelStep.OutputSchema]]. [[ExtractKernelStrategy]] plans it. */
final case class ExtractKernel(step: KernelStep, input: Seq[Attribute], output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): ExtractKernel =
    copy(child = newChild)
}

object ExtractKernel {
  /** `child` outputs exactly [[KernelStep.InputColumns]], in that order. */
  def apply(step: KernelStep, child: LogicalPlan): ExtractKernel =
    ExtractKernel(step, child.output, KernelStep.OutputSchema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)()), child)
}

/** Physical kernel step: one pass per partition, no codegen of its own (the
  * scan/gate stage below and the projection above keep theirs). Its node
  * string names the slim span encoding it writes. */
final case class ExtractKernelExec(step: KernelStep, input: Seq[Attribute],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet

  override protected def doExecute(): RDD[InternalRow] = {
    val s = step
    val ord = input.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    require(!ord.contains(-1), s"kernel step input $input not in ${child.output}")
    child.execute().mapPartitions(s.apply(ord, _))
  }

  override def simpleString(maxFields: Int): String =
    s"ExtractKernel spans_slim ${output.mkString("[", ", ", "]")}"

  override protected def withNewChildInternal(newChild: SparkPlan): ExtractKernelExec =
    copy(child = newChild)
}

/** Plans [[ExtractKernel]]. Installed per session by [[install]] and at
  * session build by [[graft.plans.GraftExtensions]]. */
object ExtractKernelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractKernel(step, input, output, child) =>
      ExtractKernelExec(step, input, output, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Idempotent per-session registration on an already-built session. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(ExtractKernelStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ExtractKernelStrategy
}
