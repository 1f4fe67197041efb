package graft.gen

import graft.model.{Span, Turn}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** Deterministic synthetic transcript corpus (FIXTURES.md §1).
  *
  * Every turn is a pure function of (seed, convIdx, turnIdx) — no wall clock,
  * no shared RNG state — so the corpus can be generated DISTRIBUTED (flatMap
  * over a range of conversations) and regenerated bit-identically at any
  * scale. Conversation lengths follow a Zipf-ish law to create hot
  * conversations (the skew the fused kernel step must stay immune to).
  *
  * Crucially the generator also emits the EXPECTED extraction per turn
  * (text, spans, kept/dropped counts), derived from the kernel SPEC while
  * assembling the payload — not by running the kernels — so it doubles as the
  * golden oracle (FIXTURES.md §3: goldens authored from the spec, then
  * locked). This is the port of the reference's labeled fixture corpora
  * (`/root/reference/temp/0`, `temp/1` — file names encode expected fields).
  */
object TranscriptGen {

  /** Expected extraction bundled with the input turn. */
  final case class GoldenTurn(
      turn: Turn,
      expText: String,
      expSpans: Vector[Span],
      expKept: Int,
      expDropped: Int
  )

  // ---------------------------------------------------------------- RNG

  /** SplitMix64 — stable across Scala/JVM versions (unlike scala.util.Random
    * which we avoid for golden stability). */
  final class Rng(seed0: Long) {
    private var state = seed0
    def nextLong(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** uniform in [0, n) */
    def nextInt(n: Int): Int = (Math.floorMod(nextLong(), n.toLong)).toInt
    def nextBool(pPercent: Int): Boolean = nextInt(100) < pPercent
    def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.length))
  }

  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed ^ (a * 0xC2B2AE3D27D4EB4FL) ^ (b * 0x165667B19E3779F9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------- shape

  /** Zipf-ish turn count for conversation `i`: hot head, long tail. */
  def turnCount(i: Int, hotBase: Int): Int = {
    val z = hotBase / math.pow(i + 1.0, 1.2)
    math.max(2, math.round(z).toInt)
  }

  val Roles: IndexedSeq[String] = Vector("user", "assistant", "tool")

  val Vocab: IndexedSeq[String] = Vector(
    "lorem", "ipsum", "dolor", "amet", "consectetur", "adipiscing", "elit",
    "vestibulum", "ante", "primis", "faucibus", "orci", "luctus", "ultrices",
    "posuere", "cubilia", "curae", "mauris", "viverra", "sagittis", "tellus",
    "commodo", "aliquam", "integer", "rhoncus", "gravida", "semper", "justo",
    "feugiat", "pretium", "volutpat", "blandit", "sodales", "quisque",
    "placerat", "natoque", "penatibus", "ridiculus", "fermentum", "interdum"
  )

  // ---------------------------------------------------------------- HTML

  /** Assembles an HTML payload while tracking, per the BlockBuilder /
    * BlockClassifier spec, the expected kept-block texts + source offsets. */
  private final class HtmlAssembler(rng: Rng) {
    val sb = new java.lang.StringBuilder(512)
    val spans = ArrayBuffer.empty[Span]
    val texts = ArrayBuffer.empty[String]
    var dropped = 0

    /** A content token: (source form, cleaned form, content offset of the
      * clean text within the source form — i.e. past any inline open tag). */
    private def word(): (String, String, Int) = {
      val w = rng.pick(Vocab)
      rng.nextInt(10) match {
        case 0 => (s"<b>$w</b>", w, 3)
        case 1 => (s"<code>$w</code>", w, 6)
        case 2 => (s"<em>$w</em>", w, 4)
        case _ => (w, w, 0)
      }
    }

    private def interTokenWs(): String = rng.nextInt(6) match {
      case 0 => "  "
      case 1 => "\n"
      case 2 => " \n "
      case _ => " "
    }

    /** Emit one KEPT content block of `nWords` words inside block tag `kind`.
      * Returns (cleanText, srcStart, srcEnd). */
    def emitKept(kind: String, nWords: Int): Unit = {
      sb.append('<').append(kind).append('>')
      if (rng.nextBool(30)) sb.append(interTokenWs()) // leading ws, trimmed
      val clean = new java.lang.StringBuilder(nWords * 8)
      var start = -1
      var end = -1
      var usedEntity = false
      var k = 0
      while (k < nWords) {
        if (k > 0) { sb.append(interTokenWs()); clean.append(' ') }
        // at most one 1-char entity token per block (keeps length ≥ minBlockLen)
        if (!usedEntity && k > 0 && k < nWords - 1 && nWords >= 6 && rng.nextBool(12)) {
          usedEntity = true
          val (src, ch) = rng.nextInt(3) match {
            case 0 => ("&amp;", "&")
            case 1 => ("&#8212;", "—")
            case _ => ("&gt;", ">")
          }
          if (start < 0) start = sb.length()
          sb.append(src); end = sb.length()
          clean.append(ch)
        } else {
          val (src, cl, contentOff) = word()
          if (start < 0) start = sb.length() + contentOff
          sb.append(src)
          end = sb.length() - (src.length - contentOff - cl.length)
          clean.append(cl)
        }
        k += 1
      }
      if (rng.nextBool(30)) sb.append(interTokenWs()) // trailing ws, trimmed
      sb.append("</").append(kind).append('>')
      val text = clean.toString
      spans += Span(spans.length, start, end, kind, text)
      texts += text
      if (rng.nextBool(50)) sb.append('\n')
    }

    /** Nav/header/footer boilerplate: dropped (kind rule). */
    def emitBoilerplate(kind: String): Unit = {
      sb.append('<').append(kind).append('>')
      val n = 2 + rng.nextInt(3)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(" | ")
        val w = rng.pick(Vocab)
        sb.append(s"""<a href="/$w">$w</a>""")
        k += 1
      }
      sb.append("</").append(kind).append('>')
      dropped += 1
      if (rng.nextBool(50)) sb.append('\n')
    }

    /** Link-dense paragraph: dropped (link-density rule). */
    def emitLinkDense(): Unit = {
      val w1 = rng.pick(Vocab); val w2 = rng.pick(Vocab); val w3 = rng.pick(Vocab)
      // ~2/3 of chars inside <a> → linkDensity ≥ 0.5
      sb.append(s"""<p><a href="#">$w1 $w2 $w1 $w2</a> $w3</p>""")
      dropped += 1
    }

    /** Short block: dropped (min-length rule). Words chosen so the total is
      * always < 15 chars. */
    def emitShort(): Unit = {
      val w = rng.pick(Vocab)
      sb.append(s"<p>${w.take(6)}</p>")
      dropped += 1
    }

    /** Separator block: dropped (separator rule). */
    def emitSeparator(): Unit = {
      val c = rng.nextInt(3) match { case 0 => "-"; case 1 => "."; case _ => "=" }
      sb.append("<p>").append(c * (4 + rng.nextInt(20))).append("</p>")
      dropped += 1
    }

    /** Structure that yields NO blocks at all (no content chars). */
    def emitInvisible(): Unit = rng.nextInt(4) match {
      case 0 => sb.append("<hr/>")
      case 1 => sb.append("<!-- ").append(rng.pick(Vocab)).append(" -->")
      case 2 => sb.append("<script>var x = 1 < 2; litter()</script>")
      case _ => sb.append("<style>p { color: red }</style>")
    }

    /** Adversarial but spec-covered constructs. */
    def emitAdversarial(): Unit = rng.nextInt(3) match {
      case 0 => // '>' inside quoted attribute; link-dense → dropped
        sb.append("""<p><a title="a>b" href="#">tricky link here</a></p>""")
        dropped += 1
      case 1 => // unclosed inline tag inside a kept block — transparent
        emitKeptUnclosedInline()
      case _ => // empty block: produces no block at all
        sb.append("<p>   </p>")
    }

    private def emitKeptUnclosedInline(): Unit = {
      val w1 = rng.pick(Vocab); val w2 = rng.pick(Vocab)
      val w3 = rng.pick(Vocab); val w4 = rng.pick(Vocab) // 4 words: ≥ 19 chars
      sb.append("<p>")
      val start = sb.length()
      sb.append(w1).append(" <b>").append(w2).append(' ').append(w3).append(' ').append(w4)
      val end = sb.length()
      sb.append("</p>")
      val text = s"$w1 $w2 $w3 $w4"
      spans += Span(spans.length, start, end, "p", text)
      texts += text
    }
  }

  private def genHtml(rng: Rng): (String, String, Vector[Span], Int, Int) = {
    val a = new HtmlAssembler(rng)
    if (rng.nextBool(60)) a.emitBoilerplate("nav")
    else if (rng.nextBool(50)) a.emitBoilerplate("header")
    val nMain = 1 + rng.nextInt(4)
    var i = 0
    while (i < nMain) {
      a.emitKept(rng.nextInt(5) match {
        case 0 => "div"; case 1 => "li"; case 2 => "h2"
        case 3 => "blockquote"; case _ => "p"
      }, 4 + rng.nextInt(9))
      rng.nextInt(6) match {
        case 0 => a.emitShort()
        case 1 => a.emitSeparator()
        case 2 => a.emitInvisible()
        case 3 => a.emitLinkDense()
        case 4 => a.emitAdversarial()
        case _ => ()
      }
      i += 1
    }
    if (rng.nextBool(60)) a.emitBoilerplate("footer")
    (a.sb.toString, a.texts.mkString("\n"), a.spans.toVector, a.spans.length, a.dropped)
  }

  // ---------------------------------------------------------------- layout

  private def genLayout(rng: Rng): (String, String, Vector[Span], Int, Int) = {
    val nBands = 2 + rng.nextInt(6)
    val srcLines = ArrayBuffer.empty[String]
    val expSpans = Vector.newBuilder[Span]
    val expTexts = ArrayBuffer.empty[String]
    var dropped = 0
    var band = 0
    while (band < nBands) {
      val y = band * 20 // bands 20 apart; h=10 → only same-band merges
      var x = rng.nextInt(4)
      val nSpans = 1 + rng.nextInt(4)
      val parts = ArrayBuffer.empty[String]
      val xFirst = x
      var right = x
      var s = 0
      while (s < nSpans) {
        val nw = 1 + rng.nextInt(3)
        val t = Vector.fill(nw)(rng.pick(Vocab)).mkString(" ")
        srcLines += s"$x $y $t"
        parts += t
        right = x + t.length
        x = right + 1 + rng.nextInt(5) // positive gap: unambiguous merge
        s += 1
      }
      val lineText = parts.mkString(" ")
      expSpans += Span(band, xFirst, right, "line", lineText)
      expTexts += lineText
      band += 1
    }
    if (rng.nextBool(20)) { srcLines += "not a span line"; dropped += 1 }
    // deterministic shuffle (Fisher-Yates) — the unordered-gather analog
    val arr = srcLines.toArray
    var i = arr.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    val payload = arr.mkString("\n")
    (payload, expTexts.mkString("\n"), expSpans.result(), nBands, dropped)
  }

  // ---------------------------------------------------------------- plain

  private val SubTokens: IndexedSeq[(String, String)] = Vector(
    ("don—t", "don-t"), ("m²", "m2"), ("nº", "no"),
    ("¥100", "Y100"), ("naïve", "naive"), ("a—b", "a-b")
  )

  private def genPlain(rng: Rng): (String, String, Vector[Span], Int, Int) = {
    val sb = new java.lang.StringBuilder(128)
    val clean = new java.lang.StringBuilder(128)
    if (rng.nextBool(30)) sb.append(if (rng.nextBool(50)) "  " else "\n ")
    val n = 4 + rng.nextInt(10)
    var start = -1
    var end = -1
    var k = 0
    while (k < n) {
      if (k > 0) {
        sb.append(rng.nextInt(4) match {
          case 0 => "  "; case 1 => "\n"; case _ => " "
        })
        clean.append(' ')
      }
      val (src, cl) =
        if (rng.nextBool(15)) SubTokens(rng.nextInt(SubTokens.length))
        else { val w = rng.pick(Vocab); (w, w) }
      val withComma = k < n - 1 && rng.nextBool(15)
      if (start < 0) start = sb.length()
      sb.append(src)
      clean.append(cl)
      if (withComma) sb.append(',') // clean: ',' → collapsed into the space
      end = sb.length()
      k += 1
    }
    if (rng.nextBool(30)) sb.append(" \n")
    val text = clean.toString
    (sb.toString, text, Vector(Span(0, start, end, "plain", text)), 1, 0)
  }

  // ---------------------------------------------------------------- turns

  val BaseEpochMs: Long = 1767225600000L // 2026-01-01T00:00:00Z, fixed

  def genTurn(seed: Long, convIdx: Int, turnIdx: Int): GoldenTurn = {
    val rng = new Rng(mix(seed, convIdx.toLong, turnIdx.toLong))
    val convId = f"conv$convIdx%06d"
    val role = Roles(turnIdx % 3)
    val toolRoll = rng.nextInt(10)
    val tool = if (toolRoll < 5) "html" else if (toolRoll < 8) "layout" else "plain"
    val (payload, expText, expSpans, kept, dropped) = tool match {
      case "html"   => genHtml(rng)
      case "layout" => genLayout(rng)
      case _        => genPlain(rng)
    }
    val ts = new Timestamp(BaseEpochMs + convIdx.toLong * 3600000L + turnIdx.toLong * 1000L)
    GoldenTurn(Turn(convId, turnIdx, role, payload, tool, ts),
      expText, expSpans, kept, dropped)
  }

  def conv(seed: Long, convIdx: Int, hotBase: Int): Iterator[GoldenTurn] =
    Iterator.range(0, turnCount(convIdx, hotBase)).map(genTurn(seed, convIdx, _))

  def corpus(seed: Long, nConvs: Int, hotBase: Int): Iterator[GoldenTurn] =
    Iterator.range(0, nConvs).flatMap(conv(seed, _, hotBase))

  def totalTurns(nConvs: Int, hotBase: Int): Long =
    (0 until nConvs).map(turnCount(_, hotBase).toLong).sum

  /** DISTRIBUTED corpus: each task generates its conversation slice
    * independently (turns are pure functions of (seed, conv, idx)), so the
    * same corpus materializes identically at any parallelism — the property
    * the scaling benches rely on. */
  def dataset(spark: org.apache.spark.sql.SparkSession, seed: Long, nConvs: Int,
      hotBase: Int, partitions: Int = 0): org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, nConvs, 1, partitions)
               else spark.range(0, nConvs)
    base.flatMap(i => conv(seed, i.toInt, hotBase).map(_.turn))
  }
}
