package graft.kernel

import scala.collection.mutable.ArrayBuffer

/** A candidate content block: cleaned text, [start, end) source offsets of
  * its first/last content char in the ORIGINAL payload, the innermost
  * enclosing block-level tag at block start (`kind`), and link-density
  * bookkeeping. Analog of the reference's line record
  * (`/root/reference/src/lineextract/line.py:8-17` — bounds + payload + text).
  */
final case class Block(
    kind: String,
    text: String,
    start: Int,
    end: Int,
    linkChars: Int
) {
  def linkDensity: Double =
    if (text.isEmpty) 0.0 else linkChars.toDouble / text.length
}

/** Assembles tokenizer output into blocks — the text analog of the
  * reference's connected-components + line-seed segmentation
  * (`/root/reference/src/controller/pagepredictor.py:199-233`): consecutive
  * text tokens group into a block; structural (block-level) tags are the
  * segmentation boundaries.
  *
  * Spec (locked; goldens depend on it):
  *  - Block boundaries: opening OR closing any tag in [[BlockBuilder.BlockTags]]
  *    finishes the current block. `br` and `hr` are boundaries but do not
  *    nest (void tags).
  *  - `kind` of a block = innermost block-level tag open when the block's
  *    first content char arrives ("text" at top level). Misnested closes pop
  *    to the nearest matching open tag; a close with no matching open is
  *    ignored (tolerant, like real-world HTML).
  *  - Whitespace policy (exact, per SURVEY §7.4 hard-part #1): runs of
  *    whitespace (including decoded `&nbsp;`) collapse to a single ASCII
  *    space; leading/trailing whitespace of a block is trimmed.
  *  - Chars contributed while inside one or more `<a>` elements count toward
  *    `linkChars` (link density, the boilerpipe/jusText signal).
  *  - Span offsets: `start` = source offset of the first content char
  *    (for an entity, the offset of its `&`), `end` = source offset just past
  *    the last content char (for an entity, past its `;`).
  */
final class BlockBuilder extends HtmlTokenizer.Sink {

  private val blocks = ArrayBuffer.empty[Block]
  private val kindStack = ArrayBuffer.empty[String]
  private var linkDepth = 0

  private val sb = new java.lang.StringBuilder(256)
  private var blockStart = -1
  private var blockEnd = -1
  private var blockKind: String = "text"
  private var linkChars = 0
  private var pendingSpace = false

  private def currentKind: String =
    if (kindStack.isEmpty) "text" else kindStack.last

  private def finishBlock(): Unit = {
    if (sb.length() > 0) {
      blocks += Block(blockKind, sb.toString, blockStart, blockEnd, linkChars)
    }
    sb.setLength(0)
    blockStart = -1; blockEnd = -1; linkChars = 0; pendingSpace = false
  }

  override def onText(c: Char, srcStart: Int, srcEnd: Int): Unit = {
    if (Character.isWhitespace(c)) {
      if (sb.length() > 0) pendingSpace = true
    } else {
      if (sb.length() == 0) { blockStart = srcStart; blockKind = currentKind }
      else if (pendingSpace) {
        sb.append(' ')
        if (linkDepth > 0) linkChars += 1
      }
      pendingSpace = false
      sb.append(c)
      if (linkDepth > 0) linkChars += 1
      blockEnd = srcEnd
    }
  }

  override def onTagOpen(name: String, selfClosing: Boolean, pos: Int): Unit = {
    if (name == "a") { if (!selfClosing) linkDepth += 1 }
    else if (BlockBuilder.BlockTags.contains(name)) {
      finishBlock()
      if (!selfClosing && !BlockBuilder.VoidTags.contains(name)) kindStack += name
    }
    // inline tags (b, i, em, code, span, ...) are transparent
  }

  override def onTagClose(name: String, pos: Int): Unit = {
    if (name == "a") { if (linkDepth > 0) linkDepth -= 1 }
    else if (BlockBuilder.BlockTags.contains(name)) {
      finishBlock()
      // pop to nearest matching open; ignore if unmatched (misnesting-tolerant)
      val idx = kindStack.lastIndexOf(name)
      if (idx >= 0) kindStack.remove(idx, kindStack.length - idx)
    }
  }

  def result(): Vector[Block] = { finishBlock(); blocks.toVector }

  /** Clear all state for reuse (per-partition kernel contexts avoid
    * per-row builder allocation in the hot path). */
  def reset(): Unit = {
    blocks.clear(); kindStack.clear(); linkDepth = 0
    sb.setLength(0); blockStart = -1; blockEnd = -1
    blockKind = "text"; linkChars = 0; pendingSpace = false
  }
}

object BlockBuilder {
  /** Probed once per tag on the kernel's hot path: a `java.util.HashSet`
    * lookup is one hash and one `equals`, where an immutable Scala `Set` of
    * this size walks a hash-trie node. */
  val BlockTags: java.util.Set[String] = new java.util.HashSet(java.util.Arrays.asList(
    "p", "div", "br", "hr", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "ul", "ol", "dl", "dt", "dd",
    "nav", "header", "footer", "aside", "article", "section", "main",
    "table", "thead", "tbody", "tr", "td", "th",
    "blockquote", "pre", "form", "title", "body", "html", "head",
    "figure", "figcaption", "address"
  ))
  val VoidTags: java.util.Set[String] = new java.util.HashSet(java.util.Arrays.asList("br", "hr"))

  /** Tokenize + assemble in one pass. */
  def build(html: String): Vector[Block] = build(html, new BlockBuilder)

  /** Same, reusing a caller-owned builder (reset first). */
  def build(html: String, b: BlockBuilder): Vector[Block] = {
    b.reset()
    HtmlTokenizer.tokenize(html, b)
    b.result()
  }
}
