package graft.model

import java.sql.Timestamp

/** Core data model of the extraction engine.
  *
  * Shapes are authoritative from BASELINE.json `input_hint`; the semantic
  * ancestry of each type is the reference OCR prototype (see SURVEY.md §1.1):
  *
  *  - [[Turn]]          ≈ one document/image (reference
  *                        `src/controller/idcardprocesser.py:132`), identified
  *                        by (conv_id, turn_idx) instead of timestamp+random
  *                        names (`src/controller/webapp.py:19-22`) so the
  *                        pipeline is deterministic end-to-end.
  *  - [[Span]]          ≈ reference `Line` (`src/lineextract/line.py:8-17`):
  *                        an offset interval into the source payload plus the
  *                        decoded text and a kind tag.
  *  - [[ExtractedTurn]] ≈ the reference's result dict
  *                        (`src/controller/idcardprocesser.py:131-165`) made
  *                        into a static schema.
  *  - [[ExtractConfig]] ≈ the reference's `args = obj()` config bags
  *                        (`src/utils/common.py:26-63`), broadcast instead of
  *                        global.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** An extracted region of a turn payload: [start, end) character offsets into
  * the ORIGINAL `text`, the cleaned/decoded text, and the block kind.
  */
final case class Span(
    blockIdx: Int,
    start: Int,
    end: Int,
    kind: String,
    text: String
)

/** Extraction result for one turn. `text` is the extracted main content
  * (kept blocks joined with "\n"); metrics mirror the reference's per-doc
  * counters (total-char gate `idcardprocesser.py:170-176`).
  *
  * `classifyScore` is the dialect-classification confidence (reference
  * emits a classify score and gates on it, `idcardprocesser.py:133-137`):
  * 1.0 when `tool` named the dialect, the sniffer's score in [0,1] when the
  * dialect had to be inferred. The pipeline's F2 gate drops turns below
  * [[ExtractConfig.minClassifyScore]].
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    text: String,
    spans: Seq[Span],
    blocksKept: Int,
    blocksDropped: Int,
    charsEmitted: Int,
    classifyScore: Double
)

/** Broadcast job config (no globals, no wall-clock).
  *
  * @param maxTextLen   width-gate analog of `stdwidth = 32*20`
  *                     (`src/utils/common.py:53`): payloads longer than this
  *                     are rejected before the kernel.
  * @param minBlockLen  keep/drop short-block gate, analog of the line
  *                     pre-check height/aspect gates
  *                     (`src/controller/pagepredictor.py:131-148`).
  * @param maxLinkDensity jusText/boilerpipe-style link-density gate; plays
  *                     the role of the components-per-width density reject.
  */
final case class ExtractConfig(
    maxTextLen: Int = 1 << 20,
    minBlockLen: Int = 15,
    maxLinkDensity: Double = 0.5,
    lineHeight: Int = 10,
    /** F2 confidence gate: turns whose dialect classification scored below
      * this are dropped (reference gate `idcardprocesser.py:135`, `< 0.3`). */
    minClassifyScore: Double = 0.3,
    /** Poison-row policy. Default (false): a kernel exception QUARANTINES
      * the turn — counted in Metrics.turnsFailed and dropped by the F2 gate
      * — instead of failing the task, because at 10^12-turn scale one
      * pathological payload must not kill a multi-hour job after its 4 task
      * retries (the kernels are total functions by design, but that is an
      * inspection-time property, not a runtime guarantee for future
      * dialects). true: rethrow — the debugging/CI mode where a kernel bug
      * should fail loudly. */
    failFast: Boolean = false
)

object ExtractConfig {
  val default: ExtractConfig = ExtractConfig()
}
