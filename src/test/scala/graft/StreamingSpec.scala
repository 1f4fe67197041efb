package graft

import graft.gen.TranscriptGen
import graft.streaming.StreamingExtract
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Document-shaped stream rows for the incremental-dedup face. */
final case class SDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

/** Streaming face (SURVEY §2.10): the same kernels under micro-batch
  * execution produce the same per-turn results, and the windowed metrics
  * aggregation (Bucket-flush analog) sees every turn exactly once. */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("streaming incremental dedup: bloom flags history re-deliveries, " +
    "passes fresh rows, drops in-stream repeats") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{BloomSketch, TextFingerprint}
    import org.apache.spark.sql.functions.{call_function, col}
    TextFingerprint.register(spark)
    val nShards = 8

    // committed corpus → per-shard blobs (the batch engine's build side)
    val histTexts = (0 until 200).map(i => s"history document $i body")
    val blooms = BloomSketch.shardedBlooms(
      histTexts.toDF("text")
        .select(call_function("text_fingerprint", col("text")).as("fp")),
      col("fp"), nShards)

    // keep event times clear of epoch 0: the engine's INITIAL watermark is
    // 0, and a ts=0 row lands exactly on the late-row eviction boundary
    def ts(i: Int) = new java.sql.Timestamp(1000000L + 1000L * i)
    val redelivered = (0 until 40).map(i => SDoc(i, s"history document $i body", ts(i)))
    val fresh = (0 until 40).map(i => SDoc(1000 + i, s"fresh document $i body", ts(100 + i)))
    // same text re-sent under new ids → same fingerprint → in-stream repeat
    val repeats = fresh.take(3).map(d => d.copy(doc_id = d.doc_id + 5000))

    val stream = MemoryStream[SDoc]
    val probed = StreamingExtract.probeHistory(
      stream.toDF().withColumn("fp", call_function("text_fingerprint", col("text"))),
      blooms, nShards)
    val q = StreamingExtract.dedupByContent(probed).writeStream
      .format("memory").queryName("incdedup_out").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(redelivered ++ fresh ++ repeats)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("incdedup_out").select("fp", "maybe_dup")
      .as[(Long, Boolean)].collect().toMap

    // driver-side twin of the blob build pins every flag deterministically
    val shardBlobs = Array.fill(nShards)(new Array[Byte](BloomSketch.NumBytes))
    histTexts.map(TextFingerprint.compute).foreach { fp =>
      BloomSketch.setBits(shardBlobs((fp % nShards).toInt), fp)
    }
    def expectFlag(text: String): (Long, Boolean) = {
      val fp = TextFingerprint.compute(text)
      fp -> BloomSketch.contains(shardBlobs((fp % nShards).toInt), fp)
    }
    // in-stream repeats collapsed: one row per distinct fingerprint
    assert(got.size == redelivered.size + fresh.size)
    assert(got == (redelivered ++ fresh).map(d => expectFlag(d.text)).toMap)
    // and the bloom guarantee in force: every re-delivery IS flagged
    redelivered.foreach(d => assert(got(TextFingerprint.compute(d.text))))
  }

  test("micro-batch extraction matches the batch goldens per turn") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val goldens = TranscriptGen.corpus(42L, nConvs = 20, hotBase = 40).toVector

    val stream = MemoryStream[graft.model.Turn]
    val extracted = StreamingExtract.extract(spark, stream.toDS())
    val q = extracted.writeStream
      .format("memory").queryName("stream_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // feed in two micro-batches (size-triggered flush analog)
    val (a, b) = goldens.map(_.turn).splitAt(goldens.size / 2)
    stream.addData(a)
    q.processAllAvailable()
    stream.addData(b)
    q.processAllAvailable()
    q.stop()

    val out = spark.table("stream_out")
      .select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect()
      .map { case (c, i, t) => (c, i) -> t }.toMap
    assert(out.size == goldens.size)
    goldens.foreach { g =>
      assert(out((g.turn.conv_id, g.turn.turn_idx)) == g.expText)
    }
  }

  test("micro-batch extraction quarantines a throwing kernel turn and keeps running") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{ExtractConfig, ExtractedTurn, Turn}
    val goldens = TranscriptGen.corpus(43L, nConvs = 8, hotBase = 16).toVector
    val poisoned: (Turn, ExtractConfig, graft.kernel.ExtractorContext) => ExtractedTurn =
      (t, c, ctx) =>
        if (t.conv_id == "poison") throw new IllegalStateException("kernel bug")
        else graft.kernel.Extractor.extractTurn(t, c, ctx)
    val acc = graft.pipe.ExtractPipeline.newMetrics(spark)

    val stream = MemoryStream[Turn]
    val q = graft.pipe.ExtractPipeline.extract(spark, stream.toDS(),
        metrics = Some(acc), kernel = poisoned)
      .writeStream.format("memory").queryName("stream_quarantine_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val (a, b) = goldens.map(_.turn).splitAt(goldens.size / 2)
    stream.addData(a :+ Turn("poison", 0, "user", "any payload", "plain",
      new java.sql.Timestamp(1000L)))
    q.processAllAvailable()
    assert(q.isActive && q.exception.isEmpty, "the poisoned batch did not stop the query")
    stream.addData(b)
    q.processAllAvailable()
    assert(q.isActive)
    q.stop()

    val out = spark.table("stream_quarantine_out")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    assert(!out.exists(_._1 == "poison"))
    assert(out.map { case (c, i, t) => (c, i) -> t }.toMap ==
      goldens.map(g => (g.turn.conv_id, g.turn.turn_idx) -> g.expText).toMap)
    assert(acc.turnsFailed.value == 1L)
    assert(acc.failedSamples.sample.map(r => (r.conv_id, r.turn_idx)) == Vector(("poison", 0)))
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) drops in-batch and cross-batch repeats") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = TranscriptGen.corpus(7L, nConvs = 10, hotBase = 20).toVector.map(_.turn)

    val stream = MemoryStream[graft.model.Turn]
    val q = StreamingExtract.dedup(stream.toDS()).writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // batch 1: every turn sent twice (in-batch duplicates)
    stream.addData(turns ++ turns)
    q.processAllAvailable()
    // batch 2: a prefix re-sent (cross-batch duplicates, inside the
    // watermark because event times are unchanged)
    stream.addData(turns.take(5))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_out")
      .select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(out.length == turns.size, s"expected ${turns.size} unique, got ${out.length}")
    assert(out.toSet == turns.map(t => (t.conv_id, t.turn_idx)).toSet)
  }

  test("snapshot sink: streaming batches land in the table; replayed batches are no-ops") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("stream_snap")
    val table = new graft.table.SnapshotTable(s"$dir/table", numBuckets = 4)
    val goldens = TranscriptGen.corpus(11L, nConvs = 12, hotBase = 30).toVector

    val stream = MemoryStream[graft.model.Turn]
    val q = StreamingExtract.snapshotSink(
      StreamingExtract.extract(spark, stream.toDS()), table, s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    val (a, b) = goldens.map(_.turn).splitAt(goldens.size / 2)
    stream.addData(a); q.processAllAvailable()
    stream.addData(b); q.processAllAvailable()
    q.stop()

    // all turns committed, text matches the spec-derived goldens
    val out = table.read(spark)
      .select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect()
      .map { case (c, i, t) => (c, i) -> t }.toMap
    assert(out.size == goldens.size)
    goldens.foreach(g => assert(out((g.turn.conv_id, g.turn.turn_idx)) == g.expText))

    // replay safety: re-committing an already-committed batchId is a no-op
    val before = table.currentSnapshotId
    val replay = StreamingExtract.extract(spark, a.toDS().as[graft.model.Turn])
    assert(inQuery(q.id.toString)(
      StreamingExtract.commitBatch(table, replay, batchId = 0L)).isEmpty)
    assert(table.currentSnapshotId == before)
  }

  test("snapshot sink: a second query into the same table keeps its batches") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("stream_snap_two")
    val table = new graft.table.SnapshotTable(s"$dir/table", numBuckets = 4)
    val turns = TranscriptGen.corpus(11L, nConvs = 12, hotBase = 30).toVector.map(_.turn)
    val (a, b) = turns.splitAt(turns.size / 2)
    Seq(a -> "ckpt_a", b -> "ckpt_b").foreach { case (rows, ckpt) =>
      val stream = MemoryStream[graft.model.Turn]
      val q = StreamingExtract.snapshotSink(
        StreamingExtract.extract(spark, stream.toDS()), table, s"$dir/$ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try { stream.addData(rows); q.processAllAvailable() } finally q.stop()
    }
    // both queries' batch 0 committed: neither is a replay of the other
    assert(table.snapshotIds.size == 2)
    assert(table.read(spark).count() == turns.size.toLong)
  }

  test("upsert sink: a late correction REPLACES the previously-landed turn " +
    "(no duplicate beside it); replayed merge batches are no-ops") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("stream_upsert")
    val table = new graft.table.SnapshotTable(s"$dir/table", numBuckets = 4)
    val turns = TranscriptGen.corpus(11L, nConvs = 10, hotBase = 20).toVector.map(_.turn)
    val rows = graft.pipe.ExtractPipeline.extract(spark, turns.toDS()).collect().toSeq

    val stream = MemoryStream[graft.model.ExtractedTurn]
    val q = StreamingExtract.upsertSink(stream.toDS(), table, s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(rows)
    q.processAllAvailable()
    // the late-correction batch: one turn corrected, one appended
    val victim = rows.head
    stream.addData(Seq(victim.copy(text = "CORRECTED"), victim.copy(turn_idx = 9999, text = "NEW")))
    q.processAllAvailable()
    q.stop()

    val out = table.read(spark).select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect()
    assert(out.length == rows.length + 1, "correction must replace, not append")
    val m = out.map { case (c, i, t) => (c, i) -> t }.toMap
    assert(m((victim.conv_id, victim.turn_idx)) == "CORRECTED")
    assert(m((victim.conv_id, 9999)) == "NEW")
    // every key the correction didn't touch is unchanged
    rows.drop(1).foreach(r => assert(m((r.conv_id, r.turn_idx)) == r.text))

    // replay safety: re-merging an already-merged batchId is a no-op
    val before = table.currentSnapshotId
    assert(inQuery(q.id.toString)(StreamingExtract.mergeBatch(table,
      Seq(victim.copy(text = "CORRECTED")).toDS(), batchId = 1L)).isEmpty)
    assert(table.currentSnapshotId == before)
  }

  test("upsert sink: a second query into the same table keeps its batches") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("stream_upsert_two")
    val table = new graft.table.SnapshotTable(s"$dir/table", numBuckets = 4)
    val turns = TranscriptGen.corpus(11L, nConvs = 10, hotBase = 20).toVector.map(_.turn)
    val rows = graft.pipe.ExtractPipeline.extract(spark, turns.toDS()).collect().toSeq
    val (a, b) = rows.partition(_.conv_id < rows.map(_.conv_id).distinct.sorted.apply(5))
    assert(a.nonEmpty && b.nonEmpty)
    Seq(a -> "ckpt_a", b -> "ckpt_b").foreach { case (batch, ckpt) =>
      val stream = MemoryStream[graft.model.ExtractedTurn]
      val q = StreamingExtract.upsertSink(stream.toDS(), table, s"$dir/$ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try { stream.addData(batch); q.processAllAvailable() } finally q.stop()
    }
    // the second query's batch 0 merged its own keys beside the first's
    assert(table.read(spark).count() == rows.size.toLong)
  }

  test("stateful sessionizer (flatMapGroupsWithState) flushes on size, conserves metrics") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val goldens = TranscriptGen.corpus(42L, nConvs = 12, hotBase = 40).toVector

    val stream = MemoryStream[graft.model.Turn]
    val sessions = graft.streaming.StreamingSessionize.sessions(
      spark, StreamingExtract.extract(spark, stream.toDS()), flushTurns = 8, idleMs = 0L)
    val q = sessions.writeStream
      .format("memory").queryName("stream_sessions")
      .outputMode("append")
      .start()
    val (a, b) = goldens.map(_.turn).splitAt(goldens.size / 3)
    stream.addData(a)
    q.processAllAvailable()
    stream.addData(b)
    q.processAllAvailable()
    q.stop()

    val out = spark.table("stream_sessions")
      .as[graft.streaming.StreamingSessionize.ConvSession].collect()
    // every size-flushed session carries exactly flushTurns turns
    assert(out.nonEmpty)
    assert(out.filter(_.reason == "size").forall(_.turns == 8))
    // no conversation loses turns to the operator: emitted + in-flight
    // (un-flushed residue stays in state; emitted must never exceed input)
    val emittedPerConv = out.groupBy(_.conv_id).view.mapValues(_.map(_.turns).sum)
    val inputPerConv = goldens.groupBy(_.turn.conv_id).view.mapValues(_.size)
    emittedPerConv.foreach { case (c, n) => assert(n <= inputPerConv(c)) }
    // metric conservation on whatever flushed: chars of emitted sessions
    // equal the golden chars of those conversations' flushed turn ranges
    val hot = out.filter(_.conv_id == "conv000000")
    assert(hot.map(_.turns).sum >= 32) // hottest conv flushed several times
  }

  test("event-time sessionizer: watermark closes gap sessions, drops too-late rows") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    // controlled event times: base turns from the generator, ts overridden
    val base = TranscriptGen.corpus(42L, nConvs = 4, hotBase = 12).toVector.map(_.turn)
    // epoch offset: the engine's initial watermark is 0 and the late-row
    // predicate is ts <= watermark, so a t=0 event would be dropped as late
    def at(t: graft.model.Turn, sec: Long) =
      t.copy(ts = new java.sql.Timestamp((86400L + sec) * 1000L))
    val convA = base.filter(_.conv_id == "conv000001").take(3)
    val convB = base.filter(_.conv_id == "conv000002").take(2)

    val stream = MemoryStream[graft.model.Turn]
    val sessions = graft.streaming.StreamingSessionize.sessionsEventTime(
      spark, StreamingExtract.extract(spark, stream.toDS()),
      gapMs = 60000L, watermarkDelay = "10 seconds")
    val q = sessions.writeStream
      .format("memory").queryName("et_sessions")
      .outputMode("append")
      .start()

    // batch 1: conv A at t=0s and t=10s — an open session, nothing emitted
    stream.addData(Seq(at(convA(0), 0), at(convA(1), 10)))
    q.processAllAvailable()
    def emitted() = spark.table("et_sessions")
      .as[graft.streaming.StreamingSessionize.ConvSession].collect().toVector
    assert(emitted().isEmpty)

    // batch 2: conv B at t=300s pushes the watermark to 290s — PAST conv A's
    // last-event+gap (10s+60s), so A's session closes by EVENT time
    stream.addData(Seq(at(convB(0), 300)))
    q.processAllAvailable()
    // timeout fires on the batch AFTER the watermark update reaches the op
    stream.addData(Seq.empty[graft.model.Turn])
    q.processAllAvailable()
    val afterGap = emitted()
    assert(afterGap.map(s => (s.conv_id, s.turns, s.reason)) ==
      Vector(("conv000001", 2, "gap")))

    // batch 3: a too-late row for conv A (t=5s, watermark is 290s) must be
    // dropped engine-side — no state resurrection, nothing new emitted for A
    stream.addData(Seq(at(convA(2), 5)))
    q.processAllAvailable()
    assert(emitted().count(_.conv_id == "conv000001") == 1)
    q.stop()
  }

  test("event-time sessionizer splits in-batch gaps and honors the size bound") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val base = TranscriptGen.corpus(7L, nConvs = 2, hotBase = 16).toVector.map(_.turn)
    // epoch offset: the engine's initial watermark is 0 and the late-row
    // predicate is ts <= watermark, so a t=0 event would be dropped as late
    def at(t: graft.model.Turn, sec: Long) =
      t.copy(ts = new java.sql.Timestamp((86400L + sec) * 1000L))
    val conv = base.filter(_.conv_id == "conv000000").take(6)

    val stream = MemoryStream[graft.model.Turn]
    val sessions = graft.streaming.StreamingSessionize.sessionsEventTime(
      spark, StreamingExtract.extract(spark, stream.toDS()),
      gapMs = 60000L, watermarkDelay = "5 seconds", flushTurns = 3)
    val q = sessions.writeStream
      .format("memory").queryName("et_sessions2")
      .outputMode("append")
      .start()
    // one batch, two event-time clusters separated by > gap: [0,10,20] and
    // [200]; the first cluster hits flushTurns=3 ("size"), the second stays
    // open in state
    stream.addData(Seq(at(conv(0), 0), at(conv(1), 10), at(conv(2), 20), at(conv(3), 200)))
    q.processAllAvailable()
    val out = spark.table("et_sessions2")
      .as[graft.streaming.StreamingSessionize.ConvSession].collect().toVector
    assert(out.map(s => (s.turns, s.reason)) == Vector((3, "size")))
    q.stop()
  }

  test("windowed metrics count every turn once under watermarking") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val goldens = TranscriptGen.corpus(42L, nConvs = 10, hotBase = 30).toVector

    val stream = MemoryStream[graft.model.Turn]
    val metrics = StreamingExtract.windowedMetrics(
      StreamingExtract.extract(spark, stream.toDS()))
    val q = metrics.writeStream
      .format("memory").queryName("stream_metrics")
      .outputMode("complete")
      .start()
    stream.addData(goldens.map(_.turn))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("stream_metrics")
    val totalTurns = rows.agg(org.apache.spark.sql.functions.sum("turns")).as[Long].first()
    assert(totalTurns == goldens.size)
    val totalChars = rows.agg(org.apache.spark.sql.functions.sum("charsEmitted")).as[Long].first()
    assert(totalChars == goldens.map(_.expText.length).sum)
  }

  test("continuous windowed top-k: a window's top-k emits once, when the " +
    "watermark closes it, ranked by (score DESC, id ASC)") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86400L
    // distinct turn_idx as the LONG identity; text length drives
    // charsEmitted, hence the score order (idx 7 longest, then 3, then 9)
    def turn(idx: Int, sec: Long, text: String) = graft.model.Turn(
      "c1", idx, "user", text, "plain",
      new java.sql.Timestamp((day + sec) * 1000L))
    val stream = MemoryStream[graft.model.Turn]
    val top = StreamingExtract.windowedTopK(
      StreamingExtract.extract(spark, stream.toDS()),
      org.apache.spark.sql.functions.col("turn_idx"),
      org.apache.spark.sql.functions.col("charsEmitted"), k = 3)
    val q = top.writeStream
      .format("memory").queryName("win_topk")
      .outputMode("append")
      .start()

    // four turns inside ONE 10s window — nothing emits while it is open
    stream.addData(Seq(
      turn(3, 1, "medium length text here"),
      turn(7, 2, "the longest text of the whole window by a margin"),
      turn(9, 3, "short text"),
      turn(4, 4, "tiny")))
    q.processAllAvailable()
    def rows() = spark.table("win_topk")
      .select("tool", "top_ids").as[(String, Seq[Long])].collect().toVector
    assert(rows().isEmpty, "open window must not emit in append mode")

    // advance the watermark past window-end + delay → the window closes
    stream.addData(Seq(turn(99, 300, "watermark advancer")))
    q.processAllAvailable()
    stream.addData(Seq.empty[graft.model.Turn])
    q.processAllAvailable()
    val out = rows()
    q.stop()
    assert(out.size == 1, out.toString)
    assert(out.head._2 == Seq(7L, 3L, 9L), out.toString)
  }

  test("stream-stream join: feedback inside the horizon attaches, outside " +
    "doesn't, and an unmatched turn emits null-padded once the watermark " +
    "proves no match can arrive") {
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingExtract.Feedback
    val day = 86400L
    def turn(conv: String, idx: Int, sec: Long) = graft.model.Turn(
      conv, idx, "user", s"text $conv $idx", "plain",
      new java.sql.Timestamp((day + sec) * 1000L))
    def fb(conv: String, idx: Int, sec: Long, label: String) = Feedback(
      conv, idx, new java.sql.Timestamp((day + sec) * 1000L), label)

    val turns = MemoryStream[graft.model.Turn]
    val feedback = MemoryStream[Feedback]
    val joined = StreamingExtract.joinFeedback(
      turns.toDS(), feedback.toDS(),
      watermarkDelay = "10 seconds", horizonSec = 60)
    val q = joined.writeStream
      .format("memory").queryName("fb_join")
      .outputMode("append")
      .start()
    def rows() = spark.table("fb_join")
      .select("conv_id", "turn_idx", "label")
      .as[(String, Int, Option[String])].collect().toVector.sorted

    // c1/0 gets feedback at +5s (inside 60s horizon) → match emits as soon
    // as both rows meet; c1/1's only feedback is at +100s (outside) and
    // must NOT attach
    turns.addData(Seq(turn("c1", 0, 0), turn("c1", 1, 10)))
    feedback.addData(Seq(fb("c1", 0, 5, "good"), fb("c1", 1, 100, "late")))
    q.processAllAvailable()
    assert(rows().contains(("c1", 0, Some("good"))))
    assert(!rows().exists(r => r._1 == "c1" && r._2 == 1),
      "unmatched turn must NOT emit before the watermark proves no match")

    // advance BOTH watermarks far past c1/1's horizon (+10s+60s+delay):
    // the null-padded row for c1/1 must now emit exactly once
    turns.addData(Seq(turn("zz", 0, 500)))
    feedback.addData(Seq(fb("zz", 9, 500, "advance")))
    q.processAllAvailable()
    turns.addData(Seq.empty[graft.model.Turn])
    feedback.addData(Seq.empty[Feedback])
    q.processAllAvailable()
    val out = rows()
    q.stop()
    assert(out.count(r => r._1 == "c1" && r._2 == 1) == 1, out.toString)
    assert(out.contains(("c1", 1, None)), out.toString)
    assert(out.count(r => r._1 == "c1" && r._2 == 0) == 1, out.toString)
  }
}
