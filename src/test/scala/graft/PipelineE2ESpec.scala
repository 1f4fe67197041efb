package graft

import graft.gen.TranscriptGen
import graft.model.ExtractConfig
import graft.pipe.ExtractPipeline
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Spark suite (SURVEY §5.2): distributed corpus → gates →
  * kernel → order restore, asserting the north-rule invariants under REAL
  * multi-threaded shuffles:
  *   - per-turn text equality vs the spec-derived goldens,
  *   - stable (conv_id, turn_idx) ordering: conversations whole within a
  *     partition, turns contiguous and ascending.
  */
class PipelineE2ESpec extends AnyFunSuite with SparkTestBase {

  private val seed = 42L
  private val nConvs = 120
  private val hotBase = 300

  private lazy val expected: Map[(String, Int), TranscriptGen.GoldenTurn] =
    TranscriptGen.corpus(seed, nConvs, hotBase)
      .map(g => (g.turn.conv_id, g.turn.turn_idx) -> g).toMap

  test("pipeline reproduces goldens per turn (text, spans, metrics)") {
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 7)
    val out = ExtractPipeline.run(spark, turns).collect()
    assert(out.length == expected.size, "row count")
    out.foreach { e =>
      val g = expected((e.conv_id, e.turn_idx))
      assert(e.text == g.expText, s"text @ ${e.conv_id}/${e.turn_idx}")
      assert(e.spans == g.expSpans, s"spans @ ${e.conv_id}/${e.turn_idx}")
      assert(e.blocksKept == g.expKept && e.blocksDropped == g.expDropped)
    }
  }

  test("stable ordering: whole sorted conversations per output partition") {
    import testImplicits._
    val turns = TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 5)
    val ordered = ExtractPipeline.run(spark, turns)
    val layout = ordered.mapPartitions { it =>
      Iterator.single(TaskContext.getPartitionId() -> it.map(e => (e.conv_id, e.turn_idx)).toVector)
    }.collect()

    val convToPartition = scala.collection.mutable.Map.empty[String, Int]
    layout.foreach { case (pid, rows) =>
      // sorted by (conv_id, turn_idx) within the partition
      assert(rows == rows.sortBy(identity), s"partition $pid not sorted")
      rows.map(_._1).distinct.foreach { c =>
        assert(!convToPartition.contains(c) || convToPartition(c) == pid,
          s"conversation $c split across partitions")
        convToPartition(c) = pid
      }
      // turns of each conversation are contiguous and dense from 0
      rows.groupBy(_._1).foreach { case (c, turns) =>
        assert(turns.map(_._2) == (0 until turns.size).toVector, s"conv $c turns not dense")
      }
    }
    assert(convToPartition.size == nConvs)
  }

  test("gates drop pathological payloads before the kernel") {
    import testImplicits._
    import java.sql.Timestamp
    val huge = "x" * 2000
    val rows = Seq(
      graft.model.Turn("c0", 0, "user", "", "plain", new Timestamp(0L)),      // empty: gated
      graft.model.Turn("c0", 1, "user", huge, "plain", new Timestamp(0L)),    // too long: gated
      graft.model.Turn("c0", 2, "user", "hello world ok", "plain", new Timestamp(0L))
    ).toDS()
    val cfg = ExtractConfig.default.copy(maxTextLen = 1000)
    val out = ExtractPipeline.run(spark, rows, cfg).collect()
    assert(out.map(_.turn_idx).toSet == Set(2))
  }
}
