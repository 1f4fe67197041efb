package graft

import graft.gen.TranscriptGen
import graft.model.ExtractConfig
import graft.pipe.ExtractPipeline
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Spark suite (SURVEY §5.2): distributed corpus → gates →
  * kernel → order restore, asserting the north-rule invariants under REAL
  * multi-threaded shuffles:
  *   - per-turn text equality vs the spec-derived goldens,
  *   - stable (conv_id, turn_idx) ordering: conversations whole within a
  *     partition, turns contiguous and ascending,
  *   - the order-restoring exchange sized from its input: one wave of
  *     tasks for a small corpus, the shuffle-partition count as its cap.
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

  /** A session at the flagship's settings: `shuffles` shuffle partitions,
    * AQE on, partition coalescing as given. */
  private def flagshipSession(shuffles: Int, coalesce: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", shuffles.toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce.toString)
    s
  }

  private lazy val smallCorpus: String = {
    val path = s"${suiteTempDir("graft_e2e_corpus")}/turns"
    TranscriptGen.dataset(spark, seed, nConvs, hotBase, partitions = 4).write.parquet(path)
    path
  }

  test("a small parquet corpus restores order in one wave of tasks, not one per shuffle partition") {
    val s = flagshipSession(shuffles = 16, coalesce = false)
    import s.implicits._
    val turns = s.read.parquet(smallCorpus).as[graft.model.Turn]
    val ordered = ExtractPipeline.run(s, turns)
    assert(ordered.rdd.getNumPartitions == s.sparkContext.defaultParallelism)
    assert(s.sparkContext.defaultParallelism == 4)

    // same rows as the unsized order restore
    val unsized = ExtractPipeline.extract(s, turns).repartition(col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
    assert(ordered.collect().sortBy(e => (e.conv_id, e.turn_idx)).toSeq ==
      unsized.collect().sortBy(e => (e.conv_id, e.turn_idx)).toSeq)

    val layout = ordered.mapPartitions { it =>
      Iterator.single(TaskContext.getPartitionId() -> it.map(e => (e.conv_id, e.turn_idx)).toVector)
    }.collect()
    layout.foreach { case (pid, rows) =>
      assert(rows == rows.sortBy(identity), s"partition $pid not sorted")
    }
    val owners = layout.flatMap { case (pid, rows) => rows.map(_._1).distinct.map(_ -> pid) }
    assert(owners.length == nConvs, "a conversation is split across partitions")
  }

  test("exchange partitions: whole waves of parallelism, capped at the shuffle-partition count") {
    val mb = 1L << 20
    def n(p: Int, hi: Int, bytes: BigInt) = ExtractPipeline.exchangePartitions(p, hi, bytes, mb)
    assert(n(16, 64, 230 * mb) == 64)
    assert(n(4, 16, 230 * mb) == 16)
    assert(n(1, 4, BigInt(5913628)) == 4)
    assert(n(4, 16, BigInt(5913628)) == 4)
    Seq(BigInt(0), BigInt(5913628), 230 * BigInt(mb), BigInt(Long.MaxValue))
      .foreach(b => assert(n(4, 1, b) == 1, s"$b"))
    assert(n(4, 16, BigInt(Long.MaxValue)) == 16)
    assert(n(16, 64, BigInt(Long.MaxValue)) == 64)
  }

  test("the order restore is the plan's only hash exchange: sized with coalescing off, coalesced by AQE with it on") {
    Seq(true, false).foreach { coalesce =>
      val s = flagshipSession(shuffles = 16, coalesce = coalesce)
      import s.implicits._
      val ds = ExtractPipeline.run(s, s.read.parquet(smallCorpus).as[graft.model.Turn])
      ds.collect()
      val plan = (ds.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }).toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, s"coalesce=$coalesce:\n$plan")
      assert(plan.contains("REPARTITION_BY_NUM") == !coalesce, s"coalesce=$coalesce:\n$plan")
      assert(plan.contains("AQEShuffleRead coalesced") == coalesce, s"coalesce=$coalesce:\n$plan")
    }
  }
}
