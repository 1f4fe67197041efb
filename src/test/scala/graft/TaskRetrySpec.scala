package graft

import graft.gen.TranscriptGen
import graft.pipe.ExtractPipeline
import graft.table.SnapshotTable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicInteger

/** Task-RETRY exactly-once evidence (the failure mode a 1000-executor
  * cluster hits daily: a task dies mid-stream — preemption, OOM on a
  * neighbor, disk hiccup — and Spark reruns it). The suite injects a
  * once-per-attempt failure into a running task and asserts the engine's
  * exactly-once claims hold END TO END, not just by API contract:
  *
  *  1. map-side retry through [[SnapshotTable.commit]]: the manifest's
  *     per-bucket stats are counted by the writer tasks as they write and
  *     reach the driver in the commit messages of successful attempts; a
  *     map task that dies and reruns upstream of the writer's exchange
  *     must not double-count stats or rows (the failed attempt's shuffle
  *     output is discarded — the test pins the COMPOSED behavior against a
  *     clean twin).
  *  2. result-stage (parquet write task) retry: the attempt-0 partial file
  *     must never surface (FileOutputCommitter attempt isolation) — the
  *     read-back row set equals a clean run's, no duplicates, no misses.
  *
  * Needs `local[4,2]` (task retries are OFF in stock local mode), which is
  * a core conf — so, like SpillSpec, the suite swaps in a dedicated context
  * and relies on SparkTestBase's self-healing for later suites.
  *
  * Reference precedent for retry-tolerant processing: the daemon respawn
  * loop `/root/reference/src/controller/cmnd9processer.py:30-43` (a worker
  * that died is restarted and the batch re-dispatched).
  */
class TaskRetrySpec extends AnyFunSuite with SparkTestBase {

  private val seed = 42L
  private val nConvs = 60
  private val hotBase = 120

  /** Throws once (task attempt 0 of one partition) after `afterRows` rows —
    * mid-stream, like a real peer death. Fuses into whatever stage the
    * wrapped dataset plans into. */
  private def injectOnce(ds: Dataset[graft.model.ExtractedTurn], afterRows: Int)
      : Dataset[graft.model.ExtractedTurn] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val tc = TaskContext.get()
      var n = 0
      it.map { row =>
        n += 1
        if (n == afterRows && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
          TaskRetrySpec.fired.incrementAndGet()
          throw new RuntimeException("injected task death (retry test)")
        }
        row
      }
    }
  }

  private def withRetrySession[A](body: SparkSession => A): A = {
    SparkTestBase.session().stop() // maxFailures is fixed at context creation
    val s = SparkSession.builder()
      .master("local[4,2]") // 2 attempts: one injected death is survivable
      .appName("graft-retry-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(s) finally s.stop()
  }

  test("snapshot commit: map-task retry neither double-counts manifest stats nor duplicates rows") {
    withRetrySession { s =>
      val turns = TranscriptGen.dataset(s, seed, nConvs, hotBase, partitions = 4)
      val dirInj = suiteTempDir("snapretry_inj")
      val dirClean = suiteTempDir("snapretry_clean")
      val tInj = new SnapshotTable(dirInj, numBuckets = 8)
      val tClean = new SnapshotTable(dirClean, numBuckets = 8)

      TaskRetrySpec.fired.set(0)
      // injected wrapper sits UPSTREAM of commit's stats observer, fused
      // into the same map task: attempt 0 dies after 3 rows, attempt 1
      // reruns the partition from the start
      assert(tInj.commit(s, injectOnce(ExtractPipeline.extract(s, turns), 3),
        runId = "runInj").contains(0L))
      assert(TaskRetrySpec.fired.get() == 1, "injected failure never fired")
      assert(tClean.commit(s, ExtractPipeline.extract(s, turns),
        runId = "runClean").contains(0L))

      // manifest stats exactly equal a clean run's, bucket by bucket
      def statsOf(t: SnapshotTable) = t.committedEntries(s)
        .map(e => e.bucket -> ((e.turns, e.blocksKept, e.blocksDropped,
          e.charsEmitted, e.minTs, e.maxTs))).toMap
      assert(statsOf(tInj) == statsOf(tClean))

      // data exactly equal: no duplicated or lost turns, per-turn text equal
      import s.implicits._
      def rows(t: SnapshotTable) = t.read(s)
        .select("conv_id", "turn_idx", "text")
        .as[(String, Int, String)].collect().sorted
      val (a, b) = (rows(tInj), rows(tClean))
      assert(a.length == b.length && a.sameElements(b))
    }
  }

  test("parquet write: result-task retry leaves exactly-once output (attempt-0 file discarded)") {
    withRetrySession { s =>
      import s.implicits._
      val turns = TranscriptGen.dataset(s, seed, nConvs, hotBase, partitions = 4)
      val out = Paths.get(suiteTempDir("retry_parquet"), "out").toString

      TaskRetrySpec.fired.set(0)
      // wrapper fuses into the post-shuffle RESULT task (order-restore sort
      // → wrapper → parquet writer): attempt 0 dies with a half-written
      // file already on disk in the attempt's temp dir
      injectOnce(ExtractPipeline.run(s, turns), 3)
        .write.parquet(out)
      assert(TaskRetrySpec.fired.get() == 1, "injected failure never fired")

      val got = s.read.parquet(out)
        .select("conv_id", "turn_idx", "text")
        .as[(String, Int, String)].collect().sorted
      val expected = ExtractPipeline.run(s, turns)
        .select("conv_id", "turn_idx", "text")
        .as[(String, Int, String)].collect().sorted
      assert(got.length == expected.length, "row count drifted under retry")
      assert(got.sameElements(expected))
    }
  }
}

object TaskRetrySpec {
  /** Proof the injection actually fired (accumulators from failed attempts
    * are discarded by design — a plain static works because tests run in
    * local mode, same JVM). */
  val fired = new AtomicInteger(0)
}
