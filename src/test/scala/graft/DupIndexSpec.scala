package graft

import graft.dedup.DupIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The persisted MinHash-LSH index must (1) agree with the in-memory
  * banded candidate generation (same geometry ⇒ same pairs), (2) score
  * candidates from STORED signatures alone, (3) prune its scan to the
  * probed cells, and (4) take appends without touching base file-sets. */
class DupIndexSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  test("self-probe reproduces the in-memory banded candidate set, and exact " +
    "copies score est_jaccard = 1.0 from the stored signatures") {
    val dir = suiteTempDir("dupidx1") + "/idx"
    val idx = DupIndex.build(spark, docs, dir)

    val selfPairs = idx.probe(spark, docs, minEst = 0.0)
      .select(least(col("probe_id"), col("index_id")),
        greatest(col("probe_id"), col("index_id")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inMem = SparkEntry.queries("q_dedup_minhash_pairs")(spark, sf)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(selfPairs == inMem, s"index=${selfPairs.size} in-mem=${inMem.size}")

    // exact copies under new ids: every probe doc finds its twin at 1.0
    val copies = docs.limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val hits = idx.probe(spark, copies, minEst = 0.99)
      .filter(col("index_id") === col("probe_id") - 1000000L)
      .collect()
    assert(hits.length == 20, s"found ${hits.length}/20 twins")
    assert(hits.forall(_.getAs[Double]("est_jaccard") == 1.0))
  }

  test("probe IO prunes to the probed cells: every scanned file lies in a " +
    "probed cell, and hiding an UNPROBED cell directory does not disturb " +
    "the probe") {
    val dir = suiteTempDir("dupidx2") + "/idx"
    val idx = DupIndex.build(spark, docs, dir)
    val one = docs.limit(1)
    val probedCells = DupIndex.bands(one)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(probedCells.size <= 4)

    val result = idx.probe(spark, one, minEst = 0.0)
    // the lists scan must carry a PARTITION filter on the probed cell set
    // (inputFiles can't show this — it lists the relation pre-pruning)
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)

    // hide an unprobed cell (park OUTSIDE the lists tree — partition
    // discovery must never see it), probe again: identical result
    val baseline = result.collect().map(_.toSeq).toSet
    val listDirs = Files.list(Paths.get(s"$dir/lists/run=base")).iterator()
    var victim: java.nio.file.Path = null
    listDirs.forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.startsWith("cell=") &&
          !probedCells.contains(n.stripPrefix("cell=").toInt) && victim == null)
        victim = p
    }
    assert(victim != null, "all cells probed — fixture too small to prove pruning")
    val hidden = Paths.get(dir).getParent.resolve("hidden_cell")
    Files.move(victim, hidden)
    try {
      val again = idx.probe(spark, one, minEst = 0.0).collect().map(_.toSeq).toSet
      assert(again == baseline)
    } finally Files.move(hidden, victim)
  }

  test("append: new batch probe-able against base + appended runs; base " +
    "file-set byte-untouched; duplicate runId refused") {
    val dir = suiteTempDir("dupidx3") + "/idx"
    val idx = DupIndex.build(spark, docs.limit(100), dir)

    def baseFiles() = {
      val base = Paths.get(s"$dir/lists/run=base")
      val it = Files.walk(base).iterator()
      val buf = scala.collection.mutable.ListBuffer[(String, Long, Long)]()
      it.forEachRemaining { p =>
        if (Files.isRegularFile(p))
          buf += ((p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }
      buf.toList.sortBy(_._1)
    }
    val before = baseFiles()

    val batch = docs.limit(100)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    idx.append(spark, batch, runId = "ingest-1")
    assert(baseFiles() == before, "append must not rewrite base files")

    // a fresh probe doc (copy of an appended doc) hits the APPENDED run
    val probe = batch.limit(1)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    val hit = DupIndex.open(dir).probe(spark, probe, minEst = 0.99)
      .filter(col("index_id") >= 2000000L).collect()
    assert(hit.nonEmpty, "appended docs must be probe-able")

    intercept[Exception] { idx.append(spark, batch, runId = "ingest-1") }
    intercept[IllegalArgumentException] {
      idx.append(spark, batch, runId = "../evil")
    }
  }

  test("ingestBatch gate: index-dups and in-batch lower-id dups dropped, " +
    "survivors appended, replayed batchId is a NO-OP (exactly-once index " +
    "state under foreachBatch's at-least-once delivery)") {
    val dir = suiteTempDir("dupidx4") + "/idx"
    // deterministic membership (a bare limit() takes arbitrary rows)
    val corpus = docs.filter(col("doc_id") < 50)
    val idx = DupIndex.build(spark, corpus, dir)

    // batch: 1 copy of an indexed doc (id 5000000), 2 copies of the SAME
    // not-indexed text (5000001 < 5000002)
    val indexedCopy = corpus.filter(col("doc_id") === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val freshText = docs.filter(col("doc_id") === 400).select("text")
    val freshTwins = freshText.crossJoin(
        spark.range(5000001L, 5000003L).select(col("id").as("doc_id")))
      .select("doc_id", "text")
    val batch = indexedCopy.unionByName(freshTwins)

    val survivors = idx.ingestBatch(spark, batch, batchId = 7L, minEst = 0.99)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(5000001L), survivors)

    def runFiles() = {
      val it = Files.walk(Paths.get(s"$dir/lists/run=batch-7")).iterator()
      val buf = scala.collection.mutable.ListBuffer[(String, Long)]()
      it.forEachRemaining(p =>
        if (Files.isRegularFile(p)) buf += ((p.toString, Files.size(p))))
      buf.toList.sortBy(_._1)
    }
    val afterFirst = runFiles()
    // the surviving twin is now resident: a future copy of it is a dup
    val again = idx.probe(spark,
      freshTwins.filter(col("doc_id") === 5000002L), minEst = 0.99).collect()
    assert(again.nonEmpty)

    // replay: same batchId redelivered — no write, same survivors returned
    val replay = idx.ingestBatch(spark, batch, batchId = 7L, minEst = 0.99)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay == Set(5000001L))
    assert(runFiles() == afterFirst, "replayed batch must not rewrite the run")
  }

  test("streaming wiring: foreachBatch(ingestBatch) keeps the index " +
    "continuously deduped across micro-batches — an indexed dup never " +
    "lands, and a later batch dedups against an EARLIER batch's survivors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import testImplicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("dupidx5")
    val corpus = docs.filter(col("doc_id") < 50)
    val idx = DupIndex.build(spark, corpus, s"$dir/idx")

    val t0 = docs.filter(col("doc_id") === 0).head().getString(1)
    val t400 = docs.filter(col("doc_id") === 400).head().getString(1)
    val stream = MemoryStream[(Long, String)]
    val fn: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) => {
        idx.ingestBatch(batch.sparkSession,
          batch.toDF("doc_id", "text"), id, minEst = 0.99)
        ()
      }
    val q = stream.toDS().toDF().writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    // batch 0: a copy of indexed doc 0 (must be dropped) + a new doc
    stream.addData((6000000L, t0), (6000001L, t400))
    q.processAllAvailable()
    // batch 1: a copy of batch 0's SURVIVOR (must be dropped against it)
    stream.addData((6000002L, t400))
    q.processAllAvailable()
    q.stop()

    val resident = spark.read.parquet(s"$dir/idx/lists")
      .select("doc_id").distinct()
      .filter(col("doc_id") >= 6000000L)
      .collect().map(_.getLong(0)).toSet
    assert(resident == Set(6000001L), resident)
  }

  test("crash-replay: a run directory WITHOUT _SUCCESS (committer died " +
    "mid-append) is cleaned and re-appended on redelivery — bare directory " +
    "existence is not the idempotence marker") {
    val dir = suiteTempDir("dupidx6") + "/idx"
    val idx = DupIndex.build(spark, docs.filter(col("doc_id") < 50), dir)
    // simulate the crash residue a dying writer actually leaves: the run
    // directory with an in-flight _temporary tree and no _SUCCESS
    // (underscore-prefixed entries are invisible to partition discovery,
    // so concurrent probes keep working over the residue)
    val partial = Paths.get(dir, "lists", "run=batch-9")
    Files.createDirectories(partial.resolve("_temporary"))
    Files.writeString(partial.resolve("_temporary").resolve("junk"), "residue")

    val batch = docs.filter(col("doc_id") === 400)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))
    val survivors = idx.ingestBatch(spark, batch, batchId = 9L, minEst = 0.99)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(7000400L))
    assert(Files.exists(partial.resolve("_SUCCESS")), "re-append must complete")
    assert(!Files.exists(partial.resolve("_temporary").resolve("junk")),
      "crash residue must be cleaned")
    // the survivor is resident after the recovery
    val hit = idx.probe(spark, batch.select(
      (col("doc_id") + 1L).as("doc_id"), col("text")), minEst = 0.99)
      .filter(col("index_id") === 7000400L).collect()
    assert(hit.nonEmpty)
  }
}
