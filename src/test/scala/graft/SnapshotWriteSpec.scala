package graft

import graft.connector.SnapshotWriterUtil
import graft.model.{ExtractedTurn, Span}
import graft.table.{NioLocalFileSystem, SnapshotTable}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** DataSource V2 WRITE path: df.write.format("graft-snapshot") must create
  * real snapshots — data first, per-task stats merged into manifest entries,
  * OCC manifest-then-CURRENT publish — interoperable in both directions
  * with the library path (SnapshotTable), with Spark itself planning the
  * clustering + in-partition (conv_id, turn_idx) sort the table's
  * stable-order invariant needs.
  */
class SnapshotWriteSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1767225600000L // 2026-01-01T00:00:00Z

  private def mk(conv: String, idx: Int): ExtractedTurn = {
    val text = s"written $conv#$idx"
    ExtractedTurn(conv, idx, "user", "html", new Timestamp(base + idx * 1000L),
      text, Seq(Span(0, 0, text.length, "p", text)), 2, 1, text.length, 1.0)
  }

  private def write(dir: String, rows: Seq[ExtractedTurn], runId: String): Unit = {
    import testImplicits._
    rows.toDS().toDF().write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", runId).save(dir)
  }

  /** Micro-batch `batchId` of streaming query `queryId` handed to the
    * `graft-snapshot` sink again, as a restarted query replays it. */
  private def replayBatch(dir: String, queryId: String, batchId: Long, df: DataFrame): Unit =
    inQuery(queryId)(new graft.connector.SnapshotSource().createSink(spark.sqlContext,
      Map("path" -> dir), Nil, org.apache.spark.sql.streaming.OutputMode.Append())
      .addBatch(batchId, df))

  private def key(df: DataFrame): Set[(String, Int, String)] = {
    import testImplicits._
    df.select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)].collect().toSet
  }

  test("first V2 write creates snapshot 0; library open reads it back exactly") {
    val dir = suiteTempDir("v2write")
    val rows = (0 until 30).flatMap(i => Seq(mk(s"c$i", 0), mk(s"c$i", 1)))
    write(dir, rows, "w1")

    val table = SnapshotTable.open(dir) // bucket count recovered from manifest
    assert(table.numBuckets == 4)
    assert(table.currentSnapshotId.contains(0L))
    assert(key(table.read(spark)) == rows.map(t => (t.conv_id, t.turn_idx, t.text)).toSet)

    // manifest stats came from the tasks' inline counters, not a rescan
    val st = table.stats(spark).collect()
    assert(st.map(_.getLong(2)).sum == 60L) // turns
    assert(st.map(_.getLong(3)).sum == 120L) // blocksKept = 2/turn
  }

  test("every written file is internally ordered by (conv_id, turn_idx)") {
    import testImplicits._
    val dir = suiteTempDir("v2write_ord")
    // deliberately unsorted, multi-partition input
    val rows = scala.util.Random.shuffle(
      (0 until 40).flatMap(i => (0 until 3).map(j => mk(s"c$i", j))).toList)
    rows.toDS().repartition(8).toDF().write.format("graft-snapshot")
      .mode("append").option("numBuckets", "4").option("runId", "w1").save(dir)

    val table = SnapshotTable.open(dir)
    val files = scannedFiles(table.read(spark))
    assert(files.nonEmpty)
    files.foreach { f =>
      val inFile = spark.read.parquet(f).select("conv_id", "turn_idx")
        .as[(String, Int)].collect().toSeq
      assert(inFile == inFile.sortBy(identity),
        s"file $f is not (conv_id, turn_idx)-ordered")
    }
    assert(key(table.read(spark)) == rows.map(t => (t.conv_id, t.turn_idx, t.text)).toSet)
  }

  test("appends chain snapshots; readChanges sees exactly the delta; count(*) pushdown tracks") {
    val dir = suiteTempDir("v2write_app")
    val a = (0 until 10).map(i => mk(s"c$i", 0))
    val b = (0 until 4).map(i => mk(s"late$i", 0))
    write(dir, a, "w1")
    write(dir, b, "w2")

    val table = SnapshotTable.open(dir)
    assert(table.currentSnapshotId.contains(1L))
    assert(key(table.readChanges(spark, 0L, 1L)) ==
      b.map(t => (t.conv_id, t.turn_idx, t.text)).toSet)

    val count = spark.read.format("graft-snapshot").load(dir).groupBy().count()
    assert(count.collect().map(_.getLong(0)).toSeq == Seq(14L))
  }

  test("interop: library commit + V2 append + compact stay one consistent table") {
    import testImplicits._
    val dir = suiteTempDir("v2write_mix")
    val table = new SnapshotTable(dir, numBuckets = 4)
    val a = (0 until 8).map(i => mk(s"lib$i", 0))
    table.commit(spark, a.toDS(), "libRun")

    val b = (0 until 8).map(i => mk(s"v2_$i", 0))
    write(dir, b, "v2Run")

    val all = (a ++ b).map(t => (t.conv_id, t.turn_idx, t.text)).toSet
    assert(key(table.read(spark)) == all)

    val compacted = table.compact(spark, "compactRun")
    assert(key(table.readAt(spark, compacted)) == all)
    // V2 read face agrees after the rewrite
    assert(key(spark.read.format("graft-snapshot").load(dir)) == all)
  }

  test("streaming sink: one snapshot per micro-batch, replayed epochs commit nothing") {
    import testImplicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = suiteTempDir("v2write_stream")
    val mem = MemoryStream[ExtractedTurn]
    val q = mem.toDS().toDF().writeStream.format("graft-snapshot")
      .option("numBuckets", "4")
      .option("checkpointLocation", suiteTempDir("v2chk"))
      .outputMode("append").start(dir)
    try {
      mem.addData((0 until 6).map(i => mk(s"s$i", 0)): _*)
      q.processAllAvailable()
      val table = SnapshotTable.open(dir)
      assert(table.currentSnapshotId.contains(0L))
      assert(table.read(spark).count() == 6L)

      mem.addData(mk("s_late", 1))
      q.processAllAvailable()
      assert(table.currentSnapshotId.contains(1L))
      assert(key(table.readChanges(spark, 0L, 1L)) == Set(("s_late", 1, "written s_late#1")))
    } finally q.stop()

    // replay idempotence: handing the sink an ALREADY-PUBLISHED batch
    // again must be a manifest no-op (crash between sink commit and
    // checkpoint write ⇒ the restarted query re-runs the batch)
    val table = SnapshotTable.open(dir)
    assert(table.committedEntries(spark).map(_.runId).toSet == Set(s"${q.id}-0", s"${q.id}-1"))
    val before = table.currentSnapshotId
    replayBatch(dir, q.id.toString, 0L, (0 until 6).map(i => mk(s"s$i", 0)).toDS().toDF())
    assert(table.currentSnapshotId == before, "replayed batch must not advance the snapshot")
    assert(table.read(spark).count() == 7L)
  }

  test("attempt durability: staged writes, deterministic names, runId-collision fail-fast") {
    val dir = suiteTempDir("v2write_idem")
    val rows = (0 until 12).map(i => mk(s"c$i", 0))
    write(dir, rows, "w1")
    val table = SnapshotTable.open(dir)
    val before = scannedFiles(table.read(spark)).sorted
    assert(before.nonEmpty && before.forall(!_.contains("_staging")))
    // names are partition-deterministic (no task-attempt suffix): a
    // replayed/speculative twin RENAMING the same target overwrites
    // byte-identical content instead of accumulating a duplicate
    assert(before.forall(_.matches(".*/part-\\d+\\.[a-z0-9.]*parquet$")), before.toString)
    // no staging residue anywhere under the run dir
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "run=w1", "_staging")))

    // a BATCH re-run with the same runId is an identity collision: appending
    // the same paths again would double-count — must fail fast, and the
    // table must be untouched (files overwritten in place are byte-identical)
    val ex = intercept[Exception] { write(dir, rows, "w1") }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("already committed")), msgs(ex).toString)
    val after = SnapshotTable.open(dir)
    assert(after.currentSnapshotId.contains(0L))
    assert(scannedFiles(after.read(spark)).sorted == before)
    assert(after.read(spark).count() == 12L)
  }

  test("generic schema: a non-ExtractedTurn dataframe writes to a fresh table and reads back") {
    import testImplicits._
    val dir = suiteTempDir("v2write_gen")
    val df = Seq(("convA", new Timestamp(base), "payload-1"),
      ("convB", new Timestamp(base + 1000L), "payload-2"))
      .toDF("conv_id", "ts", "payload")
    df.write.format("graft-snapshot").mode("append")
      .option("numBuckets", "4").option("runId", "g1").save(dir)
    val back = spark.read.format("graft-snapshot").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("conv_id", "ts", "payload"))
    assert(back.select("conv_id", "payload").as[(String, String)].collect().toSet ==
      Set(("convA", "payload-1"), ("convB", "payload-2")))
    // manifest stats: turns counted, absent blocks/chars columns are zero
    val table = SnapshotTable.open(dir)
    assert(table.stats(spark).collect().map(_.getLong(2)).sum == 2L)
  }

  test("a crashed prior attempt's stale bucket files are cleared by the driver publish") {
    val dir = suiteTempDir("v2write_stale")
    // fabricate a crashed attempt of run w1: a renamed file from a WIDER
    // partition layout sits in a bucket dir, unreferenced by any manifest
    val staleDir = java.nio.file.Paths.get(dir, "data", "run=w1", "bucket=2")
    Files.createDirectories(staleDir)
    Files.writeString(staleDir.resolve("part-99.snappy.parquet"), "GARBAGE")
    val staleStaging = java.nio.file.Paths.get(dir, "data", "run=w1", "_staging", "attempt-7-7")
    Files.createDirectories(staleStaging)

    write(dir, (0 until 12).map(i => mk(s"c$i", 0)), "w1")
    // the stale file and staging are gone; the table reads exactly 12 rows
    assert(!Files.exists(staleDir.resolve("part-99.snappy.parquet")))
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "run=w1", "_staging")))
    assert(SnapshotTable.open(dir).read(spark).count() == 12L)
  }

  test("replay lineage survives compaction: a replayed epoch after compact is still a no-op") {
    import testImplicits._
    val dir = suiteTempDir("v2write_compact")
    write(dir, (0 until 8).map(i => mk(s"c$i", 0)), "qidX-0") // "epoch 0"
    val table = SnapshotTable.open(dir)
    table.compact(spark, "compactRun") // CURRENT's entries now carry compactRun
    val before = table.currentSnapshotId

    replayBatch(dir, "qidX", 0L, (0 until 8).map(i => mk(s"c$i", 0)).toDS().toDF())
    assert(table.currentSnapshotId == before,
      "batch replay after compaction must find its lineage in the retained manifests")
    assert(table.read(spark).count() == 8L)
  }

  test("snapshot GC interop: expireSnapshots reclaims V2-written file-sets that only expired manifests reference") {
    import testImplicits._
    val dir = suiteTempDir("v2write_gc")
    write(dir, (0 until 6).map(i => mk(s"g$i", 0)), "w1") // snap 0
    // overwrite: snap 1 references ONLY w2's files; w1's survive for time travel
    (0 until 2).map(i => mk(s"h$i", 0)).toDS().toDF()
      .write.format("graft-snapshot").mode("overwrite")
      .option("runId", "w2").save(dir)
    val table = SnapshotTable.open(dir)
    val w1Files = java.nio.file.Paths.get(dir, "data", "run=w1")
    assert(Files.exists(w1Files)) // still time-travel-able pre-GC
    assert(table.readAt(spark, 0L).count() == 6L)

    val deleted = table.expireSnapshots(spark, keepLast = 1)
    assert(deleted.nonEmpty && deleted.forall(_.contains("run=w1")), deleted.toString)
    assert(table.read(spark).count() == 2L) // live snapshot untouched
    assert(table.snapshotIds == Seq(1L))
  }

  test("removeOrphanFiles collects a crashed V2 writer's run dir including its _staging tree") {
    val dir = suiteTempDir("v2write_orphan")
    write(dir, (0 until 4).map(i => mk(s"k$i", 0)), "w1")
    // a crashed attempt: unreferenced run dir with bucket data AND a
    // non-empty staging subtree (this used to make the residue sweep throw)
    val crashed = java.nio.file.Paths.get(dir, "data", "run=crashed")
    Files.createDirectories(crashed.resolve("bucket=1"))
    Files.writeString(crashed.resolve("bucket=1").resolve("part-0.parquet"), "x")
    Files.createDirectories(crashed.resolve("_staging").resolve("attempt-3-3"))
    Files.writeString(crashed.resolve("_staging").resolve("attempt-3-3").resolve("b1.parquet"), "y")

    val table = SnapshotTable.open(dir)
    val deleted = table.removeOrphanFiles(spark, olderThanMillis = -1000L) // everything is "old"
    assert(deleted.exists(_.contains("run=crashed")), deleted.toString)
    assert(!Files.exists(crashed))
    assert(table.read(spark).count() == 4L) // committed data untouched
  }

  test("manifest ts stats from the write match the data (ts-range pruning works on V2-written sets)") {
    val dir = suiteTempDir("v2write_ts")
    write(dir, Seq(mk("early", 0)), "w1") // ts = base
    write(dir, Seq(mk("late", 3600)), "w2") // ts = base + 1h
    val df = spark.read.format("graft-snapshot").load(dir)
      .where(col("ts") >= new Timestamp(base + 3000 * 1000L))
    assert(key(df) == Set(("late", 3600, "written late#3600")))
    val scan = df.queryExecution.sparkPlan
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      .get.asInstanceOf[graft.connector.SnapshotScan]
    assert(scan.keptEntries.forall(_.path.contains("run=w2")), scan.keptEntries.toString)
  }

  test("a write task's factory carries the Hadoop conf by broadcast: the " +
    "factory serializes to under 16 KB") {
    val dir = suiteTempDir("v2write_factory")
    val schema = org.apache.spark.sql.Encoders.product[ExtractedTurn].schema
    val factory = graft.connector.SnapshotWriterUtil.writerFactory(spark, schema,
      s"$dir/data/run=f", 16)
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      .serialize(factory).limit()
    assert(bytes < 16 * 1024, s"the write factory serializes to $bytes bytes")
  }

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def walk(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq

  test("a commit's data files, .crc sidecars and bucket dirs carry the modes " +
    "Hadoop's local file system gives, and every .crc verifies") {
    import testImplicits._
    val ref = suiteTempDir("v2write_mode_ref")
    val local = FileSystem.getLocal(new Configuration())
    local.create(new HPath(s"$ref/f")).close()
    local.mkdirs(new HPath(s"$ref/d"))
    val (fileMode, dirMode) = (mode(Paths.get(ref, "f")), mode(Paths.get(ref, "d")))
    assert(mode(Paths.get(ref, ".f.crc")) == fileMode)

    val dir = suiteTempDir("v2write_mode")
    val table = new SnapshotTable(dir, 16)
    table.commit(spark, (0 until 64).map(i => mk(s"m$i", 0)).toDS(), "m1")
    val files = walk(s"$dir/data").filter(Files.isRegularFile(_))
    val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
    val crcs = files.filter(_.getFileName.toString.endsWith(".crc"))
    val dirs = walk(s"$dir/data/run=m1").filter(Files.isDirectory(_))
    assert(data.size == table.committedEntries(spark).size && data.nonEmpty)
    assert(crcs.size == data.size)
    assert(dirs.count(_.getFileName.toString.startsWith("bucket=")) == data.size)
    (data ++ crcs).foreach(f => assert(mode(f) == fileMode, f))
    dirs.foreach(d => assert(mode(d) == dirMode, d))
    data.foreach { f =>
      val in = local.open(new HPath(f.toUri))
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
  }

  test("the write's task and commit confs resolve file: to NioLocalFileSystem; " +
    "the session's conf does not") {
    val dir = suiteTempDir("v2write_fsclass")
    val schema = org.apache.spark.sql.Encoders.product[ExtractedTurn].schema
    val root = new java.net.URI("file:///")
    val factory = SnapshotWriterUtil.writerFactory(spark, schema, s"$dir/data/run=f", 16)
    assert(FileSystem.get(root, factory.conf.value.value).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, SnapshotWriterUtil.hadoopConf(spark))
      .isInstanceOf[NioLocalFileSystem])
    val session = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    assert(!session.isInstanceOf[NioLocalFileSystem], session.getClass)
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") == null)
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") == null)
  }

  /** Tasks of the last stage of every job `body` runs, once the listener
    * has seen those jobs end. */
  private def lastStageTasks(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"probe-${System.nanoTime()}"
    val lastStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val marker = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    @volatile var markerEnded = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => lastStage.put(e.jobId, e.stageIds.max)
          case Some(g) if g == s"$group-end" => marker.put(e.jobId, true)
          case _ => ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (marker.containsKey(e.jobId)) markerEnded = true
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "write-stage probe")
      try body finally sc.clearJobGroup()
      // one later job: the listener sees events in order, so once it sees
      // this job end it has seen every event of `body`
      sc.setJobGroup(s"$group-end", "write-stage probe marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerEnded, "listener never saw the marker job end")
      lastStage.asScala.toSeq.sortBy(_._1).map { case (_, st) => tasks.get(st) }
    } finally sc.removeSparkListener(listener)
  }

  test("a 16-bucket commit writes on min(16, defaultParallelism) tasks and " +
    "still commits one file per bucket") {
    import testImplicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val table = new SnapshotTable(suiteTempDir("v2write_width"), 16)
    val rows = (0 until 400).flatMap(i => Seq(mk(s"w$i", 0), mk(s"w$i", 1)))
    val perJob = lastStageTasks(table.commit(spark, rows.toDS(), "w1"))
    assert(perJob.last == math.min(16, spark.sparkContext.defaultParallelism), perJob)
    val entries = table.committedEntries(spark)
    assert(entries.size == 16)
    entries.foreach { e =>
      val files = Files.list(Paths.get(e.path)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(files == 1, s"${e.path}: $files files")
    }
    assert(table.read(spark).count() == rows.size)
  }

  test("a sticky or non-POSIX permission falls back to Hadoop's own chmod") {
    val dir = suiteTempDir("v2write_sticky")
    val conf = NioLocalFileSystem.install(new Configuration())
    val fs = new HPath(dir).getFileSystem(conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    val d = new HPath(s"$dir/d")
    assert(fs.mkdirs(d))
    fs.setPermission(d, new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(Paths.get(dir, "d")) == Integer.parseInt("1750", 8))
    fs.setPermission(d, new FsPermission(Integer.parseInt("0710", 8).toShort))
    assert(mode(Paths.get(dir, "d")) == Integer.parseInt("0710", 8))

    val plain = Paths.get(dir, "plain")
    Files.createFile(plain)
    assert(!NioLocalFileSystem.chmod(plain, new FsPermission(Integer.parseInt("1644", 8).toShort)))
    assert(NioLocalFileSystem.chmod(plain, new FsPermission(Integer.parseInt("0604", 8).toShort)))
    assert(mode(plain) == Integer.parseInt("0604", 8))

    val zip = java.nio.file.FileSystems.newFileSystem(Paths.get(dir, "z.zip"),
      Map("create" -> "true").asJava)
    try {
      val inZip = zip.getPath("/f")
      Files.write(inZip, Array[Byte](1))
      assert(!NioLocalFileSystem.chmod(inZip, new FsPermission(Integer.parseInt("0644", 8).toShort)))
    } finally zip.close()
  }
}
