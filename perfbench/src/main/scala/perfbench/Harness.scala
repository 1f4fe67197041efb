package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one workload needs from the command line. */
final case class Ctx(
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    dataDir: File,
    oracleOut: File,
    smoke: Boolean,
    injectFailure: Boolean,
    tracer: Tracer)

/** What one workload reports. `e2e` and `layers` use the names declared in
  * BENCHMARK.json; `detail` carries the workload's own named measurements. */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Counts one checked operation; `ok == false` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

/** The pinned Spark session: one place for every setting the benchmark runs
  * the program under (the tuned settings of graft.Bench). Each level (cores)
  * gets a fresh session, as a job submitted to a cluster of that size would.
  * `coalesce` follows graft.Bench too: off for the flagship job, whose task
  * waves it keeps, on for the table loop's many small shuffles and queries. */
object Sessions {
  def conf(cores: Int, coalesce: Boolean, work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> (cores * 4).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> coalesce.toString,
    "spark.hadoop.parquet.block.size" -> (32 * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (128 * 1024 * 1024).toString,
    "spark.shuffle.file.buffer" -> "1m",
    "spark.shuffle.localDisk.file.output.buffer" -> "1m",
    "spark.io.compression.codec" -> "lz4",
    "spark.io.compression.lz4.blockSize" -> "32k",
    "spark.reducer.maxSizeInFlight" -> "48m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "127.0.0.1",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.local.dir" -> new File(work, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath)

  def start(ctx: Ctx, cores: Int, coalesce: Boolean = false): SparkSession = {
    stop()
    val b = SparkSession.builder().appName(s"perfbench-$cores")
    conf(cores, coalesce, ctx.work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    ctx.tracer.attach(s.sparkContext)
    s
  }

  def stop(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach { s =>
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
}

/** GC and heap readings from the JVM's own MXBeans. */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcSeconds: Double = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def gcCount: Long = gcBeans.map(_.getCollectionCount).filter(_ >= 0).sum

  /** Heap still in use after a full collection, MB: what the program keeps
    * alive once the measured work is done (caches, broadcasts, session
    * state). Forced at the end of the measurement, never inside it. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Loop {
  /** Runs `rep` at least `minReps` times and then while `seconds` have not
    * passed since the loop began. */
  def reps(seconds: Double, minReps: Int)(rep: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      rep(i); i += 1
    }
    i
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Bytes of the parquet files under `f`. */
  def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(parquetBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
