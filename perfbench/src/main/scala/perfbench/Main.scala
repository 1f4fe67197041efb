package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark entry point inside the JVM (launched by perfbench/run.py).
  * Runs the requested workloads, each under its own guard, and writes one
  * result JSON file; a failed workload is reported as failed while the
  * others keep their metrics. */
object Main {
  val Workloads = Seq("extract", "table")
  /** Program-read A/B switches that would change the measured code path. */
  val RefusedEnv = Seq("SPARK_GRAFT_SLIM_SPANS", "SPARK_GRAFT_CC_DEBUG")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val refused = RefusedEnv.filter(sys.env.contains)
    if (refused.nonEmpty) {
      System.err.println(s"[perfbench] refusing to run with ${refused.mkString(", ")} set")
      sys.exit(2)
    }
    val which = opt("workload")
    val selected = if (which == "all") Workloads else Seq(which)
    require(selected.forall(Workloads.contains), s"unknown workload $which")
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))
    val inject = opt.get("inject-failure").toSet
    val tracer = new Tracer(trace)

    val results = selected.map { w =>
      val ctx = Ctx(opt("seed").toLong, opt("seconds").toDouble, trace,
        new File(work, w), new File(opt("data")), new File(opt("oracle-out")),
        opt.get("smoke").contains("1"),
        inject(w), tracer)
      ctx.work.mkdirs()
      val r = new Result(w)
      val t0 = System.nanoTime()
      val status =
        try {
          w match {
            case "extract" => ExtractWorkload.run(ctx, r)
            case "table"   => TableWorkload.run(ctx, r)
          }
          "ok"
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] workload $w failed: $e")
            e.printStackTrace()
            r.failures += e.toString
            "failed"
        } finally {
          Sessions.stop()
          Files.delete(ctx.work)
        }
      r.detail("workload_s") = (System.nanoTime() - t0) / 1e9
      w -> Map("status" -> status, "attempted" -> r.attempted, "failed" -> r.failed,
        "failures" -> r.failures.toSeq, "e2e" -> r.e2e, "layers" -> r.layers,
        "detail" -> r.detail)
    }
    opt.get("spans").filter(_ => trace).foreach(p => tracer.writeJsonLines(new File(p)))

    val rt = ManagementFactory.getRuntimeMXBean
    val env = Map(
      "jvm" -> Map(
        "version" -> System.getProperty("java.version"),
        "args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
        "cpus" -> Runtime.getRuntime.availableProcessors),
      "spark" -> Map(
        "version" -> org.apache.spark.SPARK_VERSION,
        "conf" -> Sessions.conf(4, coalesce = false, work).toMap,
        "conf_notes" -> Seq(
          "local[1] sessions use spark.master=local[1], spark.sql.shuffle.partitions=4",
          "table sessions set spark.sql.adaptive.coalescePartitions.enabled=true")))
    java.nio.file.Files.writeString(new File(opt("result")).toPath,
      Json.render(Map("workloads" -> results.toMap, "env" -> env)))
  }
}
