package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed interval: a call into a layer, a Spark job or a Spark stage. */
final case class Span(id: Long, parent: Long, rep: Long, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-stage totals, summed over the stage's tasks. */
final class StageStat(val stageId: Int) {
  var jobGroup: String = null
  var isMap = false
  var name = ""
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteNs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var shuffleReadBytes = 0L
  var outputBytes = 0L
  var records = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Listener registered by the benchmark on each SparkContext it starts while
  * tracing. It maps every job to the job group the benchmark set around the
  * call that launched it, and sums task metrics per stage. */
final class StageProfile extends SparkListener {
  val stages = mutable.LinkedHashMap.empty[Int, StageStat]
  val jobs = mutable.LinkedHashMap.empty[Int, (String, Long, Long, Seq[Int])]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageStat(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty(org.apache.spark.BenchBus.JobGroupKey)).orNull
    jobs(e.jobId) = (group, e.time, 0L, e.stageIds)
    e.stageIds.foreach(s => stage(s).jobGroup = group)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (g, t0, _, st) => jobs(e.jobId) = (g, t0, e.time, st) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = stage(si.stageId)
    s.isMap = org.apache.spark.BenchBus.isShuffleMap(si)
    s.name = si.name
    s.submitMs = si.submissionTime.getOrElse(0L)
    s.completeMs = si.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.records += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }
}

/** In-memory span recorder. When disabled, `span` only runs its body. When
  * enabled, each span sets a Spark job group naming itself, so the jobs and
  * stages the call launches become its children. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var rep = 0L
  private val profiles = mutable.ArrayBuffer.empty[StageProfile]
  private var current: Option[(SparkContext, StageProfile)] = None
  /** The span closed most recently (the caller's just-finished call). */
  var lastClosed: Option[Span] = None
  /** Toggled off for the untraced passes of a traced run. */
  var active: Boolean = enabled

  def newRep(): Long = { rep += 1; rep }

  /** Called by [[Sessions]] for every SparkContext the benchmark starts. */
  def attach(sc: SparkContext): Unit = if (enabled) {
    val p = new StageProfile
    profiles += p
    current = Some(sc -> p)
    if (active) sc.addSparkListener(p)
  }

  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    active = on
    current.foreach { case (sc, p) =>
      if (on) sc.addSparkListener(p) else sc.removeSparkListener(p)
    }
  }

  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(body: => A): A =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val sc = SparkSession.getActiveSession.map(_.sparkContext).filterNot(_.isStopped)
      val prevGroup = sc.flatMap(c => Option(c.getLocalProperty(org.apache.spark.BenchBus.JobGroupKey)))
      sc.foreach(_.setJobGroup(s"span-$id", name))
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        stack = stack.tail
        sc.filterNot(_.isStopped).foreach { c =>
          prevGroup match {
            case Some(g) => c.setJobGroup(g, "")
            case None    => c.clearJobGroup()
          }
        }
        val sp = Span(id, parent, rep, name, t0, t1, ms0, ms1, attrs)
        spans += sp
        lastClosed = Some(sp)
      }
    }

  /** Delivers outstanding listener events of the active context. */
  def drain(): Unit = current.foreach { case (sc, _) =>
    if (!sc.isStopped) org.apache.spark.BenchBus.drain(sc)
  }

  def all: Seq[Span] = spans.toSeq

  /** Ids of `root` and every span below it. */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] = kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }

  /** Stages launched under `root` or any span below it. */
  def stagesUnder(root: Long): Seq[StageStat] = {
    val groups = subtree(root).map(id => s"span-$id")
    profiles.toSeq.flatMap(p => p.synchronized(p.stages.values.toSeq))
      .filter(s => s.jobGroup != null && groups(s.jobGroup))
  }

  /** Job intervals (ms since epoch) launched under `root`. */
  def jobsUnder(root: Long): Seq[(Long, Long)] = {
    val groups = subtree(root).map(id => s"span-$id")
    profiles.toSeq.flatMap(p => p.synchronized(p.jobs.values.toSeq))
      .collect { case (g, t0, t1, _) if g != null && groups(g) && t1 >= t0 => (t0, t1) }
  }

  /** Spans plus the Spark jobs and stages as child spans, one JSON object a
    * line. Job and stage times are wall-clock milliseconds from Spark. */
  def writeJsonLines(path: java.io.File): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.sortBy(_.startNs).foreach { s =>
        out.println(Json.render(Map("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
          "rep" -> s.rep, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
          "attrs" -> s.attrs)))
      }
      profiles.zipWithIndex.foreach { case (p, ctx) =>
        p.synchronized {
          p.jobs.foreach { case (jobId, (g, t0, t1, st)) =>
            out.println(Json.render(Map("kind" -> "job", "context" -> ctx, "job" -> jobId,
              "parent" -> Option(g).map(_.stripPrefix("span-")).orNull,
              "start_ms" -> t0, "end_ms" -> t1, "stages" -> st)))
          }
          p.stages.values.foreach { s =>
            out.println(Json.render(Map("kind" -> "stage", "context" -> ctx,
              "stage" -> s.stageId, "parent_group" -> s.jobGroup, "map" -> s.isMap,
              "name" -> s.name, "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
              "tasks" -> s.tasks, "task_ms" -> s.taskMs, "cpu_ns" -> s.cpuNs,
              "gc_ms" -> s.gcMs, "shuffle_write_ns" -> s.shuffleWriteNs,
              "shuffle_write_bytes" -> s.shuffleWriteBytes, "fetch_wait_ms" -> s.fetchWaitMs,
              "shuffle_read_bytes" -> s.shuffleReadBytes, "output_bytes" -> s.outputBytes,
              "records" -> s.records)))
          }
        }
      }
    } finally out.close()
  }
}

/** Stage metrics of one traced pass, split into shuffle-map stages ("map")
  * and result stages ("reduce"). */
object StageSummary {
  def of(stages: Seq[StageStat], kind: String): Map[String, Double] = {
    val ss = stages.filter(s => if (kind == "map") s.isMap else !s.isMap)
    val taskS = ss.map(_.taskMs).sum / 1e3
    val gcS = ss.map(_.gcMs).sum / 1e3
    val fetchS = ss.map(_.fetchWaitMs).sum / 1e3
    val records = ss.map(_.records).sum.toDouble
    val useful = taskS - gcS - fetchS
    // stragglers/skew of the stage that dominates this kind's task time
    val skew = ss.filter(_.durations.nonEmpty).sortBy(-_.taskMs).headOption.map { s =>
      val med = Stats.median(s.durations.map(_.toDouble).toSeq)
      s.durations.max / math.max(1.0, med)
    }.getOrElse(1.0)
    val common = Map(
      "task_s" -> taskS,
      "cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "gc_s" -> gcS,
      "records" -> records,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_max_over_median" -> skew,
      "true_rate" -> (if (useful > 0) records / useful else 0.0))
    if (kind == "map") common ++ Map(
      "shuffle_write_s" -> ss.map(_.shuffleWriteNs).sum / 1e9,
      "shuffle_write_mb" -> ss.map(_.shuffleWriteBytes).sum / 1048576.0)
    else common ++ Map(
      "fetch_wait_s" -> fetchS,
      "shuffle_read_mb" -> ss.map(_.shuffleReadBytes).sum / 1048576.0,
      "output_mb" -> ss.map(_.outputBytes).sum / 1048576.0)
  }

  /** Wall time of `[t0, t1]` (ms) not covered by any job: driver-side work. */
  def driverSeconds(t0Ms: Long, t1Ms: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = t0Ms
    jobs.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0L, (t1Ms - t0Ms) - covered) / 1e3
  }
}
