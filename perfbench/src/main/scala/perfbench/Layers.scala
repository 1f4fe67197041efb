package perfbench

/** Per-layer metrics of traced passes, named as in BENCHMARK.json. Every
  * workload reports the same engine layers: shuffle-map stages ("map"),
  * result stages ("reduce"), the driver time between jobs, the JVM's GC,
  * and the tracing overhead. */
object Layers {
  val MapKeys = Seq("task_s", "cpu_s", "gc_s", "shuffle_write_s", "shuffle_write_mb",
    "records", "tasks", "task_max_over_median", "true_rate")
  val ReduceKeys = Seq("task_s", "cpu_s", "gc_s", "fetch_wait_s", "shuffle_read_mb",
    "output_mb", "records", "tasks", "task_max_over_median", "true_rate")

  /** Medians over `passes` (traced spans, each one pass at `level`). */
  def fromPasses(r: Result, ctx: Ctx, level: String, passes: Seq[(Span, Double)]): Unit = {
    val tr = ctx.tracer
    val per = passes.map { case (sp, _) =>
      val stages = tr.stagesUnder(sp.id)
      val jobs = tr.jobsUnder(sp.id)
      val m = StageSummary.of(stages, "map")
      val red = StageSummary.of(stages, "reduce")
      MapKeys.map(k => s"stage.map.$k.$level" -> m(k)) ++
        ReduceKeys.map(k => s"stage.reduce.$k.$level" -> red(k)) ++
        Seq(s"driver_s.$level" -> StageSummary.driverSeconds(sp.startMs, sp.endMs, jobs),
          s"spark.jobs.$level" -> jobs.size.toDouble)
    }
    per.head.map(_._1).foreach { k =>
      r.layers(k) = Stats.median(per.map(_.toMap.apply(k)))
    }
  }

  /** `traced` and `untraced` are the walls of the same passes, paired. */
  def common(r: Result, traced: Seq[Double], untraced: Seq[Double],
      gcS: Double, gcCount: Long): Unit = {
    r.layers("jvm.gc_s") = gcS
    r.layers("jvm.gc_count") = gcCount.toDouble
    r.layers("trace.overhead_pct") =
      (traced.sum / untraced.sum - 1) * 100
  }
}
