package perfbench

/** Per-layer metrics from a traced run. A span is named `<module>.<op>`
  * after the module the benchmark called into; its jobs are the Spark
  * jobs it (or a span nested in it) submitted. A layer the workload never
  * calls reports 0. */
object Layers {
  val MetaOps: Seq[String] =
    Seq("lookup", "getattr", "readdir", "create", "write", "rename", "unlink", "checkpoint")

  /** Every per-layer metric, in report order. */
  val names: Seq[String] =
    Seq("get", "put").flatMap(op => Seq("ms", "self_ms", "jobs", "tasks").map(m => s"sources.$op.$m")) ++
      Seq("sources.get.rows_read", "sources.get.bytes_read", "sources.put.bytes_written",
        "sources.compact.ms", "sources.compact.jobs", "sources.compact.bytes_written",
        "sources.store.files", "sources.store.bytes") ++
      MetaOps.flatMap(op => Seq("ms", "self_ms", "jobs").map(m => s"meta.$op.$m")) ++
      Seq("meta.listing_cache.hits", "meta.listing_cache.misses", "meta.listing_cache.hit_ratio",
        "meta.catalog.rows", "meta.catalog.plan_nodes",
        "operators.build.ms", "operators.build.jobs",
        "operators.exec.ms", "operators.exec.self_ms", "operators.exec.jobs",
        "operators.stages", "operators.tasks", "operators.shuffle_write_bytes",
        "operators.spill_bytes", "operators.executor_run_ms",
        "operators.heavy.ms", "operators.oneshot.ms",
        "session.start_ms", "spark.scheduler_wait_ms", "spark.executor_run_ms", "spark.gc_ms",
        "trace.overhead_ratio", "env.cpu_canary_s")

  def unit(name: String): String = name.split('.').last match {
    case "ms" | "self_ms" | "start_ms" | "scheduler_wait_ms" | "executor_run_ms" | "gc_ms" => "ms"
    case "cpu_canary_s" => "s"
    case "hit_ratio" | "overhead_ratio" => "ratio"
    case n if n.contains("bytes") => "bytes"
    case _ => "count"
  }

  def metrics(tracer: Tracer, counters: Map[String, Double], ops: Int,
      windowS: Double, given: Map[String, Double]): Seq[(String, Double)] = {
    val spans = tracer.spans
    val jobs = tracer.jobsBySpan
    val children = spans.groupBy(_.parent)
    def under(s: Tracer.Span): Seq[Tracer.Job] =
      jobs.getOrElse(s.id, Nil) ++ children.getOrElse(s.id, Nil).flatMap(under)
    def named(n: String): Seq[Tracer.Span] = spans.filter(_.name == n)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    /** Per-span mean of a job total. */
    def perSpan(ss: Seq[Tracer.Span])(f: Tracer.Job => Long): Double =
      mean(ss.map(s => under(s).map(f).sum.toDouble))
    def ms(ss: Seq[Tracer.Span]): Double = Stats.median(ss.map(_.micros / 1000.0))
    def selfMs(ss: Seq[Tracer.Span]): Double = Stats.median(ss.map(s =>
      Stats.selfTime(s.start, s.end, under(s).map(j => (j.start, j.end))) / 1000.0))
    def basic(prefix: String, ss: Seq[Tracer.Span]): Seq[(String, Double)] = Seq(
      s"$prefix.ms" -> ms(ss), s"$prefix.self_ms" -> selfMs(ss),
      s"$prefix.jobs" -> perSpan(ss)(_ => 1L), s"$prefix.tasks" -> perSpan(ss)(_.tasks))

    val get = named("sources.get")
    val put = named("sources.put")
    val compact = named("sources.compact")
    val queries = named("operators.heavy") ++ named("operators.oneshot")
    val allJobs = tracer.jobs
    val derived: Map[String, Double] = (
      basic("sources.get", get) ++ basic("sources.put", put) ++ Seq(
        "sources.get.rows_read" -> perSpan(get)(_.recordsRead),
        "sources.get.bytes_read" -> perSpan(get)(_.bytesRead),
        "sources.put.bytes_written" -> perSpan(put)(_.bytesWritten),
        "sources.compact.ms" -> ms(compact),
        "sources.compact.jobs" -> perSpan(compact)(_ => 1L),
        "sources.compact.bytes_written" -> perSpan(compact)(_.bytesWritten)) ++
      MetaOps.flatMap(op => basic(s"meta.$op", named(s"meta.$op")).take(3)) ++
      basic("operators.build", named("operators.build")).take(3).filterNot(_._1.endsWith("self_ms")) ++
      basic("operators.exec", named("operators.exec")).take(3) ++ Seq(
        "operators.stages" -> perSpan(queries)(_.stages.toLong),
        "operators.tasks" -> perSpan(queries)(_.tasks),
        "operators.shuffle_write_bytes" -> perSpan(queries)(_.shuffleWrite),
        "operators.spill_bytes" -> perSpan(queries)(_.spill),
        "operators.executor_run_ms" -> perSpan(queries)(_.runMs),
        "operators.heavy.ms" -> ms(named("operators.heavy")),
        "operators.oneshot.ms" -> ms(named("operators.oneshot")),
        "spark.scheduler_wait_ms" -> allJobs.map(_.waitMs).sum.toDouble / math.max(1, ops),
        "spark.executor_run_ms" -> allJobs.map(_.runMs).sum.toDouble / math.max(1, ops),
        "trace.overhead_ratio" -> tracer.overheadNanos / 1e9 / windowS)
    ).toMap ++ counters ++ given
    names.map(n => n -> derived.getOrElse(n, 0.0))
  }
}
