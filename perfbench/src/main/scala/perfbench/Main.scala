package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** One benchmark run: set up one workload, drive it from a single
  * closed-loop client for `--seconds`, check its outputs, and print the
  * result as the last line of stdout.
  *
  * {{{
  * Main --workload kv_mixed|fs_meta|registry --seed N --seconds S
  *      --trace 0|1 --cores C --work DIR --trace-out FILE --oracle FILE
  *      --sf-dir DIR
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics; with
  * `--trace 1` spans and a job listener are on and it holds the per-layer
  * metrics instead (the two runs are separate so tracing never touches
  * the end-to-end numbers). */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work"))

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.tunedBuilder(opt("cores").toInt, "perfbench")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, traced)
    val rec = new Recorder(tracer)
    val canaryBefore = canary(spark)
    val wl: Workload = workload match {
      case "kv_mixed" => new KvMixed(spark, rec, seed, work)
      case "fs_meta" => new FsMeta(spark, rec, seed, work)
      case "registry" => new Registry(spark, rec, seed, work, opt("sf-dir"),
        Fingerprint.load(java.nio.file.Paths.get(opt("oracle"))))
      case other => sys.error(s"unknown workload $other")
    }

    val fixtureS = (0 until wl.fixtureReps).map(r => timeS(wl.buildFixture(r)))
    val warmS = timeS(wl.warmUp())
    val setupS = sessionS + Stats.median(fixtureS) + warmS
    val liveAfterSetup = liveMb()

    tracer.reset()
    wl.windowStarted()
    val gc0 = gcMillis()
    rec.recording = true
    val w0 = System.nanoTime()
    while (System.nanoTime() - w0 < seconds * 1e9 || !wl.atBoundary) wl.step()
    val windowS = (System.nanoTime() - w0) / 1e9
    val inWindow = rec.samples
    wl.finish()
    rec.recording = false
    tracer.settle()
    val gcMs = gcMillis() - gc0
    val memMb = math.max(liveAfterSetup, liveMb())
    val canaryS = (canaryBefore + canary(spark)) / 2

    val samples = rec.samples
    val missing = OpClass.all.filterNot(c => samples.exists(_.cls == c))
    missing.foreach(c => rec.verify(s"${c.name} sample") {
      Some(s"no ${c.name} operation completed in the run")
    })
    def of(cls: OpClass) = samples.filter(_.cls == cls)
    def tail(cls: OpClass, q: Double): Double = {
      val xs = of(cls).map(_.ms).sorted.toArray
      if (xs.isEmpty) Stats.Failed else Stats.percentile(xs, q)
    }
    def typical(cls: OpClass): Double =
      if (of(cls).isEmpty) Stats.Failed
      else Stats.typical(of(cls).map(s => s.kind -> s.ms))
    val tails = wl.tails
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", inWindow.count(_.ms != Stats.Failed) / windowS, "1/s"),
      ("read_p50_ms", typical(OpClass.Read), "ms"),
      ("read_tail_ms", tail(OpClass.Read, tails(OpClass.Read)), "ms"),
      ("write_p50_ms", typical(OpClass.Write), "ms"),
      ("write_tail_ms", tail(OpClass.Write, tails(OpClass.Write)), "ms"),
      ("maint_p50_ms", typical(OpClass.Maint), "ms"),
      ("space_amp", wl.spaceAmp, "ratio"),
      ("mem_peak_mb", memMb, "MB"))

    val failedRatio = rec.failed.toDouble / rec.attempted
    val classLine = OpClass.all.map { c =>
      val n = samples.count(_.cls == c)
      val q = tails(c)
      f"${c.name} n=$n tail=p${(q * 100).round}%d (${Stats.beyond(n, q)}%d beyond)"
    }.mkString("; ")
    println(f"# $workload seed=$seed window=$windowS%.1fs ops=${inWindow.size}%d $classLine; " +
      f"failed_ratio=$failedRatio%.4f (${rec.failed}%d/${rec.attempted}%d); " +
      f"cpu_canary=$canaryS%.3fs; setup: session $sessionS%.2fs, fixture ${fixtureS.map(s => f"$s%.2f").mkString("/")}s, warm-up $warmS%.2fs")
    rec.failureMessages.take(5).foreach(m => println(s"# failure: $m"))

    val metrics =
      if (!traced) e2e
      else {
        if (opt.contains("trace-out")) tracer.write(java.nio.file.Paths.get(opt("trace-out")))
        Layers.metrics(tracer, wl.counters, samples.size, windowS,
          Map("session.start_ms" -> sessionS * 1000, "spark.gc_ms" -> gcMs.toDouble / math.max(1, samples.size),
            "env.cpu_canary_s" -> canaryS)).map { case (n, v) => (n, v, Layers.unit(n)) }
      }
    metrics.foreach { case (n, v, u) => println(f"#   $n%-32s ${num(v)}%s $u") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": {${body.mkString(", ")}}}""")
    spark.stop()
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** JSON number; a percentile that lands on a failed operation is
    * written as 1e300, beyond any latency limit. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "1e300" else v.toString

  /** Fixed-cost CPU probe on all cores, independent of the workload: a
    * shift in it is the machine, not the code. */
  private def canary(spark: SparkSession): Double = {
    val cores = spark.sparkContext.defaultParallelism
    def probe(rows: Long): Double = timeS(spark.range(0, rows, 1, cores)
      .select(sum(pmod(xxhash64(col("id")), lit(1000)))).collect())
    probe(1000000L) // compile once so the timed probe is pure CPU
    probe(50000000L)
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Memory the engine holds on to: heap in use right after a full
    * collection plus non-heap (metaspace, code cache). Spark runs in local
    * mode, so this is the whole engine. Unlike resident size it does not
    * depend on when the collector last ran. */
  private def liveMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }
}
