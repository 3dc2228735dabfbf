package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The Spark jobs and stages one block of code ran. */
private[graft] final case class SparkWork(jobs: Int, stages: Int)

/** Counts the Spark jobs and stages a block runs on the calling thread.
  *
  * The block runs with a fresh tag in a thread-local job property. Spark
  * copies local properties into every job the thread submits, and into
  * the broadcast and subquery threads a query starts, so only the
  * block's own work is charged to it, whatever else the context runs.
  *
  * Listener events reach the bus after the action that posted them has
  * returned, so counts read at once can come up short. Each count
  * therefore ends with a tagged fence job: the bus delivers events in
  * order, so once the fence's start is seen, every event of the block
  * has been seen too. */
private[graft] object JobCounter {
  private val TagKey = "graft.jobcounter.tag"
  private val FenceSuffix = ":fence"

  private final class Tally {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
  }

  private val nextTag = new AtomicLong(0)
  private val open = new ConcurrentHashMap[String, Tally]()

  private object Listener extends SparkListener {
    private def tag(p: Properties): String =
      if (p == null) null else p.getProperty(TagKey)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = tag(e.properties)
      if (t != null) {
        if (t.endsWith(FenceSuffix)) {
          val tally = open.get(t.dropRight(FenceSuffix.length))
          if (tally != null) tally.fenced.countDown()
        } else {
          val tally = open.get(t)
          if (tally != null) tally.jobs.incrementAndGet()
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = tag(e.properties)
      val tally = if (t == null) null else open.get(t)
      if (tally != null) tally.stages.incrementAndGet()
    }
  }

  private var installedOn: SparkContext = _
  private def install(sc: SparkContext): Unit = synchronized {
    if (installedOn ne sc) { sc.addSparkListener(Listener); installedOn = sc }
  }

  /** Runs `f` and returns its result with the jobs and stages it ran. */
  def count[T](sc: SparkContext)(f: => T): (T, SparkWork) = {
    install(sc)
    val tag = s"t${nextTag.incrementAndGet()}"
    val tally = new Tally
    open.put(tag, tally)
    val outer = sc.getLocalProperty(TagKey)
    try {
      sc.setLocalProperty(TagKey, tag)
      val result = try f finally sc.setLocalProperty(TagKey, outer)
      sc.setLocalProperty(TagKey, tag + FenceSuffix)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(TagKey, outer)
      require(tally.fenced.await(30, TimeUnit.SECONDS),
        "the listener never saw the fence job")
      (result, SparkWork(tally.jobs.get, tally.stages.get))
    } finally open.remove(tag)
  }
}
