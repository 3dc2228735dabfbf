package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared spec base: one local session per suite, built by the same
  * [[GraftSession.tunedBuilder]] that Bench, Verify and perfbench use. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.tunedBuilder(4, getClass.getSimpleName).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  private val OpKey = "graft.spec.op"

  /** Counts jobs tagged "op"; a job tagged "fence" releases the latch.
    * Listener events arrive in order, so once the fence job's start is
    * seen, every job the op started has been counted. */
  private object Jobs extends SparkListener {
    val ops = new AtomicInteger(0)
    @volatile var fence = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(OpKey)) match {
        case Some("op") => ops.incrementAndGet()
        case Some("fence") => fence.countDown()
        case _ =>
      }
  }
  private lazy val listening = spark.sparkContext.addSparkListener(Jobs)

  /** The number of Spark jobs `f` ran on this thread. */
  def jobsOf(f: => Any): Int = {
    listening
    val sc = spark.sparkContext
    val before = Jobs.ops.get()
    sc.setLocalProperty(OpKey, "op")
    try f finally sc.setLocalProperty(OpKey, null)
    Jobs.fence = new CountDownLatch(1)
    sc.setLocalProperty(OpKey, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(OpKey, null)
    assert(Jobs.fence.await(30, TimeUnit.SECONDS), "listener never saw the fence job")
    Jobs.ops.get() - before
  }
}
