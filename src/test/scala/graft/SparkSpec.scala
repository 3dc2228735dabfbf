package graft

import graft.tools.JobCounter
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared spec base: one local session per suite, built by the same
  * [[GraftSession.tunedBuilder]] that Bench, Verify and perfbench use. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.tunedBuilder(4, getClass.getSimpleName).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** The number of Spark jobs `f` ran on this thread. */
  def jobsOf(f: => Any): Int = JobCounter.count(spark.sparkContext)(f)._2.jobs
}
