package perfbench

import scala.collection.mutable

/** What kind of work an operation is, for the end-to-end latency split. */
sealed abstract class OpClass(val name: String)
object OpClass {
  case object Read extends OpClass("read")
  case object Write extends OpClass("write")
  case object Maint extends OpClass("maint")
  val all: Seq[OpClass] = Seq(Read, Write, Maint)
}

/** Times each operation, checks its output outside the timed part, and
  * keeps the samples. A failed check or an exception marks the operation
  * failed: it is counted, and its sample sorts beyond every latency. */
final class Recorder(val tracer: Tracer) {
  /** One timed operation; `kind` is its op type (a span, or a query). */
  final case class Sample(cls: OpClass, kind: String, ms: Double)

  private val buf = mutable.ArrayBuffer.empty[Sample]
  private var attemptedN = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Samples are kept only while recording (the timed window and the
    * maintenance that closes it); checks count at all times. */
  var recording = false

  def samples: Seq[Sample] = buf.toVector
  def attempted: Long = attemptedN
  def failed: Long = failures.size.toLong
  def failureMessages: Seq[String] = failures.toVector

  /** Runs `call` inside span `span`, timing only the call, then `check`s
    * its result; `check` returns an error message on a wrong result. */
  def op[A](cls: OpClass, span: String, kind: String = "")(call: => A)(
      check: A => Option[String]): Boolean = {
    attemptedN += 1
    val t0 = System.nanoTime()
    val outcome: Either[String, A] =
      try Right(tracer.span(span)(call))
      catch { case e: Exception => Left(s"$span threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val error = outcome.fold(Some(_), r =>
      try check(r)
      catch { case e: Exception => Some(s"$span check threw ${e.getMessage}") })
    error.foreach { msg =>
      failures += msg
      System.err.println(s"[perfbench] FAILED $msg")
    }
    if (recording)
      buf += Sample(cls, if (kind.isEmpty) span else kind, if (error.isEmpty) ms else Stats.Failed)
    error.isEmpty
  }

  /** An untimed correctness check that is not itself an operation of the
    * mix (e.g. the whole-store comparison after compaction). */
  def verify(what: String)(check: => Option[String]): Unit = {
    val saved = recording
    recording = false
    op(OpClass.Read, what)(())(_ => check)
    recording = saved
  }
}

/** One workload: a fixture, a warm-up, and an operation mix driven one
  * operation at a time by a single closed-loop client. */
trait Workload {
  /** How many times set-up builds the fixture; the last one is used. */
  def fixtureReps: Int
  def buildFixture(rep: Int): Unit
  def warmUp(): Unit
  def windowStarted(): Unit = ()
  /** Issues the next operation of the mix and waits for it. */
  def step(): Unit
  /** Whether the window may close after the last step (registry closes
    * only between whole passes, so every window runs the same list). */
  def atBoundary: Boolean = true
  /** Work that closes the timed window (kv_mixed compacts here). */
  def finish(): Unit
  /** Bytes (or rows) the plane keeps per live user byte (or entry). */
  def spaceAmp: Double
  /** Fixed tail percentile per op class: [[Stats.tailQuantile]] of the
    * sample count a default-length run yields, moved up into the slowest
    * op type's mode where the rule would land between two modes or below
    * the median (the README lists each choice). */
  def tails: Map[OpClass, Double]
  /** Per-layer counters that are not spans (cache hits, store files...). */
  def counters: Map[String, Double]
}
