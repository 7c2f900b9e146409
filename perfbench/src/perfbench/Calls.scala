package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** The timed calls of one run, by kind. A call that throws, or whose
  * result later fails its check, is failed: it counts in `failed` and is
  * left out of every latency figure.
  */
final class Calls {
  import Calls.Ref

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nAttempted = 0L
  private var nFailed = 0L
  private var firstError: Option[String] = None

  def kinds: Seq[String] = samples.keys.toSeq
  def attempted: Long = nAttempted
  def failed: Long = nFailed
  def error: Option[String] = firstError

  /** Times `body` as one call of `kind`; None when it throws. */
  def time[A](kind: String)(body: => A): Option[(A, Ref)] = {
    nAttempted += 1
    val buf = samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty)
    val t0 = System.nanoTime()
    try {
      val r = body
      buf += (System.nanoTime() - t0) / 1e6
      Some((r, Ref(kind, buf.length - 1)))
    } catch {
      case NonFatal(e) =>
        fail(s"$kind threw: $e")
        None
    }
  }

  def fail(why: String): Unit = {
    nFailed += 1
    if (firstError.isEmpty) firstError = Some(why)
    System.err.println(s"[perfbench] FAILED: $why")
  }

  /** Marks a call that completed but whose result is wrong. */
  def failCall(ref: Ref, why: String): Unit = {
    samples(ref.kind)(ref.index) = Double.NaN
    fail(why)
  }

  /** Latencies in ms of the successful calls of `kind`. */
  def ms(kind: String): Seq[Double] =
    samples.get(kind).map(_.filterNot(_.isNaN).toSeq).getOrElse(Nil)
}

object Calls {
  /** A handle on one timed call, to mark it failed once checked. */
  final case class Ref(kind: String, index: Int)

  /** Median, interpolated between the middle two of an even count; NaN
    * for no samples.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
