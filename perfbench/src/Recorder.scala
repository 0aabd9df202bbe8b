package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Times client operations and keeps only the ones whose output
  * passed its check: an operation that throws or fails its check is
  * counted as failed, with its name and reason, and its latency is
  * never recorded as a success. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val rowsOut = mutable.HashMap.empty[String, Long]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Client time spent checking outputs, per operation name (ms). */
  val checkMs = mutable.HashMap.empty[String, Double]
  var attempted = 0L

  /** Runs `body` (timed), then `check` on its result (untimed).
    * Returns the latency in ms if the operation succeeded. */
  def op[R](name: String)(body: => R)(check: R => Option[String]): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = result match {
      case Left(e) => Some(s"error: $e")
      case Right(v) => try check(v) catch { case NonFatal(e) => Some(s"check error: $e") }
    }
    checkMs(name) = checkMs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6 - ms
    verdict match {
      case Some(why) => failures += name -> why; None
      case None =>
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        Some(ms)
    }
  }

  def rows(name: String, n: Long): Unit = rowsOut(name) = rowsOut.getOrElse(name, 0L) + n

  def failed: Long = failures.size.toLong

  /** Latencies (ms) of successful operations whose name passes `f`. */
  def ms(f: String => Boolean): Seq[Double] =
    samples.iterator.filter(kv => f(kv._1)).flatMap(_._2).toSeq
}
