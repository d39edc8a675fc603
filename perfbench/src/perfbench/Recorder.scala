package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.json4s.JsonAST._
import org.json4s.JsonDSL._

/** Raised by an output check; counted as a failed operation. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Samples and operation outcomes of one run. Every timed operation goes
  * through [[op]]: it is attempted once, and it fails when it throws or
  * when one of its output checks ([[expect]]) does not hold. */
final class Recorder {
  val samples = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val facts = LinkedHashMap.empty[String, JValue]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, ArrayBuffer.empty[Double]) += v

  /** Time `f` in milliseconds under `metric`, inside trace span `span`. */
  def timeMs[T](metric: String, span: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(span)(f)
    add(metric, (System.nanoTime() - t0) / 1e6)
    r
  }

  def op(name: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
  }

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  def toJson: JValue =
    ("attempted" -> attempted) ~ ("failed" -> failed) ~ ("failures" -> failures.toList) ~
      ("samples" -> JObject(samples.toList.map { case (k, v) => k -> JArray(v.toList.map(JDouble(_))) })) ~
      ("facts" -> JObject(facts.toList))
}
