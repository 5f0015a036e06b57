package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call: wall time, plus (in a traced run) what the listeners
  * saw during it. */
final case class SpanRec(name: String, op: Int, wallS: Double, window: Option[Window])

/** Times calls into the engine's layers from outside. Untraced, a span is a
  * clock reading; traced, it also drains the listener bus on both sides so
  * its window holds exactly the jobs, tasks and queries of the call. */
final class Spans(rec: Recorder, val traced: Boolean) {
  val all = ArrayBuffer.empty[SpanRec]
  var op: Int = -1

  def apply[T](name: String)(f: => T): T = timed(name)(f)._1

  def timed[T](name: String)(f: => T): (T, SpanRec) = {
    val m = if (traced) Some(rec.mark()) else None
    val t0 = System.nanoTime()
    val out = f
    val wall = (System.nanoTime() - t0) / 1e9
    val s = SpanRec(name, op, wall, m.map(rec.since))
    all += s
    (out, s)
  }

  def named(name: String): Seq[SpanRec] = all.filter(_.name == name).toSeq
}
