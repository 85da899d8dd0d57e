package perfbench

import scala.collection.mutable

/** A timed call into one layer. `parent` is the enclosing span's id, -1 at the root. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, run: String) {
  def layer: String = name.takeWhile(_ != ':')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the benchmark's single calling thread. Span
  * names are `<layer>:<call>`; nothing is recorded when disabled, so untraced
  * runs pay only a closure call.
  */
final class Trace(val run: String, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent, run)
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per layer: each span's duration minus what its children cover
    * (children of one span never overlap: one thread runs them in turn).
    */
  def selfSeconds: Map[String, Double] = {
    val childS = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.toSeq.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childS.getOrElse(s.id, 0.0)).sum
    }
  }
}
