package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One recorded interval around a call into a layer. `op` groups the spans
  * of one client operation; `parent` is the enclosing span (0 = none).
  */
final case class Span(id: Long, op: Long, name: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, reached only from traced layer calls
  * ([[Ctx.layer]]). Spans are opened on the driver thread.
  */
final class Trace {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)
  private var stack: List[Long] = Nil
  private var currentOp = 0L

  /** Start a new client operation: later spans share its id. */
  def newOp(): Long = { currentOp = ids.incrementAndGet(); currentOp }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, currentOp, name, parent, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {

  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval covered by its direct children.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map { c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
        })
        (s.durNs - covered) / 1e9
      }.sum
    }
  }
}
