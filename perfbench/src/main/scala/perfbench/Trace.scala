package perfbench

import scala.collection.mutable

/** In-memory span recorder. A span is opened around one call into the
  * engine from the benchmark's own code; spans nest through a stack
  * (single client thread), and every span carries the id of the
  * operation it belongs to. When disabled, `span` only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val t0 = System.nanoTime()
  var op: Long = -1L
  /** Spans are recorded only while `on` (the traced run alternates). */
  var on: Boolean = enabled

  def span[A](name: String)(body: => A): A =
    if (!enabled || !on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, start - t0, end - t0)
      }
    }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its child spans.
    */
  def selfNs: Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Total and self seconds per span name. */
  def byName: Map[String, (Int, Double, Double)] = {
    val self = selfNs
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => s.endNs - s.startNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9))
    }
  }

  /** The whole trace as one JSON document. */
  def reportJson(meta: Seq[(String, String)]): String = {
    val self = selfNs
    val sb = new StringBuilder
    sb.append("{")
    meta.foreach { case (k, v) => sb.append(Json.str(k)).append(':').append(v).append(',') }
    sb.append("\"spans\":[")
    spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""")
      sb.append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}""")
    }
    sb.append("],\"by_name\":{")
    byName.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((n, (c, tot, sf)), i) =>
      if (i > 0) sb.append(",\n")
      sb.append(Json.str(n)).append(s""":{"count":$c,"total_s":${Json.num(tot)},"self_s":${Json.num(sf)}}""")
    }
    sb.append("}}\n")
    sb.toString
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
