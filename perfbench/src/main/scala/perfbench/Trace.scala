package perfbench

import scala.language.implicitConversions

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out with the run's result. Off, `span` just runs its body:
  * no listener drain, no snapshot. On, each span carries the
  * [[Probe]] counter deltas of its interval. */
final class Tracer(probe: Probe, val enabled: Boolean) {
  import Tracer.Span

  private val origin = System.nanoTime()
  private var nextId = 0
  private var open = List.empty[Int]
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  def span[T](name: String, batch: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val before = probe.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val counters = Probe.delta(before, probe.snapshot()) +
          ("wall_s" -> (t1 - t0) / 1e9)
        open = open.tail
        spans += Span(id, name, batch, parent, (t0 - origin) / 1e9,
          (t1 - origin) / 1e9, counters)
      }
    }

  def toJson: Json.V = Json.arr(spans.sortBy(_.id).toSeq.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "batch" -> s.batch,
      "parent" -> s.parent, "start_s" -> s.startS, "end_s" -> s.endS,
      "counters" -> Json.counters(s.counters))
  })
}

object Tracer {
  final case class Span(id: Int, name: String, batch: Int, parent: Int,
      startS: Double, endS: Double, counters: Map[String, Double])
}

/** Just enough JSON output for the result file. */
object Json {
  sealed trait V { def render: String }
  private final case class Raw(render: String) extends V
  val Null: V = Raw("null")
  implicit def num(d: Double): V =
    Raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
  implicit def int(i: Int): V = Raw(i.toString)
  implicit def long(l: Long): V = Raw(l.toString)
  implicit def bool(b: Boolean): V = Raw(b.toString)
  implicit def str(s: String): V = Raw(quote(s))
  def obj(kv: (String, V)*): V =
    Raw(kv.map { case (k, v) => s"${quote(k)}:${v.render}" }.mkString("{", ",", "}"))
  def arr(vs: Seq[V]): V = Raw(vs.map(_.render).mkString("[", ",", "]"))
  def counters(m: Map[String, Double]): V =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
