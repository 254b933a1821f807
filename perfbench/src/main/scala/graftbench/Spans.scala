package graftbench

import scala.collection.mutable

/** In-memory span log of the traced run: name, start, end, parent and op
  * id, written out once the run ends. Times are epoch milliseconds so the
  * benchmark's own spans line up with Spark's job and Catalyst phase
  * timestamps. Untraced calls cost one branch. */
final class Spans {
  import Spans.Span

  private val epochMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byLayer = mutable.Map.empty[(String, String), Int]
  private def now: Double = epochMs + (System.nanoTime() - nanoBase) / 1e6

  /** An open span; `idx` is -1 when untraced, but the start time is kept
    * either way so [[close]] measures the same interval. */
  final class Handle(val idx: Int, val start: Double)

  def open(op: String, name: String, parent: Option[Handle], traced: Boolean): Handle = {
    val t = now
    if (!traced) new Handle(-1, t)
    else {
      val s = Span(all.length, op, name, parent.map(_.idx).filter(_ >= 0), t, t)
      all += s
      byLayer((op, name.split('.').last)) = s.id
      new Handle(s.id, t)
    }
  }

  /** Close a span and return its duration in seconds. */
  def close(h: Handle): Double = {
    val t = now
    if (h.idx >= 0) all(h.idx).endMs = t
    (t - h.start) / 1e3
  }

  /** Spark jobs of an op, each under the span of the layer whose job
    * group launched it (`bench:<op>:<layer>`). */
  def jobs(op: String, js: Seq[(String, Int, Long, Long)]): Unit = js.foreach { case (g, job, s, e) =>
    val layer = g.split(":").lift(2).getOrElse("")
    val parent = byLayer.get((op, layer)).orElse(byLayer.get((op, "op")))
    all += Span(all.length, op, s"spark.job.$job", parent, s.toDouble, e.toDouble)
  }

  /** Catalyst phases of the op's timed action, under its action span. */
  def phases(op: String, ps: Map[String, (Long, Long)]): Unit = ps.toSeq.sortBy(_._2._1).foreach {
    case (p, (s, e)) =>
      all += Span(all.length, op, s"catalyst.$p", byLayer.get((op, "action")), s.toDouble, e.toDouble)
  }

  def jsonLines: String = all.map { s =>
    val j = new Json
    j.obj { o =>
      o.num("id", s.id); o.str("op", s.op); o.str("name", s.name)
      s.parent.foreach(p => o.num("parent", p))
      o.num("start_ms", s.startMs); o.num("end_ms", s.endMs)
    }
    j.result
  }.mkString("", "\n", "\n")
}

object Spans {
  final case class Span(id: Int, op: String, name: String, parent: Option[Int],
                        startMs: Double, var endMs: Double)
}

/** Minimal JSON writer (the result file is flat and ours). */
final class Json {
  private val sb = new StringBuilder
  final class Obj { private var first = true
    def field(k: String)(v: => Unit): Unit = {
      if (!first) sb.append(','); first = false
      sb.append(Json.quote(k)).append(':'); v
    }
    def str(k: String, v: String): Unit = field(k)(sb.append(Json.quote(v)))
    def num(k: String, v: Double): Unit = field(k)(sb.append(Json.number(v)))
    def bool(k: String, v: Boolean): Unit = field(k)(sb.append(v))
    def arr[T](k: String, xs: Seq[T])(each: (Json, T) => Unit): Unit = field(k) {
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); each(Json.this, x) }
      sb.append(']')
    }
  }
  def obj(body: Obj => Unit): Unit = { sb.append('{'); body(new Obj); sb.append('}') }
  def result: String = sb.toString
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def number(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
