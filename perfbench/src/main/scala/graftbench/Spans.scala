package graftbench

import java.io.PrintWriter

import scala.collection.mutable

import graftbench.Harness.Pass

/** Spans of a run — run → pass → query → construct | execute → Spark job —
  * kept in memory and written as JSON lines when the run ends. A span's
  * self time is its duration minus the part of it its children cover, so a
  * phase's self time is driver time that no Spark job overlapped. */
object Spans {
  final case class Span(id: Int, parent: Int, kind: String, name: String, request: String,
                        start: Double, end: Double, attrs: Seq[(String, Any)])

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }.filter { case (a, b) => b > a }
    var total = 0.0
    var curStart, curEnd = Double.NaN
    clipped.sortBy(_._1).foreach { case (a, b) =>
      if (curEnd.isNaN || a > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = curEnd max b
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  def write(path: String, runStart: Double, runEnd: Double, setup: (Double, Double),
            passes: Seq[Pass], jobs: Seq[JobSpan]): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, kind: String, name: String, request: String, start: Double, end: Double,
            attrs: Seq[(String, Any)] = Nil): Int = {
      spans += Span(spans.size, parent, kind, name, request, start, end, attrs)
      spans.size - 1
    }
    val run = add(-1, "run", "run", "", runStart, runEnd)
    add(run, "setup", "setup", "", setup._1, setup._2)
    val phases = mutable.Map.empty[String, Int]
    passes.foreach { p =>
      val pass = add(run, "pass", p.name, "", p.start, p.end,
        Seq("traced" -> p.traced, "check_s" -> p.checkMs / 1000))
      p.queries.foreach { q =>
        val req = s"${p.name}/${q.query}"
        val query = add(pass, "query", q.query, req, q.start, q.end,
          Seq("module" -> q.module, "ok" -> q.error.isEmpty))
        phases(s"$req/construct") = add(query, "phase", "construct", req, q.start, q.executeStart)
        phases(s"$req/execute") = add(query, "phase", "execute", req, q.executeStart, q.end)
      }
    }
    jobs.sortBy(_.id).foreach { j =>
      phases.get(j.group).foreach { parent =>
        add(parent, "job", s"job${j.id}", spans(parent).request, j.startMs.toDouble, j.endMs.toDouble)
      }
    }

    val children = spans.groupBy(_.parent)
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val fields = Seq(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "request" -> s.request, "start_ms" -> s.start, "end_ms" -> s.end,
        "dur_s" -> (s.end - s.start) / 1000,
        "self_s" -> (s.end - s.start - covered(kids, s.start, s.end)) / 1000) ++ s.attrs
      w.println(Json.mapper.writeValueAsString(scala.collection.immutable.ListMap(fields: _*)))
    } finally w.close()
  }
}
