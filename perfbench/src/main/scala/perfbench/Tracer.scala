package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** Nested spans kept in memory for the traced run. A span's name starts with
  * its layer (`extract.tall`, `gate.construct`); each span carries the
  * listener counters its interval covered. Disabled, `span` only runs its
  * body, so the untraced run pays nothing. */
final class Tracer(sc: SparkContext, probe: Probe, val enabled: Boolean) {

  final case class Rec(span: Stats.Span, tag: String, counters: Counters) {
    def layer: String = span.name.takeWhile(_ != '.')
  }

  private val recs = ArrayBuffer.empty[Rec]
  private var open: List[Int] = Nil

  /** Runs `body` in a span; `tag` names what the span worked on (a campus
    * or a gate) in the trace file. */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val idx = recs.length
      val parent = open.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      val c0 = probe.snapshot(sc)
      recs += Rec(Stats.Span(name, parent, t0, t0), tag, c0)
      open = idx :: open
      try body
      finally {
        open = open.tail
        val c1 = probe.snapshot(sc)
        recs(idx) = Rec(Stats.Span(name, parent, t0, System.nanoTime()), tag, c1 - c0)
      }
    }

  def records: IndexedSeq[Rec] = recs.toIndexedSeq

  def clear(): Unit = { recs.clear(); open = Nil }

  /** Self seconds of every recorded span, in record order. */
  def selfSeconds: IndexedSeq[Double] = Stats.selfSeconds(recs.map(_.span).toIndexedSeq)

  /** The spans as JSON lines, for the trace file written at the end. */
  def jsonLines: Seq[String] = {
    val self = selfSeconds
    recs.indices.map { i =>
      val r = recs(i)
      val cs = Probe.Names.zip(r.counters.values).map { case (k, v) => s""""$k":$v""" }
      s"""{"i":$i,"name":"${r.span.name}","tag":"${r.tag}","parent":${r.span.parent},""" +
        s""""start_ns":${r.span.startNs},"end_ns":${r.span.endNs},""" +
        s""""self_s":${self(i)},${cs.mkString(",")}}"""
    }
  }
}
