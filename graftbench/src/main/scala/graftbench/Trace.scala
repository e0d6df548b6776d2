package graftbench

import scala.collection.mutable

/** One timed client operation at a layer boundary. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += Span(name, layer, t0, System.nanoTime(), Map.empty)
    }

  /** Attach attributes to the most recent span named `name`. */
  def annotate(name: String, attrs: Map[String, Double]): Unit =
    spans.lastIndexWhere(_.name == name) match {
      case -1 =>
      case i => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    Stats.json(mutable.LinkedHashMap[String, Any](
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "attrs" -> s.attrs))
  }
}

/** The benchmark's single closed-loop client: one operation in flight,
  * each timed, failures and wrong outputs counted against attempts.
  * With a ledger (traced runs), each operation's span carries the Spark
  * work the ledger saw during it. After each operation, outside its
  * timing, [[Memory]] collects the heap and records what stays live. */
final class Client(val tracer: Tracer, ledger: Option[Ledger] = None) {
  case class Op(kind: String, ms: Double, var failed: Boolean)
  val ops = mutable.ArrayBuffer.empty[Op]

  /** Run one client operation. An exception counts it as failed and
    * yields None. */
  def op[T](kind: String, layer: String)(body: => T): Option[T] = {
    val stop = ledger.map(_.measure())
    val t0 = System.nanoTime()
    val r = try Some(tracer.span(kind, layer)(body)) catch {
      case e: Exception =>
        System.err.println(s"[graftbench] $kind failed: $e")
        None
    }
    ops += Op(kind, (System.nanoTime() - t0) / 1e6, r.isEmpty)
    stop.foreach(f => tracer.annotate(kind, f()))
    Memory.sample()
    r
  }

  /** Mark the latest operation wrong when `ok` is false. */
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok && ops.nonEmpty) {
      System.err.println(s"[graftbench] wrong output after ${ops.last.kind}: $what")
      ops.last.failed = true
    }

  def attempted: Int = ops.size
  def failed: Int = ops.count(_.failed)
  def latencies(kinds: String*): Seq[Double] =
    ops.filter(o => kinds.isEmpty || kinds.contains(o.kind)).map(_.ms).toSeq
}
