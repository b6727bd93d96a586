package pipebench

import graft.pipeline.{Json, PInt, PObj, PStr, PValue}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed interval at a layer boundary. Times are `System.nanoTime`
  * readings; `op` names the operation the span belongs to, either an op
  * id or a key the report resolves to one (`pid:<id>`, `run:<n>`). */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startNs: Long, endNs: Long, attrs: Map[String, PValue])

/** In-memory span recorder. Spans are kept until the run ends and are
  * then written out as JSON lines; when tracing is off nothing is kept. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  // Spark and the run ledger stamp events with wall-clock milliseconds;
  // this pair maps them onto the nanoTime axis the harness records on.
  private val wallNs0 = System.currentTimeMillis() * 1000000L
  private val monoNs0 = System.nanoTime()
  def fromWallMs(ms: Long): Long = monoNs0 + (ms * 1000000L - wallNs0)

  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, op: String, startNs: Long, endNs: Long,
      parent: Long = 0L, attrs: Map[String, PValue] = Map.empty,
      id: Long = 0L): Unit =
    if (enabled)
      spans.add(Span(if (id == 0L) nextId() else id, parent, name, op,
        startNs, endNs, attrs))

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.forEach { s =>
      out.println(Json.render(PObj(Map(
        "id" -> PInt(s.id), "parent" -> PInt(s.parent),
        "name" -> PStr(s.name), "op" -> PStr(s.op),
        "start" -> PInt(s.startNs - monoNs0), "end" -> PInt(s.endNs - monoNs0),
        "attrs" -> PObj(s.attrs)))))
    } finally out.close()
  }

  /** Relative nanoTime of an absolute reading, as written in the trace. */
  def rel(ns: Long): Long = ns - monoNs0
}
