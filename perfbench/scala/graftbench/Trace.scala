package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

/** One timed interval of the traced run. `parent` is 0 for a root span;
  * `req` ties a span to a request or query id when there is one.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, req: String = "")

/** In-memory span recorder. Disabled (the untraced runs) it costs one
  * volatile read per call. Enabled, every span also becomes the Spark job
  * group of the calling thread, so the [[Counters]] listener can hang the
  * jobs an action submits under the span that submitted them.
  */
object Trace {
  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  /** Parent for Spark jobs submitted without a benchmark job group. */
  @volatile var defaultParent: Long = 0L

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  val GroupPrefix = "graftbench-span-"

  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](layer: String, name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack.set(id :: stack.get())
      setGroup(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        if (parent == 0L) clearGroup() else setGroup(parent)
        spans.add(Span(id, parent, layer, name, t0, t1, req))
      }
    }

  /** Run `body` with no Spark job group, so threads it starts (the HTTP
    * server's) do not inherit the group of the enclosing span.
    */
  def detached[T](body: => T): T =
    if (!enabled) body
    else {
      clearGroup()
      try body
      finally if (current != 0L) setGroup(current)
    }

  /** Record an interval measured elsewhere (Spark jobs from the listener). */
  def record(parent: Long, layer: String, name: String,
             startNs: Long, endNs: Long, req: String = ""): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, layer, name, startNs, endNs, req))

  def drain(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; s = spans.poll() }
    out.result().sortBy(_.startNs)
  }

  private def setGroup(id: Long): Unit =
    if (sc != null) sc.setJobGroup(GroupPrefix + id, "", interruptOnCancel = false)

  private def clearGroup(): Unit = if (sc != null) sc.clearJobGroup()

  def toJsonLine(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""req":${Json.str(s.req)}}"""
}
