package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** JVM-side meters for the timed region. */
object Jvm {
  /** Old-generation occupancy (MB) after a full collection: the heap the
    * workload still holds at the end of its timed region. (The largest
    * occupancy after any collection moved by a third from run to run with
    * the timing of G1's concurrent cycles.) The second collection runs after
    * Spark's ContextCleaner has dropped the blocks the first one released.
    */
  def liveOldMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
  def processCpuSeconds(): Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
}

/** Minimal JSON emission for the harness's own result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
