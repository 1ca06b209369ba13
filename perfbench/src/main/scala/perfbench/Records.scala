package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer plus an append-only record buffer.
  *
  * The harness only records raw facts (timestamps, counters, names); every
  * derived number is computed by `stats.py`, where it is unit-tested.
  */
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

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Thread-safe buffer of JSON lines, written out once at the end of a run
  * so that recording never touches the disk inside a timed region.
  */
final class Records {
  private val lines = ArrayBuffer.empty[String]
  def add(kv: (String, Any)*): Unit = { val l = Json.obj(kv: _*); synchronized { lines += l } }
  def write(path: Path): Unit = synchronized {
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
  }
}

/** One wall clock for every record: epoch milliseconds with sub-ms digits,
  * anchored once so that harness spans (nanoTime) and Spark listener
  * events (currentTimeMillis) share an axis.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

object Proc {
  /** VmHWM (peak resident set) of this process in MB; -1 where unreadable. */
  def peakRssMb(): Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
      s.linesIterator.collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  def jitMs(): Long =
    try java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    catch { case _: Throwable => -1L }

  /** Sum of the heap pools' peak usage in MB. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)
  }

  def jvmStartMs(): Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
