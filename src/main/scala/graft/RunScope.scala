package graft

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.util.control.NonFatal

/** The one place the battery harness shares work between rows. An entry
  * is a harness INPUT several rows read — a check row's brute-force
  * reference, a streaming row's staged slices, d97's bucketed tables —
  * keyed by (application, absolute sf dir, name), so a new SparkSession
  * never receives an entry bound to a stopped one and two sf dirs never
  * mix. A battery row's own work is never an entry: every row pays its
  * full pipeline on every execution, under Bench and Verify alike.
  *
  * [[clear]] runs every entry's `release` and empties the scope; the
  * next access rebuilds. CONTRACT: call it only when no outstanding plan
  * still reads an entry (between sf dirs, at run end, spec teardown) —
  * staged dirs and local checkpoints are unrecoverable once released, so
  * a late consumer fails loudly rather than recomputing. One JVM shutdown
  * hook drains whatever is left.
  */
object RunScope {
  private final case class Entry(value: Any, release: () => Unit)

  private val entries = new ConcurrentHashMap[String, Entry]

  Runtime.getRuntime.addShutdownHook(new Thread(() => clear()))

  private def key(s: SparkSession, dir: String, name: String): String =
    s.sparkContext.applicationId + "|" +
      new java.io.File(dir).getAbsolutePath + "|" + name

  /** The entry for (session's application, `dir`, `name`), built on first
    * access. A `build` that throws leaves no entry (it cleans up its own
    * partial output), and it must not call back into the scope:
    * `ConcurrentHashMap.computeIfAbsent` rejects recursive updates.
    */
  def getOrBuild[T](s: SparkSession, dir: String, name: String)
      (build: => T)(release: T => Unit): T =
    entries.computeIfAbsent(key(s, dir, name), _ => {
      val v = build
      Entry(v, () => release(v))
    }).value.asInstanceOf[T]

  /** The built value, if any, without building — for specs. */
  private[graft] def peek(s: SparkSession, dir: String, name: String)
      : Option[Any] =
    Option(entries.get(key(s, dir, name))).map(_.value)

  /** Release every entry and empty the scope. Each entry is removed before
    * its release runs, so a concurrent access rebuilds instead of reading
    * a released value. A release failing because its session has stopped
    * is ignored: the blocks went with the session.
    */
  def clear(): Unit =
    entries.keySet.forEach { k =>
      val e = entries.remove(k)
      if (e != null)
        try e.release() catch { case NonFatal(_) => () }
    }
}
