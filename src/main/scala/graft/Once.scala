package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one memo behind graft's per-JVM caches: fixtures, relations and
  * shared artifacts built once and read by every later call.
  *
  *  - At most one build per key. The first caller of a key builds under
  *    that key's own lock; concurrent callers of the same key wait for it,
  *    callers of other keys never do. The build holds no map lock, so it
  *    may call the same memo for another key.
  *  - A failed build is not cached: its exception reaches the caller, and
  *    the next call builds again.
  *  - `memo(k)` entries live as long as the JVM. `memo(s, k)` entries
  *    belong to `s`'s SparkContext: when that context ends they are
  *    dropped and `release` runs on each (deleting the dirs they own), so
  *    the next call in another context builds afresh. The first such build
  *    in a context attaches one listener to it, which calls
  *    [[Once.contextEnded]] on `onApplicationEnd`.
  */
final class Once[K, V](release: V => Unit = (_: V) => ()) {
  import Once.Cell

  private val cells = new ConcurrentHashMap[(String, K), Cell[V]]()

  /** The value of `k` for the life of the JVM. */
  def apply(k: K)(build: => V): V = get(null, k, build)

  /** The value of `k` for the life of `s`'s SparkContext. */
  def apply(s: SparkSession, k: K)(build: => V): V = get(s.sparkContext, k, build)

  /** `sc` is null for a JVM entry, whose scope "" is no application's id. */
  private def get(sc: SparkContext, k: K, build: => V): V = {
    val scope = if (sc == null) "" else sc.applicationId
    val cell = cells.computeIfAbsent((scope, k), _ => new Cell[V])
    cell.value.getOrElse(cell.synchronized {
      cell.value.getOrElse {
        val v = build
        if (sc != null) Once.watch(sc, this)
        cell.value = Some(v)
        v
      }
    })
  }

  /** Drops the entries of application `appId` and releases each. An
    * entry still being built is released once its build returns. */
  private def end(appId: String): Unit =
    cells.keySet.forEach { key =>
      if (key._1 == appId) {
        val cell = cells.remove(key)
        if (cell != null) cell.synchronized {
          // one failed release must not keep the others from running
          try cell.value.foreach(release)
          catch { case NonFatal(e) => System.err.println(s"[once] release failed: $e") }
          cell.value = None
        }
      }
    }
}

object Once {
  private final class Cell[V] { @volatile var value: Option[V] = None }

  /** Memos holding context entries, and the contexts already listened to. */
  private val scoped = ConcurrentHashMap.newKeySet[Once[_, _]]()
  private val watched = ConcurrentHashMap.newKeySet[String]()

  private def watch(sc: SparkContext, memo: Once[_, _]): Unit = {
    scoped.add(memo)
    val app = sc.applicationId
    if (watched.add(app)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        watched.remove(app)
        contextEnded(app)
      }
    })
  }

  /** Drops every context entry of application `appId`, in every memo, and
    * releases each: what the end of that SparkContext runs. */
  private[graft] def contextEnded(appId: String): Unit = scoped.forEach(_.end(appId))
}
