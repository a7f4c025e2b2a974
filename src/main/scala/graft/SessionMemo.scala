package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A session artifact (annotated corpus, checkpointed edge set, temp-dir
  * table, …) built once per (SparkSession, key) and dropped when that
  * session's SparkContext stops.
  *
  * `apply` builds under this memo's own lock, so concurrent callers of one
  * (session, key) run `build` once; a build may call another memo, and the
  * locks then nest in call order. A build that throws stores nothing, so the
  * next call builds again.
  *
  * Eviction is explicit: the first entry of a session registers one
  * listener that drops the session's entries on `onApplicationEnd` (the
  * values are unusable past that point anyway). Weak keys could not do it:
  * the values (Datasets, checkpointed frames) strongly reference their
  * SparkSession, a value→key chain that, per WeakHashMap's javadoc, pins the
  * key forever. Sessions compare by identity (SparkSession does not override
  * `equals`), so a fresh session never sees another's state. */
final class SessionMemo[K, V](build: (SparkSession, K) => V) {

  private val entries = mutable.HashMap.empty[SparkSession, mutable.HashMap[K, V]]

  def apply(s: SparkSession, key: K): V = synchronized {
    val perSession = entries.getOrElseUpdate(s, {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          SessionMemo.this.synchronized { entries.remove(s) }
      })
      mutable.HashMap.empty[K, V]
    })
    perSession.getOrElseUpdate(key, build(s, key))
  }

  /** The keyless form: one value per session. */
  def apply(s: SparkSession)(implicit unit: Unit <:< K): V = apply(s, unit(()))
}
