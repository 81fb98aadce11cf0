package graft

import org.apache.spark.sql.SparkSession

/** Stable, collision-free cache-key token for a [[SparkSession]].
  *
  * The memo store ([[graft.operators.Memo.store]]) must never serve a
  * frame or fixture built on one session to a different session — the
  * frame throws IllegalStateException once its owning session is
  * stopped, and a tmp-layout path may be stale.
  * `System.identityHashCode` is NOT a safe key: after a session is
  * stopped and GC'd, a NEW session can be allocated at an address that
  * hashes identically and would silently inherit the dead session's
  * entries. A UUID issued once per live session instance cannot collide,
  * and the WeakHashMap lets stopped sessions be collected (their memo
  * entries then age out of the bounded LRU; the id map itself holds
  * nothing strongly).
  */
object SessionKey {
  private val ids = new java.util.WeakHashMap[SparkSession, String]()

  def apply(s: SparkSession): String = ids.synchronized {
    val got = ids.get(s)
    if (got != null) got
    else {
      val id = java.util.UUID.randomUUID().toString
      ids.put(s, id)
      id
    }
  }
}
