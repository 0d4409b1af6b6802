package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** A build-once registry scoped to a SparkSession: one `TrieMap[String, V]`
  * per session, created under a lock on first use and filled through
  * `getOrElseUpdate`.
  *
  * Sessions are held in a WeakHashMap keyed by the session OBJECT (not its
  * identity hash): when a SparkSession is garbage-collected, its entries
  * drop out of the registry instead of pinning executor storage for the
  * JVM's lifetime — and a recycled identity hash can never serve one
  * session a value bound to another.
  */
final class SessionCache[V] {
  private val perSession = new java.util.WeakHashMap[SparkSession, TrieMap[String, V]]()

  /** this session's map, created on first use */
  def apply(s: SparkSession): TrieMap[String, V] = perSession.synchronized {
    var m = perSession.get(s)
    if (m == null) {
      m = TrieMap.empty[String, V]
      perSession.put(s, m)
    }
    m
  }
}
