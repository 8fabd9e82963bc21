package graft.runtime

import org.apache.spark.sql.SparkSession

/** Memo keyed by (live session, key), the one way session-scoped state
  * (pack broadcasts, persisted derivations) is built once and reused;
  * `K = Unit` for values scoped to the session alone. Evicts entries of
  * STOPPED sessions on every access: session-scoped values must not
  * outlive their session, or a long-lived multi-session process (the
  * bench harness alone builds ~9 sessions per run) would retain every
  * stopped session's broadcast value and cached DataFrames forever.
  *
  * One instance per derivation: derivations nest (a build reads another
  * derivation), and a nested `computeIfAbsent` on the SAME map throws
  * "Recursive update" or deadlocks, while one on another map is safe.
  */
final class SessionCache[K, V] {
  private val m = new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()

  def apply(s: SparkSession, k: K)(build: => V): V = {
    val it = m.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    m.computeIfAbsent((s, k), _ => build)
  }
}
