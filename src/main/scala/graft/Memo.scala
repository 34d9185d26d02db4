package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped memo: the one lifecycle every in-process cache of the
  * engine shares (resolved scan plans, persisted intermediate frames,
  * fitted indexes, plan-shaping statistics).
  *
  * Entries are keyed on `(session, scope, key)`. The session is part of
  * the key so a value bound to one SparkSession is never served to
  * another. The scope is the corpus dir or table path the value was
  * derived from; the key tells apart variants within a scope (an IVF
  * cell count, a byte-level flag, a freshness token).
  *
  * Lifecycle, in one place:
  *   - entries of stopped sessions are dropped on every access, so a
  *     long-lived app creating many sessions never pins dead sessions
  *     and their frames;
  *   - [[latest]] keeps one entry per `(session, scope)`: a new token
  *     supersedes, and releases, the old one;
  *   - [[invalidate]] drops every session's entries for a scope — the
  *     corpus-change hook;
  *   - a build that throws leaves no entry.
  *
  * `release` frees what a dropped value holds (unpersist a cached frame,
  * unpersist a checkpoint's RDD). It runs once per dropped entry and may
  * fail harmlessly: a stopped session's blocks are already gone.
  */
final class Memo[K, V](release: V => Unit = (_: V) => ()) {

  private val entries = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, K), V]

  private def drop(k: (SparkSession, String, K)): Unit =
    entries.remove(k).foreach(v => scala.util.Try(release(v)))

  private def sweep(): Unit =
    entries.keys.filter(k => Memo.stopped(k._1)).foreach(drop)

  def apply(s: SparkSession, scope: String, key: K)(build: => V): V = {
    sweep()
    entries.getOrElseUpdate((s, scope, key), build)
  }

  /** A memo with no sub-key: one value per (session, scope). */
  def apply(s: SparkSession, scope: String)(build: => V)
           (implicit unit: Unit =:= K): V =
    apply(s, scope, unit(()))(build)

  /** As [[apply]], keyed on a freshness `token`: entries of the same
    * (session, scope) under any other token are released first, so a
    * scope that keeps changing holds one entry, not one per version.
    */
  def latest(s: SparkSession, scope: String, token: K)(build: => V): V = {
    sweep()
    entries.keys.filter(k => k._1 == s && k._2 == scope && k._3 != token)
      .foreach(drop)
    entries.getOrElseUpdate((s, scope, token), build)
  }

  /** Release every session's entries for `scope`. */
  def invalidate(scope: String): Unit = invalidateWhere((sc, _) => sc == scope)

  /** Release every session's entries whose (scope, key) match `p`. */
  def invalidateWhere(p: (String, K) => Boolean): Unit =
    entries.keys.filter(k => p(k._2, k._3)).foreach(drop)

  /** Entries held for `scope` across sessions (test observability). */
  private[graft] def size(scope: String): Int =
    entries.keys.count(_._2 == scope)
}

object Memo {

  /** A stopped session's entries can never be served again. */
  private def stopped(s: SparkSession): Boolean =
    s.sparkContext.isStopped
}
