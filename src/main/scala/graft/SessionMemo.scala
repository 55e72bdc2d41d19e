package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of every memo keyed on `(SparkSession, key)`: state one
  * session reuses across its successive queries. Each memo declares where
  * it is created a [[SessionMemo.Scope]] (what a residue clear between
  * timed runs does with it) and a release action for an evicted value.
  * Spark has no per-session stop event, so [[SessionMemo.clear]]`(session)`
  * is the one teardown and invalidation hook: a long-lived JVM that makes
  * a session per job calls it when the job ends.
  *
  * Eviction is atomic per key — remove the key, then release the removed
  * value — so a concurrent `getOrElseUpdate` can never have its freshly
  * persisted frame dropped from the map unreleased (a values-sweep-then-
  * clear() leaves exactly that orphan: persisted blocks with no handle).
  * A value inserted after its key was removed survives to the next clear. */
object SessionMemo {

  sealed trait Scope

  /** Dropped by every residue clear (`Harness.clearResidue`), so each
    * timed run pays its own build: executor-persisted frames, the bloom
    * and persist ledgers, and the BPE merges. The merges are driver-side,
    * invisible to the persistent-RDD sweep, but with them kept q_bpe_train
    * timed a LocalRelation no-op (~0.03 s) instead of the 5-round training
    * loop — a 10× regression there would never have moved the number. */
  case object Swept extends Scope

  /** Kept by a residue clear: driver-side metadata, nothing in executor
    * storage, so every timed run still scans from disk. The `Tables`
    * reader frames (a lazy, unexecuted plan: resolved schema + file
    * listing, what a catalog table gets for free) and the engine's table
    * descriptions (prompt text per frame object, shared by every
    * `GraftSession` on the session). A dir whose files are rewritten
    * mid-session needs [[clear]]`(session)`. */
  case object Metadata extends Scope

  /** Kept by a residue clear: the KMeans centroids. q_ann_ivf_kmeans's
    * fit is deterministic and its centroids are driver-side KBs — no
    * executor residue another query could ride on — so min-of-2 measures
    * fit-once reuse, which is what a long-lived session pays. Bench
    * meters the fit as `ann_codebook_fit` by clearing this scope alone. */
  case object FittedModel extends Scope

  val unpersist: (SparkSession, DataFrame) => Unit =
    (_, df) => df.unpersist(blocking = false)

  /** For driver-side values: dropping the entry is the whole release. */
  def noRelease[V]: (SparkSession, V) => Unit = (_, _) => ()

  /** A value map keyed weakly on frame identity (`Dataset` overrides
    * neither `equals` nor `hashCode`): an entry lives while its caller
    * holds the frame, so a memo of these never pins a dropped frame. */
  def weakFrames[V](): java.util.Map[DataFrame, V] =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, V]())

  final class Memo[K, V] private[SessionMemo] (val owner: String,
      val scope: Scope, release: (SparkSession, V) => Unit) {
    private val map = TrieMap.empty[(SparkSession, K), V]

    def getOrElseUpdate(s: SparkSession, k: K, v: => V): V =
      map.getOrElseUpdate((s, k), v)
    def get(s: SparkSession, k: K): Option[V] = map.get((s, k))
    def put(s: SparkSession, k: K, v: V): Unit = map.update((s, k), v)

    /** Release every entry `session` holds in this memo alone. */
    def clear(session: SparkSession): Unit = evict(_ eq session)

    private[SessionMemo] def sessions = map.keysIterator.map(_._1)
    private[SessionMemo] def evict(session: SparkSession => Boolean): Unit =
      map.keys.filter(k => session(k._1)).foreach(k =>
        map.remove(k).foreach(release(k._1, _)))
  }

  @volatile private var memos = Vector.empty[Memo[_, _]]

  /** Declare a memo of module `owner`; every clear sees it from here on. */
  def apply[K, V](owner: String, scope: Scope,
      release: (SparkSession, V) => Unit): Memo[K, V] = synchronized {
    val m = new Memo[K, V](owner, scope, release)
    memos :+= m
    m
  }

  private def evict(memo: Memo[_, _] => Boolean,
      session: SparkSession => Boolean): Unit =
    memos.filter(memo).foreach(_.evict(session))

  /** Release every entry `session` holds, in every scope. */
  def clear(session: SparkSession): Unit = evict(_ => true, _ eq session)

  /** Release `session`'s entries in `scope` only. */
  def clear(session: SparkSession, scope: Scope): Unit =
    evict(_.scope == scope, _ eq session)

  /** Module `owner`'s swept entries, for `session` or for every session. */
  private[graft] def sweep(owner: String,
      session: Option[SparkSession]): Unit =
    evict(m => m.owner == owner && m.scope == Swept,
      s => session.forall(_ eq s))

  /** (owner, scope) of each entry `session` holds. */
  private[graft] def entries(session: SparkSession): Seq[(String, Scope)] =
    memos.flatMap(m =>
      m.sessions.filter(_ eq session).map(_ => m.owner -> m.scope))
}
