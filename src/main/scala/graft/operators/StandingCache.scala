package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Standing per-(dir, tag) cache for corpus-snapshot frames (r14 —
  * VERDICT r13 "Next round" #6, generalizing the Retrieval.withDlFrame
  * pattern that took q66 2.100 → 0.528 s in r13).
  *
  * The convention it replaces: operators eagerly `localCheckpoint`ed
  * every frame that feeds multiple plan branches, per invocation. For
  * frames that are PURE FUNCTIONS of an immutable input dir (tokenized
  * corpora, shingle postings, minhash signatures, digest tables) that
  * is strictly worse than a standing pin: the blocks are anonymous
  * (nothing can reuse them), never freed (a library caller looping one
  * operator leaks one corpus-sized block per call), and rebuilt per
  * invocation. A persisted per-dir frame is (a) built once per JVM,
  * (b) reclaimable by external cache hygiene (the bench sweep, an ops
  * script), and (c) self-healing — an external unpersist re-pins on
  * next use (the VectorStore.layoutFor discipline). CacheManager dedups
  * by normalized plan, so re-persisting the same per-dir plan can never
  * stack duplicate pins.
  *
  * NOT for loop state: iterative frames (BPE vocab, label propagation,
  * PCA/PageRank rounds) keep eager `localCheckpoint` + explicit free —
  * persist pins inside a loop interact with CacheManager normalization
  * of the growing plan (measured doubling q124's wall time, r13) and
  * genuinely supersede each other. Transient pair-frames keep their
  * checkpoints too; they are output-sized, not corpus-sized.
  *
  * CONTRACT — the dir is immutable while cached (r15, per advice): the
  * cached plan pins the parquet file listing at construction, and the
  * self-healing re-pin re-materializes that SAME plan — so a caller
  * that regenerates a corpus dir in place and re-runs an operator in
  * the same JVM would silently read pre-regeneration results, and pins
  * accumulate per distinct dir for the JVM's lifetime. Long-lived
  * callers that mutate or cycle dirs must call [[invalidate]] (per
  * dir, after regeneration) or [[clear]] (between corpus epochs); both
  * also drop the pinned blocks. The bench sweep's external unpersist
  * is SAFE by contrast — it only drops blocks, and the re-pin rebuilds
  * the same immutable dir's plan (HygieneSpec pins this).
  */
object StandingCache {

  private val frames = new ConcurrentHashMap[(String, String), DataFrame]()
  private val artifacts = new ConcurrentHashMap[(String, String), AnyRef]()

  /** External driver-side caches that must drop with [[clear]] (r21, per
    * advice): the ANN/PQ/OPQ/IMI/HNSW operators memoize layout paths,
    * centroid tables, codebooks and rotations keyed by aux PATH — pure
    * functions of immutable build-once dirs, but invisible to this
    * object's maps. A caller crossing a corpus epoch calls [[clear]];
    * without these hooks such a caller would keep serving stale
    * centroids/codebooks from every probe site. Hooks are registered by
    * each operator object's initializer (lazy — an operator never used
    * has nothing cached). [[invalidate]] (per-dir) fires them too: the
    * caches are keyed by aux PATH, and mapping a dir to its aux paths
    * needs a session, so a per-dir eviction drops every operator's memo
    * — coarse but correct, since each memo is a pure function of an
    * immutable dir and rebuilds on next use. */
  private val evictHooks =
    new java.util.concurrent.CopyOnWriteArrayList[() => Unit]()

  def registerEvictHook(h: () => Unit): Unit = evictHooks.add(h)

  /** Standing DRIVER-SIDE artifact for (dir, tag) — for small values
    * that are pure functions of an immutable dir but live outside the
    * cache manager (a trained model's weight vector, a fitted
    * threshold). Same contract and eviction surface as [[frame]]:
    * built once per JVM, dropped by [[invalidate]]/[[clear]]. There is
    * no self-healing re-pin (nothing external can unpersist a plain
    * value).
    *
    * Builds run OUTSIDE the map's bin lock (r21, per advice): a build
    * that itself pins a nested (dir, tag) — e.g. a derived frame whose
    * closure calls [[frame]] for its base — would otherwise nest
    * `computeIfAbsent` calls on the same ConcurrentHashMap, which Java
    * forbids when the keys share a hash bin (IllegalStateException
    * "Recursive update", nondeterministic in the dir string's hash).
    * get → build → putIfAbsent makes nesting safe; a concurrent loser's
    * duplicate build is discarded (builds are pure functions of the
    * immutable dir, so both values are equal). */
  def artifact[T <: AnyRef](dir: String, tag: String)(build: => T): T = {
    val key = (dir, tag)
    val hit = artifacts.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val v = build
    val prev = artifacts.putIfAbsent(key, v)
    (if (prev != null) prev else v).asInstanceOf[T]
  }

  /** The standing frame for (dir, tag), built (and eagerly
    * materialized) on first use per JVM; re-pinned if something
    * external unpersisted it. The dir must be immutable while cached —
    * see the object scaladoc; evict with [[invalidate]]/[[clear]].
    *
    * The build (a full Spark materialization) runs OUTSIDE the map's
    * bin lock — see [[artifact]]'s nesting note; nested pins (a derived
    * frame building from its base's pin) are safe. On a concurrent-build
    * race the loser's frame is NOT unpersisted: CacheManager dedups by
    * normalized plan, so winner and loser share one cache entry and an
    * unpersist here would drop the winner's blocks too. */
  def frame(dir: String, tag: String)(build: => DataFrame): DataFrame = {
    val key = (dir, tag)
    val hit = frames.get(key)
    if (hit != null) return ensurePinned(hit)
    val f = build.persist()
    f.count()
    val prev = frames.putIfAbsent(key, f)
    if (prev != null) ensurePinned(prev) else f
  }

  /** Heal a standing pin against BOTH external-unpersist forms (r19 —
    * the dead-pin find): `Dataset.unpersist()` removes the CacheManager
    * entry, so `storageLevel == NONE` and a plain re-persist heals; but
    * an RDD-level `unpersist()` (what `getPersistentRDDs`-walking cache
    * hygiene — the bench's own sweep included — actually does) leaves
    * the entry while zeroing the buffer RDD's storage, a DEAD pin that
    * re-evaluates the whole child plan per use and never re-stores.
    * The pre-r19 heal was blind to that state: every StandingCache-
    * backed query has been measured on dead-pin recompute since the
    * first sweep dropped its blocks (q113 0.51 s pinned vs 1.57 s dead,
    * q158 0.90 vs 2.02 — the r19 bench exposed it by skipping the
    * sweep, making pass 1 the only pinned pass). Shared by every
    * self-healing pin site in the library. */
  def ensurePinned(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(); df.count()
    } else if (org.apache.spark.sql.graft.CatalystBridge.cacheDead(df)) {
      df.unpersist(blocking = false) // drop the dead entry, then re-pin
      df.persist(); df.count()
    }
    df
  }

  /** Evict every standing frame for `dir` (all tags), unpersisting the
    * pinned blocks, and fire the registered eviction hooks — for callers
    * that regenerate a corpus dir in place. The next `frame(dir, …)`
    * rebuilds from the dir's CURRENT files. */
  def invalidate(dir: String): Unit = {
    val it = frames.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == dir) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
    artifacts.keySet().removeIf(_._1 == dir)
    evictHooks.forEach(h => h())
  }

  /** Evict ALL standing frames (every dir) — for corpus-epoch
    * boundaries in long-lived JVMs. */
  def clear(): Unit = {
    frames.values().forEach(_.unpersist(false))
    frames.clear()
    artifacts.clear()
    evictHooks.forEach(h => h())
  }

  /** Pinned (dir, tag) keys, for ops-script introspection alongside
    * the bench sweep. */
  def pinned: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    frames.keySet().asScala.toSeq.sorted
  }
}
