package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Det, VectorFunctions}
import graft.sources.Tables

/** HNSW — the navigable-small-world graph index, distributed as SHARDED
  * per-partition graphs (the reference's actual index structure:
  * `implementations/index.py:17-165` wraps hnswlib's single-process
  * graph; SURVEY §2.3/§7 met its *semantics* with LSH/IVF/PQ families —
  * this closes the structural gap itself, VERDICT r11 "What's missing"
  * #3).
  *
  * Why sharded graphs, not one graph: HNSW insertion is inherently
  * sequential over one adjacency structure — a single 100 TB graph
  * neither builds nor fits anywhere. The industry-standard distribution
  * (Vespa/Milvus/Lucene segments) is BOUNDED SHARDS: hash-partition the
  * corpus into shards of ≤ [[shardRows]] rows, build one small-world
  * graph per shard INSIDE `flatMapGroups` (embarrassingly parallel, one
  * corpus shuffle total), and serve a query by beam-searching every
  * shard graph (each O(ef·M·log n_shard) distance evaluations — a few
  * thousand — against its in-memory shard) and merging the per-shard
  * top-ef candidate sets through the exact rerank. Query fan-out is
  * linear in shard count — the sharded-graph trade — but each probe is
  * logarithmic in its shard, so at 1e9 rows / 100k-row shards a query
  * costs 10⁴ probes × ~10³ distance evals ≈ 1e-2 of a linear scan,
  * with NO training step (HNSW's advantage over IVF/PQ: fully
  * incremental, no quantizer to retrain as the distribution drifts).
  *
  * Build determinism (the graded/oracle contract): insertion order is
  * sorted-by-id within a shard, node levels are md5-derived (the
  * [[Ann.md5Coef]] family — geometric with p = 1/M like hnswlib's
  * `-ln(U)·mL`), and every heap/greedy comparison tie-breaks on
  * (distance, insertion index), so two builds over the same rows emit
  * byte-identical adjacency and two probes emit identical candidates.
  * Graph distance is squared L2 over L2-NORMALIZED vectors — monotone
  * with cosine distance (‖â−b̂‖² = 2−2cosθ), so one layout serves the
  * store's cosine metric directly and l2/ip acceptably (candidates are
  * POLICY; the exact rerank over raw vectors is the contract — the
  * q33/q53 relationship).
  *
  * Layout (`graph/` partitioned by `shard`): one row per node carrying
  * its raw vector, level, and per-level neighbor-ID lists. The probe
  * reads each shard's directory as its own coalesced single-task scan —
  * partition-pruned, shuffle-free (a `groupByKey(shard)` at probe time
  * would re-shuffle the corpus per query batch) — and pins the BUILT
  * graph in a per-executor LRU ([[graphCache]]): a warm probe consults
  * the cache before touching its input iterator, so the lazy FileScan
  * skips the decode, and the request-invariant scan plans are cached
  * driver-side ([[scanCache]]). HnswBench (64k×64d, 8 shards): warm
  * probe 0.55 s — plan/job overhead, the beam itself is ms — vs
  * 1.7 s uncached; the 0.21 s exact scan still wins at 64k, and the
  * crossover is where the scan's linear cost passes the probe's fixed
  * overhead, exactly the q53/q61 serving-path story.
  */
object Hnsw {

  /** Max neighbors per node per upper level; level 0 keeps 2M (the
    * hnswlib defaults scaled to our corpus sizes — M=12/efC=128
    * measured recall@10 ≈ 0.96 on a 64k clustered corpus in HnswBench,
    * vs 0.73 for M=8/simple selection). */
  private[graft] val M = 12
  private[graft] val M0 = 2 * M
  private[graft] val EfConstruction = 128
  private[graft] val EfSearch = 96
  private val LevelMult = 1.0 / math.log(M.toDouble)
  private val MaxLevelCap = 12

  /** Rows per shard before the corpus splits into further graphs. The
    * default bounds one graph's build memory (~100k × (dim·4B raw +
    * 2M·8B edges) ≈ 40 MB at dim 64) and its build time; the conf
    * exists for specs (multi-shard on test corpora) and for clusters
    * that want larger serving shards. */
  val ShardRowsConf = "spark.graft.hnsw.shardRows"
  val DefaultShardRows = 100000L

  /** Conf key for the layout root — the [[Ann.IvfDirConf]] cluster
    * contract (shared filesystem on a cluster; private temp locally). */
  val HnswDirConf = "spark.graft.hnsw.dir"
  private val root = new LayoutRoot(HnswDirConf, "graft_hnsw_")

  private[graft] def shardsFor(n: Long, targetRows: Long): Int =
    if (n <= 0) 1
    else math.min(4096L, 1L + (n - 1) / math.max(1L, targetRows)).toInt

  private[graft] def shardRows(spark: SparkSession): Long =
    spark.conf.getOption(ShardRowsConf).map(_.toLong)
      .getOrElse(DefaultShardRows)

  /** Deterministic geometric level for a node id: u ∈ (0,1) from the
    * md5 family, level = ⌊−ln(u)·mL⌋ capped — the hnswlib level draw
    * with the RNG replaced by a stable hash, so rebuilds (and the two
    * graded mounts) agree on every node's level without persisting a
    * seed. */
  private[graft] def levelFor(id: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(("graft_hnsw_" + id).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
    math.min(MaxLevelCap, math.floor(-math.log(u) * LevelMult).toInt)
  }

  private[graft] def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.clone()
    else {
      val o = new Array[Float](v.length)
      i = 0
      while (i < v.length) { o(i) = (v(i) / n).toFloat; i += 1 }
      o
    }
  }

  // ---- the per-shard graph kernel -------------------------------------

  /** One shard's navigable-small-world graph over NORMALIZED vectors.
    * Mutable during [[insert]]; [[ShardGraph.build]] inserts in index
    * order (callers pre-sort by id). All candidate orderings are
    * (distance, index) — total, so every step is deterministic. */
  private[graft] final class ShardGraph(val vecs: Array[Array[Float]],
                                        val levels: Array[Int]) {
    val n: Int = vecs.length
    /** adjacency: node → level (0..levels(node)) → neighbor indices */
    val adj: Array[Array[ArrayBuffer[Int]]] =
      Array.tabulate(n)(i => Array.fill(levels(i) + 1)(ArrayBuffer.empty[Int]))
    var entry: Int = -1
    var maxLevel: Int = -1

    private def d2(q: Array[Float], i: Int): Double = {
      val v = vecs(i)
      var s = 0.0
      var j = 0
      val len = math.min(q.length, v.length)
      while (j < len) {
        val d = q(j).toDouble - v(j).toDouble; s += d * d; j += 1
      }
      s
    }

    /** Greedy descent on one layer: move to the strictly-closest
      * neighbor until none improves (ties prefer the smaller index, so
      * the walk is deterministic). */
    private def greedy(q: Array[Float], ep0: Int, lev: Int): Int = {
      var cur = ep0
      var curD = d2(q, cur)
      var improved = true
      while (improved) {
        improved = false
        val around = adj(cur)(lev)
        var bestI = cur
        var bestD = curD
        var i = 0
        while (i < around.length) {
          val e = around(i)
          val d = d2(q, e)
          if (d < bestD || (d == bestD && e < bestI)) { bestD = d; bestI = e }
          i += 1
        }
        if (bestI != cur) { cur = bestI; curD = bestD; improved = true }
      }
      cur
    }

    /** Beam search on one layer: the standard ef-bounded frontier walk,
      * returning ≤ ef (distance, index) pairs ascending. */
    private def searchLayer(q: Array[Float], eps: Array[Int], ef: Int,
                            lev: Int): Beam = {
      val visited = new java.util.BitSet(n)
      val cand = new Beam(ef, farthestOnTop = false)
      val res = new Beam(ef, farthestOnTop = true)
      eps.foreach { ep =>
        if (!visited.get(ep)) {
          visited.set(ep)
          val d = d2(q, ep)
          cand.push(d, ep); res.push(d, ep)
          if (res.size > ef) res.pop()
        }
      }
      var done = false
      while (!done && !cand.isEmpty) {
        val cd = cand.topD
        val ci = cand.topI
        cand.pop()
        if (res.size >= ef && Beam.before(res.topD, res.topI, cd, ci)) done = true
        else {
          val around = adj(ci)(lev)
          var i = 0
          while (i < around.length) {
            val e = around(i)
            if (!visited.get(e)) {
              visited.set(e)
              val d = d2(q, e)
              if (res.size < ef || Beam.before(d, e, res.topD, res.topI)) {
                cand.push(d, e); res.push(d, e)
                if (res.size > ef) res.pop()
              }
            }
            i += 1
          }
        }
      }
      res.drainAscending()
    }

    /** The paper's SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin alg. 4,
      * hnswlib's default): walk candidates ascending by distance to the
      * base point, keep e only if it is closer to the base than to any
      * already-kept neighbor — edges stay DIVERSE, which is what keeps
      * clusters connected (simple closest-M measured recall@10 0.73 on
      * a 64k clustered corpus; the heuristic 0.96+). Unfilled slots
      * backfill with the nearest pruned candidates (keepPruned), so
      * degree never starves. Deterministic: input is (distance, index)
      * sorted, every comparison strict. */
    private def selectHeuristic(cands: Beam, m: Int): Array[Int] = {
      val kept = new ArrayBuffer[Int](m)
      val pruned = new ArrayBuffer[Int]()
      var i = 0
      while (i < cands.size && kept.length < m) {
        val dE = cands.dist(i)
        val e = cands.index(i)
        var diverse = true
        var r = 0
        while (diverse && r < kept.length) {
          if (d2(vecs(e), kept(r)) < dE) diverse = false
          r += 1
        }
        if (diverse) kept += e else pruned += e
        i += 1
      }
      var p = 0
      while (kept.length < m && p < pruned.length) {
        kept += pruned(p); p += 1
      }
      kept.toArray
    }

    private def pruneTo(e: Int, lev: Int, cap: Int): Unit = {
      val cur = adj(e)(lev)
      if (cur.length > cap) {
        val byDist = new Beam(cur.length, farthestOnTop = true)
        cur.foreach(x => byDist.push(d2(vecs(e), x), x))
        val kept = selectHeuristic(byDist.drainAscending(), cap)
        cur.clear()
        cur ++= kept
      }
    }

    /** hnswlib's insert: greedy-descend to the node's level, then beam +
      * heuristic-select M diverse neighbors and prune overfull neighbor
      * lists back to cap with the same heuristic. */
    def insert(i: Int): Unit = {
      val l = levels(i)
      if (entry < 0) { entry = i; maxLevel = l; return }
      val q = vecs(i)
      var ep = entry
      var lev = maxLevel
      while (lev > l) { ep = greedy(q, ep, lev); lev -= 1 }
      var eps = Array(ep)
      lev = math.min(l, maxLevel)
      while (lev >= 0) {
        val w = searchLayer(q, eps, EfConstruction, lev)
        val cap = if (lev == 0) M0 else M
        val sel = selectHeuristic(w, M)
        var s = 0
        while (s < sel.length) {
          val e = sel(s)
          adj(i)(lev) += e
          adj(e)(lev) += i
          if (adj(e)(lev).length > cap) pruneTo(e, lev, cap)
          s += 1
        }
        eps = w.indices
        lev -= 1
      }
      if (l > maxLevel) { entry = i; maxLevel = l }
    }

    /** Top-ef candidate indices for one (normalized) query. */
    def search(q: Array[Float], ef: Int): Array[Int] = {
      if (n == 0) return Array.empty
      var ep = entry
      var lev = maxLevel
      while (lev > 0) { ep = greedy(q, ep, lev); lev -= 1 }
      searchLayer(q, Array(ep), ef, 0).indices
    }

    /** Predicate-aware beam (the ACORN-1 discipline, Patel et al. 2024):
      * the walk TRAVERSES the unfiltered graph — expansion and the
      * candidate frontier ignore `allow`, so connectivity is the graph
      * the builder tuned — but the RESULT heap admits matching nodes
      * only, so the beam returns up to ef MATCHING winners instead of
      * ef winners that a later filter decimates. The stop rule is the
      * standard one applied to the filtered heap (frontier farther than
      * the worst matching result), plus a hard `maxVisit` budget that
      * bounds the sweep under vanishing selectivity — beyond it the
      * caller's starved fallback carries the k contract, by design.
      * With `allow = always` and maxVisit ≥ n this IS [[search]]. */
    def searchFiltered(q: Array[Float], ef: Int, allow: Int => Boolean,
                       maxVisit: Int): Array[Int] = {
      if (n == 0) return Array.empty
      var ep = entry
      var lev = maxLevel
      while (lev > 0) { ep = greedy(q, ep, lev); lev -= 1 }
      val visited = new java.util.BitSet(n)
      val cand = new Beam(ef, farthestOnTop = false)
      val res = new Beam(ef, farthestOnTop = true)
      visited.set(ep)
      val d0 = d2(q, ep)
      cand.push(d0, ep)
      if (allow(ep)) res.push(d0, ep)
      var visits = 1
      var done = false
      while (!done && !cand.isEmpty && visits < maxVisit) {
        val cd = cand.topD
        val ci = cand.topI
        cand.pop()
        if (res.size >= ef && Beam.before(res.topD, res.topI, cd, ci)) done = true
        else {
          val around = adj(ci)(0)
          var i = 0
          while (i < around.length) {
            val e = around(i)
            if (!visited.get(e)) {
              visited.set(e)
              visits += 1
              val d = d2(q, e)
              // frontier admission ignores allow (non-matching nodes are
              // the bridges); result admission requires it
              if (res.size < ef || Beam.before(d, e, res.topD, res.topI)) {
                cand.push(d, e)
                if (allow(e)) {
                  res.push(d, e)
                  if (res.size > ef) res.pop()
                }
              }
            }
            i += 1
          }
        }
      }
      res.drainAscending().indices
    }
  }

  /** A binary heap of (distance, index) pairs held in two primitive
    * arrays — a beam's frontier (nearest on top) or result set (farthest
    * on top) with no boxed pair per push. Pairs order by
    * `java.lang.Double.compare` on the distance, then by index: total,
    * so every beam step is deterministic. After [[drainAscending]] it
    * is the sorted list [[dist]]/[[index]] read. */
  private[operators] final class Beam(capacity: Int, farthestOnTop: Boolean) {
    private var ds = new Array[Double](math.max(capacity, 1) + 1)
    private var is = new Array[Int](ds.length)
    private var n = 0

    def size: Int = n
    def isEmpty: Boolean = n == 0
    def topD: Double = ds(0)
    def topI: Int = is(0)
    def dist(j: Int): Double = ds(j)
    def index(j: Int): Int = is(j)
    def indices: Array[Int] = java.util.Arrays.copyOf(is, n)

    /** Does slot a belong above slot b? */
    private def above(a: Int, b: Int): Boolean =
      if (farthestOnTop) Beam.before(ds(b), is(b), ds(a), is(a))
      else Beam.before(ds(a), is(a), ds(b), is(b))

    private def swap(a: Int, b: Int): Unit = {
      val d = ds(a); ds(a) = ds(b); ds(b) = d
      val i = is(a); is(a) = is(b); is(b) = i
    }

    def push(d: Double, i: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, n * 2)
        is = java.util.Arrays.copyOf(is, n * 2)
      }
      ds(n) = d; is(n) = i
      var c = n
      n += 1
      while (c > 0 && above(c, (c - 1) / 2)) { swap(c, (c - 1) / 2); c = (c - 1) / 2 }
    }

    /** Removes the top pair. */
    def pop(): Unit = {
      n -= 1
      ds(0) = ds(n); is(0) = is(n)
      var p = 0
      var settled = false
      while (!settled) {
        val l = 2 * p + 1
        val r = l + 1
        var top = p
        if (l < n && above(l, top)) top = l
        if (r < n && above(r, top)) top = r
        if (top == p) settled = true else { swap(p, top); p = top }
      }
    }

    /** Empties a farthest-on-top heap into ascending order, in place. */
    def drainAscending(): Beam = {
      require(farthestOnTop)
      val total = n
      while (n > 1) {
        val d = ds(0); val i = is(0)
        pop()
        ds(n) = d; is(n) = i
      }
      n = total
      this
    }
  }

  private[operators] object Beam {
    /** (d1, i1) strictly before (d2, i2) in the beams' order. */
    def before(d1: Double, i1: Int, d2: Double, i2: Int): Boolean = {
      val c = java.lang.Double.compare(d1, d2)
      c < 0 || (c == 0 && i1 < i2)
    }
  }

  private[graft] object ShardGraph {
    /** Build by inserting in index order (callers pre-sort rows by id —
      * `flatMapGroups` iterators are NOT ordered). */
    def build(vecsRaw: Array[Array[Float]], levels: Array[Int]): ShardGraph = {
      val g = new ShardGraph(vecsRaw.map(normalize), levels)
      var i = 0
      while (i < g.n) { g.insert(i); i += 1 }
      g
    }

    /** Reconstruct from persisted adjacency. The entry point is derived,
      * not persisted: the builder only replaces its entry on a STRICTLY
      * greater level, so entry = the lowest-index node of the max level
      * — recomputable from the rows. */
    def fromAdjacency(vecsRaw: Array[Array[Float]], levels: Array[Int],
                      nbrs: Array[Array[Array[Int]]]): ShardGraph = {
      val g = new ShardGraph(vecsRaw.map(normalize), levels)
      var i = 0
      while (i < g.n) {
        var l = 0
        while (l < nbrs(i).length) {
          g.adj(i)(l) ++= nbrs(i)(l)
          l += 1
        }
        if (levels(i) > g.maxLevel) { g.maxLevel = levels(i); g.entry = i }
        i += 1
      }
      g
    }
  }

  // ---- shared per-shard recipes (both graded mounts) ------------------

  /** Build one shard's persistable nodes from UNSORTED (id, vec) rows —
    * the ONE per-shard build recipe the offline layout and the
    * store-attached mount share (sort by id, md5 levels, kernel insert;
    * a twin loop would drift — the [[Ann.trainQuantizer]] lesson).
    * Returns (id, vec, level, per-level neighbor ids) rows. */
  private[graft] def shardNodes[K: Ordering: scala.reflect.ClassTag](
      rowsIn: Array[(K, Array[Float])]): Array[(K, Array[Float], Int, Array[Array[K]])] = {
    val rows = rowsIn.sortBy(_._1)
    val levels = rows.map(r => levelFor(r._1.toString))
    val g = ShardGraph.build(rows.map(_._2), levels)
    Array.tabulate(rows.length) { i =>
      (rows(i)._1, rows(i)._2, levels(i),
        g.adj(i).map(_.iterator.map(x => rows(x)._1).toArray).toArray)
    }
  }

  /** Rebuild one shard's graph from persisted node rows (any order):
    * (ids in index order, graph). */
  private[graft] def loadShard[K: Ordering: scala.reflect.ClassTag](
      rowsIn: Array[(K, Array[Float], Int, Array[Array[K]])]): (Array[K], ShardGraph) = {
    val rows = rowsIn.sortBy(_._1)
    val idx = rows.iterator.map(_._1).zipWithIndex.toMap
    val nbrs = rows.map(_._4.map(_.map(idx)))
    (rows.map(_._1),
      ShardGraph.fromAdjacency(rows.map(_._2), rows.map(_._3), nbrs))
  }

  // ---- offline layout over the embeddings table -----------------------

  /** One persisted graph node: per-level neighbor IDs (ids, not indices
    * — reload order must not matter). Public: Spark's generated encoder
    * code constructs these from outside the package. */
  case class HnswNode(shard: Int, id: Long, vec: Seq[Float],
                      level: Int, nbrs: Seq[Seq[Long]])

  /** [[HnswNode]] minus the partition column (reading `graph/shard=N`
    * directly drops `shard`). */
  case class StoredNode(id: Long, vec: Seq[Float], level: Int,
                        nbrs: Seq[Seq[Long]])

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")

  /** Builds executed in this JVM — the [[Ann.buildCount]] spec hook. */
  private[graft] val buildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** BUILD: hash-shard the corpus, build one graph per shard inside
    * `flatMapGroups` (ONE corpus shuffle — the build's only wide edge),
    * persist `graph/` partitioned by shard. Runs offline once at 100 TB;
    * probes touch only the persisted layout. */
  def buildHnswIndex(spark: SparkSession, dir: String): String = {
    buildCount.incrementAndGet()
    val aux = root.auxDir(spark, dir)
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val total = e.count()
    require(total > 0, s"cannot build an HNSW layout over an empty corpus ($dir)")
    val s = shardsFor(total, shardRows(spark))
    import spark.implicits._
    val nodes = e
      .withColumn("shard", pmod(xxhash64(col("vec_id")), lit(s)).cast("int"))
      .select(col("shard"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        shardNodes(it.map(t => (t._2, t._3)).toArray).iterator.map {
          case (id, vec, lev, nbrs) =>
            HnswNode(shard, id, vec.toSeq, lev, nbrs.toSeq.map(_.toSeq))
        }
      }
    nodes.toDF().write.mode("overwrite").partitionBy("shard")
      .parquet(s"$aux/graph")
    // an overwrite to a reused aux (direct build calls; the graded path
    // builds once per JVM) must not leave stale graphs resident
    invalidateGraphs(aux)
    aux
  }

  /** Per-JVM (per-executor) cache of BUILT shard graphs, keyed by
    * (layout dir, shard). A serving executor must not re-decode and
    * re-link a shard graph on every request: the probe's mapPartitions
    * consults this cache FIRST and, on a hit, never consumes its input
    * iterator — Spark's lazy FileScan then skips the parquet decode,
    * so a warm probe is pure beam search. Invalidation is by PATH:
    * store-mount layouts are epoch-suffixed (a rebuild gets a fresh
    * key) and [[buildHnswIndex]] evicts its own aux on overwrite.
    * Access-ordered LRU bound keeps long-lived processes serving many
    * namespaces/epochs flat (at the default 100k-row shards, 64
    * resident graphs ≈ 64 × ~45 MB — executor-memory scale, tune
    * [[GraphCacheMax]] down for denser multi-tenant serving). Values
    * are (ids, graph) pairs typed by the mount's id space (Long
    * offline, String store) — stored as AnyRef, cast at the single use
    * site per mount. */
  /** Resident-graph budget, overridable via [[GraphCacheMaxConf]]: at
    * 1M rows the layout is 128 shards, and a 64-entry LRU made every
    * probe THRASH — all 128 graphs reloaded from parquet per probe
    * (measured r13: 19.8 s warm candidate scan at 1M vs sub-second once
    * the cache holds the working set). Size it to the serving mount's
    * shard count (+headroom); ~5 MB per 8k-node 64-dim shard. */
  val GraphCacheMaxConf = "spark.graft.hnsw.graphCacheMax"
  @volatile private var graphCacheBound = 64

  /** Adopt the session's cache-budget conf (probe entry points call
    * this; the LRU is process-static, so the last-set bound wins). */
  private def refreshCacheBound(spark: SparkSession): Unit =
    spark.conf.getOption(GraphCacheMaxConf)
      .foreach(v => graphCacheBound = v.toInt.max(1))

  private val graphCache: java.util.Map[(String, Int), AnyRef] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Int), AnyRef](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int), AnyRef]): Boolean =
          size() > graphCacheBound
      })

  /** All-shards-resident fast path predicate (driver-side): when every
    * shard graph of `aux` is already in THIS JVM's cache — always true
    * for a warm single-process serving deployment and in local mode —
    * beams can run as zero-input tasks over a parallelized shard list:
    * no parquet re-scan, no N-branch union plan, no MB-scale task
    * binaries (the r13 1M-row measurement: the union-of-scans probe
    * shipped 1–2.4 MB task binaries and re-decoded the graph files per
    * probe). On a multi-executor cluster the static cache is per-JVM
    * and the driver's copy is empty, so this is false and the scan path
    * — whose per-executor caches enjoy scan locality — serves. */
  private def allResident(aux: String, shards: Seq[Int]): Boolean =
    shards.nonEmpty && shards.forall(s => graphCache.containsKey((aux, s)))

  /** In-task cache fetch for the resident path. A concurrent foreign
    * probe could in principle evict between the driver check and the
    * task — fail LOUDLY naming the conf to raise, never emit silently
    * empty candidates. */
  private def residentGraph(aux: String, s: Int): AnyRef = {
    val hit = graphCache.get((aux, s))
    if (hit == null)
      throw new IllegalStateException(
        s"shard graph $aux/shard=$s evicted mid-probe - raise " +
          s"$GraphCacheMaxConf above the mount's shard count")
    hit
  }

  private[graft] def invalidateGraphs(aux: String): Unit = {
    graphCache.synchronized {
      graphCache.keySet().removeIf(k => k._1 == aux)
    }
    scanCache.keySet().removeIf(k => k._2 == aux)
  }

  /** Driver-side cache of the per-shard SCAN plans, keyed by (Spark
    * context start time, aux, shard): `spark.read.parquet` pays file
    * listing + footer schema inference at DataFrame CONSTRUCTION, and
    * rebuilding 8+ of those per probe dominated the warm request
    * (HnswBench: ~1 s of pure plan setup against a ~ms beam search).
    * The scan half of the plan is request-invariant — only the query
    * closure changes — so it is built once per layout; the schema is
    * passed explicitly so even the first construction skips footer
    * reads. */
  private val scanCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String, Int), DataFrame]()

  // corpus-epoch eviction (r21, per advice — the Ann.centersCache wiring;
  // scanCache holds PINNED frames, so unpersist before dropping the refs)
  StandingCache.registerEvictHook(() => {
    scanCache.values().forEach(_.unpersist(false))
    scanCache.clear(); layoutCache.clear()
  })

  private def shardScan(spark: SparkSession, aux: String, s: Int,
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    scanCache.computeIfAbsent(
      (spark.sparkContext.startTime, aux, s),
      _ => spark.read.schema(schema).parquet(s"$aux/graph/shard=$s").coalesce(1))

  /** Spec hook: is (aux, shard) resident in this JVM's graph cache? */
  private[graft] def graphCached(aux: String, shard: Int): Boolean =
    graphCache.containsKey((aux, shard))

  /** The shard partition values present under `graph/` — a bounded
    * driver-side listing (one entry per shard directory). */
  private def listShards(spark: SparkSession, aux: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$aux/graph")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("shard="))
      .map(_.stripPrefix("shard=").toInt)
      .sorted
  }

  /** Per-shard candidates for a query batch: each shard's directory is
    * its own coalesced single-task scan (partition-pruned, NO shuffle —
    * re-grouping the corpus per probe would pay a corpus shuffle per
    * query batch), the task reconstructs its graph and beam-searches
    * every query against it. Returns (qid, id) — ≤ shards × ef rows per
    * query. */
  private[graft] def shardCandidates(spark: SparkSession, aux: String,
                                     queries: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    refreshCacheBound(spark)
    val qNorm = queries.map { case (qid, qv) => (qid, normalize(qv)) }.toArray
    val shards = listShards(spark, aux)
    if (allResident(aux, shards))
      return spark.sparkContext.parallelize(shards, shards.size)
        .flatMap { s =>
          val loaded = residentGraph(aux, s)
            .asInstanceOf[(Array[Long], ShardGraph)]
          qNorm.iterator.flatMap { case (qid, qv) =>
            loaded._2.search(qv, EfSearch).iterator
              .map(i => (qid, loaded._1(i)))
          }
        }.toDF("qid", "id")
    val perShard = shards.map { s =>
      val key = (aux, s)
      shardScan(spark, aux, s,
        org.apache.spark.sql.Encoders.product[StoredNode].schema)
        .as[StoredNode]
        .mapPartitions { it =>
          val hit = graphCache.get(key)
          val loaded =
            if (hit != null) hit.asInstanceOf[(Array[Long], ShardGraph)]
            else {
              val arr = it.toArray
              if (arr.isEmpty) null
              else {
                val lg = loadShard(arr.map(n =>
                  (n.id, n.vec.toArray, n.level, n.nbrs.map(_.toArray).toArray)))
                graphCache.put(key, lg)
                lg
              }
            }
          if (loaded == null) Iterator.empty
          else qNorm.iterator.flatMap { case (qid, qv) =>
            loaded._2.search(qv, EfSearch).iterator
              .map(i => (qid, loaded._1(i)))
          }
        }
    }
    perShard.reduce(_ union _).toDF("qid", "id")
  }

  /** [[HnswNode]] with STRING ids — the serving store's id space. */
  case class HnswNodeS(shard: Int, id: String, vec: Seq[Float],
                       level: Int, nbrs: Seq[Seq[String]])

  /** [[HnswNodeS]] minus the partition column. */
  case class StoredNodeS(id: String, vec: Seq[Float], level: Int,
                         nbrs: Seq[Seq[String]])

  /** Batched candidate scan over a string-id layout (the store-attached
    * mount): the same shuffle-free per-shard coalesced scans as
    * [[shardCandidates]] — every query beam-searches each resident
    * shard graph in the SAME pass, so a Q-query batch costs one probe,
    * not Q (the q106 one-scan batch thesis). Emits (__qid, id). */
  private[graft] def shardCandidatesBatchS(spark: SparkSession, aux: String,
                                           queries: Seq[Seq[Float]]): DataFrame = {
    import spark.implicits._
    refreshCacheBound(spark)
    val qNorm = queries.zipWithIndex
      .map { case (q, i) => (i, normalize(q.toArray)) }.toArray
    val shards = listShards(spark, aux)
    if (allResident(aux, shards))
      return spark.sparkContext.parallelize(shards, shards.size)
        .flatMap { s =>
          val loaded = residentGraph(aux, s)
            .asInstanceOf[(Array[String], ShardGraph)]
          qNorm.iterator.flatMap { case (qid, qv) =>
            loaded._2.search(qv, EfSearch).iterator
              .map(i => (qid, loaded._1(i)))
          }
        }.toDF("__qid", "id")
    val perShard = shards.map { s =>
      val key = (aux, s)
      shardScan(spark, aux, s,
        org.apache.spark.sql.Encoders.product[StoredNodeS].schema)
        .as[StoredNodeS]
        .mapPartitions { it =>
          val hit = graphCache.get(key)
          val loaded =
            if (hit != null) hit.asInstanceOf[(Array[String], ShardGraph)]
            else {
              val arr = it.toArray
              if (arr.isEmpty) null
              else {
                val lg = loadShard(arr.map(n =>
                  (n.id, n.vec.toArray, n.level, n.nbrs.map(_.toArray).toArray)))
                graphCache.put(key, lg)
                lg
              }
            }
          if (loaded == null) Iterator.empty
          else qNorm.iterator.flatMap { case (qid, qv) =>
            loaded._2.search(qv, EfSearch).iterator
              .map(i => (qid, loaded._1(i)))
          }
        }
    }
    perShard.reduce(_ union _).toDF("__qid", "id")
  }

  /** Single-query candidate ids — the batch scan with Q=1. */
  private[graft] def shardCandidatesS(spark: SparkSession, aux: String,
                                      query: Array[Float]): DataFrame =
    shardCandidatesBatchS(spark, aux, Seq(query.toSeq))
      .select(org.apache.spark.sql.functions.col("id"))

  // ---- durable-mount layout: graph nodes carry the FULL record --------

  /** Durable-mount node: the record fields (values, metadata) ride IN
    * the graph rows, so a probe's winners come straight out of the
    * resident shard graph and the caller never re-touches the layout
    * for the main side — by-id lookups against a cell-partitioned
    * record layout would be a full-layout scan (no partition pruning
    * on id). */
  case class HnswNodeD(shard: Int, id: String, vec: Seq[Float],
                       metadata: Map[String, String], metadataJson: String,
                       level: Int, nbrs: Seq[Seq[String]])

  /** [[HnswNodeD]] minus the partition column. */
  case class StoredNodeD(id: String, vec: Seq[Float],
                         metadata: Map[String, String], metadataJson: String,
                         level: Int, nbrs: Seq[Seq[String]])

  /** Build a durable-mount layout from record rows (id, values,
    * metadata, metadataJson): the [[shardNodes]] recipe with the record
    * fields riding alongside (both sides sort by id, so positions
    * align). `total` is passed in — every caller has already counted. */
  private[graft] def writeDurableGraph(recs: DataFrame, total: Long,
                                       aux: String): Unit = {
    val spark = recs.sparkSession
    import spark.implicits._
    val s = shardsFor(total, shardRows(spark))
    recs
      .withColumn("shard", pmod(xxhash64(col("id")), lit(s)).cast("int"))
      .select(col("shard"), col("id"), col("values"), col("metadata"),
        col("metadataJson"))
      .as[(Int, String, Seq[Float], Map[String, String], String)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val rows = it.toArray.sortBy(_._2)
        val nodes = shardNodes(rows.map(t => (t._2, t._3.toArray)))
        nodes.iterator.zipWithIndex.map { case ((id, vec, lev, nbrs), i) =>
          HnswNodeD(shard, id, vec.toSeq, rows(i)._4, rows(i)._5, lev,
            nbrs.toSeq.map(_.toSeq))
        }
      }
      .toDF().write.mode("overwrite").partitionBy("shard")
      .parquet(s"$aux/graph")
    invalidateGraphs(aux)
  }

  /** Rebuild one durable shard's graph from its node rows (any order):
    * (nodes in index order, graph) — the executor probes' load and the
    * driver's ([[driverGraphsD]]). */
  private[graft] def loadShardD(rowsIn: Array[StoredNodeD]): (Array[StoredNodeD], ShardGraph) = {
    val arr = rowsIn.sortBy(_.id)
    val idx = arr.iterator.map(_.id).zipWithIndex.toMap
    val nbrs = arr.map(_.nbrs.map(_.map(idx).toArray).toArray)
    (arr, ShardGraph.fromAdjacency(arr.map(_.vec.toArray), arr.map(_.level), nbrs))
  }

  // ---- driver-resident graphs (both store mounts' snapshot tier) -------
  //
  // A layout small enough for the driver loads every shard graph there
  // once, from the persisted `graph/` rows, with the loaders the executor
  // probes use, so the driver's beams walk the same graphs: the
  // executor-static [[graphCache]] plays no part.

  /** The shard graphs of the layout at `aux`, loaded on the driver from
    * its `graph/` rows — `graphs` turns the rows into them — or None
    * when they hold more than `bound` nodes. */
  private def driverGraphs[N: Encoder, K](spark: SparkSession, aux: String, bound: Int)(
      graphs: Array[N] => Seq[(Array[K], ShardGraph)]): Option[Seq[(Array[K], ShardGraph)]] = {
    val nodes = spark.read.parquet(s"$aux/graph").as[N].limit(math.max(bound + 1, 0)).collect()
    if (nodes.length > bound) None else Some(graphs(nodes))
  }

  /** One graph per shard of `nodes`, in shard order. */
  private def byShard[N, K](nodes: Seq[N], shard: N => Int)(
      load: Array[N] => (Array[K], ShardGraph))(implicit tag: scala.reflect.ClassTag[N]): Seq[(Array[K], ShardGraph)] =
    nodes.toArray.groupBy(shard).toSeq.sortBy(_._1).map { case (_, ns) => load(ns) }

  /** The string-id shard graphs of the store-attached layout at `aux`,
    * loaded on the driver; None when it holds more than `bound` nodes. */
  private[graft] def driverGraphsS(spark: SparkSession, aux: String,
                                   bound: Int): Option[Seq[(Array[String], ShardGraph)]] = {
    import spark.implicits._
    driverGraphs(spark, aux, bound)((ns: Array[HnswNodeS]) => graphsS(ns.toSeq))
  }

  /** The shard graphs of string-id `nodes` (any order), as the driver
    * loads them from their `graph/` rows. */
  private[graft] def graphsS(nodes: Seq[HnswNodeS]): Seq[(Array[String], ShardGraph)] =
    byShard(nodes, (n: HnswNodeS) => n.shard)(ns =>
      loadShard(ns.map(n => (n.id, n.vec.toArray, n.level, n.nbrs.map(_.toArray).toArray))))

  /** The shard a string id hashes to among `shards`: the builds'
    * `pmod(xxhash64(id), shards)`, on the driver. */
  private[graft] def shardOf(id: String, shards: Int): Int =
    java.lang.Math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(id),
      org.apache.spark.sql.types.StringType, 42L), shards.toLong).toInt

  /** The graph nodes of `ids`/`vecs`, hash-sharded into `shards` graphs
    * built by [[shardNodes]], on the driver: the rows the store-attached
    * build's `flatMapGroups` emits. `record(shard, i, node)` makes row
    * i's node. */
  private[graft] def driverShardNodes[N](ids: Array[String], vecs: Array[Array[Float]], shards: Int)(
      record: (Int, Int, (String, Array[Float], Int, Array[Array[String]])) => N): Seq[N] = {
    val at = ids.indices.groupBy(i => shardOf(ids(i), shards))
    at.toSeq.sortBy(_._1).flatMap { case (shard, rows) =>
      // shardNodes sorts by id; so does this, to pair each node with its row
      val sorted = rows.sortBy(ids(_))
      shardNodes(sorted.map(i => (ids(i), vecs(i))).toArray).toSeq.zip(sorted)
        .map { case (node, i) => record(shard, i, node) }
    }
  }

  /** One query's beam winners over every driver-resident graph: what
    * [[shardCandidatesBatchS]] emits for it. */
  private[graft] def driverBeamS(graphs: Seq[(Array[String], ShardGraph)],
                                 query: Array[Float]): Seq[String] = {
    val qv = normalize(query)
    graphs.flatMap { case (ids, g) => g.search(qv, EfSearch).map(ids(_)) }
  }

  /** The durable mount's record-carrying shard graphs at `aux`, loaded
    * on the driver; None when they hold more than `bound` nodes. Once a
    * shard's graph is built its nodes keep only what a beam's winners
    * and the flat filter read (id, metadata): the vectors and links live
    * in the graph. */
  private[graft] def driverGraphsD(spark: SparkSession, aux: String,
                                   bound: Int): Option[Seq[(Array[StoredNodeD], ShardGraph)]] = {
    import spark.implicits._
    driverGraphs(spark, aux, bound)((ns: Array[HnswNodeD]) => graphsD(ns.toSeq))
  }

  /** The shard graphs of record-carrying `nodes` (any order), as the
    * driver loads them from their `graph/` rows. */
  private[graft] def graphsD(nodes: Seq[HnswNodeD]): Seq[(Array[StoredNodeD], ShardGraph)] =
    byShard(nodes, (n: HnswNodeD) => n.shard) { ns =>
      val (stored, g) = loadShardD(ns.map(n =>
        StoredNodeD(n.id, n.vec, n.metadata, n.metadataJson, n.level, n.nbrs)))
      (stored.map(_.copy(vec = Seq.empty, nbrs = Seq.empty)), g)
    }

  /** One query's beam winners over every driver-resident durable graph,
    * with the flat filter inside the beam: the nodes
    * [[shardCandidatesD]] emits for it. */
  private[graft] def driverBeamD(graphs: Seq[(Array[StoredNodeD], ShardGraph)],
                                 query: Array[Float],
                                 flatFilter: Map[String, String]): Seq[StoredNodeD] = {
    val qv = normalize(query)
    graphs.flatMap(g => beamD(g, qv, flatFilter).map(g._1(_)))
  }

  /** Visit budget for the predicate-aware beam: bounds the traversal
    * sweep under vanishing selectivity (the caller's starved fallback
    * carries the k contract beyond it). */
  private[graft] val FilteredVisitFactor = 16

  /** The per-node flat-filter test the predicate-aware beam runs inside
    * the shard task — metadata-map equality, the exact semantics
    * `metaPredicate`'s flat half applies at the rerank (which stays
    * authoritative; this only shapes the candidate pool). */
  private def allowFor(nodes: Array[StoredNodeD],
                       flatFilter: Map[String, String]): Int => Boolean =
    i => flatFilter.forall { case (k, v) =>
      nodes(i).metadata.get(k).contains(v) }

  private def beamD(loaded: (Array[StoredNodeD], ShardGraph),
                    qv: Array[Float],
                    flatFilter: Map[String, String]): Array[Int] =
    if (flatFilter.isEmpty) loaded._2.search(qv, EfSearch)
    else loaded._2.searchFiltered(qv, EfSearch,
      allowFor(loaded._1, flatFilter), EfSearch * FilteredVisitFactor)

  /** Durable-mount candidate scan: per-shard beams over the resident
    * graphs, emitting the winners' FULL record fields (id, values,
    * metadata, metadataJson) — the caller applies kill-set/delta-tail
    * and reranks without another layout touch. A non-empty `flatFilter`
    * switches each shard to the PREDICATE-AWARE beam
    * ([[ShardGraph.searchFiltered]]): up to EfSearch MATCHING winners
    * per shard instead of EfSearch winners a later filter decimates —
    * the ACORN upgrade that keeps selective tenant gates off the
    * starved-fallback path. JSONPath filters stay caller-side (their
    * evaluation belongs to the SQL engine; the rerank predicate is
    * authoritative either way). */
  private[graft] def shardCandidatesD(spark: SparkSession, aux: String,
                                      query: Array[Float],
                                      flatFilter: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    refreshCacheBound(spark)
    val qv = normalize(query)
    val shards = listShards(spark, aux)
    if (allResident(aux, shards))
      return spark.sparkContext.parallelize(shards, shards.size)
        .flatMap { s =>
          val loaded = residentGraph(aux, s)
            .asInstanceOf[(Array[StoredNodeD], ShardGraph)]
          beamD(loaded, qv, flatFilter).iterator.map { i =>
            val n = loaded._1(i)
            (n.id, n.vec, n.metadata, n.metadataJson)
          }
        }.toDF("id", "values", "metadata", "metadataJson")
    val perShard = shards.map { s =>
      val key = (aux, s)
      shardScan(spark, aux, s,
        org.apache.spark.sql.Encoders.product[StoredNodeD].schema)
        .as[StoredNodeD]
        .mapPartitions { it =>
          val hit = graphCache.get(key)
          val loaded =
            if (hit != null) hit.asInstanceOf[(Array[StoredNodeD], ShardGraph)]
            else {
              val arr = it.toArray
              if (arr.isEmpty) null
              else {
                val lg = loadShardD(arr)
                graphCache.put(key, lg)
                lg
              }
            }
          if (loaded == null) Iterator.empty
          else beamD(loaded, qv, flatFilter).iterator.map { i =>
            val n = loaded._1(i)
            (n.id, n.vec, n.metadata, n.metadataJson)
          }
        }
    }
    perShard.reduce(_ union _).toDF("id", "values", "metadata", "metadataJson")
  }

  /** Batched durable-mount candidate scan (r13 — the
    * [[shardCandidatesBatchS]] thesis on the record-carrying graphs):
    * every query beam-searches each resident shard graph in the SAME
    * pass, so a Q-query batch costs one probe, not Q. Emits (__qid, id)
    * only — the durable batch kernel reranks against `live()`, so the
    * record fields riding in the graph rows are not re-emitted Q
    * times. */
  private[graft] def shardCandidatesBatchD(spark: SparkSession, aux: String,
                                           queries: Seq[Seq[Float]],
                                           flatFilter: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    refreshCacheBound(spark)
    val qNorm = queries.zipWithIndex
      .map { case (q, i) => (i, normalize(q.toArray)) }.toArray
    val shards = listShards(spark, aux)
    if (allResident(aux, shards))
      return spark.sparkContext.parallelize(shards, shards.size)
        .flatMap { s =>
          val loaded = residentGraph(aux, s)
            .asInstanceOf[(Array[StoredNodeD], ShardGraph)]
          qNorm.iterator.flatMap { case (qid, qv) =>
            beamD(loaded, qv, flatFilter).iterator
              .map(i => (qid, loaded._1(i).id))
          }
        }.toDF("__qid", "id")
    val perShard = shards.map { s =>
      val key = (aux, s)
      shardScan(spark, aux, s,
        org.apache.spark.sql.Encoders.product[StoredNodeD].schema)
        .as[StoredNodeD]
        .mapPartitions { it =>
          val hit = graphCache.get(key)
          val loaded =
            if (hit != null) hit.asInstanceOf[(Array[StoredNodeD], ShardGraph)]
            else {
              val arr = it.toArray
              if (arr.isEmpty) null
              else {
                val lg = loadShardD(arr)
                graphCache.put(key, lg)
                lg
              }
            }
          if (loaded == null) Iterator.empty
          else qNorm.iterator.flatMap { case (qid, qv) =>
            beamD(loaded, qv, flatFilter).iterator
              .map(i => (qid, loaded._1(i).id))
          }
        }
    }
    perShard.reduce(_ union _).toDF("__qid", "id")
  }

  /** The layout path of the most recent [[q118]] run — the [[Ann]]
    * `lastAux` oracle contract (None until the graded query has
    * actually executed in this JVM). */
  @volatile private var lastAux: Option[String] = None

  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-or-reuse the persisted layout for `dir` (the [[Ann.ensureLayout]]
    * pattern: built at most once per JVM; bench medians pay the probe). */
  private[graft] def ensureLayout(spark: SparkSession, dir: String): String =
    layoutCache.computeIfAbsent(root.auxDir(spark, dir),
      _ => buildHnswIndex(spark, dir))

  /** PROBE + rerank: per-shard beam candidates, persisted for the oracle
    * (read BACK before reranking so the replay grades exactly the rows
    * the result came from — the `assign/` discipline), then exact cosine
    * rerank through the family's bounded-heap cut. */
  def hnswProbe(spark: SparkSession, dir: String, aux: String,
                persistCands: Boolean = false): DataFrame = {
    val queries = Ann.queryFrame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    var cands = shardCandidates(spark, aux, queries)
    if (persistCands) {
      cands.coalesce(1).write.mode("overwrite").parquet(s"$aux/cands")
      cands = spark.read.parquet(s"$aux/cands")
    }
    Ann.rankTopK(
      embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .join(broadcast(cands), col("vec_id") === col("id"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(Ann.queryFrame(spark, dir)), Seq("qid"))
        .select(col("qid"),
          round(VectorFunctions.cosineSim(col("embedding"), col("qv")), 4)
            .as("score"),
          col("vec_id")),
      Ann.K, descending = true)
  }

  /** q118: sharded-HNSW ANN top-k over the embeddings table — build (at
    * most once per JVM), per-shard beam probe, exact rerank. */
  def q118(spark: SparkSession, dir: String): DataFrame = {
    val aux = ensureLayout(spark, dir)
    lastAux = Some(aux)
    hnswProbe(spark, dir, aux, persistCands = true)
  }

  /** Oracle replay from the persisted candidate set: the graph traversal
    * is the candidate-generation POLICY (persisted, like `probes/`);
    * the contract — exact cosine rerank with the id tie-break over
    * exactly those candidates — is replayed relationally. */
  def q118Sql(aux: String): String =
    s"""WITH cand AS (
       |  SELECT qid, id FROM read_parquet('$aux/cands/*.parquet')
       |  WHERE id <> qid),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id < ${Ann.NumQueries}),
       |sc AS (
       |  SELECT c.qid, c.id,
       |         round(${Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= ${Ann.K}
       |ORDER BY qid, rank""".stripMargin

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q118_ann_hnsw_topk" -> (q118 _))

  def oracles: Map[String, String] =
    lastAux.map(aux => "q118_ann_hnsw_topk" -> q118Sql(aux)).toMap
}
