package graft.store

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.model.{SearchHit, StorageInfo, VectorRecord}

/** The reference's full API surface (`QueryProcessor` + `StorageEngine` +
  * `Index`, SURVEY §2.1–2.3) as one Spark-native serving facade over an
  * in-memory `Dataset[VectorRecord]`.
  *
  * Semantics contract (file:line into /root/reference):
  *  - insert/upsertMany mint server-side UUIDs — callers can never supply
  *    an id (`implementations/vector.py:13`), so "upsert" is insert-many.
  *  - values are coerced to float32 (`vector.py:14`).
  *  - namespaces appear implicitly on first write and vanish with their
  *    last vector (`storage_engine_in_memory.py:12,49-50`) — emergent
  *    here, since the namespace list is always derived from live rows.
  *  - delete returns the ids actually removed
  *    (`query_processor.py:51-62`); reads see deletes immediately via the
  *    anti-join model, with no index rebuild and no analogue of the
  *    reference's cross-namespace rebuild wipe bug (`index.py:136-143`).
  *  - search in an unknown namespace returns empty, never errors
  *    (`index.py:98-99`); k is clamped by LIMIT semantics
  *    (`index.py:103-107`); metric is a per-query parameter (the cleaned-up
  *    superset of the reference's space/metric quirk, SURVEY §2.4 D4).
  *  - scores: "l2" = squared L2 ascending, "cosine" = similarity
  *    descending (`index.py:125-127`), "ip" = 1−⟨a,b⟩ ascending.
  *
  * Scale shape: mutations are request-sized unions (batched by the caller,
  * exactly like the reference's single `add_items` call). Searches run on
  * one of two tiers, chosen per namespace. A namespace of at most
  * [[VectorStore.SnapshotMaxRows]] rows (the reference's capacity per
  * namespace) is held on the driver as a [[LiveSnapshot]], collected once
  * per store epoch by the first read after a mutation: exact single and
  * batch search, range, threshold, the starved-filter skip and both
  * starved rescues score it with no Spark job, and the six indexes still
  * generate candidates on their layouts but rerank the collected ids on
  * it. Larger namespaces serve from Spark: scan → codegen'd distance →
  * `TakeOrderedAndProject`. Finding a namespace above the bound costs one
  * bounded collect, paid again only after a delete, deleteNamespace or
  * clear (the mutations that can shrink it). The tiers return the same hits bit for bit
  * (LiveSnapshotSpec); the driver holds at most one snapshot per
  * namespace read at the current epoch. The durable
  * 100 TB variant of this class is a parquet table partitioned by
  * namespace plus a deletes table — identical plans, different source.
  * `compact()` is the rebuild analogue: it truncates the union/anti-join
  * lineage (`localCheckpoint`) the way the reference's rebuild re-packs
  * its HNSW graph (`index.py:131-162`), but per-store, not data-losing.
  */
class VectorStore(val spark: SparkSession) {

  import spark.implicits._

  /** Volatile: committed under the store monitor, but exact searches and
    * delete probes read it with no lock — without the volatile there is
    * no happens-before edge and a reader thread could legally see a
    * stale reference forever (the approx path is safe either way: it
    * snapshots (epoch, live) under the lock). */
  @volatile private var live: Dataset[VectorRecord] =
    spark.emptyDataset[VectorRecord]
  private var mutationsSinceCompact = 0

  /** Bumped on every mutation; every index layout but hnsw's is valid
    * only for the epoch it was built in (the store-side analogue of the
    * reference's index rebuild-on-write, `index.py:131-162` — except
    * rebuilds here are lazy and only the layouts, never the data). */
  @volatile private var epoch = 0L

  /** Auto-truncate lineage every N mutations so a long-lived store doesn't
    * accrete an unbounded union/anti-join plan (the serving analogue of the
    * reference's deleted-ratio rebuild trigger, `index.py:85-89`). */
  private val CompactEvery = 64

  /** Observable epoch for invariant checks (ConcurrencySpec): strictly
    * monotonic under the commit lock — one bump per mutation, never
    * reused, never rolled back. */
  private[graft] def currentEpoch: Long = epoch

  /** Commits take a TRANSFORMATION of the current dataset, not a
    * pre-built dataset: the read of `live` must happen under the same
    * lock as the write, or two racing mutations both derive from the same
    * snapshot and the second commit silently discards the first
    * (ConcurrencySpec's lost-commit test found exactly that — 36 of 48
    * racing upserts vanished under the old `commit(live.union(...))`
    * shape). `mutate` only composes a lazy plan, so no Spark job runs
    * under the monitor (except the rare every-[[CompactEvery]]
    * checkpoint, as before). `shrinks` marks a mutation that can remove
    * rows from a namespace (see [[snapshots]]). */
  private def commit(mutate: Dataset[VectorRecord] => Dataset[VectorRecord],
                     shrinks: Boolean = false): Unit = synchronized {
    mutationsSinceCompact += 1
    epoch += 1 // guarded by synchronized: += on a @volatile is not atomic
    if (shrinks) shrinkEpoch = epoch
    val next = mutate(live)
    live =
      if (mutationsSinceCompact >= CompactEvery) {
        mutationsSinceCompact = 0
        next.localCheckpoint(eager = true)
      } else next
  }

  // ---- metadata JSON plumbing (SURVEY §1.4) ---------------------------
  // The reference's metadata is an arbitrary dict (vector.py:15). Full
  // fidelity lives in `metadataJson`; the flat `metadata` map carries the
  // top-level scalar keys for cheap column-predicate filtering.

  // one definition in [[MetaJson]], shared with the durable facade's
  // REST write surface — the two envelopes must not drift
  private def flatToJson(md: Map[String, String]): String = MetaJson.json(md)
  private def jsonToFlat(json: String): Map[String, String] = MetaJson.flat(json)

  // ---- writes (W1, W2) -----------------------------------------------

  def insert(values: Seq[Float], metadata: Map[String, String] = Map.empty,
             namespace: String = "default"): String =
    upsertMany(Seq((values, metadata)), namespace).head

  def upsertMany(vs: Seq[(Seq[Float], Map[String, String])],
                 namespace: String): Seq[String] = {
    val recs = vs.map { case (values, md) =>
      VectorRecord(UUID.randomUUID().toString, namespace, values.toArray, md,
        flatToJson(md))
    }
    commit(_.union(recs.toDS()))
    logHnswInserts(namespace, recs.map(_.id))
    recs.map(_.id)
  }

  /** Insert with arbitrary (possibly nested) JSON metadata — the parity
    * path for the reference's `Dict[str, Any]` metadata. The JSON is
    * stored verbatim for round-trip; its top-level scalars are also lifted
    * into the flat map so equality filters keep working. */
  def insertJson(values: Seq[Float], metadataJson: String,
                 namespace: String = "default"): String =
    upsertManyJson(Seq((values, metadataJson)), namespace).head

  def upsertManyJson(vs: Seq[(Seq[Float], String)],
                     namespace: String): Seq[String] = {
    val recs = vs.map { case (values, json) =>
      VectorRecord(UUID.randomUUID().toString, namespace, values.toArray,
        jsonToFlat(json), json)
    }
    commit(_.union(recs.toDS()))
    logHnswInserts(namespace, recs.map(_.id))
    recs.map(_.id)
  }

  /** Bulk import with caller-supplied ids — the ingestion surface a large
    * deployment uses to hydrate a store from an existing table in ONE
    * commit (the reference's closest analogue is a batched `add_items`
    * call, `index.py:60-79`; here the frame never touches the driver).
    * `df` must have columns `id: string` and `values: array<float>` with
    * UNIQUE ids; an optional `metadata: map<string,string>` column loads
    * per-row flat metadata (r15 — the quality-gated retrieval arc needs
    * model scores attached at bulk-load time; absent, metadata defaults
    * to empty as before). Upsert semantics like
    * [[upsert]]: existing rows at the incoming (namespace, id) keys are
    * replaced, never duplicated (the anti-join drops them in the same
    * commit). */
  def loadFrame(df: DataFrame, namespace: String): Unit = {
    val meta =
      if (df.columns.contains("metadata"))
        coalesce(col("metadata").cast("map<string,string>"),
          typedLit(Map.empty[String, String]))
      else typedLit(Map.empty[String, String])
    val select = df
      .select(col("id").cast("string").as("id"),
        lit(namespace).as("namespace"),
        col("values").cast("array<float>").as("values"),
        meta.as("metadata"),
        // flat map → the same {"k":"v"} shape flatToJson writes, so
        // jsonFilter/get address frame-loaded rows too
        coalesce(to_json(meta), lit("{}")).as("metadataJson"))
    // The rows enter the store as their OPTIMIZED plan, so whatever the
    // optimizer evaluates on the driver (all of a driver-local frame's
    // rows, `Seq(...).toDF`; a constant metadata map's JSON) is evaluated
    // once, here, by this thread. Left as the lazy select, every later
    // read's planning re-evaluated it, and concurrent plannings shared
    // the one JSON generator behind the `to_json` expression: concurrent
    // searches failed with "Can not start an object, expecting field
    // name". A column the optimizer leaves alone is computed in tasks,
    // each with its own copy of the expression.
    val recs = org.apache.spark.sql.graft.CatalystBridge
      .ofRows(spark, select.queryExecution.optimizedPlan).as[VectorRecord]
    commit(cur => cur.join(
      recs.select(col("id").as("__lid")).withColumn("__lns", lit(namespace)),
      col("id") === col("__lid") && col("namespace") === col("__lns"),
      "left_anti").as[VectorRecord].union(recs))
    // a frame load has no driver-side id list -> the HNSW delta ledger
    // cannot represent it; poison so the next probe rebuilds
    poisonHnsw(namespace)
  }

  /** True upsert: overwrite-or-insert at a caller-supplied id in ONE
    * commit (the write surface the reference's commented-out overwrite
    * test intends, `tests/test_storage_engine_in_memory.py:46-57`). */
  def upsert(id: String, values: Seq[Float],
             metadata: Map[String, String] = Map.empty,
             namespace: String = "default",
             metadataJson: String = null): Unit = {
    val json = Option(metadataJson).getOrElse(flatToJson(metadata))
    val flat = if (metadataJson == null) metadata else jsonToFlat(json)
    val rec = VectorRecord(id, namespace, values.toArray, flat, json)
    commit(_.filter(!(col("namespace") === namespace && col("id") === id))
      .union(Seq(rec).toDS()))
    // an overwrite leaves a stale vector in the graph: the delta entry
    // makes the NEW vector always a candidate (rerank reads live values,
    // so results stay exact); the delete tick sizes the staleness mass
    logHnswInserts(namespace, Seq(id))
    logHnswDeletes(namespace, 1)
  }

  // ---- reads (S1, S2, S5) --------------------------------------------

  def read(id: String, namespace: String): Option[VectorRecord] =
    live.filter(col("namespace") === namespace && col("id") === id)
      .collect().headOption

  /** Above this many ids, `isInCollection` stops being the right plan: the
    * predicate expression grows with the batch (codegen size, analysis
    * time), while a broadcast hash join keeps the plan constant-size and
    * ships the id set once per executor. The REST contract caps batches at
    * 1000, so serving always takes the literal path; bulk/offline callers
    * cross into the join form. */
  private val InListMax = Scoring.InListMax

  /** The requested id set as a broadcast join side. Distinct because join
    * semantics would duplicate rows for duplicated ids (the literal
    * `isInCollection` path is naturally set-shaped). */
  private def idFrame(ids: Seq[String]): DataFrame =
    ids.distinct.toDF("__rid")

  /** Positional batch read: result(i) corresponds to ids(i), None for
    * misses — `storage_engine_in_memory.py:42-44`. One scan, not N; above
    * [[InListMax]] the id list becomes a broadcast semi-join instead of a
    * literal predicate. */
  def readBatch(ids: Seq[String], namespace: String): Seq[Option[VectorRecord]] = {
    val inNs = live.filter(col("namespace") === namespace)
    val matched =
      if (ids.size <= InListMax) inNs.filter(col("id").isInCollection(ids))
      else inNs.join(broadcast(idFrame(ids)), col("id") === col("__rid"),
        "left_semi").as[VectorRecord]
    val found = matched.collect().map(r => r.id -> r).toMap
    ids.map(found.get)
  }

  /** Scans all namespaces, like `storage_engine_in_memory.py:54-55`. */
  def exists(id: String): Boolean =
    !live.filter(col("id") === id).isEmpty

  // ---- deletes (W3–W6) -----------------------------------------------

  /** Returns the ids actually deleted (`query_processor.py:51-62`). Above
    * [[InListMax]] both the presence probe and the removal switch from
    * literal `isInCollection` predicates to broadcast semi/anti joins —
    * same results, constant-size plan for bulk id sets. The presence
    * REPORT reads a snapshot outside the commit lock (a probe is a full
    * Spark job — holding the monitor across it would stall every
    * writer), so under racing writers it reflects probe-time state; the
    * removal itself is a lock-scoped transformation of the CURRENT
    * dataset, so it composes correctly with any interleaved commit. */
  def delete(ids: Seq[String], namespace: String): Seq[String] = {
    if (ids.size <= InListMax) {
      val present = live
        .filter(col("namespace") === namespace && col("id").isInCollection(ids))
        .select("id").as[String].collect().toSeq
      if (present.nonEmpty) {
        commit(_.filter(!(col("namespace") === namespace &&
          col("id").isInCollection(present))), shrinks = true)
        logHnswDeletes(namespace, present.size)
      }
      present
    } else {
      val del = idFrame(ids)
      val present = live.filter(col("namespace") === namespace)
        .join(broadcast(del), col("id") === col("__rid"), "left_semi")
        .select("id").as[String].collect().toSeq
      if (present.nonEmpty) {
        commit(_.join(
          broadcast(del.withColumn("__rns", lit(namespace))),
          col("id") === col("__rid") && col("namespace") === col("__rns"),
          "left_anti").as[VectorRecord], shrinks = true)
        logHnswDeletes(namespace, present.size)
      }
      present
    }
  }

  def deleteNamespace(namespace: String): Boolean = {
    val had = !live.filter(col("namespace") === namespace).isEmpty
    if (had) { commit(_.filter(col("namespace") =!= namespace), shrinks = true); poisonHnsw(namespace) }
    had
  }

  def clear(): Unit = synchronized {
    live = spark.emptyDataset[VectorRecord]
    mutationsSinceCompact = 0
    epoch += 1
    shrinkEpoch = epoch
    // every resident graph is now stale, including namespaces that
    // never touched the ledger
    layouts.keySet.forEach(k => if (k._1 == "hnsw") hnswLedger(k._2).poisonedAt = epoch)
    hnswLedgers.values.forEach(l => l.poisonedAt = epoch)
  }

  /** Materialize current state and truncate lineage (rebuild analogue).
    * Contents are unchanged, so every index layout stays valid. Holds
    * the store lock so a racing commit can't be overwritten by a
    * pre-commit checkpoint of `live`. */
  def compact(): Unit = synchronized {
    live = live.localCheckpoint(eager = true)
    mutationsSinceCompact = 0
  }

  // ---- namespace / storage introspection (S4, A1–A4) ------------------

  def listNamespaces(): Seq[String] =
    live.select("namespace").distinct().as[String].collect().sorted.toSeq

  def namespaceCount(namespace: String): Long =
    live.filter(col("namespace") === namespace).count()

  def totalCount(): Long = live.count()

  /** Namespace dump (`query_processor.py:67-76`). */
  def dumpNamespace(namespace: String): Seq[VectorRecord] =
    live.filter(col("namespace") === namespace).collect().toSeq

  def info(): StorageInfo = {
    val perNs = live.groupBy(col("namespace"))
      .agg(count(lit(1)).as("n"),
        sum(size(col("values")).cast("long") * 4L +
          aggregate(map_values(col("metadata")), lit(0L),
            (acc, v) => acc + length(v).cast("long"))).as("bytes"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    StorageInfo(
      storageType = "spark-in-memory",
      totalVectors = perNs.map(_._2).sum,
      namespaces = perNs.map(t => t._1 -> t._2).toMap,
      estBytes = perNs.map(_._3).sum)
  }

  // ---- search (K1–K5, Q11–Q14) ---------------------------------------

  private def litVec(q: Seq[Float]) = Scoring.litVec(q)

  private def metadataPredicate(filter: Map[String, String]) =
    filter.foldLeft(lit(true)) { case (acc, (k, v)) =>
      acc && col("metadata").getItem(k) === v
    }

  /** Nested-metadata predicate: keys are JSONPaths (`$.a.b`), matched as
    * strings against `get_json_object` extraction — the Spark analogue of
    * filtering the reference's nested metadata dicts. */
  private def jsonPredicate(filter: Map[String, String]) =
    filter.foldLeft(lit(true)) { case (acc, (path, v)) =>
      acc && get_json_object(col("metadataJson"), path) === v
    }

  /** Score an already-filtered frame — the shared tail under both the
    * exact and the approx search paths. The distance runs in whole-stage
    * codegen; top-k goes through TakeOrderedAndProject. */
  private def scoredFrom(base: DataFrame, query: Seq[Float],
                         metric: String): DataFrame =
    base.withColumn("score",
      Scoring.score(metric, col("values"), litVec(query)))

  private def filteredLive(namespace: String, filter: Map[String, String],
                           jsonFilter: Map[String, String]): DataFrame =
    live.filter(col("namespace") === namespace && metadataPredicate(filter) &&
      jsonPredicate(jsonFilter)).toDF()

  /** Scored frame for a query vector over the full namespace scan. */
  private def scored(query: Seq[Float], metric: String, namespace: String,
                     filter: Map[String, String],
                     jsonFilter: Map[String, String] = Map.empty): DataFrame =
    scoredFrom(filteredLive(namespace, filter, jsonFilter), query, metric)

  // ---- driver snapshot tier --------------------------------------------

  /** Namespaces of at most this many rows are served from a driver
    * snapshot ([[VectorStore.SnapshotMaxRows]]). */
  @volatile private var snapshotBound: Int = VectorStore.SnapshotMaxRows

  /** The getter the spec hook's assignment syntax needs. */
  private[graft] def snapshotMaxRows: Int = snapshotBound

  /** Spec hook: lowers the bound for this store, to reach the Spark plans
    * on small data. Drops every entry, so the next read decides the tier
    * again under the new bound. */
  private[graft] def snapshotMaxRows_=(n: Int): Unit = {
    snapshotBound = n
    snapshots.clear()
  }

  /** The epoch of the last commit that can shrink a namespace (delete,
    * deleteNamespace, clear). Written under the store monitor with the
    * epoch bump. */
  @volatile private var shrinkEpoch = 0L

  /** namespace → (stamped epoch, snapshot; None when the namespace held
    * more rows than the bound). A snapshot is current only at its own
    * epoch: the [[layoutFor]] lifecycle, built outside the store lock
    * from an (epoch, live) pair read under it, the PRE-build epoch
    * stamped, so a mutation landing mid-build leaves the entry already
    * stale and the next read rebuilds. An above-bound mark stays current
    * until the next commit that can shrink a namespace: inserts, upserts
    * and loadFrame (with its unique ids) only add or replace rows, so a
    * large namespace runs only the Spark plans across them, with no
    * recount. A mark that outlives its cause (a null id or vector
    * replaced by a load) could only route a small namespace to Spark,
    * never change an answer. */
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[LiveSnapshot])]()

  private def isCurrent(entry: (Long, Option[LiveSnapshot])): Boolean = entry match {
    case (e, Some(_)) => e == epoch
    case (e, None) => e >= shrinkEpoch
  }

  private val snapshotBuildLocks = new LiveSnapshot.BuildLocks

  private def currentSnapshot(namespace: String): Option[Option[LiveSnapshot]] =
    Option(snapshots.get(namespace)).filter(isCurrent).map(_._2)

  /** The namespace's driver snapshot at the current epoch, built by one
    * bounded collect on the first read after a mutation; None when the
    * namespace is above the bound (or holds a null id or vector) and
    * serves from Spark. A reader always gets a snapshot stamped at or
    * after the epoch it observed on entry, so it sees every write
    * acknowledged before it. An empty namespace gets an empty snapshot
    * that is not kept: unknown names cost one job each, as on Spark, and
    * hold no memory. */
  private[graft] def snapshot(namespace: String): Option[LiveSnapshot] =
    snapshotBuildLocks.cached(namespace)(currentSnapshot(namespace)) {
      val bound = snapshotBound
      val (e, rows) = synchronized { (epoch, live) }
      val recs = rows.filter(col("namespace") === namespace)
        .limit(math.max(bound + 1, 0)).collect()
      if (recs.isEmpty && bound >= 0) Some(new LiveSnapshot(e, recs))
      else {
        val snap =
          if (recs.length > bound || recs.exists(r => r.id == null || r.values == null)) None
          else Some(new LiveSnapshot(e, recs))
        snapshots.put(namespace, (e, snap))
        // drop every entry a later mutation made stale, so residency
        // tracks the namespaces read at the current epoch
        snapshots.values.removeIf(!isCurrent(_))
        snap
      }
    }

  /** Exact top-k over the filtered namespace: the snapshot when there is
    * one, else the Spark scan → `TakeOrderedAndProject`. */
  private def exactTopK(query: Seq[Float], k: Int, metric: String, namespace: String,
                        filter: Map[String, String],
                        jsonFilter: Map[String, String]): Seq[SearchHit] =
    snapshot(namespace) match {
      case Some(snap) => snap.topK(query, k, metric, filter, jsonFilter)
      case None => collectHits(ranked(
        scored(query, metric, namespace, filter, jsonFilter), metric).limit(k))
    }

  /** Exact batch over the filtered namespace, positional. */
  private def exactBatch(queries: Seq[Seq[Float]], k: Int, metric: String,
                         namespace: String, filter: Map[String, String],
                         jsonFilter: Map[String, String]): Seq[Seq[SearchHit]] =
    snapshot(namespace) match {
      case Some(snap) => queries.map(snap.topK(_, k, metric, filter, jsonFilter))
      case None => Scoring.batchSearch(filteredLive(namespace, filter, jsonFilter),
        queries, k, metric)
    }

  /** The rerank tail shared by every single-query index path: the
    * layout proposes candidate ids (`__cid`; None = no layout, the
    * namespace is empty), the live rows decide what exists and what
    * matches the filters, and the exact score ranks them. On a snapshot
    * namespace the ids are collected and reranked on the driver. */
  private def rerank(cands: Option[DataFrame], query: Seq[Float], k: Int,
                     namespace: String, filter: Map[String, String],
                     jsonFilter: Map[String, String]): Seq[SearchHit] =
    cands.fold(Seq.empty[SearchHit]) { ids =>
      snapshot(namespace) match {
        case Some(snap) =>
          snap.topK(query, k, "cosine", filter, jsonFilter,
            Some(ids.collect().map(_.getString(0))))
        case None =>
          val proposed = filteredLive(namespace, filter, jsonFilter)
            .join(broadcast(ids), col("id") === col("__cid"), "left_semi")
          collectHits(ranked(scoredFrom(proposed, query, "cosine"), "cosine").limit(k))
      }
    }

  /** The batch form of [[rerank]]: `cand` holds (__qid, id) pairs. */
  private def rerankBatch(cand: DataFrame, queries: Seq[Seq[Float]], k: Int,
                          namespace: String, filter: Map[String, String],
                          jsonFilter: Map[String, String]): Seq[Seq[SearchHit]] =
    snapshot(namespace) match {
      case Some(snap) =>
        val byQuery = cand.select(col("__qid").cast("int"), col("id")).collect()
          .groupMap(_.getInt(0))(_.getString(1))
        queries.indices.map(i => snap.topK(queries(i), k, "cosine", filter,
          jsonFilter, Some(byQuery.getOrElse(i, Array.empty[String]).toSeq)))
      case None => Scoring.batchSearchCandidates(
        filteredLive(namespace, filter, jsonFilter), queries, cand, k, "cosine")
    }

  // ---- store-attached ANN indexes (the reference's index-backed read
  // path, query_processor.py:26-49 → index.py:91-129) -------------------
  //
  // Six indexes, one lifecycle ([[layoutFor]]) and one serving path
  // ([[approxSearch]]). What each index contributes is only its build
  // recipe over the namespace's rows and its [[Layout]]: the candidate
  // frame for one query and for a batch.

  /** One built index layout. It proposes candidate ids — `__cid` for one
    * query, `(__qid, id)` pairs for a batch — and the live rows decide
    * what exists and what matches ([[rerank]], [[rerankBatch]]), so
    * mutations since the build still apply. `persist` writes the
    * candidate policy (probe lists, LUTs, beam output) next to the layout
    * for oracle replay: graded paths only, never serving (a per-request
    * overwrite would race concurrent probes). */
  private sealed abstract class Layout {
    def one(query: Seq[Float], persist: Boolean): DataFrame
    def many(queries: Seq[Seq[Float]], persist: Boolean): DataFrame
    /** The layout directory; None for the in-memory lsh and bq frames. */
    def dir: Option[String] = None
    /** The persisted frame a hit re-pins and a replacement unpersists. */
    def pinned: Option[DataFrame] = None
    /** The layout to serve now, given the epoch it was built at; None when
      * it must be rebuilt. Epoch-keyed: current only at its own epoch. */
    def servedAt(built: Long, namespace: String): Option[Layout] =
      if (built == epoch) Some(this) else None
    /** The layout to serve right after its build; None builds again. An
      * epoch-keyed layout serves its own build even when a mutation
      * landed mid-build (that mutation makes the NEXT search rebuild). */
    def fresh(built: Long, namespace: String): Option[Layout] = Some(this)
  }

  /** (index, namespace, dim) → (stamped epoch, layout). */
  private val layouts =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), (Long, Layout)]()

  /** Serializes builds per (index, namespace, dim): two same-key misses
    * racing would both `mode("overwrite")` the same epoch-suffixed
    * directory. Per key, so the indexes of one namespace, and one index
    * on different namespaces, build in parallel. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Object]()

  /** Layout builds paid by this store, per index — spec and `/stats`
    * hook (an hnsw insert → search must NOT rebuild; a repeat search on
    * any index builds nothing). */
  private[graft] val builds: Map[String, java.util.concurrent.atomic.AtomicInteger] =
    ApproxIndexes.Names.map(_ -> new java.util.concurrent.atomic.AtomicInteger(0)).toMap

  /** The one layout lifecycle, for all six indexes. A current entry
    * serves, its pinned frame re-pinned first: anything outside the store
    * may unpersist the session's blocks (a bench harness, an ops script),
    * and the contract is "build paid once per epoch", not a silent
    * recompute per search. Otherwise the key's build lock is taken and
    * the entry checked again, so a same-key loser reuses the winner's
    * build. The build reads (epoch, live) under the store monitor and
    * runs OUTSIDE it — a build is Spark jobs, and holding the monitor
    * would stall every writer — stamping the PRE-build epoch: a mutation
    * landing mid-build leaves the entry already stale, and the next
    * search rebuilds (a post-build stamp would mark pre-mutation layouts
    * current forever). Replacing an entry unpersists its pinned frame, so
    * rebuild epochs do not leak blocks; superseded directories stay on
    * disk (a concurrent probe may still read them; epoch-suffixed names
    * never collide). None when the namespace has no rows: an index
    * search over an empty namespace answers empty, like the exact path,
    * and the emptiness is not cached. */
  private def layoutFor(index: String, namespace: String, dim: Int,
                        attemptsLeft: Int = 3): Option[Layout] = {
    val key = (index, namespace, dim)
    def serveable: Option[Layout] = current(key).map { l =>
      l.pinned.foreach(graft.operators.StandingCache.ensurePinned)
      l
    }
    serveable.orElse(buildLocks.computeIfAbsent(key, _ => new Object).synchronized {
      serveable.orElse {
        val (e, snapshot) = synchronized { (epoch, live) }
        val rows = snapshot.filter(col("namespace") === namespace)
          .select(col("id"), col("values")).toDF()
        build(index, rows, e, namespace, dim).flatMap { l =>
          builds(index).incrementAndGet()
          Option(layouts.put(key, (e, l))).flatMap(_._2.pinned)
            .foreach(_.unpersist(blocking = false))
          l.fresh(e, namespace).orElse(
            if (attemptsLeft > 1) layoutFor(index, namespace, dim, attemptsLeft - 1)
            else Some(l))
        }
      }
    })
  }

  private def current(key: (String, String, Int)): Option[Layout] =
    Option(layouts.get(key)).flatMap { case (e, l) => l.servedAt(e, key._2) }

  private def build(index: String, rows: DataFrame, e: Long, namespace: String,
                    dim: Int): Option[Layout] = index match {
    case "lsh" => buildLsh(rows, dim)
    case "ivf" => buildIvf(rows, e, namespace, dim)
    case "imi" => buildImi(rows, e, namespace, dim)
    case "pq" => buildPq(rows, e, namespace, dim)
    case "bq" => buildBq(rows, dim)
    case "hnsw" => buildHnsw(rows, e, namespace, dim)
  }

  /** The directory of the current (index, namespace, dim) layout — lets
    * a grading harness point an external oracle at its tables (`assign/`
    * + `probes/`, `codes/` + `lut/`, `graph/` + `cands/`). None until a
    * search builds one, and None again after a mutation until the next
    * search rebuilds: the hook never names a layout the store would not
    * serve. */
  private[graft] def layoutDir(index: String, namespace: String, dim: Int): Option[String] =
    current((index, namespace, dim)).flatMap(_.dir)

  /** (stamped epoch, frame pinned?) of the (index, namespace, dim) entry,
    * current or not — spec hook for the convergence and no-leak checks. */
  private[graft] def layoutState(index: String, namespace: String,
                                 dim: Int): Option[(Long, Boolean)] =
    Option(layouts.get((index, namespace, dim))).map { case (e, l) =>
      (e, l.pinned.exists(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE))
    }

  private val processToken: String =
    ProcessHandle.current().pid().toString + "_" +
      UUID.randomUUID().toString.take(8)

  /** A layout root. When `conf` is set it MUST be a shared filesystem
    * (executors write the layout; probes, possibly from other executors,
    * read it back); unset falls back to a mkdtemp-private root, correct
    * for local mode only. The per-process token keeps concurrent stores
    * on one shared root from clobbering each other. */
  private def layoutRoot(conf: String, prefix: String, tmp: String): String =
    spark.conf.getOption(conf).map(_ + "/" + prefix + processToken)
      .getOrElse(java.nio.file.Files.createTempDirectory(tmp).toString)

  private lazy val ivfRoot =
    layoutRoot(graft.operators.Ann.IvfDirConf, "store_", "graft_store_ivf_")
  private lazy val imiRoot =
    layoutRoot(graft.operators.Ann.IvfDirConf, "store_imi_", "graft_store_imi_")
  private lazy val pqRoot =
    layoutRoot(graft.operators.Pq.PqDirConf, "store_", "graft_store_pq_")
  private lazy val hnswRoot =
    layoutRoot(graft.operators.Hnsw.HnswDirConf, "store_hnsw_", "graft_store_hnsw_")

  private def auxDir(root: String, namespace: String, e: Long, dim: Int): String =
    root + "/" + graft.PathToken.token(namespace) + s"_e${e}_d$dim"

  // ---- lsh: cached band signatures -------------------------------------

  /** The namespace's LSH band signatures, `persist()`ed and eagerly
    * materialized so repeated searches pay the signature pass once per
    * epoch — no disk, the right pick for hot, mutating namespaces. Built
    * for an empty namespace too (an empty frame): an lsh search always
    * has a layout. */
  private def buildLsh(rows: DataFrame, dim: Int): Option[Layout] = {
    val sigs = graft.operators.Ann.withBandSigs(rows, col("values"), dim)
      .select(col("id"), col("band"), col("bucket"))
      .persist()
    sigs.count() // materialize the signature pass once, eagerly
    Some(new LshLayout(sigs))
  }

  /** Candidates are ids sharing at least one band bucket with a query.
    * The query's buckets are computed on the driver (`Ann.bandBuckets`
    * runs the build's kernel, no Spark job), so one query is one
    * predicate over the cached frame, and a batch is ONE broadcast
    * (qid, band, bucket) probe frame joined to it — one signature scan
    * for the whole batch. An id matching in several bands repeats in a
    * single query's candidates; the rerank is set-shaped. */
  private final class LshLayout(sigs: DataFrame) extends Layout {
    override def pinned: Option[DataFrame] = Some(sigs)
    def one(query: Seq[Float], persist: Boolean): DataFrame =
      sigs.where(graft.operators.Ann.bandBuckets(query.toArray)
          .map { case (b, sig) => col("band") === b && col("bucket") === sig }
          .reduce(_ || _))
        .select(col("id").as("__cid"))
    def many(queries: Seq[Seq[Float]], persist: Boolean): DataFrame = {
      val probeDf = queries.zipWithIndex.flatMap { case (q, i) =>
        graft.operators.Ann.bandBuckets(q.toArray)
          .map { case (b, sig) => (i, b, sig) }
      }.toDF("__qid", "band", "bucket")
      sigs.join(broadcast(probeDf), Seq("band", "bucket"))
        .select(col("__qid"), col("id")).distinct()
    }
  }

  // ---- ivf and imi: cell-partitioned layouts ---------------------------

  private val IvfSeed = 42L

  /** The persisted inverted file, cells ≈ √n ([[graft.operators.Ann.ivfCellsFor]]),
    * sized per build from the namespace's row count: the ONE recipe,
    * shared with the offline q33 path (`Ann.buildIvfIndex`), so the
    * policy cannot drift between the two graded consumers. Right for
    * large, mostly-static namespaces: a probe reads ≈ 2/√cells of it. */
  private def buildIvf(rows: DataFrame, e: Long, namespace: String,
                       dim: Int): Option[Layout] = {
    val total = rows.count()
    if (total == 0) None
    else {
      val centers = graft.operators.Ann.trainQuantizer(rows, "id", "values",
        total, graft.operators.Ann.ivfCellsFor(total), IvfSeed)
      val aux = auxDir(ivfRoot, namespace, e, dim)
      graft.operators.Ann.writeInvertedFile(rows, "id", "values", centers, aux)
      // the probe count derives from this layout's own centroid count, so
      // probes always match the geometry of the layout they scan
      val nProbe = graft.operators.Ann.ivfProbeFor(centers.length)
      Some(new CellLayout(aux, centers.length,
        q => graft.operators.Ann.rankCells(q, centers, nProbe)))
    }
  }

  /** The two-level product grid (q94 as a serving path): the ONE q94
    * recipe (`Ann.buildImiIndex`'s policy: shared bounded sample,
    * per-half Lloyd's with the q94 seeds, `cell = lo·k + hi` in one
    * narrow fused pass) — k² cells from two k-codebook trainings, so the
    * grid reaches √n cells at a QUARTER-root training cost, the right
    * trade once a namespace outgrows what one flat Lloyd's can sample. */
  private def buildImi(rows: DataFrame, e: Long, namespace: String,
                       dim: Int): Option[Layout] = {
    val total = rows.count()
    if (total == 0) None
    else {
      val half = dim / 2
      val sample = graft.operators.Ann.sampleVectors(rows, "id", "values", total)
      val k = graft.operators.Ann.imiGridFor(total)
      val cLo = graft.operators.Ann.lloyds(sample.map(_.take(half)),
        k, iters = 5, seed = graft.operators.Ann.ImiSeedLo)
      val cHi = graft.operators.Ann.lloyds(sample.map(_.drop(half)),
        k, iters = 5, seed = graft.operators.Ann.ImiSeedHi)
      val loSeq: Seq[Seq[Float]] = cLo.map(_.toSeq).toSeq
      val hiSeq: Seq[Seq[Float]] = cHi.map(_.toSeq).toSeq
      val aux = auxDir(imiRoot, namespace, e, dim)
      rows.withColumn("cell",
          graft.functions.NearestCell(slice(col("values"), 1, half), loSeq) * lit(k) +
            graft.functions.NearestCell(slice(col("values"), half + 1, dim - half), hiSeq))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$aux/index")
      spark.read.parquet(s"$aux/index")
        .select(col("id"), col("cell"))
        .coalesce(1).write.mode("overwrite").parquet(s"$aux/assign")
      Some(new CellLayout(aux, cLo.length * cHi.length,
        q => graft.operators.Ann.imiProbeCells(q, cLo, cHi)))
    }
  }

  /** A cell-partitioned layout (ivf, imi): `probe` ranks a query's cells
    * on the driver (no Spark job); the candidates are the probed cells'
    * ids, partition-pruned on `cell`. A batch unions every query's probe
    * list into ONE pruned scan and joins the (qid, cell) probe table
    * back. Each id sits in exactly one cell: a single query has no
    * duplicates to drop. */
  private final class CellLayout(aux: String, val cells: Int,
                                 val probe: Array[Float] => Seq[Int]) extends Layout {
    override def dir: Option[String] = Some(aux)
    def one(query: Seq[Float], persist: Boolean): DataFrame = {
      val probed = probe(query.toArray)
      if (persist)
        probed.toDF("cell").coalesce(1)
          .write.mode("overwrite").parquet(s"$aux/probes")
      spark.read.parquet(s"$aux/index")
        .where(col("cell").isin(probed: _*))
        .select(col("id").as("__cid"))
    }
    def many(queries: Seq[Seq[Float]], persist: Boolean): DataFrame = {
      val probeRows = queries.zipWithIndex.flatMap { case (q, i) =>
        probe(q.toArray).map(c => (i, c))
      }
      val probeDf = probeRows.toDF("__qid", "cell")
      if (persist)
        probeDf.coalesce(1)
          .write.mode("overwrite").parquet(s"$aux/batch_probes")
      spark.read.parquet(s"$aux/index")
        .where(col("cell").isin(probeRows.map(_._2).distinct: _*))
        .join(broadcast(probeDf), Seq("cell"))
        .select(col("__qid"), col("id")).distinct()
    }
  }

  // ---- pq: compressed codes table ---------------------------------------

  /** OPQ rotation gate: on, the PQ build rotates the namespace by the
    * Ge-et-al. parametric OPQ rotation ([[graft.operators.Opq.rotationFor]]
    * — PCA basis + eigenvalue allocation from the shared bounded sample)
    * before codebook training and encoding, and every probe rotates its
    * query the same way — the pinned 0.735 → 0.990 recall gain (OpqSpec)
    * at IDENTICAL serving cost (the LUT is computed against the rotated
    * codebook; the ADC sweep is byte-for-byte the same plan). The
    * rotation is baked into the persisted `codebook/` + `codes/` +
    * per-query `lut/`, so the q61/q109 oracles replay unchanged; `rot/`
    * persists beside them for the rotation-graded q147 replay. Off (or a
    * dim not divisible by [[graft.operators.Pq.SubSpaces]]) serves raw
    * PQ, kept togglable for the recall A/B (StoreOpqSpec). */
  private def pqRotateEnabled: Boolean =
    spark.conf.getOption(graft.operators.Opq.RotateConf).forall(_.toBoolean)

  /** OPQ rotation first (when enabled and the dim divides), then the ONE
    * codebook recipe, shared with the offline q58 path (`Pq.buildPqIndex`)
    * so the policy cannot drift — the rotated frame flows through
    * training and encoding with the same column names. */
  private def buildPq(rows: DataFrame, e: Long, namespace: String,
                      dim: Int): Option[Layout] = {
    val total = rows.count()
    if (total == 0) None
    else {
      val aux = auxDir(pqRoot, namespace, e, dim)
      val rot =
        if (pqRotateEnabled)
          graft.operators.Opq.rotationFor(rows, "id", "values", total, dim)
        else None
      val enc = rot.map { r =>
        rows.select(col("id"), graft.operators.Opq.rotateCol(r)(col("values")).as("values"))
      }.getOrElse(rows)
      val codebook = graft.operators.Pq.trainCodebooks(enc, "id", "values", total, dim)
      rot.foreach(r => graft.operators.Opq.writeRotation(spark, r, s"$aux/rot"))
      graft.operators.Pq.writeCodebook(spark, codebook, s"$aux/codebook")
      graft.operators.Pq.writeCodes(enc, "id", "values", codebook, aux)
      Some(new PqLayout(aux, codebook.map(_.map(_.toArray).toArray).toArray, rot))
    }
  }

  /** One ADC sweep of the codes table (a table-lookup sum per row — at
    * scale it reads ~32× fewer bytes than a vector scan), cut to
    * [[graft.operators.Pq.CandN]] on ascending (rounded ADC, id). The
    * LUTs ride as a broadcast frame, not literals, so every request's
    * plan is textually identical and whole-stage codegen compiles the
    * sweep once per JVM (`Pq.adcCol`). A batch sweeps the table ONCE for
    * all its queries; its per-query cut is [[graft.functions.TopKAgg]]'s
    * bounded heap, map-side combined to Q×CandN rows. */
  private final class PqLayout(aux: String, codebook: Array[Array[Array[Float]]],
                               val rotation: Option[Array[Array[Float]]]) extends Layout {
    override def dir: Option[String] = Some(aux)
    /** The query's ADC table in the layout's (possibly rotated) space. */
    private def lut(q: Seq[Float]) = graft.operators.Pq.lutFor(
      rotation.map(graft.operators.Opq.rotateQuery(_, q.toArray)).getOrElse(q.toArray),
      codebook)
    private def sweep(lutFrame: DataFrame): DataFrame =
      spark.read.parquet(s"$aux/codes")
        .crossJoin(broadcast(lutFrame))
        .withColumn("adc", graft.operators.Pq.adcCol)
    def one(query: Seq[Float], persist: Boolean): DataFrame = {
      val luts = Seq((0L, lut(query)))
      if (persist) graft.operators.Pq.writeLuts(spark, luts, s"$aux/lut")
      sweep(graft.operators.Pq.lutFrame(spark, luts).select(col("lut")))
        .orderBy(col("adc"), col("id"))
        .limit(graft.operators.Pq.CandN)
        .select(col("id").as("__cid"))
    }
    def many(queries: Seq[Seq[Float]], persist: Boolean): DataFrame = {
      val luts = queries.zipWithIndex.map { case (q, i) => (i.toLong, lut(q)) }
      if (persist) graft.operators.Pq.writeLuts(spark, luts, s"$aux/batch_lut")
      sweep(graft.operators.Pq.lutFrame(spark, luts))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk(col("adc"), col("id"),
          graft.operators.Pq.CandN, descending = false).as("top"))
        .select(col("qid").cast("int").as("__qid"), explode(col("top.id")).as("id"))
    }
  }

  /** The rotation the current PQ layout was built with (None = raw PQ) —
    * spec/oracle hook with [[layoutDir]]'s currency rule. */
  private[graft] def pqRotation(namespace: String, dim: Int): Option[Array[Array[Float]]] =
    current(("pq", namespace, dim)).collect { case p: PqLayout => p.rotation }.flatten

  // ---- bq: sign-bit codes, hamming prefilter ----------------------------

  private[graft] val BqCandN = 50

  /** The per-dim midpoint grid plus a persisted (id, code: array<bigint>)
    * frame — ceil(dim/64) BIGINT words per vector, 1 bit/dim. BQ is the
    * CHEAPEST index to rebuild (one dim-sized stats pass + a narrow
    * per-row fold), which is exactly why it suits hot mutating
    * namespaces where even the LSH signature pass per epoch is felt. The
    * stats are dim-sized and order-independent (the q81/q95 contract):
    * the grid is bit-deterministic under any partitioning. */
  private def buildBq(rows: DataFrame, dim: Int): Option[Layout] = {
    val stats = rows
      .select(posexplode(col("values")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    if (stats.isEmpty) None
    else {
      val mids = stats.map(r => (r.getFloat(1).toDouble + r.getFloat(2).toDouble) / 2.0)
      val codes = rows
        .withColumn("mids", typedLit(mids.toSeq))
        .withColumn("code", expr(graft.operators.Bq.packExprSql(dim, "values", "mids")))
        .select(col("id"), col("code"))
        .persist()
      codes.count() // materialize the packing pass once, eagerly
      Some(new BqLayout(mids, codes))
    }
  }

  /** Codes ranked by hamming distance to the query's sign bits (one
    * `bit_count(xor)` per word — at scale 32× fewer bytes than the
    * vectors), cut to [[BqCandN]] on ascending (hamming, id): integer
    * valued, no float tie boundary. The query codes ride as a broadcast
    * frame so every request compiles the same plan; a batch sweeps the
    * codes once, cut per query by the bounded-heap aggregate. */
  private final class BqLayout(mids: Array[Double], codes: DataFrame) extends Layout {
    override def pinned: Option[DataFrame] = Some(codes)
    def words: Int = (mids.length + 63) / 64
    private def hamming(qFrame: DataFrame): DataFrame =
      codes.crossJoin(broadcast(qFrame))
        .withColumn("ham", graft.functions.AdcKernels.hammingWords(col("code"), col("qcode")))
    def one(query: Seq[Float], persist: Boolean): DataFrame =
      hamming(Seq(Tuple1(graft.operators.Bq.packBits(query, mids).toSeq)).toDF("qcode"))
        .orderBy(col("ham"), col("id"))
        .limit(BqCandN)
        .select(col("id").as("__cid"))
    def many(queries: Seq[Seq[Float]], persist: Boolean): DataFrame =
      hamming(queries.zipWithIndex.map { case (q, i) =>
          (i, graft.operators.Bq.packBits(q, mids).toSeq)
        }.toDF("qid", "qcode"))
        .groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.topk(col("ham").cast("double"),
          col("id"), BqCandN, descending = false).as("top"))
        .select(col("qid").as("__qid"), explode(col("top.id")).as("id"))
  }

  /** Word count of the current (namespace, dim) BQ codes — spec hook. */
  private[graft] def bqWordCount(namespace: String, dim: Int): Option[Int] =
    current(("bq", namespace, dim)).collect { case b: BqLayout => b.words }

  /** Cell count of the current (namespace, dim) IVF layout — spec hook for
    * the geometry-scales-with-namespace-size assertion. */
  private[graft] def ivfCellCount(namespace: String, dim: Int): Option[Int] =
    current(("ivf", namespace, dim)).collect { case c: CellLayout => c.cells }

  // ---- hnsw: sharded small-world graphs, incremental --------------------
  //
  // The one index whose layout is NOT epoch-keyed: the graphs keep
  // serving across mutations (the durable mount's q123 discipline — a
  // layout at a stamp plus an exact delta tail). Inserts since the build
  // ride as extra candidates, deletes die in the filtered-live semi-join
  // they always died in (a deleted intermediate node still routes the
  // beam — it just cannot be a candidate), and a full rebuild happens
  // only when the mutation mass crosses [[HnswStaleRatio]] or a bulk
  // frame load lands (no driver-side id list → poison).

  /** Per-namespace mutation ledger since the last graph build. Every
    * entry is EPOCH-STAMPED under the store monitor — the same lock that
    * assigns commit epochs — so "since the build" is an exact epoch
    * comparison, immune to the race between a build's snapshot and a
    * concurrent commit (an entry recorded at an epoch ≤ the snapshot's
    * is already in the graph; one recorded later serves as delta; at
    * worst a row appears in both, which the candidate-union dedups). */
  private final class HnswLedger {
    val inserts = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val deletes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var poisonedAt = -1L
  }

  private val hnswLedgers =
    new java.util.concurrent.ConcurrentHashMap[String, HnswLedger]()

  private def hnswLedger(ns: String): HnswLedger =
    hnswLedgers.computeIfAbsent(ns, _ => new HnswLedger)

  private def logHnswInserts(ns: String, ids: Seq[String]): Unit =
    synchronized { if (ids.nonEmpty) hnswLedger(ns).inserts += ((epoch, ids)) }

  private def logHnswDeletes(ns: String, n: Long): Unit =
    synchronized { if (n > 0) hnswLedger(ns).deletes += ((epoch, n)) }

  private def poisonHnsw(ns: String): Unit =
    synchronized { hnswLedger(ns).poisonedAt = epoch }

  /** Mutation mass (inserts + deletes since the build) above this
    * fraction of the built rows triggers a rebuild — the durable mount's
    * staleness-trigger idea; below it the delta tail serves. */
  private val HnswStaleRatio = 0.2

  /** The ids inserted into `namespace` since a build at `built` over
    * `builtRows` rows; None when the ledger was poisoned after the build
    * or the mutation mass crossed [[HnswStaleRatio]]. */
  private def hnswDelta(namespace: String, built: Long,
                        builtRows: Long): Option[Seq[String]] = synchronized {
    Option(hnswLedgers.get(namespace)) match {
      case None => Some(Seq.empty)
      case Some(l) if l.poisonedAt > built => None
      case Some(l) =>
        val delta = l.inserts.filter(_._1 > built).flatMap(_._2).toSeq
        val dels = l.deletes.filter(_._1 > built).map(_._2).sum
        if (delta.size + dels > HnswStaleRatio * builtRows) None else Some(delta)
    }
  }

  /** The ONE per-shard recipe ([[graft.operators.Hnsw.shardNodes]]:
    * sorted insertion, md5 levels, closest-M linking) applied to the
    * namespace — hash-sharded into bounded graphs built inside
    * `flatMapGroups` (one shuffle), persisted shard-partitioned. No
    * trained state at all: the graph is the index, so its rebuild never
    * drifts from the data distribution — the reference's own choice
    * (`implementations/index.py:17-165`, hnswlib) served
    * shard-at-a-time. */
  private def buildHnsw(rows: DataFrame, e: Long, namespace: String,
                        dim: Int): Option[Layout] = {
    val total = rows.count()
    if (total == 0) None
    else {
      val s = graft.operators.Hnsw.shardsFor(total, graft.operators.Hnsw.shardRows(spark))
      val aux = auxDir(hnswRoot, namespace, e, dim)
      rows.withColumn("shard", pmod(xxhash64(col("id")), lit(s)).cast("int"))
        .select(col("shard"), col("id"), col("values"))
        .as[(Int, String, Array[Float])]
        .groupByKey(_._1)
        .flatMapGroups { (shard, it) =>
          graft.operators.Hnsw.shardNodes(it.map(t => (t._2, t._3)).toArray)
            .iterator.map { case (id, vec, lev, nbrs) =>
              graft.operators.Hnsw.HnswNodeS(shard, id, vec.toSeq, lev, nbrs.toSeq.map(_.toSeq))
            }
        }
        .toDF().write.mode("overwrite").partitionBy("shard")
        .parquet(s"$aux/graph")
      // trim ledger entries the snapshot absorbed (pure GC — the epoch
      // stamps already make them non-delta for this build)
      synchronized {
        Option(hnswLedgers.get(namespace)).foreach { l =>
          l.inserts.filterInPlace(_._1 > e)
          l.deletes.filterInPlace(_._1 > e)
        }
      }
      Some(new HnswLayout(aux, total, Seq.empty))
    }
  }

  /** Per-shard beam searches over the persisted graphs (shuffle-free
    * coalesced scans), plus the delta tail: rows inserted since the
    * build are candidates for every query (they are in no graph). A
    * batch beam-searches each shard graph ONCE for all its queries.
    * Filters apply at the rerank (plus the uniform starved rescue): these
    * graph nodes are record-LIGHT by design (id/vec/level/nbrs — the
    * layout serves a mutable store), so the durable mount's
    * predicate-aware ACORN beam does not apply; selective filters
    * against a graph index serve from the durable mount, whose nodes
    * carry metadata. */
  private final class HnswLayout(aux: String, builtRows: Long,
                                 delta: Seq[String]) extends Layout {
    override def dir: Option[String] = Some(aux)
    override def servedAt(built: Long, namespace: String): Option[Layout] =
      hnswDelta(namespace, built, builtRows).map(new HnswLayout(aux, builtRows, _))
    /** Re-evaluating the just-built graph propagates any insert delta
      * that raced in during the build. None means a concurrent bulk load
      * poisoned the ledger past the build's epoch (no id list to serve as
      * delta), or the raced mutation mass already crossed the ratio: both
      * need a fresh build over the newer snapshot, not this graph with a
      * silently-empty delta. The retry is bounded; its terminal fallback
      * only fires for a caller that poisons during every rebuild. */
    override def fresh(built: Long, namespace: String): Option[Layout] =
      servedAt(built, namespace)
    private def persisted(cands: DataFrame, sub: String, persist: Boolean): DataFrame =
      if (!persist) cands
      else {
        cands.coalesce(1).write.mode("overwrite").parquet(s"$aux/$sub")
        spark.read.parquet(s"$aux/$sub")
      }
    def one(query: Seq[Float], persist: Boolean): DataFrame = {
      val beam = graft.operators.Hnsw.shardCandidatesS(spark, aux, query.toArray)
      persisted(if (delta.isEmpty) beam else beam.unionByName(delta.toDF("id")).distinct(),
        "cands", persist).select(col("id").as("__cid"))
    }
    def many(queries: Seq[Seq[Float]], persist: Boolean): DataFrame = {
      val beam = graft.operators.Hnsw.shardCandidatesBatchS(spark, aux, queries)
      persisted(
        if (delta.isEmpty) beam
        else beam.unionByName(queries.indices.toDF("__qid").crossJoin(delta.toDF("id"))).distinct(),
        "batch_cands", persist)
    }
  }

  private def collectHits(df: DataFrame): Seq[SearchHit] =
    df.select(col("id"), col("score"), col("values"), col("metadata"),
        col("metadataJson"))
      .as[SearchHit].collect().toSeq

  private def ranked(df: DataFrame, metric: String): DataFrame =
    Scoring.ranked(df, metric)

  /** Plan-time disclosure of the branch [[findSimilar]] WOULD take for
    * these arguments, without executing the search — the live half of
    * the reference's documented-but-unimplemented `POST /query/explain`
    * (`README.md:332`; see [[DurableVectorStore.explainSearch]] for the
    * durable half and the design notes). Peeks the starvation cache and
    * the requested index's layout (no derivation, no counters advanced)
    * and PLANS (never runs) the authoritative scan. Live layouts are
    * epoch-cached, so a mutation since the last probe means the next
    * search re-derives them — disclosed in `notes`, not silently. */
  def explainSearch(query: Seq[Float], k: Int = 10,
                    metric: String = "cosine",
                    namespace: String = "default",
                    filter: Map[String, String] = Map.empty,
                    jsonFilter: Map[String, String] = Map.empty,
                    approx: Boolean = false,
                    index: String = "lsh"): graft.model.SearchExplain = {
    require(k >= 1 && k <= 1000, "top_k must be in [1, 1000]")
    if (approx) ApproxIndexes.requireMetric(index, metric, batch = false, durable = false)
    val hasFilter = filter.nonEmpty || jsonFilter.nonEmpty
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val epoch0 = epoch
    val starved = approx && hasFilter &&
      Option(starvedFilters.get((namespace, filterKey(filter, jsonFilter))))
        .exists { case (ep, m) => ep == epoch0 && m < k }
    val layout = if (approx) current((index, namespace, query.length)) else None
    val branch =
      if (!approx) "exact"
      else if (starved) "starved-skip-exact"
      else {
        if (layout.isEmpty)
          notes += s"no current '$index' layout; the first search derives it over the live namespace snapshot"
        if (hasFilter)
          notes += "predicate binds at candidate time; a probe starved below k rescues from the exact filtered scan"
        "indexed-probe"
      }
    val bound = snapshotBound
    notes += (currentSnapshot(namespace) match {
      case Some(Some(snap)) =>
        val on = s"on the driver snapshot (epoch ${snap.epoch}, ${snap.rows} rows)"
        (if (branch == "indexed-probe") s"reranks the index's candidate ids $on"
         else s"scores $on with no Spark job") +
          s"; the plan below serves namespaces above $bound rows"
      case Some(None) =>
        s"serves from Spark: the namespace holds more than $bound rows, the driver snapshot bound"
      case None =>
        s"no epoch-current driver snapshot: the next search collects the namespace once and serves from it if it holds at most $bound rows, else from Spark"
    })
    graft.model.SearchExplain(
      mount = "live", branch = branch,
      index = if (approx) Some(index) else None,
      metric = metric, k = k, filtered = hasFilter, asOf = None,
      layoutCached = layout.isDefined,
      layoutBuiltSeq = None,
      probedCells =
        if (starved) Seq.empty
        else layout.collect { case c: CellLayout => c.probe(query.toArray) }
          .getOrElse(Seq.empty),
      starvedSkip = starved,
      // the authoritative exact search's formatted physical plan — for
      // an indexed probe this is the rerank/rescue shape; the probe's
      // own pruning is disclosed via probedCells/notes
      plan = ranked(scored(query, metric, namespace, filter, jsonFilter),
        metric).limit(k).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
      notes = notes.toSeq)
  }

  /** Top-k similarity search (`query_processor.py:26-49`).
    *
    * `approx = false` (default) is the exact scan. `approx = true` routes
    * through a store-attached index ([[approxSearch]]): candidate
    * generation on the index's layout, then EXACT rerank of the
    * candidates — the index-backed read path the reference serves every
    * query from (`index.py:91-129`), with the same contract as any ANN
    * index: perfect precision on returned scores, recall set by the
    * candidate policy. Cosine only (the layouts hash or quantize angular
    * structure; an l2/ip request must use the exact path, matching
    * hnswlib, where the index is built for one space). Vectors in the
    * namespace must share the query's dimensionality, as in the
    * reference's fixed-dim index.
    *
    * `index` picks the candidate generator — the store-side analogue of
    * the reference's one-index-per-namespace read path
    * (`index.py:19,91-129`), except the index KIND is a request
    * parameter:
    *  - "lsh" (default): cached band signatures — no disk; right for
    *    hot, mutating namespaces.
    *  - "ivf": the persisted cell-partitioned inverted file — right for
    *    large, mostly-static namespaces.
    *  - "pq": the compressed codes table — an ADC sweep reading ~32×
    *    fewer bytes than a vector scan.
    *  - "bq": sign-bit codes, 1 bit/dim — hamming prefilter; the
    *    cheapest index to REBUILD.
    *  - "imi": the two-level product grid — √n cells at a quarter-root
    *    training cost.
    *  - "hnsw": sharded small-world graphs — no trained state, and the
    *    one index that keeps serving across writes (a delta tail). */
  def findSimilar(query: Seq[Float], k: Int = 10, metric: String = "cosine",
                  namespace: String = "default",
                  filter: Map[String, String] = Map.empty,
                  jsonFilter: Map[String, String] = Map.empty,
                  approx: Boolean = false,
                  index: String = "lsh"): Seq[SearchHit] =
    if (approx)
      approxSearch(index, batch = false, Seq(query), k, metric, namespace,
        filter, jsonFilter, persist = false).head
    else {
      require(k >= 1 && k <= 1000, "top_k must be in [1, 1000]") // rest_api.py:24
      exactTopK(query, k, metric, namespace, filter, jsonFilter)
    }

  /** The one indexed read — six indexes × {single, batch}, graded or
    * serving (the durable mount's `approxSearch` → `serve` shape):
    *  1. validation, BEFORE the starvation short-circuit: the same
    *     invalid request fails identically whether or not a starvation
    *     fact happens to be cached;
    *  2. STARVED SKIP (single query, filtered): a recorded < k
    *     matching-row count for this (namespace, filter) at the current
    *     epoch means the probe cannot saturate and the rescue would run
    *     anyway, so the exact filtered scan answers directly — one scan
    *     instead of probe + scan on every query of a steady state;
    *  3. the index's layout ([[layoutFor]]) proposes candidates, the live
    *     rows rerank them ([[rerank]], [[rerankBatch]]); a batch over a
    *     namespace with no layout answers empty lists;
    *  4. STARVED RESCUE (filtered): a query whose filtered candidates came
    *     up short of k is re-answered by the exact filtered scan (one
    *     batch for the batch's starved queries) — the codes/beam cuts
    *     choose candidates by geometry before the filter, so probed
    *     cells/buckets may simply not hold the matching rows; the caller
    *     always gets min(k, matching-live-rows). A rescue that itself
    *     comes up short has PROVED the namespace holds < k matching rows,
    *     a fact about (namespace, filter) alone, recorded against the
    *     pre-probe epoch for step 2 (a geometry-starved probe whose rescue
    *     does find k hits is query-dependent and not recorded). */
  private def approxSearch(index: String, batch: Boolean,
                           queries: Seq[Seq[Float]], k: Int, metric: String,
                           namespace: String, filter: Map[String, String],
                           jsonFilter: Map[String, String],
                           persist: Boolean): Seq[Seq[SearchHit]] = {
    ApproxIndexes.requireMetric(index, metric, batch, durable = false)
    if (batch) ApproxIndexes.requireBatch(queries, k)
    else require(k >= 1 && k <= 1000, "top_k must be in [1, 1000]")
    val hasFilter = filter.nonEmpty || jsonFilter.nonEmpty
    val skey = (namespace, filterKey(filter, jsonFilter))
    val epoch0 = epoch
    if (!batch && hasFilter &&
        Option(starvedFilters.get(skey)).exists { case (ep, m) => ep == epoch0 && m < k }) {
      starvedProbeSkips.incrementAndGet()
      return Seq(exactTopK(queries.head, k, metric, namespace, filter, jsonFilter))
    }
    val layout = layoutFor(index, namespace, queries.head.length)
    val hits =
      if (!batch)
        Seq(rerank(layout.map(_.one(queries.head, persist)), queries.head, k,
          namespace, filter, jsonFilter))
      else layout match {
        case None => return Seq.fill(queries.size)(Seq.empty)
        case Some(l) =>
          rerankBatch(l.many(queries, persist), queries, k, namespace, filter, jsonFilter)
      }
    val starved = if (hasFilter) hits.indices.filter(hits(_).size < k) else Seq.empty
    if (starved.isEmpty) hits
    else {
      val qs = starved.map(queries)
      val rescued =
        if (batch) exactBatch(qs, k, metric, namespace, filter, jsonFilter)
        else qs.map(exactTopK(_, k, metric, namespace, filter, jsonFilter))
      val short = rescued.map(_.size).filter(_ < k)
      if (short.nonEmpty) starvedFilters.put(skey, (epoch0, short.max))
      val byIdx = starved.zip(rescued).toMap
      hits.indices.map(i => byIdx.getOrElse(i, hits(i)))
    }
  }

  /** Starvation facts: (namespace, canonical filter) → (epoch, matching
    * rows observed by a rescue that itself returned < k). A rescue
    * proves the namespace holds exactly that many matching rows — a
    * STEADY state, not a transient — so while the epoch stands, a single
    * filtered search routes straight to the exact scan instead of paying
    * probe + scan per query forever. Any mutation bumps the epoch and
    * naturally invalidates every entry (epoch equality is required at
    * read); no explicit eviction. Batches record here too but do not
    * short-circuit (a batch pays one shared probe, so the steady-state
    * double cost is per batch, not per query). */
  private val starvedFilters =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Int)]()

  /** Probe skips served by the starvation cache — the branch indicator
    * for specs (the [[graft.store.DurableVectorStore.exactRescues]]
    * pattern). */
  private[graft] val starvedProbeSkips =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Canonical cache key for a (filter, jsonFilter) pair. Components are
    * LENGTH-PREFIXED: a plain `mkString` of tuple toStrings is ambiguous
    * (Map("a" -> "x)&(b,y") and Map("a" -> "x", "b" -> "y") would
    * collide), and a collision would route a saturated filter through
    * the other filter's starvation skip — correct results, but the probe
    * permanently forfeited. */
  private def filterKey(filter: Map[String, String],
                        jsonFilter: Map[String, String]): String = {
    def enc(m: Map[String, String]): String =
      m.toSeq.sorted
        .map { case (k, v) => s"${k.length}:$k=${v.length}:$v" }
        .mkString("&")
    enc(filter) + "|" + enc(jsonFilter)
  }

  /** Batched exact search: result(i) answers queries(i) — ONE namespace
    * scan for the whole batch via [[Scoring.batchSearch]] (bounded-heap
    * per-query top-k, map-side combined), instead of Q sequential
    * [[findSimilar]] scans. */
  def findSimilarBatch(queries: Seq[Seq[Float]], k: Int = 10,
                       metric: String = "cosine",
                       namespace: String = "default",
                       filter: Map[String, String] = Map.empty,
                       jsonFilter: Map[String, String] = Map.empty): Seq[Seq[SearchHit]] = {
    require(k >= 1 && k <= 1000, "top_k must be in [1, 1000]")
    require(queries.nonEmpty && queries.size <= Scoring.InListMax,
      s"batch size must be in [1, ${Scoring.InListMax}]") // bounds the
    // query broadcast and the Q×k driver-side result like top_k does
    exactBatch(queries, k, metric, namespace, filter, jsonFilter)
  }

  /** Batched APPROX search through the IVF layout (the q74 one-scan
    * thesis applied to the INDEXED path): all Q probe lists are ranked
    * on the driver, their cells union into ONE partition-pruned scan of
    * the inverted file, and each query's candidates flow into the
    * candidate-restricted batch kernel ([[Scoring.batchSearchCandidates]])
    * against the FILTERED live set. Positional, cosine, exact rerank —
    * each entry equals the single-query `index="ivf"` answer.
    * `persistProbes` writes the (qid, cell) probe table next to the
    * layout for oracle replay — graded paths only. Every other index's
    * batch form is [[searchBatch]]. */
  def findSimilarBatchIvf(queries: Seq[Seq[Float]], k: Int = 10,
                          namespace: String = "default",
                          filter: Map[String, String] = Map.empty,
                          jsonFilter: Map[String, String] = Map.empty,
                          persistProbes: Boolean = false): Seq[Seq[SearchHit]] =
    approxSearch("ivf", batch = true, queries, k, "cosine", namespace, filter,
      jsonFilter, persistProbes)

  /** Every batch route in one call — exact, or through any of the six
    * indexes — as the REST batch route serves it. Each index's batch
    * unions its queries' probes into ONE sweep of the layout (probe
    * lists, LUTs, query codes, beam queries, band buckets), positional
    * and cosine. The exact and ivf forms go through their own public
    * methods, so a subclass that overrides them sees the calls. */
  private[graft] def searchBatch(queries: Seq[Seq[Float]], k: Int = 10,
                                 metric: String = "cosine",
                                 namespace: String = "default",
                                 filter: Map[String, String] = Map.empty,
                                 jsonFilter: Map[String, String] = Map.empty,
                                 approx: Boolean = false,
                                 index: String = "ivf"): Seq[Seq[SearchHit]] =
    if (!approx) findSimilarBatch(queries, k, metric, namespace, filter, jsonFilter)
    else {
      ApproxIndexes.requireMetric(index, metric, batch = true, durable = false)
      if (index == "ivf") findSimilarBatchIvf(queries, k, namespace, filter, jsonFilter)
      else approxSearch(index, batch = true, queries, k, metric, namespace, filter,
        jsonFilter, persist = false)
    }

  /** The indexed read behind the oracle-graded queries
    * ([[graft.operators.StoreOps]], [[graft.multimodal.MediaVectorSearch]]):
    * exactly what [[findSimilar]] with `approx = true` or [[searchBatch]]
    * serve, unfiltered, with the index's candidate policy persisted next
    * to its layout for oracle replay. Serving calls must not use it: the
    * write is a per-request overwrite and would race concurrent searches. */
  private[graft] def gradedSearch(index: String, batch: Boolean,
                                  queries: Seq[Seq[Float]], k: Int,
                                  namespace: String): Seq[Seq[SearchHit]] =
    approxSearch(index, batch, queries, k, "cosine", namespace, Map.empty,
      Map.empty, persist = true)

  /** Range search: all vectors with DISTANCE ≤ r (README.md:216). For the
    * cosine metric the stored score is a *similarity*, so the distance
    * predicate is `1 − sim ≤ r` (hnswlib's cosine distance) — filtering
    * `score ≤ r` there would return the farthest vectors. */
  def rangeSearch(query: Seq[Float], r: Double, metric: String = "l2",
                  namespace: String = "default",
                  filter: Map[String, String] = Map.empty): Seq[SearchHit] =
    if (metric == "cosine")
      thresholded(query, metric, namespace, filter,
        lit(1.0) - col("score") <= r, s => compareDoubles(1.0 - s, r) <= 0)
    else
      thresholded(query, metric, namespace, filter,
        col("score") <= r, s => compareDoubles(s, r) <= 0)

  /** Similarity-threshold search: cosine sim ≥ t, descending
    * (`examples/api_client.py:50-63`). */
  def thresholdSearch(query: Seq[Float], t: Double,
                      namespace: String = "default",
                      filter: Map[String, String] = Map.empty): Seq[SearchHit] =
    thresholded(query, "cosine", namespace, filter,
      col("score") >= t, s => compareDoubles(s, t) >= 0)

  /** Every filtered row whose score passes the cut, in ranked order: on
    * the snapshot, or as one collect of the Spark-filtered rows ordered
    * on the driver (the rows come back whole either way, so a global
    * sort in Spark would only add a sample and a shuffle). `keep` is the
    * driver form of `cut`, under Spark's double comparison. */
  private def thresholded(query: Seq[Float], metric: String, namespace: String,
                          filter: Map[String, String], cut: Column,
                          keep: Double => Boolean): Seq[SearchHit] =
    snapshot(namespace) match {
      case Some(snap) => snap.matching(query, metric, filter, keep)
      case None => Scoring.sortHits(
        collectHits(scored(query, metric, namespace, filter).where(cut)), metric)
    }

}

object VectorStore {

  /** Namespaces of at most this many rows serve every live search from a
    * driver snapshot instead of a Spark job: the reference's capacity per
    * namespace (`index.py:37`, `max_elements=10_000`), so every namespace
    * the reference can hold serves here without a job. One collect of
    * this size is a few MB of vectors at the reference's dimensions. */
  val SnapshotMaxRows = 10000
}
