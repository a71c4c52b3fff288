package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det
import graft.sources.Tables
import graft.store.VectorStore

/** q45: the MUTATION surface behind the correctness gate. Every other
  * graded query reads static parquet; this one executes the live
  * [[VectorStore]] facade end-to-end — bulk load, overwrite-by-id,
  * delete-with-report, then a top-k search over the mutated state — the
  * flows the reference's richest tests exercise
  * (`tests/test_storage_engine_in_memory.py:46-106`,
  * `tests/test_query_processor.py:88-105`). The script is deterministic
  * (caller-supplied ids, vectors taken from the embeddings table), so a
  * DuckDB oracle can replay the same mutations relationally and the
  * driver's hash compare grades the whole facade, not a static filter.
  */
object StoreOps {

  private val LoadN = 200L        // ids "0".."199" hydrate the store
  private val UpsertId = "7"      // overwritten with vec 400's embedding
  private val UpsertSrc = 400L
  private val DeleteIds = Seq("3", "5")
  private val QueryId = 1L
  private val K = 10
  private val Ns = "q45"

  private def dotSql(a: String, b: String): String =
    graft.functions.Det.dotSql(a, b)
  private def cosSql(a: String, b: String): String =
    graft.functions.Det.cosSql(a, b)

  /** The embedding of row `id` of the embeddings frame `e` — the query
    * vector every graded search reads. */
  private def vecOf(e: DataFrame, id: Long): Seq[Float] =
    e.where(col("vec_id") === id)
      .select(col("embedding")).collect()(0).getSeq[Float](0)

  /** The batch queries: rows `vec_id < BatchQn` of `e` in vec_id order,
    * so a query's position is its vec_id (the oracles' qid). */
  private def batchOf(e: DataFrame): Seq[Seq[Float]] =
    e.where(col("vec_id") < BatchQn)
      .orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0)).toSeq

  /** Ranked hits → the graded (rank, id, score) frame; the score is
    * rounded for the report only (ranking used the raw score). */
  private def dfFrame(spark: SparkSession,
                      hits: Seq[graft.model.SearchHit]): DataFrame = {
    import spark.implicits._
    hits.zipWithIndex
      .map { case (h, i) => (i + 1, h.id, h.score) }
      .toDF("rank", "id", "score")
      .withColumn("score", Det.r4(col("score")))
      .orderBy("rank")
  }

  /** Positional batch hits → the graded (qid, rank, id, score) frame. */
  private def batchHitsFrame(spark: SparkSession,
                             res: Seq[Seq[graft.model.SearchHit]]): DataFrame = {
    import spark.implicits._
    res.zipWithIndex.flatMap { case (hits, qi) =>
      hits.zipWithIndex.map { case (h, r) => (qi, r + 1, h.id, h.score) }
    }.toDF("qid", "rank", "id", "score")
      .withColumn("score", Det.r4(col("score")))
      .orderBy("qid", "rank")
  }

  /** In-script parity gates, once per (query, dir) — see
    * [[graft.ParityGate]]. */
  private val parityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Once per (`key`, dir): the batch answer for `qs` equals, position
    * by position, Q single-query searches — ids and raw scores. */
  private def batchParity(key: String, dir: String)(
      qs: => Seq[Seq[Float]],
      batch: Seq[Seq[Float]] => Seq[Seq[graft.model.SearchHit]],
      single: Seq[Float] => Seq[graft.model.SearchHit]): Unit =
    graft.ParityGate.once(parityChecked, s"$key|$dir") {
      val q = qs
      val res = batch(q)
      q.indices.foreach { i =>
        require(res(i).map(h => (h.id, h.score)) ==
          single(q(i)).map(h => (h.id, h.score)),
          s"$key batch result $i diverged from the single-query search")
      }
    }

  def q45(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = new VectorStore(spark)

    // 1. bulk load: one commit, ids are the vec_ids as strings
    store.loadFrame(
      e.where(col("vec_id") < LoadN)
        .select(col("vec_id").cast("string").as("id"),
          col("embedding").as("values")),
      Ns)

    // 2. overwrite-by-id: id "7" takes vec 400's embedding (one commit)
    val newVals = vecOf(e, UpsertSrc)
    store.upsert(UpsertId, newVals, namespace = Ns)

    // 3. delete with per-id report — the report itself is asserted here
    val deleted = store.delete(DeleteIds, Ns)
    require(deleted.sorted == DeleteIds.sorted,
      s"delete reported $deleted, expected $DeleteIds")

    // 4. top-k over the mutated state (ranked on the RAW score; the
    // deterministic 4-digit rounding applies to the reported column only)
    val qv = vecOf(e, QueryId)
    val hits = store.findSimilar(qv, k = K, metric = "cosine", namespace = Ns)
    dfFrame(spark, hits)
  }

  /** Relational replay of the same mutation script: load WHERE vec_id <
    * 200, drop the deleted AND the overwritten id, re-insert the
    * overwritten id with its new vector, rank by raw cosine (tie-break on
    * the string id, as the store does), round for the report. */
  val q45Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $LoadN),
       |upd AS (
       |  SELECT id, v FROM base
       |  WHERE id NOT IN (${(DeleteIds :+ UpsertId).map("'" + _ + "'").mkString(", ")})
       |  UNION ALL
       |  SELECT '$UpsertId' AS id,
       |         (SELECT embedding FROM embeddings WHERE vec_id = $UpsertSrc) AS v),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (SELECT u.id, ${cosSql("u.v", "q.qv")} AS raw FROM upd u, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q48: the store's INDEX-BACKED read path behind the gate ---------

  private val ApproxN = 300L
  private val ApproxNs = "q48"
  // the store's index hashes with Ann's plane family — the oracle MUST
  // derive from the same constants, never a hard copy (a retune of
  // Ann's banding would otherwise silently split engine and oracle)
  private val ApproxBands = Ann.Bands
  private val ApproxBits = Ann.BitsPerBand
  private val ApproxDim = Ann.Dim

  /** q48: `findSimilar(approx = true)` end-to-end through the LIVE store —
    * bulk load, store-attached LSH signature index, driver-side query
    * bucketing, candidate semi-join, exact rerank — hash-matched against
    * a FULL SQL replay of the same pipeline (md5-derived hyperplanes →
    * sign bits → band buckets → bucket-sharing candidates → cosine
    * rerank). This upgrades the facade's ANN wiring from spec-verified
    * (recall floor) to oracle-verified (exact candidate set + scores).
    * Query = vec 1's embedding, which is itself loaded — the reference
    * returns self-hits too, so rank 1 is the query at sim 1.0. */
  /** One loaded q48 store per sf dir per JVM (mirrors [[Ann.ivfTopK]]'s
    * layoutCache): the bulk load runs once, and because the store is
    * never mutated afterwards its epoch is stable, so the store-attached
    * signature layout (the lsh entry) survives across invocations too. Repeat
    * q48 runs (bench medians, serving) therefore measure the STEADY-STATE
    * index-backed read path — query bucketing, candidate semi-join, exact
    * rerank — not a per-call store+index rebuild, exactly like a
    * deployment that loads once and serves many. */
  private val q48Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  def q48(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q48Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < ApproxN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        ApproxNs)
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.findSimilar(qv, k = K, metric = "cosine",
      namespace = ApproxNs, approx = true)
    dfFrame(spark, hits)
  }

  /** SQL replay of the store's whole approx pipeline. Plane coefficients,
    * sign bits and band buckets replay exactly as in the q32 oracle (the
    * store uses the same md5 family via Ann.hyperplanesFor); candidates
    * are rows sharing ANY band bucket with the query; rerank is exact
    * cosine on the RAW score with the store's string-id tie-break. */
  val q48Sql: String = {
    val nPlanes = ApproxBands * ApproxBits
    s"""WITH planes AS (
       |  SELECT f, list(CAST((('0x' || substr(md5('graft_lsh_' || f || '_' || j), 1, 8))::BIGINT
       |                       / 2147483648.0 - 1.0) AS FLOAT) ORDER BY j) AS pl
       |  FROM range($nPlanes) tp(f), range($ApproxDim) td(j)
       |  GROUP BY f),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $ApproxN),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sigs AS (
       |  SELECT b.id, (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("b.v", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM base b, planes p GROUP BY b.id, band),
       |qsig AS (
       |  SELECT (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("q.qv", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM q, planes p GROUP BY band),
       |cand AS (
       |  SELECT DISTINCT s.id FROM sigs s
       |  JOIN qsig ON s.band = qsig.band AND s.bucket = qsig.bucket),
       |sc AS (
       |  SELECT c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin
  }

  // ---- q53: the store's PERSISTED-IVF read path behind the gate --------

  private val IvfNs = "q53"

  /** One loaded q53 store per sf dir per JVM — same steady-state rationale
    * as [[q48Stores]]: the bulk load and the IVF layout build (epoch-
    * cached inside the store) run once; repeat invocations pay probe +
    * rerank, mirroring a deployment that builds its inverted file offline
    * and serves many reads. */
  private val q53Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Layout dir of the most recent q53 run — the q53 oracle replays
    * candidates from its persisted `assign/` + `probes/`. Same contract
    * as [[Ann.lastAux]]: None until q53 has actually executed, so an
    * oracle can never point at a stale layout from another process. */
  @volatile private var lastIvfAux: Option[String] = None

  /** q53: `findSimilar(approx = true, index = "ivf")` end-to-end through
    * the LIVE store — bulk load, store-attached PERSISTED inverted file
    * (cell-partitioned parquet, partition-pruned probe), candidate
    * semi-join, exact rerank — hash-matched against a SQL replay of the
    * persisted candidate policy (`assign/` ⋈ `probes/`) + exact cosine
    * rerank. This closes VERDICT r5 gap #2: the IVF machinery is now
    * reachable from the serving facade, not only from the offline q33
    * path, mirroring the reference's one-index-per-namespace read path
    * (`index.py:19,91-129`). */
  def q53(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q53Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < ApproxN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        IvfNs)
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.gradedSearch("ivf", batch = false, Seq(qv), K, IvfNs).head
    lastIvfAux = store.layoutDir("ivf", IvfNs, qv.length)
    dfFrame(spark, hits)
  }

  /** SQL replay of the store's IVF read path from the persisted layout:
    * candidates = ids assigned to the probed cells, rerank = exact cosine
    * with the store's string-id tie-break (the assignment is the
    * candidate-generation policy, not the correctness contract — exactly
    * the q33 oracle's relationship to its k-means). */
  def q53Sql(aux: String): String =
    s"""WITH probes AS (SELECT cell FROM read_parquet('$aux/probes/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $ApproxN),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |cand AS (SELECT DISTINCT a.id FROM a JOIN probes USING (cell)),
       |sc AS (
       |  SELECT c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q50: the DURABLE store lifecycle behind the gate ----------------

  /** Conf key for q50's layout root — same contract as
    * [[Ann.IvfDirConf]]: on a cluster it MUST point at a shared
    * filesystem, because executors write the partitioned layout and the
    * driver-side compact/read-back must see every fragment. Local/test
    * runs can leave it unset (process-private temp root). */
  val DurableDirConf = "spark.graft.durable.dir"

  /** Process-private fallback root for q50's throwaway layouts (one
    * subdir per invocation — the write/compact cycle IS the thing under
    * test, so repeat runs must not reuse a previous layout). Unlike the
    * IVF aux dirs, nothing external reads these after the JVM exits. */
  private lazy val durableRoot: String =
    java.nio.file.Files.createTempDirectory("graft_q50_").toString
  private val durableRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q50: the durable store path end-to-end — write the namespace-
    * partitioned parquet layout, tombstone `id % 7 == 0`, compact (the
    * anti-join rewrite that replaces the reference's index rebuild,
    * `query_processor.py:58-61` / `index.py:131-162`), then aggregate a
    * namespace-pruned read-back. The oracle replays the same delete
    * relationally over the source table, so a row lost or duplicated
    * anywhere in write → compact → partitioned read breaks the hash. */
  def q50(spark: SparkSession, dir: String): DataFrame = {
    val path = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/" + durableRuns.incrementAndGet()
    val v = Tables.vectors(spark, dir)
    graft.sources.VectorParquet.write(v, path)
    val deletes = v.where(col("id") % 7 === 0).select(col("id"))
    graft.sources.VectorParquet.compact(spark, path, deletes)
    graft.sources.VectorParquet.read(spark, path)
      .groupBy(col("namespace"))
      .agg(count(lit(1)).as("n"),
        sum(col("id")).cast("long").as("id_sum"),
        sum(col("label")).cast("long").as("label_sum"))
      .orderBy(col("namespace"))
  }

  val q50Sql: String =
    s"""WITH v AS (${Tables.vectorsSql})
       |SELECT namespace, count(*) AS n, sum(id)::BIGINT AS id_sum,
       |       sum(label)::BIGINT AS label_sum
       |FROM v WHERE id % 7 <> 0
       |GROUP BY 1 ORDER BY namespace""".stripMargin

  // ---- q51: SEARCH over the durable layout — the 100 TB serving shape --

  /** One compacted search layout per sf dir per JVM (mirrors
    * [[Ann.ivfTopK]]'s layoutCache): the write→tombstone→compact build
    * runs once — the deployment analogue of an offline compaction job —
    * and every q51 invocation (bench medians, serving) pays only the
    * partition-pruned read. q50 keeps grading the build cycle itself. */
  private val searchLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val SearchTombMod = 5

  private def durableSearchLayout(spark: SparkSession, dir: String): String = {
    // keyed by the RESOLVED path (like Ann.layoutCache): a mid-JVM change
    // of the layout-root conf gets its own build instead of silently
    // serving a layout under the old root. The per-process token keeps
    // concurrent processes sharing one conf root from overwriting each
    // other's layout mid-read (same hazard Ann.ivfAuxDir tokens against).
    val path = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/search_" + facadeToken + "_" + graft.PathToken.token(dir)
    searchLayouts.computeIfAbsent(path, p => {
      val v = Tables.vectors(spark, dir)
      graft.sources.VectorParquet.write(v, p)
      graft.sources.VectorParquet.compact(spark, p,
        v.where(col("id") % SearchTombMod === 0).select(col("id")))
      p
    })
  }

  /** q51: namespace-scoped KNN reading the COMPACTED durable store — the
    * plan every 100 TB serving query runs (`query_processor.py:26-49`
    * always reads from the store, `storage_engine_in_memory.py:39-44`;
    * here the per-namespace dict lookup is partition PRUNING on the
    * `namespace` directory, pinned by PlanSpec). Every other KNN entry
    * (q01–q14, q48) scores the in-memory/parquet view; this one scores
    * what compaction left on disk, so a row lost, duplicated, or
    * un-pruned in write → compact → partitioned scan breaks the hash.
    * Oracle = the q02 shape with the tombstone filter replayed
    * relationally over the source table. */
  def q51(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosineSim
    val path = durableSearchLayout(spark, dir)
    val qv = Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") === 0).select(col("embedding").as("qv"))
    graft.sources.VectorParquet.read(spark, path)
      .where(col("namespace") === "ns_1")
      .crossJoin(broadcast(qv))
      .withColumn("score", round(cosineSim(col("values"), col("qv")), 4))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(10)
  }

  val q51Sql: String =
    s"""WITH v AS (${Tables.vectorsSql}),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT id, round(${cosSql("values", "qv")}, 4) AS score
       |FROM v, q
       |WHERE namespace = 'ns_1' AND id % $SearchTombMod <> 0
       |ORDER BY score DESC, id LIMIT 10""".stripMargin

  // ---- q54: the DURABLE facade end-to-end behind the gate --------------

  private[graft] val FacadeN = 250L
  private val FacadeNs = "q54"
  private[graft] val FacadeDelMod = 9

  /** One durable facade per sf dir per JVM — the load/delete script runs
    * once (an ingestion job), repeat invocations pay only the
    * partition-pruned search, like q51. The per-process token keeps a
    * shared conf root (cluster grading) from re-appending onto a
    * previous process's layout — the append-only facade would otherwise
    * double every row. */
  private lazy val facadeToken: String =
    ProcessHandle.current().pid().toString + "_" +
      java.util.UUID.randomUUID().toString.take(8)

  private val q54Stores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.DurableVectorStore]()
  private val q54Attempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q54: [[graft.store.DurableVectorStore]] end-to-end — append-only
    * load, tombstone delete (with the per-id report asserted), then a
    * top-k cosine search whose plan reads the partitioned layout with the
    * tombstone anti-join. Complements q51 (which grades the raw
    * layout+compaction plumbing): this grades the FACADE a user actually
    * calls at 100 TB, including the seq-stamped LSM read semantics. The
    * script is deterministic, so the oracle replays load-minus-deletes
    * relationally. */
  def q54(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    // keyed by the RESOLVED base (conf root included) like q51's layout
    // cache; the attempt counter gives a FRESH subdir per build attempt —
    // a build that fails mid-script (after its appends) must not be
    // retried onto the same append-only layout, where the re-run's rows
    // would double every score
    val base = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/facade_" + facadeToken + "_" + graft.PathToken.token(dir)
    val store = q54Stores.computeIfAbsent(base, b => {
      val root = b + "/a" + q54Attempts.incrementAndGet()
      val s = new graft.store.DurableVectorStore(spark, root)
      s.loadFrame(
        Tables.table(spark, dir, "embeddings")
          .where(col("vec_id") < FacadeN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        FacadeNs)
      val expect = (0L until FacadeN).filter(_ % FacadeDelMod == 0)
        .map(_.toString)
      val deleted = s.delete(expect, FacadeNs)
      require(deleted.sorted == expect.sorted,
        s"durable delete reported ${deleted.length} ids, expected ${expect.length}")
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.findSimilar(qv, k = K, metric = "cosine",
      namespace = FacadeNs)
    dfFrame(spark, hits)
  }

  /** Relational replay: load WHERE vec_id < N minus the deleted ids,
    * raw-score cosine rank with the store's string-id tie-break, rounded
    * report — the q45 oracle shape over the durable facade's script. */
  val q54Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $FacadeN AND vec_id % $FacadeDelMod <> 0),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw FROM base b, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q56: compaction UNDER LOAD through the durable facade -----------

  private val ReaddMod = 2 * FacadeDelMod // resurrect every other deleted id

  private val q56Stores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.DurableVectorStore]()
  private val q56Attempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q56: the durable facade's full LSM cycle behind the gate — load →
    * tombstone delete → RE-ADD half the deleted ids (resurrection: the
    * re-add's seq outranks the tombstone, no rewrite) → [[graft.store.DurableVectorStore.compact]]
    * (asserted to fold the log to EMPTY and to keep exactly the expected
    * live count) → top-k search over the REWRITTEN layout. q54 grades
    * the pre-compaction read path (data ⋈ tombstones); this grades that
    * compaction changes the PLAN (scan-only, no anti-join) but never the
    * ANSWER — a resurrected row lost in the fold, a tombstoned row
    * leaked back in, or a row duplicated by the rewrite all break the
    * hash. The durable analogue of q50's cycle, through the FACADE. */
  def q56(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val base = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/compact_" + facadeToken + "_" + graft.PathToken.token(dir)
    val store = q56Stores.computeIfAbsent(base, b => {
      val root = b + "/a" + q56Attempts.incrementAndGet()
      val s = new graft.store.DurableVectorStore(spark, root)
      s.loadFrame(
        e.where(col("vec_id") < FacadeN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        FacadeNs)
      val expect = (0L until FacadeN).filter(_ % FacadeDelMod == 0)
        .map(_.toString)
      val deleted = s.delete(expect, FacadeNs)
      require(deleted.sorted == expect.sorted,
        s"durable delete reported ${deleted.length} ids, expected ${expect.length}")
      // resurrect every other deleted id with its original embedding
      s.loadFrame(
        e.where(col("vec_id") < FacadeN && col("vec_id") % ReaddMod === 0)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        FacadeNs)
      val remaining = s.compact()
      val expectedLive = (0L until FacadeN)
        .count(i => i % FacadeDelMod != 0 || i % ReaddMod == 0)
      require(remaining == expectedLive,
        s"compact kept $remaining rows, expected $expectedLive")
      require(s.tombstoneCount() == 0,
        s"compaction left ${s.tombstoneCount()} tombstones in the log")
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.findSimilar(qv, k = K, metric = "cosine",
      namespace = FacadeNs)
    dfFrame(spark, hits)
  }

  /** Relational replay of the q56 script: load minus deletes plus
    * re-adds — i.e. keep vec_id % del ≠ 0 OR vec_id % readd = 0 — then
    * the q54 rank/report shape. The compaction itself is invisible to
    * the oracle (fold the log, keep the live set); that invariance is
    * exactly what the hash grades. */
  val q56Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $FacadeN
       |    AND (vec_id % $FacadeDelMod <> 0 OR vec_id % $ReaddMod = 0)),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw FROM base b, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q61: the store's PQ read path behind the gate -------------------

  private val PqNs = "q61"

  /** One loaded q61 store per sf dir per JVM — the [[q53Stores]]
    * rationale: the bulk load and the PQ layout build (epoch-cached
    * inside the store) run once; repeat invocations pay the ADC sweep +
    * rerank, the serving steady state. */
  private val q61Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Layout dir of the most recent q61 run — its oracle replays the
    * persisted `codes_flat/` ⋈ `lut/` ADC policy ([[lastIvfAux]]
    * contract: None until q61 actually executed). */
  @volatile private var lastPqAux: Option[String] = None

  /** q61: `findSimilar(approx = true, index = "pq")` end-to-end through
    * the LIVE store — bulk load, store-attached compressed code table
    * (built once per epoch by the shared Pq recipe), one ADC sweep cut
    * to candidates, exact rerank — hash-matched against a SQL replay of
    * the persisted codes⋈LUT policy. Completes the serving-index triad
    * behind the gate: q48 (LSH signatures), q53 (IVF inverted file),
    * q61 (PQ codes). */
  def q61(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q61Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < ApproxN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        PqNs)
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.gradedSearch("pq", batch = false, Seq(qv), K, PqNs).head
    lastPqAux = store.layoutDir("pq", PqNs, qv.length)
    dfFrame(spark, hits)
  }

  /** SQL replay of the store's PQ read path from the persisted layout:
    * ADC = codes_flat ⋈ lut summed and rounded, candidates = top-CandN
    * on (ADC, string id), rerank = exact cosine with the store's
    * tie-break — the candidate policy is the layout, the contract is
    * the rerank (the q53/q58 relationship). */
  def q61Sql(aux: String): String =
    s"""WITH lut AS (SELECT sub, code, d FROM read_parquet('$aux/lut/*.parquet')),
       |cf AS (SELECT id, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT c.id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  GROUP BY c.id),
       |cand AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY adc, id) AS cr FROM adc)
       |  WHERE cr <= ${Pq.CandN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $ApproxN),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q147: the live mount's OPQ path, rotation-GRADED (r14) ----------

  private val OpqNs = "q147"
  private val OpqQueryId = 2L

  private val q147Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** (layout dir, dim) of the most recent q147 run — oracle hook. */
  @volatile private var lastOpqAux: Option[(String, Int)] = None

  /** q147 (r14 — VERDICT r13 "Next round" #1): the live store's
    * `index = "pq"` read path with the OPQ rotation graded END TO END.
    * q61 replays the persisted `codes_flat/` ⋈ `lut/` policy — which is
    * correct but treats the LUT as opaque; since r14 that LUT is
    * computed against a ROTATED codebook from a rotated query, and this
    * query makes the rotation itself part of the replayed policy: the
    * oracle reads the persisted `rot/` matrix, rotates the RAW query
    * vector in SQL (double-accumulate, float-cast — the
    * [[graft.operators.Opq.rotateQuery]] arithmetic), normalizes,
    * re-derives the ADC LUT from the persisted `codebook/`, and only
    * then runs the q61 candidate cut + exact raw-space rerank. A wrong
    * rotation — wrong matrix, wrong order of rotate-vs-normalize, a
    * drifted persisted artifact — breaks the hash. Summation-order ulps
    * between Spark's and DuckDB's double sums sit ~1e-10 under the 1e-6
    * ADC rounding (the q32/q58 margin argument, re-measured in
    * StoreOpqSpec's exact-artifact pin). */
  def q147(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q147Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < ApproxN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        OpqNs)
      s
    })
    val qv = vecOf(e, OpqQueryId)
    val hits = store.gradedSearch("pq", batch = false, Seq(qv), K, OpqNs).head
    require(store.pqRotation(OpqNs, qv.length).isDefined,
      "q147 grades the rotation — the layout must have been built OPQ " +
        "(dim divisible by the subspace count, rotation conf on)")
    lastOpqAux = store.layoutDir("pq", OpqNs, qv.length).map((_, qv.length))
    dfFrame(spark, hits)
  }

  /** SQL replay of the FULL OPQ read path from the persisted layout:
    * rotate the raw query by `rot/` (float-cast per coordinate, the
    * RotateVec arithmetic), normalize, re-derive the ADC LUT from
    * `codebook/`, candidates = top-CandN on (rounded ADC, string id)
    * over `codes_flat/`, rerank = exact cosine in the ORIGINAL space —
    * the rotation is policy, graded; the rerank is contract. */
  def q147Sql(aux: String, dim: Int): String = {
    val subDim = dim / Pq.SubSpaces
    s"""WITH rot AS (SELECT i, j, r FROM read_parquet('$aux/rot/*.parquet')),
       |qraw AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $OpqQueryId),
       |rq AS (
       |  SELECT rot.i AS i,
       |         CAST(sum(rot.r::DOUBLE * qraw.qv[rot.j + 1]::DOUBLE) AS FLOAT) AS x
       |  FROM rot, qraw GROUP BY rot.i),
       |nrm AS (SELECT sqrt(sum(x::DOUBLE * x::DOUBLE)) AS n FROM rq),
       |qs AS (
       |  SELECT (i // $subDim)::INT AS sub, (i % $subDim)::INT AS pos,
       |         CAST(CASE WHEN nrm.n > 0 THEN x::DOUBLE / nrm.n
       |              ELSE x::DOUBLE END AS FLOAT) AS qsv
       |  FROM rq, nrm),
       |cb AS (SELECT sub, code, centroid FROM read_parquet('$aux/codebook/*.parquet')),
       |lut AS (
       |  SELECT cb.sub, cb.code,
       |         sum((qs.qsv::DOUBLE - cb.centroid[qs.pos + 1]::DOUBLE)
       |           * (qs.qsv::DOUBLE - cb.centroid[qs.pos + 1]::DOUBLE)) AS d
       |  FROM cb JOIN qs ON qs.sub = cb.sub
       |  GROUP BY cb.sub, cb.code),
       |cf AS (SELECT id, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT c.id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  GROUP BY c.id),
       |cand AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY adc, id) AS cr FROM adc)
       |  WHERE cr <= ${Pq.CandN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $ApproxN),
       |sc AS (
       |  SELECT c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, qraw q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin
  }

  // ---- q148: BATCHED search through the LSH band signatures (r14) ------

  private val BatchLshNs = "q148"

  private val q148Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()


  /** q148 (r14 — VERDICT r13 "What's missing" #2): the batch matrix's
    * last hole. [[VectorStore.gradedSearch]] on lsh behind the gate —
    * all Q queries' band buckets union into one broadcast probe frame,
    * the cached signature table is scanned ONCE, per-query bucket-mates
    * rerank exactly through the batch kernel. The oracle replays the
    * ENTIRE signature policy relationally per query (the q48 md5
    * hyperplane replay with a qid dimension — the policy is
    * deterministic, so there is no persisted artifact to point at), and
    * the in-script parity require pins positional equality with Q
    * sequential `approx = true` searches, once per process per dir. */
  def q148(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q148Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < BatchN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        BatchLshNs)
      s
    })
    val qs = batchOf(e)
    val res = store.gradedSearch("lsh", batch = true, qs, K, BatchLshNs)
    batchParity("q148", dir)(qs, _ => res,
      store.findSimilar(_, k = K, metric = "cosine", namespace = BatchLshNs,
        approx = true))
    batchHitsFrame(spark, res)
  }

  /** [[q48Sql]] with a qid dimension: per query, signatures and band
    * buckets replay from the md5 hyperplane family, candidates are rows
    * sharing ANY band bucket with THAT query, rerank is exact cosine
    * with the string-id tie-break. qid is positional over the ordered
    * query slice, which equals vec_id on `vec_id < BatchQn`. */
  // lazy: BatchN/BatchQn are declared below (q75's section) and a
  // strict val here would capture their pre-init zeros
  lazy val q148Sql: String = {
    val nPlanes = ApproxBands * ApproxBits
    s"""WITH planes AS (
       |  SELECT f, list(CAST((('0x' || substr(md5('graft_lsh_' || f || '_' || j), 1, 8))::BIGINT
       |                       / 2147483648.0 - 1.0) AS FLOAT) ORDER BY j) AS pl
       |  FROM range($nPlanes) tp(f), range($ApproxDim) td(j)
       |  GROUP BY f),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $BatchN),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |sigs AS (
       |  SELECT b.id, (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("b.v", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM base b, planes p GROUP BY b.id, band),
       |qsig AS (
       |  SELECT q.qid, (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("q.qv", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM qs q, planes p GROUP BY q.qid, band),
       |cand AS (
       |  SELECT DISTINCT qsig.qid, s.id FROM sigs s
       |  JOIN qsig ON s.band = qsig.band AND s.bucket = qsig.bucket),
       |sc AS (
       |  SELECT c.qid, c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin
  }

  // ---- q57: STREAMING ingest into the durable facade -------------------

  private val IngestN = 220L
  private val IngestNs = "q57"
  private val IngestDelMod = 11

  private val q57Stores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.DurableVectorStore]()
  private val q57Attempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q57: the durable store's write path as a STREAM behind the gate —
    * `readStream` file source over the embeddings parquet →
    * `foreachBatch` → [[graft.store.DurableVectorStore.loadFrame]]
    * (each micro-batch one seq-stamped commit, drained with
    * AvailableNow), then a tombstone delete and the partition-pruned
    * top-k over what the STREAM committed. q46/q47 grade streaming
    * reads; this grades streaming WRITES — a row dropped, duplicated,
    * or double-committed anywhere in source→batch→append breaks the
    * hash. The script is deterministic (the stream drains a fixed
    * filter of a static table), so the oracle replays load-minus-
    * deletes relationally, exactly like q54. */
  def q57(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val base = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/ingest_" + facadeToken + "_" + graft.PathToken.token(dir)
    val store = q57Stores.computeIfAbsent(base, b => {
      val root = b + "/a" + q57Attempts.incrementAndGet()
      val s = new graft.store.DurableVectorStore(spark, root)
      val batches = graft.streaming.VectorIngest.ingest(
        spark, dir, graft.streaming.VectorIngest.EmbeddingsSchema,
        "embeddings.parquet",
        src => src.where(col("vec_id") < IngestN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        s, IngestNs, root + "/_checkpoint")
      require(batches >= 1, "the ingest stream committed no batches")
      val expect = (0L until IngestN).filter(_ % IngestDelMod == 0)
        .map(_.toString)
      val deleted = s.delete(expect, IngestNs)
      require(deleted.sorted == expect.sorted,
        s"durable delete reported ${deleted.length} ids, expected ${expect.length}")
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.findSimilar(qv, k = K, metric = "cosine",
      namespace = IngestNs)
    dfFrame(spark, hits)
  }

  /** Relational replay of the q57 script — what the stream ingested
    * minus the deleted slice, ranked and rounded like q54's oracle. */
  val q57Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $IngestN AND vec_id % $IngestDelMod <> 0),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw FROM base b, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q72: TIME TRAVEL through the durable facade ---------------------

  private val AsOfN = 200L      // ids "0".."199" hydrate batch A
  private val AsOfNs = "q72"
  private val AsOfMod = 5       // i%5==0 overwritten by batch B,
  private val AsOfDelRem = 1    // i%5==1 deleted after batch B
  private val AsOfShift = 200L  // overwrite source: embedding(i + 200)

  private val q72Stores =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.store.DurableVectorStore, Long, Long)]()
  private val q72Attempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** q72: SNAPSHOT reads over the seq-stamped layout — load batch A,
    * capture stamp, overwrite a fifth of the ids and delete another
    * fifth, capture again, then run the SAME top-k at both stamps via
    * [[graft.store.DurableVectorStore.findSimilarAsOf]]. The 'a' rows
    * must rank pure batch A (the overwrites and deletes invisible); the
    * 'b' rows must equal the live read (asserted in-script). Grades the
    * reproducibility primitive a 100 TB pipeline leans on: record
    * `currentSeq()` at job start, re-run any retrieval bit-identically
    * while ingestion keeps appending — no copy, no lock, two pushed-down
    * seq bounds. Oracle replays both states relationally. */
  /** The scripted two-snapshot layout shared by q72 (time travel) and
    * q78 (CDC): load batch A (stamp `snapA`), overwrite residue class 0
    * from shifted sources, delete residue class 1 (stamp `snapB`).
    * Memoized per sf dir so the two graded queries see ONE history. */
  private def asofTriple(spark: SparkSession, dir: String)
      : (graft.store.DurableVectorStore, Long, Long) = {
    val e = Tables.table(spark, dir, "embeddings")
    val base = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/asof_" + facadeToken + "_" + graft.PathToken.token(dir)
    q72Stores.computeIfAbsent(base, b => {
      val root = b + "/a" + q72Attempts.incrementAndGet()
      val s = new graft.store.DurableVectorStore(spark, root)
      s.loadFrame(
        e.where(col("vec_id") < AsOfN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        AsOfNs)
      val a = s.currentSeq()
      // batch B: shifted-source upsert — id i (i%5==0) takes embedding
      // (i+200); 200%5==0 keeps the source predicate aligned with the id
      s.loadFrame(
        e.where(col("vec_id") >= AsOfShift &&
            col("vec_id") < AsOfShift + AsOfN &&
            col("vec_id") % AsOfMod === 0)
          .select((col("vec_id") - AsOfShift).cast("string").as("id"),
            col("embedding").as("values")),
        AsOfNs)
      val dels = (0L until AsOfN).filter(_ % AsOfMod == AsOfDelRem)
        .map(_.toString)
      val deleted = s.delete(dels, AsOfNs)
      require(deleted.sorted == dels.sorted,
        s"as-of delete reported ${deleted.length} ids, expected ${dels.length}")
      (s, a, s.currentSeq())
    })
  }

  def q72(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.table(spark, dir, "embeddings")
    val (store, snapA, snapB) = asofTriple(spark, dir)
    val qv = vecOf(e, QueryId)
    def ranked(snap: String, asOf: Long): Seq[(String, Int, String, Double)] =
      store.findSimilarAsOf(qv, asOf, k = K, metric = "cosine",
          namespace = AsOfNs)
        .zipWithIndex.map { case (h, i) => (snap, i + 1, h.id, h.score) }
    val atB = ranked("b", snapB)
    // the latest snapshot IS the present: any drift between the as-of
    // path and the live read is a bug this gate must catch, not grade
    val liveNow = store.findSimilar(qv, k = K, metric = "cosine",
      namespace = AsOfNs)
    require(atB.map(t => (t._3, t._4)) == liveNow.map(h => (h.id, h.score)),
      "as-of at the latest stamp diverged from the live read")
    (ranked("a", snapA) ++ atB)
      .toDF("snap", "rank", "id", "score")
      .withColumn("score", Det.r4(col("score")))
      .orderBy("snap", "rank")
  }

  /** Relational replay of both snapshots: state 'a' is the plain batch-A
    * load; state 'b' applies the shifted-source overwrite and drops the
    * deleted residue class — each ranked like q54's oracle. */
  val q72Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |a AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $AsOfN),
       |b AS (
       |  SELECT e.vec_id::VARCHAR AS id,
       |         CASE WHEN e.vec_id % $AsOfMod = 0 THEN o.embedding
       |              ELSE e.embedding END AS v
       |  FROM embeddings e
       |  LEFT JOIN embeddings o ON o.vec_id = e.vec_id + $AsOfShift
       |  WHERE e.vec_id < $AsOfN AND e.vec_id % $AsOfMod <> $AsOfDelRem),
       |sa AS (SELECT id, ${cosSql("a.v", "q.qv")} AS raw FROM a, q),
       |sb AS (SELECT id, ${cosSql("b.v", "q.qv")} AS raw FROM b, q),
       |ra AS (SELECT 'a' AS snap, id, raw,
       |              row_number() OVER (ORDER BY raw DESC, id) AS rank FROM sa),
       |rb AS (SELECT 'b' AS snap, id, raw,
       |              row_number() OVER (ORDER BY raw DESC, id) AS rank FROM sb),
       |u AS (SELECT * FROM ra WHERE rank <= $K
       |      UNION ALL SELECT * FROM rb WHERE rank <= $K)
       |SELECT snap, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM u ORDER BY snap, rank""".stripMargin

  // ---- q78: CDC — net changes between the two q72 stamps ---------------

  /** q78: [[graft.store.DurableVectorStore.changesBetween]] over the
    * q72 script's `(snapA, snapB]` window — the incremental-consumer
    * primitive: residue class 0 must surface as `update` carrying the
    * shifted post-image, class 1 as `delete` with a null post-image,
    * classes 2–4 (untouched) must NOT appear. The post-image is graded
    * through its dot-norm (the oracle replays the same float32→double
    * kernel), so a wrong-but-plausible values column can't sneak past
    * the hash. In-script, the insert arm is pinned too:
    * `changesBetween(0, snapA)` must be all-insert and batch-A-sized —
    * the window no oracle can see because stamp 0 predates the table. */
  def q78(spark: SparkSession, dir: String): DataFrame = {
    val (store, snapA, snapB) = asofTriple(spark, dir)
    val bootstrap = store.changesBetween(0L, snapA, AsOfNs)
      .groupBy(col("change")).count().collect()
    require(bootstrap.length == 1 && bootstrap(0).getString(0) == "insert" &&
      bootstrap(0).getLong(1) == AsOfN,
      s"bootstrap CDC window expected $AsOfN inserts, got ${bootstrap.toSeq}")
    store.changesBetween(snapA, snapB, AsOfNs)
      .select(col("id"), col("change"),
        Det.r4(graft.functions.VectorFunctions.dot(col("values"), col("values")))
          .as("vnorm"))
      .orderBy(col("change"), col("id"))
  }

  /** Relational replay of the net diff: overwritten ids carry the
    * shifted source's self-dot, deleted ids a null norm. */
  val q78Sql: String =
    s"""WITH upd AS (
       |  SELECT e.vec_id::VARCHAR AS id, 'update' AS change,
       |         ${Det.r4Sql(Det.dotSql("o.embedding", "o.embedding"))} AS vnorm
       |  FROM embeddings e JOIN embeddings o ON o.vec_id = e.vec_id + $AsOfShift
       |  WHERE e.vec_id < $AsOfN AND e.vec_id % $AsOfMod = 0),
       |del AS (
       |  SELECT vec_id::VARCHAR AS id, 'delete' AS change, NULL::DOUBLE AS vnorm
       |  FROM embeddings WHERE vec_id < $AsOfN AND vec_id % $AsOfMod = $AsOfDelRem)
       |SELECT * FROM upd UNION ALL SELECT * FROM del
       |ORDER BY change, id""".stripMargin

  // ---- q75: BATCHED search through the facade --------------------------

  private val BatchNs = "q75"
  private val BatchN = 200L
  private val BatchQn = 4

  /** q75: [[VectorStore.findSimilarBatch]] behind the gate — Q=4 query
    * vectors answered by ONE namespace scan (bounded-heap per-query
    * top-k, map-side combined; see q74 for the plan thesis). Positional
    * parity with the single-query path is asserted in-script; the oracle
    * replays the batch as a window over the cross product. */
  def q75(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = new VectorStore(spark)
    store.loadFrame(
      e.where(col("vec_id") < BatchN)
        .select(col("vec_id").cast("string").as("id"),
          col("embedding").as("values")),
      BatchNs)
    val qs = batchOf(e)
    val res = store.findSimilarBatch(qs, k = K, metric = "cosine",
      namespace = BatchNs)
    // the batch must be indistinguishable from Q sequential searches
    qs.indices.foreach { i =>
      val single = store.findSimilar(qs(i), k = K, metric = "cosine",
        namespace = BatchNs).map(h => (h.id, h.score))
      require(res(i).map(h => (h.id, h.score)) == single,
        s"batch result $i diverged from the single-query search")
    }
    batchHitsFrame(spark, res)
  }

  val q75Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $BatchN),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |sc AS (SELECT qs.qid, b.id, ${cosSql("b.v", "qs.qv")} AS raw
       |       FROM base b, qs),
       |r AS (SELECT qid, id, raw,
       |             row_number() OVER (PARTITION BY qid
       |                                ORDER BY raw DESC, id) AS rank
       |      FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // ---- the graded durable fixture -------------------------------------
  //
  // Every graded durable query grades one read over its own store, set
  // up by one script: load ids 0 until FacadeN → the first search builds
  // the mount (so every mutation below it is post-layout) → wave-1
  // deletes (`id % delMod == 0`, the reported ids asserted) → a delta
  // append of DAnnDeltaN rows; an as-of script then records the horizon
  // h = currentSeq() and runs wave 2 (the AsOfDel2 deletes and
  // AsOfDelta2 more appends), which must be invisible at h. The
  // mutation window stays under the 0.2 staleness ratio (at most 28
  // deletes + 20 appends, or 14 + 20 + 5 + 10, over 250 rows), so the
  // first layout serves the graded read and each oracle replays it —
  // [[graded]] makes a retune that crosses the ratio a loud failure
  // instead of a silent hash mismatch. Queries differ only in their
  // [[DurableScript]] and the read they grade.

  /** One graded durable script. `index`, `batch` and `metric` pick the
    * first search, which builds the mount: one query (vec_id
    * [[QueryId]]) or the [[batchOf]] batch. `tenant` tags every loaded
    * row `tenant = vec_id % DFTenantMod` and makes the graded read
    * filter on `tenant = '1'`; `asOf` runs the second wave after the
    * horizon and moves the wave-1 deletes from FacadeDelMod to
    * AsOfDelMod. The namespace is the query's name; `prefix` names its
    * store root. */
  private[graft] case class DurableScript(ns: String, prefix: String,
                                          index: String = "ivf",
                                          batch: Boolean = false,
                                          tenant: Boolean = false,
                                          asOf: Boolean = false,
                                          metric: String = "cosine") {
    def delMod: Long = if (asOf) AsOfDelMod else FacadeDelMod
    def filter: Map[String, String] =
      if (tenant) Map("tenant" -> "1") else Map.empty
  }

  /** Every graded durable script, by namespace (= the query's name).
    * q192–q208 are [[graft.streaming.EventStream]]'s streamed reads;
    * q190 streams q179's store. */
  private[graft] val scripts: Map[String, DurableScript] = (Seq(
    DurableScript("q87", "dann"),
    DurableScript("q92", "dpq", "pq"),
    DurableScript("q93", "dl2", metric = "l2"),
    DurableScript("q101", "dbq", "bq"),
    DurableScript("q102", "dip", metric = "ip"),
    DurableScript("q107", "dbatch", batch = true),
    DurableScript("q110", "dimi", "imi"),
    DurableScript("q123", "dhnsw", "hnsw"),
    DurableScript("q134", "dpqb", "pq", batch = true),
    DurableScript("q135", "dbqb", "bq", batch = true),
    DurableScript("q136", "dimib", "imi", batch = true),
    DurableScript("q137", "dhnswb", "hnsw", batch = true),
    DurableScript("q155", "dlsh", "lsh"),
    DurableScript("q164", "dfann", tenant = true),
    DurableScript("q168", "dfbatch", batch = true, tenant = true),
    DurableScript("q169", "dflsh", "lsh", tenant = true),
    DurableScript("q170", "dfpq", "pq", tenant = true),
    DurableScript("q171", "dfbq", "bq", tenant = true),
    DurableScript("q172", "dfimi", "imi", tenant = true),
    DurableScript("q173", "dfhnsw", "hnsw", tenant = true),
    DurableScript("q175", "dasof", asOf = true),
    DurableScript("q179", "dfasof", batch = true, tenant = true, asOf = true),
    DurableScript("q181", "dpqasof", "pq", asOf = true),
    DurableScript("q183", "dbqasof", "bq", asOf = true),
    DurableScript("q184", "dimiasof", "imi", asOf = true),
    DurableScript("q185", "dhnswasof", "hnsw", asOf = true),
    DurableScript("q186", "dlshasof", "lsh", asOf = true),
    DurableScript("q192", "dspqasof", "pq", batch = true, asOf = true),
    DurableScript("q194", "dsbqasof", "bq", batch = true, asOf = true),
    DurableScript("q195", "dsimiasof", "imi", batch = true, asOf = true),
    DurableScript("q196", "dshnswasof", "hnsw", batch = true, asOf = true),
    DurableScript("q197", "dslshasof", "lsh", batch = true, asOf = true)) ++
    Seq(("q199", "dslshfasof", "lsh"), ("q200", "dfpqbasof", "pq"),
      ("q201", "dfbqbasof", "bq"), ("q202", "dfimibasof", "imi"),
      ("q203", "dfhnswbasof", "hnsw"), ("q204", "dfpqsasof", "pq"),
      ("q205", "dfbqsasof", "bq"), ("q206", "dfimisasof", "imi"),
      ("q207", "dfhnswsasof", "hnsw"), ("q208", "dflshsasof", "lsh"))
      .map { case (ns, prefix, index) =>
        DurableScript(ns, prefix, index, batch = true, tenant = true,
          asOf = true)
      }).map(s => s.ns -> s).toMap

  /** A script's store once set up, the horizon recorded after wave 1,
    * and this call's queries (the one query of a single-query script,
    * the batch of a batch script). */
  private[graft] case class DurableFixture(script: DurableScript,
                                           store: graft.store.DurableVectorStore,
                                           horizon: Long,
                                           queries: Seq[Seq[Float]]) {
    def ns: String = script.ns
    def qv: Seq[Float] = queries.head
    def k: Int = K
    def filter: Map[String, String] = script.filter

    /** One build of the layout and of the index's own structure — the
      * state the oracle replays. */
    def inWindow: Boolean =
      store.annBuilds.get() == 1 && store.builds(script.index).get() == 1

    /** The script's indexed read of `qs`: live, or at the horizon for
      * an as-of script; filtered for a tenant script; `persist` writes
      * the candidate policy the oracle replays. */
    def search(qs: Seq[Seq[Float]], batch: Boolean,
               persist: Boolean = false): Seq[Seq[graft.model.SearchHit]] =
      store.gradedSearch(script.index, batch, qs, K, script.metric, ns,
        if (script.asOf) Some(horizon) else None, filter, persist)
  }

  /** Set-up stores by resolved base dir (conf root included, like q51's
    * layout cache), and the build attempts per base: each attempt gets
    * a fresh `a<n>` subdir, because a script that fails after its
    * appends must not be re-run onto the same append-only layout, where
    * the rows would double every score. */
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.store.DurableVectorStore, Long)]()
  private val fixtureAttempts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  /** Run `script` once per (prefix, dir) — an ingestion job; repeat
    * calls pay only the query read — and return its fixture. The per-
    * process token keeps processes sharing one conf root off each
    * other's append-only layouts. */
  private[graft] def durableFixture(spark: SparkSession, dir: String,
                                    script: DurableScript): DurableFixture = {
    val e = Tables.table(spark, dir, "embeddings")
    val qs = if (script.batch) batchOf(e) else Seq(vecOf(e, QueryId))
    val base = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      s"/${script.prefix}_" + facadeToken + "_" + graft.PathToken.token(dir)
    val (store, horizon) = fixtures.computeIfAbsent(base, b => {
      val attempt = fixtureAttempts.computeIfAbsent(b,
        _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
      val s = new graft.store.DurableVectorStore(spark, b + "/a" + attempt)
      val ns = script.ns
      def slice(lo: Long, hi: Long): DataFrame = {
        val cols = Seq(col("vec_id").cast("string").as("id"),
          col("embedding").as("values"))
        val tenant = map(lit("tenant"),
          (col("vec_id") % DFTenantMod).cast("string")).as("metadata")
        e.where(col("vec_id") >= lo && col("vec_id") < hi)
          .select((if (script.tenant) cols :+ tenant else cols): _*)
      }
      s.loadFrame(slice(0L, FacadeN), ns)
      s.gradedSearch(script.index, script.batch, qs, K, script.metric, ns,
        None, Map.empty, persist = false)
      require(s.annBuilds.get() >= 1 && s.builds(script.index).get() >= 1,
        s"$ns layout/derived build did not run")
      val expect = (0L until FacadeN).filter(_ % script.delMod == 0)
        .map(_.toString)
      val deleted = s.delete(expect, ns)
      require(deleted.sorted == expect.sorted,
        s"durable delete reported ${deleted.length} ids, expected ${expect.length}")
      s.loadFrame(slice(FacadeN, FacadeN + DAnnDeltaN), ns)
      // the reproducibility horizon a pipeline records at job start
      val h = s.currentSeq()
      if (script.asOf) {
        val d2 = s.delete(AsOfDel2, ns)
        require(d2.sorted == AsOfDel2.sorted,
          s"wave-2 delete reported ${d2.length} ids, expected ${AsOfDel2.length}")
        s.loadFrame(slice(FacadeN + DAnnDeltaN,
          FacadeN + DAnnDeltaN + AsOfDelta2), ns)
      }
      (s, h)
    })
    DurableFixture(script, store, horizon, qs)
  }

  /** The graded read of `fx` — one query or the batch — with its
    * candidate policy persisted (`persist`) for the oracle, and its
    * guards: the mutation window stayed under the staleness ratio, and
    * for a filtered or as-of script the probe branch served every query
    * — zero rescues and k hits each. The rescue counter is the branch
    * indicator, not the hit count: a rescue also returns k whenever ≥ k
    * rows match, and the oracle replays the probe branch only
    * (DurableStoreSpec pins the rescue). */
  private def graded(fx: DurableFixture, batch: Boolean,
                     persist: Boolean = true): Seq[Seq[graft.model.SearchHit]] = {
    val rescues0 = fx.store.exactRescues.get()
    val res = fx.search(fx.queries, batch, persist)
    require(fx.inWindow,
      s"${fx.ns}'s mutation window crossed the staleness ratio — the " +
        "oracle replays the first layout and derived structure")
    if (fx.script.tenant || fx.script.asOf)
      require(fx.store.exactRescues.get() == rescues0 && res.forall(_.size == K),
        s"${fx.ns} did not serve every query from the ${fx.script.index} " +
          s"probe branch (${res.map(_.size).mkString(",")} hits, " +
          s"${fx.store.exactRescues.get() - rescues0} rescues)")
    res
  }

  /** [[batchParity]] between `fx`'s batch and single reads. */
  private def fixtureParity(fx: DurableFixture, dir: String)(
      qs: => Seq[Seq[Float]],
      batch: Seq[Seq[Float]] => Seq[Seq[graft.model.SearchHit]]): Unit =
    batchParity(fx.ns, dir)(qs, batch, q => fx.search(Seq(q), batch = false).head)

  /** The batch form of a single-query script's read, over its query and
    * vec_id 2, agrees with the single reads. */
  private def pairParity(spark: SparkSession, dir: String,
                         fx: DurableFixture): Unit =
    fixtureParity(fx, dir)(
      Seq(fx.qv, vecOf(Tables.table(spark, dir, "embeddings"), 2L)),
      fx.search(_, batch = true))

  /** Once per dir: an as-of probe's top-1 equals the exact as-of scan's
    * (the nearest neighbor survives every candidate cut). */
  private def exactTop1Parity(dir: String, fx: DurableFixture,
                              hits: Seq[graft.model.SearchHit]): Unit =
    graft.ParityGate.once(parityChecked, s"${fx.ns}|$dir") {
      val exact1 = fx.store.findSimilarAsOf(fx.qv, fx.horizon, k = 1,
        namespace = fx.ns).map(h => (h.id, h.score))
      require(hits.take(1).map(h => (h.id, h.score)) == exact1,
        s"${fx.ns}'s as-of probe top-1 diverged from the exact as-of scan")
    }

  // ---- q87: the DURABLE store's ANN read path --------------------------

  private[graft] val DAnnDeltaN = 20L

  /** Layout dir + build stamp of the most recent q87 run — the oracle
    * replays candidates from its persisted `assign/` ⋈ `probes/` plus
    * the script-known delta ids. None until q87 has executed (the
    * [[lastIvfAux]] honesty contract). */
  /** (layout dir, probe-table dir) — two paths because the probe table
    * is process-suffixed under shared roots (the derived-artifact
    * convention), so it is not derivable from the layout dir. */
  @volatile private var lastDurableAnnAux: Option[(String, String)] = None

  /** q87: the durable store's APPROX read path end-to-end — the r8
    * verdict's "What's missing #1" (the durable facade served every KNN
    * by exact scan, THE scale-killer at 10⁹ vectors/namespace). Script:
    * bulk load → one approx search (builds the IVF layout, snapshotted
    * at `builtSeq`) → tombstone deletes AND a fresh append batch (both
    * POST-layout — the mutations a live store keeps absorbing) → graded
    * approx search. The layout only PROPOSES candidates: deletes are
    * killed by the post-build tombstone kill set (window-sized,
    * broadcast — complete within the layout's generation, which the
    * probe's generation gate guarantees; see
    * [[graft.store.DurableVectorStore]]), the appended batch arrives
    * through the delta tail (`seq > builtSeq`), so the persisted
    * `assign/` ⋈ `probes/` ∪ delta replay is EXACTLY the candidate set
    * and the oracle rerank is exact cosine over load-minus-deletes —
    * the q53 contract carried onto the durable layout.
    *
    * The script's mutation window (28 tombstones + $DAnnDeltaN appends
    * over $FacadeN rows = 0.192) sits deliberately BELOW the 0.2
    * staleness-rebuild ratio, so the graded search always serves the
    * FIRST layout and the oracle's delta-union replay stays exact; the
    * in-script `annBuilds == 1` require turns any future constant
    * retune that crosses the ratio into a loud failure instead of a
    * silent hash mismatch. */
  def q87(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q87"))
    val hits = graded(fx, batch = false).head
    lastDurableAnnAux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a)) }
    dfFrame(spark, hits)
  }

  /** SQL replay of the durable ANN read path: candidates = (probed
    * cells' assigned ids ∪ the script's delta batch), live set =
    * load-minus-deletes plus the delta batch, rerank = exact cosine with
    * the store's string-id tie-break. One parameterized builder serves
    * the unfiltered read (q87), the hybrid read (q164, `tenantPred`),
    * the product-grid hybrid (q172 — the grid's own assign/probes), and
    * the as-of read (q175, `delMod` = its wave-1 delete modulus) — the
    * dlshSql discipline: graded variants of one policy share one
    * replay, so they cannot drift. */
  private def dannSql(aux: String, probesDir: String, delMod: Long,
                      tenantPred: String): String =
    s"""WITH probes AS (SELECT cell FROM read_parquet('$probesDir/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.id FROM a JOIN probes USING (cell)
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND ($tenantPred)),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  def q87Sql(aux: String, probesDir: String): String =
    dannSql(aux, probesDir, FacadeDelMod, "TRUE")

  // ---- q164: FILTERED ANN on the durable mount (r16) -------------------

  private val DFTenantMod = 3

  /** (layout dir, probe dir) of the most recent q164 run — the
    * [[lastDurableAnnAux]] honesty contract. */
  @volatile private var lastDurableFilteredAux: Option[(String, String)] = None

  /** q164: the durable store's FILTERED indexed read path — the
    * reference's hybrid query (metadata predicate ∧ KNN,
    * `README.md:294-299`, `examples/api_client.py:65-74`) composed with
    * the durable IVF mount: the tenant/license/quality-gated retrieval
    * every production RAG pipeline runs at the 100 TB serving shape.
    * Script mirrors q87 (load → layout build → post-layout deletes +
    * delta appends → graded search), except every loaded row carries a
    * `tenant` metadata key (`vec_id % $DFTenantMod`) and the graded
    * search filters `tenant = '1'` ON THE INDEXED PATH: the predicate
    * evaluates inside the probed-cell scan and on the delta tail BEFORE
    * any ranking, so the top-k ranks matching rows only (candidate-time
    * filtering — never a post-filtered geometry top-k), and a starved
    * probe falls back to the exact filtered scan (spec-pinned;
    * the in-script `hits.size == K` require keeps the graded run on the
    * non-starved branch its oracle replays). The oracle replays the
    * predicate RELATIONALLY from `vec_id`, so a metadata value lost or
    * mangled anywhere in append → layout → filter breaks the hash. */
  def q164(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q164"))
    val hits = graded(fx, batch = false).head
    lastDurableFilteredAux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a)) }
    dfFrame(spark, hits)
  }

  /** SQL replay of the filtered durable ANN read path: q87's candidate
    * replay ([[dannSql]]) with the tenant predicate re-derived
    * relationally — the live set is (load − deletes ∪ delta) ∩
    * `vec_id % $DFTenantMod = 1`, so candidates and rerank both see
    * matching rows only, exactly the candidate-time filter the store
    * evaluates inside the probed-cell scan. */
  def q164Sql(aux: String, probesDir: String): String =
    dannSql(aux, probesDir, FacadeDelMod, s"vec_id % $DFTenantMod = 1")

  // ---- q123: the durable store's HNSW (graph) read path ----------------

  /** Cands dir of the most recent q123 run — oracle hook, the
    * [[lastDurableAnnAux]] honesty contract. */
  @volatile private var lastDurableHnswAux: Option[String] = None

  /** q123: the durable store's GRAPH read path end-to-end — the q87 LSM
    * discipline with sharded small-world graphs as the candidate policy
    * (r12; the reference's own index structure,
    * `implementations/index.py:17-165`, on the durable mount). Script
    * mirrors q87: bulk load → one HNSW search (builds the record layout
    * AND its derived shard graphs, consistent by construction — graph
    * rows ARE layout rows, stamps preserved) → post-layout deletes +
    * delta appends → graded HNSW search. The graphs only PROPOSE (the
    * per-shard beam winners, persisted as `cands/`); deletes die by the
    * kill set, the delta arrives exact, the rerank is exact cosine —
    * so the oracle unions the persisted candidates with the
    * script-known delta ids and reranks over load-minus-deletes. Same
    * sub-staleness-window discipline as q87 (one ann build and
    * one hnsw build, `inWindow`, keep a retune loud). */
  def q123(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q123"))
    val hits = graded(fx, batch = false).head
    lastDurableHnswAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    dfFrame(spark, hits)
  }

  /** SQL replay of the durable HNSW read path: candidates = (the
    * persisted beam winners ∪ the script's delta batch), live set =
    * load-minus-deletes plus the delta batch, rerank = exact cosine
    * with the store's string-id tie-break. */
  /** One builder for the unfiltered (q123) and hybrid (q173) graph
    * reads: candidates = persisted beam ∪ delta, joined to the
    * (optionally tenant-restricted) base — under a flat filter the beam
    * is already predicate-aware (ACORN), so the restricted join is the
    * candidate-then-filter-then-rank order the store executes. */
  private def dhnswSql(aux: String, tenantPred: String): String =
    dhnswSqlAt(aux, tenantPred, FacadeDelMod)

  /** [[dhnswSql]] with the delete modulus parameterized (q185 — the
    * as-of graph read at the wave-1 horizon). */
  private def dhnswSqlAt(aux: String, tenantPred: String,
                         delMod: Long): String =
    s"""WITH cand AS (
       |  SELECT DISTINCT id FROM read_parquet('$aux/cands/*.parquet')
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND ($tenantPred)),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  def q123Sql(aux: String): String = dhnswSql(aux, "TRUE")

  // ---- q92: the durable store's COMPRESSED (PQ / IVFADC) read path ----

  /** Codes dir of the most recent q92 run — oracle hook, the
    * [[lastDurableAnnAux]] honesty contract. */
  @volatile private var lastDurablePqAux: Option[String] = None

  /** q92: the durable store's COMPRESSED read path end-to-end — the q87
    * LSM discipline with PQ codes in front (the 10⁹ × 768-dim regime,
    * where even the probed cells' float vectors dominate the scan: the
    * ADC sweep reads the codes-only table, ~30× smaller at rest).
    * Script mirrors q87: bulk load → one PQ search (builds the record
    * layout AND its cell-partitioned code tables, consistent by
    * construction) → post-layout deletes + delta appends → graded PQ
    * search. The codes only PROPOSE candidates (top-CandN by ADC from
    * the probed cells); deletes die by the kill set, the delta arrives
    * exact, the rerank is exact cosine — so the oracle replays persisted
    * `codes_flat/` ⋈ `lut/` restricted to `probes/`, cuts at CandN,
    * unions the script-known delta ids, and reranks over
    * load-minus-deletes: the q58/q61 contract carried onto the durable
    * layout. Same sub-staleness-ratio window discipline as q87 (the
    * one-ann-build, one-pq-build `inWindow` check keeps a future retune
    * loud). */
  def q92(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q92"))
    val hits = graded(fx, batch = false).head
    lastDurablePqAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    dfFrame(spark, hits)
  }

  /** SQL replay of the durable PQ read path: ADC = probed cells'
    * `codes_flat` ⋈ `lut` summed and rounded, candidates = top-CandN on
    * (ADC, string id) ∪ the script's delta ids, live set =
    * load-minus-deletes plus the delta, rerank = exact cosine with the
    * store's tie-break. `candPred` cuts the ADC population BEFORE the
    * CandN rank (the q170 semi-join semantics — a post-filtering
    * implementation would rank non-matching rows into the cut and break
    * the hash); one builder serves the unfiltered (q92) and hybrid
    * (q170) reads, the dlshSql discipline. */
  private def dpqSql(aux: String, candPred: String,
                     tenantPred: String): String =
    dpqSqlAt(aux, candPred, tenantPred, FacadeDelMod)

  /** [[dpqSql]] with the delete modulus parameterized: one builder
    * serves the live-horizon PQ reads (FacadeDelMod) and the snapshot
    * PQ read (q181, AsOfDelMod — the wave-2 mutations appear nowhere,
    * the invisibility IS the grade). The adc CandN cut deliberately
    * ranks ALL probed codes (a row tombstoned inside the horizon
    * occupies its slot and dies in `base`), exactly the store's
    * kill-join order. */
  private def dpqSqlAt(aux: String, candPred: String,
                       tenantPred: String, delMod: Long): String =
    s"""WITH probes AS (SELECT cell FROM read_parquet('$aux/probes/*.parquet')),
       |lut AS (SELECT sub, code, d FROM read_parquet('$aux/lut/*.parquet')),
       |cf AS (SELECT id, cell, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT c.id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN probes p ON p.cell = c.cell
       |  JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE ($candPred)
       |  GROUP BY c.id),
       |cand AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY adc, id) AS cr FROM adc)
       |  WHERE cr <= ${Pq.CandN}
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}
       |    AND ($tenantPred)),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND ($tenantPred)),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  def q92Sql(aux: String): String = dpqSql(aux, "TRUE", "TRUE")

  // ---- q149: the durable mount's OPQ path, rotation-GRADED (r14) ------

  private val DOpqNs = "q149"
  private val DOpqQueryId = 3L

  private val q149Stores =
    new java.util.concurrent.ConcurrentHashMap[String, graft.store.DurableVectorStore]()
  private val q149Attempts = new java.util.concurrent.atomic.AtomicInteger(0)

  /** (codes dir, dim) of the most recent q149 run — oracle hook. */
  @volatile private var lastDurableOpqAux: Option[(String, Int)] = None

  /** q149 (r14): the q147 rotation grade carried onto the DURABLE
    * mount — bulk load, one PQ search building the records layout AND
    * its OPQ-rotated code tables, then the graded search. The oracle
    * re-derives the ADC LUT from the persisted `rot/` + `codebook/` and
    * the raw query (the q147 replay), restricted to the probed cells
    * (`probes/` — the durable partition-pruning policy, from q92), and
    * reranks exactly over the loaded set. No mutation window here: q92
    * already grades deletes/delta on this mount; q149 isolates the
    * rotation so a failure can only mean the rotation policy drifted. */
  def q149(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val base = spark.conf.getOption(DurableDirConf).getOrElse(durableRoot) +
      "/dopq_" + facadeToken + "_" + graft.PathToken.token(dir)
    val qv = vecOf(e, DOpqQueryId)
    val store = q149Stores.computeIfAbsent(base, b => {
      val root = b + "/a" + q149Attempts.incrementAndGet()
      val s = new graft.store.DurableVectorStore(spark, root)
      s.loadFrame(
        Tables.table(spark, dir, "embeddings")
          .where(col("vec_id") < FacadeN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        DOpqNs)
      s
    })
    val hits = store.gradedSearch("pq", batch = false, Seq(qv), K, "cosine",
      DOpqNs, None, Map.empty).head
    require(store.pqRotation(DOpqNs, qv.length).isDefined,
      "q149 grades the rotation — the durable code tables must be OPQ-built")
    lastDurableOpqAux = store.layoutDir("pq", DOpqNs, qv.length)
      .map((_, qv.length))
    dfFrame(spark, hits)
  }

  /** The q147 rotation replay + the q92 probed-cell restriction: LUT
    * re-derived in SQL from `rot/` + `codebook/` + the raw query, ADC
    * over the PROBED cells' `codes_flat/`, top-CandN on (rounded ADC,
    * string id), exact cosine rerank over the loaded set. */
  def q149Sql(aux: String, dim: Int): String = {
    val subDim = dim / Pq.SubSpaces
    s"""WITH rot AS (SELECT i, j, r FROM read_parquet('$aux/rot/*.parquet')),
       |qraw AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $DOpqQueryId),
       |rq AS (
       |  SELECT rot.i AS i,
       |         CAST(sum(rot.r::DOUBLE * qraw.qv[rot.j + 1]::DOUBLE) AS FLOAT) AS x
       |  FROM rot, qraw GROUP BY rot.i),
       |nrm AS (SELECT sqrt(sum(x::DOUBLE * x::DOUBLE)) AS n FROM rq),
       |qs AS (
       |  SELECT (i // $subDim)::INT AS sub, (i % $subDim)::INT AS pos,
       |         CAST(CASE WHEN nrm.n > 0 THEN x::DOUBLE / nrm.n
       |              ELSE x::DOUBLE END AS FLOAT) AS qsv
       |  FROM rq, nrm),
       |cb AS (SELECT sub, code, centroid FROM read_parquet('$aux/codebook/*.parquet')),
       |lut AS (
       |  SELECT cb.sub, cb.code,
       |         sum((qs.qsv::DOUBLE - cb.centroid[qs.pos + 1]::DOUBLE)
       |           * (qs.qsv::DOUBLE - cb.centroid[qs.pos + 1]::DOUBLE)) AS d
       |  FROM cb JOIN qs ON qs.sub = cb.sub
       |  GROUP BY cb.sub, cb.code),
       |probes AS (SELECT cell FROM read_parquet('$aux/probes/*.parquet')),
       |cf AS (SELECT id, cell, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT c.id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN probes p ON p.cell = c.cell
       |  JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  GROUP BY c.id),
       |cand AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY adc, id) AS cr FROM adc)
       |  WHERE cr <= ${Pq.CandN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $FacadeN),
       |sc AS (
       |  SELECT c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, qraw q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin
  }

  // ---- q93: the durable ANN read path in the reference's default space -

  @volatile private var lastDurableL2Aux: Option[(String, String)] = None

  /** q93: the durable IVF read path in the reference's DEFAULT space —
    * l2 (`implementations/index.py:18` builds hnswlib with space='l2';
    * our indexed path refused it through r9). Same script and LSM
    * discipline as q87 — record-carrying layout, post-build kill set,
    * exact delta tail — with squared-L2 scoring and ASCENDING rank (the
    * shared [[graft.store.Scoring]] contract: l2 reports the squared
    * distance, no sqrt, SURVEY §2.5). The cell probe policy is
    * unchanged because ranking cells by L2 distance IS IVF's native
    * geometry for this metric (cosine was the borrowed case). */
  def q93(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q93"))
    val hits = graded(fx, batch = false).head
    lastDurableL2Aux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a)) }
    dfFrame(spark, hits)
  }

  /** SQL replay of q93: the q87 candidate replay with squared-L2 scoring
    * and ascending rank. */
  def q93Sql(aux: String, probesDir: String): String =
    s"""WITH probes AS (SELECT cell FROM read_parquet('$probesDir/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.id FROM a JOIN probes USING (cell)
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE (vec_id < $FacadeN AND vec_id % $FacadeDelMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN})),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT b.id, ${Det.l2sqSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q106: BATCHED search through the IVF layout ---------------------

  private val BatchIvfNs = "q106"

  private val q106Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Layout dir of the most recent q106 run — oracle hook. */
  @volatile private var lastBatchIvfAux: Option[String] = None


  /** q106: [[VectorStore.findSimilarBatchIvf]] behind the gate — the q74
    * one-scan batch thesis applied to the INDEXED serving path: Q=4
    * probe lists union into ONE partition-pruned scan of the persisted
    * inverted file, per-query candidates flow through the
    * candidate-restricted bounded-heap batch kernel, exact cosine
    * rerank. Positional parity with Q sequential `index="ivf"` searches
    * is asserted in-script; the oracle replays per-query candidates from
    * the persisted `assign/` ⋈ `batch_probes/` (qid-keyed) and reranks
    * relationally. */
  def q106(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q106Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < BatchN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        BatchIvfNs)
      s
    })
    val qs = batchOf(e)
    val res = store.gradedSearch("ivf", batch = true, qs, K, BatchIvfNs)
    // the batch must be indistinguishable from Q sequential ivf
    // searches — asserted once per process per dir (every fresh Verify
    // JVM runs it; bench timed runs then measure the BATCH, not the
    // batch plus Q sequential probes)
    batchParity("q106", dir)(qs, _ => res,
      store.findSimilar(_, k = K, metric = "cosine", namespace = BatchIvfNs,
        approx = true, index = "ivf"))
    lastBatchIvfAux = store.layoutDir("ivf", BatchIvfNs, qs.head.length)
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the batched IVF read: per-query candidates = ids in
    * that query's probed cells, rerank = exact cosine per query with the
    * string-id tie-break. */
  def q106Sql(aux: String): String =
    s"""WITH probes AS (
       |  SELECT __qid AS qid, cell
       |  FROM read_parquet('$aux/batch_probes/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $BatchN),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |cand AS (SELECT DISTINCT p.qid, a.id FROM a JOIN probes p USING (cell)),
       |sc AS (
       |  SELECT c.qid, b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // ---- q103: the store's IMI read path behind the gate ----------------

  private val ImiNs = "q103"

  private val q103Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Layout dir of the most recent q103 run — oracle hook, the
    * [[lastIvfAux]] contract. */
  @volatile private var lastStoreImiAux: Option[String] = None

  /** q103: `findSimilar(approx = true, index = "imi")` end-to-end
    * through the LIVE store (VERDICT r10 #6: q94's two-level grid was
    * offline-only) — bulk load, store-attached persisted k×k product
    * grid, pair-sum probe, candidate semi-join, exact rerank. The
    * layout and probe list are q33-shaped (cell-partitioned `index/`,
    * flat `assign/`, `probes/`), so the oracle is [[q53Sql]] verbatim:
    * candidates = probed cells' members, rerank = exact cosine with the
    * string-id tie-break — the assignment (here the product grid) is the
    * candidate POLICY, the rerank is the contract. */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q103Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < ApproxN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        ImiNs)
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.gradedSearch("imi", batch = false, Seq(qv), K, ImiNs).head
    lastStoreImiAux = store.layoutDir("imi", ImiNs, qv.length)
    dfFrame(spark, hits)
  }

  // ---- q119: the store's HNSW read path behind the gate ----------------

  private val HnswNs = "q119"

  private val q119Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Layout dir of the most recent q119 run — oracle hook, the
    * [[lastIvfAux]] contract. */
  @volatile private var lastStoreHnswAux: Option[String] = None

  /** q119: `findSimilar(approx = true, index = "hnsw")` end-to-end
    * through the LIVE store (r12 — VERDICT r11 "What's missing" #3:
    * the reference's actual graph structure,
    * `implementations/index.py:17-165`, as a serving mount) — bulk
    * load, store-attached sharded small-world graphs, per-shard beam
    * candidates, candidate semi-join, exact rerank. The persisted
    * candidate set is the POLICY artifact (the `probes/` relationship);
    * the oracle replays the exact cosine rerank with the string-id
    * tie-break over exactly those candidates. */
  def q119(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q119Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < ApproxN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        HnswNs)
      s
    })
    val qv = vecOf(e, QueryId)
    val hits = store.gradedSearch("hnsw", batch = false, Seq(qv), K, HnswNs).head
    lastStoreHnswAux = store.layoutDir("hnsw", HnswNs, qv.length)
    dfFrame(spark, hits)
  }

  /** SQL replay of the store's HNSW read path: candidates = the
    * persisted beam output (the graph traversal is not relational —
    * the candidate SET is the policy artifact, exactly as `probes/` is
    * for IVF), rerank = exact cosine with the store's string-id
    * tie-break. */
  def q119Sql(aux: String): String =
    s"""WITH cand AS (SELECT id FROM read_parquet('$aux/cands/*.parquet')),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $ApproxN),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q122: BATCHED approx search on the HNSW mount -------------------

  private val BatchHnswNs = "q122"

  private val q122Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  @volatile private var lastBatchHnswAux: Option[String] = None


  /** q122: [[VectorStore.gradedSearch]] on hnsw behind the gate — the
    * q106 one-scan batch thesis on the GRAPH mount: Q=4 queries
    * beam-search each resident shard graph in one pass of the layout,
    * per-query candidates flow through the candidate-restricted
    * bounded-heap batch kernel, exact cosine rerank. Positional parity
    * with Q sequential `index="hnsw"` searches is asserted in-script
    * once per process; the oracle replays per-query candidates from the
    * persisted qid-keyed `batch_cands/` and reranks relationally. */
  def q122(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q122Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < BatchN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        BatchHnswNs)
      s
    })
    val qs = batchOf(e)
    val res = store.gradedSearch("hnsw", batch = true, qs, K, BatchHnswNs)
    batchParity("q122", dir)(qs, _ => res,
      store.findSimilar(_, k = K, metric = "cosine", namespace = BatchHnswNs,
        approx = true, index = "hnsw"))
    lastBatchHnswAux = store.layoutDir("hnsw", BatchHnswNs, qs.head.length)
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the batched HNSW read: per-query candidates = the
    * persisted beam output (the graph traversal is the policy artifact),
    * rerank = exact cosine per query with the string-id tie-break. */
  def q122Sql(aux: String): String =
    s"""WITH cand AS (
       |  SELECT __qid AS qid, id
       |  FROM read_parquet('$aux/batch_cands/*.parquet')),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $BatchN),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |sc AS (
       |  SELECT c.qid, b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // ---- q107: BATCHED approx search on the durable mount ----------------

  /** Layout dir of the most recent q107 run — oracle hook. */
  @volatile private var lastDurableBatchAux: Option[(String, String)] = None

  /** q107: [[graft.store.DurableVectorStore.findSimilarBatchApprox]]
    * behind the gate — batched reads on the 100 TB mount: Q=4 probe
    * lists union into one pruned scan of the stamped IVF layout, each
    * query's candidates ∪ the exact delta tail, post-build deletes die
    * in the live() join. Script is q87's (load → build → deletes +
    * delta appends → graded batch); the q0 query doubles as the
    * deleted-row case (vec_id 0 ≡ 0 mod $FacadeDelMod, so its own
    * vector is tombstoned and must not appear in its hit list).
    * Positional parity with Q sequential durable ivf searches asserted
    * in-script. */
  def q107(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q107"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDurableBatchAux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a, "batch_probes")) }
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the durable batched read: per-query candidates =
    * that query's probed cells' ids ∪ the script's delta ids, base =
    * load-minus-deletes plus the delta, rerank = exact cosine per query
    * with the string-id tie-break. */
  def q107Sql(aux: String, probesDir: String): String =
    q107SqlAt(aux, probesDir, FacadeDelMod)

  /** [[q107Sql]] with the delete horizon parameterized — FacadeDelMod
    * replays the live batched probe reads (q107/q136), AsOfDelMod the
    * wave-1 snapshot ([[graft.streaming.EventStream.q195]]'s oracle on
    * the product grid). */
  /** q136's replay at the wave-1 horizon —
    * [[graft.streaming.EventStream.q195]]'s oracle. */
  def q195Sql(aux: String): String =
    q107SqlAt(aux, s"$aux/batch_probes", AsOfDelMod)

  def q107SqlAt(aux: String, probesDir: String, delMod: Long): String =
    s"""WITH probes AS (
       |  SELECT __qid AS qid, cell
       |  FROM read_parquet('$probesDir/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.id FROM a JOIN probes p USING (cell)
       |  UNION
       |  SELECT q.qid, e.vec_id::VARCHAR FROM qs q, embeddings e
       |  WHERE e.vec_id >= $FacadeN AND e.vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE (vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN})),
       |sc AS (
       |  SELECT c.qid, b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // ---- q168: FILTERED batch ANN on the durable mount (r16) -------------

  /** (layout dir, batch-probe dir) of the most recent q168 run. */
  @volatile private var lastDurableFilteredBatchAux: Option[(String, String)] = None

  /** q168: q164's hybrid-query semantics BATCHED on the durable mount —
    * the q107 one-scan batch thesis with the tenant predicate cutting
    * candidates at candidate time (inside the probed-cell scan, on the
    * delta tail, and at the live join); per-query starved probes would
    * be re-answered by the exact filtered scan (spec-pinned; the
    * in-script all-k require keeps the graded run on the probe branch
    * its oracle replays). Positional parity with Q sequential filtered
    * singles is asserted in-script once per process. */
  def q168(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q168"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDurableFilteredBatchAux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a, "batch_probes")) }
    batchHitsFrame(spark, res)
  }

  /** q107's replay with the tenant predicate re-derived relationally in
    * `base` — candidates and rerank both see matching rows only. One
    * builder serves the live-horizon hybrid batch (q168) and the
    * snapshot hybrid batch (q179, `delMod` = its wave-1 delete modulus;
    * the wave-2 mutations appear nowhere — the invisibility IS the
    * grade), the dannSql discipline. */
  private def dfbatchSql(aux: String, probesDir: String,
                         delMod: Long): String =
    s"""WITH probes AS (
       |  SELECT __qid AS qid, cell
       |  FROM read_parquet('$probesDir/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.id FROM a JOIN probes p USING (cell)
       |  UNION
       |  SELECT q.qid, e.vec_id::VARCHAR FROM qs q, embeddings e
       |  WHERE e.vec_id >= $FacadeN AND e.vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND vec_id % $DFTenantMod = 1),
       |sc AS (
       |  SELECT c.qid, b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  def q168Sql(aux: String, probesDir: String): String =
    dfbatchSql(aux, probesDir, FacadeDelMod)

  // ---- q109: BATCHED search through the PQ codes -----------------------

  private val BatchPqNs = "q109"

  private val q109Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Codes dir of the most recent q109 run — oracle hook. */
  @volatile private var lastBatchPqAux: Option[String] = None


  /** q109: [[VectorStore.gradedSearch]] on pq behind the gate (VERDICT
    * r11 "What's missing" #1 — batched approx was IVF-only; a batch
    * user on the PQ mount fell back to Q sequential corpus-scan
    * probes). All Q ADC LUTs broadcast as ONE qid-keyed frame, the
    * codes table is swept once for the whole batch, the per-query CandN
    * cut is the bounded-heap aggregate, and the winners rerank exactly
    * through the candidate-restricted batch kernel. Positional parity
    * with Q sequential `index="pq"` searches is asserted in-script; the
    * oracle replays each query's candidates from the persisted
    * `codes_flat/` ⋈ `batch_lut/` ADC policy and reranks relationally —
    * the q61 contract, batched. */
  def q109(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q109Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < BatchN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        BatchPqNs)
      s
    })
    val qs = batchOf(e)
    val res = store.gradedSearch("pq", batch = true, qs, K, BatchPqNs)
    // the batch must be indistinguishable from Q sequential pq
    // searches — asserted once per process per dir (the q106 billing
    // rationale: bench repeats measure the batch, not batch + Q probes)
    batchParity("q109", dir)(qs, _ => res,
      store.findSimilar(_, k = K, metric = "cosine", namespace = BatchPqNs,
        approx = true, index = "pq"))
    lastBatchPqAux = store.layoutDir("pq", BatchPqNs, qs.head.length)
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the batched PQ read: per-query candidates = top-CandN
    * on that query's (rounded ADC, id) from the persisted codes ⋈ LUTs,
    * rerank = exact cosine per query with the string-id tie-break —
    * [[q61Sql]] with a qid dimension. */
  def q109Sql(aux: String): String =
    s"""WITH lut AS (SELECT qid, sub, code, d
       |            FROM read_parquet('$aux/batch_lut/*.parquet')),
       |cf AS (SELECT id, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT l.qid, c.id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  GROUP BY l.qid, c.id),
       |cand AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY adc, id) AS cr FROM adc)
       |  WHERE cr <= ${Pq.CandN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $BatchN),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |sc AS (
       |  SELECT c.qid, c.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  // ---- q110: the durable store's IMI (product-grid) read path ----------

  /** (grid dir, probes dir) of the most recent q110 run — oracle hook.
    * The grid dir holds its own `assign/` and `probes/` (the dir itself
    * is process-suffixed under shared roots, so the probe table lives
    * inside it). */
  @volatile private var lastDurableImiAux: Option[(String, String)] = None

  /** q110: the durable store's IMI read path end-to-end (VERDICT r11
    * "What's missing" #2 — the in-memory store served five index kinds,
    * the durable mount three). The two-level product grid is DERIVED
    * from the stamped IVF layout the way q92/q101 derive their codes:
    * layout records re-partitioned by the q94 `lo·k + hi` cell, so the
    * k² fine cells become the partition-pruning geometry while every
    * row keeps its ≤ builtSeq stamp — the q87 kill-set/delta-tail/
    * generation discipline carries over unchanged. Script mirrors q87
    * (load → first imi search builds layout + grid → post-layout
    * deletes + delta appends → graded imi search); the grid only
    * PROPOSES candidates (probed cells' assigned ids ∪ the delta), the
    * rerank is exact cosine, so the oracle is [[q87Sql]] pointed at the
    * grid's own `assign/` ⋈ `probes/`. */
  def q110(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q110"))
    val hits = graded(fx, batch = false).head
    lastDurableImiAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
      .map(a => (a, s"$a/probes"))
    dfFrame(spark, hits)
  }

  // ---- q102: the durable ANN read path in the reference's ip space ----

  @volatile private var lastDurableIpAux: Option[(String, String)] = None

  /** q102: the durable IVF read path in the reference's `ip` space
    * (`Index(space="ip")`, `implementations/index.py:18` — reachable in
    * the reference, refused by our indexed path through r10). The
    * layout's cells are trained/assigned in the norm-AUGMENTED geometry
    * (the MIPS-to-L2 reduction — see the store scaladoc), so nearest-
    * cell probing is principled for an unnormalized dot product; the
    * candidates then get the EXACT ip scoring (1 − dot) with ASCENDING
    * rank, q39's contract. Script and LSM discipline identical to
    * q93: load → first ip search builds the mips layout → post-layout
    * deletes + delta appends → graded ip search; oracle replays
    * persisted candidates (`assign/` ⋈ `probes/`) ∪ delta over
    * load-minus-deletes with exact ip scoring — candidates-are-policy,
    * rerank-is-contract. */
  def q102(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q102"))
    val hits = graded(fx, batch = false).head
    lastDurableIpAux = fx.store.annLayoutDir(fx.ns, fx.qv.length, space = "mips")
      .map { case (a, _) => (a, fx.store.annProbesDir(a)) }
    dfFrame(spark, hits)
  }

  /** SQL replay of q102: the q93 candidate replay with ip scoring
    * (1 − dot) and ascending rank. */
  def q102Sql(aux: String, probesDir: String): String =
    s"""WITH probes AS (SELECT cell FROM read_parquet('$probesDir/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |cand AS (
       |  SELECT DISTINCT a.id FROM a JOIN probes USING (cell)
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE (vec_id < $FacadeN AND vec_id % $FacadeDelMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN})),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT b.id, 1.0 - ${Det.dotSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin

  // ---- q101: the durable store's BINARY (BQ / sign-bit) read path -----

  /** (records layout dir, BQ codes dir) of the most recent q101 run —
    * oracle hook; two paths because the codes dir name is
    * process-suffixed under shared roots, so the `assign/` location is
    * not derivable from it. */
  @volatile private var lastDurableBqAux: Option[(String, String)] = None

  /** q101: the durable store's BINARY-quantized read path end-to-end —
    * the q92 script with sign-bit hamming codes in front of the rerank:
    * 8 bytes per 64 dims, one xor+popcount per word, the cheapest
    * candidate kernel the family has and therefore the best sweep at
    * 100 TB (VERDICT r10 #3: the kernel existed on the in-memory facade
    * (q95) but not on the durable mount). Script mirrors q92: bulk load
    * → one BQ search (builds the record layout AND its cell-partitioned
    * sign-bit codes, consistent by construction) → post-layout deletes
    * + delta appends → graded BQ search. The codes only PROPOSE
    * candidates; deletes die by the kill set, the delta arrives exact,
    * the rerank is exact cosine. The oracle replays the ENTIRE candidate
    * policy from the base table (the q95 property — midpoint grid,
    * packing, hamming, CandN cut — nothing taken on faith from the
    * persisted codes), restricted to the persisted probed cells
    * (`assign/` ⋈ `probes/`), then unions the script-known delta ids
    * and reranks over load-minus-deletes. */
  def q101(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q101"))
    val hits = graded(fx, batch = false).head
    lastDurableBqAux = for {
      ann <- fx.store.annLayoutDir(fx.ns, fx.qv.length)
      bq <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (ann._1, bq)
    dfFrame(spark, hits)
  }

  /** SQL replay of the durable BQ read path, rebuilding the whole
    * candidate policy from the base table: the layout content is the
    * pre-delete load (`vec_id < FacadeN` — deletes and delta are
    * post-build by construction), so the midpoint grid, sign-bit
    * packing (strict-greater, j=63 spelled as min-long — DuckDB
    * overflows on 1<<63), query code and hamming all recompute exactly;
    * candidates = top-CandN on (hamming, string id) over the probed
    * cells' ids (`assign/` ⋈ `probes/`) ∪ the script's delta ids;
    * rerank = exact cosine over load-minus-deletes with the store's
    * tie-break. `ann` is the records layout dir (holds `assign/`);
    * `aux` the codes dir (holds `probes/`). */
  /** One builder for the unfiltered (q101) and hybrid (q171) BQ reads —
    * `candPred` cuts the hamming population BEFORE the CandN rank (the
    * semi-join semantics), `tenantPred` restricts delta and base; the
    * dlshSql discipline. */
  private def dbqSql(ann: String, aux: String, candPred: String,
                     tenantPred: String): String =
    dbqSqlAt(ann, aux, candPred, tenantPred, FacadeDelMod)

  /** [[dbqSql]] with the delete modulus parameterized (q183 — the
    * as-of sign-bit read at the wave-1 horizon). The relational code
    * re-derivation stays over the FULL original load (vec_id <
    * FacadeN): the store's code table was built from the pre-mutation
    * layout, and horizon deletes die in `base`, not in the hamming
    * cut — exactly the store's kill-join order. */
  private def dbqSqlAt(ann: String, aux: String, candPred: String,
                       tenantPred: String, delMod: Long): String = {
    val dim = 64
    val bit =
      """CASE WHEN st.i = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |     ELSE (1::BIGINT << st.i::INT) END""".stripMargin
    s"""WITH probes AS (SELECT cell FROM read_parquet('$aux/probes/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$ann/assign/*.parquet')),
       |st AS (
       |  SELECT g.i,
       |         (min(embedding[g.i + 1])::DOUBLE
       |          + max(embedding[g.i + 1])::DOUBLE) / 2 AS mid
       |  FROM embeddings, range($dim) g(i)
       |  WHERE vec_id < $FacadeN GROUP BY 1),
       |codes AS (
       |  SELECT e.vec_id::VARCHAR AS id,
       |         bit_or(CASE WHEN e.embedding[st.i + 1]::DOUBLE > st.mid
       |                     THEN $bit ELSE 0::BIGINT END) AS code
       |  FROM embeddings e, st WHERE e.vec_id < $FacadeN GROUP BY 1),
       |qc AS (SELECT code AS qcode FROM codes WHERE id = '$QueryId'),
       |ham AS (
       |  SELECT c.id, bit_count(xor(c.code, qc.qcode)) AS ham
       |  FROM codes c
       |  JOIN a ON a.id = c.id
       |  JOIN probes p ON p.cell = a.cell, qc
       |  WHERE ($candPred)),
       |cut AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (ORDER BY ham, id) AS cr FROM ham)
       |  WHERE cr <= ${graft.operators.Bq.CandN}),
       |cand AS (
       |  SELECT id FROM cut
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}
       |    AND ($tenantPred)),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND ($tenantPred)),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sc AS (
       |  SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin
  }

  def q101Sql(ann: String, aux: String): String =
    dbqSql(ann, aux, "TRUE", "TRUE")

  // ---- q155: the durable store's LSH band-signature read path (r15) ----

  /** q155 (r15 — VERDICT r14 "What's missing" #3): the durable store's
    * LSH read path end-to-end, closing the live/durable index matrix's
    * last asymmetry. Load → layout + signature build → post-build
    * deletes → delta batch → graded search: candidates are bucket-mates
    * of the query's md5-hyperplane band signatures over the STAMPED
    * layout (derived at `builtSeq`, the q101 BQ pattern), minus the
    * kill set, union the exact delta tail, exact cosine rerank. The
    * oracle rebuilds the ENTIRE policy relationally — the q48 md5
    * hyperplane replay over the pre-delete load (the signature
    * derivation itself is graded, not just its artifact) composed with
    * the q101 delta-union/kill-set discipline. */
  def q155(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q155"))
    val hits = graded(fx, batch = false).head
    dfFrame(spark, hits)
  }

  /** SQL replay of the durable LSH read path with NOTHING taken from
    * persisted artifacts: hyperplanes, corpus signatures, and the
    * query's band buckets all recompute from the md5 policy (the q48
    * replay restricted to the pre-delete load — the layout content at
    * `builtSeq` by the script's construction); candidates = bucket-mate
    * ids ∪ the script's delta ids; rerank = exact cosine over
    * load-minus-deletes-plus-delta with the store's tie-break. */
  def q155Sql: String = dlshSql(tenantPred = "TRUE")

  /** The durable-LSH replay parameterized over a relational predicate on
    * the live set — "TRUE" is q155's unfiltered read; q169 passes the
    * tenant predicate (candidates ⋈ filtered base ≡ the store's
    * candidate-time filter at the record join). */
  private def dlshSql(tenantPred: String): String =
    dlshSqlAt(tenantPred, FacadeDelMod)

  /** [[dlshSql]] with the delete modulus parameterized (q186 — the
    * as-of signature read at the wave-1 horizon). Signatures re-derive
    * over the FULL original load, horizon deletes die in `base`. */
  private def dlshSqlAt(tenantPred: String, delMod: Long): String = {
    val nPlanes = ApproxBands * ApproxBits
    s"""WITH planes AS (
       |  SELECT f, list(CAST((('0x' || substr(md5('graft_lsh_' || f || '_' || j), 1, 8))::BIGINT
       |                       / 2147483648.0 - 1.0) AS FLOAT) ORDER BY j) AS pl
       |  FROM range($nPlanes) tp(f), range($ApproxDim) td(j)
       |  GROUP BY f),
       |layout AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $FacadeN),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryId),
       |sigs AS (
       |  SELECT b.id, (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("b.v", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM layout b, planes p GROUP BY b.id, band),
       |qsig AS (
       |  SELECT (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("q.qv", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM q, planes p GROUP BY band),
       |cand AS (
       |  SELECT DISTINCT s.id FROM sigs s
       |  JOIN qsig ON s.band = qsig.band AND s.bucket = qsig.bucket
       |  UNION
       |  SELECT vec_id::VARCHAR FROM embeddings
       |  WHERE vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND ($tenantPred)),
       |sc AS (
       |  SELECT b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id, q),
       |r AS (
       |  SELECT id, raw,
       |         row_number() OVER (ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY rank""".stripMargin
  }

  // ---- q169: FILTERED LSH on the durable mount (r16) -------------------

  /** q169: the hybrid query on the durable SIGNATURE mount — q164's
    * candidate-time discipline on the second record-joining index: every
    * bucket-mate joins the record layout, so the tenant predicate at
    * that join filters candidates before any k-cut; a starved probe
    * falls back to the exact filtered scan (DurableStoreSpec pins it;
    * the in-script `hits.size == K` keeps the graded run on the probe
    * branch). Script mirrors q155 with tenant metadata on every load;
    * the oracle is q155's full-policy replay (hyperplanes, signatures,
    * and buckets all recomputed relationally from the md5 policy) with
    * the tenant predicate re-derived from `vec_id`. */
  def q169(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q169"))
    val hits = graded(fx, batch = false).head
    dfFrame(spark, hits)
  }

  def q169Sql: String = dlshSql(s"vec_id % $DFTenantMod = 1")

  // ---- q170–q173: the hybrid query on the REMAINING durable mounts ----
  //
  // r16 closes the durable filter matrix. q164/q168/q169 served the
  // record-joining indexes (ivf, lsh); these four serve the codes-only
  // (pq, bq), product-grid (imi) and beam-cut (hnsw) mounts, so the
  // durable filter refusal set is now EMPTY — every index × single ×
  // batch × mount combination serves the reference's hybrid query.
  // Scripts mirror q92/q101/q110/q123 (load → first unfiltered search
  // builds layout + derived structures → post-layout deletes + delta
  // appends → graded FILTERED search) with tenant metadata on every
  // load; each oracle is the mount's unfiltered replay with the tenant
  // predicate re-derived relationally from `vec_id` (q164's
  // discipline), applied BEFORE the CandN cut where the mount has one
  // (pq/bq — grading the semi-join semantics, not a post-filter).
  // Batch parity with the mount's filtered batch facade is asserted
  // in-script once per dir (the q133 convention).

  @volatile private var lastDFPqAux: Option[String] = None

  /** q170: the hybrid query on the durable COMPRESSED mount — the codes
    * carry no metadata, so the matching id set (read off the SAME probed
    * cells' records) semi-joins the codes scan BEFORE the CandN cut: the
    * ADC ranks matching rows only, never a post-filtered geometry top-k.
    * The oracle replays q92's full candidate policy with the tenant
    * predicate applied INSIDE the adc CTE — a post-filtering
    * implementation would rank non-matching rows into the CandN cut and
    * break the hash. Batch parity with [[graft.store.DurableVectorStore.gradedSearch]] on pq
    * asserted in-script once per dir. */
  def q170(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q170"))
    val hits = graded(fx, batch = false).head
    pairParity(spark, dir, fx)
    lastDFPqAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    dfFrame(spark, hits)
  }

  /** q92's replay ([[dpqSql]]) with the tenant predicate INSIDE the adc
    * CTE (the semi-join-before-CandN semantics) and on the delta/base. */
  def q170Sql(aux: String): String =
    dpqSql(aux, s"CAST(c.id AS BIGINT) % $DFTenantMod = 1",
      s"vec_id % $DFTenantMod = 1")

  @volatile private var lastDFBqAux: Option[(String, String)] = None

  /** q171: the hybrid query on the durable BINARY mount — the q170
    * semi-join discipline in front of the hamming CandN cut. The oracle
    * rebuilds the ENTIRE candidate policy from the base table (q101's
    * property — grid, packing, hamming) and applies the tenant predicate
    * before the cut; the grid itself stays trained on ALL layout rows
    * (the store trains mids unfiltered — a filtered grid would be a
    * different codebook and the hash would say so). */
  def q171(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q171"))
    val hits = graded(fx, batch = false).head
    pairParity(spark, dir, fx)
    lastDFBqAux = for {
      ann <- fx.store.annLayoutDir(fx.ns, fx.qv.length)
      bq <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (ann._1, bq)
    dfFrame(spark, hits)
  }

  /** q101's whole-policy replay ([[dbqSql]]) with the tenant predicate
    * before the hamming CandN cut and on the delta/base; the grid
    * itself stays trained on ALL layout rows, as the store trains it —
    * a filtered grid would be a different codebook and the hash would
    * say so. */
  def q171Sql(ann: String, aux: String): String =
    dbqSql(ann, aux, s"CAST(c.id AS BIGINT) % $DFTenantMod = 1",
      s"vec_id % $DFTenantMod = 1")

  @volatile private var lastDFImiAux: Option[(String, String)] = None

  /** q172: the hybrid query on the durable PRODUCT-GRID mount — the grid
    * rows ARE records, so the predicate evaluates inside the probed-cell
    * scan exactly like q164's IVF form, just under the k² fine-cell
    * geometry; the oracle IS [[q164Sql]] pointed at the grid's own
    * `assign/` ⋈ `probes/`. */
  def q172(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q172"))
    val hits = graded(fx, batch = false).head
    pairParity(spark, dir, fx)
    lastDFImiAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
      .map(a => (a, s"$a/probes"))
    dfFrame(spark, hits)
  }

  @volatile private var lastDFHnswAux: Option[String] = None

  /** q173: the hybrid query on the durable GRAPH mount — the one
    * candidate policy a predicate cannot reach into (the beam is
    * geometry-cut at EfSearch per shard), so the predicate evaluates on
    * the persisted RAW frontier before ranking and the starved fallback
    * carries the k contract (it fires soonest here; DurableStoreSpec
    * pins it). The oracle unions the persisted pre-filter beam with the
    * script's delta and applies the tenant predicate at the rerank —
    * exactly the store's candidate-then-filter-then-rank order. */
  def q173(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q173"))
    val hits = graded(fx, batch = false).head
    pairParity(spark, dir, fx)
    lastDFHnswAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    dfFrame(spark, hits)
  }

  /** q123's replay ([[dhnswSql]]) with the tenant predicate at the
    * rerank; the persisted beam is already predicate-aware under the
    * flat filter (ACORN), and joining the restricted base replays the
    * store's candidate-then-filter-then-rank order either way. */
  def q173Sql(aux: String): String =
    dhnswSql(aux, s"vec_id % $DFTenantMod = 1")

  // ---- q175: TIME-TRAVEL ANN — the as-of snapshot through the index ---

  private[graft] val AsOfDelMod = 18   // wave-1 deletes: 14 ids over 250 rows
  private[graft] val AsOfDelta2 = 10L  // wave-2 appends
  private[graft] val AsOfDel2 = Seq("5", "55", "105", "155", "205") // wave-2 deletes

  /** (layout dir, probe dir) of the most recent q175 run — oracle hook. */
  @volatile private var lastDurableAsOfAux: Option[(String, String)] = None

  /** q175: reproducible retrieval while ingestion keeps appending — the
    * q72 as-of snapshot served through the INDEXED read path. A 100 TB
    * training pipeline records `currentSeq()` at job start and replays
    * any retrieval bit-identically against that horizon; q72 graded the
    * exact form, this grades the indexed one: layout candidates (stamped
    * ≤ builtSeq ≤ asOf by construction) minus tombstones in
    * (builtSeq, asOf], union as-of live rows in (builtSeq, asOf] — both
    * mutation horizons BOUNDED at the snapshot. Script: load → layout
    * build → wave-1 mutations (deletes + delta) → record
    * `h = currentSeq()` → wave-2 mutations (more deletes + a second
    * delta batch) → graded `findSimilarAsOf(asOf = h, approx = true)`.
    * The oracle's base/candidates are the WAVE-1 state only, so a
    * horizon leak in either direction — wave-2 rows served, or wave-2
    * deletes applied — breaks the hash. The combined window (14 + 20 +
    * 5 + 10 = 49 over 250 rows) sits just under the 0.2 staleness
    * ratio, so the first layout serves throughout; `annBuilds == 1`
    * keeps a retune loud (a rebuild would stamp builtSeq > h and the
    * search would honestly fall back to the exact as-of scan — correct,
    * but not what the oracle replays). */
  def q175(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q175"))
    val hits = graded(fx, batch = false).head
    pairParity(spark, dir, fx)
    lastDurableAsOfAux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a)) }
    dfFrame(spark, hits)
  }

  /** SQL replay of the as-of indexed read: q87's candidate contract
    * ([[dannSql]]) at the WAVE-1 horizon — wave-2 deletes and the
    * second delta batch appear nowhere (the invisibility IS the
    * grade). */
  def q175Sql(aux: String, probesDir: String): String =
    dannSql(aux, probesDir, AsOfDelMod, "TRUE")

  // ---- q179: FILTERED BATCH AS-OF — the nightly eval composition ------

  /** (layout dir, batch-probe dir) of the most recent q179 run. */
  @volatile private var lastDFAsOfBatchAux: Option[(String, String)] = None

  /** q179: FILTERED BATCH AS-OF — a batch of queries, a tenant
    * predicate, a recorded stamp: the exact composition a
    * reproducibility-pinned RAG evaluation runs nightly (VERDICT r16
    * "What's missing" #1 — the single-query path served it, the batch
    * facade 422'd). The q168 filter discipline (predicate at candidate
    * time inside the one layout sweep and on the delta tail; per-query
    * starved rescue, here answering from the exact FILTERED AS-OF scan)
    * composed with the q175 snapshot contract (kills in
    * (builtSeq, asOf], delta in (builtSeq, asOf], later mutations
    * invisible), over its [[durableFixture]] store. The oracle replays
    * candidates ∩ tenant at the WAVE-1 horizon only; positional parity
    * with the filtered as-of SINGLES is asserted in-script (the q133
    * convention), closing the single/batch consistency question for
    * the filtered snapshot read. */
  def q179(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q179"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDFAsOfBatchAux = fx.store.annLayoutDir(fx.ns, fx.qv.length)
      .map { case (a, _) => (a, fx.store.annProbesDir(a, "batch_probes")) }
    batchHitsFrame(spark, res)
  }

  /** q168's replay at the wave-1 horizon ([[dfbatchSql]] with q175's
    * delete modulus) — wave-2 deletes and the second delta batch appear
    * nowhere. */
  def q179Sql(aux: String, probesDir: String): String =
    dfbatchSql(aux, probesDir, AsOfDelMod)

  // ---- q181: AS-OF through the COMPRESSED mount ------------------------

  /** PQ aux dir of the most recent q181 run — oracle hook. */
  @volatile private var lastDPqAsOfAux: Option[String] = None

  /** q181: the q175 snapshot contract on the COMPRESSED mount (VERDICT
    * r16 "What's missing" #2 — as-of was exact + ivf only; the derived
    * mounts refused). The PQ code table derives from the layout, so
    * every code row is stamped ≤ builtSeq ≤ asOf by construction and
    * the ADC CandN cut is snapshot-safe as built — only the two
    * mutation horizons move: kills in (builtSeq, asOf], delta =
    * as-of rows in (builtSeq, asOf]. Script mirrors q175 on the PQ
    * mount (load → codes via the first pq search → wave-1 mutations →
    * record h → wave-2 mutations → graded
    * `findSimilarAsOf(asOf = h, index = "pq")`); the oracle is q92's
    * ADC replay at the WAVE-1 horizon ([[dpqSqlAt]]) — a wave-2 row or
    * delete anywhere breaks the hash. The exact as-of scan's agreement
    * is asserted in-script at k=1 (the nearest neighbor survives every
    * CandN cut), pinning the probe against the authoritative snapshot. */
  def q181(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q181"))
    val hits = graded(fx, batch = false).head
    exactTop1Parity(dir, fx, hits)
    lastDPqAsOfAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    dfFrame(spark, hits)
  }

  /** q92's ADC replay at the wave-1 horizon ([[dpqSqlAt]] with q175's
    * delete modulus) — wave-2 deletes and the second delta batch appear
    * nowhere. */
  def q181Sql(aux: String): String =
    dpqSqlAt(aux, "TRUE", "TRUE", AsOfDelMod)

  // ---- q199: filter × batch × as-of on the SIGNATURE mount -------------

  /** q199: the HYBRID query composed with BOTH remaining serving
    * dimensions on a derived mount — a BATCH of queries, a tenant
    * predicate, a recorded stamp, served by the durable SIGNATURE mount
    * (q179 graded this composition on ivf; this closes it onto the md5
    * band-signature geometry). Per query: bucket-mates join the
    * horizon-bounded record set with the predicate at candidate time
    * (never a post-filtered top-k), delta tail unioned, exact cosine
    * rerank over the as-of live set. In-script: probe-branch guards
    * (one build, zero rescues, k hits per query) and positional parity
    * with Q single filtered as-of searches, once per dir. Oracle =
    * [[dlshBatchSqlAt]] at the wave-1 horizon with the tenant predicate
    * re-derived relationally — the q197 text × the q169 predicate. */
  def q199(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q199"))
    val res = graded(fx, batch = true, persist = false)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    batchHitsFrame(spark, res)
  }

  def q199Sql: String =
    dlshBatchSqlAt(AsOfDelMod, s"vec_id % $DFTenantMod = 1")

  /** qid-keyed durable LSH replay — [[dlshSqlAt]] with [[q148Sql]]'s
    * qid dimension, the missing text VERDICT r18 named as q197's only
    * blocker: hyperplanes, corpus signatures, and EVERY query's band
    * buckets recompute relationally from the md5 policy over the
    * pre-delete load (the layout content at builtSeq by the fixture's
    * construction — nothing read from persisted artifacts); per-query
    * candidates = that query's bucket-mates ∪ the delta tail; exact
    * cosine rerank per qid over the horizon-bounded base via
    * [[durableBatchOracleTail]]. `delMod` parameterizes the delete
    * horizon exactly as in [[dlshSqlAt]]. */
  private def dlshBatchSqlAt(delMod: Long,
                             tenantPred: String = "TRUE"): String = {
    val nPlanes = ApproxBands * ApproxBits
    s"""WITH planes AS (
       |  SELECT f, list(CAST((('0x' || substr(md5('graft_lsh_' || f || '_' || j), 1, 8))::BIGINT
       |                       / 2147483648.0 - 1.0) AS FLOAT) ORDER BY j) AS pl
       |  FROM range($nPlanes) tp(f), range($ApproxDim) td(j)
       |  GROUP BY f),
       |layout AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $FacadeN),
       |qq AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |sigs AS (
       |  SELECT b.id, (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("b.v", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM layout b, planes p GROUP BY b.id, band),
       |qsig AS (
       |  SELECT q.qid, (p.f // $ApproxBits)::INT AS band,
       |         sum(CASE WHEN ${dotSql("q.qv", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $ApproxBits)) ELSE 0 END) AS bucket
       |  FROM qq q, planes p GROUP BY q.qid, band),
       |bm AS (
       |  SELECT DISTINCT g.qid, s.id FROM sigs s
       |  JOIN qsig g ON s.band = g.band AND s.bucket = g.bucket),
       |${durableBatchOracleTail("SELECT qid, id FROM bm", delMod, tenantPred)}""".stripMargin
  }

  /** [[graft.streaming.EventStream.q197]]'s oracle: the batched durable
    * signature read at the wave-1 horizon — wave-2 mutations appear
    * nowhere; that invisibility IS the grade. Static (no persisted
    * artifact): the whole candidate policy is the deterministic md5
    * hyperplane family. */
  def q197Sql: String = dlshBatchSqlAt(AsOfDelMod)

  // ---- q200–q203: filter × batch × as-of CLOSED on all six mounts ------
  //
  // VERDICT r19 "What's missing" #1: findSimilarBatchAsOf SERVES the
  // metadata-predicate × snapshot composition on every index and REST
  // exposes it, but only ivf (q179) and lsh (q199) were graded — the
  // nightly tenant-filtered reproducible-eval ran on an unverified path
  // on the four derived mounts. These close the matrix: one tenant-
  // tagged fixture per mount (the q199 script with the mount's own
  // first-batch builder), the graded batch read with its probe
  // artifacts persisted, in-script probe-branch guards (one build per
  // structure, zero rescues, k hits per query), positional parity with
  // Q single filtered as-of searches, and each oracle = the mount's
  // existing batch replay at the wave-1 horizon with the tenant
  // predicate in the engine's own slot — BEFORE the CandN cut on the
  // code mounts (the q170/q171 semi-join semantics), relational at the
  // record join on grid/graph (the q164 discipline).

  @volatile private var lastDFPqBAsOfAux: Option[String] = None

  /** q200: filter × batch × as-of on the COMPRESSED mount — the q199
    * composition served by the PQ codes. The tenant predicate cuts the
    * one pruned codes sweep BEFORE each query's ADC CandN heap (the
    * q170 semi-join discipline batched), both mutation horizons bound
    * at the recorded stamp. */
  def q200(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q200"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDFPqBAsOfAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    batchHitsFrame(spark, res)
  }

  def q200Sql(aux: String): String =
    dpqBatchSqlAt(aux, AsOfDelMod,
      s"CAST(c.id AS BIGINT) % $DFTenantMod = 1",
      s"vec_id % $DFTenantMod = 1")

  @volatile private var lastDFBqBAsOfAux: Option[(String, String)] = None

  /** q201: filter × batch × as-of on the SIGN-BIT mount — the tenant
    * predicate cuts the one xor+popcount sweep BEFORE each query's
    * integer hamming CandN heap (the q171 discipline batched); the
    * midpoint grid stays trained on ALL layout rows, as the store
    * trains it. */
  def q201(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q201"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDFBqBAsOfAux = for {
      ann <- fx.store.annLayoutDir(fx.ns, fx.qv.length)
      bq <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (ann._1, bq)
    batchHitsFrame(spark, res)
  }

  def q201Sql(ann: String, aux: String): String =
    bqBatchSqlAt(ann, aux, AsOfDelMod,
      s"CAST(c.id AS BIGINT) % $DFTenantMod = 1",
      s"vec_id % $DFTenantMod = 1")

  @volatile private var lastDFImiBAsOfAux: Option[String] = None

  /** q202: filter × batch × as-of on the PRODUCT-GRID mount — the grid
    * rows ARE records, so the predicate evaluates inside the one pruned
    * grid scan (the q172 discipline batched); the oracle's candidates
    * stay unfiltered and the tenant cut binds relationally at the
    * record join — the same final set, because the grid has no rank
    * cut between probe and rerank. */
  def q202(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q202"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDFImiBAsOfAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
    batchHitsFrame(spark, res)
  }

  /** The grid replays through its own `assign/` ⋈ `batch_probes/` (the
    * q136 artifact pair) with the tenant predicate on the rerank base. */
  def q202Sql(aux: String): String =
    s"""WITH probes AS (
       |  SELECT __qid AS qid, cell
       |  FROM read_parquet('$aux/batch_probes/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |grid AS (SELECT DISTINCT p.qid, a.id FROM a JOIN probes p USING (cell)),
       |${durableBatchOracleTail("SELECT qid, id FROM grid", AsOfDelMod,
           s"vec_id % $DFTenantMod = 1")}""".stripMargin

  @volatile private var lastDFHnswBAsOfAux: Option[String] = None

  /** q203: filter × batch × as-of on the GRAPH mount — the ACORN-1
    * filter-aware beam proposes per query in ONE pass of the resident
    * shard graphs, the predicate binds again at the record join (the
    * q173 discipline batched), both horizons at the recorded stamp. */
  def q203(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q203"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDFHnswBAsOfAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    batchHitsFrame(spark, res)
  }

  def q203Sql(aux: String): String =
    hnswBatchSqlAt(aux, AsOfDelMod, s"vec_id % $DFTenantMod = 1")

  // ---- q204 (oracle): filter × as-of on the COMPRESSED mount SERVED AS
  // A STREAM — the route lives in [[graft.streaming.EventStream.q204]] --

  /** q200's replay verbatim — the drained stream is pinned positionally
    * equal to the one-shot filtered batch as-of twin in-script, and the
    * twin persists the probes/LUTs the replay reads, so one replay text
    * grades the streamed and one-shot forms of the composition. */
  def q204Sql(aux: String): String = q200Sql(aux)

  // ---- q205–q208 (oracles): the streaming × filtered ×
  // as-of matrix CLOSED 6/6 — routes in [[graft.streaming.EventStream
  // .q205]]–[[q208]]; with q190 (ivf) and q204 (pq) every durable mount
  // serves the tenant-filtered snapshot stream ----------------------------

  /** The q201–q203/q199 replays verbatim (the q204 rationale: stream ≡
    * one-shot is pinned in-script, so each mount's existing filtered
    * batch as-of text grades its streamed form too). */
  def q205Sql(ann: String, aux: String): String = q201Sql(ann, aux)
  def q206Sql(aux: String): String = q202Sql(aux)
  def q207Sql(aux: String): String = q203Sql(aux)
  def q208Sql: String = q199Sql

  // ---- q183–q186: the as-of × index matrix CLOSED ----------------------
  //
  // q181 proved the structural fact on PQ; these four finish it: every
  // derived structure (sign bits, product grid, shard graphs, band
  // signatures) derives from the layout, so each candidate policy is
  // snapshot-safe AS BUILT and only the kill/delta horizons move. One
  // shared script ([[durableFixture]]), one shared guard ([[graded]] +
  // [[exactTop1Parity]]), each oracle = the mount's existing replay builder at
  // the wave-1 horizon — graded as-of variants of one policy share one
  // replay text with their live forms, so they cannot drift.

  @volatile private var lastDBqAsOfAux: Option[(String, String)] = None

  /** q183: the q175 snapshot contract on the SIGN-BIT mount — hamming
    * cut over codes derived from the pre-horizon layout, kills/delta
    * bounded at the recorded stamp; oracle = q101's relational code
    * re-derivation at the wave-1 horizon. */
  def q183(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q183"))
    val hits = graded(fx, batch = false).head
    exactTop1Parity(dir, fx, hits)
    lastDBqAsOfAux = for {
      ann <- fx.store.annLayoutDir(fx.ns, fx.qv.length)
      bq <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (ann._1, bq)
    dfFrame(spark, hits)
  }

  def q183Sql(ann: String, aux: String): String =
    dbqSqlAt(ann, aux, "TRUE", "TRUE", AsOfDelMod)

  @volatile private var lastDImiAsOfAux: Option[(String, String)] = None

  /** q184: the snapshot contract on the PRODUCT-GRID mount — the grid's
    * own assign/ is the candidate policy (q110's contract), replayed at
    * the wave-1 horizon through [[dannSql]]. */
  def q184(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q184"))
    val hits = graded(fx, batch = false).head
    exactTop1Parity(dir, fx, hits)
    lastDImiAsOfAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
      .map(a => (a, s"$a/probes"))
    dfFrame(spark, hits)
  }

  def q184Sql(aux: String, probesDir: String): String =
    dannSql(aux, probesDir, AsOfDelMod, "TRUE")

  @volatile private var lastDHnswAsOfAux: Option[String] = None

  /** q185: the snapshot contract on the GRAPH mount — the persisted
    * beam (run on graphs derived from the pre-horizon layout) is the
    * candidate policy; kills/delta bound at the stamp; oracle = q123's
    * replay at the wave-1 horizon. */
  def q185(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q185"))
    val hits = graded(fx, batch = false).head
    exactTop1Parity(dir, fx, hits)
    lastDHnswAsOfAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    dfFrame(spark, hits)
  }

  def q185Sql(aux: String): String = dhnswSqlAt(aux, "TRUE", AsOfDelMod)

  /** q186: the snapshot contract on the SIGNATURE mount — band
    * signatures derive from the pre-horizon layout; the oracle
    * re-derives hyperplanes, signatures, and the bucket join
    * relationally at the wave-1 horizon (q155's replay, nothing taken
    * from the store). */
  def q186(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q186"))
    val hits = graded(fx, batch = false).head
    exactTop1Parity(dir, fx, hits)
    dfFrame(spark, hits)
  }

  def q186Sql: String = dlshSqlAt("TRUE", AsOfDelMod)

  // ---- q133–q137: the COMPLETE batch matrix (r13) ---------------------
  //
  // VERDICT r12 "What's missing" #1: the live batch route refused
  // index:"imi" and the durable mount batched only IVF — batch users on
  // exactly the mounts a 100 TB deployment serves from (compressed
  // codes, graphs) fell back to Q sequential probes. Each entry below
  // grades one new one-scan batch facade; positional parity with Q
  // sequential single-query searches is asserted in-script (the q106
  // billing rationale: once per process per dir), and every oracle
  // replays the persisted candidate policy relationally.

  private val BatchImiNs = "q133"

  private val q133Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** Grid dir of the most recent q133 run — oracle hook. */
  @volatile private var lastBatchImiAux: Option[String] = None


  /** q133: [[VectorStore.gradedSearch]] on imi behind the gate — the
    * q106 one-scan batch thesis on the product-grid mount: Q=4 pair-sum
    * probe lists union into ONE partition-pruned scan of the persisted
    * k×k grid, per-query candidates flow through the
    * candidate-restricted bounded-heap batch kernel, exact cosine
    * rerank. The oracle replays per-query candidates from the persisted
    * `assign/` ⋈ `batch_probes/` (qid-keyed) — [[q106Sql]] verbatim,
    * the grid being the candidate POLICY exactly like q103/q53. */
  def q133(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q133Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < BatchN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        BatchImiNs)
      s
    })
    val qs = batchOf(e)
    val res = store.gradedSearch("imi", batch = true, qs, K, BatchImiNs)
    batchParity("q133", dir)(qs, _ => res,
      store.findSimilar(_, k = K, metric = "cosine", namespace = BatchImiNs,
        approx = true, index = "imi"))
    lastBatchImiAux = store.layoutDir("imi", BatchImiNs, qs.head.length)
    batchHitsFrame(spark, res)
  }

  /** The shared (qid-keyed) tail of every durable batch oracle: cand =
    * the family's per-query policy ids ∪ the script's delta ids, base =
    * load-minus-deletes plus the delta, exact cosine rerank per query
    * with the string-id tie-break. `candSql` must yield (qid, id);
    * `tenantPred` re-derives a metadata filter relationally on the base
    * (the q164 discipline — candidates ⋈ filtered base ≡ the store's
    * candidate-time filter at the record join; "TRUE" = unfiltered). */
  private def durableBatchOracleTail(candSql: String,
                                     delMod: Long = FacadeDelMod,
                                     tenantPred: String = "TRUE"): String =
    s"""qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |cand AS (
       |  $candSql
       |  UNION
       |  SELECT q.qid, e.vec_id::VARCHAR FROM qs q, embeddings e
       |  WHERE e.vec_id >= $FacadeN AND e.vec_id < ${FacadeN + DAnnDeltaN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE ((vec_id < $FacadeN AND vec_id % $delMod <> 0)
       |     OR (vec_id >= $FacadeN AND vec_id < ${FacadeN + DAnnDeltaN}))
       |    AND ($tenantPred)),
       |sc AS (
       |  SELECT c.qid, b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cand c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  /** Codes dir of the most recent q134 run — oracle hook. */
  @volatile private var lastDurableBatchPqAux: Option[String] = None
  /** q134: [[graft.store.DurableVectorStore.gradedSearch]] on pq behind
    * the gate — q92's LSM code-mount read, batched: all Q ADC LUTs
    * broadcast qid-keyed, ONE pruned sweep of the stamped codes table,
    * per-query CandN bounded-heap cut, candidates ∪ the exact delta
    * tail, kill-by-live-join. The oracle replays `codes_flat` ⋈
    * `batch_lut` restricted to `batch_probes`, cut per qid. */
  def q134(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q134"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDurableBatchPqAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the durable batched PQ read: per-query ADC = probed
    * cells' `codes_flat` ⋈ that query's `batch_lut` rows, candidates =
    * top-CandN per qid on (rounded ADC, id) ∪ delta. `delMod`
    * parameterizes the delete horizon: FacadeDelMod replays the live
    * read (q134), AsOfDelMod the wave-1 snapshot (q192 — wave-2
    * mutations appear nowhere; that invisibility IS the grade).
    * `candPred` cuts the ADC population BEFORE the per-qid CandN rank
    * (the q170 semi-join semantics batched — q200); `tenantPred`
    * re-derives the metadata filter on the rerank base. */
  private def dpqBatchSqlAt(aux: String, delMod: Long,
                            candPred: String = "TRUE",
                            tenantPred: String = "TRUE"): String =
    s"""WITH probes AS (
       |  SELECT __qid AS qid, cell
       |  FROM read_parquet('$aux/batch_probes/*.parquet')),
       |lut AS (SELECT qid, sub, code, d
       |        FROM read_parquet('$aux/batch_lut/*.parquet')),
       |cf AS (SELECT id, cell, sub, code
       |       FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT p.qid, c.id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN probes p ON p.cell = c.cell
       |  JOIN lut l ON l.qid = p.qid AND l.sub = c.sub AND l.code = c.code
       |  WHERE ($candPred)
       |  GROUP BY p.qid, c.id),
       |cut AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY adc, id) AS cr FROM adc)
       |  WHERE cr <= ${Pq.CandN}),
       |${durableBatchOracleTail("SELECT qid, id FROM cut", delMod, tenantPred)}""".stripMargin

  def q134Sql(aux: String): String = dpqBatchSqlAt(aux, FacadeDelMod)

  /** q134's replay at the wave-1 horizon — the [[dpqSqlAt]] relationship
    * batched ([[EventStream.q192]]'s oracle; the streamed snapshot read
    * and the one-shot batch twin are pinned positionally equal
    * in-script, so one replay text grades both). */
  def q192Sql(aux: String): String = dpqBatchSqlAt(aux, AsOfDelMod)

  /** (ann dir, bq dir) of the most recent q135 run — oracle hook. */
  @volatile private var lastDurableBatchBqAux: Option[(String, String)] = None
  /** q135: [[graft.store.DurableVectorStore.gradedSearch]] on bq behind
    * the gate — q101's sign-bit mount, batched: all Q query codes pack
    * driver-side, ONE pruned sweep of the stamped code words, per-query
    * CandN cut on integer (hamming, id), delta union, kill-by-live-join.
    * The oracle re-derives the grid + codes from the load window (the
    * q101 derivation) and replays each query's hamming cut restricted
    * to its probed cells. */
  def q135(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q135"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDurableBatchBqAux = for {
      ann <- fx.store.annLayoutDir(fx.ns, fx.qv.length)
      bq <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (ann._1, bq)
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the durable batched BQ read — [[q101Sql]] with a qid
    * dimension: grid + codes re-derived from the load window, each
    * query's code taken from the same derivation (batch queries are
    * corpus rows), hamming cut per qid over that query's probed
    * cells. */
  def q135Sql(ann: String, aux: String): String =
    bqBatchSqlAt(ann, aux, FacadeDelMod)

  /** [[q135Sql]] with the delete horizon parameterized — FacadeDelMod
    * replays the live batched BQ read (q135), AsOfDelMod the wave-1
    * snapshot ([[graft.streaming.EventStream.q194]]'s oracle). */
  def q194Sql(ann: String, aux: String): String =
    bqBatchSqlAt(ann, aux, AsOfDelMod)

  /** `candPred` cuts the hamming population BEFORE the per-qid CandN
    * rank (the q171 semi-join semantics batched — q201); `tenantPred`
    * re-derives the metadata filter on the rerank base. The midpoint
    * grid stays trained on ALL layout rows, as the store trains it. */
  private def bqBatchSqlAt(ann: String, aux: String, delMod: Long,
                           candPred: String = "TRUE",
                           tenantPred: String = "TRUE"): String = {
    val dim = 64
    val bit =
      """CASE WHEN st.i = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |     ELSE (1::BIGINT << st.i::INT) END""".stripMargin
    s"""WITH probes AS (
       |  SELECT __qid AS qid, cell
       |  FROM read_parquet('$aux/batch_probes/*.parquet')),
       |a AS (SELECT id, cell FROM read_parquet('$ann/assign/*.parquet')),
       |st AS (
       |  SELECT g.i,
       |         (min(embedding[g.i + 1])::DOUBLE
       |          + max(embedding[g.i + 1])::DOUBLE) / 2 AS mid
       |  FROM embeddings, range($dim) g(i)
       |  WHERE vec_id < $FacadeN GROUP BY 1),
       |codes AS (
       |  SELECT e.vec_id::VARCHAR AS id,
       |         bit_or(CASE WHEN e.embedding[st.i + 1]::DOUBLE > st.mid
       |                     THEN $bit ELSE 0::BIGINT END) AS code
       |  FROM embeddings e, st WHERE e.vec_id < $FacadeN GROUP BY 1),
       |ham AS (
       |  SELECT p.qid, c.id, bit_count(xor(c.code, qc.code)) AS ham
       |  FROM codes c
       |  JOIN a ON a.id = c.id
       |  JOIN probes p ON p.cell = a.cell
       |  JOIN codes qc ON qc.id = p.qid::VARCHAR
       |  WHERE ($candPred)),
       |cut AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY ham, id) AS cr FROM ham)
       |  WHERE cr <= ${graft.operators.Bq.CandN}),
       |${durableBatchOracleTail("SELECT qid, id FROM cut", delMod, tenantPred)}""".stripMargin
  }

  /** Grid dir of the most recent q136 run — oracle hook. */
  @volatile private var lastDurableBatchImiAux: Option[String] = None
  /** q136: [[graft.store.DurableVectorStore.gradedSearch]] on imi behind
    * the gate — q110's product-grid mount, batched: Q pair-sum probe
    * lists union into ONE pruned scan of the derived grid layout,
    * per-query candidates = probed cells' members ∪ delta,
    * kill-by-live-join. Oracle = [[q107Sql]] with the grid's `assign/`
    * as the policy table (the grid IS the assignment, the q110/q87
    * relationship). */
  def q136(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q136"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDurableBatchImiAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
    batchHitsFrame(spark, res)
  }

  /** Graph dir of the most recent q137 run — oracle hook. */
  @volatile private var lastDurableBatchHnswAux: Option[String] = None
  /** q137: [[graft.store.DurableVectorStore.gradedSearch]] on hnsw
    * behind the gate — q123's graph mount, batched: all Q queries
    * beam-search each resident shard graph in ONE pass of the layout,
    * candidates ∪ delta, kill-by-live-join. The persisted qid-keyed
    * beam output is the policy artifact (the q122/q123 relationship);
    * the oracle replays the exact cosine rerank over exactly those
    * candidates ∪ the script's delta. */
  def q137(spark: SparkSession, dir: String): DataFrame = {
    val fx = durableFixture(spark, dir, scripts("q137"))
    val res = graded(fx, batch = true)
    fixtureParity(fx, dir)(fx.queries, _ => res)
    lastDurableBatchHnswAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    batchHitsFrame(spark, res)
  }

  /** SQL replay of the durable batched HNSW read: per-query candidates =
    * the persisted qid-keyed beam output ∪ delta. */
  def q137Sql(aux: String): String = hnswBatchSqlAt(aux, FacadeDelMod)

  /** q137's replay at the wave-1 horizon —
    * [[graft.streaming.EventStream.q196]]'s oracle. */
  def q196Sql(aux: String): String = hnswBatchSqlAt(aux, AsOfDelMod)

  /** `tenantPred` re-derives the metadata filter on the rerank base
    * (q203) — the persisted beam is already the filter-aware ACORN
    * proposal, so the predicate binds only at the record join, exactly
    * the store's candidate-time contract. */
  private def hnswBatchSqlAt(aux: String, delMod: Long,
                             tenantPred: String = "TRUE"): String =
    s"""WITH beam AS (
       |  SELECT DISTINCT __qid AS qid, id
       |  FROM read_parquet('$aux/batch_cands/*.parquet')),
       |${durableBatchOracleTail("SELECT qid, id FROM beam", delMod, tenantPred)}""".stripMargin

  private val BatchBqNs = "q140"
  private val q140Stores =
    new java.util.concurrent.ConcurrentHashMap[String, VectorStore]()

  /** q140: [[VectorStore.gradedSearch]] on bq behind the gate — the one
    * live batch facade that shipped in r12 without a graded entry. All Q
    * query codes pack driver-side against the namespace's midpoint grid
    * and broadcast as one (qid, qcode) frame; the cached sign-bit codes
    * are swept ONCE (one xor+popcount per word per (row, query)), the
    * per-query CandN cut is the bounded heap on integer (hamming, id),
    * and the winners rerank exactly through the batch kernel. The oracle
    * is fully self-contained (the q101 derivation with a qid dimension):
    * grid and codes re-derive from the load window in SQL, each query's
    * code comes from the same derivation (batch queries are corpus
    * rows). */
  def q140(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
    val store = q140Stores.computeIfAbsent(dir, d => {
      val s = new VectorStore(spark)
      s.loadFrame(
        Tables.table(spark, d, "embeddings")
          .where(col("vec_id") < BatchN)
          .select(col("vec_id").cast("string").as("id"),
            col("embedding").as("values")),
        BatchBqNs)
      s
    })
    val qs = batchOf(e)
    val res = store.gradedSearch("bq", batch = true, qs, K, BatchBqNs)
    batchParity("q140", dir)(qs, _ => res,
      store.findSimilar(_, k = K, metric = "cosine", namespace = BatchBqNs,
        approx = true, index = "bq"))
    batchHitsFrame(spark, res)
  }

  /** Self-contained SQL replay of the live batched BQ read. */
  val q140Sql: String = {
    val dim = 64
    val bit =
      """CASE WHEN st.i = 63 THEN (-9223372036854775807 - 1)::BIGINT
        |     ELSE (1::BIGINT << st.i::INT) END""".stripMargin
    s"""WITH st AS (
       |  SELECT g.i,
       |         (min(embedding[g.i + 1])::DOUBLE
       |          + max(embedding[g.i + 1])::DOUBLE) / 2 AS mid
       |  FROM embeddings, range($dim) g(i)
       |  WHERE vec_id < $BatchN GROUP BY 1),
       |codes AS (
       |  SELECT e.vec_id::VARCHAR AS id,
       |         bit_or(CASE WHEN e.embedding[st.i + 1]::DOUBLE > st.mid
       |                     THEN $bit ELSE 0::BIGINT END) AS code
       |  FROM embeddings e, st WHERE e.vec_id < $BatchN GROUP BY 1),
       |qc AS (SELECT vec_id AS qid, code FROM embeddings e
       |       JOIN codes c ON c.id = e.vec_id::VARCHAR
       |       WHERE e.vec_id < $BatchQn),
       |ham AS (
       |  SELECT q.qid, c.id, bit_count(xor(c.code, q.code)) AS ham
       |  FROM codes c, qc q),
       |cut AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid
       |                              ORDER BY ham, id) AS cr FROM ham)
       |  WHERE cr <= ${graft.operators.Bq.CandN}),
       |base AS (
       |  SELECT vec_id::VARCHAR AS id, embedding AS v FROM embeddings
       |  WHERE vec_id < $BatchN),
       |qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $BatchQn),
       |sc AS (
       |  SELECT c.qid, b.id, ${cosSql("b.v", "q.qv")} AS raw
       |  FROM cut c JOIN base b ON b.id = c.id JOIN qs q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, raw,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY raw DESC, id) AS rank
       |  FROM sc)
       |SELECT qid::INT AS qid, rank::INT AS rank, id, ${Det.r4Sql("raw")} AS score
       |FROM r WHERE rank <= $K ORDER BY qid, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q45_store_mutations" -> (q45 _),
      "q48_store_approx_search" -> (q48 _),
      "q50_durable_compact" -> (q50 _),
      "q51_durable_search" -> (q51 _),
      "q53_store_ivf_search" -> (q53 _),
      "q54_durable_facade" -> (q54 _),
      "q56_durable_compact_reload" -> (q56 _),
      "q57_stream_ingest_durable" -> (q57 _),
      "q61_store_pq_search" -> (q61 _),
      "q72_durable_asof" -> (q72 _),
      "q75_store_batch_search" -> (q75 _),
      "q78_durable_cdc" -> (q78 _),
      "q87_durable_ann" -> (q87 _),
      "q92_durable_pq" -> (q92 _),
      "q93_durable_ann_l2" -> (q93 _),
      "q101_durable_bq" -> (q101 _),
      "q102_durable_ann_ip" -> (q102 _),
      "q103_store_imi_search" -> (q103 _),
      "q106_store_ivf_batch" -> (q106 _),
      "q107_durable_ivf_batch" -> (q107 _),
      "q109_store_pq_batch" -> (q109 _),
      "q110_durable_imi" -> (q110 _),
      "q119_store_hnsw_search" -> (q119 _),
      "q122_store_hnsw_batch" -> (q122 _),
      "q123_durable_hnsw" -> (q123 _),
      "q133_store_imi_batch" -> (q133 _),
      "q134_durable_pq_batch" -> (q134 _),
      "q135_durable_bq_batch" -> (q135 _),
      "q136_durable_imi_batch" -> (q136 _),
      "q137_durable_hnsw_batch" -> (q137 _),
      "q140_store_bq_batch" -> (q140 _),
      "q147_store_opq_search" -> (q147 _),
      "q148_store_lsh_batch" -> (q148 _),
      "q149_durable_opq_search" -> (q149 _),
      "q155_durable_lsh" -> (q155 _),
      "q164_durable_filtered_ann" -> (q164 _),
      "q168_durable_filtered_batch" -> (q168 _),
      "q169_durable_filtered_lsh" -> (q169 _),
      "q170_durable_filtered_pq" -> (q170 _),
      "q171_durable_filtered_bq" -> (q171 _),
      "q172_durable_filtered_imi" -> (q172 _),
      "q173_durable_filtered_hnsw" -> (q173 _),
      "q175_durable_asof_ann" -> (q175 _),
      "q179_durable_filtered_asof_batch" -> (q179 _),
      "q181_durable_asof_pq" -> (q181 _),
      "q183_durable_asof_bq" -> (q183 _),
      "q184_durable_asof_imi" -> (q184 _),
      "q185_durable_asof_hnsw" -> (q185 _),
      "q186_durable_asof_lsh" -> (q186 _),
      "q199_durable_filtered_lsh_batch_asof" -> (q199 _),
      "q200_durable_filtered_pq_batch_asof" -> (q200 _),
      "q201_durable_filtered_bq_batch_asof" -> (q201 _),
      "q202_durable_filtered_imi_batch_asof" -> (q202 _),
      "q203_durable_filtered_hnsw_batch_asof" -> (q203 _))

  /** q53's oracle reads the layout the last q53 run persisted — a def,
    * evaluated by Verify after all queries have executed (same pattern as
    * [[Ann.oracles]]). If q53 never ran in this JVM it gets no oracle
    * (honest rows-only check) rather than one pointing at a stale
    * layout. */
  def oracles: Map[String, String] =
    Map("q45_store_mutations" -> q45Sql,
      "q48_store_approx_search" -> q48Sql,
      "q50_durable_compact" -> q50Sql,
      "q51_durable_search" -> q51Sql,
      "q54_durable_facade" -> q54Sql,
      "q56_durable_compact_reload" -> q56Sql,
      "q57_stream_ingest_durable" -> q57Sql,
      "q72_durable_asof" -> q72Sql,
      "q75_store_batch_search" -> q75Sql,
      "q78_durable_cdc" -> q78Sql,
      "q155_durable_lsh" -> q155Sql,
      "q169_durable_filtered_lsh" -> q169Sql) ++
      lastIvfAux.map(aux => "q53_store_ivf_search" -> q53Sql(aux)) ++
      lastPqAux.map(aux => "q61_store_pq_search" -> q61Sql(aux)) ++
      lastDurableAnnAux.map { case (aux, p) =>
        "q87_durable_ann" -> q87Sql(aux, p) } ++
      lastDurablePqAux.map(aux => "q92_durable_pq" -> q92Sql(aux)) ++
      lastDurableL2Aux.map { case (aux, p) =>
        "q93_durable_ann_l2" -> q93Sql(aux, p) } ++
      lastDurableBqAux.map { case (ann, aux) =>
        "q101_durable_bq" -> q101Sql(ann, aux) } ++
      lastDurableIpAux.map { case (aux, p) =>
        "q102_durable_ann_ip" -> q102Sql(aux, p) } ++
      // the IMI layout is q33/q53-shaped, so its oracle is q53Sql itself
      lastStoreImiAux.map(aux => "q103_store_imi_search" -> q53Sql(aux)) ++
      lastBatchIvfAux.map(aux => "q106_store_ivf_batch" -> q106Sql(aux)) ++
      lastDurableBatchAux.map { case (aux, p) =>
        "q107_durable_ivf_batch" -> q107Sql(aux, p) } ++
      lastBatchPqAux.map(aux => "q109_store_pq_batch" -> q109Sql(aux)) ++
      // the IMI grid replays through the q87 candidate contract: its own
      // assign/ is the policy, the rerank is the shared exact cosine
      lastDurableImiAux.map { case (aux, p) =>
        "q110_durable_imi" -> q87Sql(aux, p) } ++
      lastStoreHnswAux.map(aux => "q119_store_hnsw_search" -> q119Sql(aux)) ++
      lastBatchHnswAux.map(aux => "q122_store_hnsw_batch" -> q122Sql(aux)) ++
      lastDurableHnswAux.map(aux => "q123_durable_hnsw" -> q123Sql(aux)) ++
      lastBatchImiAux.map(aux => "q133_store_imi_batch" -> q106Sql(aux)) ++
      lastDurableBatchPqAux.map(aux =>
        "q134_durable_pq_batch" -> q134Sql(aux)) ++
      lastDurableBatchBqAux.map { case (ann, aux) =>
        "q135_durable_bq_batch" -> q135Sql(ann, aux) } ++
      lastDurableBatchImiAux.map(aux =>
        "q136_durable_imi_batch" -> q107Sql(aux, s"$aux/batch_probes")) ++
      lastDurableBatchHnswAux.map(aux =>
        "q137_durable_hnsw_batch" -> q137Sql(aux)) ++
      Map("q140_store_bq_batch" -> q140Sql,
        "q148_store_lsh_batch" -> q148Sql) ++
      lastOpqAux.map { case (aux, dim) =>
        "q147_store_opq_search" -> q147Sql(aux, dim) } ++
      lastDurableOpqAux.map { case (aux, dim) =>
        "q149_durable_opq_search" -> q149Sql(aux, dim) } ++
      lastDurableFilteredAux.map { case (aux, p) =>
        "q164_durable_filtered_ann" -> q164Sql(aux, p) } ++
      lastDurableFilteredBatchAux.map { case (aux, p) =>
        "q168_durable_filtered_batch" -> q168Sql(aux, p) } ++
      lastDFPqAux.map(aux => "q170_durable_filtered_pq" -> q170Sql(aux)) ++
      lastDFBqAux.map { case (ann, aux) =>
        "q171_durable_filtered_bq" -> q171Sql(ann, aux) } ++
      // the filtered grid replays through the q164 candidate contract:
      // its own assign/ is the policy, the tenant cut is relational
      lastDFImiAux.map { case (aux, p) =>
        "q172_durable_filtered_imi" -> q164Sql(aux, p) } ++
      lastDFHnswAux.map(aux => "q173_durable_filtered_hnsw" -> q173Sql(aux)) ++
      lastDurableAsOfAux.map { case (aux, p) =>
        "q175_durable_asof_ann" -> q175Sql(aux, p) } ++
      lastDFAsOfBatchAux.map { case (aux, p) =>
        "q179_durable_filtered_asof_batch" -> q179Sql(aux, p) } ++
      lastDPqAsOfAux.map(aux => "q181_durable_asof_pq" -> q181Sql(aux)) ++
      lastDBqAsOfAux.map { case (ann, aux) =>
        "q183_durable_asof_bq" -> q183Sql(ann, aux) } ++
      lastDImiAsOfAux.map { case (aux, p) =>
        "q184_durable_asof_imi" -> q184Sql(aux, p) } ++
      lastDHnswAsOfAux.map(aux => "q185_durable_asof_hnsw" -> q185Sql(aux)) ++
      Map("q186_durable_asof_lsh" -> q186Sql) ++
      Map("q199_durable_filtered_lsh_batch_asof" -> q199Sql) ++
      lastDFPqBAsOfAux.map(aux =>
        "q200_durable_filtered_pq_batch_asof" -> q200Sql(aux)) ++
      lastDFBqBAsOfAux.map { case (ann, aux) =>
        "q201_durable_filtered_bq_batch_asof" -> q201Sql(ann, aux) } ++
      lastDFImiBAsOfAux.map(aux =>
        "q202_durable_filtered_imi_batch_asof" -> q202Sql(aux)) ++
      lastDFHnswBAsOfAux.map(aux =>
        "q203_durable_filtered_hnsw_batch_asof" -> q203Sql(aux))
}
