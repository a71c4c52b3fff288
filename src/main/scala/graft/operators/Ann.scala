package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the embedding column — the
  * scale path for the reference's HNSW index (SURVEY §2.3/§7: HNSW parity
  * is not required; its *semantics* — approximate top-k — are met by
  * LSH-bucketed candidate generation + exact rerank).
  *
  *  - q31 (correctness contract): brute-force batch top-k. One broadcast
  *    of the query set, one scan of the corpus, per-query window rank.
  *    At 100 TB this is the exact-rerank building block, not the index.
  *  - q32 (scale path): random-hyperplane LSH for cosine. Each vector gets
  *    B band signatures (R sign-bits each, packed to a long); candidates
  *    are vectors sharing any band bucket with the query; exact cosine
  *    reranks the candidates. Corpus signatures are one linear pass;
  *    the candidate join is an equi-join on (band, bucket) — at scale the
  *    shuffle carries only (band, bucket, id), never raw vectors, and the
  *    rerank joins values back by id.
  *  - q33 (inverted file): k-means coarse quantizer; the assignment is
  *    PERSISTED with `cell` as the partition column, and a probe reads
  *    only nProbe/nCells partitions (partition pruning visible in the
  *    plan — PlanSpec pins it). The quantizer is trained per call here
  *    (demo-sized); at 100 TB it is trained once offline and only the
  *    probe path runs per query.
  *
  * Determinism/oracle contract: hyperplane coefficients derive from md5
  * (`('0x'||substr(md5(key),1,8))::BIGINT` — the same bits DuckDB
  * computes), so the full LSH pipeline — signatures, candidates, rerank —
  * replays exactly in the q32 oracle SQL. IVF's k-means assignment is not
  * SQL-expressible, but the persisted assignment + probe tables are read
  * back by the q33 oracle, which replays candidates + exact rerank.
  */
object Ann {

  // shared query contract of the whole ANN family (q31–q33, q58, q60):
  // the first NumQueries vectors probe, top-K per query reports
  private[graft] val NumQueries = 5
  private[graft] val K = 5
  // private[graft]: the store's approx path and its q48 oracle derive
  // their plane family from THESE values — a hard copy elsewhere would
  // silently diverge on retune
  private[graft] val Bands = 16
  private[graft] val BitsPerBand = 4
  private[graft] val Dim = 64

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")

  private[graft] def queryFrame(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  // ---- Q31: brute-force batch top-k (exact, oracle-checked) -----------

  /** The family's shared final cut: (qid, score, vec_id) → (qid, rank,
    * id, score), top-`k` per query under ((score, `descending`), asc id)
    * — the identical total order the row_number-window formulation (and
    * every oracle) uses, but executed as the engine's own bounded-heap
    * [[graft.functions.TopKAgg]] (the q74 thesis): map-side partials
    * prune each partition's contribution to k rows, so the exchange
    * carries partitions × Q × k heap entries — a window would shuffle
    * the whole scored frame × Q before discarding anything. */
  private[graft] def rankTopK(scored: DataFrame, k: Int,
                              descending: Boolean): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(col("score"), col("vec_id"), k,
        descending).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("id"), col("col.score").as("score"))
      .orderBy(col("qid"), col("rank"))

  def q31(spark: SparkSession, dir: String): DataFrame =
    rankTopK(
      embeddings(spark, dir)
        .crossJoin(broadcast(queryFrame(spark, dir)))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"),
          round(cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      K, descending = true)

  private def dotSql(a: String, b: String): String =
    graft.functions.Det.dotSql(a, b)
  private def cosSql(a: String, b: String): String =
    graft.functions.Det.cosSql(a, b)

  val q31Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |s AS (
       |  SELECT q.qid, e.vec_id AS id,
       |         round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM s)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  // ---- Q32: LSH-bucketed ANN (approximate, oracle-replayed) -----------

  /** Deterministic md5-derived hyperplanes: flat plane index f ∈
    * [0, Bands·BitsPerBand), coefficient j of plane f is
    * `md5("graft_lsh_<f>_<j>")[0,8) as u32 / 2^31 − 1 ∈ [−1, 1)`, cast to
    * float32. DuckDB reproduces the identical float from
    * `('0x'||substr(md5(key),1,8))::BIGINT`, so the oracle replays the
    * exact sign bits (uniform-in-cube directions hash as well as gaussians
    * for sign-LSH; AnnSpec measures the recall floor). */
  private[graft] def md5Coef(key: String): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) / 2147483648.0 - 1.0
  }

  /** Planes for an arbitrary vector dimension (memoized): signatures over
    * d-dim vectors must use d coefficients per plane — truncating a wider
    * vector to a 64-dim plane would silently hash only its head. Keys are
    * the same md5 family, so hyperplanesFor(64) is exactly the q32 oracle's
    * plane set. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, IndexedSeq[IndexedSeq[Array[Float]]]]()

  private[graft] def hyperplanesFor(dim: Int): IndexedSeq[IndexedSeq[Array[Float]]] =
    planeCache.computeIfAbsent(dim, d =>
      IndexedSeq.tabulate(Bands) { b =>
        IndexedSeq.tabulate(BitsPerBand) { r =>
          val f = b * BitsPerBand + r
          Array.tabulate(d)(j => md5Coef(s"graft_lsh_${f}_$j").toFloat)
        }
      })

  private[graft] def hyperplanes: IndexedSeq[IndexedSeq[Array[Float]]] =
    hyperplanesFor(Dim)

  /** Driver-side band signature of ONE vector: the (band, bucket) pairs
    * the distributed [[graft.functions.LshSignature]] expression emits
    * for corpus rows, computed by THE SAME kernel
    * ([[graft.functions.LshSignature.signature]] — one definition, no
    * twin loop to drift), so a query hashed here lands in exactly the
    * buckets its corpus-side neighbors were banded into. Used by the
    * serving store to derive a query's probe buckets without running a
    * Spark job per request. */
  private[graft] def bandBuckets(v: Array[Float]): Seq[(Int, Long)] = {
    val mat = hyperplanesFor(v.length).map(_.toArray).toArray
    graft.functions.LshSignature.signature(v, mat).toSeq.zipWithIndex
      .map { case (sig, b) => (b, sig) }
  }

  /** (row..., band, bucket) — one row per band per input row. All band
    * signatures come from one fused LshSignature pass (the composed
    * one-Column-per-plane form re-read the vector 64×); posexplode turns
    * the signature array into (band index, bucket) rows. */
  private[graft] def withBandSigs(df: DataFrame, vec: Column,
                                  dim: Int = Dim): DataFrame = {
    val planesSeq: Seq[Seq[Seq[Float]]] =
      hyperplanesFor(dim).map(_.map(_.toSeq: Seq[Float]).toSeq).toSeq
    df.withColumn("sig_arr", graft.functions.LshSignature(vec, planesSeq))
      .select(col("*"), posexplode(col("sig_arr")).as(Seq("band", "bucket")))
      .drop("sig_arr")
  }

  def q32(spark: SparkSession, dir: String): DataFrame = {
    val corpusSigs = withBandSigs(
      embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      col("embedding"))
      .select(col("vec_id"), col("band"), col("bucket"))
    val querySigs = withBandSigs(queryFrame(spark, dir), col("qv"))
      .select(col("qid"), col("band"), col("bucket"))
    val cand = corpusSigs.join(broadcast(querySigs), Seq("band", "bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
    rankTopK(
      cand
        .join(embeddings(spark, dir).select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(queryFrame(spark, dir)), Seq("qid"))
        .select(col("qid"),
          round(cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      K, descending = true)
  }

  /** Full SQL replay of q32: regenerate the md5 hyperplanes, recompute
    * every sign bit and band bucket, regenerate candidates, rerank
    * exactly. The float cast mirrors the Scala `.toFloat`; the dot is
    * float→double products summed like LshSignature's loop, and only the
    * SIGN of the dot is consumed, so the comparison is robust to
    * summation-order ulps — EXCEPT when a true dot sits within an ulp of
    * zero, where the two engines' summation orders could disagree on the
    * sign. Measured on this corpus the smallest |dot| across all
    * (vector, plane) pairs is 1.5e-5 at sf0.1 (64-dim vectors almost
    * never land exactly on a hyperplane), while the worst-case
    * reordering discrepancy of a 64-term double sum of O(1) terms is
    * ~1e-14 — nine orders of magnitude of margin. If a future corpus
    * ever makes this flaky, the documented remediation is to compare
    * post-rerank candidates (rank, id, rounded score) instead of raw sign
    * bits — rerank output is insensitive to a single band-bit flip unless
    * that bucket was the only path to a true neighbor. */
  val q32Sql: String = {
    val nPlanes = Bands * BitsPerBand
    s"""WITH planes AS (
       |  SELECT f, list(CAST((('0x' || substr(md5('graft_lsh_' || f || '_' || j), 1, 8))::BIGINT
       |                       / 2147483648.0 - 1.0) AS FLOAT) ORDER BY j) AS pl
       |  FROM range($nPlanes) tp(f), range($Dim) td(j)
       |  GROUP BY f),
       |sigs AS (
       |  SELECT e.vec_id, (p.f // $BitsPerBand)::INT AS band,
       |         sum(CASE WHEN ${dotSql("e.embedding", "p.pl")} > 0
       |                  THEN (1::BIGINT << (p.f % $BitsPerBand)) ELSE 0 END) AS bucket
       |  FROM embeddings e, planes p
       |  GROUP BY e.vec_id, band),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT DISTINCT qs.vec_id AS qid, s.vec_id AS id
       |  FROM sigs s JOIN sigs qs ON s.band = qs.band AND s.bucket = qs.bucket
       |  WHERE qs.vec_id < $NumQueries AND s.vec_id <> qs.vec_id),
       |sc AS (
       |  SELECT c.qid, c.id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin
  }

  // ---- Q33: IVF — persisted cell-partitioned layout + nprobe ----------

  private val KmeansSeed = 42L

  /** IVF geometry, scaled to the corpus — ONE sizing policy for both
    * graded consumers (the offline [[buildIvfIndex]] and the
    * store-attached [[graft.store.VectorStore]] index), like the build
    * recipe itself:
    *  - cells ≈ √n (the standard IVF sizing), clamped to [16, 4096];
    *  - probe ≈ 2√cells, clamped to [4, cells].
    * The scanned fraction probe/cells ≈ 2/√cells therefore SHRINKS as
    * the corpus grows: 300 rows → 18 cells / probe 9 (half — recall
    * first at the reference's envelope, where a scan is cheap anyway);
    * 10k → 100/20 (20 %); 1 M → 1000/64 (6.4 %); ≥16 M → 4096/128
    * (3.1 %). The r6 geometry was FIXED at 16/4, so a probe always
    * scanned 1/4 of any namespace — a linear scan in disguise exactly
    * where the class doc sells IVF ("large, mostly-static namespaces").
    * Cell count caps at 4096 because the quantizer trains on a ≤65536
    * sample ([[QuantizerSampleMax]]): more cells than ~n_sample/16
    * starves Lloyd's; past that scale the next move is a second
    * quantizer level (IVF-IMI), not more flat cells. */
  private[graft] def ivfCellsFor(n: Long): Int =
    math.min(4096L, math.max(16L,
      math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong)).toInt

  private[graft] def ivfProbeFor(cells: Int): Int =
    math.min(cells,
      math.max(4, math.ceil(2.0 * math.sqrt(cells.toDouble)).toInt))

  /** Conf key for the IVF layout root. On a real cluster this MUST point
    * at a shared filesystem (HDFS/S3/NFS): with a node-local default,
    * executors would write their partition of the inverted file to their
    * own disks and a later probe would silently read back only the
    * driver-local fragment — the classic "runs in local mode, loses data
    * at 100×" failure. Local/test runs can leave it unset. */
  val IvfDirConf = "spark.graft.ivf.dir"

  /** The [[LayoutRoot]] cluster contract (shared root via conf, private
    * temp fallback, per-process token, no exit-time cleanup — the q33
    * oracle replays `assign/` + `probes/` from an external process). */
  private val root = new LayoutRoot(IvfDirConf, "graft_ivf_")

  /** Where a dir's IVF layout lives for THIS process: `index/` is the
    * corpus partitioned by `cell` (the on-disk inverted file), `assign/` a
    * flat (vec_id, cell) table and `probes/` the per-query probe list — the
    * latter two exist so the DuckDB oracle can replay candidates + rerank. */
  def ivfAuxDir(spark: SparkSession, dir: String): String =
    root.auxDir(spark, dir)

  /** The layout path of the most recent ivfTopK run in this JVM — Verify
    * runs every query before dumping oracle SQL, so the q33 oracle always
    * points at the layout that produced the graded result. None until
    * ivfTopK has actually run: emitting a default path instead would let
    * the oracle silently replay a STALE layout from a previous process
    * when q33 itself never executed (wrong-but-green is worse than the
    * honest rows-only check the driver falls back to).
    *
    * Assumptions (by design of the Verify flow, documented rather than
    * defended in code): oracles are dumped after queries run, one sf dir
    * per JVM at a time, and no two processes grade the same sf dir
    * concurrently (paths are per-dir, so cross-sf runs never collide;
    * same-dir writers would clobber each other's layout mid-read). */
  @volatile private var lastAux: Option[String] = None

  /** Quantizer training reads at most this many vectors onto the driver.
    * A coarse quantizer needs only a representative sample — the standard
    * 100 TB recipe is sample → small k-means → broadcast centroids — and
    * 64k × 64 floats is ~16 MB of driver memory. */
  private val QuantizerSampleMax = 65536L

  /** Seeded Lloyd's over a driver-side sample: init = `k` distinct
    * seeded picks, `iters` assign/recompute rounds, empty cells keep their
    * previous centroid. Deterministic for a given corpus (the sample is a
    * fixed modulus filter, not a random split), so the persisted layout is
    * reproducible run to run. */
  private[graft] def lloyds(sample: Array[Array[Float]], k: Int, iters: Int,
                            seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    val dim = sample.headOption.map(_.length).getOrElse(0)
    val init = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
    var centers = init.map(i => sample(i).map(_.toDouble)).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Long](centers.length)
      var i = 0
      while (i < n) {
        val v = sample(i)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < centers.length) {
          val ct = centers(c)
          var acc = 0.0
          var j = 0
          while (j < dim) { val d = v(j) - ct(j); acc += d * d; j += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centers = Array.tabulate(centers.length) { c =>
        if (counts(c) == 0) centers(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    centers.map(_.map(_.toFloat))
  }

  /** ONE definition of the IVF build recipe, shared by the offline path
    * ([[buildIvfIndex]]) and the store-attached index
    * ([[graft.store.VectorStore]]'s ivfLayout): bounded id-HASH sample
    * (robust to sparse/offset/string id spaces; the limit is a
    * driver-memory bound for hash-skewed inputs), seeded Lloyd's, then
    * one narrow [[graft.functions.NearestCell]] pass feeding the
    * cell-partitioned write, plus the flat `assign/` table external
    * oracles replay. A policy fix here reaches BOTH graded paths (q33
    * and q53) — the copies drifted once before being unified. `total`
    * is passed in (> 0 required) because every caller has already
    * counted. */
  private[graft] def trainQuantizer(rows: DataFrame, idCol: String,
                                    vecCol: String, total: Long, cells: Int,
                                    seed: Long): Array[Array[Float]] =
    lloyds(sampleVectors(rows, idCol, vecCol, total), cells, iters = 5,
      seed = seed)

  /** The bounded deterministic training sample behind [[trainQuantizer]],
    * exposed so other quantizer families ([[Pq]]'s per-subspace
    * codebooks) draw from the SAME sampling policy instead of growing a
    * twin. */
  private[graft] def sampleVectors(rows: DataFrame, idCol: String,
                                   vecCol: String,
                                   total: Long): Array[Array[Float]] = {
    require(total > 0, "cannot train a quantizer over an empty corpus")
    val keepMod = math.max(1L, (total + QuantizerSampleMax - 1) / QuantizerSampleMax)
    val hashed = rows.where(pmod(xxhash64(col(idCol)), lit(keepMod)) === 0)
      .select(col(vecCol)).limit(QuantizerSampleMax.toInt).collect()
      .map(_.getSeq[Float](0).toArray)
    if (hashed.nonEmpty) hashed
    else rows.select(col(vecCol)).limit(QuantizerSampleMax.toInt).collect()
      .map(_.getSeq[Float](0).toArray)
  }

  /** [[sampleVectors]] over rows already on the driver (a snapshot-tier
    * namespace): every row, in their order, as the Spark sample keeps
    * every row of a corpus under [[QuantizerSampleMax]] in collect order. */
  private[graft] def driverSample(vecs: Array[Array[Float]]): Array[Array[Float]] = {
    require(vecs.nonEmpty, "cannot train a quantizer over an empty corpus")
    require(vecs.length <= QuantizerSampleMax, s"a driver sample holds at most $QuantizerSampleMax rows")
    vecs
  }

  /** A training sample by vector, component by component: the order
    * for rows whose collect order the driver cannot reproduce. Lloyd's
    * init draws sample indexes and every training sum runs in sample
    * order, so a layout depends on it; a scan of partitioned files
    * returns rows in an order set by the files' sizes. Rows that tie
    * are the same vector, so their order cannot change a layout; ids
    * play no part. */
  private[graft] def sampleOrder(vecs: Array[Array[Float]]): Array[Array[Float]] =
    vecs.sorted((a: Array[Float], b: Array[Float]) => {
      var i = 0
      var c = 0
      while (c == 0 && i < math.min(a.length, b.length)) {
        c = java.lang.Float.compare(a(i), b(i)); i += 1
      }
      if (c != 0) c else Integer.compare(a.length, b.length)
    })

  /** Persist the inverted file for `rows` under `aux`: `index/`
    * cell-partitioned (probes read nProbe/nCells partitions), `assign/`
    * flat (idCol, cell) for oracle replay — derived by reading the
    * just-written index back (two small columns), never by re-running
    * the assignment scan. */
  /** `assignCol` lets the cell ASSIGNMENT run on a different vector than
    * the one stored (the MIPS norm-augmented build assigns on the
    * augmented vector but serves raw records); it is dropped before the
    * write when it differs from `vecCol`. */
  private[graft] def writeInvertedFile(rows: DataFrame, idCol: String,
                                       vecCol: String,
                                       centers: Array[Array[Float]],
                                       aux: String,
                                       assignCol: String = ""): Unit = {
    val centerSeqs: Seq[Seq[Float]] = centers.map(_.toSeq).toSeq
    val ac = if (assignCol.isEmpty) vecCol else assignCol
    val assigned = rows
      .withColumn("cell", graft.functions.NearestCell(col(ac), centerSeqs))
    (if (ac == vecCol) assigned else assigned.drop(ac))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$aux/index")
    rows.sparkSession.read.parquet(s"$aux/index")
      .select(col(idCol), col("cell"))
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/assign")
  }

  /** Probe-cell ranking for one query — driver-side (request-sized
    * inputs, no Spark job per request): nProbe nearest centroids by
    * squared L2. Shared by [[ivfProbe]] and the store-attached probe. */
  private[graft] def rankCells(qv: Array[Float],
                               centers: Array[Array[Float]],
                               nProbe: Int): Seq[Int] =
    centers.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      val n = math.min(qv.length, c.length)
      while (j < n) { val diff = qv(j).toDouble - c(j).toDouble; d += diff * diff; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nProbe).map(_._1).toSeq

  /** The q94 IMI probe policy, shared by every IMI consumer (offline
    * q94, the live store's attached grid, the durable mount's derived
    * grid, and their batch forms — r13 factored it out of three inline
    * copies): 2k driver-side sub-distances against the two half-space
    * codebooks, pair sums merged to the top `ivfProbeFor(k²)` product
    * cells on (distance, cell). */
  private[graft] def imiProbeCells(q: Array[Float],
                                   cLo: Array[Array[Float]],
                                   cHi: Array[Array[Float]]): Seq[Int] = {
    val k = cHi.length
    val half = cLo.headOption.map(_.length).getOrElse(0)
    def subDists(qv: Array[Float], cs: Array[Array[Float]]): Array[Double] =
      cs.map { c =>
        var d = 0.0
        var j = 0
        val n = math.min(qv.length, c.length)
        while (j < n) {
          val diff = qv(j).toDouble - c(j).toDouble; d += diff * diff; j += 1
        }
        d
      }
    val dLo = subDists(q.take(half), cLo)
    val dHi = subDists(q.drop(half), cHi)
    val nProbe = ivfProbeFor(cLo.length * k)
    (for (i <- cLo.indices; j <- cHi.indices)
      yield (i * k + j, dLo(i) + dHi(j)))
      .sortBy { case (cell, d) => (d, cell) }
      .take(nProbe).map(_._1)
  }

  /** BUILD phase: train the coarse quantizer and persist the inverted
    * file — `index/` partitioned by `cell`, `centroids/` for probe-time
    * cell ranking, `assign/` (flat) for the SQL oracle. At 100 TB this
    * runs offline, once; only [[ivfProbe]] runs per query.
    *
    * Shape: a bounded deterministic sample trains Lloyd's on the driver
    * (a coarse quantizer never needs the full corpus), then assignment is
    * one narrow codegen'd pass ([[graft.functions.NearestCell]] — the
    * centroid matrix rides inside the expression, no join, no shuffle)
    * feeding the partitioned write. The flat `assign/` oracle table is
    * derived by reading the just-written index back (two small columns)
    * rather than re-running the scan+assign. Returns the layout dir. */
  def buildIvfIndex(spark: SparkSession, dir: String): String = {
    buildCount.incrementAndGet()
    val aux = ivfAuxDir(spark, dir)
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))

    val total = e.count() // zero-column count: row-group metadata only
    require(total > 0, s"cannot build an IVF index over an empty corpus ($dir)")
    val centers = trainQuantizer(e, "vec_id", "embedding", total,
      ivfCellsFor(total), KmeansSeed)
    writeInvertedFile(e, "vec_id", "embedding", centers, aux)
    import spark.implicits._
    centers.map(_.toSeq).zipWithIndex.map { case (c, i) => (i, c) }
      .toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/centroids")
    aux
  }

  /** Centroid table at `path`, collected once per layout path and cached
    * (r20 — the [[Pq.readCodebook]]/[[IvfPq]] centroidCache discipline
    * extended to every probe site): layout dirs are immutable
    * (ensureLayout dirs build once; store layouts are epoch-suffixed
    * fresh dirs), so a probe must never re-read ~KBs of centroids as a
    * fresh Spark job + file listing per request — measured at 40–80 ms
    * per invocation on the stream-search cells, pure serving overhead. */
  private val centersCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()

  // corpus-epoch eviction (r21, per advice): StandingCache.clear() is the
  // documented epoch boundary for long-lived callers — the path-keyed
  // centroid/layout memos must drop with it or a caller that regenerates
  // dirs in place keeps serving stale centroids from every probe site
  StandingCache.registerEvictHook(() => { centersCache.clear(); layoutCache.clear() })

  private[graft] def centersAt(spark: SparkSession,
                               path: String): Array[Array[Float]] =
    centersCache.computeIfAbsent(path, p =>
      spark.read.parquet(p).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).map(_._2))

  /** PROBE phase: rank the persisted centroids per query (driver-side —
    * both tables are request-sized), read only the probed partitions of
    * the inverted file (partition pruning pinned by PlanSpec), rerank
    * exactly. `persistProbes` additionally writes the probe list next to
    * the layout so the SQL oracle can replay the candidate set — only the
    * graded q33 path sets it; serving probes must not (a per-request
    * overwrite of a shared file would race concurrent probes and add a
    * write to the query hot path). */
  def ivfProbe(spark: SparkSession, dir: String, aux: String,
               persistProbes: Boolean = false): DataFrame = {
    val centers = centersAt(spark, s"$aux/centroids")
    val queries = queryFrame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probeRows = queries.toSeq.flatMap { case (qid, qv) =>
      rankCells(qv, centers, ivfProbeFor(centers.length)).map(cell => (qid, cell))
    }
    import spark.implicits._
    val probes = probeRows.toDF("qid", "cell")
    if (persistProbes)
      probes.coalesce(1).write.mode("overwrite").parquet(s"$aux/probes")

    val probedCells = probeRows.map(_._2).distinct.sorted
    val idx = spark.read.parquet(s"$aux/index")
      .where(col("cell").isin(probedCells: _*))

    rankTopK(
      idx.join(broadcast(probes), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(queryFrame(spark, dir)), Seq("qid"))
        .select(col("qid"),
          round(cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      K, descending = true)
  }

  /** Builds executed in this JVM — lets specs assert the layout cache
    * actually skips rebuilds (and gives ops a cheap "how many builds has
    * this process paid for" signal). */
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Layout dirs already built in this JVM (keyed by the resolved aux
    * path, so a conf change to the layout root gets its own build). The
    * value is the aux dir itself — mirrors `VectorSearch.corpusSize`. */
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q33 = cached build + probe. The index is built at most once per
    * layout dir per JVM — repeat invocations (bench medians, serving) pay
    * only the probe, exactly like a deployment that calls buildIvfIndex
    * offline once and ivfProbe per request. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val aux = ensureLayout(spark, dir)
    lastAux = Some(aux)
    ivfProbe(spark, dir, aux, persistProbes = true)
  }

  /** Build-or-reuse the persisted layout for `dir` (q33's cache) WITHOUT
    * running a probe — composition consumers ([[IvfPq]]) need the
    * centroids/index/assign tables, not the graded query's side
    * effects. */
  private[graft] def ensureLayout(spark: SparkSession, dir: String): String =
    layoutCache.computeIfAbsent(ivfAuxDir(spark, dir),
      _ => buildIvfIndex(spark, dir))

  /** Oracle replay of q33 from the persisted layout: candidates = probed
    * cells' members, rerank = exact cosine top-k. The k-means itself is
    * trusted via the persisted assignment (it is the candidate-generation
    * policy, not the correctness contract — any assignment yields a valid
    * IVF result as long as rerank is exact over its candidates). */
  def q33Sql(aux: String): String =
    s"""WITH probes AS (SELECT qid, cell FROM read_parquet('$aux/probes/*.parquet')),
       |a AS (SELECT vec_id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS id FROM probes p JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid),
       |sc AS (
       |  SELECT c.qid, c.id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  // ---- Q94: IVF-IMI — the inverted multi-index (two-level quantizer) ---
  //
  // [[ivfCellsFor]] caps flat cells at 4096 because the quantizer trains
  // on a bounded sample ([[QuantizerSampleMax]]) — more cells starve
  // Lloyd's, and the cap's own comment names the next move: a second
  // quantizer LEVEL, not more flat cells. This is that move (the
  // inverted multi-index, Babenko & Lempitsky, CVPR 2012 — the coarse
  // structure FAISS ships as IMI2x*): two independent codebooks of k
  // centroids each over the vector's two HALVES give k² effective cells
  // for 2k trained centroids, so a 4096-cell grid trains two
  // 64-codebook Lloyd's runs from the same sample a 4096-centroid flat
  // quantizer exhausts. Distances decompose — d(q, cell(i,j)) =
  // d1(q_lo, c1_i) + d2(q_hi, c2_j) — so the probe computes 2k
  // sub-distances driver-side and merges the top pairs; it never ranks
  // k² full-vector distances. (At production grid sizes the merge is
  // the lazy multi-sequence algorithm of the paper; at our capped
  // k² ≤ 4096 a driver-side sort of the pair sums is exact and
  // cheaper.) Assignment is two narrow [[graft.functions.NearestCell]]
  // passes over sliced halves combined as `cell = i·k + j`; the layout,
  // probe list, and oracle replay are then EXACTLY the q33 contract
  // (candidates = probed cells' members, rerank exact), so [[q33Sql]]
  // replays this layout unchanged.

  private[graft] val ImiSeedLo = 4242L
  private[graft] val ImiSeedHi = 4243L

  /** Per-side codebook size: k = ⌈n^(1/4)⌉ clamped to [2, 64], so the
    * k² grid tracks the flat policy's √n cells while each side's
    * Lloyd's trains on a sample that stays ≥ 16× its codebook size at
    * the cap. The floor is 2, not 4: a 16-cell grid over a ≤ 16-row
    * namespace probes only half its pairs and well-scoring EMPTY pairs
    * crowd out occupied ones (distances decompose, so an unoccupied
    * (lo, hi) combination can rank above a live row's cell) — at k = 2
    * the 4-cell grid is fully probed by [[ivfProbeFor]] and tiny
    * namespaces stay exact. */
  private[graft] def imiGridFor(n: Long): Int =
    math.min(64L, math.max(2L,
      math.ceil(math.pow(math.max(0L, n).toDouble, 0.25)).toLong)).toInt

  private val imiRoot = new LayoutRoot(IvfDirConf, "graft_imi_")

  def imiAuxDir(spark: SparkSession, dir: String): String =
    imiRoot.auxDir(spark, dir)

  @volatile private var lastImiAux: Option[String] = None

  private val imiLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] val imiBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** BUILD: train the two per-half codebooks on the shared bounded
    * sample, assign `cell = lo·k + hi` in one narrow fused pass (two
    * NearestCell argmins over array slices — no join, no shuffle), and
    * persist the q33-shaped layout: cell-partitioned `index/`, flat
    * `assign/`, plus the two centroid tables for the probe. */
  def buildImiIndex(spark: SparkSession, dir: String): String = {
    imiBuildCount.incrementAndGet()
    val aux = imiAuxDir(spark, dir)
    val e = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val total = e.count()
    require(total > 0, s"cannot build an IMI index over an empty corpus ($dir)")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val half = dim / 2
    val sample = sampleVectors(e, "vec_id", "embedding", total)
    val k = imiGridFor(total)
    val cLo = lloyds(sample.map(_.take(half)), k, iters = 5, seed = ImiSeedLo)
    val cHi = lloyds(sample.map(_.drop(half)), k, iters = 5, seed = ImiSeedHi)
    val loSeq: Seq[Seq[Float]] = cLo.map(_.toSeq).toSeq
    val hiSeq: Seq[Seq[Float]] = cHi.map(_.toSeq).toSeq
    e.withColumn("cell",
        graft.functions.NearestCell(slice(col("embedding"), 1, half), loSeq)
          * lit(k) +
          graft.functions.NearestCell(
            slice(col("embedding"), half + 1, dim - half), hiSeq))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$aux/index")
    e.sparkSession.read.parquet(s"$aux/index")
      .select(col("vec_id"), col("cell"))
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/assign")
    import spark.implicits._
    def writeCenters(cs: Array[Array[Float]], name: String): Unit =
      cs.map(_.toSeq).zipWithIndex.map { case (c, i) => (i, c) }.toSeq
        .toDF("i", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$aux/$name")
    writeCenters(cLo, "centroids_lo")
    writeCenters(cHi, "centroids_hi")
    aux
  }

  /** PROBE: 2k sub-distances per query driver-side, pair sums merged to
    * the top [[ivfProbeFor]](k²) cells, then the q33 read — probed
    * partitions only, exact cosine rerank through [[rankTopK]]. */
  def imiProbe(spark: SparkSession, dir: String, aux: String,
               persistProbes: Boolean = false): DataFrame = {
    val cLo = centersAt(spark, s"$aux/centroids_lo")
    val cHi = centersAt(spark, s"$aux/centroids_hi")
    val k = cHi.length
    val half = cLo.headOption.map(_.length).getOrElse(0)
    val nProbe = ivfProbeFor(cLo.length * k)
    def subDists(q: Array[Float], cs: Array[Array[Float]]): Array[Double] =
      cs.map { c =>
        var d = 0.0
        var j = 0
        val n = math.min(q.length, c.length)
        while (j < n) { val diff = q(j).toDouble - c(j).toDouble; d += diff * diff; j += 1 }
        d
      }
    val queries = queryFrame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probeRows = queries.toSeq.flatMap { case (qid, qv) =>
      val dLo = subDists(qv.take(half), cLo)
      val dHi = subDists(qv.drop(half), cHi)
      val pairs = for (i <- cLo.indices; j <- cHi.indices)
        yield (i * k + j, dLo(i) + dHi(j))
      // deterministic pair order: distance, then cell id
      pairs.sortBy { case (cell, d) => (d, cell) }
        .take(nProbe).map { case (cell, _) => (qid, cell) }
    }
    import spark.implicits._
    val probes = probeRows.toDF("qid", "cell")
    if (persistProbes)
      probes.coalesce(1).write.mode("overwrite").parquet(s"$aux/probes")
    val probedCells = probeRows.map(_._2).distinct.sorted
    val idx = spark.read.parquet(s"$aux/index")
      .where(col("cell").isin(probedCells: _*))
    rankTopK(
      idx.join(broadcast(probes), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(queryFrame(spark, dir)), Seq("qid"))
        .select(col("qid"),
          round(cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      K, descending = true)
  }

  /** Build-or-reuse the persisted IMI layout for `dir` (the
    * [[ensureLayout]] pattern; the streaming retrieval cell q187 probes
    * this same standing grid). */
  private[graft] def ensureImiLayout(spark: SparkSession, dir: String): String =
    imiLayoutCache.computeIfAbsent(imiAuxDir(spark, dir),
      _ => buildImiIndex(spark, dir))

  /** q94 = cached build + probe (the q33 lifecycle). */
  def q94(spark: SparkSession, dir: String): DataFrame = {
    val aux = ensureImiLayout(spark, dir)
    lastImiAux = Some(aux)
    imiProbe(spark, dir, aux, persistProbes = true)
  }

  // ---- Q90: semantic near-neighbor scan (the SemDeDup shape) ----------
  //
  // Embedding-space dedup at corpus scale is NOT q31's few-queries-vs-
  // corpus batch — it is EVERY vector versus every other, which no
  // engine survives unblocked (n² pairs). The production recipe
  // (SemDeDup, Abbas et al. 2023: cluster the embeddings, compare only
  // within a cluster) falls out of machinery this engine already
  // persists: the IVF cell assignment IS the clustering. The scan:
  // join each vector's embedding onto its cell assignment ONCE (the
  // shuffle carries n rows, each a single embedding — never a pair),
  // self-join on the cell key (pairs materialize co-partitioned inside
  // the join, Σ|cell|² ≈ n^1.5 with the √n geometry — sub-quadratic),
  // exact cosine per pair, and the per-vector top-1 cut through the
  // bounded-heap TopKAgg. The emitted (vec_id, nn_id, cos) table is
  // what a dedup pass thresholds; cross-cell misses are the documented
  // blocking trade, and the ASSIGNMENT is the candidate policy —
  // persisted, so the oracle replays it rather than re-deriving it
  // (the q33 contract).

  def q90(spark: SparkSession, dir: String): DataFrame = {
    val aux = ensureLayout(spark, dir)
    lastAux = Some(aux)
    val withVec = spark.read.parquet(s"$aux/assign")
      .join(embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
    val pairs = withVec
      .select(col("cell"), col("vec_id").as("qid"), col("embedding").as("qv"))
      .join(withVec.select(col("cell"), col("vec_id"), col("embedding").as("cv")),
        Seq("cell"))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"),
        round(cosineSim(col("qv"), col("cv")), 4).as("score"),
        col("vec_id"))
    rankTopK(pairs, 1, descending = true)
      .select(col("qid").as("vec_id"), col("id").as("nn_id"), col("score"))
      .orderBy(col("vec_id"))
  }

  /** Oracle replay from the persisted assignment: within-cell pairs,
    * exact cosine, top-1 per vector on (score desc, id). */
  def q90Sql(aux: String): String =
    s"""WITH a AS (SELECT vec_id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |p AS (
       |  SELECT x.vec_id AS qid, y.vec_id AS cand,
       |         round(${cosSql("e1.embedding", "e2.embedding")}, 4) AS score
       |  FROM a x
       |  JOIN a y ON y.cell = x.cell AND y.vec_id <> x.vec_id
       |  JOIN embeddings e1 ON e1.vec_id = x.vec_id
       |  JOIN embeddings e2 ON e2.vec_id = y.vec_id),
       |r AS (
       |  SELECT qid, cand, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, cand) AS rn
       |  FROM p)
       |SELECT qid AS vec_id, cand AS nn_id, score FROM r WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ---- Q116: hard-negative mining (contrastive-pair generation) -------
  //
  // The training-pair miner for embedding/reranker training: for each
  // anchor, the corpus vectors MOST similar to it that carry a
  // DIFFERENT label — the "hard negatives" that make a contrastive
  // batch informative (random negatives are trivially separable; the
  // near-miss ones define the decision boundary). Same query contract
  // as q31 (first NumQueries anchors, top-K), same broadcast-anchors ×
  // one-corpus-scan shape, same bounded-heap cut — the label predicate
  // is the only addition, and it prunes BEFORE scoring. The Q×K result
  // re-joins labels via a broadcast of itself, never a second corpus
  // shuffle.

  def q116(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val q = e.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("label").as("anchor_label"))
    val cut = rankTopK(
      e.crossJoin(broadcast(q.select(col("qid"), col("qv"), col("anchor_label"))))
        .where(col("label") =!= col("anchor_label"))
        .select(col("qid"),
          round(cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      K, descending = true)
    e.select(col("vec_id").as("id"), col("label").as("neg_label"))
      .join(broadcast(cut), Seq("id"))
      .join(broadcast(q.select(col("qid"), col("anchor_label"))), Seq("qid"))
      .select(col("qid"), col("anchor_label"), col("rank"), col("id"),
        col("neg_label"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  val q116Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |s AS (
       |  SELECT q.qid, q.qlabel, e.vec_id AS id, e.label AS neg_label,
       |         round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM embeddings e, q WHERE e.label <> q.qlabel),
       |r AS (
       |  SELECT qid, qlabel, id, neg_label, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
       |  FROM s)
       |SELECT qid, qlabel AS anchor_label, rn::INT AS rank, id, neg_label,
       |       score
       |FROM r WHERE rn <= $K ORDER BY qid, rank""".stripMargin

  // ---- Q120: index-quality evaluation (recall@K vs exact) -------------

  /** q120: per-query recall@K of the IVF index against the exact
    * brute-force top-K — the monitoring surface a production ANN
    * deployment runs on every index build (recall regressions from
    * distribution drift are THE operational failure mode of trained
    * quantizers; this is the query that catches them before serving
    * does). Both sides reuse the graded operators verbatim — exact =
    * [[q31]]'s policy, approx = [[ivfTopK]]'s persisted probe + rerank —
    * so the eval measures the very plans the store serves, and the
    * oracle replays BOTH sides relationally (q31's brute force, q33's
    * layout replay) and re-derives the same counts. At 100 TB the
    * exact side runs on a sampled query set (here: the family's shared
    * NumQueries probes) — recall eval is a bounded audit, never a
    * corpus×corpus join. */
  def q120(spark: SparkSession, dir: String): DataFrame = {
    val exact = q31(spark, dir).select(col("qid"), col("id"))
    val approx = ivfTopK(spark, dir).select(col("qid"), col("id"))
    val hitCount = exact.join(approx, Seq("qid", "id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    val exactCount = exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
    exactCount.join(hitCount, Seq("qid"), "left")
      .na.fill(0, Seq("n_hit"))
      .select(col("qid"),
        col("n_exact").cast("int").as("n_exact"),
        col("n_hit").cast("int").as("n_hit"),
        graft.functions.Det.r4(col("n_hit") / col("n_exact")).as("recall"))
      .orderBy(col("qid"))
  }

  /** Oracle: q31's exact ranking and q33's layout replay as CTEs, then
    * the same per-query intersection counts. The division is n/K over
    * small integers — bit-identical in both engines. */
  def q120Sql(aux: String): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id < $NumQueries),
       |es AS (
       |  SELECT q.qid, e.vec_id AS id,
       |         round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM embeddings e, q WHERE e.vec_id <> q.qid),
       |er AS (
       |  SELECT qid, id,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM es),
       |exact AS (SELECT qid, id FROM er WHERE rank <= $K),
       |probes AS (SELECT qid, cell FROM read_parquet('$aux/probes/*.parquet')),
       |a AS (SELECT vec_id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS id FROM probes p JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid),
       |vs AS (
       |  SELECT c.qid, c.id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id JOIN q ON q.qid = c.qid),
       |vr AS (
       |  SELECT qid, id,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM vs),
       |approx AS (SELECT qid, id FROM vr WHERE rank <= $K),
       |hits AS (
       |  SELECT e.qid, count(*) AS n_hit
       |  FROM exact e JOIN approx v ON v.qid = e.qid AND v.id = e.id
       |  GROUP BY e.qid),
       |ec AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid)
       |SELECT ec.qid, ec.n_exact::INT AS n_exact,
       |       coalesce(h.n_hit, 0)::INT AS n_hit,
       |       ${graft.functions.Det.r4Sql("coalesce(h.n_hit, 0) / ec.n_exact")} AS recall
       |FROM ec LEFT JOIN hits h ON h.qid = ec.qid
       |ORDER BY ec.qid""".stripMargin

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_ann_brute_topk" -> (q31 _),
    "q32_ann_lsh_topk" -> (q32 _),
    "q33_ann_ivf_topk" -> (ivfTopK _),
    "q90_semdedup_nn" -> (q90 _),
    "q94_ann_imi_topk" -> (q94 _),
    "q116_hard_negatives" -> (q116 _),
    "q120_ivf_recall" -> (q120 _))

  /** q33's oracle reads the layout the last ivfTopK run persisted — a def,
    * evaluated by Verify after all queries have executed. If ivfTopK never
    * ran in this JVM, q33 gets no oracle (honest rows-only check) rather
    * than one pointing at a stale layout. */
  def oracles: Map[String, String] = Map(
    "q31_ann_brute_topk" -> q31Sql,
    "q32_ann_lsh_topk" -> q32Sql,
    "q116_hard_negatives" -> q116Sql) ++
    lastAux.map(aux => "q33_ann_ivf_topk" -> q33Sql(aux)) ++
    lastAux.map(aux => "q90_semdedup_nn" -> q90Sql(aux)) ++
    // the IMI layout persists the same assign/probes tables as flat IVF,
    // so the q33 replay IS its oracle — pointed at the IMI aux
    lastImiAux.map(aux => "q94_ann_imi_topk" -> q33Sql(aux)) ++
    // q120 runs ivfTopK itself, so lastAux is always set once it has run
    lastAux.map(aux => "q120_ivf_recall" -> q120Sql(aux))
}
