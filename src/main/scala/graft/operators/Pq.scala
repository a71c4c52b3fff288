package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSim
import graft.sources.Tables

/** Product quantization — the memory-compression ANN family (q58),
  * complementing LSH (q32/q48: hash buckets) and IVF (q33/q53: coarse
  * partitioning). PQ attacks a different axis: the BYTES each candidate
  * costs. The corpus is L2-normalized, split into `SubSpaces` contiguous
  * subvectors, and each subvector is quantized to its nearest codebook
  * centroid — 64-dim float32 (256 B) becomes `SubSpaces` small codes
  * (8 B at 8×16): a 32× smaller scan footprint, which at 100 TB is the
  * difference between an ADC sweep reading 3 TB and reading 100 TB.
  * (Reference context: hnswlib keeps full float vectors in RAM,
  * `index.py:36-38` — at its 10k envelope that is fine; PQ is what the
  * same read path does when the namespace no longer fits.)
  *
  * Query shape (asymmetric distance computation, ADC): the query is NOT
  * quantized — per subspace, the squared-L2 distance from the query's
  * subvector to every centroid is tabulated driver-side (`SubSpaces ×
  * CodesPerSub` doubles, request-sized), and each row's approximate
  * distance is `Σ_m lut[m][codes[m]]` — a table lookup per subspace over
  * the codes column, no float vectors touched. On unit vectors squared
  * L2 is `2 − 2·cos`, so ascending ADC is descending cosine. Top
  * `CandN` candidates by (rounded ADC, id) then get an EXACT cosine
  * rerank over their full vectors — the same candidates-are-policy /
  * rerank-is-contract split as IVF.
  *
  * Determinism/oracle contract (the q33 pattern): the codebook, the
  * encoded corpus (flat (vec_id, sub, code) form), and the per-query
  * LUT are PERSISTED parquet; the DuckDB oracle replays candidates from
  * those tables (join codes⋈lut, sum, cut) and reranks exactly. The ADC
  * sum is 8 identical doubles on both sides — summation-order ulps
  * (~1e-16 relative) sit nine orders of magnitude under the 1e-6
  * rounding the cut uses, the q32 margin argument.
  */
object Pq {

  // query contract shared with the rest of the ANN family (Ann.scala)
  private def NumQueries = Ann.NumQueries
  private def K = Ann.K
  private[graft] val SubSpaces = 8
  private[graft] val CodesPerSub = 16
  private[graft] val CandN = 50
  private val PqSeed = 1337L

  /** Conf key for the PQ layout root — the [[Ann.IvfDirConf]] cluster
    * contract: shared filesystem on real deployments, process-private
    * temp fallback locally. */
  val PqDirConf = "spark.graft.pq.dir"

  private val root = new LayoutRoot(PqDirConf, "graft_pq_")

  def pqAuxDir(spark: SparkSession, dir: String): String =
    root.auxDir(spark, dir)

  @volatile private var lastAux: Option[String] = None

  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** L2-normalize in double (the exact arithmetic [[graft.functions.PqEncode]]
    * uses), zero vectors passed through. */
  private def normalized(v: Array[Float]): Array[Double] = {
    val d = v.map(_.toDouble)
    val sq = d.foldLeft(0.0)((a, x) => a + x * x)
    if (sq > 0) { val inv = 1.0 / math.sqrt(sq); d.map(_ * inv) } else d
  }

  /** Subvector `m` of a normalized vector, zero-padded past the end. */
  private def subVec(v: Array[Double], m: Int, subDim: Int): Array[Float] =
    Array.tabulate(subDim)(j =>
      if (m * subDim + j < v.length) v(m * subDim + j).toFloat else 0f)

  /** BUILD: train per-subspace codebooks on the shared bounded sample
    * ([[Ann.sampleVectors]] — one sampling policy across quantizer
    * families), encode the corpus in one narrow [[graft.functions.PqEncode]]
    * pass, and persist the layout: `codebook/` (sub, code, centroid),
    * `codes/` (vec_id, codes array<int>) — the compressed scan table —
    * and `codes_flat/` (vec_id, sub, code), derived by reading `codes/`
    * back, for the SQL oracle. At 100 TB this runs offline once; only
    * [[pqProbe]] runs per query. Returns the layout dir. */
  /** ONE codebook-training recipe, shared by the offline path
    * ([[buildPqIndex]]) and the store-attached index
    * ([[graft.store.VectorStore]]): Ann's bounded deterministic sample,
    * normalized, sliced per subspace, seeded Lloyd's each — the
    * trainQuantizer relationship, per subspace. */
  private[graft] def trainCodebooks(rows: DataFrame, idCol: String,
                                    vecCol: String, total: Long,
                                    dim: Int): Seq[Seq[Seq[Float]]] =
    codebooksOf(Ann.sampleVectors(rows, idCol, vecCol, total), dim)

  /** [[trainCodebooks]] over a sample already drawn (the driver-side
    * builds draw it with [[Ann.driverSample]]). */
  private[graft] def codebooksOf(raw: Array[Array[Float]], dim: Int): Seq[Seq[Seq[Float]]] = {
    val subDim = (dim + SubSpaces - 1) / SubSpaces
    val sample = raw.map(normalized)
    (0 until SubSpaces).map { m =>
      Ann.lloyds(sample.map(subVec(_, m, subDim)), CodesPerSub, iters = 5,
        seed = PqSeed + m).map(_.toSeq).toSeq
    }
  }

  /** Encode `rows` and persist the code tables under `aux`: `codes/`
    * (idCol, codes array<int>) — the compressed scan table — and
    * `codes_flat/` (idCol, sub, code) for SQL oracles, derived by
    * reading `codes/` back. Shared by both graded consumers. */
  private[graft] def writeCodes(rows: DataFrame, idCol: String,
                                vecCol: String,
                                codebook: Seq[Seq[Seq[Float]]],
                                aux: String): Unit = {
    rows.withColumn("codes", graft.functions.PqEncode(col(vecCol), codebook))
      .select(col(idCol), col("codes"))
      .write.mode("overwrite").parquet(s"$aux/codes")
    rows.sparkSession.read.parquet(s"$aux/codes")
      .select(col(idCol), posexplode(col("codes")).as(Seq("sub", "code")))
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/codes_flat")
  }

  /** Persist a codebook in the flat (sub, code, centroid) oracle form —
    * shared by the offline builds and the serving mounts (whose
    * rotation-graded oracles re-derive the LUT from it). */
  private[graft] def writeCodebook(spark: SparkSession,
                                   codebook: Seq[Seq[Seq[Float]]],
                                   path: String): Unit = {
    import spark.implicits._
    codebook.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.map { case (ct, k) => (m, k, ct) }
    }.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def buildPqIndex(spark: SparkSession, dir: String): String = {
    buildCount.incrementAndGet()
    val aux = pqAuxDir(spark, dir)
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val total = e.count()
    require(total > 0, s"cannot build a PQ index over an empty corpus ($dir)")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val codebook = trainCodebooks(e, "vec_id", "embedding", total, dim)

    import spark.implicits._
    codebook.zipWithIndex.flatMap { case (cb, m) =>
      cb.zipWithIndex.map { case (ct, k) => (m, k, ct) }
    }.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/codebook")

    writeCodes(e, "vec_id", "embedding", codebook, aux)
    aux
  }

  /** PROBE: tabulate the per-query ADC LUT driver-side from the persisted
    * codebook, sweep the codes table (table lookup + 8-term sum per row,
    * never a float vector), cut to `CandN` candidates on (rounded ADC,
    * id), exact-cosine rerank. `persistLut` writes `lut/` next to the
    * layout for the oracle — only the graded path sets it. */
  /** The persisted codebook as a `[sub][code][dim]` matrix, cached per
    * layout dir: layouts are immutable within a JVM (the per-process aux
    * dirs build once via [[ensureLayout]]; store layouts are
    * epoch-suffixed fresh dirs), so a probe never re-reads ~8 KB of
    * centroids as a Spark job per request — the difference between a
    * serving read path and a cold replay. */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Float]]]]()

  // corpus-epoch eviction (r21, per advice — the Ann.centersCache wiring)
  StandingCache.registerEvictHook(() => { codebookCache.clear(); layoutCache.clear() })

  private[graft] def readCodebook(spark: SparkSession,
                                  aux: String): Array[Array[Array[Float]]] =
    codebookCache.computeIfAbsent(aux, a => {
      val cbRows = spark.read.parquet(s"$a/codebook").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      cbRows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.sortBy(_._2).map(_._3))
        .map(_.toArray).toArray
    })

  /** Per-query ADC tables: lut(qid)(m)(k) = ‖qn_m − centroid_{m,k}‖² in
    * double (query normalized with the exact PqEncode arithmetic). Shared
    * by the flat-PQ probe and the [[IvfPq]] composition. */
  /** ADC table for ONE query: lut(m)(k) = ‖qn_m − centroid_{m,k}‖² in
    * double (query normalized with the exact PqEncode arithmetic) —
    * request-sized, driver-side, no Spark job. Shared by the offline
    * probes and the store-attached index. */
  private[graft] def lutFor(qv: Array[Float],
                            codebook: Array[Array[Array[Float]]]): Seq[Seq[Double]] = {
    val subDim = codebook(0)(0).length
    val qn = normalized(qv)
    (0 until codebook.length).map { m =>
      val qs = subVec(qn, m, subDim)
      codebook(m).toSeq.map { ct =>
        var acc = 0.0
        var j = 0
        while (j < subDim) {
          val d = qs(j).toDouble - ct(j).toDouble
          acc += d * d
          j += 1
        }
        acc
      }
    }
  }

  private[graft] def queryLuts(spark: SparkSession, dir: String,
                               codebook: Array[Array[Array[Float]]]): Seq[(Long, Seq[Seq[Double]])] =
    Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq.map { case (qid, qv) => (qid, lutFor(qv, codebook)) }

  /** Persist the flat (qid, sub, code, d) form of [[queryLuts]] for an
    * oracle replay. */
  private[graft] def writeLuts(spark: SparkSession,
                               luts: Seq[(Long, Seq[Seq[Double]])],
                               path: String): Unit = {
    import spark.implicits._
    luts.flatMap { case (qid, lut) =>
      lut.zipWithIndex.flatMap { case (ks, m) =>
        ks.zipWithIndex.map { case (d, k) => (qid, m, k, d) }
      }
    }.toDF("qid", "sub", "code", "d")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The ADC column: `codes` (array<int>) indexed into a `lut` COLUMN
    * (array<array<double>>), 8-term sum rounded to 1e-6 for a drift-free
    * candidate cut. The LUT arrives as a broadcast-joined column, NOT a
    * baked-in literal: a literal LUT makes every query's plan textually
    * unique, so whole-stage codegen recompiles per request (~100 ms,
    * measured dominating the sub-second probes) — with a column the plan
    * is identical across queries and the codegen cache hits. */
  private[graft] def adcCol: org.apache.spark.sql.Column =
    // fused codegen kernel since r15 (identical 8-term double sum in
    // index order — every oracle transfers); the composed
    // aggregate(zip_with(codes, lut, …)) form ran through the
    // interpreted HOF path on every PQ consumer's hot loop
    round(graft.functions.AdcKernels.pqAdc(col("codes"), col("lut")), 6)

  /** [[adcCol]]'s rounding on the driver: Spark's `round(_, 6)` of a
    * double (HALF_UP over the value's shortest decimal form; NaN and the
    * infinities pass through), so a driver-side cut on (rounded ADC, id)
    * ties exactly where the sweep's does. */
  private[graft] def roundAdc(adc: Double): Double =
    if (adc.isNaN || adc.isInfinite) adc
    else java.math.BigDecimal.valueOf(adc)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One-row-per-query (qid, lut) frame for the broadcast side of the
    * ADC sweep. */
  private[graft] def lutFrame(spark: SparkSession,
                              luts: Seq[(Long, Seq[Seq[Double]])]): DataFrame = {
    import spark.implicits._
    luts.toDF("qid", "lut")
  }

  /** Rerank `cand` (qid, vec_id) exactly: join full vectors back for the
    * candidates only, exact cosine, top-K per query with the family's
    * (score desc, id) tie-break — the cut itself is [[Ann.rankTopK]]'s
    * bounded heap, so not even the candidate scores ride a window
    * exchange. Shared by PQ and [[IvfPq]]. */
  private[graft] def rerank(spark: SparkSession, dir: String,
                            cand: DataFrame): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    Ann.rankTopK(
      cand
        .join(emb, Seq("vec_id"))
        .join(broadcast(Ann.queryFrame(spark, dir)), Seq("qid"))
        .select(col("qid"),
          round(cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      K, descending = true)
  }

  /** Candidate cut shared by the flat-PQ and [[IvfPq]] probes: top-CandN
    * per query on ASCENDING (adc, id), via the bounded-heap aggregate —
    * the scored corpus×Q frame is pruned to CandN rows per partition
    * map-side; a row_number window here shuffles every ADC row first
    * (the exact plan [[graft.functions.TopKAgg]]'s scaladoc names as the
    * non-scale form). */
  private[graft] def candCut(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(col("adc"), col("vec_id"), CandN,
        descending = false).as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))

  def pqProbe(spark: SparkSession, dir: String, aux: String,
              persistLut: Boolean = false): DataFrame = {
    val codebook = readCodebook(spark, aux)
    val luts = queryLuts(spark, dir, codebook)
    if (persistLut) writeLuts(spark, luts, s"$aux/lut")

    val codes = spark.read.parquet(s"$aux/codes")
    val cand = candCut(codes
      .crossJoin(broadcast(lutFrame(spark, luts)))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("adc", adcCol)
      .select(col("qid"), col("adc"), col("vec_id")))
    rerank(spark, dir, cand)
  }

  /** q58 = cached build + probe (the q33 lifecycle: build once per JVM,
    * probe per invocation — bench repeats measure the ADC sweep, not the
    * training). */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    val aux = ensureLayout(spark, dir)
    lastAux = Some(aux)
    pqProbe(spark, dir, aux, persistLut = true)
  }

  /** Build-or-reuse the persisted PQ layout for `dir` (the q58 cache)
    * without probe side effects — the [[IvfPq]] composition's entry. */
  private[graft] def ensureLayout(spark: SparkSession, dir: String): String =
    layoutCache.computeIfAbsent(pqAuxDir(spark, dir),
      _ => buildPqIndex(spark, dir))

  private[graft] def cosSql(a: String, b: String): String =
    graft.functions.Det.cosSql(a, b)

  /** Oracle replay from the persisted layout: ADC = codes⋈lut summed and
    * rounded, candidates = top-CandN per query on (ADC, id), rerank =
    * exact cosine — the candidate policy is the layout, the contract is
    * the rerank, exactly q33's relationship to its k-means. */
  def q58Sql(aux: String): String =
    s"""WITH lut AS (SELECT qid, sub, code, d FROM read_parquet('$aux/lut/*.parquet')),
       |cf AS (SELECT vec_id, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT l.qid, c.vec_id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  GROUP BY l.qid, c.vec_id),
       |cand AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS cr
       |    FROM adc WHERE vec_id <> qid) WHERE cr <= $CandN),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
       |sc AS (
       |  SELECT c.qid, c.vec_id AS id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q58_ann_pq_topk" -> (pqTopK _))

  /** Like q33's oracle: only emitted after pqTopK actually ran in this
    * JVM, so it can never point at a stale layout. */
  def oracles: Map[String, String] =
    lastAux.map(aux => "q58_ann_pq_topk" -> q58Sql(aux)).toMap
}
