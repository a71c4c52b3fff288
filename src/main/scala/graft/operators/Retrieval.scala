package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det.{r4, r4Sql}
import graft.functions.TextFunctions.tokens
import graft.functions.VectorFunctions.cosineSim
import graft.sources.Tables

/** Lexical retrieval and hybrid fusion — the modern serving surface the
  * reference's vector-only API stops short of (its hybrid query,
  * SURVEY §2.8/q14, is metadata-filter ∧ KNN; real hybrid search fuses a
  * LEXICAL ranking with the vector ranking).
  *
  *  - q65: Okapi BM25 top-k for a fixed keyword query over `documents` —
  *    the inverted-index score, computed as scan → explode → two small
  *    aggs. At 100 TB the shape is the classic map-side-combinable
  *    postings build: the only shuffles carry (term) and (doc_id) keys,
  *    the corpus-wide constants (N, avgdl) come from a one-pass agg that
  *    a real deployment computes once per corpus snapshot, and the final
  *    top-k is a `TakeOrderedAndProject` — no global sort.
  *  - q66: reciprocal-rank fusion (RRF, Cormack et al.: Σ 1/(60+rank))
  *    of the BM25 list with the cosine-ANN list over the aligned
  *    embeddings table — rank-space fusion needs no score calibration
  *    between the two retrievers, which is exactly why serving stacks use
  *    it. Both input lists are list-sized (LexN/VecN rows), so the fusion
  *    join is a broadcast no-op at any corpus scale; the expensive parts
  *    are the two retrievals, each already in its scale shape (BM25
  *    above; the vector side is the q31 broadcast-query scan, swappable
  *    for any of the indexed ANN paths q32/q33/q58/q60).
  */
object Retrieval {

  private val K1 = 1.2
  private val B = 0.75
  private val QueryTerms = Seq("vector", "join", "stream")
  private val TopK = 10
  // fused-list depths: standard RRF fuses deeper lists than it returns
  private val LexN = 20
  private val VecN = 20
  private val RrfK = 60
  // the vector half of the hybrid query: embedding of vec_id 0 (the same
  // first-rows-probe convention as the ANN family's queryFrame)
  private val QVec = 0

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")

  // ---- Q65: Okapi BM25 top-k ------------------------------------------

  /** Per-doc BM25 scores for [[QueryTerms]], rounded — rank-ready.
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (Robertson/Sparck Jones with
    * the +1 floor, so scores stay positive); tf term saturates at k1+1. */
  /** The tokenized corpus (doc_id, toks, dl) as a STANDING per-dir
    * artifact (the q71 standing-postings pattern): a deployment tokenizes
    * a corpus snapshot once and every retrieval probe reads it. The r12
    * form re-materialized this per invocation via an eager
    * `localCheckpoint` that was never unpersisted — across a bench run's
    * ~1,800 invocations that accumulated thousands of anonymous
    * checkpoint blocks awaiting ContextCleaner GC (the r12 verdict's
    * prime suspect for the sustained pass-2 q66/q58 inflation). A
    * persisted per-dir frame is (a) built once, (b) reclaimable by the
    * bench's hygiene sweep, and (c) self-healing: an external unpersist
    * re-pins on next use (the VectorStore.layoutFor discipline). */
  private val tokenizedCorpus =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def withDlFrame(spark: SparkSession, dir: String): DataFrame = {
    val df = tokenizedCorpus.computeIfAbsent(dir, d => {
      val f = docs(spark, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")))
        .persist()
      f.count()
      f
    })
    StandingCache.ensurePinned(df) // heals BOTH unpersist forms (r19)
  }

  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val withDl = withDlFrame(spark, dir)
    // corpus constants: one pass, two scalars. Zero-token docs count
    // toward N and avgdl (dl = 0), mirroring the oracle's len()-based dl.
    val stats = withDl.agg(
      count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
    val n = stats.getLong(0).toDouble
    val avgdl = stats.getDouble(1)
    val tf = withDl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(QueryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf is distinct on (doc_id, term) by construction → df by counting
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("idf",
        log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * col("tf") * lit(K1 + 1) /
          (col("tf") + lit(K1) *
            (lit(1 - B) + lit(B) * col("dl") / lit(avgdl))))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("raw"))
      // rank on the ROUNDED score (both engines), so a rounding tie at
      // the cut line resolves by doc_id identically on both sides
      .select(col("doc_id"), r4(col("raw")).as("score"))
  }

  def q65(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("score"))

  /** The shared BM25 CTE chain (through `scored`): dl from the token-array
    * length (keeps zero-token docs, like Spark's size()), constants from
    * one stats CTE, identical ln/saturation arithmetic. */
  private def bm25Ctes: String =
    s"""tl AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
       |  FROM documents),
       |dl AS (SELECT doc_id, len(toks) AS dl FROM tl),
       |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM tl)
       |  WHERE term IN (${QueryTerms.map("'" + _ + "'").mkString(", ")})
       |  GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id,
       |         ${r4Sql(
             // non-dyadic constants (k1, k1+1) are cast to DOUBLE so the
             // literal re-parses to the exact Scala double instead of a
             // DECIMAL; 0.5/0.25/0.75 are dyadic and exact either way
             s"""sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                | * tf * (${K1 + 1})::DOUBLE
                | / (tf + ($K1)::DOUBLE * (${1 - B} + $B * dl / avgdl)))"""
               .stripMargin.replaceAll("\n", " "))} AS score
       |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
       |  GROUP BY doc_id)""".stripMargin

  val q65Sql: String =
    s"""WITH $bm25Ctes,
       |ranked AS (
       |  SELECT doc_id, score,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT rank::INT AS rank, doc_id, score FROM ranked
       |WHERE rank <= $TopK ORDER BY rank""".stripMargin

  // ---- Q66: reciprocal-rank fusion (BM25 ∪ cosine ANN) ----------------

  /** Rank the top-n of a scored frame: orderBy+limit plans a
    * `TakeOrderedAndProject` over the full frame (the scale shape — no
    * global window over the corpus), then row_number runs on n rows. */
  private def topRanked(scored: DataFrame, n: Int, rankCol: String): DataFrame =
    scored
      .orderBy(col("score").desc, col("doc_id"))
      .limit(n)
      .withColumn(rankCol,
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col(rankCol))

  def q66(spark: SparkSession, dir: String): DataFrame = {
    val lex = topRanked(bm25Scores(spark, dir), LexN, "lex_rank")
    val emb = Tables.table(spark, dir, "embeddings")
    val qv = broadcast(
      emb.where(col("vec_id") === QVec).select(col("embedding").as("qv")))
    val cos = emb.crossJoin(qv)
      .withColumn("score", round(cosineSim(col("embedding"), col("qv")), 4))
      .select(col("vec_id").as("doc_id"), col("score"))
    val vec = topRanked(cos, VecN, "vec_rank")
    lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", r4(
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0))))
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).as("vec_rank"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(TopK)
  }

  private def cosSql(a: String, b: String): String =
    graft.functions.Det.cosSql(a, b)

  val q66Sql: String =
    s"""WITH $bm25Ctes,
       |lex AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
       |  FROM scored QUALIFY lex_rank <= $LexN),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QVec),
       |vs AS (
       |  SELECT vec_id AS doc_id,
       |         round(${cosSql("embedding", "qv")}, 4) AS score
       |  FROM embeddings, q),
       |vec AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY score DESC, doc_id) AS vec_rank
       |  FROM vs QUALIFY vec_rank <= $VecN),
       |fused AS (
       |  SELECT doc_id, lex_rank, vec_rank,
       |         ${r4Sql(
             // 1.0::DOUBLE keeps the division out of DECIMAL arithmetic;
             // null ranks (doc on one list only) contribute 0, and the
             // 0-coalesce of the rank COLUMNS happens in the outer select
             // so it cannot lateral-alias into this expression
             s"""coalesce(1.0::DOUBLE / ($RrfK + lex_rank), 0)
                | + coalesce(1.0::DOUBLE / ($RrfK + vec_rank), 0)"""
               .stripMargin.replaceAll("\n", " "))} AS rrf
       |  FROM lex FULL OUTER JOIN vec USING (doc_id))
       |SELECT doc_id, coalesce(lex_rank, 0)::INT AS lex_rank,
       |       coalesce(vec_rank, 0)::INT AS vec_rank, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT $TopK""".stripMargin

  // ---- registry -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q65_bm25_topk" -> (q65 _),
    "q66_hybrid_rrf" -> (q66 _))

  val oracles: Map[String, String] = Map(
    "q65_bm25_topk" -> q65Sql,
    "q66_hybrid_rrf" -> q66Sql)
}
