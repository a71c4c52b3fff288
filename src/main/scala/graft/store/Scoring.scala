package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorFunctions._

/** Scoring/ranking contract shared by BOTH store facades. One definition,
  * no twin to drift: [[VectorStore]] (in-memory) and
  * [[DurableVectorStore]] (partitioned layout) must stay metric-for-metric
  * interchangeable on the read path — DurableStoreSpec pins the parity,
  * this object enforces it structurally.
  *
  * Contract (from the reference, `index.py:125-127` + SURVEY §2.6):
  * scores are RAW doubles (callers round for reports); "cosine" ranks
  * similarity DESCENDING, "l2"/"ip" rank distance ascending; ties break
  * by string id ascending.
  */
/** The metadata JSON ↔ flat-map convention shared by both facades (SURVEY
  * §1.4): full fidelity lives in `metadataJson`; the flat map carries the
  * top-level scalar keys for cheap column-predicate filtering. One
  * definition so the two stores' REST envelopes cannot drift. */
private[store] object MetaJson {
  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  def json(md: Map[String, String]): String = {
    val o = mapper.createObjectNode()
    md.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    mapper.writeValueAsString(o)
  }

  /** Top-level scalar fields of a JSON object as the filterable flat map
    * (nested objects/arrays/null stay only in the JSON). */
  def flat(json: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val node = mapper.readTree(json)
    if (node == null || !node.isObject) Map.empty
    else node.properties().asScala
      .filter(e => e.getValue.isValueNode && !e.getValue.isNull)
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }
}

private[graft] object Scoring {

  /** Above this many ids, literal `isInCollection` predicates give way to
    * broadcast join forms: the literal plan grows with the batch (codegen
    * size, analysis time) while the join stays constant-size. The REST
    * contract caps request batches at 1000, so serving always takes the
    * literal path. */
  val InListMax = 1000

  def litVec(q: Seq[Float]): Column =
    array(q.map(v => lit(v)): _*).cast("array<float>")

  def score(metric: String, values: Column, qv: Column): Column = metric match {
    case "l2"     => l2sq(values, qv)
    case "cosine" => cosineSim(values, qv)
    case "ip"     => ipDist(values, qv)
    case other    => throw new IllegalArgumentException(
      s"unknown metric '$other' (expected l2 | cosine | ip)")
  }

  def ranked(df: DataFrame, metric: String): DataFrame =
    if (metric == "cosine") df.orderBy(col("score").desc, col("id"))
    else df.orderBy(col("score"), col("id"))

  /** The driver twin of [[ranked]]'s order: score under Spark's double
    * ordering (NaN largest, -0.0 == 0.0), descending for cosine, then id
    * in UTF-8 byte order, which is how Spark compares strings (Java's
    * `String.compareTo` orders UTF-16 units and disagrees above the BMP). */
  def compareRanked(metric: String, s1: Double, id1: UTF8String,
                    s2: Double, id2: UTF8String): Int =
    compareRanked(metric == "cosine", s1, id1, s2, id2)

  private def compareRanked(descending: Boolean, s1: Double, id1: UTF8String,
                            s2: Double, id2: UTF8String): Int = {
    val c =
      if (descending) SQLOrderingUtil.compareDoubles(s2, s1)
      else SQLOrderingUtil.compareDoubles(s1, s2)
    if (c != 0) c else id1.compareTo(id2)
  }

  /** The driver's top-n: the positions p of the `n` first of `scores` in
    * [[compareRanked]] order on (scores(p), ids(rows(p))), then by p — the
    * first n of a stable sort of every position, found with one bounded
    * heap of n positions instead of sorting them all. `descending` is
    * cosine's order (the metric's, resolved once by the caller). */
  def topN(scores: Array[Double], rows: Array[Int], ids: Array[UTF8String], n: Int,
           descending: Boolean): Array[Int] = {
    // true iff position a ranks after position b
    def after(a: Int, b: Int): Boolean = {
      val c = compareRanked(descending, scores(a), ids(rows(a)), scores(b), ids(rows(b)))
      c > 0 || (c == 0 && a > b)
    }
    val heap = new Array[Int](math.max(0, math.min(n, scores.length)))
    // a max-heap: the last-ranked kept position on top
    def siftDown(from: Int, size: Int): Unit = {
      var p = from
      var settled = false
      while (!settled) {
        val l = 2 * p + 1
        var top = p
        if (l < size && after(heap(l), heap(top))) top = l
        if (l + 1 < size && after(heap(l + 1), heap(top))) top = l + 1
        if (top == p) settled = true
        else { val t = heap(p); heap(p) = heap(top); heap(top) = t; p = top }
      }
    }
    var size = 0
    var p = 0
    while (p < scores.length && size < heap.length) {
      var c = size
      heap(c) = p
      while (c > 0 && after(heap(c), heap((c - 1) / 2))) {
        val t = heap(c); heap(c) = heap((c - 1) / 2); heap((c - 1) / 2) = t; c = (c - 1) / 2
      }
      size += 1; p += 1
    }
    while (p < scores.length) {
      if (size > 0 && after(heap(0), p)) { heap(0) = p; siftDown(0, size) }
      p += 1
    }
    // heapsort in place: the last-ranked goes to the end
    while (size > 1) {
      size -= 1
      val t = heap(0); heap(0) = heap(size); heap(size) = t
      siftDown(0, size)
    }
    heap
  }

  /** Hits collected unordered, sorted on the driver in [[ranked]] order. */
  def sortHits(hits: Seq[graft.model.SearchHit], metric: String): Seq[graft.model.SearchHit] = {
    val keyed = hits.map(h => (h, UTF8String.fromString(h.id))).toArray
    java.util.Arrays.sort(keyed, (a: (graft.model.SearchHit, UTF8String),
                                  b: (graft.model.SearchHit, UTF8String)) =>
      compareRanked(metric, a._1.score, a._2, b._1.score, b._2))
    keyed.toSeq.map(_._1)
  }

  /** Batched exact search shared by both facades: Q query vectors
    * answered by ONE scan of `base`. The queries broadcast as a literal
    * frame (Q × dim floats — kilobytes); the per-query top-k cut runs in
    * [[graft.functions.TopKAgg]]'s bounded heap, whose map-side partial
    * aggregation prunes every partition to k entries per query before
    * the exchange — corpus × Q scored rows are never shuffled, and the
    * corpus is never scanned per query (the win over Q sequential
    * findSimilar calls). A second, id-pruned pass enriches the ≤ Q×k
    * winners with their stored records. Result is positional:
    * result(i) answers queries(i), ordered by the same (score,
    * asc-id) contract as [[ranked]]. */
  def batchSearch(base: DataFrame, queries: Seq[Seq[Float]], k: Int,
                  metric: String): Seq[Seq[graft.model.SearchHit]] =
    batchOver(base, queries, k, metric, cand = None)

  /** The CANDIDATE-RESTRICTED batch form (the indexed serving batch,
    * r11): identical contract to [[batchSearch]], but each query scores
    * only the rows its index probe proposed — `cand` is a (__qid, id)
    * pair frame, so the scored set is Σ|cand(q)| rows instead of
    * corpus × Q. Rows the live set no longer holds drop out in the
    * join (the layout proposes, the live store decides). */
  def batchSearchCandidates(base: DataFrame, queries: Seq[Seq[Float]],
                            cand: DataFrame, k: Int,
                            metric: String): Seq[Seq[graft.model.SearchHit]] =
    batchOver(base, queries, k, metric, Some(cand))

  private def batchOver(base: DataFrame, queries: Seq[Seq[Float]], k: Int,
                        metric: String,
                        cand: Option[DataFrame]): Seq[Seq[graft.model.SearchHit]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val qdf = queries.zipWithIndex.map { case (q, i) => (i, q) }
      .toDF("__qid", "__qv")
      .select(col("__qid"), col("__qv").cast("array<float>").as("__qv"))
    val pairs = cand match {
      case None => base.crossJoin(broadcast(qdf))
      case Some(c) => base.join(c, Seq("id"))
        .join(broadcast(qdf), Seq("__qid"))
    }
    val top: Map[Int, Seq[(String, Double)]] = pairs
      .select(col("__qid"), col("id"),
        score(metric, col("values"), col("__qv")).as("__raw"))
      .groupBy(col("__qid"))
      .agg(graft.functions.TopKAgg.topk(col("__raw"), col("id"), k,
        descending = metric == "cosine").as("top"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(t => (t.getString(0), t.getDouble(1))).toSeq)
      .toMap
    val wanted = top.valuesIterator.flatMap(_.map(_._1)).toSeq.distinct
    val recs: Map[String, graft.model.VectorRecord] =
      if (wanted.isEmpty) Map.empty
      else {
        val pruned =
          if (wanted.size <= InListMax)
            base.filter(col("id").isInCollection(wanted))
          else base.join(broadcast(wanted.toDF("__rid")),
            col("id") === col("__rid"), "left_semi")
        pruned.select(col("id"), col("namespace"), col("values"),
            col("metadata"), col("metadataJson"))
          .as[graft.model.VectorRecord].collect().map(r => r.id -> r).toMap
      }
    queries.indices.map { i =>
      // Version consistency across the two jobs: `base` is evaluated
      // ONCE per call, and a parquet DataFrame pins its file listing at
      // construction (InMemoryFileIndex is built when the relation
      // resolves) — commits racing between the collects write NEW files
      // the pinned index never sees, so job 2 enriches from the same
      // snapshot job 1 scored (never an old score on a new record).
      // recs.get stays belt-and-braces: a caller passing a re-resolving
      // base (a view, a re-listed table) degrades to dropped hits, not
      // a thrown batch
      top.getOrElse(i, Nil).flatMap { case (id, s) =>
        recs.get(id).map(r =>
          graft.model.SearchHit(id, s, r.values, r.metadata, r.metadataJson))
      }
    }
  }
}
