package graft.store

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorDistance
import graft.model.{SearchHit, VectorRecord}

/** One live namespace held on the driver: its ids, vectors, flat metadata
  * and metadataJson, taken by one collect at store epoch `epoch`.
  * Immutable; the store replaces it on the first read after a mutation.
  * [[DurableSnapshot]] searches its views of a durable namespace through
  * this class too (`epoch` is then the generation).
  *
  * Every search here answers what the Spark plan over the same rows
  * answers: scores come from the loops the Catalyst expression's kernel
  * runs ([[graft.functions.VectorDistance]]), hits are ordered by
  * [[Scoring.compareRanked]] (score, then id in UTF-8 byte order), the
  * flat filter is the `metadata[k] = v` predicate (a missing or null value
  * never matches) and the JSONPath filter runs Spark's own
  * `get_json_object` evaluator. */
private[graft] final class LiveSnapshot private (
    val epoch: Long,
    private[store] val idStr: Array[String],
    ids: Array[UTF8String],
    flat: Array[Float],
    offs: Array[Int],
    lens: Array[Int],
    sumSq: Array[Double],
    private[store] val metadata: Array[Map[String, String]],
    private[store] val metadataJson: Array[String]) {

  // Columns, not the records: every vector is held once, back to back in
  // `flat` (row i at offs(i), lens(i) floats long), with its Σx² for the
  // cosine kernel (a hit copies its vector out).
  def this(epoch: Long, recs: Array[VectorRecord]) =
    this(epoch, recs.map(_.id), recs.map(r => UTF8String.fromString(r.id)),
      LiveSnapshot.flatten(recs.map(_.values)), recs.map(_.values.length).scanLeft(0)(_ + _).init,
      recs.map(_.values.length), recs.map(r => VectorDistance.sumSqRow(r.values, 0, r.values.length)),
      recs.map(_.metadata), recs.map(_.metadataJson))

  val rows: Int = idStr.length

  private def vector(i: Int): Array[Float] =
    java.util.Arrays.copyOfRange(flat, offs(i), offs(i) + lens(i))

  /** Every row's vector, in row order (copies: an index build's input). */
  private[store] def vectors: Array[Array[Float]] = Array.tabulate(rows)(vector)

  /** The snapshot of just `keep`'s rows, in that order, sharing their
    * columns' values (a view of this one: no vector is copied). */
  def select(keep: Array[Int]): LiveSnapshot =
    new LiveSnapshot(epoch, keep.map(idStr), keep.map(ids), flat, keep.map(offs),
      keep.map(lens), keep.map(sumSq), keep.map(metadata), keep.map(metadataJson))

  /** id → rows holding it (more than one only if a caller bulk-loaded
    * duplicate ids; the Spark semi-join keeps them all too). */
  private lazy val rowsOf: Map[String, Array[Int]] =
    (0 until rows).toArray.groupBy(idStr(_))

  /** Rows passing both filters, restricted to `among` ids when given (an
    * index's candidates; ids the namespace no longer holds drop out). */
  private def eligible(filter: Map[String, String], jsonFilter: Map[String, String],
                       among: Option[Iterable[String]]): Array[Int] = {
    val base = among match {
      case None => (0 until rows).toArray
      case Some(cands) => cands.iterator.flatMap(rowsOf.getOrElse(_, Array.empty[Int]))
        .toArray.distinct
    }
    val keep = new DriverProbe.RowFilter(filter, jsonFilter)
    if (keep.isEmpty) base else base.filter(i => keep(metadata(i), metadataJson(i)))
  }

  /** [[Scoring.score]] of each of `rows` against `query`, the metric
    * resolved once: the kernel's loops over the common prefix, each
    * row's Σx² reused when its length is the query's. */
  private def scores(rows: Array[Int], query: Array[Float], metric: String): Array[Double] = {
    val out = new Array[Double](rows.length)
    var j = 0
    metric match {
      case "l2" =>
        while (j < rows.length) {
          val i = rows(j)
          out(j) = VectorDistance.l2sqRow(flat, offs(i), query, 0, math.min(lens(i), query.length))
          j += 1
        }
      case "ip" =>
        while (j < rows.length) {
          val i = rows(j)
          out(j) = 1.0 - VectorDistance.dotRow(flat, offs(i), query, 0, math.min(lens(i), query.length))
          j += 1
        }
      case "cosine" =>
        val qss = VectorDistance.sumSqRow(query, 0, query.length)
        while (j < rows.length) {
          val i = rows(j)
          out(j) = VectorDistance.cosRow(flat, offs(i), lens(i), sumSq(i), query, qss)
          j += 1
        }
      case other => throw new IllegalArgumentException(
        s"unknown metric '$other' (expected l2 | cosine | ip)")
    }
    out
  }

  /** The first `n` of `rows` scored `scored`, as hits in ranked order. */
  private def ranked(rows: Array[Int], scored: Array[Double], metric: String, n: Int): Seq[SearchHit] =
    Scoring.topN(scored, rows, ids, n, descending = metric == "cosine").toSeq.map { p =>
      val i = rows(p)
      SearchHit(idStr(i), scored(p), vector(i), metadata(i), metadataJson(i))
    }

  /** Top-k of the filtered rows (or of the candidates, when given). */
  def topK(query: Seq[Float], k: Int, metric: String,
           filter: Map[String, String], jsonFilter: Map[String, String],
           among: Option[Iterable[String]] = None): Seq[SearchHit] = {
    val rows = eligible(filter, jsonFilter, among)
    ranked(rows, scores(rows, query.toArray, metric), metric, k)
  }

  /** Every filtered row whose score passes `keep`, ordered (range and
    * threshold search: no k-cut). */
  def matching(query: Seq[Float], metric: String, filter: Map[String, String],
               keep: Double => Boolean): Seq[SearchHit] = {
    val rows = eligible(filter, Map.empty, None)
    val scored = scores(rows, query.toArray, metric)
    val hits = scored.indices.filter(j => keep(scored(j))).toArray
    ranked(hits.map(rows), hits.map(scored), metric, hits.length)
  }
}

private[graft] object LiveSnapshot {

  /** `vs` back to back in one array. */
  private def flatten(vs: Array[Array[Float]]): Array[Float] = {
    val out = new Array[Float](vs.iterator.map(_.length).sum)
    var at = 0
    vs.foreach { v => System.arraycopy(v, 0, out, at, v.length); at += v.length }
    out
  }

  /** Serializes snapshot builds per namespace stripe, for either store:
    * racing first reads of one namespace pay one collect, not one each.
    * A fixed set, so namespace names chosen by clients allocate nothing. */
  final class BuildLocks {
    private val stripes = Array.fill(16)(new Object)

    /** `current`, else `build` under the namespace's stripe (which
      * checks `current` again first: a racing reader may have built it). */
    def cached[T](namespace: String)(current: => Option[T])(build: => T): T =
      current.getOrElse {
        stripes(Math.floorMod(namespace.hashCode, stripes.length)).synchronized {
          current.getOrElse(build)
        }
      }
  }
}
