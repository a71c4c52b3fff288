package graft.store

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{SearchHit, VectorRecord}

/** One live namespace held on the driver: its ids, vectors, flat metadata
  * and metadataJson, taken by one collect at store epoch `epoch`.
  * Immutable; the store replaces it on the first read after a mutation.
  * [[DurableSnapshot]] searches its views of a durable namespace through
  * this class too (`epoch` is then the generation).
  *
  * Every search here answers what the Spark plan over the same rows
  * answers: scores come from the kernel the Catalyst expression calls
  * ([[Scoring.driverScore]]), hits are ordered by [[Scoring.compareRanked]]
  * (score, then id in UTF-8 byte order), the flat filter is the
  * `metadata[k] = v` predicate (a missing or null value never matches) and
  * the JSONPath filter runs Spark's own `get_json_object` evaluator. */
private[graft] final class LiveSnapshot private (
    val epoch: Long,
    private[store] val idStr: Array[String],
    ids: Array[UTF8String],
    data: Array[UnsafeArrayData],
    private[store] val metadata: Array[Map[String, String]],
    private[store] val metadataJson: Array[String]) {

  // Columns, not the records: each vector is held once, as the unsafe
  // array the kernel scores (a hit copies it out).
  def this(epoch: Long, recs: Array[VectorRecord]) =
    this(epoch, recs.map(_.id), recs.map(r => UTF8String.fromString(r.id)),
      recs.map(r => UnsafeArrayData.fromPrimitiveArray(r.values)),
      recs.map(_.metadata), recs.map(_.metadataJson))

  val rows: Int = idStr.length

  /** Every row's vector, in row order (copies: an index build's input). */
  private[store] def vectors: Array[Array[Float]] = data.map(_.toFloatArray())

  /** The snapshot of just `keep`'s rows, in that order, sharing their
    * columns' values (a view of this one: no vector is copied). */
  def select(keep: Array[Int]): LiveSnapshot =
    new LiveSnapshot(epoch, keep.map(idStr), keep.map(ids), keep.map(data),
      keep.map(metadata), keep.map(metadataJson))

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
    base.filter(i => keep(metadata(i), metadataJson(i)))
  }

  /** Scores of `rows` against `query`, ordered. */
  private def rank(rows: Array[Int], query: Seq[Float], metric: String,
                   keep: Double => Boolean): Array[(Int, Double)] = {
    val score = Scoring.driverScore(metric)
    val q = UnsafeArrayData.fromPrimitiveArray(query.toArray)
    val scored = rows.map(i => (i, score(data(i), q))).filter(t => keep(t._2))
    java.util.Arrays.sort(scored, (a: (Int, Double), b: (Int, Double)) =>
      Scoring.compareRanked(metric, a._2, ids(a._1), b._2, ids(b._1)))
    scored
  }

  private def hit(t: (Int, Double)): SearchHit = {
    val i = t._1
    SearchHit(idStr(i), t._2, data(i).toFloatArray(), metadata(i), metadataJson(i))
  }

  /** Top-k of the filtered rows (or of the candidates, when given). */
  def topK(query: Seq[Float], k: Int, metric: String,
           filter: Map[String, String], jsonFilter: Map[String, String],
           among: Option[Iterable[String]] = None): Seq[SearchHit] =
    rank(eligible(filter, jsonFilter, among), query, metric, _ => true)
      .iterator.take(k).map(hit).toSeq

  /** Every filtered row whose score passes `keep`, ordered (range and
    * threshold search: no k-cut). */
  def matching(query: Seq[Float], metric: String, filter: Map[String, String],
               keep: Double => Boolean): Seq[SearchHit] =
    rank(eligible(filter, Map.empty, None), query, metric, keep).toSeq.map(hit)
}

private[graft] object LiveSnapshot {

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
