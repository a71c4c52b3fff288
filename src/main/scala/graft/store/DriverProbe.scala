package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The driver half of an index probe, shared by both stores' snapshot
  * tier: a layout small enough to serve from the driver holds its
  * candidate rows there ([[Held]]) and picks each query's candidate ids
  * with the kernels its Spark frames run, so the rerank that follows
  * ([[LiveSnapshot.topK]], [[DurableSnapshot.tail]]) sees the same ids. */
private[graft] object DriverProbe {

  /** The rows of `df`, or None when it holds more than `bound`. */
  def bounded(df: DataFrame, bound: Int): Option[Array[Row]] = {
    val rows = df.limit(math.max(bound + 1, 0)).collect()
    if (rows.length > bound) None else Some(rows)
  }

  /** A layout's candidate rows on the driver: built with the layout on
    * the snapshot tier, else collected at most once per layout, by its
    * first snapshot-tier probe, under this holder's lock
    * (one holder per layout, so one per cache key), and dropped with the
    * layout. `collect` answers None when the layout holds more rows than
    * the bound; that is kept too, and the layout's probes stay on Spark. */
  final class Held[T](collect: () => Option[T]) {
    @volatile private var state: Option[Option[T]] = None

    def get: Option[T] = state.getOrElse(synchronized {
      if (state.isEmpty) state = Some(collect())
      state.get
    })

    /** Collected yet? (spec hook: without collecting) */
    def collected: Boolean = state.exists(_.isDefined)
  }

  object Held {
    /** A holder of rows the layout's build made on the driver: held from
      * the start, nothing to collect. */
    def of[T](rows: T): Held[T] = {
      val h = new Held[T](() => Some(rows))
      h.get
      h
    }
  }

  /** `rows` ordered by ascending (key, id) — `orderBy(key, id)`'s order
    * and [[graft.functions.TopKAgg]]'s: Spark's double comparison, ids in
    * UTF-8 byte order — cut to the first `n`. */
  def cut(rows: Array[Int], key: Int => Double, ids: Array[UTF8String], n: Int): Array[Int] =
    Scoring.topN(rows.map(key), rows, ids, n, descending = false).map(rows)

  /** The metadata predicate as a row test: `metadata[k] = v` for every
    * flat pair (a missing or null value never matches) and Spark's own
    * `get_json_object` evaluator for every JSONPath pair, as the Spark
    * plans' `metadata.getItem(k) === v` and `get_json_object(...) === v`
    * decide. One per request: the JSON evaluators are stateful. */
  final class RowFilter(filter: Map[String, String], jsonFilter: Map[String, String]) {
    private val paths = jsonFilter.toSeq.map { case (p, v) =>
      (new GetJsonObjectEvaluator(UTF8String.fromString(p)), UTF8String.fromString(v))
    }

    def isEmpty: Boolean = filter.isEmpty && paths.isEmpty

    def apply(md: Map[String, String], json: String): Boolean =
      filter.forall { case (k, v) =>
        md != null && { val x = md.getOrElse(k, null); x != null && x == v }
      } && (paths.isEmpty || json != null && {
        val u = UTF8String.fromString(json)
        paths.forall { case (ev, v) => ev.setJson(u); ev.evaluate() == v }
      })
  }

  /** An ADC table as the sweep's `lut` column holds it
    * (array<array<double>>), for [[graft.functions.AdcKernels.pqAdcRow]]. */
  private def lutData(lut: Seq[Seq[Double]]): ArrayData =
    new GenericArrayData(lut.map(ks => UnsafeArrayData.fromPrimitiveArray(ks.toArray): Any).toArray)

  /** The pq cut: the ids of the [[graft.operators.Pq.CandN]] rows of
    * `rows` nearest by ADC against `lut`, rounded as the sweep's `adc`
    * column rounds it. */
  def pqNearest(codes: CodeRows, rows: Array[Int], lut: Seq[Seq[Double]]): Seq[String] = {
    val table = lutData(lut)
    codes.nearest(rows, graft.operators.Pq.CandN)(c =>
      graft.operators.Pq.roundAdc(graft.functions.AdcKernels.pqAdcRow(c, table)))
  }

  /** The bq cut: the ids of the [[graft.operators.Bq.CandN]] rows of
    * `rows` nearest `qcode` by hamming distance of their sign words. */
  def bqNearest(codes: CodeRows, rows: Array[Int], qcode: Array[Long]): Seq[String] = {
    val q = UnsafeArrayData.fromPrimitiveArray(qcode)
    codes.nearest(rows, graft.operators.Bq.CandN)(c =>
      graft.functions.AdcKernels.hammingRow(c, q).toDouble)
  }

  /** An lsh signature frame (id, band, bucket) as one (band, bucket) →
    * ids map, or None when it holds more than `bound` rows' signatures. */
  def bucketMap(sigs: DataFrame, bound: Int): Option[Buckets] =
    bounded(sigs.select("id", "band", "bucket"), bound * graft.operators.Ann.Bands).map(rows =>
      Buckets.of(rows.toSeq.map(r => (r.getString(0), r.getInt(1), r.getLong(2)))))

  /** An lsh layout's signatures on the driver. */
  final class Buckets(byBucket: Map[(Int, Long), Array[String]]) {
    /** The ids sharing a bucket with a query's (band, bucket) pairs, once
      * each: the ids the signature join proposes. */
    def mates(query: Seq[(Int, Long)]): Seq[String] =
      query.flatMap(byBucket.getOrElse(_, Array.empty[String])).distinct
  }

  object Buckets {
    /** The (id, band, bucket) signature rows grouped by (band, bucket),
      * each group's ids in row order. */
    def of(sigs: Seq[(String, Int, Long)]): Buckets =
      new Buckets(sigs.toArray.groupMap(r => (r._2, r._3))(_._1))
  }

  /** Layout rows indexed by their cell. */
  sealed abstract class ByCell(cells: Array[Int]) {
    private val byCell: Map[Int, Array[Int]] = cells.indices.toArray.groupBy(cells(_))

    /** Every row. */
    def all: Array[Int] = cells.indices.toArray

    /** The rows of the probed cells. */
    def in(probed: Seq[Int]): Array[Int] =
      probed.distinct.toArray.flatMap(byCell.getOrElse(_, Array.empty[Int]))
  }

  /** The rows of a cell-partitioned layout (ivf, imi): each row's id and
    * cell, and — on the durable mount, whose layouts carry records — its
    * metadata, so filters match the layout's own records (null without). */
  final class CellRows(val ids: Array[String], cells: Array[Int],
                       metadata: Array[Map[String, String]], json: Array[String])
      extends ByCell(cells) {
    /** The rows of `rows` whose record passes `f`. */
    def passing(rows: Array[Int], f: RowFilter): Array[Int] =
      if (f.isEmpty) rows else rows.filter(i => f(metadata(i), json(i)))
  }

  /** The rows of a codes table (pq codes, bq sign words): each row's id,
    * cell (0 on the live mount's unpartitioned codes) and code array. */
  final class CodeRows(idStr: Array[String], cells: Array[Int], codes: Array[UnsafeArrayData])
      extends ByCell(cells) {
    private val ids = idStr.map(UTF8String.fromString)

    def id(i: Int): String = idStr(i)

    /** The ids of the `n` rows of `rows` nearest by `dist` of their code. */
    def nearest(rows: Array[Int], n: Int)(dist: UnsafeArrayData => Double): Seq[String] =
      cut(rows, i => dist(codes(i)), ids, n).toSeq.map(idStr)
  }
}
