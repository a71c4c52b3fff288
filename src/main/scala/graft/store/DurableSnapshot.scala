package graft.store

import graft.model.VectorRecord

/** One durable namespace held on the driver: every data row version it
  * holds, with its commit seq, and its tombstones `(id, seq)`, taken by
  * one collect of the files a read at generation `gen` sees. Immutable;
  * [[DurableVectorStore]] replaces it on the first read whose file
  * listing differs.
  *
  * Holding versions rather than live rows is what lets one snapshot answer
  * live and as-of reads alike: [[at]] applies [[DurableVectorStore.liveAsOf]]'s
  * rule row by row (data rows stamped ≤ h, minus rows killed by a
  * tombstone stamped in (row.seq, h]), so a transient duplicate left by a
  * crashed upsert survives here exactly as it does on Spark. Searches run
  * on the [[LiveSnapshot]] views it returns: the same kernel, filters and
  * tie order as the live store's driver tier. */
private[graft] final class DurableSnapshot(val gen: Int, recs: Array[VectorRecord],
                                           seqs: Array[Long], tombs: Array[(String, Long)]) {

  /** Row versions held, the count the snapshot bound applies to: data
    * rows plus tombstones. */
  val versions: Int = recs.length + tombs.length

  private val all = new LiveSnapshot(gen, recs)

  /** id → the seqs of its tombstones (a handful per id between
    * compactions). */
  private val tombsOf: Map[String, Array[Long]] = tombs.groupMap(_._1)(_._2)

  /** The highest seq held: every horizon at or above it sees the live set. */
  private val top: Long =
    (seqs.iterator ++ tombs.iterator.map(_._2)).foldLeft(Long.MinValue)(math.max)

  /** True iff `id` has a tombstone stamped in (from, to]. */
  private def killedIn(id: String, from: Long, to: Long): Boolean =
    tombsOf.get(id).exists(_.exists(t => t > from && t <= to))

  /** Indexes of the data rows live at horizon `h`. */
  private def visible(h: Long): Array[Int] =
    recs.indices.filter(i => seqs(i) <= h && !killedIn(recs(i).id, seqs(i), h)).toArray

  private lazy val liveView: LiveSnapshot = all.select(visible(Long.MaxValue))

  /** The rows `liveAsOf(h)` returns for this namespace (`None`: the live
    * set, memoized). */
  def at(asOf: Option[Long]): LiveSnapshot = asOf match {
    case Some(h) if h < top => all.select(visible(h))
    case _ => liveView
  }

  /** The rows the single-query index tail ranks for a layout built at
    * `builtSeq`, read at `asOf`: the rows of `at(builtSeq)` whose id is a
    * candidate, minus ids tombstoned in (builtSeq, h], plus the rows of
    * `at(h)` stamped after builtSeq (the delta tail). The filters apply
    * when the view is searched. */
  def tail(cands: Set[String], builtSeq: Long, asOf: Option[Long]): LiveSnapshot = {
    val h = asOf.getOrElse(Long.MaxValue)
    val layout = visible(builtSeq).filter { i =>
      val id = recs(i).id
      cands(id) && !killedIn(id, builtSeq, h)
    }
    all.select(layout ++ delta(builtSeq, h))
  }

  /** Data row versions plus tombstones stamped after `seq`, live or
    * not: what the Spark staleness check counts in the namespace's read
    * view for a layout built at `seq`. */
  def versionsAfter(seq: Long): Long =
    seqs.count(_ > seq).toLong + tombs.count(_._2 > seq)

  /** Ids of the rows of `at(asOf)` stamped after `builtSeq`: candidates of
    * every query of a batch. */
  def deltaIds(builtSeq: Long, asOf: Option[Long]): Seq[String] =
    delta(builtSeq, asOf.getOrElse(Long.MaxValue)).toSeq.map(recs(_).id)

  private def delta(builtSeq: Long, h: Long): Array[Int] =
    visible(h).filter(seqs(_) > builtSeq)
}
