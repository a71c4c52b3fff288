package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.{compareDoubles, compareFloats}

import graft.operators.{Ann, Bq, Opq, Pq}

/** The index build recipes over rows already on the driver, shared by
  * both stores' snapshot tier: a namespace of at most
  * [[VectorStore.SnapshotMaxRows]] rows builds each layout from its
  * snapshot (or, for the durable mount's derived layouts, from the ann
  * layout's own rows) with no Spark job but the writes of its tables.
  * Each recipe is the Spark build's: the same sample (the mount's
  * [[Sample]] rule), seeds and training
  * ([[Ann.lloyds]], [[Opq.rotationOf]], [[Pq.codebooksOf]]) and the
  * per-row kernels its Catalyst expressions evaluate
  * ([[graft.functions.NearestCell.nearest]],
  * [[graft.functions.PqEncode.encode]], [[graft.functions.RotateVec.rotate]],
  * [[graft.functions.LshSignature.signature]], [[Bq.packBits]]), so a
  * layout built here equals the one Spark builds over the same rows. */
private[graft] object DriverBuild {

  /** A mount's training-sample rule: the order its Spark build's sample
    * has, which Lloyd's init and every training sum depend on. */
  type Sample = Array[Array[Float]] => Array[Array[Float]]

  /** The live mount's: the snapshot's row order. The snapshot and the
    * Spark build's sample collect the same namespace frame, in the same
    * order. */
  val rowOrder: Sample = Ann.driverSample

  /** The durable mount's, on both tiers: by vector ([[Ann.sampleOrder]]).
    * Its Spark build samples a scan of data or layout files, whose order
    * follows the files' sizes and which the driver's rows cannot
    * reproduce. */
  val vectorOrder: Sample = vecs => Ann.sampleOrder(Ann.driverSample(vecs))

  /** A trained coarse quantizer and each row's cell. */
  final class Cells(val centers: Array[Array[Float]], val cells: Array[Int])

  /** The IVF recipe ([[Ann.trainQuantizer]], then the [[Ann.writeInvertedFile]]
    * assignment): ≈ √n cells trained on the sample, each row assigned to
    * its nearest. `vecs` are the vectors the cells are trained and
    * assigned on (the mips layout's are augmented). */
  def ivf(vecs: Array[Array[Float]], seed: Long, sample: Sample): Cells = {
    val centers = Ann.lloyds(sample(vecs),
      Ann.ivfCellsFor(vecs.length.toLong), iters = 5, seed = seed)
    new Cells(centers, vecs.map(graft.functions.NearestCell.nearest(_, centers)))
  }

  /** The product grid of the IMI recipe: the two half-space codebooks
    * and each row's cell `lo·k + hi`. */
  final class Grid(val lo: Array[Array[Float]], val hi: Array[Array[Float]], val cells: Array[Int])

  /** The q94 IMI recipe: per-half Lloyd's on the sample with the q94
    * seeds, k = [[Ann.imiGridFor]](n), each row's halves assigned to
    * their nearest centers (the Spark build's `slice` halves). */
  def imi(vecs: Array[Array[Float]], dim: Int, sampleRule: Sample): Grid = {
    val half = dim / 2
    val sample = sampleRule(vecs)
    val k = Ann.imiGridFor(vecs.length.toLong)
    val lo = Ann.lloyds(sample.map(_.take(half)), k, iters = 5, seed = Ann.ImiSeedLo)
    val hi = Ann.lloyds(sample.map(_.drop(half)), k, iters = 5, seed = Ann.ImiSeedHi)
    new Grid(lo, hi, vecs.map(v =>
      graft.functions.NearestCell.nearest(v.slice(0, half), lo) * k +
        graft.functions.NearestCell.nearest(v.slice(half, dim), hi)))
  }

  /** A product quantizer: the OPQ rotation (None: raw PQ), the codebook
    * [sub][code][dim] and each row's codes. */
  final class Codes(val rotation: Option[Array[Array[Float]]],
                    val codebook: Array[Array[Array[Float]]], val codes: Array[Array[Int]])

  /** The PQ recipe: the rotation trained on the sample (when `rotate` and
    * the dim divides), then the codebooks trained on the rotated rows'
    * sample and every rotated row encoded. */
  def pq(vecs: Array[Array[Float]], dim: Int, rotate: Boolean, sample: Sample): Codes = {
    val rotation = if (rotate) Opq.rotationOf(sample(vecs), dim) else None
    val enc = rotation.fold(vecs)(r => vecs.map(graft.functions.RotateVec.rotate(_, r)))
    val codebook = Pq.codebooksOf(sample(enc), dim)
      .map(_.map(_.toArray).toArray).toArray
    new Codes(rotation, codebook, enc.map(graft.functions.PqEncode.encode(_, codebook)))
  }

  /** The BQ midpoint grid: per position, (min + max) / 2 of the rows'
    * values there, Spark's `min`/`max` of a float column
    * ([[compareFloats]]: NaN above every value). */
  def midpoints(vecs: Array[Array[Float]]): Array[Double] = {
    val len = if (vecs.isEmpty) 0 else vecs.map(_.length).max
    Array.tabulate(len) { i =>
      val xs = vecs.collect { case v if v.length > i => v(i) }
      var mn = xs(0)
      var mx = xs(0)
      xs.foreach { x =>
        if (compareFloats(x, mn) < 0) mn = x
        if (compareFloats(x, mx) > 0) mx = x
      }
      (mn.toDouble + mx.toDouble) / 2.0
    }
  }

  /** Every row's sign words against `mids` ([[Bq.packBits]]). */
  def bq(vecs: Array[Array[Float]], mids: Array[Double]): Array[Array[Long]] =
    vecs.map(v => Bq.packBits(v.toSeq, mids))

  /** Every row's band signatures over the `dim`-coefficient planes, one
    * bucket per band. */
  def lsh(vecs: Array[Array[Float]], dim: Int): Array[Array[Long]] = {
    val mat = Ann.hyperplanesFor(dim).map(_.toArray).toArray
    vecs.map(graft.functions.LshSignature.signature(_, mat))
  }

  /** Row `i`'s signature rows: the (band, bucket) rows [[Ann.withBandSigs]]
    * emits, as (id, band, bucket). */
  def sigRows(ids: Array[String], sigs: Array[Array[Long]], i: Int): Seq[(String, Int, Long)] =
    sigs(i).toSeq.zipWithIndex.map { case (bucket, band) => (ids(i), band, bucket) }

  /** Every row's signature rows, in row order. */
  def sigRows(ids: Array[String], sigs: Array[Array[Long]]): Seq[(String, Int, Long)] =
    ids.indices.flatMap(sigRows(ids, sigs, _))

  /** The mips augmentation of the durable ann layout: each vector gains
    * `sqrt(max(M² − ‖x‖², 0))`, M² the largest squared norm, in the
    * Spark build's double arithmetic. */
  def augmented(vecs: Array[Array[Float]]): Array[Array[Float]] = {
    def norm2(v: Array[Float]): Double = v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
    val n2 = vecs.map(norm2)
    val m2 = n2.reduce((m, x) => if (compareDoubles(x, m) > 0) x else m)
    vecs.indices.toArray.map { i =>
      val d = m2 - n2(i)
      vecs(i) :+ math.sqrt(if (compareDoubles(d, 0.0) >= 0) d else 0.0).toFloat
    }
  }

  /** A float matrix widened exactly, for a trained-state comparison. */
  def wide(m: Array[Array[Float]]): Array[Array[Double]] = m.map(_.map(_.toDouble))

  /** Writes a table from ONE task, as both stores write their layout and
    * graded tables: one file (one per partition value when partitioned).
    * A local relation splits one task per core by default, and a
    * cell-partitioned write from each writes a file per cell per task. */
  def write(df: DataFrame, path: String, partitionBy: String*): Unit =
    df.coalesce(1).write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)
}
