package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorDistance
import graft.model.VectorRecord
import graft.store.{DriverProbe, LiveSnapshot, Scoring}

/** The driver tier's ranking: [[LiveSnapshot]] scores rows held in one
  * flat array with the loops [[VectorDistance]] evaluates, and
  * [[Scoring.topN]] keeps the first n without sorting every row. Scores
  * must be the Catalyst kernel's bit for bit and the order the stable
  * full sort's. */
class DriverRankSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The plan's score for `metric` ([[Scoring.score]]) by the kernel
    * Catalyst's interpreted path runs. */
  private def evalScore(metric: String, x: Array[Float], q: Array[Float]): Double = {
    val (a, b) = (UnsafeArrayData.fromPrimitiveArray(x), UnsafeArrayData.fromPrimitiveArray(q))
    metric match {
      case "l2" => VectorDistance.eval("l2sq", a, b)
      case "cosine" => VectorDistance.eval("cos", a, b)
      case "ip" => 1.0 - VectorDistance.eval("dot", a, b)
    }
  }

  private val Dim = 8

  /** Rows shorter than, as long as and longer than the query, with zero
    * and non-finite components among them. */
  private val vectors: Array[Array[Float]] = {
    val rnd = new Random(3)
    val odd = Array(0f, -0f, Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
    Array.tabulate(90) { i =>
      val len = Seq(Dim, Dim - 3, Dim + 3, 1, 0)(i % 5)
      Array.tabulate(len)(j =>
        if (i % 7 == 0 && j == i % math.max(len, 1)) odd((i / 7) % odd.length)
        else if (i % 11 == 0) 0f
        else rnd.nextFloat() * 2 - 1)
    }
  }

  private val queries: Seq[Array[Float]] = {
    val rnd = new Random(4)
    Seq(Array.fill(Dim)(rnd.nextFloat() * 2 - 1), Array.fill(Dim)(0f),
      Array.fill(Dim - 2)(rnd.nextFloat()), Array.fill(Dim + 2)(rnd.nextFloat() - 0.5f),
      Array.tabulate(Dim)(j => if (j == 2) Float.PositiveInfinity else 0.5f))
  }

  test("kernel: the snapshot's flat loop scores every row as VectorDistance.eval does, bit for bit") {
    val snap = new LiveSnapshot(0L, vectors.zipWithIndex.map { case (v, i) =>
      VectorRecord(s"r$i", "k", v, Map.empty, "{}")
    })
    for (metric <- Seq("l2", "cosine", "ip"); q <- queries) {
      val hits = snap.topK(q.toSeq, vectors.length, metric, Map.empty, Map.empty)
      assert(hits.size == vectors.length)
      hits.foreach { h =>
        val i = h.id.drop(1).toInt
        assert(java.util.Arrays.equals(h.values, vectors(i)), s"values of ${h.id}")
        val want = evalScore(metric, vectors(i), q)
        assert(bits(h.score) == bits(want),
          s"$metric, row ${h.id} (length ${vectors(i).length}): ${h.score} vs $want")
      }
    }
  }

  test("kernel: the Catalyst expression, interpreted and generated, equals the shared loops bit for bit") {
    val a = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    val b = BoundReference(1, ArrayType(FloatType, containsNull = false), nullable = false)
    for (m <- Seq("l2sq", "dot", "cos")) {
      val expr = VectorDistance(a, b, m)
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      for (x <- vectors; q <- queries) {
        val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(x), UnsafeArrayData.fromPrimitiveArray(q))
        val n = math.min(x.length, q.length)
        val loop = m match {
          case "l2sq" => VectorDistance.l2sqRow(x, 0, q, 0, n)
          case "dot" => VectorDistance.dotRow(x, 0, q, 0, n)
          case "cos" => VectorDistance.cosRow(x, 0, x.length, VectorDistance.sumSqRow(x, 0, x.length),
            q, VectorDistance.sumSqRow(q, 0, q.length))
        }
        val interpreted = expr.eval(row).asInstanceOf[Double]
        val codegen = generated(row).getDouble(0)
        assert(bits(interpreted) == bits(loop), s"$m interpreted, lengths ${x.length}/${q.length}")
        assert(bits(codegen) == bits(loop), s"$m generated, lengths ${x.length}/${q.length}")
      }
    }
  }

  /** Scores drawn so that ties, NaN, ±0.0 and infinities are common. */
  private def scoresOf(rnd: Random, n: Int): Array[Double] = {
    val pool = Array(0.0, -0.0, 1.0, -1.0, 0.5, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.25)
    Array.fill(n)(if (rnd.nextBoolean()) pool(rnd.nextInt(pool.length)) else rnd.nextDouble())
  }

  /** Ids with duplicates, and two whose UTF-8 and UTF-16 orders disagree. */
  private val ids: Array[UTF8String] =
    Array("a", "b", "b", "c", "｡", "😀", "a", "zz", "").map(UTF8String.fromString)

  test("selector: topN equals the first k of the stable full sort, for ties, NaN, ±0.0, duplicate ids and k ≥ n") {
    val rnd = new Random(11)
    for (round <- 0 until 300) {
      val n = rnd.nextInt(40)
      val scores = scoresOf(rnd, n)
      val rows = Array.fill(n)(rnd.nextInt(ids.length))
      val metric = Seq("l2", "cosine", "ip")(round % 3)
      val sorted = Array.tabulate[Integer](n)(Int.box)
      java.util.Arrays.sort(sorted, (a: Integer, b: Integer) =>
        Scoring.compareRanked(metric, scores(a), ids(rows(a)), scores(b), ids(rows(b))))
      for (k <- Seq(0, 1, 3, n / 2, n, n + 5)) {
        val got = Scoring.topN(scores, rows, ids, k, descending = metric == "cosine")
        assert(got.toSeq == sorted.toSeq.take(k).map(_.intValue),
          s"round $round, $metric, n $n, k $k")
      }
    }
  }

  test("selector: DriverProbe.cut keeps the rows first by ascending (key, id), in input order on ties") {
    val rnd = new Random(12)
    for (round <- 0 until 200) {
      val n = rnd.nextInt(40)
      val keys = scoresOf(rnd, ids.length)
      val rows = Array.fill(n)(rnd.nextInt(ids.length))
      val byKey = rows.sortWith { (a, b) => // stable: equal rows keep input order
        val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(keys(a), keys(b))
        c < 0 || (c == 0 && ids(a).compareTo(ids(b)) < 0)
      }
      for (k <- Seq(1, 4, n, n + 2))
        assert(DriverProbe.cut(rows, keys(_), ids, k).toSeq == byKey.toSeq.take(k), s"round $round, k $k")
    }
  }
}
