package graft.perfbench

/** The benchmark's own arithmetic, kept pure so [[SelfTest]] can pin it. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of the samples at or below it. NaN on an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** The highest share p whose nearest-rank percentile leaves at least
    * `beyond` of `n` samples above it; NaN when there are too few samples. */
  def tailShare(n: Int, beyond: Int = 10): Double =
    if (n <= beyond) Double.NaN else (n - beyond).toDouble / n

  /** Median, averaging the two middle samples of an even-sized sample. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Cosine similarity with float64 accumulation over float32 inputs,
    * the engine's kernel arithmetic (dot / (|a| |b|)); 0 for a zero vector. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine ranking order: similarity descending, ties by string id
    * ascending (the stores' Scoring contract). */
  val byScoreThenId: Ordering[(String, Double)] =
    Ordering.fromLessThan { (a, b) =>
      if (a._2 != b._2) a._2 > b._2 else a._1 < b._1
    }

  /** Brute-force top-k of `rows` by cosine to `q`. */
  def topK(rows: Iterable[(String, Array[Float])], q: Array[Float], k: Int): Seq[(String, Double)] =
    rows.iterator.map { case (id, v) => (id, cosine(v, q)) }.toSeq.sorted(byScoreThenId).take(k)

  /** Share of the truth's ids that the response holds, over the number
    * of hits the response owes (min(k, matching)). 1.0 when nothing is owed. */
  def recall(got: Seq[String], truth: Seq[String]): Double =
    if (truth.isEmpty) 1.0 else got.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /** Checks a ranked exact response against the truth ranking, allowing
    * ids to swap only inside a score tie (|Δ| ≤ tol). `trueScore` gives
    * the truth's score of any id. Returns None when correct. */
  def checkRanked(got: Seq[(String, Double)], truth: Seq[(String, Double)],
                  trueScore: String => Option[Double], tol: Double = 1e-4): Option[String] =
    if (got.size != truth.size) Some(s"${got.size} hits, expected ${truth.size}")
    else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids")
    else got.indices.collectFirst {
      case i if math.abs(got(i)._2 - truth(i)._2) > tol =>
        s"rank ${i + 1} score ${got(i)._2} != ${truth(i)._2}"
      case i if !trueScore(got(i)._1).exists(s => math.abs(s - got(i)._2) <= tol) =>
        s"id ${got(i)._1} reported ${got(i)._2}, true ${trueScore(got(i)._1)}"
    }
}
