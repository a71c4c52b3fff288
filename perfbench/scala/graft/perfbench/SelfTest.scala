package graft.perfbench

/** Self-tests of the benchmark's own arithmetic: percentiles and their
  * sample support, the whole-cycle window size, the truth ranking's
  * tie-break, recall, and the exact-answer check. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on a failure. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(): Unit = {
    val xs = (1 to 200).map(_.toDouble)
    expect("nearest-rank p95 of 1..200 is 190", Stats.percentile(xs, 0.95) == 190.0)
    expect("200 samples leave 10 beyond p95", xs.count(_ > Stats.percentile(xs, 0.95)) == 10)
    val fifty = xs.take(50)
    expect("50 samples leave 12 beyond p75", fifty.count(_ > Stats.percentile(fifty, 0.75)) == 12)
    val window = xs.take(25)
    expect("a 25-sample window's tail is p60", Stats.tailShare(25) == 0.6)
    expect("p60 of 25 samples leaves 10 beyond", window.count(_ > Stats.percentile(window, Stats.tailShare(25))) == 10)
    expect("200 samples allow p95", Stats.tailShare(200) == 0.95)
    expect("ten samples allow no tail", Stats.tailShare(10).isNaN)
    expect("p100 is the maximum", Stats.percentile(xs, 1.0) == 200.0)
    expect("median of an even sample averages the middle pair", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    expect("median of an odd sample is its middle", Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    expect("percentile of nothing is NaN", Stats.percentile(Nil, 0.5).isNaN)

    expect("a 10 s window runs two whole cycles", Schedule.windowCycles(10) == 2)
    expect("a partial cycle's worth of seconds rounds up", Schedule.windowCycles(11) == 3)
    expect("a window runs at least one cycle", Schedule.windowCycles(1) == 1)

    // equal scores rank by string id ascending: "10" < "9"
    val q = Array(1f, 0f)
    val rows = Seq("9" -> Array(1f, 0f), "10" -> Array(2f, 0f), "a" -> Array(0f, 1f), "b" -> Array(1f, 1f))
    val top = Stats.topK(rows, q, 3)
    expect("truth ties break by string id", top.map(_._1) == Seq("10", "9", "b"))
    expect("cosine uses float64 accumulation", math.abs(top(2)._2 - 1 / math.sqrt(2)) < 1e-15)
    expect("zero vector scores 0", Stats.cosine(Array(0f, 0f), q) == 0.0)

    expect("recall counts shared ids over the truth", Stats.recall(Seq("a", "b", "x"), Seq("a", "b", "c", "d")) == 0.5)
    expect("recall of nothing owed is 1", Stats.recall(Nil, Nil) == 1.0)

    val truth = Seq(("1", 0.9), ("2", 0.8), ("3", 0.8))
    val score = truth.toMap.get _
    expect("exact answer equal to the truth passes", Stats.checkRanked(truth, truth, score).isEmpty)
    expect("ids may swap inside a tie", Stats.checkRanked(Seq(("1", 0.9), ("3", 0.8), ("2", 0.8)), truth, score).isEmpty)
    expect("a wrong score fails", Stats.checkRanked(Seq(("1", 0.9), ("2", 0.8), ("3", 0.7)), truth, score).nonEmpty)
    expect("a short answer fails", Stats.checkRanked(truth.take(2), truth, score).nonEmpty)
    expect("a foreign id fails", Stats.checkRanked(Seq(("1", 0.9), ("2", 0.8), ("4", 0.8)), truth, score).nonEmpty)

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    if (failures != 0) throw new AssertionError(s"$failures self-tests failed")
  }
}
