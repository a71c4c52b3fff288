package graft

import org.scalatest.funsuite.AnyFunSuite

/** r14 (VERDICT r13 "Next round" #6): library callers looping a single
  * operator must not leak pinned blocks. The pre-r14 convention —
  * per-invocation eager `localCheckpoint` on corpus-snapshot frames —
  * leaked one anonymous corpus-sized block per call (reclaimed only by
  * the bench's hygiene sweep, i.e. never for a library caller). The
  * standing-cache conversion makes repeat invocations read one pinned
  * frame per (dir, artifact); this pins exactly that: the persisted-RDD
  * census is FLAT across a loop of each converted operator. */
class HygieneSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def loopedCensusGrowth(run: () => Unit): Int = {
    run() // first call builds the standing pins
    val base = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach(_ => run())
    spark.sparkContext.getPersistentRDDs.size - base
  }

  test("looping q145 (the r13 ADVICE leak site) leaves the block census flat") {
    val growth = loopedCensusGrowth(
      () => graft.operators.TextAnalysis.queries("q145_bigram_logprob")(spark, dir).count())
    assert(growth == 0, s"3 extra q145 invocations pinned $growth new blocks")
  }

  test("looping the dedup family leaves the block census flat") {
    for (q <- Seq("q17_dedup_ngram_jaccard", "q18_dedup_minhash_lsh",
        "q19_dedup_simhash", "q113_span_dedup")) {
      val growth = loopedCensusGrowth(
        () => graft.operators.Dedup.queries(q)(spark, dir).count())
      assert(growth == 0, s"3 extra $q invocations pinned $growth new blocks")
    }
  }

  test("looping the analytics/text corpus-pin consumers leaves the census flat") {
    val qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq("q34_tfidf_top_term" -> graft.operators.Analytics.queries("q34_tfidf_top_term"),
        "q99_bigram_pmi" -> graft.operators.Analytics.queries("q99_bigram_pmi"),
        "q89_unigram_logprob" -> graft.operators.TextAnalysis.queries("q89_unigram_logprob"),
        "q115_dsir_weights" -> graft.operators.TextAnalysis.queries("q115_dsir_weights"))
    qs.foreach { case (name, fn) =>
      val growth = loopedCensusGrowth(() => fn(spark, dir).count())
      assert(growth == 0, s"3 extra $name invocations pinned $growth new blocks")
    }
  }

  // ---- r15 (VERDICT r14 "Next round" #7): the adversarial cases -------
  // the convention's guarantees pinned where they're most likely to rot:
  // two dirs interleaved (per-dir pins must not collide or thrash) and
  // an EXTERNAL unpersist mid-loop (the self-healing path — a bench
  // sweep or ops script dropping blocks under a running operator).

  private val dir2 = "/root/testdata/sf0.01"

  test("interleaving two dirs pins one standing set per dir, census flat across the loop") {
    import graft.operators.StandingCache
    def run(d: String): Unit =
      graft.operators.TextAnalysis.queries("q145_bigram_logprob")(spark, d).count()
    run(dir); run(dir2) // build both dirs' standing pins
    val base = spark.sparkContext.getPersistentRDDs.size
    val basePins = StandingCache.pinned.size
    (1 to 3).foreach { _ => run(dir); run(dir2) } // interleave
    assert(spark.sparkContext.getPersistentRDDs.size == base,
      "interleaved two-dir loop changed the block census")
    assert(StandingCache.pinned.size == basePins,
      "interleaved two-dir loop minted new StandingCache keys")
    assert(StandingCache.pinned.map(_._1).distinct.size >= 2,
      "expected standing pins for both dirs")
  }

  test("an external unpersist mid-loop self-heals without stacking duplicate pins") {
    import org.apache.spark.storage.StorageLevel
    import graft.operators.StandingCache
    def run(): Unit =
      graft.operators.TextAnalysis.queries("q145_bigram_logprob")(spark, dir).count()
    run()
    val base = spark.sparkContext.getPersistentRDDs.size
    // the adversary: an ops script / bench sweep unpersists EVERYTHING
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    run() // must re-pin (self-heal), not run unpinned or double-pin
    run()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= base,
      s"self-heal stacked pins: census $base -> $after")
    // and SOMETHING re-pinned (not zero blocks). The heal is lazy by
    // access — only frames the re-run actually touches re-pin (q145
    // builds a 12-block chain once but references one standing frame
    // per invocation), so census equality is not the contract; the
    // dead-pin test below asserts the per-access restoration guarantee
    // directly (the pre-r19 heal was blind to RDD-level unpersists:
    // q113 measured 1.57 s dead vs 0.51 s pinned).
    assert(after >= 1,
      "self-heal restored no blocks at all — the frames are running dead")
    assert(StandingCache.pinned.nonEmpty)
  }

  test("an RDD-level unpersist leaves a DEAD pin and ensurePinned revives it") {
    import graft.operators.StandingCache
    val sp = spark
    import sp.implicits._
    val tag = "hygiene_deadpin"
    import org.apache.spark.sql.functions.col
    def build = spark.range(2000).select(col("id"),
      (col("id") * 3 % 7).as("v")).toDF()
    // scope the adversary to THIS pin's RDDs: suites share the session
    // and run in parallel, so unpersisting EVERYTHING here can race
    // another suite's pins (observed flaking one full run)
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val df = StandingCache.frame(dir, tag)(build)
    val bridge = org.apache.spark.sql.graft.CatalystBridge
    assert(!bridge.cacheDead(df), "fresh pin classified dead")
    // the adversary: RDD-level unpersist (what getPersistentRDDs-walking
    // hygiene does) — blocks drop, the CacheManager entry SURVIVES, so
    // Dataset.storageLevel still reports the declared level
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) =>
        if (!pre.contains(id)) rdd.unpersist(blocking = true) }
    assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "test premise: the dataset-level storageLevel must survive an " +
        "RDD-level unpersist (else the old heal would have caught this)")
    assert(bridge.cacheDead(df),
      "an RDD-level unpersist must classify the pin dead")
    val healed = StandingCache.frame(dir, tag)(build)
    assert(!bridge.cacheDead(healed), "ensurePinned left the pin dead")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the healed pin stored no blocks")
    StandingCache.invalidate(dir)
  }

  test("invalidate(dir) evicts that dir's pins only; clear() empties the registry") {
    import graft.operators.StandingCache
    def run(d: String): Unit =
      graft.operators.TextAnalysis.queries("q145_bigram_logprob")(spark, d).count()
    run(dir); run(dir2)
    val withBoth = StandingCache.pinned
    assert(withBoth.map(_._1).distinct.size >= 2)
    // the path-keyed operator memos drop with a per-dir eviction too
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    StandingCache.registerEvictHook(() => { fired.incrementAndGet(); () })
    StandingCache.invalidate(dir)
    assert(fired.get() == 1, "invalidate(dir) did not fire the eviction hooks")
    val afterInv = StandingCache.pinned
    assert(!afterInv.exists(_._1 == dir), "invalidate left the dir's keys")
    assert(afterInv.exists(_._1 == dir2), "invalidate evicted ANOTHER dir's keys")
    run(dir) // rebuilds cleanly after eviction
    assert(StandingCache.pinned.exists(_._1 == dir))
    StandingCache.clear()
    assert(StandingCache.pinned.isEmpty, "clear() left keys behind")
    run(dir); run(dir2) // and the operators still work after a full clear
  }
}
