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

  /** The persisted RDDs now that were not persisted at `pre`. Only
    * these count: the ContextCleaner may free an earlier suite's blocks
    * at any point of a loop, which a census by size reads as shrinkage. */
  private def pinnedSince(pre: collection.Set[Int]): Int =
    (spark.sparkContext.getPersistentRDDs.keySet -- pre).size

  private def loopedCensusGrowth(run: () => Unit): Int = {
    run() // first call builds the standing pins
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 3).foreach(_ => run())
    pinnedSince(pre)
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
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val basePins = StandingCache.pinned.size
    (1 to 3).foreach { _ => run(dir); run(dir2) } // interleave
    assert(pinnedSince(pre) == 0,
      "interleaved two-dir loop pinned new blocks")
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

  test("live lsh and bq layouts pin one frame per (index, namespace, dim), census flat across write rounds") {
    val s = new graft.store.VectorStore(spark)
    val rnd = new scala.util.Random(13)
    def vec = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val nss = Seq("h0", "h1", "h2")
    nss.foreach(ns => s.upsertMany(Seq.fill(30)((vec, Map.empty[String, String])), ns))
    val q = vec
    def round(): Unit =
      for (ns <- nss; ix <- Seq("lsh", "bq"))
        s.findSimilar(q, k = 3, namespace = ns, approx = true, index = ix)
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    def census = pinnedSince(pre)
    (1 to 4).foreach { r =>
      if (r > 1) nss.foreach(ns => s.insert(vec, Map.empty, ns)) // every layout goes stale
      round()
      for (ns <- nss; ix <- Seq("lsh", "bq"))
        assert(s.layoutState(ix, ns, 8).contains((s.currentEpoch, true)),
          s"round $r: the $ix layout of $ns is not current and pinned")
      // replaced frames are unpersisted without blocking: allow them to land
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (census > 6 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(census == 6,
        s"round $r: $census pinned frames for 2 indexes x 3 namespaces")
    }
  }

  test("driver-held layout rows: one set per (index, namespace, dim) across rebuilds, census flat") {
    val rnd = new scala.util.Random(17)
    def vec = Seq.fill(8)(rnd.nextFloat() * 2 - 1)
    val q = vec
    val indexes = Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")
    /** Waits out the non-blocking unpersist of replaced pinned frames. */
    def settled(pre: collection.Set[Int], want: Int): Int = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (pinnedSince(pre) != want && System.nanoTime() < deadline) Thread.sleep(50)
      pinnedSince(pre)
    }
    val s = new graft.store.VectorStore(spark)
    val nss = Seq("g0", "g1")
    nss.foreach(ns => s.upsertMany(Seq.fill(30)((vec, Map.empty[String, String])), ns))
    def round(): Unit =
      for (ns <- nss; ix <- indexes) s.findSimilar(q, k = 3, namespace = ns, approx = true, index = ix)
    val keys = (for (ns <- nss; ix <- indexes) yield (ix, ns, 8)).toSet
    round()
    val pre = spark.sparkContext.getPersistentRDDs.keySet // with the builds' lsh and bq frames
    (1 to 3).foreach { r =>
      nss.foreach(ns => s.insert(vec, Map.empty, ns)) // five of six layouts go stale
      round()
      val held = s.heldLayoutRows
      assert(held.size == held.toSet.size && held.toSet == keys, s"live round $r: $held")
      // this round's lsh and bq frames, the last round's unpersisted
      val pinned = settled(pre, 4)
      assert(pinned == 4, s"live round $r: $pinned frames pinned for 2 indexes x 2 namespaces")
    }
    val d = new graft.store.DurableVectorStore(spark,
      java.nio.file.Files.createTempDirectory("graft_hyg_held_").toString)
    val sp = spark
    import sp.implicits._
    d.loadFrame((0 until 30).map(i => (s"h$i", vec)).toDF("id", "values"), "g0")
    def durableRound(): Unit =
      indexes.foreach(ix => d.findSimilar(q, k = 3, namespace = "g0", approx = true, index = ix))
    durableRound()
    val dPre = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 2).foreach { r =>
      d.refreshAnnIndex("g0", 8) // every layout is rebuilt
      durableRound()
      val held = d.heldLayoutRows
      assert(held.size == held.toSet.size && held.toSet == indexes.map((_, "g0", 8)).toSet,
        s"durable round $r: $held")
      val pinned = settled(dPre, 0)
      assert(pinned == 0, s"durable round $r: $pinned RDDs left persisted")
    }
    // the live store stays reachable until here: a collected store's
    // pinned frames would leave the census through the ContextCleaner
    assert(s.heldLayoutRows.toSet == keys)
  }
}

