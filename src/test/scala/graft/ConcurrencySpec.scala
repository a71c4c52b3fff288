package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.store.VectorStore

/** Concurrency stress for the serving facade (VERDICT r5 task 4): the
  * store's commit/epoch/sigCache race reasoning
  * (`store/VectorStore.scala` — commit under the monitor, index builds
  * OUTSIDE it with the PRE-build epoch stamped) was hand-verified only;
  * these tests enforce it. The reference is single-threaded per request
  * (`rest_api.py` serves from one in-process engine); a Spark serving
  * facade is not, so the invariants need teeth:
  *
  *  1. no lost commits — every racing mutation lands exactly once;
  *  2. epoch monotonicity — no thread ever observes the epoch move back;
  *  3. index convergence — after quiescence, one approx search reflects
  *     EVERY commit and leaves the cache stamped at the live epoch;
  *  4. no leaked pinned blocks — racing rebuilds unpersist what they
  *     replace.
  *
  * The stamp-order pin (second test) targets the specific regression the
  * build-outside-lock design invites: stamping the POST-build epoch
  * would mark signatures built from a pre-mutation snapshot as current
  * forever, so a search after the mutation would serve the stale frame.
  * Probe vectors are IDENTICAL to the query, so a fresh index must
  * return them (same sign bits → same band buckets → guaranteed
  * candidate, cosine 1.0 → top rank); a stale frame cannot.
  */
class ConcurrencySpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def randVectors(n: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
  }

  test("writers racing approx searches: no lost commits, monotone epochs, converged index, no leaked blocks") {
    val s = new VectorStore(spark)
    val dim = 8
    s.upsertMany(randVectors(200, dim, seed = 3).map(v => (v, Map.empty[String, String])), "race")
    val query = Seq.tabulate(dim)(i => 0.1f * (i + 1))

    // sized for coverage, not load: 32 racing commits and 9 racing
    // searches exercise every interleaving class the invariants name;
    // the earlier 48/15 shape bought no extra coverage and pushed the
    // wall-clock (cold-JIT rebuild per observed epoch ≈ seconds each)
    // against the liveness deadline on slow boxes
    val writers = 4
    val perWriter = 8
    val searchers = 3
    val searchRounds = 3
    val pool = Executors.newFixedThreadPool(writers + searchers)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val epochTraces = Array.fill(searchers)(Vector.newBuilder[Long])
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size

    val writerTasks = (0 until writers).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            var i = 0
            // probe vectors == query: a fresh index MUST surface them
            while (i < perWriter) { s.upsert(s"w${t}_$i", query, namespace = "race"); i += 1 }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    val searchTasks = (0 until searchers).map { m =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            var i = 0
            while (i < searchRounds) {
              epochTraces(m) += s.currentEpoch
              assert(s.findSimilar(query, k = 500, namespace = "race", approx = true).nonEmpty)
              i += 1
            }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    start.countDown()
    // liveness deadline, not a perf bar: generous so a cold-JIT run on a
    // contended box cannot time out a correct store. On expiry, cancel
    // the racing threads before the next test runs — leaked racers
    // submitting into a shutting-down context was how one timeout
    // cascaded into executor-pool-terminated noise across the suite.
    try (writerTasks ++ searchTasks).foreach(_.get(900, TimeUnit.SECONDS))
    finally { pool.shutdownNow(); pool.awaitTermination(30, TimeUnit.SECONDS) }
    assert(errs.isEmpty, s"concurrent ops threw: ${errs.peek()}")

    // 1. no lost commits: every upsert id landed exactly once
    assert(s.totalCount() == 200 + writers * perWriter)
    // 2. every searcher observed a non-decreasing epoch sequence
    epochTraces.foreach { b =>
      val t = b.result()
      assert(t == t.sorted, s"epoch went backwards in a searcher trace: $t")
    }
    // 3. post-quiescence search reflects EVERY commit
    val ids = s.findSimilar(query, k = 1000, namespace = "race", approx = true)
      .map(_.id).toSet
    for (t <- 0 until writers; i <- 0 until perWriter)
      assert(ids.contains(s"w${t}_$i"), s"approx search lost commit w${t}_$i")
    // ...and leaves the cache stamped at the live epoch with its frame pinned
    val (stamped, pinned) = s.layoutState("lsh", "race", dim).get
    assert(stamped == s.currentEpoch, "sigCache did not converge to the final epoch")
    assert(pinned, "converged signature frame is not persisted")
    // 4. racing rebuilds unpersisted what they replaced (async — POLL for
    //    the non-blocking unpersists to land rather than a fixed sleep,
    //    which flaked on contended boxes even when the store was
    //    leak-free; slack of 2 covers this store's live frame + sig
    //    frame — dozens of leaked rebuild epochs would blow straight
    //    through it)
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def leaked(): Int = spark.sparkContext.getPersistentRDDs.size - persistedBefore
    while (leaked() > 2 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked() <= 2,
      s"pinned blocks grew $persistedBefore -> ${persistedBefore + leaked()}: rebuild epochs are leaking")
  }

  test("a mutation landing mid-build invalidates the racing index build (stamp-order pin)") {
    val s = new VectorStore(spark)
    val dim = 8
    // a larger namespace widens the signature-build window so the
    // mid-build mutation actually lands mid-build
    s.upsertMany(randVectors(1000, dim, seed = 17).map(v => (v, Map.empty[String, String])), "stamp")
    val query = Seq.tabulate(dim)(i => 0.05f * (i + 1))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    for (round <- 0 until 6) {
      // stale cache (previous round mutated) → this search rebuilds
      val bg = new Thread(() => {
        try s.findSimilar(query, k = 5, namespace = "stamp", approx = true)
        catch { case e: Throwable => errs.add(e) }
      })
      bg.start()
      Thread.sleep(5) // inside the rebuild's Spark job, outside the lock
      s.upsert(s"probe_$round", query, namespace = "stamp")
      bg.join(120000)
      assert(!bg.isAlive, "background search hung")
      // correct stamping: the racing build stored a PRE-build epoch, the
      // upsert bumped past it, so this search rebuilds and must see the
      // probe. Post-build stamping would cache-hit the stale frame here.
      val ids = s.findSimilar(query, k = 1000, namespace = "stamp", approx = true).map(_.id)
      assert(ids.contains(s"probe_$round"),
        s"round $round: search served signatures that predate a committed mutation")
    }
    assert(errs.isEmpty, s"background search threw: ${errs.peek()}")
  }

  test("durable probes racing appends, staleness crossings, and a compact: no errors, deletes stay dead") {
    // the r10 gate/trigger machinery under its excluded-schedule-free
    // concurrency: probes (gen gate + CAS-elected staleness checks +
    // possible inline rebuilds) race appends that repeatedly cross the
    // 0.2 ratio, with one compact() mid-run (single compactor — the
    // store's documented contract; everything else is unrestricted).
    // Invariants: no probe throws, no probe EVER serves a deleted id
    // (the resurrection class the generation gate exists to kill), and
    // after quiescence the probe answer matches the exact scan.
    val d = new graft.store.DurableVectorStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dvs_race_").toString)
    spark.conf.set(d.AnnStalenessCheckMsConf, "0") // every probe checks
    try {
      val dim = 8
      val base = randVectors(120, dim, seed = 11)
      val sp = spark
      import sp.implicits._
      def frame(rows: Seq[(String, Seq[Float])]) = rows.toDF("id", "values")
      d.loadFrame(frame(base.zipWithIndex.map { case (v, i) => (s"b$i", v) }), "race")
      val query = base.head
      assert(d.findSimilar(query, k = 5, namespace = "race", approx = true)
        .head.id == "b0")
      // kill rows the probes must never serve again — including the
      // current top hit
      val dead = Seq("b0", "b7", "b19")
      assert(d.delete(dead, "race").sorted == dead.sorted)
      val deadSet = dead.toSet

      val pool = Executors.newFixedThreadPool(4)
      val start = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val resurrections = new java.util.concurrent.atomic.AtomicInteger(0)
      val writer = pool.submit[Unit] { () =>
        start.await()
        // 8 batches × 15 rows over a 120-row layout: crosses 0.2 again
        // and again, so staleness rebuilds interleave with the probes
        (0 until 8).foreach { b =>
          d.loadFrame(frame((0 until 15).map(i =>
            (s"w${b}_$i", randVectors(1, dim, seed = 100 + b * 31 + i).head))),
            "race")
        }
        // an exact duplicate of the query, appended LAST: the quiescent
        // top-1 is then schedule-independent (cos 1.0; served from the
        // tail exactly, or from the query's own cell — probed by
        // construction since its centroid distance is minimal)
        d.loadFrame(frame(Seq(("pin", query))), "race")
      }
      val probers = (0 until 2).map { p =>
        pool.submit[Unit] { () =>
          start.await()
          (0 until 12).foreach { _ =>
            try {
              val ids = d.findSimilar(query, k = 8, namespace = "race",
                approx = true).map(_.id)
              if (ids.exists(deadSet)) resurrections.incrementAndGet()
            } catch { case t: Throwable => errs.add(t) }
          }
        }
      }
      val compactor = pool.submit[Unit] { () =>
        start.await()
        Thread.sleep(150) // land mid-race
        try d.compact() catch { case t: Throwable => errs.add(t) }
        ()
      }
      start.countDown()
      (writer +: compactor +: probers).foreach(_.get(900, TimeUnit.SECONDS))
      pool.shutdown()

      assert(errs.isEmpty, s"racing probe/compact threw: ${errs.peek()}")
      assert(resurrections.get() == 0,
        "a probe served a deleted id during the race — the generation " +
          "gate or kill set failed under concurrency")
      // quiescent convergence: approx top-5 == exact top-5 is not
      // guaranteed (probe policy), but the DELETED ids must be gone and
      // the appended rows must be visible
      val finalHits = d.findSimilar(query, k = 120, namespace = "race",
        approx = true).map(_.id)
      assert(!finalHits.exists(deadSet), "deleted ids present after quiescence")
      val exactTop = d.findSimilar(query, k = 5, namespace = "race").map(_.id)
      val approxTop = d.findSimilar(query, k = 5, namespace = "race",
        approx = true).map(_.id)
      assert(exactTop.head == "pin" && approxTop.head == "pin",
        s"quiescent top-1 should be the pinned duplicate: " +
          s"exact=$exactTop approx=$approxTop")
    } finally spark.conf.unset(d.AnnStalenessCheckMsConf)
  }

  test("racing writers and readers never read a snapshot older than their last acknowledged write") {
    val s = new VectorStore(spark)
    val dim = 8
    s.upsertMany(randVectors(50, dim, seed = 5).map(v => (v, Map.empty[String, String])), "ryw")
    val writers = 3
    val perWriter = 6
    val readers = 2
    val readerRounds = 12
    val pool = Executors.newFixedThreadPool(writers + readers)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val writerTasks = (0 until writers).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try randVectors(perWriter, dim, seed = 100 + t).zipWithIndex.foreach { case (v, i) =>
            val id = s"w${t}_$i"
            s.upsert(id, v, namespace = "ryw")
            // the acknowledged write is visible to this writer's next read
            val hit = s.findSimilar(v, k = 1, metric = "l2", namespace = "ryw").head
            if (hit.id != id || hit.score != 0.0)
              throw new AssertionError(s"$id not read back: got ${hit.id} at ${hit.score}")
          } catch { case e: Throwable => errs.add(e) }
          finally done.incrementAndGet()
        }
      })
    }
    val readerTasks = (0 until readers).map { r =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try {
            var i = 0
            while (i < readerRounds || done.get() < writers) {
              val seen = s.currentEpoch
              val snap = s.snapshot("ryw")
                .getOrElse(throw new AssertionError("ryw is under the snapshot bound"))
              if (snap.epoch < seen)
                throw new AssertionError(s"snapshot at epoch ${snap.epoch} served after epoch $seen was observed")
              s.findSimilar(randVectors(1, dim, seed = 1000L * r + i).head, k = 3, namespace = "ryw")
              i += 1
            }
          } catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    start.countDown()
    (writerTasks ++ readerTasks).foreach(_.get(5, TimeUnit.MINUTES))
    pool.shutdown()
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    assert(s.namespaceCount("ryw") == 50 + writers * perWriter)
  }
}
