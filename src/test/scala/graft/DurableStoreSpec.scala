package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{ApproxIndexes, DurableVectorStore, VectorStore}

/** The durable facade must be semantically interchangeable with the
  * in-memory [[VectorStore]] on the read path (the 100 TB deployment
  * swaps the source, not the semantics), plus the LSM behaviors the
  * in-memory store doesn't have: seq-stamped tombstones, resurrection by
  * re-add, and compaction that folds the tombstone log without changing
  * the live set.
  */
class DurableStoreSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dvs_").toString

  private def frame(rows: Seq[(String, Seq[Float])]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "values")
  }

  private val vecs: Seq[(String, Seq[Float])] =
    (0 until 30).map(i => (s"v$i", Seq(i.toFloat, (i % 7).toFloat, 1f)))

  test("durable search matches the in-memory store on identical data") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "par")
    val m = new VectorStore(spark)
    m.loadFrame(frame(vecs), "par")
    val q = Seq(3f, 2f, 1f)
    for (metric <- Seq("l2", "cosine", "ip")) {
      val a = d.findSimilar(q, k = 8, metric = metric, namespace = "par")
        .map(h => (h.id, h.score))
      val b = m.findSimilar(q, k = 8, metric = metric, namespace = "par")
        .map(h => (h.id, h.score))
      assert(a == b, s"durable/in-memory divergence on metric $metric")
    }
  }

  test("tombstone delete reports live ids and hides rows; re-add resurrects") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "ns")
    assert(d.totalCount() == 30)
    // report includes only live ids, even for a mixed batch
    val rep = d.delete(Seq("v3", "v5", "nope"), "ns")
    assert(rep.sorted == Seq("v3", "v5"))
    assert(d.totalCount() == 28)
    assert(!d.findSimilar(Seq(3f, 3f, 1f), k = 30, namespace = "ns")
      .map(_.id).contains("v3"))
    // deleting an already-dead id reports nothing, breaks nothing
    assert(d.delete(Seq("v3"), "ns").isEmpty)
    // LSM resurrection: a later append with a higher seq outranks the
    // tombstone without any rewrite
    d.loadFrame(frame(Seq(("v3", Seq(99f, 0f, 1f)))), "ns")
    assert(d.totalCount() == 29)
    val back = d.findSimilar(Seq(99f, 0f, 1f), k = 1, metric = "l2", namespace = "ns")
    assert(back.head.id == "v3" && back.head.values.toSeq == Seq(99f, 0f, 1f))
    // UPSERT on reload: re-loading a LIVE id shadows the old row — count
    // unchanged, one row per id, the new values win (VectorStore parity)
    d.loadFrame(frame(Seq(("v4", Seq(77f, 0f, 1f)))), "ns")
    assert(d.totalCount() == 29)
    assert(d.live().filter(col("id") === "v4").count() == 1)
    val v4 = d.findSimilar(Seq(77f, 0f, 1f), k = 1, metric = "l2", namespace = "ns")
    assert(v4.head.id == "v4" && v4.head.values.toSeq == Seq(77f, 0f, 1f))
  }

  test("tombstone log past the broadcast gate: live() switches to a shuffled-hash anti-join, semantics unchanged") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "gate")
    assert(d.delete(Seq("v0", "v1", "v2"), "gate").sorted == Seq("v0", "v1", "v2"))
    assert(d.tombstoneCount() == 3)
    // under the gate: the deletes-sized log rides a broadcast
    val under = d.live().queryExecution.sparkPlan.toString
    assert(under.contains("Broadcast"), s"under-gate plan lost the broadcast:\n${under.take(1500)}")
    spark.conf.set(d.TombBroadcastMaxRowsConf, "2")
    try {
      // past the gate: no broadcast of the log (driver-memory ceiling),
      // shuffled-hash anti-join instead (no sort of the huge data side)
      val over = d.live().queryExecution.sparkPlan.toString
      assert(!over.contains("Broadcast"), s"past-gate plan still broadcasts the log:\n${over.take(1500)}")
      assert(over.contains("ShuffledHashJoin"), s"expected a shuffled-hash anti-join:\n${over.take(1500)}")
      // the plan changed, the answers must not
      val ids = d.findSimilar(Seq(3f, 2f, 1f), k = 30, namespace = "gate").map(_.id).toSet
      assert(!ids.contains("v0") && ids.contains("v5"))
      assert(d.totalCount() == vecs.size - 3)
      // deleting absent ids appends nothing: the log cannot grow with
      // entries that can never kill a row
      assert(d.delete(Seq("ghost1", "ghost2"), "gate").isEmpty)
      assert(d.tombstoneCount() == 3)
    } finally spark.conf.unset(d.TombBroadcastMaxRowsConf)
    // compaction folds the log and returns reads to the broadcast regime
    d.compact()
    assert(d.tombstoneCount() == 0)
  }

  test("a reader process re-seeds its tombstone count and crosses the gate the writer grew past") {
    val root = tmp()
    val writer = new DurableVectorStore(spark, root)
    writer.loadFrame(frame(vecs), "rs")
    // reader opens while the log is EMPTY: its open-time count is 0
    val reader = new DurableVectorStore(spark, root)
    assert(reader.tombstoneCount() == 0)
    spark.conf.set(reader.TombBroadcastMaxRowsConf, "2")
    spark.conf.set(reader.TombRefreshMsConf, "1")
    try {
      // the WRITER grows the log past the reader's gate
      writer.delete(Seq("v0", "v1", "v2", "v3"), "rs")
      Thread.sleep(10) // let the reader's refresh interval elapse
      // without the re-seed the reader would keep its stale 0 forever and
      // broadcast an unbounded log — the failure the gate exists to stop
      assert(reader.tombstoneCount() == 4,
        "reader never re-seeded its tombstone count from the footer")
      val plan = reader.live().queryExecution.sparkPlan.toString
      assert(!plan.contains("Broadcast"),
        s"stale reader still broadcasts the over-gate log:\n${plan.take(1500)}")
      // and the refreshed read path serves the writer's deletes
      val ids = reader.findSimilar(Seq(3f, 2f, 1f), k = 30, namespace = "rs").map(_.id).toSet
      assert(!ids.contains("v0") && ids.contains("v5"))
    } finally {
      spark.conf.unset(reader.TombBroadcastMaxRowsConf)
      spark.conf.unset(reader.TombRefreshMsConf)
    }
  }

  test("delete -> re-add -> compact: resurrection survives the fold, log empties") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "res")
    d.delete(Seq("v1", "v2"), "res")
    // resurrect v2 with NEW values (seq outranks the tombstone)
    d.loadFrame(frame(Seq(("v2", Seq(9f, 9f, 9f)))), "res")
    def liveIds() = d.findSimilar(Seq(1f, 1f, 1f), k = 100, namespace = "res")
      .map(_.id).toSet
    assert(!liveIds().contains("v1") && liveIds().contains("v2"))
    assert(d.tombstoneCount() == 2)
    val remaining = d.compact()
    assert(remaining == vecs.size - 1, s"compact kept $remaining rows")
    assert(d.tombstoneCount() == 0, "compaction left tombstones in the log")
    val after = liveIds()
    assert(!after.contains("v1"), "compaction resurrected a deleted id")
    assert(after.contains("v2"), "compaction lost a re-added id")
    assert(d.read("v2", "res").get.values.toSeq == Seq(9f, 9f, 9f),
      "compaction served the pre-resurrection values")
  }

  test("never-loaded and compacted-to-empty stores read as empty, never as errors") {
    val d = new DurableVectorStore(spark, tmp())
    // fresh store: every read-path call answers like the in-memory
    // facade's empty store — no schema-inference or missing-path throws
    assert(d.totalCount() == 0)
    assert(d.read("x", "ns").isEmpty)
    assert(d.readBatch(Seq("x", "y"), "ns") == Seq(None, None))
    assert(d.findSimilar(Seq(1f, 2f, 3f), k = 5, namespace = "ns").isEmpty)
    assert(d.delete(Seq("x"), "ns").isEmpty)
    assert(d.listNamespaces().isEmpty)
    // load → delete all → compact: the partitioned overwrite of an empty
    // live set leaves a fileless data/ dir, which must read as zero rows
    d.loadFrame(frame(vecs.take(3)), "ns")
    assert(d.totalCount() == 3)
    assert(d.delete(Seq("v0", "v1", "v2"), "ns").sorted == Seq("v0", "v1", "v2"))
    assert(d.compact() == 0)
    assert(d.totalCount() == 0)
    assert(d.findSimilar(Seq(1f, 2f, 3f), k = 5, namespace = "ns").isEmpty)
    // ...and the store stays writable afterwards
    d.loadFrame(frame(vecs.take(2)), "ns")
    assert(d.totalCount() == 2)
  }

  test("approx search on an empty namespace counts it once, then answers from the cached fact until a write") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "full")
    val q = vecs(5)._2
    // the first approx call pays the build's count and finds no rows
    val first = TestSpark.jobsOf {
      assert(d.findSimilar(q, k = 3, namespace = "none", approx = true).isEmpty)
    }
    assert(first >= 1, "the first approx search did not count the namespace")
    // single and batch, any index: the cached empty answer, no Spark job
    val rest = TestSpark.jobsOf {
      assert(d.findSimilarBatchApprox(Seq(q, q), k = 3, namespace = "none")
        .forall(_.isEmpty))
      assert(d.findSimilar(q, k = 3, namespace = "none", approx = true,
        index = "pq").isEmpty)
    }
    assert(rest == 0, s"approx searches on an empty namespace ran $rest Spark jobs")
    assert(d.annBuilds.get() == 0)
    // read-your-writes: an insert outdates the fact, the next approx
    // search builds the layout and answers the new rows
    d.loadFrame(frame(vecs), "none")
    val hits = d.findSimilar(q, k = 3, namespace = "none", approx = true)
    assert(hits.headOption.map(_.id).contains("v5"), s"got ${hits.map(_.id)}")
    assert(d.annBuilds.get() == 1)
  }

  test("point and batch reads: positional, order-preserving, misses as None (S1/S2 parity)") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "rd")
    assert(d.read("v7", "rd").get.values.toSeq == Seq(7f, 0f, 1f))
    assert(d.read("v7", "other").isEmpty)
    assert(d.read("nope", "rd").isEmpty)
    val got = d.readBatch(Seq("v2", "missing", "v0", "v2"), "rd")
    assert(got.length == 4)
    assert(got(0).get.id == "v2" && got(1).isEmpty && got(2).get.id == "v0")
    assert(got(3).get.id == "v2")
    // a tombstoned id reads as a miss
    d.delete(Seq("v2"), "rd")
    assert(d.read("v2", "rd").isEmpty)
    assert(d.readBatch(Seq("v2", "v0"), "rd").map(_.map(_.id)) ==
      Seq(None, Some("v0")))
  }

  test("namespaces are partition-pruned and isolated; compaction preserves the live set") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs.take(20)), "a")
    d.loadFrame(frame(vecs.drop(20)), "b")
    d.delete(Seq("v1", "v21"), "a") // v21 lives in b → only v1 reported
    assert(d.listNamespaces() == Seq("a", "b"))

    // pruning: the namespace predicate reaches the scan as a partition
    // filter, never a row filter over the whole store
    val plan = d.live().filter(col("namespace") === "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(namespace"), plan.take(1200))

    val before = d.findSimilar(Seq(5f, 5f, 1f), k = 50, namespace = "a")
      .map(h => (h.id, h.score))
    val remaining = d.compact()
    assert(remaining == d.totalCount())
    val after = d.findSimilar(Seq(5f, 5f, 1f), k = 50, namespace = "a")
      .map(h => (h.id, h.score))
    assert(after == before, "compaction changed the live search results")
    // namespace b untouched by a's deletes
    assert(d.findSimilar(Seq(5f, 5f, 1f), k = 50, namespace = "b").size == 10)
    // post-compaction deletes still work (fresh tombstone log)
    assert(d.delete(Seq("v0"), "a") == Seq("v0"))
    assert(!d.findSimilar(Seq(0f, 0f, 1f), k = 50, namespace = "a")
      .map(_.id).contains("v0"))
  }

  test("two writer processes interleave appends without minting colliding commit stamps") {
    // Two store INSTANCES over one root stand in for two writer
    // processes: each has its own seq counter, exactly like two JVMs.
    // Without the commits/ marker claims this scenario silently LOSES a
    // delete — a's counter (still at its own last commit) mints a stamp
    // that does not outrank the data b committed after a's last write,
    // and the tombstone kills nothing while the delete REPORT still
    // names the id.
    val root = tmp()
    val a = new DurableVectorStore(spark, root)
    val b = new DurableVectorStore(spark, root)
    a.loadFrame(frame(Seq(("a1", Seq(1f, 0f, 0f)))), "ns") // a claims stamps
    b.loadFrame(frame(Seq(("b1", Seq(0f, 1f, 0f)))), "ns") // b claims PAST a's
    val rep = a.delete(Seq("b1"), "ns") // a must claim past b's data stamp
    assert(rep == Seq("b1"))
    for (s <- Seq(a, b)) {
      assert(s.read("b1", "ns").isEmpty,
        "delete from one writer failed to kill a row committed by the other")
      assert(s.read("a1", "ns").nonEmpty)
      assert(s.totalCount() == 1)
    }
    // interleaved upserts of the SAME id: the later claim wins on both views
    a.loadFrame(frame(Seq(("x", Seq(1f, 1f, 0f)))), "ns")
    b.loadFrame(frame(Seq(("x", Seq(2f, 2f, 0f)))), "ns")
    for (s <- Seq(a, b))
      assert(s.read("x", "ns").map(_.values.toSeq) == Some(Seq(2f, 2f, 0f)))
    // compaction GC keeps only the top marker; a THIRD process seeds past
    // every claimed stamp and its delete still outranks everything
    a.compact()
    val c = new DurableVectorStore(spark, root)
    assert(c.delete(Seq("x"), "ns") == Seq("x"))
    for (s <- Seq(a, b, c)) assert(s.read("x", "ns").isEmpty)
  }

  test("as-of reads see exactly the state at the captured stamp") {
    val d = new DurableVectorStore(spark, tmp())
    val q = Seq(3f, 2f, 1f)
    d.loadFrame(frame(vecs), "ns")
    val snapA = d.currentSeq()
    val atA = d.findSimilar(q, k = 30, namespace = "ns").map(h => (h.id, h.score))
    // mutate: overwrite v1, delete v2, add a new id
    d.loadFrame(frame(Seq(("v1", Seq(50f, 50f, 1f)), ("new", Seq(3f, 2f, 1f)))), "ns")
    assert(d.delete(Seq("v2"), "ns") == Seq("v2"))
    val snapB = d.currentSeq()
    // the A snapshot replays the pre-mutation ranking bit-identically
    assert(d.findSimilarAsOf(q, snapA, k = 30, namespace = "ns")
      .map(h => (h.id, h.score)) == atA)
    // liveAsOf(A) row set = original ids; v1 still has its OLD vector
    val asOfA = d.liveAsOf(snapA).filter(col("namespace") === "ns")
    assert(asOfA.count() == 30)
    assert(asOfA.filter(col("id") === "v1").select("values")
      .collect()(0).getSeq[Float](0) == Seq(1f, 1f, 1f))
    // the B snapshot equals the live read
    assert(d.findSimilarAsOf(q, snapB, k = 30, namespace = "ns")
      .map(h => (h.id, h.score)) ==
      d.findSimilar(q, k = 30, namespace = "ns").map(h => (h.id, h.score)))
    // a stamp from BEFORE any commit sees an empty store
    assert(d.liveAsOf(0L).count() == 0)
  }

  test("batched search matches sequential searches on the durable layout") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "ns")
    val queries = Seq(Seq(3f, 2f, 1f), Seq(20f, 1f, 1f), Seq(0f, 0f, 1f))
    for (metric <- Seq("cosine", "l2", "ip")) {
      val batch = d.findSimilarBatch(queries, k = 6, metric = metric,
        namespace = "ns")
      queries.indices.foreach { i =>
        assert(batch(i).map(h => (h.id, h.score)) ==
          d.findSimilar(queries(i), k = 6, metric = metric, namespace = "ns")
            .map(h => (h.id, h.score)),
          s"batch/single divergence at query $i metric $metric")
      }
    }
  }

  test("changesBetween emits net per-id changes only") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs.take(10)), "cdc")            // v0..v9
    val s1 = d.currentSeq()
    d.loadFrame(frame(Seq(
      ("v2", Seq(50f, 0f, 1f)),                         // update
      ("v42", Seq(51f, 0f, 1f)),                        // insert
      ("v43", Seq(52f, 0f, 1f)))), "cdc")               // insert, then deleted
    assert(d.delete(Seq("v5", "v43"), "cdc").sorted == Seq("v43", "v5"))
    val s2 = d.currentSeq()
    d.loadFrame(frame(Seq(("v7", Seq(53f, 0f, 1f)))), "cdc") // after window
    val ch = d.changesBetween(s1, s2, "cdc")
      .select("id", "change").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // v43 was created and deleted INSIDE the window: net nothing.
    // v7's later update is outside the window. v0/v1/... untouched.
    assert(ch == Seq(("v2", "update"), ("v42", "insert"), ("v5", "delete")),
      s"unexpected CDC feed: $ch")
    // post-image carried for upserts, null for deletes
    val img = d.changesBetween(s1, s2, "cdc")
      .filter(col("id") === "v2").select("values").collect()(0)
      .getSeq[Float](0)
    assert(img == Seq(50f, 0f, 1f))
    assert(d.changesBetween(s1, s2, "cdc").filter(col("id") === "v5")
      .select("values").collect()(0).isNullAt(0))
    // bootstrap window (0, s1]: everything is an insert
    val boot = d.changesBetween(0L, s1, "cdc")
    assert(boot.count() == 10 &&
      boot.filter(col("change") =!= "insert").count() == 0)
    // empty window → empty feed
    assert(d.changesBetween(s2, s2, "cdc").count() == 0)
    // wrong namespace → empty feed
    assert(d.changesBetween(s1, s2, "other").count() == 0)
  }

  test("approx search: layout proposes, live() decides — deletes killed, appends served from the delta tail, one build") {
    val d = new DurableVectorStore(spark, tmp())
    // 40 spread-out vectors so the IVF geometry has real cells
    val rows = (0 until 40).map(i =>
      (s"a$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        (i % 5).toFloat)))
    d.loadFrame(frame(rows), "ann")
    val q = rows(7)._2
    // first approx search builds the layout (snapshotted at builtSeq)
    val first = d.findSimilar(q, k = 5, namespace = "ann", approx = true)
    assert(first.head.id == "a7") // its own vector is the best candidate
    assert(d.annBuilds.get() == 1)
    // POST-layout mutations: kill the current winner, append an exact
    // duplicate of the query under a new id (not in the index)
    assert(d.delete(Seq("a7"), "ann") == Seq("a7"))
    d.loadFrame(frame(Seq(("zfresh", q))), "ann")
    val hits = d.findSimilar(q, k = 5, namespace = "ann", approx = true)
    // the deleted id is GONE (live() semi-join), the un-indexed append is
    // FOUND at rank 1 (delta tail) — and no rebuild was paid for either
    assert(!hits.map(_.id).contains("a7"))
    assert(hits.head.id == "zfresh" && math.abs(hits.head.score - 1.0) < 1e-6)
    assert(d.annBuilds.get() == 1, "mutations must not trigger a rebuild")
    // approx answers match the exact path wherever the probe found the
    // true winners (top-1 parity is guaranteed here by construction)
    val exact = d.findSimilar(q, k = 5, namespace = "ann")
    assert(hits.head.id == exact.head.id)
    // empty namespace: approx answers empty, and emptiness is not cached
    assert(d.findSimilar(q, k = 5, namespace = "nothing", approx = true).isEmpty)
    // compact folds the tail: layouts drop, next search rebuilds over the
    // compacted data and still serves the same answer
    d.compact()
    val after = d.findSimilar(q, k = 5, namespace = "ann", approx = true)
    assert(after.head.id == "zfresh")
    assert(d.annBuilds.get() == 2, "compact() should schedule one lazy rebuild")
    // l2 (the reference's default space, index.py:18) rides the same
    // layout — cells are L2-Voronoi, natively the right probe policy —
    // and must agree with the exact path on the top hit here
    val l2hits = d.findSimilar(q, k = 5, metric = "l2", namespace = "ann",
      approx = true)
    val l2exact = d.findSimilar(q, k = 5, metric = "l2", namespace = "ann")
    assert(l2hits.head.id == l2exact.head.id && l2hits.head.id == "zfresh")
    assert(d.annBuilds.get() == 2, "metric switch must not rebuild the layout")
    // ip approx routes through its OWN norm-augmented layout (r11 — raw
    // L2 cells bound no unnormalized dot, so the space is keyed apart);
    // an unknown index name is still refused loudly
    d.findSimilar(q, k = 5, metric = "ip", namespace = "ann", approx = true)
    assert(d.annBuilds.get() == 3,
      "ip must build the mips-space layout, not reuse raw cells")
    intercept[IllegalArgumentException] {
      d.findSimilar(q, k = 5, namespace = "ann", approx = true, index = "annoy")
    }
  }

  test("an append interleaved with compact() is never folded away (generation re-fold)") {
    val root = tmp()
    val a = new DurableVectorStore(spark, root)
    a.loadFrame(frame(vecs), "gen")           // 30 rows
    a.delete(Seq("v1", "v2"), "gen")
    // a second WRITER process appends while the compactor folds: under
    // any interleaving its files land either in the fold listing (folded
    // now) or as unconsumed old-gen files (re-folded later) — lost in
    // neither schedule
    val b = new DurableVectorStore(spark, root)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val wrote = scala.collection.mutable.ArrayBuffer[String]()
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get() && i < 50) {
        val id = s"w$i"
        b.loadFrame(frame(Seq((id, Seq(100f + i, 1f, 1f)))), "gen")
        wrote.synchronized { wrote += id }
        i += 1
      }
    })
    writer.start()
    val remaining = a.compact()
    stop.set(true)
    writer.join()
    assert(remaining >= 28, s"compact folded to $remaining rows") // >= pre-race live set
    // EVERY interleaved append is present exactly once, deletes stayed dead
    val ids = a.live().filter(col("namespace") === "gen")
      .select("id").collect().map(_.getString(0)).toSeq
    assert(ids.size == ids.distinct.size, "compaction duplicated rows")
    val expected = vecs.map(_._1).filterNot(Set("v1", "v2")) ++ wrote
    assert(ids.sorted == expected.sorted,
      s"lost ${expected.toSet -- ids.toSet} / gained ${ids.toSet -- expected.toSet}")
    // the re-fold: a second compact folds the racers' unconsumed files in
    val after2 = a.compact()
    assert(after2 == expected.size)
    assert(a.live().select("id").collect().map(_.getString(0)).toSeq.sorted
      == expected.sorted.toSeq)
    // and a FRESH process over the flipped layout sees the same world
    val fresh = new DurableVectorStore(spark, root)
    assert(fresh.totalCount() == expected.size)
    // generations GC: after enough folds the legacy root dirs are gone
    a.compact(); a.compact()
    assert(!new java.io.File(s"$root/data").exists(),
      "legacy gen-0 data dir survived GC")
    assert(fresh.totalCount() == expected.size)
  }

  test("staleness trigger: appends past the ratio rebuild the ANN layout exactly once") {
    val d = new DurableVectorStore(spark, tmp())
    spark.conf.set(d.AnnStalenessCheckMsConf, "0") // check every probe
    try {
      val rows = (0 until 40).map(i =>
        (s"s$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
          (i % 5).toFloat)))
      d.loadFrame(frame(rows), "stale")
      val q = rows(7)._2
      d.findSimilar(q, k = 3, namespace = "stale", approx = true)
      assert(d.annBuilds.get() == 1)
      // under the 0.2 default: 2 mutations / 40 rows stays fresh
      assert(d.delete(Seq("s3"), "stale") == Seq("s3"))
      d.loadFrame(frame(Seq(("snew0", q))), "stale")
      d.findSimilar(q, k = 3, namespace = "stale", approx = true)
      assert(d.annBuilds.get() == 1,
        "a sub-threshold mutation window must not rebuild")
      // push the window past 0.2 × 40 = 8 post-build mutations: the NEXT
      // probe folds the tail into a fresh layout — exactly once, and
      // probes after it (no new mutations) reuse it
      d.loadFrame(frame((1 until 8).map(i => (s"snew$i", q))), "stale")
      val hits = d.findSimilar(q, k = 3, namespace = "stale", approx = true)
      assert(hits.head.score > 0.999) // the appended duplicates win
      assert(d.annBuilds.get() == 2,
        "crossing the staleness ratio must rebuild the layout")
      d.findSimilar(q, k = 3, namespace = "stale", approx = true)
      assert(d.annBuilds.get() == 2,
        "a fresh layout (empty tail) must not rebuild again")
      // the rebuilt layout is anchored at the new seq: the delta ids now
      // serve from the INDEX (annLayoutDir's stamp covers them)
      val (_, builtSeq) = d.annLayoutDir("stale", 3).get
      assert(builtSeq >= d.currentSeq() - 1)
      // ratio <= 0 disables the control loop
      spark.conf.set(d.AnnStalenessRatioConf, "0")
      d.loadFrame(frame((0 until 30).map(i => (s"off$i", q))), "stale")
      d.findSimilar(q, k = 3, namespace = "stale", approx = true)
      assert(d.annBuilds.get() == 2, "ratio 0 must disable the trigger")
    } finally {
      spark.conf.unset(d.AnnStalenessCheckMsConf)
      spark.conf.unset(d.AnnStalenessRatioConf)
    }
  }

  test("a serving process does not resurrect deleted rows after a maintenance-process compact") {
    // the r9 advice's medium finding: the probe's kill set is the
    // post-build tombstones, which compact() FOLDS AWAY — a serving
    // process holding a pre-compact layout would compute an empty kill
    // set and serve deleted vectors forever. The generation gate makes
    // it rebuild instead.
    val root = tmp()
    val serving = new DurableVectorStore(spark, root)
    val rows = (0 until 40).map(i =>
      (s"r$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        (i % 5).toFloat)))
    serving.loadFrame(frame(rows), "mp")
    val q = rows(7)._2
    assert(serving.findSimilar(q, k = 3, namespace = "mp", approx = true)
      .head.id == "r7")
    assert(serving.annBuilds.get() == 1)
    // a SEPARATE maintenance process deletes the winner and compacts —
    // the serving process's caches are untouched
    val maint = new DurableVectorStore(spark, root)
    assert(maint.delete(Seq("r7"), "mp") == Seq("r7"))
    maint.compact()
    val hits = serving.findSimilar(q, k = 3, namespace = "mp", approx = true)
    assert(!hits.map(_.id).contains("r7"),
      "stale layout resurrected a deleted row across a compaction")
    assert(serving.annBuilds.get() == 2,
      "the generation gate should have rebuilt the serving layout")
    // steady state: no further rebuilds, answers track the live set
    assert(serving.findSimilar(q, k = 3, namespace = "mp", approx = true)
      .map(h => (h.id, h.score)) == hits.map(h => (h.id, h.score)))
    assert(serving.annBuilds.get() == 2)
  }

  /** One derived index's case: its title words, what a rebuild would
    * redo, and the checks of its own artifact (`dir` is its
    * [[DurableVectorStore.layoutDir]]) and any route of its own. */
  private case class DerivedCase(index: String, idPrefix: String, label: String,
                                 policy: String, structure: String,
                                 artifact: (DurableVectorStore, String, Seq[(String, Seq[Float])]) => Unit)

  /** An empty namespace answers empty through the index's route. */
  private def emptyAnswers(d: DurableVectorStore, index: String, q: Seq[Float]): Unit =
    assert(d.findSimilar(q, k = 5, namespace = "no_rows", approx = true,
      index = index).isEmpty)

  private val derivedCases = Seq(
    DerivedCase("pq", "p", "PQ", "codes-only sweep", "the code tables", { (_, dir, _) =>
      // the codes table really is codes-only (id, codes, cell) — no vectors
      val schema = spark.read.parquet(dir + "/codes").schema.fieldNames.toSet
      assert(schema == Set("id", "codes", "cell"),
        s"codes table carries more than codes: $schema")
    }),
    DerivedCase("bq", "b", "BQ", "sign-bit sweep", "the sign-bit codes", { (_, dir, _) =>
      // the codes table really is sign bits only (id, code words, cell):
      // 4 dims pack into ONE bigint word — 8 bytes per candidate row
      val codes = spark.read.parquet(dir + "/codes")
      assert(codes.schema.fieldNames.toSet == Set("id", "code", "cell"),
        s"codes table carries more than sign bits: ${codes.schema.fieldNames.toSet}")
      import org.apache.spark.sql.functions.{col, size => asize}
      assert(codes.where(asize(col("code")) =!= 1).count() == 0,
        "4-dim vectors must pack into exactly one 64-bit word")
    }),
    DerivedCase("lsh", "l", "LSH", "bucket-mate probe", "the signature table", { (d, dir, rows) =>
      // the signature table is (id, band, bucket), Bands rows per vector —
      // the live mount's exact signature shape, persisted
      val sigs = spark.read.parquet(dir + "/sigs")
      assert(sigs.schema.fieldNames.toSet == Set("id", "band", "bucket"),
        s"signature table shape drifted: ${sigs.schema.fieldNames.toSet}")
      assert(sigs.count() == 60L * graft.operators.Ann.Bands,
        "one signature row per (vector, band) expected")
      // batch form equals Q sequential probes (the one-scan thesis)
      val qs = Seq(rows(3)._2, rows(20)._2, rows(9)._2)
      val batch = d.searchBatch(qs, k = 5, namespace = "lsh", approx = true, index = "lsh")
      qs.zipWithIndex.foreach { case (qi, i) =>
        val single = d.findSimilar(qi, k = 5, namespace = "lsh",
          approx = true, index = "lsh").map(h => (h.id, h.score))
        assert(batch(i).map(h => (h.id, h.score)) == single,
          s"lsh batch result $i diverged from the single-query search")
      }
    }),
    DerivedCase("imi", "m", "IMI", "product-grid probe", "the product grid", { (d, dir, rows) =>
      // the grid really is two-level: cells carry full records, cell ids
      // live in [0, k*k)
      val assign = spark.read.parquet(s"$dir/assign")
      assert(assign.columns.toSet == Set("id", "cell"))
      emptyAnswers(d, "imi", rows(9)._2)
    }),
    DerivedCase("hnsw", "h", "HNSW", "shard-graph probe", "the shard graphs", { (d, dir, rows) =>
      // the layout really is graph-shaped: nodes carry record fields and
      // per-level neighbor lists
      val nodes = spark.read.parquet(s"$dir/graph")
      assert(nodes.columns.toSet ==
        Set("shard", "id", "vec", "metadata", "metadataJson", "level", "nbrs"))
      emptyAnswers(d, "hnsw", rows(9)._2)
    }))

  derivedCases.foreach { c =>
    test(s"durable ${c.label}: ${c.policy} agrees with exact; deletes killed, delta served, one build") {
      val d = new DurableVectorStore(spark, tmp())
      val ns = c.index
      val rows = (0 until 60).map(i =>
        (s"${c.idPrefix}$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
          math.cos(i * 0.11).toFloat, math.sin(i * 0.11).toFloat)))
      d.loadFrame(frame(rows), ns)
      val q = rows(9)._2
      def search() = d.findSimilar(q, k = 5, namespace = ns, approx = true, index = c.index)
      assert(search().head.id == s"${c.idPrefix}9")
      assert(d.builds(c.index).get() == 1 && d.annBuilds.get() == 1)
      // post-layout mutations: the q87 discipline must hold on every index
      assert(d.delete(Seq(s"${c.idPrefix}9"), ns) == Seq(s"${c.idPrefix}9"))
      d.loadFrame(frame(Seq((s"z${c.index}", q))), ns)
      val hits = search()
      assert(!hits.map(_.id).contains(s"${c.idPrefix}9"), s"${c.label} served a deleted row")
      assert(hits.head.id == s"z${c.index}" && math.abs(hits.head.score - 1.0) < 1e-6)
      assert(d.builds(c.index).get() == 1 && d.annBuilds.get() == 1,
        s"sub-threshold mutations must not rebuild ${c.structure}")
      // exact-path agreement on the top hit
      assert(hits.head.id == d.findSimilar(q, k = 5, namespace = ns).head.id)
      c.artifact(d, d.layoutDir(c.index, ns, 4).get, rows)
      // every derived index is cosine-only, loudly
      intercept[IllegalArgumentException] {
        d.findSimilar(q, k = 5, metric = "l2", namespace = ns, approx = true,
          index = c.index)
      }
    }
  }

  /** 60 spread 8-d rows (8 divides into the PQ subspaces, so the OPQ
    * rotation is on). */
  private def spread8(prefix: String): Seq[(String, Seq[Float])] =
    (0 until 60).map(i => (s"$prefix$i",
      (1 to 4).flatMap(j => Seq(math.cos(i * 0.37 * j).toFloat, math.sin(i * 0.11 * j).toFloat))))

  derivedCases.map(_.index).foreach { idx =>
    test(s"durable $idx builds once per ann layout: repeat and batch build nothing, a second namespace builds its own, compact rebuilds once") {
      val d = new DurableVectorStore(spark, tmp())
      val rows = spread8("r")
      d.loadFrame(frame(rows), "one")
      d.loadFrame(frame(rows), "two")
      val q = rows(9)._2
      def search(ns: String) =
        assert(d.findSimilar(q, k = 5, namespace = ns, approx = true, index = idx).size == 5)
      def built: Int = d.builds(idx).get()
      search("one")
      assert(built == 1, "the first search derives the layout once")
      search("one")
      assert(d.searchBatch(Seq(q, rows(20)._2), k = 5, namespace = "one", approx = true,
        index = idx).forall(_.size == 5))
      assert(built == 1, "a repeat search and a batch derive nothing")
      search("two")
      assert(built == 2, "a second namespace derives its own layout")
      d.compact()
      search("one")
      search("one")
      assert(built == 3, "after compact() the next search derives exactly once")
      assert(ApproxIndexes.Names.filterNot(Set(idx, "ivf")).forall(d.builds(_).get() == 0),
        "no other index derived anything")
    }
  }

  test("the derived-layout hooks name only layouts the store would serve: None after compact and refreshAnnIndex until the next search") {
    val d = new DurableVectorStore(spark, tmp())
    val rows = spread8("k")
    d.loadFrame(frame(rows), "hooks")
    val derivedIdx = derivedCases.map(_.index)
    def searchAll(): Unit = derivedIdx.foreach(i =>
      d.findSimilar(rows(9)._2, k = 5, namespace = "hooks", approx = true, index = i))
    def named: Map[String, Boolean] =
      derivedIdx.map(i => i -> d.layoutDir(i, "hooks", 8).isDefined).toMap +
        ("pqRotation" -> d.pqRotation("hooks", 8).isDefined)
    searchAll()
    assert(named.values.forall(identity), s"after a search: $named")
    d.compact()
    assert(named.values.forall(!_), s"after compact(): $named")
    searchAll()
    assert(named.values.forall(identity), s"after the next search: $named")
    d.refreshAnnIndex("hooks", 8)
    assert(named.values.forall(!_), s"after refreshAnnIndex: $named")
    searchAll()
    assert(named.values.forall(identity), s"after the next search: $named")
  }

  test("durable ip search routes through the norm-augmented layout; deletes killed, delta served") {
    val d = new DurableVectorStore(spark, tmp())
    // UNNORMALIZED vectors (norm varies with i) — the case plain L2 cell
    // ranking cannot bound and the reference's space="ip" ctor serves
    val rows = (0 until 60).map { i =>
      val s = 0.5f + (i % 4) * 0.25f
      (s"i$i", Seq(s * math.cos(i * 0.37).toFloat,
        s * math.sin(i * 0.37).toFloat,
        s * math.cos(i * 0.11).toFloat, s * math.sin(i * 0.11).toFloat))
    }
    d.loadFrame(frame(rows), "ip")
    val q = rows(9)._2
    val first = d.findSimilar(q, k = 5, metric = "ip", namespace = "ip",
      approx = true)
    assert(d.annBuilds.get() == 1)
    // scoring contract: 1 − dot, ascending, and the scores equal the
    // exact path's for the same ids (the rerank is exact; only the
    // candidate policy is approximate)
    assert(first.map(_.score) == first.map(_.score).sorted)
    val exactByIds = d.findSimilar(q, k = 60, metric = "ip", namespace = "ip")
      .map(h => h.id -> h.score).toMap
    first.foreach(h =>
      assert(math.abs(h.score - exactByIds(h.id)) < 1e-6,
        s"approx score for ${h.id} disagrees with exact"))
    // post-layout mutations: delete a pre-build row, append a delta row
    // whose dot DOMINATES every indexed vector (2×q: dot = 2‖q‖², all
    // others ≤ 1.25·‖q‖·‖x‖ < 2‖q‖²) — served exactly from the tail
    assert(d.delete(Seq(first.head.id), "ip") == Seq(first.head.id))
    d.loadFrame(frame(Seq(("zip", q.map(_ * 2f)))), "ip")
    val hits = d.findSimilar(q, k = 5, metric = "ip", namespace = "ip",
      approx = true)
    assert(!hits.map(_.id).contains(first.head.id), "ip served a deleted row")
    assert(hits.head.id == "zip", s"delta-tail MIPS winner missing: $hits")
    assert(d.annBuilds.get() == 1,
      "sub-threshold mutations must not rebuild the mips layout")
    // spaces are keyed independently: a cosine search on the same
    // namespace builds its OWN raw-space layout
    d.findSimilar(q, k = 5, namespace = "ip", approx = true)
    assert(d.annBuilds.get() == 2,
      "raw-space search should not reuse the mips layout")
  }

  test("staleness election: a live peer claim defers the rebuild; a crashed peer's claim expires") {
    val root = tmp()
    val shared = tmp()
    val s = new DurableVectorStore(spark, root)
    spark.conf.set(s.AnnDirConf, shared)
    spark.conf.set(s.AnnStalenessCheckMsConf, "0")
    spark.conf.set(s.AnnBuildClaimTtlMsConf, "60000")
    try {
      val rows = (0 until 40).map(i =>
        (s"t$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
          (i % 5).toFloat)))
      s.loadFrame(frame(rows), "ttl")
      val q = rows(7)._2
      assert(s.findSimilar(q, k = 3, namespace = "ttl", approx = true)
        .head.id == "t7")
      assert(s.annBuilds.get() == 1)
      val (_, builtSeq) = s.annLayoutDir("ttl", 3).get
      // cross the staleness ratio: +50% fresh appends
      s.loadFrame(frame((0 until 20).map(i =>
        (s"x$i", Seq((0.1f * i), 1f - 0.05f * i, (i % 3).toFloat)))), "ttl")
      // a LIVE peer already claimed this rebuild (same epoch key —
      // adopted stamps agree across processes): this store must defer,
      // keep serving the old entry, and stay correct via the delta tail
      // the claim name derives the namespace token the way the store
      // does (PathToken: sanitized + content hash — collision-free)
      val marker = new java.io.File(
        s"${s.annSharedRootDir.get}/claims/rebuild_${graft.PathToken.token("ttl")}_d3_g0_s${builtSeq}_raw")
      marker.getParentFile.mkdirs()
      assert(marker.createNewFile())
      val hits = s.findSimilar(q, k = 50, namespace = "ttl", approx = true)
      assert(s.annBuilds.get() == 1,
        "loser rebuilt despite a live peer's claim")
      assert(hits.map(_.id).contains("x5"),
        "deferred entry lost the delta tail")
      // the peer crashes (claim ages past the TTL): the next crossing
      // rebuilds here
      assert(marker.setLastModified(System.currentTimeMillis() - 120000))
      s.findSimilar(q, k = 3, namespace = "ttl", approx = true)
      assert(s.annBuilds.get() == 2,
        "expired claim did not release the rebuild")
    } finally {
      spark.conf.unset(s.AnnDirConf)
      spark.conf.unset(s.AnnStalenessCheckMsConf)
      spark.conf.unset(s.AnnBuildClaimTtlMsConf)
    }
  }

  test("batched approx search equals Q sequential probes; deletes killed, delta served") {
    val d = new DurableVectorStore(spark, tmp())
    val rows = (0 until 60).map(i =>
      (s"q$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
        math.cos(i * 0.11).toFloat, math.sin(i * 0.11).toFloat)))
    d.loadFrame(frame(rows), "bat")
    val qs = Seq(rows(3)._2, rows(21)._2, rows(40)._2)
    val batch = d.findSimilarBatchApprox(qs, k = 5, namespace = "bat")
    assert(d.annBuilds.get() == 1)
    qs.indices.foreach { i =>
      val single = d.findSimilar(qs(i), k = 5, namespace = "bat",
        approx = true).map(h => (h.id, h.score))
      assert(batch(i).map(h => (h.id, h.score)) == single,
        s"durable batch diverged from single-query probe for query $i")
    }
    // post-build mutations: the delete dies in the live() join, the
    // delta duplicate is every query's candidate
    assert(d.delete(Seq("q3"), "bat") == Seq("q3"))
    d.loadFrame(frame(Seq(("zbat", qs.head))), "bat")
    val after = d.findSimilarBatchApprox(qs, k = 5, namespace = "bat")
    assert(!after.flatten.map(_.id).contains("q3"),
      "batched probe served a deleted row")
    assert(after.head.head.id == "zbat",
      s"delta duplicate missing from its query's batch entry: ${after.head}")
    assert(d.annBuilds.get() == 1,
      "sub-threshold mutations must not rebuild the layout")
    // empty namespace answers positional empties
    assert(d.findSimilarBatchApprox(qs, k = 5, namespace = "none") ==
      Seq(Seq.empty, Seq.empty, Seq.empty))
  }

  test("cross-process build election: a second store over one root adopts, exactly one build") {
    val root = tmp()
    val shared = tmp()
    val s1 = new DurableVectorStore(spark, root)
    spark.conf.set(s1.AnnDirConf, shared)
    try {
      val rows = (0 until 40).map(i =>
        (s"e$i", Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.37).toFloat,
          (i % 5).toFloat)))
      s1.loadFrame(frame(rows), "el")
      val q = rows(7)._2
      val h1 = s1.findSimilar(q, k = 3, namespace = "el", approx = true)
      assert(h1.head.id == "e7")
      assert(s1.annBuilds.get() == 1)
      // a SECOND serving process over the same store root: must ADOPT
      // the finished shared epoch, not pay a duplicate build
      val s2 = new DurableVectorStore(spark, root)
      val h2 = s2.findSimilar(q, k = 3, namespace = "el", approx = true)
      assert(h2.map(h => (h.id, h.score)) == h1.map(h => (h.id, h.score)),
        "adopted layout answered differently from the builder's")
      assert(s2.annBuilds.get() == 0,
        "second process duplicated the layout build")
      // mutations through the adopter stay exact: kill set + delta tail
      // anchor to the ADOPTED builtSeq
      assert(s2.delete(Seq("e7"), "el") == Seq("e7"))
      s2.loadFrame(frame(Seq(("zel", q))), "el")
      val h3 = s2.findSimilar(q, k = 3, namespace = "el", approx = true)
      assert(!h3.map(_.id).contains("e7"), "adopted layout served a deleted row")
      assert(h3.head.id == "zel")
      assert(s2.annBuilds.get() == 0,
        "sub-threshold mutations must not rebuild an adopted layout")
    } finally spark.conf.unset(s1.AnnDirConf)
  }

  test("durable exact search honors flat and json metadata filters; every index serves them") {
    val sp = spark
    import sp.implicits._
    val d = new graft.store.DurableVectorStore(sp, tmp())
    d.loadFrame(
      Seq(("a", Seq(1f, 0f), Map("pass" -> "true")),
          ("b", Seq(0.95f, 0.05f), Map("pass" -> "false")),
          ("c", Seq(0f, 1f), Map("pass" -> "true")))
        .toDF("id", "values", "metadata"),
      "fns")
    val flat = d.findSimilar(Seq(1f, 0f), k = 3, namespace = "fns",
      filter = Map("pass" -> "true"))
    assert(flat.map(_.id) == Seq("a", "c"))
    // the map-only frame derives metadataJson = {"k":"v"} (live parity),
    // so JSONPath filters address the same rows
    val viaJson = d.findSimilar(Seq(1f, 0f), k = 3, namespace = "fns",
      jsonFilter = Map("$.pass" -> "true"))
    assert(viaJson.map(_.id) == Seq("a", "c"))
    // r16: the refusal set is EMPTY — all six indexes serve the hybrid
    // query (candidate-time on ivf/imi/lsh, semi-join-before-CandN on
    // pq/bq, beam-filter + rescue on hnsw); at 3 rows every probe
    // either saturates or rescues to the same exact filtered top-k
    Seq("ivf", "pq", "bq", "imi", "hnsw", "lsh").foreach { idx =>
      val hits = d.findSimilar(Seq(1f, 0f), k = 3, namespace = "fns",
        approx = true, index = idx, filter = Map("pass" -> "true"))
      assert(hits.map(_.id) == Seq("a", "c"),
        s"filtered index '$idx' diverged from the exact filtered top-k")
    }
  }

  test("filtered IVF: starved-selectivity fallback serves the exact filtered top-k") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    // two well-separated clusters: 120 'common' rows near the origin,
    // 5 'rare' rows in a far tight cluster. The layout trains ≥16 cells
    // and probes 8, ranked by distance from the query — a near-origin
    // query probes near cells only, so the rare rows live in cells the
    // probe never reads: the filtered probe is STARVED (< k matches)
    // even though the namespace holds every matching row.
    val rows =
      (0 until 120).map { i =>
        (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
          (i % 5).toFloat / 10f, 1f), Map("grp" -> "common"))
      } ++ (0 until 5).map { i =>
        (s"r$i", Seq(100f + i, 100f, 100f, 1f), Map("grp" -> "rare"))
      }
    d.loadFrame(rows.toDF("id", "values", "metadata"), "starve")
    val q = Seq(0.5f, 0.3f, 0.2f, 1f)
    // build the layout (unfiltered probe)
    d.findSimilar(q, k = 5, namespace = "starve", approx = true, index = "ivf")
    // k=10 > the 5 matching rows: the probe cannot reach k, the fallback
    // must serve min(k, matching-live-rows) = 5 hits — identical to the
    // exact filtered scan, including rows in cells the probe never saw
    val filtered = d.findSimilar(q, k = 10, namespace = "starve",
      approx = true, index = "ivf", filter = Map("grp" -> "rare"))
    val exact = d.findSimilar(q, k = 10, namespace = "starve",
      filter = Map("grp" -> "rare"))
    assert(filtered.map(h => (h.id, h.score)) ==
      exact.map(h => (h.id, h.score)),
      "starved filtered probe must fall back to the exact filtered scan")
    assert(filtered.size == 5 && filtered.forall(_.id.startsWith("r")))
    // non-starved selectivity: common rows saturate the probed cells —
    // k hits, every one matching the predicate (candidate-time filter,
    // not a post-filtered geometry top-k)
    val common = d.findSimilar(q, k = 10, namespace = "starve",
      approx = true, index = "ivf", filter = Map("grp" -> "common"))
    assert(common.size == 10 && common.forall(_.id.startsWith("c")))
  }

  test("durable starvation cache: steady skips, cross-process commit re-enables the probe") {
    val sp = spark
    import sp.implicits._
    val root = tmp()
    // strict validation: list the commits/ markers on every cache hit
    spark.conf.set("spark.graft.durable.starvedCheckMs", "0")
    try {
      val a = new DurableVectorStore(spark, root)
      // the starved-selectivity fixture: matching rows live in cells the
      // near-origin probe never reads, and there are fewer than k of them
      val rows =
        (0 until 120).map { i =>
          (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
            (i % 5).toFloat / 10f, 1f), Map("grp" -> "common"))
        } ++ (0 until 5).map { i =>
          (s"r$i", Seq(100f + i, 100f, 100f, 1f), Map("grp" -> "rare"))
        }
      a.loadFrame(rows.toDF("id", "values", "metadata"), "sc")
      val q = Seq(0.5f, 0.3f, 0.2f, 1f)
      a.findSimilar(q, k = 5, namespace = "sc", approx = true, index = "ivf")
      val rescues0 = a.exactRescues.get()
      val skips0 = a.starvedProbeSkips.get()
      // proof: probe starves, rescue returns < k — the fact is recorded
      val r1 = a.findSimilar(q, k = 10, namespace = "sc", approx = true,
        index = "ivf", filter = Map("grp" -> "rare"))
      assert(r1.size == 5 && a.exactRescues.get() == rescues0 + 1)
      // steady state: the validated fact skips the probe (counted as a
      // skip, not another rescue) and serves the same exact answer
      val r2 = a.findSimilar(q, k = 10, namespace = "sc", approx = true,
        index = "ivf", filter = Map("grp" -> "rare"))
      assert(r2.map(h => (h.id, h.score)) == r1.map(h => (h.id, h.score)))
      assert(a.starvedProbeSkips.get() == skips0 + 1)
      assert(a.exactRescues.get() == rescues0 + 1)
      // writer B — a second store instance on the SAME root (another
      // process's view of the shared LSM) — commits a matching row;
      // its claim lands in the shared commits/ marker directory
      val b = new DurableVectorStore(spark, root)
      b.loadFrame(Seq(("rnew", Seq(0.55f, 0.3f, 0.2f, 1f),
        Map("grp" -> "rare"))).toDF("id", "values", "metadata"), "sc")
      // reader A's next filtered query revalidates, sees the moved
      // stamp, drops the fact, and probes again — the fresh row serves
      val skips1 = a.starvedProbeSkips.get()
      val r3 = a.findSimilar(q, k = 10, namespace = "sc", approx = true,
        index = "ivf", filter = Map("grp" -> "rare"))
      assert(a.starvedProbeSkips.get() == skips1,
        "a stale starvation fact must not serve after a cross-process commit")
      assert(r3.exists(_.id == "rnew"),
        "the cross-process matching row must be visible to the re-probe")
      assert(r3.size == 6)
    } finally spark.conf.unset("spark.graft.durable.starvedCheckMs")
  }

  test("starvation facts are k-aware and the filter key is injective; commits maintain the _MAX sidecar") {
    val sp = spark
    import sp.implicits._
    val root = tmp()
    spark.conf.set("spark.graft.durable.starvedCheckMs", "0")
    try {
      val d = new DurableVectorStore(spark, root)
      // three cohorts: common (saturates any probe), rare (5 rows far
      // from the probe cells — the starved fixture), and a cohort whose
      // metadata COLLIDED with the rare filter under the r18 key
      // encoding: Map("grp"->"rare&m:x=y") and Map("grp"->"rare","x"->"y")
      // both encoded to "m:grp=rare&m:x=y"
      val rows =
        (0 until 120).map { i =>
          (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
            (i % 5).toFloat / 10f, 1f),
            Map("grp" -> "rare", "x" -> "y"))
        } ++ (0 until 5).map { i =>
          (s"r$i", Seq(100f + i, 100f, 100f, 1f),
            Map("grp" -> "rare&m:x=y"))
        }
      d.loadFrame(rows.toDF("id", "values", "metadata"), "ka")
      val q = Seq(0.5f, 0.3f, 0.2f, 1f)
      d.findSimilar(q, k = 5, namespace = "ka", approx = true, index = "ivf")
      val rescues0 = d.exactRescues.get()
      val skips0 = d.starvedProbeSkips.get()
      // proof at k=10: 5 matching rows — fact (stamp, 5) recorded
      val r1 = d.findSimilar(q, k = 10, namespace = "ka", approx = true,
        index = "ivf", filter = Map("grp" -> "rare&m:x=y"))
      assert(r1.size == 5 && d.exactRescues.get() == rescues0 + 1)
      // k-aware (ADVICE r18): k=3 ≤ proven 5 — the fact must NOT
      // short-circuit (this probe is not starved by it); here the probe
      // happens to starve geometrically too, so the counted branch is
      // the RESCUE, never the skip
      val r1b = d.findSimilar(q, k = 3, namespace = "ka", approx = true,
        index = "ivf", filter = Map("grp" -> "rare&m:x=y"))
      assert(r1b.size == 3 &&
        r1b.map(h => (h.id, h.score)) == r1.take(3).map(h => (h.id, h.score)))
      assert(d.starvedProbeSkips.get() == skips0,
        "a k=3 query rode a fact proven to hold 5 matching rows")
      assert(d.exactRescues.get() == rescues0 + 2)
      // k=10 again: NOW the fact applies (10 > 5) and skips the probe
      val r2 = d.findSimilar(q, k = 10, namespace = "ka", approx = true,
        index = "ivf", filter = Map("grp" -> "rare&m:x=y"))
      assert(r2.map(h => (h.id, h.score)) == r1.map(h => (h.id, h.score)))
      assert(d.starvedProbeSkips.get() == skips0 + 1)
      // injectivity (ADVICE r18): the r18-colliding filter — 120
      // matching rows, fully saturating — must not ride the rare
      // filter's starvation fact into the exact-scan skip
      val skips1 = d.starvedProbeSkips.get()
      val r3 = d.findSimilar(q, k = 10, namespace = "ka", approx = true,
        index = "ivf", filter = Map("grp" -> "rare", "x" -> "y"))
      assert(r3.size == 10 && d.starvedProbeSkips.get() == skips1,
        "a saturating filter rode a colliding starvation key into the skip")
      // the _MAX sidecar (VERDICT r18 #4): every claim advanced it; it
      // must equal the listing's max so the O(1) validation is exact
      val fsPath = new org.apache.hadoop.fs.Path(s"$root/commits")
      val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val markers = fs.listStatus(fsPath)
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      val sidecar = {
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/commits/_MAX"))
        try {
          // read to EOF, not one read() — the store's own discipline
          val buf = new Array[Byte](32)
          var n = 0
          var r = in.read(buf, 0, buf.length)
          while (r > 0) {
            n += r
            r = if (n < buf.length) in.read(buf, n, buf.length - n) else 0
          }
          new String(buf, 0, n, "UTF-8").trim.toLong
        } finally in.close()
      }
      assert(markers.nonEmpty && sidecar == markers.max,
        s"commits/_MAX ($sidecar) diverged from the marker max (${markers.max})")
    } finally spark.conf.unset("spark.graft.durable.starvedCheckMs")
  }

  test("a lost sidecar advance cannot pin starvation facts forever: the reconcile heals it (ADVICE r19)") {
    val sp = spark
    import sp.implicits._
    val root = tmp()
    spark.conf.set("spark.graft.durable.starvedCheckMs", "0")
    spark.conf.set("spark.graft.durable.starvedReconcileMs", "1")
    try {
      val d = new DurableVectorStore(spark, root)
      val rows =
        (0 until 60).map { i =>
          (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f, 1f),
            Map("grp" -> "common"))
        } ++ (0 until 3).map { i =>
          (s"r$i", Seq(100f + i, 100f, 1f), Map("grp" -> "rare"))
        }
      d.loadFrame(rows.toDF("id", "values", "metadata"), "rk")
      val q = Seq(0.5f, 0.3f, 1f)
      d.findSimilar(q, k = 5, namespace = "rk", approx = true, index = "ivf")
      // prove the starvation fact (3 matching < k=10), then confirm the
      // skip serves while nothing moves
      d.findSimilar(q, k = 10, namespace = "rk", approx = true,
        index = "ivf", filter = Map("grp" -> "rare"))
      val skips0 = d.starvedProbeSkips.get()
      d.findSimilar(q, k = 10, namespace = "rk", approx = true,
        index = "ivf", filter = Map("grp" -> "rare"))
      assert(d.starvedProbeSkips.get() == skips0 + 1, "the fact should skip")
      // a CRASHED WRITER's footprint: a higher marker claimed, sidecar
      // NEVER advanced (the exact shape ADVICE r19 names — with a
      // sidecar-only read the fact revalidates against the stale stamp
      // forever and the probe never resumes)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val commits = new org.apache.hadoop.fs.Path(s"$root/commits")
      val maxNow = fs.listStatus(commits).iterator
        .map(st => scala.util.Try(st.getPath.getName.toLong).getOrElse(0L))
        .foldLeft(0L)(math.max)
      fs.create(new org.apache.hadoop.fs.Path(
        f"$root/commits/${maxNow + 1}%020d"), true).close()
      Thread.sleep(5) // past the 1 ms reconcile interval
      // the reconcile consults the listing: stamp moved → fact dies →
      // the probe branch resumes (no new skip; the geometric starvation
      // re-proves via the counted RESCUE instead)
      val rescues0 = d.exactRescues.get()
      val r = d.findSimilar(q, k = 10, namespace = "rk", approx = true,
        index = "ivf", filter = Map("grp" -> "rare"))
      assert(r.size == 3)
      assert(d.starvedProbeSkips.get() == skips0 + 1,
        "the stale fact must not skip after a cross-process claim the sidecar missed")
      assert(d.exactRescues.get() == rescues0 + 1)
      // and the reconcile HEALED the sidecar forward for every process
      val healed = {
        val in = fs.open(new org.apache.hadoop.fs.Path(s"$root/commits/_MAX"))
        try {
          val buf = new Array[Byte](32)
          var n = 0
          var rd = in.read(buf, 0, buf.length)
          while (rd > 0) {
            n += rd
            rd = if (n < buf.length) in.read(buf, n, buf.length - n) else 0
          }
          new String(buf, 0, n, "UTF-8").trim.toLong
        } finally in.close()
      }
      assert(healed >= maxNow + 1,
        s"reconcile must heal commits/_MAX forward (got $healed, want >= ${maxNow + 1})")
    } finally {
      spark.conf.unset("spark.graft.durable.starvedCheckMs")
      spark.conf.unset("spark.graft.durable.starvedReconcileMs")
    }
  }

  test("batch filtered paths share the starvation cache: skip, then re-probe after a commit") {
    val sp = spark
    import sp.implicits._
    spark.conf.set("spark.graft.durable.starvedCheckMs", "0")
    try {
      val d = new DurableVectorStore(spark, tmp())
      val rows =
        (0 until 120).map { i =>
          (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
            (i % 5).toFloat / 10f, 1f), Map("grp" -> "common"))
        } ++ (0 until 5).map { i =>
          (s"r$i", Seq(100f + i, 100f, 100f, 1f), Map("grp" -> "rare"))
        }
      d.loadFrame(rows.toDF("id", "values", "metadata"), "sb")
      val qs = Seq(Seq(0.5f, 0.3f, 0.2f, 1f), Seq(0.1f, 0.6f, 0.4f, 1f))
      d.findSimilarBatchApprox(qs, k = 5, namespace = "sb") // layout
      val rescues0 = d.exactRescues.get()
      val skips0 = d.starvedProbeSkips.get()
      // proof through the BATCH path: both queries starve, rescue < k
      val r1 = d.findSimilarBatchApprox(qs, k = 10, namespace = "sb",
        filter = Map("grp" -> "rare"))
      assert(r1.forall(_.size == 5) && d.exactRescues.get() == rescues0 + 2)
      // steady batch: the whole batch skips the probe (counted per query)
      val r2 = d.findSimilarBatchApprox(qs, k = 10, namespace = "sb",
        filter = Map("grp" -> "rare"))
      assert(r2.map(_.map(h => (h.id, h.score))) ==
        r1.map(_.map(h => (h.id, h.score))))
      assert(d.starvedProbeSkips.get() == skips0 + 2)
      assert(d.exactRescues.get() == rescues0 + 2)
      // the pq batch mount consults the same fact
      val r3 = d.searchBatch(qs, k = 10, namespace = "sb",
        filter = Map("grp" -> "rare"), approx = true, index = "pq")
      assert(d.starvedProbeSkips.get() == skips0 + 4)
      assert(r3.map(_.map(_.id)) == r1.map(_.map(_.id)))
      // any commit moves the stamp: the next batch probes again
      d.loadFrame(Seq(("rnew", Seq(0.52f, 0.3f, 0.2f, 1f),
        Map("grp" -> "rare"))).toDF("id", "values", "metadata"), "sb")
      val skips1 = d.starvedProbeSkips.get()
      val r4 = d.findSimilarBatchApprox(qs, k = 10, namespace = "sb",
        filter = Map("grp" -> "rare"))
      assert(d.starvedProbeSkips.get() == skips1,
        "a stale batch fact must not serve after a commit")
      assert(r4.forall(h => h.exists(_.id == "rnew") && h.size == 6))
      // single and batch searches share one fact: the single-query form
      // skips on the fact the batch just re-proved (6 matching rows)...
      val rescues1 = d.exactRescues.get()
      val skips2 = d.starvedProbeSkips.get()
      val s1 = d.findSimilar(qs.head, k = 10, namespace = "sb",
        approx = true, index = "ivf", filter = Map("grp" -> "rare"))
      assert(d.starvedProbeSkips.get() == skips2 + 1 &&
        d.exactRescues.get() == rescues1,
        "a single query did not use the fact a batch proved")
      assert(s1.map(h => (h.id, h.score)) == r4.head.map(h => (h.id, h.score)))
      // ...and after a commit, a fact a single-query rescue proves
      // (7 matching rows) makes the next batch skip its probe
      d.loadFrame(Seq(("rnew2", Seq(0.51f, 0.3f, 0.2f, 1f),
        Map("grp" -> "rare"))).toDF("id", "values", "metadata"), "sb")
      val s2 = d.findSimilar(qs.head, k = 10, namespace = "sb",
        approx = true, index = "ivf", filter = Map("grp" -> "rare"))
      assert(s2.size == 7 && d.exactRescues.get() == rescues1 + 1 &&
        d.starvedProbeSkips.get() == skips2 + 1)
      val r5 = d.findSimilarBatchApprox(qs, k = 10, namespace = "sb",
        filter = Map("grp" -> "rare"))
      assert(d.starvedProbeSkips.get() == skips2 + 3 &&
        d.exactRescues.get() == rescues1 + 1,
        "a batch did not use the fact a single query proved")
      assert(r5.head.map(h => (h.id, h.score)) == s2.map(h => (h.id, h.score)))
    } finally spark.conf.unset("spark.graft.durable.starvedCheckMs")
  }

  test("filtered LSH: candidate-time filter at the record join, starved fallback exact") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    val rows =
      (0 until 120).map { i =>
        (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
          (i % 5).toFloat / 10f, 1f), Map("grp" -> "common"))
      } ++ (0 until 5).map { i =>
        (s"r$i", Seq(100f + i, 100f, 100f, 1f), Map("grp" -> "rare"))
      }
    d.loadFrame(rows.toDF("id", "values", "metadata"), "lstarve")
    val q = Seq(0.5f, 0.3f, 0.2f, 1f)
    d.findSimilar(q, k = 5, namespace = "lstarve", approx = true,
      index = "lsh") // build records + signatures
    // 5 matching rows < k=10: the filtered probe must fall back to the
    // exact filtered scan — identical hits, wherever the buckets put them
    val filtered = d.findSimilar(q, k = 10, namespace = "lstarve",
      approx = true, index = "lsh", filter = Map("grp" -> "rare"))
    val exact = d.findSimilar(q, k = 10, namespace = "lstarve",
      filter = Map("grp" -> "rare"))
    assert(filtered.map(h => (h.id, h.score)) ==
      exact.map(h => (h.id, h.score)))
    assert(filtered.size == 5 && filtered.forall(_.id.startsWith("r")))
    // non-starved: every hit matches the predicate
    val common = d.findSimilar(q, k = 10, namespace = "lstarve",
      approx = true, index = "lsh", filter = Map("grp" -> "common"))
    assert(common.forall(_.id.startsWith("c")))
    // batch form: same discipline, positional parity with the singles
    val qs = Seq(q, Seq(0.1f, 0.6f, 0.4f, 1f))
    val batch = d.searchBatch(qs, k = 10, namespace = "lstarve",
      filter = Map("grp" -> "rare"), approx = true, index = "lsh")
    qs.indices.foreach { i =>
      val single = d.findSimilar(qs(i), k = 10, namespace = "lstarve",
        approx = true, index = "lsh", filter = Map("grp" -> "rare"))
      assert(batch(i).map(h => (h.id, h.score)) ==
        single.map(h => (h.id, h.score)),
        s"filtered LSH batch query $i diverged from the single search")
    }
  }

  test("filtered batch IVF: per-query starved fallback, non-starved queries stay on the probe") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    // same two-cluster shape as the single-query spec: rare rows live in
    // cells a near-origin query never probes
    val rows =
      (0 until 120).map { i =>
        (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
          (i % 5).toFloat / 10f, 1f), Map("grp" -> "common"))
      } ++ (0 until 5).map { i =>
        (s"r$i", Seq(100f + i, 100f, 100f, 1f), Map("grp" -> "rare"))
      }
    d.loadFrame(rows.toDF("id", "values", "metadata"), "bstarve")
    val qs = Seq(Seq(0.5f, 0.3f, 0.2f, 1f), Seq(0.1f, 0.6f, 0.4f, 1f))
    d.findSimilarBatchApprox(qs, k = 5, namespace = "bstarve") // build
    // rare filter: both queries starve (5 matching rows < k=10) — each
    // must be re-answered by the exact filtered scan
    val rare = d.findSimilarBatchApprox(qs, k = 10, namespace = "bstarve",
      filter = Map("grp" -> "rare"))
    val exact = d.findSimilarBatch(qs, k = 10, namespace = "bstarve",
      filter = Map("grp" -> "rare"))
    qs.indices.foreach { i =>
      assert(rare(i).map(h => (h.id, h.score)) ==
        exact(i).map(h => (h.id, h.score)),
        s"starved batch query $i must match the exact filtered scan")
      assert(rare(i).size == 5 && rare(i).forall(_.id.startsWith("r")))
    }
    // common filter: saturated probes — k hits each, all matching, and
    // positional parity with the single filtered searches
    val common = d.findSimilarBatchApprox(qs, k = 10, namespace = "bstarve",
      filter = Map("grp" -> "common"))
    qs.indices.foreach { i =>
      assert(common(i).size == 10 && common(i).forall(_.id.startsWith("c")))
      val single = d.findSimilar(qs(i), k = 10, namespace = "bstarve",
        approx = true, index = "ivf", filter = Map("grp" -> "common"))
      assert(common(i).map(h => (h.id, h.score)) ==
        single.map(h => (h.id, h.score)),
        s"batch query $i diverged from the single filtered search")
    }
  }

  // r16: the four remaining mounts' hybrid form — starved fallback,
  // candidate-time (never post-filtered-below-k) saturation, and batch
  // parity, pinned uniformly. Same two-cluster corpus as the IVF/LSH
  // pins: rare rows live where a near-origin probe never looks (far
  // cells / far codes / an unreachable beam region), so the rare filter
  // STARVES every policy and the fallback must serve min(k, matching).
  for (idx <- Seq("pq", "bq", "imi", "hnsw"))
    test(s"filtered $idx: starved fallback exact, saturated candidate-time, batch parity") {
      val sp = spark
      import sp.implicits._
      val d = new DurableVectorStore(spark, tmp())
      val rows =
        (0 until 120).map { i =>
          (s"c$i", Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
            (i % 5).toFloat / 10f, 1f), Map("grp" -> "common"))
        } ++ (0 until 5).map { i =>
          (s"r$i", Seq(100f + i, 100f, 100f, 1f), Map("grp" -> "rare"))
        }
      val ns = s"${idx}starve"
      d.loadFrame(rows.toDF("id", "values", "metadata"), ns)
      val q = Seq(0.5f, 0.3f, 0.2f, 1f)
      // build records + the mount's derived structures (unfiltered)
      d.findSimilar(q, k = 5, namespace = ns, approx = true, index = idx)
      // 5 matching rows < k=10: starved — the fallback serves the exact
      // filtered top-k, including rows the probe policy cannot reach
      val filtered = d.findSimilar(q, k = 10, namespace = ns,
        approx = true, index = idx, filter = Map("grp" -> "rare"))
      val exact = d.findSimilar(q, k = 10, namespace = ns,
        filter = Map("grp" -> "rare"))
      assert(filtered.map(h => (h.id, h.score)) ==
        exact.map(h => (h.id, h.score)),
        s"starved filtered $idx probe must fall back to the exact filtered scan")
      assert(filtered.size == 5 && filtered.forall(_.id.startsWith("r")))
      // saturated selectivity: k hits, every one matching the predicate
      // (the candidate cut saw matching rows only — pq/bq rank filtered
      // codes, imi filters inside the scan, hnsw filters the frontier)
      val common = d.findSimilar(q, k = 10, namespace = ns,
        approx = true, index = idx, filter = Map("grp" -> "common"))
      assert(common.size == 10 && common.forall(_.id.startsWith("c")),
        s"saturated filtered $idx probe returned a non-matching or short top-k")
      // batch facade: positional parity with the singles on both the
      // starved and the saturated branch
      val qs = Seq(q, Seq(0.1f, 0.6f, 0.4f, 1f))
      def batchOf(f: Map[String, String]): Seq[Seq[graft.model.SearchHit]] =
        idx match {
          case "pq"   => d.searchBatch(qs, k = 10, namespace = ns, filter = f, approx = true, index = "pq")
          case "bq"   => d.searchBatch(qs, k = 10, namespace = ns, filter = f, approx = true, index = "bq")
          case "imi"  => d.searchBatch(qs, k = 10, namespace = ns, filter = f, approx = true, index = "imi")
          case "hnsw" => d.searchBatch(qs, k = 10, namespace = ns, filter = f, approx = true, index = "hnsw")
        }
      for (f <- Seq(Map("grp" -> "rare"), Map("grp" -> "common"))) {
        val batch = batchOf(f)
        qs.indices.foreach { i =>
          val single = d.findSimilar(qs(i), k = 10, namespace = ns,
            approx = true, index = idx, filter = f)
          assert(batch(i).map(h => (h.id, h.score)) ==
            single.map(h => (h.id, h.score)),
            s"filtered $idx batch query $i diverged from the single search (filter $f)")
        }
      }
    }

  test("filtered hnsw: the predicate-aware beam answers a selective filter without the rescue") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    // 290 common rows + 10 rare rows SPREAD across the space (so the
    // traversal must walk past common nodes to collect them); a plain
    // frontier-filter of a 96-wide beam over 300 rows at 1/30
    // selectivity would keep ~3 matching rows — the predicate-aware
    // traversal must return ALL 10, ranked, off the graph itself
    val rows =
      (0 until 290).map { i =>
        (s"c$i", Seq((i % 17).toFloat / 17f, (i % 13).toFloat / 13f,
          (i % 7).toFloat / 7f, 1f), Map("grp" -> "common"))
      } ++ (0 until 10).map { i =>
        (s"r$i", Seq((i * 29 % 17).toFloat / 17f + 0.03f,
          (i * 31 % 13).toFloat / 13f, (i * 37 % 7).toFloat / 7f, 1f),
          Map("grp" -> "rare"))
      }
    d.loadFrame(rows.toDF("id", "values", "metadata"), "acorn")
    val q = Seq(0.4f, 0.5f, 0.6f, 1f)
    d.findSimilar(q, k = 5, namespace = "acorn", approx = true,
      index = "hnsw") // build records + graphs
    val hits = d.gradedSearch("hnsw", batch = false, Seq(q), 10, "cosine", "acorn",
      None, Map("grp" -> "rare")).head
    val exact = d.findSimilar(q, k = 10, namespace = "acorn",
      filter = Map("grp" -> "rare"))
    assert(hits.map(h => (h.id, h.score)) == exact.map(h => (h.id, h.score)),
      "predicate-aware beam must recover the full filtered top-k")
    assert(hits.size == 10 && hits.forall(_.id.startsWith("r")))
    // the MECHANISM pin: the persisted beam itself holds every matching
    // row — k hits came off the graph, not the starved rescue
    val aux = d.layoutDir("hnsw", "acorn", 4).get
    val beam = spark.read.parquet(s"$aux/cands")
      .collect().map(_.getString(0)).toSet
    assert(beam.count(_.startsWith("r")) == 10,
      s"the beam should carry all 10 matching rows, got $beam")
  }

  test("as-of indexed search: both horizons bound at the snapshot; young layouts fall back exact") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    val rows = (0 until 60).map { i =>
      (s"v$i", Seq((i % 7).toFloat / 7f, (i % 5).toFloat / 5f,
        (i % 3).toFloat / 3f, 1f), Map("par" -> (i % 2).toString))
    }
    d.loadFrame(rows.toDF("id", "values", "metadata"), "ao")
    val q = Seq(0.9f, 0.8f, 0.65f, 1f)
    d.findSimilar(q, k = 5, namespace = "ao", approx = true) // build layout
    val h = d.currentSeq()
    // wave 2, all post-horizon: kill the snapshot's top hit, append an
    // exact-match vector
    val top = d.findSimilarAsOf(q, h, k = 1, namespace = "ao").head.id
    assert(d.delete(Seq(top), "ao") == Seq(top))
    d.loadFrame(Seq(("zz", q)).toDF("id", "values"), "ao")
    // the as-of indexed read serves the snapshot: the deleted top hit is
    // still first (its cell is the nearest cell, so the probe sees it),
    // the post-horizon append is invisible
    val asOfIdx = d.findSimilarAsOf(q, h, k = 5, namespace = "ao",
      approx = true)
    assert(asOfIdx.head.id == top, "wave-2 delete leaked into the snapshot")
    assert(!asOfIdx.map(_.id).contains("zz"),
      "wave-2 append leaked into the snapshot")
    // the CURRENT indexed read sees the opposite world
    val now = d.findSimilar(q, k = 5, namespace = "ao", approx = true)
    assert(now.head.id == "zz" && !now.map(_.id).contains(top))
    // the batched as-of form serves the same snapshot positionally
    val bat = d.findSimilarBatchAsOf(Seq(q), h, k = 5, namespace = "ao",
      approx = true)
    assert(bat.head.map(x => (x.id, x.score)) ==
      asOfIdx.map(x => (x.id, x.score)),
      "batched as-of read diverged from the single-query snapshot")
    // metadata filters compose with the snapshot: a saturated filtered
    // as-of probe returns k rows that ALL match the predicate and ALL
    // belong to the snapshot (the post-horizon append never appears) —
    // probe recall within the snapshot is the documented IVF slice, so
    // set equality with the exact scan is NOT the contract here; the
    // starved case (< k matching) rescues to the exact filtered as-of
    // scan, asserted by requesting more hits than one parity holds
    val fIdx = d.findSimilarAsOf(q, h, k = 5, namespace = "ao",
      approx = true, filter = Map("par" -> "0"))
    assert(fIdx.size == 5 && fIdx.forall(_.metadata("par") == "0"))
    assert(!fIdx.map(_.id).contains("zz"),
      "post-horizon append leaked into the filtered snapshot read")
    // starved: only ONE snapshot row has par never used — use a filter
    // matching nothing to exercise the rescue boundary (0 hits, not an
    // error, and certainly not unfiltered rows)
    val fNone = d.findSimilarAsOf(q, h, k = 5, namespace = "ao",
      approx = true, filter = Map("par" -> "9"))
    assert(fNone.isEmpty,
      "a filter matching nothing must return empty, not post-filtered rows")
    // young layout: a second store whose only layout postdates the
    // horizon must answer the snapshot from the exact as-of scan —
    // identical to the exact form, never a post-horizon candidate set
    val d2 = new DurableVectorStore(spark, tmp())
    d2.loadFrame(rows.take(30).toDF("id", "values", "metadata"), "yo")
    val h2 = d2.currentSeq()
    d2.loadFrame(rows.drop(30).toDF("id", "values", "metadata"), "yo")
    d2.findSimilar(q, k = 5, namespace = "yo", approx = true) // builtSeq > h2
    val viaIdx = d2.findSimilarAsOf(q, h2, k = 5, namespace = "yo",
      approx = true)
    val viaExact = d2.findSimilarAsOf(q, h2, k = 5, namespace = "yo")
    assert(viaIdx.map(x => (x.id, x.score)) ==
      viaExact.map(x => (x.id, x.score)),
      "a layout younger than the snapshot must fall back to the exact as-of scan")
  }

  test("as-of PQ: the code table serves the snapshot; young codes fall back exact; other mounts refuse") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    val rows = (0 until 60).map { i =>
      (s"v$i", Seq((i % 7).toFloat / 7f, (i % 5).toFloat / 5f,
        (i % 3).toFloat / 3f, 1f))
    }
    d.loadFrame(rows.toDF("id", "values"), "pao")
    val q = Seq(0.9f, 0.8f, 0.65f, 1f)
    // build records + codes pre-horizon
    d.findSimilar(q, k = 5, namespace = "pao", approx = true, index = "pq")
    val h = d.currentSeq()
    // post-horizon: kill the snapshot's top hit, append an exact match
    val top = d.findSimilarAsOf(q, h, k = 1, namespace = "pao").head.id
    assert(d.delete(Seq(top), "pao") == Seq(top))
    d.loadFrame(Seq(("zz", q)).toDF("id", "values"), "pao")
    // the as-of PQ read serves the snapshot: the dead top hit first
    // (CandN ≫ 5 keeps it in the cut), the append invisible
    val asOfPq = d.findSimilarAsOf(q, h, k = 5, namespace = "pao",
      approx = true, index = "pq")
    assert(asOfPq.head.id == top, "wave-2 delete leaked into the pq snapshot")
    assert(!asOfPq.map(_.id).contains("zz"),
      "wave-2 append leaked into the pq snapshot")
    // agreement with the ivf as-of form at this scale (same candidates
    // survive both policies on 60 rows: probes cover the cells, CandN
    // covers the cut)
    val asOfIvf = d.findSimilarAsOf(q, h, k = 5, namespace = "pao",
      approx = true)
    assert(asOfPq.map(x => (x.id, x.score)) ==
      asOfIvf.map(x => (x.id, x.score)))
    // the CURRENT pq read sees the opposite world
    val now = d.findSimilar(q, k = 5, namespace = "pao", approx = true,
      index = "pq")
    assert(now.head.id == "zz" && !now.map(_.id).contains(top))
    // EVERY derived mount serves the snapshot (r17 closes the matrix):
    // same structural fact — codes/grids/graphs/signatures derive from
    // the pre-horizon layout, only the kill/delta horizons move
    for (idx <- Seq("bq", "imi", "hnsw", "lsh")) {
      val hits = d.findSimilarAsOf(q, h, k = 5, namespace = "pao",
        approx = true, index = idx)
      assert(hits.head.id == top,
        s"$idx: wave-2 delete leaked into the snapshot")
      assert(!hits.map(_.id).contains("zz"),
        s"$idx: wave-2 append leaked into the snapshot")
    }
    // ... and so does every BATCH form, positionally equal to the
    // singles (the same horizon parameters on the same one-sweep batch
    // probes — the q133 single/batch consistency convention)
    for (idx <- Seq("ivf", "pq", "bq", "imi", "hnsw", "lsh")) {
      val b = d.findSimilarBatchAsOf(Seq(q), h, k = 5, namespace = "pao",
        approx = true, index = idx)
      val single = d.findSimilarAsOf(q, h, k = 5, namespace = "pao",
        approx = true, index = idx)
      assert(b.head.map(x => (x.id, x.score)) ==
        single.map(x => (x.id, x.score)),
        s"$idx batch as-of diverged from the single as-of search")
    }
    // young codes: a store whose only layout (and codes) postdate the
    // horizon answers from the exact as-of scan
    val d2 = new DurableVectorStore(spark, tmp())
    d2.loadFrame(rows.take(30).toDF("id", "values"), "ypo")
    val h2 = d2.currentSeq()
    d2.loadFrame(rows.drop(30).toDF("id", "values"), "ypo")
    d2.findSimilar(q, k = 5, namespace = "ypo", approx = true, index = "pq")
    val viaPq = d2.findSimilarAsOf(q, h2, k = 5, namespace = "ypo",
      approx = true, index = "pq")
    val viaExact = d2.findSimilarAsOf(q, h2, k = 5, namespace = "ypo")
    assert(viaPq.map(x => (x.id, x.score)) ==
      viaExact.map(x => (x.id, x.score)),
      "codes younger than the snapshot must fall back to the exact as-of scan")
    // an emptied namespace: every row deleted after the stamp, before any
    // layout was built. No layout can be built over an empty live set,
    // so on every index the as-of reads (single and batch) answer from
    // the exact as-of scan and the live read answers empty — neither
    // counted as a rescue
    val d3 = new DurableVectorStore(spark, tmp())
    d3.loadFrame(rows.take(20).toDF("id", "values"), "emp")
    val h3 = d3.currentSeq()
    assert(d3.delete(rows.take(20).map(_._1), "emp").size == 20)
    val qs3 = Seq(q, rows.head._2)
    val exact3 = d3.findSimilarAsOf(q, h3, k = 5, namespace = "emp")
    val exactBatch3 = d3.findSimilarBatchAsOf(qs3, h3, k = 5,
      namespace = "emp")
    assert(exact3.size == 5 && exactBatch3.forall(_.size == 5))
    for (idx <- Seq("ivf", "pq", "bq", "imi", "hnsw", "lsh")) {
      val single = d3.findSimilarAsOf(q, h3, k = 5, namespace = "emp",
        approx = true, index = idx)
      assert(single.map(x => (x.id, x.score)) ==
        exact3.map(x => (x.id, x.score)),
        s"$idx: the emptied namespace's as-of read diverged from the exact as-of scan")
      val batch = d3.findSimilarBatchAsOf(qs3, h3, k = 5, namespace = "emp",
        approx = true, index = idx)
      assert(batch.map(_.map(x => (x.id, x.score))) ==
        exactBatch3.map(_.map(x => (x.id, x.score))),
        s"$idx: the emptied namespace's batch as-of read diverged from the exact as-of batch")
      assert(d3.findSimilar(q, k = 5, namespace = "emp", approx = true,
        index = idx).isEmpty, s"$idx: the emptied namespace's live read is not empty")
    }
    assert(d3.exactRescues.get() == 0)
  }

  test("filtered batch as-of: candidate-time filter at the snapshot, starved rescue serves the as-of matching set") {
    val sp = spark
    import sp.implicits._
    val d = new DurableVectorStore(spark, tmp())
    // 60 common rows near the origin, 4 'rare' rows in a far cluster —
    // the q164 starved-cluster shape at a snapshot
    val rows = (0 until 60).map { i =>
      (s"c$i", Seq((i % 7).toFloat / 7f, (i % 5).toFloat / 5f,
        (i % 3).toFloat / 3f, 1f), Map("grp" -> "common"))
    } ++ (0 until 4).map { i =>
      (s"r$i", Seq(40f + i, 40f, 40f, 40f), Map("grp" -> "rare"))
    }
    d.loadFrame(rows.toDF("id", "values", "metadata"), "fao")
    val qNear = Seq(0.6f, 0.5f, 0.4f, 1f)
    val qFar = Seq(41f, 40f, 40f, 40f)
    d.findSimilar(qNear, k = 5, namespace = "fao", approx = true) // layout
    val h = d.currentSeq()
    // wave 2, all post-horizon: two rare rows die, a new rare row arrives
    assert(d.delete(Seq("r0", "r1"), "fao") == Seq("r0", "r1"))
    d.loadFrame(Seq(("zr", Seq(41f, 41f, 41f, 41f), Map("grp" -> "rare")))
      .toDF("id", "values", "metadata"), "fao")
    // STARVED at the snapshot: only 4 rare rows existed at h (< k=10) —
    // the per-query rescue must answer from the exact FILTERED AS-OF
    // scan: all four as-of rare rows (the post-horizon deletes still
    // visible), the post-horizon append invisible
    val r0 = d.exactRescues.get()
    val bat = d.findSimilarBatchAsOf(Seq(qNear, qFar), h, k = 10,
      namespace = "fao", approx = true, filter = Map("grp" -> "rare"))
    assert(d.exactRescues.get() > r0, "the starved rescue should have fired")
    bat.foreach { hits =>
      assert(hits.map(_.id).sorted == Seq("r0", "r1", "r2", "r3"),
        s"filtered as-of batch must serve the as-of matching set, got ${hits.map(_.id)}")
    }
    // positional parity with the filtered as-of singles
    Seq(qNear, qFar).zipWithIndex.foreach { case (q, i) =>
      val single = d.findSimilarAsOf(q, h, k = 10, namespace = "fao",
        approx = true, filter = Map("grp" -> "rare"))
      assert(bat(i).map(x => (x.id, x.score)) ==
        single.map(x => (x.id, x.score)),
        s"filtered as-of batch result $i diverged from the single form")
    }
    // SATURATED at the snapshot: k=2 from inside the rare cluster — the
    // probed cell holds ≥ 2 matching rows, so the probe serves without
    // the rescue, and the result is still snapshot-bounded
    val r1 = d.exactRescues.get()
    val sat = d.findSimilarBatchAsOf(Seq(qFar), h, k = 2,
      namespace = "fao", approx = true, filter = Map("grp" -> "rare"))
    assert(d.exactRescues.get() == r1,
      "a saturated filtered as-of probe must not rescue")
    assert(sat.head.size == 2 && sat.head.forall(x =>
      x.id.startsWith("r") && x.id != "zr"))
    // the CURRENT filtered batch sees the opposite world
    val now = d.findSimilarBatchApprox(Seq(qFar), k = 10,
      namespace = "fao", filter = Map("grp" -> "rare"))
    assert(now.head.map(_.id).sorted == Seq("r2", "r3", "zr"))
    // filtered as-of composes on EVERY derived mount (r17 — the router
    // threads the predicate through the shared as-of driver): 4 matching
    // rows < k=10 starves each probe, and the counted rescue serves the
    // exact FILTERED as-of set — post-horizon deletes visible, the
    // post-horizon rare append invisible. The derived structures build
    // lazily here (post-horizon) from the PRE-horizon layout, which is
    // exactly why they remain snapshot-safe.
    for (idx <- Seq("pq", "bq", "imi", "hnsw", "lsh")) {
      val f = d.findSimilarAsOf(qNear, h, k = 10, namespace = "fao",
        approx = true, index = idx, filter = Map("grp" -> "rare"))
      assert(f.map(_.id).sorted == Seq("r0", "r1", "r2", "r3"),
        s"$idx filtered as-of must serve the as-of matching set, got ${f.map(_.id)}")
    }
  }

  test("concurrent compact: the second claimant fails loudly, recovery re-runs the fold") {
    val d = new DurableVectorStore(spark, tmp())
    d.loadFrame(frame(vecs), "cc")
    assert(d.delete(Seq("v1", "v2"), "cc").sorted == Seq("v1", "v2"))
    // simulate a racing (or crashed) fold holding the claim on the
    // target generation: compact() must refuse loudly, not interleave
    val claim = new java.io.File(d.path + "/compact_claims/1")
    claim.getParentFile.mkdirs()
    assert(claim.createNewFile())
    val ex = intercept[IllegalStateException] { d.compact() }
    assert(ex.getMessage.contains("concurrent compact"))
    // the refused fold changed nothing: live set and read path intact
    assert(d.totalCount() == 28)
    // recovery is the documented step: delete the claim, re-run
    assert(claim.delete())
    assert(d.compact() == 28)
    assert(d.totalCount() == 28)
    // two RACING folds: at most one wins per target generation; a loser
    // surfaces as the guard's IllegalStateException (never corruption),
    // and the live set is unchanged regardless of interleaving
    d.delete(Seq("v3"), "cc")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence(List.fill(2)(
        Future(scala.util.Try(d.compact())))), 120.seconds)
    assert(results.exists(_.isSuccess))
    results.filter(_.isFailure).foreach { f =>
      assert(f.failed.get.isInstanceOf[IllegalStateException])
    }
    assert(d.totalCount() == 27)
  }
}
