package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.store.VectorStore

/** Mirrors the reference's storage-engine and query-processor suites
  * (SURVEY §5; fixtures from FIXTURES.md §A):
  * tests/test_storage_engine_in_memory.py + tests/test_query_processor.py.
  */
class VectorStoreSpec extends AnyFunSuite {

  private def spark = TestSpark.spark
  private def newStore = new VectorStore(spark)

  // crudTriple fixture (test_storage_engine_in_memory.py:17-20)
  private val crud = Seq(
    (Seq(1f, 2f, 3f), Map("type" -> "a", "category" -> "x")),
    (Seq(4f, 5f, 6f), Map("type" -> "b", "category" -> "x")),
    (Seq(7f, 8f, 9f), Map("type" -> "c", "category" -> "y")))

  test("insert + read roundtrip preserves values and metadata") {
    val s = newStore
    val id = s.insert(Seq(1.5f, -2.5f, 3f), Map("label" -> "A"), "ns1")
    val got = s.read(id, "ns1")
    assert(got.isDefined)
    assert(got.get.values.toSeq == Seq(1.5f, -2.5f, 3f))
    assert(got.get.metadata == Map("label" -> "A"))
    assert(got.get.namespace == "ns1")
  }

  test("read missing id or namespace returns None (S1)") {
    val s = newStore
    s.insert(Seq(1f, 2f), Map.empty, "ns1")
    assert(s.read("nope", "ns1").isEmpty)
    assert(s.read("nope", "no_ns").isEmpty)
  }

  test("batch read is positional and order-preserving with misses (S2)") {
    val s = newStore
    val ids = s.upsertMany(crud, "ns1")
    val got = s.readBatch(Seq(ids(2), "missing", ids(0), ids(2)), "ns1")
    assert(got.length == 4)
    assert(got(0).get.values.toSeq == Seq(7f, 8f, 9f))
    assert(got(1).isEmpty)
    assert(got(2).get.values.toSeq == Seq(1f, 2f, 3f))
    assert(got(3).get.id == ids(2))
  }

  test("upsert_many is insert-many: new server-side ids every call (W2)") {
    val s = newStore
    val first = s.upsertMany(crud, "ns1")
    val second = s.upsertMany(crud, "ns1")
    assert(first.toSet.intersect(second.toSet).isEmpty)
    assert(s.totalCount() == 6)
  }

  test("delete reports only ids actually present (W3)") {
    val s = newStore
    val ids = s.upsertMany(crud, "ns1")
    val deleted = s.delete(Seq(ids(0), "ghost", ids(1)), "ns1")
    assert(deleted.toSet == Set(ids(0), ids(1)))
    assert(s.totalCount() == 1)
    assert(s.read(ids(0), "ns1").isEmpty)
  }

  test("namespace auto-GC when last vector deleted (W6, test :99-106)") {
    val s = newStore
    val id = s.insert(Seq(1f), Map.empty, "fleeting")
    s.insert(Seq(2f), Map.empty, "stable")
    assert(s.listNamespaces() == Seq("fleeting", "stable"))
    s.delete(Seq(id), "fleeting")
    assert(s.listNamespaces() == Seq("stable"))
  }

  test("deleteNamespace drops whole namespace; clear wipes store (W4, W5)") {
    val s = newStore
    s.upsertMany(crud, "a")
    s.upsertMany(crud, "b")
    assert(s.deleteNamespace("a"))
    assert(!s.deleteNamespace("a"))
    assert(s.listNamespaces() == Seq("b"))
    s.clear()
    assert(s.totalCount() == 0)
  }

  test("exists scans all namespaces (S5)") {
    val s = newStore
    val id = s.insert(Seq(1f, 2f), Map.empty, "deep_ns")
    assert(s.exists(id))
    assert(!s.exists("nope"))
  }

  test("values are coerced to float32 (vector.py:14)") {
    val s = newStore
    // 0.1 is not representable; storing as Float must truncate to float32
    val id = s.insert(Seq(0.1000000001f, 0.2f), Map.empty, "ns")
    val got = s.read(id, "ns").get
    assert(got.values(0) == 0.1f)
  }

  test("cosine search ordering matches an independent oracle (test_query_processor.py:108-119)") {
    val rnd = new Random(42)
    val s = newStore
    val vecs = Seq.fill(100)(Seq.fill(10)(rnd.nextFloat()))
    val ids = s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "ns")
    val query = Seq.fill(10)(rnd.nextFloat())

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val oracle = ids.zip(vecs).map { case (id, v) => (id, cos(v, query)) }
      .sortBy { case (id, sc) => (-sc, id) }.take(10)

    val hits = s.findSimilar(query, k = 10, metric = "cosine", namespace = "ns")
    assert(hits.map(_.id) == oracle.map(_._1))
    hits.zip(oracle).foreach { case (h, (_, sc)) =>
      assert(math.abs(h.score - sc) < 1e-9)
    }
  }

  test("l2 metric returns squared euclidean ascending (D1)") {
    val s = newStore
    s.insert(Seq(0f, 0f), Map("who" -> "origin"), "ns")
    s.insert(Seq(3f, 4f), Map("who" -> "far"), "ns")
    val hits = s.findSimilar(Seq(0f, 0f), k = 2, metric = "l2", namespace = "ns")
    assert(hits.head.metadata("who") == "origin")
    assert(hits.head.score == 0.0)
    assert(hits(1).score == 25.0) // squared, NOT 5.0
  }

  test("k > collection size returns all, never errors (K2, test :122-131)") {
    val s = newStore
    s.upsertMany(crud, "ns")
    assert(s.findSimilar(Seq(1f, 2f, 3f), k = 1000, namespace = "ns").length == 3)
  }

  test("search in unknown namespace returns empty (index.py:98-99)") {
    val s = newStore
    s.upsertMany(crud, "ns")
    assert(s.findSimilar(Seq(1f, 2f, 3f), k = 5, namespace = "ghost").isEmpty)
  }

  test("namespace isolation: same query, disjoint results (test_query_processor.py:70-85)") {
    val s = newStore
    s.upsertMany(Seq((Seq(1f, 0f), Map("side" -> "alpha"))), "alpha")
    s.upsertMany(Seq((Seq(1f, 0f), Map("side" -> "beta"))), "beta")
    val a = s.findSimilar(Seq(1f, 0f), k = 10, namespace = "alpha")
    val b = s.findSimilar(Seq(1f, 0f), k = 10, namespace = "beta")
    assert(a.length == 1 && a.head.metadata("side") == "alpha")
    assert(b.length == 1 && b.head.metadata("side") == "beta")
  }

  test("delete-then-search excludes deleted ids (W3+K4, test :88-105)") {
    val s = newStore
    val ids = s.upsertMany(crud, "ns")
    s.delete(Seq(ids(0)), "ns")
    val hits = s.findSimilar(Seq(1f, 2f, 3f), k = 10, metric = "l2", namespace = "ns")
    assert(!hits.map(_.id).contains(ids(0)))
    assert(hits.length == 2)
  }

  test("hybrid search: conjunctive metadata filter ∧ KNN (Q13/Q14)") {
    val s = newStore
    s.upsertMany(crud, "ns")
    val hits = s.findSimilar(Seq(1f, 2f, 3f), k = 10, metric = "l2",
      namespace = "ns", filter = Map("category" -> "x", "type" -> "b"))
    assert(hits.length == 1)
    assert(hits.head.values.toSeq == Seq(4f, 5f, 6f))
  }

  test("range and threshold search (Q11/Q12)") {
    val s = newStore
    s.insert(Seq(1f, 0f), Map.empty, "ns")
    s.insert(Seq(0.9f, 0.1f), Map.empty, "ns")
    s.insert(Seq(-1f, 0f), Map.empty, "ns")
    val inRange = s.rangeSearch(Seq(1f, 0f), r = 0.5, metric = "l2", namespace = "ns")
    assert(inRange.length == 2)
    // cosine range = 1 - sim <= r: the NEAR vectors, not the far ones
    val cosRange = s.rangeSearch(Seq(1f, 0f), r = 0.1, metric = "cosine", namespace = "ns")
    assert(cosRange.length == 2)
    assert(cosRange.forall(_.score >= 0.9))
    val aboveT = s.thresholdSearch(Seq(1f, 0f), t = 0.9, namespace = "ns")
    assert(aboveT.length == 2)
    assert(aboveT.map(_.score).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("storage info aggregates counts and bytes (A4)") {
    val s = newStore
    s.upsertMany(crud, "a")
    s.insert(Seq(1f, 2f), Map.empty, "b")
    val info = s.info()
    assert(info.totalVectors == 4)
    assert(info.namespaces == Map("a" -> 3, "b" -> 1))
    assert(info.estBytes >= 4 * (3 * 3 + 2)) // at least the float payload
    assert(info.storageType == "spark-in-memory")
  }

  test("explainSearch surfaces the physical plan (README.md:303-318 made real)") {
    val s = newStore
    s.upsertMany(crud, "ns")
    val e = s.explainSearch(Seq(1f, 2f, 3f), k = 2, namespace = "ns")
    assert(e.plan.contains("TakeOrderedAndProject"))
    assert(e.plan.contains("Physical Plan"))
    assert(e.branch == "exact" && e.mount == "live" && !e.filtered)
  }

  test("explainSearch names the branch without executing (r20)") {
    val s = newStore
    s.upsertMany(crud, "ns")
    // indexed + filtered: the probe branch, with the rescue disclosed
    val probe = s.explainSearch(Seq(1f, 2f, 3f), k = 2, namespace = "ns",
      filter = Map("type" -> "a"), approx = true, index = "lsh")
    assert(probe.branch == "indexed-probe" && probe.filtered)
    assert(probe.index.contains("lsh") && !probe.starvedSkip)
    // a proven-starved filter explains as the starvation-cache skip the
    // search would take (the fact is recorded by a real starved search)
    val starvedFilter = Map("type" -> "nonexistent")
    s.findSimilar(Seq(1f, 2f, 3f), k = 2, namespace = "ns",
      filter = starvedFilter, approx = true, index = "lsh")
    val skipped = s.explainSearch(Seq(1f, 2f, 3f), k = 2, namespace = "ns",
      filter = starvedFilter, approx = true, index = "lsh")
    assert(skipped.branch == "starved-skip-exact" && skipped.starvedSkip)
    // explain validates like the search: bad index → same failure
    intercept[IllegalArgumentException] {
      s.explainSearch(Seq(1f), approx = true, index = "nope")
    }
    // layoutCached answers for the requested index: a pq layout says
    // nothing about ivf's, and an exact search uses none
    s.findSimilar(Seq(1f, 2f, 3f), k = 2, namespace = "ns", approx = true, index = "pq")
    val pq = s.explainSearch(Seq(1f, 2f, 3f), k = 2, namespace = "ns", approx = true, index = "pq")
    assert(pq.layoutCached && !pq.notes.exists(_.contains("layout;")), pq.notes)
    val ivf = s.explainSearch(Seq(1f, 2f, 3f), k = 2, namespace = "ns", approx = true, index = "ivf")
    assert(!ivf.layoutCached && ivf.notes.exists(_.contains("no current 'ivf' layout")), ivf.notes)
    assert(!s.explainSearch(Seq(1f, 2f, 3f), k = 2, namespace = "ns").layoutCached)
  }

  test("explainSearch notes whether the search serves from the driver snapshot or from Spark") {
    val s = newStore
    s.upsertMany(crud, "ns")
    def notes(e: graft.model.SearchExplain): String = e.notes.mkString(" | ")
    val q = Seq(1f, 2f, 3f)
    // before any read at this epoch: the next search decides
    val cold = s.explainSearch(q, k = 2, namespace = "ns")
    assert(notes(cold).contains("no epoch-current driver snapshot"), notes(cold))
    s.findSimilar(q, k = 2, namespace = "ns")
    val warm = s.explainSearch(q, k = 2, namespace = "ns")
    assert(notes(warm).contains(
      s"scores on the driver snapshot (epoch ${s.currentEpoch}, 3 rows)"), notes(warm))
    // the Spark plan stays disclosed for namespaces above the bound
    assert(warm.plan.contains("TakeOrderedAndProject") && warm.branch == "exact")
    val probe = s.explainSearch(q, k = 2, namespace = "ns", approx = true, index = "ivf")
    assert(notes(probe).contains("reranks the index's candidate ids on the driver snapshot"),
      notes(probe))
    s.snapshotMaxRows = 2
    s.findSimilar(q, k = 2, namespace = "ns")
    val big = s.explainSearch(q, k = 2, namespace = "ns")
    assert(notes(big).contains("serves from Spark: the namespace holds more than 2 rows"), notes(big))
  }

  test("vector equality: identical payload, different ids → unequal (test :192-200)") {
    import graft.model.VectorRecord
    val v1 = VectorRecord("id1", "ns", Array(1f, 2f), Map("k" -> "v"))
    val v2 = VectorRecord("id2", "ns", Array(1f, 2f), Map("k" -> "v"))
    val v3 = VectorRecord("id1", "ns", Array(1f, 2f), Map("k" -> "v"))
    assert(v1 != v2)
    assert(v1 == v3)
  }

  test("nested JSON metadata round-trips: dicts, lists, ints, None (ref test :202-218)") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val s = newStore
    val complex =
      """{"string": "value", "number": 42, "list": [1, 2, 3],
        | "dict": {"nested": "data"}, "none": null}""".stripMargin
    val id = s.insertJson(Seq(1f, 2f), complex, "test_ns")
    val got = s.read(id, "test_ns").get
    // full fidelity through the JSON column (structural, not string, equality)
    assert(mapper.readTree(got.metadataJson) == mapper.readTree(complex))
    // top-level scalars are lifted into the filterable flat map
    assert(got.metadata == Map("string" -> "value", "number" -> "42"))
  }

  test("jsonFilter searches nested metadata via JSONPath") {
    val s = newStore
    s.insertJson(Seq(1f, 0f), """{"tags": {"env": "prod", "tier": 1}}""", "ns")
    s.insertJson(Seq(0.9f, 0.1f), """{"tags": {"env": "dev", "tier": 1}}""", "ns")
    s.insertJson(Seq(0f, 1f), """{"tags": {"env": "prod", "tier": 2}}""", "ns")
    val prod = s.findSimilar(Seq(1f, 0f), k = 10, namespace = "ns",
      jsonFilter = Map("$.tags.env" -> "prod"))
    assert(prod.length == 2)
    val prodT1 = s.findSimilar(Seq(1f, 0f), k = 10, namespace = "ns",
      jsonFilter = Map("$.tags.env" -> "prod", "$.tags.tier" -> "1"))
    assert(prodT1.length == 1)
    assert(prodT1.head.values.toSeq == Seq(1f, 0f))
  }

  test("upsert overwrites in place at a caller id (ref's intended overwrite, test :46-57)") {
    val s = newStore
    s.upsert("fixed-id", Seq(1f, 0f), Map("v" -> "1"), "ns")
    assert(s.read("fixed-id", "ns").get.metadata("v") == "1")
    s.upsert("fixed-id", Seq(0f, 1f), Map("v" -> "2"), "ns")
    assert(s.totalCount() == 1) // replaced, not duplicated
    val got = s.read("fixed-id", "ns").get
    assert(got.values.toSeq == Seq(0f, 1f))
    assert(got.metadata("v") == "2")
    // upsert with nested json metadata
    s.upsert("fixed-id", Seq(1f, 1f), namespace = "ns",
      metadataJson = """{"a": {"b": 7}}""")
    val got2 = s.read("fixed-id", "ns").get
    assert(s.totalCount() == 1)
    assert(got2.metadata.isEmpty) // no top-level scalars to lift
    val hits = s.findSimilar(Seq(1f, 1f), k = 1, namespace = "ns",
      jsonFilter = Map("$.a.b" -> "7"))
    assert(hits.length == 1 && hits.head.id == "fixed-id")
  }

  test("many small mutations stay correct across auto-compaction") {
    val s = newStore
    val ids = (1 to 70).map(i => s.insert(Seq(i.toFloat), Map("i" -> i.toString), "ns"))
    assert(s.totalCount() == 70)
    assert(s.read(ids.head, "ns").isDefined)
    val deleted = s.delete(ids.take(10), "ns")
    assert(deleted.length == 10)
    assert(s.totalCount() == 60)
  }

  // ---- approx search: the store-attached ANN index (index.py:91-129) ---

  /** Clustered corpus: `nClusters` random unit-ish anchors, `perCluster`
    * small-jitter copies each — near neighbors are angularly close, the
    * regime sign-LSH banding is built for. */
  private def clusteredVectors(nClusters: Int, perCluster: Int, dim: Int,
                               seed: Long): Seq[Seq[Float]] = {
    val rnd = new Random(seed)
    val anchors = Seq.fill(nClusters)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    anchors.flatMap { a =>
      Seq.fill(perCluster)(a.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.05f))
    }
  }

  test("approx search serves from the LSH index: recall floor, exact rerank, lazy invalidation") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 20, perCluster = 10, dim = 16, seed = 7)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "ann")
    val query = vecs.head.map(_ + 0.01f)

    val exact = s.findSimilar(query, k = 10, namespace = "ann")
    val approx = s.findSimilar(query, k = 10, namespace = "ann", approx = true)
    assert(exact.length == 10 && approx.nonEmpty)
    val recall = exact.map(_.id).toSet.intersect(approx.map(_.id).toSet).size / 10.0
    info(f"store approx recall@10 = $recall%.2f")
    assert(recall >= 0.7, s"store-attached LSH recall too low: $recall")
    // exact rerank: every approx hit carries its true cosine score
    val exactScores = s.findSimilar(query, k = 1000, namespace = "ann")
      .map(h => h.id -> h.score).toMap
    approx.foreach(h => assert(h.score == exactScores(h.id),
      s"approx score for ${h.id} diverged from the exact kernel"))
    // a mutation invalidates the cached signatures on the NEXT search
    val victim = approx.head.id
    assert(s.delete(Seq(victim), "ann") == Seq(victim))
    val after = s.findSimilar(query, k = 10, namespace = "ann", approx = true)
    assert(!after.map(_.id).contains(victim), "approx search served a deleted id")
    // the sign-LSH index is cosine-only; other metrics must use exact
    intercept[IllegalArgumentException] {
      s.findSimilar(query, k = 1, metric = "l2", namespace = "ann", approx = true)
    }
  }

  test("approx search via the persisted IVF index: recall floor, exact rerank, exact path unchanged") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 20, perCluster = 10, dim = 16, seed = 11)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "ivf")
    val query = vecs.head.map(_ + 0.01f)

    val exactBefore = s.findSimilar(query, k = 10, namespace = "ivf")
    val ivf = s.findSimilar(query, k = 10, namespace = "ivf", approx = true,
      index = "ivf")
    assert(ivf.nonEmpty)
    val recall = exactBefore.map(_.id).toSet
      .intersect(ivf.map(_.id).toSet).size / 10.0
    info(f"store IVF recall@10 = $recall%.2f")
    assert(recall >= 0.7, s"store-attached IVF recall too low: $recall")
    // exact rerank: every IVF hit carries its true cosine score
    val exactScores = s.findSimilar(query, k = 1000, namespace = "ivf")
      .map(h => h.id -> h.score).toMap
    ivf.foreach(h => assert(h.score == exactScores(h.id),
      s"IVF score for ${h.id} diverged from the exact kernel"))
    // routing through the index leaves the exact path untouched
    val exactAfter = s.findSimilar(query, k = 10, namespace = "ivf")
    assert(exactBefore.map(h => (h.id, h.score)) ==
      exactAfter.map(h => (h.id, h.score)))
    // the persisted layout exists and carries the oracle-replay tables
    val aux = s.layoutDir("ivf", "ivf", 16).get
    assert(new java.io.File(s"$aux/index").exists())
    assert(new java.io.File(s"$aux/assign").exists())
    // a mutation invalidates the layout on the NEXT search
    val victim = ivf.head.id
    assert(s.delete(Seq(victim), "ivf") == Seq(victim))
    val after = s.findSimilar(query, k = 10, namespace = "ivf",
      approx = true, index = "ivf")
    assert(!after.map(_.id).contains(victim), "IVF search served a deleted id")
    // unknown index names fail loudly, not approximately
    intercept[IllegalArgumentException] {
      s.findSimilar(query, k = 1, namespace = "ivf", approx = true,
        index = "annoy")
    }
    // an EMPTY namespace answers empty through the ivf route, exactly
    // like the exact and lsh paths — never an error for picking ivf
    assert(s.findSimilar(query, k = 5, namespace = "no_rows_yet",
      approx = true, index = "ivf").isEmpty)
  }

  test("approx search via the PQ code table: recall floor, exact rerank, lazy invalidation") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 20, perCluster = 10, dim = 16, seed = 23)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "pq")
    val query = vecs.head.map(_ + 0.01f)

    val exact = s.findSimilar(query, k = 10, namespace = "pq")
    val pq = s.findSimilar(query, k = 10, namespace = "pq", approx = true,
      index = "pq")
    assert(pq.nonEmpty)
    val recall = exact.map(_.id).toSet.intersect(pq.map(_.id).toSet).size / 10.0
    info(f"store PQ recall@10 = $recall%.2f")
    assert(recall >= 0.7, s"store-attached PQ recall too low: $recall")
    // exact rerank: every PQ hit carries its true cosine score
    val exactScores = s.findSimilar(query, k = 1000, namespace = "pq")
      .map(h => h.id -> h.score).toMap
    pq.foreach(h => assert(h.score == exactScores(h.id),
      s"PQ score for ${h.id} diverged from the exact kernel"))
    // the persisted layout carries the oracle-replay tables
    val aux = s.layoutDir("pq", "pq", 16).get
    assert(new java.io.File(s"$aux/codes").exists())
    assert(new java.io.File(s"$aux/codes_flat").exists())
    // a mutation invalidates the layout on the NEXT search
    val victim = pq.head.id
    assert(s.delete(Seq(victim), "pq") == Seq(victim))
    val after = s.findSimilar(query, k = 10, namespace = "pq",
      approx = true, index = "pq")
    assert(!after.map(_.id).contains(victim), "PQ search served a deleted id")
    // an EMPTY namespace answers empty through the pq route
    assert(s.findSimilar(query, k = 5, namespace = "no_rows_yet",
      approx = true, index = "pq").isEmpty)
  }

  test("approx search via the BQ sign-bit index: recall floor, exact rerank, lazy invalidation, multi-word dims") {
    val s = newStore
    // dim 70 > 64 exercises the multi-word packing (2 BIGINTs, partial
    // trailing word under ANSI mode)
    val vecs = clusteredVectors(nClusters = 20, perCluster = 10, dim = 70, seed = 29)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "bq")
    val query = vecs.head.map(_ + 0.01f)

    val exact = s.findSimilar(query, k = 10, namespace = "bq")
    val bq = s.findSimilar(query, k = 10, namespace = "bq", approx = true,
      index = "bq")
    assert(bq.nonEmpty)
    assert(s.bqWordCount("bq", 70).contains(2), "70 dims must pack into 2 words")
    val recall = exact.map(_.id).toSet.intersect(bq.map(_.id).toSet).size / 10.0
    info(f"store BQ recall@10 = $recall%.2f")
    assert(recall >= 0.7, s"store-attached BQ recall too low: $recall")
    // exact rerank: every BQ hit carries its true cosine score
    val exactScores = s.findSimilar(query, k = 1000, namespace = "bq")
      .map(h => h.id -> h.score).toMap
    bq.foreach(h => assert(h.score == exactScores(h.id),
      s"BQ score for ${h.id} diverged from the exact kernel"))
    // a mutation invalidates the codes on the NEXT search
    val victim = bq.head.id
    assert(s.delete(Seq(victim), "bq") == Seq(victim))
    val after = s.findSimilar(query, k = 10, namespace = "bq",
      approx = true, index = "bq")
    assert(!after.map(_.id).contains(victim), "BQ search served a deleted id")
    // an EMPTY namespace answers empty through the bq route
    assert(s.findSimilar(query, k = 5, namespace = "no_rows_yet",
      approx = true, index = "bq").isEmpty)
    // an unknown index kind still 422s with the full menu
    val err = intercept[IllegalArgumentException](
      s.findSimilar(query, k = 5, namespace = "bq", approx = true,
        index = "annoy"))
    assert(err.getMessage.contains("'bq'"))
  }

  test("approx search via the IMI product grid: recall floor, exact rerank, lazy invalidation") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 20, perCluster = 10, dim = 16, seed = 31)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "imi")
    val query = vecs.head.map(_ + 0.01f)

    val exact = s.findSimilar(query, k = 10, namespace = "imi")
    val imi = s.findSimilar(query, k = 10, namespace = "imi", approx = true,
      index = "imi")
    assert(imi.nonEmpty)
    val recall = exact.map(_.id).toSet.intersect(imi.map(_.id).toSet).size / 10.0
    info(f"store IMI recall@10 = $recall%.2f")
    assert(recall >= 0.7, s"store-attached IMI recall too low: $recall")
    // exact rerank: every IMI hit carries its true cosine score
    val exactScores = s.findSimilar(query, k = 1000, namespace = "imi")
      .map(h => h.id -> h.score).toMap
    imi.foreach(h => assert(h.score == exactScores(h.id),
      s"IMI score for ${h.id} diverged from the exact kernel"))
    // a mutation bumps the epoch: the NEXT search rebuilds the grid and
    // must not serve the deleted id
    val victim = imi.head.id
    assert(s.delete(Seq(victim), "imi") == Seq(victim))
    val after = s.findSimilar(query, k = 10, namespace = "imi",
      approx = true, index = "imi")
    assert(!after.map(_.id).contains(victim), "IMI search served a deleted id")
    // an EMPTY namespace answers empty through the imi route
    assert(s.findSimilar(query, k = 5, namespace = "no_rows_yet",
      approx = true, index = "imi").isEmpty)
  }

  test("approx search via the HNSW shard graphs: recall floor, exact rerank, lazy invalidation") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 20, perCluster = 10, dim = 16, seed = 53)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "hnsw")
    val query = vecs.head.map(_ + 0.01f)

    val exact = s.findSimilar(query, k = 10, namespace = "hnsw")
    val hnsw = s.findSimilar(query, k = 10, namespace = "hnsw", approx = true,
      index = "hnsw")
    assert(hnsw.nonEmpty)
    val recall = exact.map(_.id).toSet.intersect(hnsw.map(_.id).toSet).size / 10.0
    info(f"store HNSW recall@10 = $recall%.2f")
    assert(recall >= 0.9, s"store-attached HNSW recall too low: $recall")
    // exact rerank: every hit carries its true cosine score
    val exactScores = s.findSimilar(query, k = 1000, namespace = "hnsw")
      .map(h => h.id -> h.score).toMap
    hnsw.foreach(h => assert(h.score == exactScores(h.id),
      s"HNSW score for ${h.id} diverged from the exact kernel"))
    // INCREMENTAL serving (r13 — VERDICT r12 "What's missing" #3): a
    // small mutation must NOT rebuild the resident shard graphs — the
    // delete dies in the live semi-join, an insert rides the delta tail
    val buildsAfterFirst = s.builds("hnsw").get()
    val victim = hnsw.head.id
    assert(s.delete(Seq(victim), "hnsw") == Seq(victim))
    val after = s.findSimilar(query, k = 10, namespace = "hnsw",
      approx = true, index = "hnsw")
    assert(!after.map(_.id).contains(victim), "HNSW search served a deleted id")
    // a fresh insert is immediately findable WITHOUT a rebuild: the new
    // row is in no shard graph, so only the delta tail can surface it
    val newId = s.insert(query.toSeq, Map.empty, "hnsw")
    val withNew = s.findSimilar(query, k = 3, namespace = "hnsw",
      approx = true, index = "hnsw")
    assert(withNew.map(_.id).contains(newId),
      "post-build insert did not surface through the delta tail")
    assert(s.builds("hnsw").get() == buildsAfterFirst,
      "a small mutation rebuilt the shard graphs — the serving cache " +
        "lost its incremental discipline")
    // recall pin unchanged through the incremental path
    val exact2 = s.findSimilar(query, k = 10, namespace = "hnsw")
    val hnsw2 = s.findSimilar(query, k = 10, namespace = "hnsw",
      approx = true, index = "hnsw")
    val recall2 = exact2.map(_.id).toSet.intersect(hnsw2.map(_.id).toSet).size / 10.0
    assert(recall2 >= 0.9, s"incremental-path recall dropped: $recall2")
    // a bulk frame load poisons the ledger: the next probe rebuilds
    val sp = spark
    import sp.implicits._
    s.loadFrame(
      Seq(("bulk0", Seq.fill(16)(0.5f))).toDF("id", "values"), "hnsw")
    s.findSimilar(query, k = 3, namespace = "hnsw", approx = true,
      index = "hnsw")
    assert(s.builds("hnsw").get() == buildsAfterFirst + 1,
      "a bulk frame load must rebuild (no id list to delta)")
    // metadata filters compose: the layout proposes, the FILTERED live
    // set decides
    assert(s.findSimilar(query, k = 5, namespace = "hnsw", approx = true,
      index = "hnsw", filter = Map("tier" -> "none_have_this")).isEmpty)
    // an EMPTY namespace answers empty through the hnsw route
    assert(s.findSimilar(query, k = 5, namespace = "no_rows_yet",
      approx = true, index = "hnsw").isEmpty)
  }

  test("batched IVF search equals Q sequential ivf searches; empty namespace answers empty lists") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 12, perCluster = 10, dim = 8, seed = 37)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "bivf")
    val qs = vecs.take(3).map(_.map(_ + 0.01f))
    val batch = s.findSimilarBatchIvf(qs, k = 5, namespace = "bivf")
    assert(batch.size == 3 && batch.forall(_.nonEmpty))
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = s.findSimilar(q, k = 5, namespace = "bivf",
        approx = true, index = "ivf").map(h => (h.id, h.score))
      assert(batch(i).map(h => (h.id, h.score)) == single,
        s"batched ivf diverged from single-query ivf for query $i")
    }
    // a mutation invalidates the layout for the NEXT batch
    val victim = batch.head.head.id
    assert(s.delete(Seq(victim), "bivf") == Seq(victim))
    val after = s.findSimilarBatchIvf(qs, k = 5, namespace = "bivf")
    assert(!after.head.map(_.id).contains(victim),
      "batched ivf served a deleted id")
    // empty namespace: positional empties, never an error
    assert(s.findSimilarBatchIvf(qs, k = 5, namespace = "nothing_here") ==
      Seq(Seq.empty, Seq.empty, Seq.empty))
    // metadata filters compose: the layout proposes, the FILTERED live
    // set decides — a filter nothing matches empties every entry
    assert(s.findSimilarBatchIvf(qs, k = 5, namespace = "bivf",
      filter = Map("tier" -> "none_have_this")).forall(_.isEmpty))
  }

  test("batched PQ and BQ searches equal Q sequential searches; mutations and filters compose") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 12, perCluster = 10, dim = 8, seed = 41)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "bpq")
    val qs = vecs.take(3).map(_.map(_ + 0.01f))
    for ((name, batchOf, idx) <- Seq[(String,
        Seq[Seq[Float]] => Seq[Seq[graft.model.SearchHit]], String)](
      ("pq", qs2 => s.searchBatch(qs2, k = 5, namespace = "bpq", approx = true, index = "pq"), "pq"),
      ("bq", qs2 => s.searchBatch(qs2, k = 5, namespace = "bpq", approx = true, index = "bq"), "bq"),
      ("hnsw", qs2 => s.searchBatch(qs2, k = 5, namespace = "bpq", approx = true, index = "hnsw"), "hnsw"))) {
      val batch = batchOf(qs)
      assert(batch.size == 3 && batch.forall(_.nonEmpty), s"$name batch empty")
      qs.zipWithIndex.foreach { case (q, i) =>
        val single = s.findSimilar(q, k = 5, namespace = "bpq",
          approx = true, index = idx).map(h => (h.id, h.score))
        assert(batch(i).map(h => (h.id, h.score)) == single,
          s"batched $name diverged from single-query $name for query $i")
      }
    }
    // a mutation invalidates the epoch for the NEXT batch (both kinds)
    val victim = s.searchBatch(qs, k = 5, namespace = "bpq", approx = true, index = "pq").head.head.id
    assert(s.delete(Seq(victim), "bpq") == Seq(victim))
    assert(!s.searchBatch(qs, k = 5, namespace = "bpq", approx = true, index = "pq")
      .head.map(_.id).contains(victim), "batched pq served a deleted id")
    assert(!s.searchBatch(qs, k = 5, namespace = "bpq", approx = true, index = "bq")
      .head.map(_.id).contains(victim), "batched bq served a deleted id")
    assert(!s.searchBatch(qs, k = 5, namespace = "bpq", approx = true, index = "hnsw")
      .head.map(_.id).contains(victim), "batched hnsw served a deleted id")
    // empty namespace: positional empties; filters compose on the live side
    assert(s.searchBatch(qs, k = 5, namespace = "nothing_here", approx = true, index = "pq") ==
      Seq(Seq.empty, Seq.empty, Seq.empty))
    assert(s.searchBatch(qs, k = 5, namespace = "nothing_here", approx = true, index = "hnsw") ==
      Seq(Seq.empty, Seq.empty, Seq.empty))
    assert(s.searchBatch(qs, k = 5, namespace = "bpq",
      filter = Map("tier" -> "none_have_this"), approx = true, index = "bq").forall(_.isEmpty))
    assert(s.searchBatch(qs, k = 5, namespace = "bpq",
      filter = Map("tier" -> "none_have_this"), approx = true, index = "hnsw").forall(_.isEmpty))
  }

  test("batched LSH search equals Q sequential approx searches; mutations and filters compose") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 12, perCluster = 10, dim = 8, seed = 43)
    s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "blsh")
    val qs = vecs.take(3).map(_.map(_ + 0.01f))
    val batch = s.searchBatch(qs, k = 5, namespace = "blsh", approx = true, index = "lsh")
    assert(batch.size == 3 && batch.forall(_.nonEmpty), "lsh batch empty")
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = s.findSimilar(q, k = 5, namespace = "blsh",
        approx = true).map(h => (h.id, h.score))
      assert(batch(i).map(h => (h.id, h.score)) == single,
        s"batched lsh diverged from single-query approx for query $i")
    }
    // a mutation invalidates the signature epoch for the NEXT batch
    val victim = batch.head.head.id
    assert(s.delete(Seq(victim), "blsh") == Seq(victim))
    assert(!s.searchBatch(qs, k = 5, namespace = "blsh", approx = true, index = "lsh")
      .head.map(_.id).contains(victim), "batched lsh served a deleted id")
    // empty namespace: positional empties; filters compose on the live side
    assert(s.searchBatch(qs, k = 5, namespace = "nothing_here", approx = true, index = "lsh") ==
      Seq(Seq.empty, Seq.empty, Seq.empty))
    assert(s.searchBatch(qs, k = 5, namespace = "blsh",
      filter = Map("tier" -> "none_have_this"), approx = true, index = "lsh").forall(_.isEmpty))
  }

  test("store-attached IVF geometry scales with namespace size; recall floor holds at both sizes") {
    val s = newStore
    val dim = 16
    // 200 rows → clamped floor (16 cells); 2400 rows → ceil(√2400) = 49
    val small = clusteredVectors(nClusters = 20, perCluster = 10, dim = dim, seed = 3)
    val large = clusteredVectors(nClusters = 40, perCluster = 60, dim = dim, seed = 5)
    s.upsertMany(small.map(v => (v, Map.empty[String, String])), "geo_small")
    s.upsertMany(large.map(v => (v, Map.empty[String, String])), "geo_large")
    def recallIn(ns: String, vecs: Seq[Seq[Float]]): Double = {
      val query = vecs.head.map(_ + 0.01f)
      val exact = s.findSimilar(query, k = 10, namespace = ns).map(_.id).toSet
      val ivf = s.findSimilar(query, k = 10, namespace = ns,
        approx = true, index = "ivf").map(_.id).toSet
      exact.intersect(ivf).size / 10.0
    }
    val rSmall = recallIn("geo_small", small)
    val rLarge = recallIn("geo_large", large)
    val cSmall = s.ivfCellCount("geo_small", dim).get
    val cLarge = s.ivfCellCount("geo_large", dim).get
    info(f"cells small=$cSmall large=$cLarge; recall small=$rSmall%.2f large=$rLarge%.2f")
    assert(cSmall == graft.operators.Ann.ivfCellsFor(small.size.toLong))
    assert(cLarge == graft.operators.Ann.ivfCellsFor(large.size.toLong))
    assert(cLarge > cSmall, "cell count did not scale with namespace size")
    assert(rSmall >= 0.7, s"IVF recall floor broken at the small size: $rSmall")
    assert(rLarge >= 0.7, s"IVF recall floor broken at the large size: $rLarge")
  }

  // ---- bulk id batches: broadcast-join forms (VERDICT r3/r4 item 8) ----

  test("bulk readBatch/delete above the in-list threshold match literal-form semantics") {
    val sp = spark
    import sp.implicits._
    val s = newStore
    s.loadFrame(
      (0 until 30).map(i => (s"v$i", Seq(i.toFloat, 1f))).toDF("id", "values"),
      "bulk")
    assert(s.read("v5", "bulk").get.values.toSeq == Seq(5f, 1f))
    // loadFrame is an UPSERT like upsert(id, ...): re-loading overlapping
    // ids replaces rows, never duplicates them
    s.loadFrame(
      (0 until 5).map(i => (s"v$i", Seq(i.toFloat, 2f))).toDF("id", "values"),
      "bulk")
    assert(s.namespaceCount("bulk") == 30)
    assert(s.read("v3", "bulk").get.values.toSeq == Seq(3f, 2f))
    assert(s.read("v7", "bulk").get.values.toSeq == Seq(7f, 1f))

    // 10k-id positional read (duplicates + misses) → broadcast semi-join path
    val bigIds = (0 until 10000).map(i => s"v${i % 60}")
    val got = s.readBatch(bigIds, "bulk")
    assert(got.length == bigIds.length)
    got.zip(bigIds).foreach { case (o, id) =>
      val n = id.drop(1).toInt
      assert(o.isDefined == (n < 30), s"positional miss/hit wrong for $id")
      val marker = if (n < 5) 2f else 1f // v0-v4 were re-loaded above
      o.foreach(r => assert(r.id == id && r.values.toSeq == Seq(n.toFloat, marker)))
    }

    // 10k-id delete → broadcast anti-join path; report = the distinct present set
    val deleted = s.delete(bigIds, "bulk")
    assert(deleted.toSet == (0 until 30).map(i => s"v$i").toSet)
    assert(deleted.length == 30)
    assert(s.namespaceCount("bulk") == 0)
  }

  test("batched search is indistinguishable from sequential searches") {
    val rnd = new Random(7)
    val s = newStore
    val vecs = Seq.fill(80)(Seq.fill(8)(rnd.nextFloat()))
    s.upsertMany(vecs.map(v => (v, Map("tag" -> "t"))), "ns")
    val queries = Seq.fill(5)(Seq.fill(8)(rnd.nextFloat()))
    for (metric <- Seq("cosine", "l2", "ip")) {
      val batch = s.findSimilarBatch(queries, k = 7, metric = metric,
        namespace = "ns")
      queries.indices.foreach { i =>
        val single = s.findSimilar(queries(i), k = 7, metric = metric,
          namespace = "ns")
        assert(batch(i).map(h => (h.id, h.score)) ==
          single.map(h => (h.id, h.score)),
          s"batch/single divergence at query $i metric $metric")
        // enrichment carries the stored record, like the single path
        assert(batch(i).head.metadata == Map("tag" -> "t"))
        assert(batch(i).head.values.length == 8)
      }
    }
    // filters apply to the whole batch; unknown namespace → empty per query
    val filtered = s.findSimilarBatch(queries, k = 3, namespace = "ns",
      filter = Map("tag" -> "nope"))
    assert(filtered.forall(_.isEmpty) && filtered.length == queries.length)
  }

  test("filtered indexed search: starved candidate pools fall back to the exact filtered scan") {
    val s = newStore
    // 120 'common' rows near the origin and 5 'rare' rows in a far tight
    // cluster: every geometry-first candidate policy (PQ's CandN cut,
    // BQ's hamming cut, HNSW's beam, LSH buckets, IVF cells) proposes
    // near-origin candidates for a near-origin query, so a rare-filter
    // pool starves below k — without the fallback the caller would get
    // 0 hits while 5 matching rows exist
    val rows =
      (0 until 120).map { i =>
        (Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f,
          (i % 5).toFloat / 10f, 1f, 0f, 0f, 0f, 0f),
          Map("grp" -> "common"))
      } ++ (0 until 5).map { i =>
        (Seq(100f + i, 100f, 100f, 100f, 100f, 100f, 100f, 100f),
          Map("grp" -> "rare"))
      }
    val ids = s.upsertMany(rows, "starve")
    val rareIds = ids.drop(120).toSet
    val q = Seq(0.5f, 0.3f, 0.2f, 1f, 0f, 0f, 0f, 0f)
    val exact = s.findSimilar(q, k = 10, namespace = "starve",
      filter = Map("grp" -> "rare")).map(h => (h.id, h.score))
    assert(exact.size == 5)
    for (idx <- Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")) {
      val hits = s.findSimilar(q, k = 10, namespace = "starve",
        approx = true, index = idx, filter = Map("grp" -> "rare"))
      assert(hits.map(h => (h.id, h.score)) == exact,
        s"starved $idx filtered search must serve the exact filtered scan")
      assert(hits.forall(h => rareIds(h.id)))
    }
    // batch forms: per-query rescue, saturated queries stay on the probe
    val qs = Seq(q, Seq(0.1f, 0.6f, 0.4f, 1f, 0f, 0f, 0f, 0f))
    val batch = s.searchBatch(qs, k = 10, namespace = "starve",
      filter = Map("grp" -> "rare"), approx = true, index = "pq")
    qs.indices.foreach { i =>
      assert(batch(i).nonEmpty && batch(i).forall(h => rareIds(h.id)),
        s"batched pq filtered query $i was not rescued")
    }
    // the common side never needs the fallback and still honors the
    // filter at candidate time
    val common = s.findSimilar(q, k = 10, namespace = "starve",
      approx = true, index = "pq", filter = Map("grp" -> "common"))
    assert(common.size == 10 && common.forall(h => !rareIds(h.id)))
  }

  test("permanently-starved filters skip the probe while the epoch stands") {
    val s = newStore
    // 60 near-origin rows, 3 'rare' far rows: any filtered approx query
    // for grp=rare with k=10 is PERMANENTLY starved (only 3 matching
    // rows exist) — the steady state ADVICE r16 flagged as paying
    // probe + exact scan on every query, forever
    val rows =
      (0 until 60).map { i =>
        (Seq((i % 11).toFloat / 10f, (i % 7).toFloat / 10f, 1f, 0f),
          Map("grp" -> "common"))
      } ++ (0 until 3).map { i =>
        (Seq(50f + i, 50f, 50f, 50f), Map("grp" -> "rare"))
      }
    s.upsertMany(rows, "perm")
    val q = Seq(0.4f, 0.3f, 1f, 0f)
    val rare = Map("grp" -> "rare")
    // first query: probe → rescue (< k) → records the starvation fact
    val first = s.findSimilar(q, k = 10, namespace = "perm",
      approx = true, index = "ivf", filter = rare)
    assert(first.size == 3)
    assert(s.starvedProbeSkips.get() == 0, "first query must really probe")
    // second query, same filter, no mutation: the cache routes straight
    // to the exact scan — the branch indicator proves the probe was
    // skipped, and the answer is unchanged
    val second = s.findSimilar(q, k = 10, namespace = "perm",
      approx = true, index = "ivf", filter = rare)
    assert(second.map(h => (h.id, h.score)) == first.map(h => (h.id, h.score)))
    assert(s.starvedProbeSkips.get() == 1, "steady-state query must skip the probe")
    // smaller k that the matching rows CAN saturate: no short-circuit
    // (m=3 is not < k=2), the probe serves
    val small = s.findSimilar(q, k = 2, namespace = "perm",
      approx = true, index = "ivf", filter = rare)
    assert(small.size == 2 && s.starvedProbeSkips.get() == 1)
    // a mutation bumps the epoch and invalidates the fact: the next
    // query probes again (and re-records, now 4 matching rows)
    s.insert(Seq(51f, 51f, 51f, 51f), Map("grp" -> "rare"), namespace = "perm")
    val third = s.findSimilar(q, k = 10, namespace = "perm",
      approx = true, index = "ivf", filter = rare)
    assert(third.size == 4)
    assert(s.starvedProbeSkips.get() == 1, "post-mutation query must re-probe")
    val fourth = s.findSimilar(q, k = 10, namespace = "perm",
      approx = true, index = "ivf", filter = rare)
    assert(fourth.size == 4 && s.starvedProbeSkips.get() == 2)
  }

  // ---- build counts: one lifecycle for six indexes ----------------------

  for (ix <- graft.store.ApproxIndexes.Names)
    test(s"$ix builds once per epoch: repeats and a batch build nothing, a write elsewhere " +
        (if (ix == "hnsw") "rebuilds nothing" else "rebuilds once")) {
      val s = newStore
      val vecs = clusteredVectors(nClusters = 8, perCluster = 10, dim = 8, seed = 61)
      s.upsertMany(vecs.map(v => (v, Map.empty[String, String])), "built")
      val q = vecs.head.map(_ + 0.01f)
      def search(): Unit =
        assert(s.findSimilar(q, k = 5, namespace = "built", approx = true, index = ix).nonEmpty)
      def built: Int = s.builds(ix).get()
      search()
      assert(built == 1, "the first search builds the layout once")
      search()
      s.searchBatch(Seq(q, vecs(20)), k = 5, namespace = "built", approx = true, index = ix)
      assert(built == 1, "a repeat search and a batch after it reuse the layout")
      // the five epoch-keyed layouts go stale on ANY write (the write
      // cliff); hnsw serves across it with its per-namespace ledger
      s.insert(vecs(1), Map.empty, "elsewhere")
      search()
      search()
      assert(built == (if (ix == "hnsw") 1 else 2), s"$built builds after a write elsewhere")
      assert(graft.store.ApproxIndexes.Names.filter(_ != ix).forall(s.builds(_).get() == 0))
    }

  test("lsh keeps one signature frame per namespace: alternating two namespaces builds two") {
    val s = newStore
    val vecs = clusteredVectors(nClusters = 8, perCluster = 10, dim = 8, seed = 67)
    s.upsertMany(vecs.take(40).map(v => (v, Map.empty[String, String])), "la")
    s.upsertMany(vecs.drop(40).map(v => (v, Map.empty[String, String])), "lb")
    for (_ <- 1 to 3; ns <- Seq("la", "lb"))
      s.findSimilar(vecs.head, k = 5, namespace = ns, approx = true, index = "lsh")
    assert(s.builds("lsh").get() == 2)
    Seq("la", "lb").foreach(ns =>
      assert(s.layoutState("lsh", ns, 8).contains((s.currentEpoch, true)), ns))
  }
}
