package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.model.SearchHit
import graft.store.VectorStore

/** The live store's two serving tiers: namespaces of at most
  * [[VectorStore.SnapshotMaxRows]] rows answer from a driver snapshot,
  * larger ones from Spark plans. Parity: every live route gives the same
  * hits on both tiers (ids, bit-equal scores, values, metadata,
  * metadataJson); the Spark tier is reached on small data by lowering the
  * bound of one store. Freshness: a read sees every write acknowledged
  * before it, and a namespace that outgrows the bound moves to Spark. */
class LiveSnapshotSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Dim = 8
  private val Indexes = Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")

  private def assertSame(a: Seq[SearchHit], b: Seq[SearchHit], what: String): Unit =
    TestSpark.assertSameHits(a, b, what)

  /** A named route returning positional answers (one for a single query). */
  private final case class Route(what: String, ns: String, run: () => Seq[Seq[SearchHit]])

  private def single(what: String, ns: String)(run: => Seq[SearchHit]): Route =
    Route(what, ns, () => Seq(run))

  private def batched(what: String, ns: String)(run: => Seq[Seq[SearchHit]]): Route =
    Route(what, ns, () => run)

  /** Runs every route on the snapshot tier, then on the Spark tier of the
    * same store (same epoch, same index layouts), and requires the same
    * answers. Returns the snapshot tier's. */
  private def parity(s: VectorStore, routes: Seq[Route]): Seq[Seq[Seq[SearchHit]]] = {
    s.snapshotMaxRows = VectorStore.SnapshotMaxRows
    val onSnapshot = routes.map { r =>
      val out = r.run()
      assert(s.snapshot(r.ns).isDefined, s"${r.what}: no snapshot for '${r.ns}'")
      out
    }
    s.snapshotMaxRows = -1
    val onSpark = try routes.map(_.run()) finally s.snapshotMaxRows = VectorStore.SnapshotMaxRows
    routes.indices.foreach { i =>
      assert(onSnapshot(i).size == onSpark(i).size, s"${routes(i).what}: result count")
      onSnapshot(i).zip(onSpark(i)).zipWithIndex.foreach { case ((a, b), j) =>
        assertSame(a, b, s"${routes(i).what} [$j]")
      }
    }
    onSnapshot
  }

  private val twin = Seq(0.3f, -0.2f, 0.7f, 0.1f, -0.5f, 0.4f, 0.2f, -0.1f)

  /** "main": uniform 8-d rows from all three write paths, three ids tied
    * on one vector whose UTF-8 and UTF-16 orders disagree, a zero vector,
    * a far "rare" cluster (12 rows) and a "scarce" one (3 rows). */
  private def mainStore(): VectorStore = {
    val s = new VectorStore(spark)
    val rnd = new Random(7)
    def vec = Seq.fill(Dim)(rnd.nextFloat() * 2 - 1)
    s.upsertMany((0 until 150).map(i => (vec, Map("grp" -> Seq("a", "b", "c")(i % 3)))), "main")
    s.upsertManyJson((0 until 40).map(i =>
      (vec, s"""{"grp": "${Seq("a", "b")(i % 2)}", "tag": {"name": "t${i % 4}"}, "n": $i}""")), "main")
    import spark.implicits._
    s.loadFrame((0 until 30).map(i => (s"lf$i", vec, Map("grp" -> "a")))
      .toDF("id", "values", "metadata"), "main")
    Seq("｡", "😀", "a-twin").foreach(id => s.upsert(id, twin, Map("grp" -> "a"), "main"))
    s.upsert("zero", Seq.fill(Dim)(0f), Map("grp" -> "b"), "main")
    s.upsertMany((0 until 12).map(i => (Seq.fill(Dim)(40f + i), Map("grp" -> "rare"))), "main")
    s.upsertMany((0 until 3).map(i => (Seq.fill(Dim)(-40f - i), Map("grp" -> "scarce"))), "main")
    s
  }

  test("exact, batch, range and threshold routes: snapshot and Spark tiers agree") {
    val s = mainStore()
    // "mixed": rows of 8 and 6 dims (scored over the common prefix), a
    // zero vector, tied ids; fewer rows than the largest k asked for
    val rnd = new Random(3)
    s.upsertMany((0 until 20).map(i =>
      (Seq.fill(if (i % 2 == 0) Dim else 6)(rnd.nextFloat() * 2 - 1),
        Map("grp" -> Seq("a", "b")(i % 2)))), "mixed")
    Seq("｡", "😀").foreach(id => s.upsert(id, twin.take(6), Map("grp" -> "a"), "mixed"))
    s.upsert("zero", Seq.fill(Dim)(0f), Map("grp" -> "a"), "mixed")
    val queries = Seq(twin, Seq.fill(Dim)(0f), Seq.fill(Dim)(0.25f), twin.map(-_))
    val filters = Seq(
      (Map.empty[String, String], Map.empty[String, String]),
      (Map("grp" -> "a"), Map.empty[String, String]),
      (Map.empty[String, String], Map("$.tag.name" -> "t1")),
      (Map("grp" -> "b"), Map("$.grp" -> "b")))
    val knn = for {
      ns <- Seq("main", "mixed", "nowhere"); metric <- Seq("l2", "cosine", "ip")
      (f, jf) <- filters; what = s"$ns/$metric/$f/$jf"
      route <- queries.take(2).map(q =>
        single(s"exact $what", ns)(s.findSimilar(q, 3, metric, ns, f, jf))) ++ Seq(
        // k above the row count returns every matching row
        single(s"exact k=1000 $what", ns)(s.findSimilar(queries(2), 1000, metric, ns, f, jf)),
        batched(s"batch $what", ns)(s.findSimilarBatch(queries, 5, metric, ns, f, jf)))
    } yield route
    val thresholded = for {
      ns <- Seq("main", "mixed", "nowhere"); f <- Seq(Map.empty[String, String], Map("grp" -> "a"))
      q <- queries.take(2); what = s"$ns/$f/$q"
      route <- Seq(
        single(s"range l2 $what", ns)(s.rangeSearch(q, 4.0, "l2", ns, f)),
        single(s"range cosine $what", ns)(s.rangeSearch(q, 0.6, "cosine", ns, f)),
        single(s"range ip $what", ns)(s.rangeSearch(q, 0.5, "ip", ns, f)),
        single(s"threshold $what", ns)(s.thresholdSearch(q, 0.5, ns, f)))
    } yield route
    parity(s, knn ++ thresholded)
    // ties: Spark orders ids by UTF-8 bytes ("｡" EF BD A1 < "😀" F0 9F 98
    // 80), where java.lang.String order would put "😀" (D83D) first
    val tied = s.findSimilar(twin, k = 3, namespace = "main")
    assert(tied.map(_.id) == Seq("a-twin", "｡", "😀"))
    assert(tied.map(_.score).distinct.size == 1)
    // the zero vector scores cosine 0 against everything, never NaN
    val zeroQ = s.findSimilar(Seq.fill(Dim)(0f), k = 1000, namespace = "mixed")
    assert(zeroQ.size == 23 && zeroQ.forall(_.score == 0.0))
    assert(zeroQ.map(_.id) == zeroQ.map(_.id).sortBy(id =>
      org.apache.spark.unsafe.types.UTF8String.fromString(id)))
    // unknown metric fails the same way on both tiers
    intercept[IllegalArgumentException](s.findSimilar(twin, metric = "hamming", namespace = "main"))
    s.snapshotMaxRows = -1
    try intercept[IllegalArgumentException](s.findSimilar(twin, metric = "hamming", namespace = "main"))
    finally s.snapshotMaxRows = VectorStore.SnapshotMaxRows
  }

  test("the six index paths, single and batch, filtered and starved: snapshot and Spark tiers agree") {
    val s = mainStore()
    val rnd = new Random(5)
    val queries = Seq(twin) ++ Seq.fill(3)(Seq.fill(Dim)(rnd.nextFloat() * 2 - 1))
    val filters = Seq(
      (Map.empty[String, String], Map.empty[String, String]),
      (Map("grp" -> "a"), Map.empty[String, String]),
      (Map.empty[String, String], Map("$.tag.name" -> "t2")),
      // 12 far rows: near-origin probes propose none, the rescue answers
      (Map("grp" -> "rare"), Map.empty[String, String]))
    def batch(idx: String, f: Map[String, String], jf: Map[String, String],
              ns: String = "main"): Seq[Seq[SearchHit]] =
      s.searchBatch(queries, 10, "cosine", ns, f, jf, approx = true, index = idx)
    val routes = Indexes.flatMap { idx =>
      filters.flatMap { case (f, jf) =>
        val what = s"$idx/$f/$jf"
        queries.take(2).map(q => single(s"single $what", "main")(
          s.findSimilar(q, 10, namespace = "main", filter = f, jsonFilter = jf,
            approx = true, index = idx))) :+
          batched(s"batch $what", "main")(batch(idx, f, jf))
      } ++ Seq(
        single(s"unknown namespace $idx", "nowhere")(
          s.findSimilar(twin, 10, namespace = "nowhere", approx = true, index = idx)),
        batched(s"unknown namespace batch $idx", "nowhere")(
          batch(idx, Map.empty, Map.empty, "nowhere")))
    }
    val answers = parity(s, routes)
    routes.zip(answers).foreach { case (r, a) =>
      if (r.what.contains("grp") && r.ns == "main")
        assert(a.forall(_.size == 10), s"${r.what}: the filtered search must fill k")
    }
    // a permanently starved filter (3 rows < k): the first search probes
    // and rescues, the next skips the probe; both, on both tiers. The
    // unrelated write between the tiers bumps the epoch, which drops the
    // recorded starvation fact (this namespace's rows are unchanged).
    val scarce = Map("grp" -> "scarce")
    def starved(): Seq[SearchHit] =
      s.findSimilar(twin, 10, namespace = "main", filter = scarce, approx = true, index = "ivf")
    val skips0 = s.starvedProbeSkips.get()
    val snapRescue = starved()
    val snapSkip = starved()
    assert(s.starvedProbeSkips.get() == skips0 + 1)
    s.insert(twin, Map.empty, "elsewhere")
    s.snapshotMaxRows = -1
    val (sparkRescue, sparkSkip) =
      try (starved(), starved()) finally s.snapshotMaxRows = VectorStore.SnapshotMaxRows
    assert(s.starvedProbeSkips.get() == skips0 + 2)
    assert(snapRescue.size == 3)
    Seq(snapSkip, sparkRescue, sparkSkip).foreach(assertSame(snapRescue, _, "starved ivf"))
  }

  test("read-your-writes on the snapshot tier after every kind of mutation") {
    val s = new VectorStore(spark)
    val ns = "fresh"
    def near(v: Seq[Float]): Seq[SearchHit] = {
      val hits = s.findSimilar(v, k = 3, metric = "l2", namespace = ns)
      assert(s.snapshot(ns).exists(_.epoch == s.currentEpoch),
        "the read must serve from a snapshot at the current epoch")
      hits
    }
    val rnd = new Random(9)
    def vec = Seq.fill(4)(rnd.nextFloat())

    val v1 = vec
    val id1 = s.insert(v1, Map("k" -> "1"), ns)
    assert(near(v1).head.id == id1)

    val (v2, v3) = (vec, vec)
    val ids = s.upsertMany(Seq((v2, Map("k" -> "2")), (v3, Map("k" -> "3"))), ns)
    assert(near(v2).head.id == ids.head && near(v3).head.id == ids(1))

    val v4 = vec
    val jid = s.upsertManyJson(Seq((v4, """{"k": "4", "deep": {"x": 1}}""")), ns).head
    val jhit = near(v4).head
    assert(jhit.id == jid && jhit.metadataJson == """{"k": "4", "deep": {"x": 1}}""")

    val v5 = vec
    s.upsert(id1, v5, Map("k" -> "overwritten"), ns)
    val over = near(v5).head
    assert(over.id == id1 && over.values.toSeq == v5 && over.metadata("k") == "overwritten")
    assert(s.findSimilar(v5, k = 100, metric = "l2", namespace = ns).count(_.id == id1) == 1,
      "an overwrite leaves one row")

    s.delete(Seq(ids.head), ns)
    assert(!near(v2).exists(_.id == ids.head))

    val v6 = vec
    import spark.implicits._
    s.loadFrame(Seq(("bulk1", v6, Map("k" -> "6"))).toDF("id", "values", "metadata"), ns)
    assert(near(v6).head.id == "bulk1" && near(v6).head.metadataJson == """{"k":"6"}""")

    val before = near(v6)
    s.compact()
    assertSame(before, near(v6), "compact keeps the contents")
    assert(s.rangeSearch(v6, 0.0, "l2", ns).map(_.id) == Seq("bulk1"))
    assert(s.findSimilarBatch(Seq(v4, v6), k = 1, metric = "l2", namespace = ns)
      .map(_.head.id) == Seq(jid, "bulk1"))

    s.deleteNamespace(ns)
    assert(near(v6).isEmpty)

    val v7 = vec
    val id7 = s.insert(v7, Map.empty, ns)
    assert(near(v7).head.id == id7)
    s.clear()
    assert(near(v7).isEmpty)
  }

  test("a namespace that grows past the bound switches to the Spark path") {
    val s = new VectorStore(spark)
    s.snapshotMaxRows = 5
    val rnd = new Random(4)
    def vec = Seq.fill(4)(rnd.nextFloat())
    s.upsertMany(Seq.fill(5)((vec, Map.empty[String, String])), "grow")
    val q = vec
    assert(s.findSimilar(q, k = 10, namespace = "grow").size == 5)
    assert(s.snapshot("grow").map(_.rows).contains(5))
    assert(s.explainSearch(q, namespace = "grow").notes
      .exists(_.contains(s"driver snapshot (epoch ${s.currentEpoch}, 5 rows)")))
    val id = s.insert(q, Map.empty, "grow")
    val hits = s.findSimilar(q, k = 10, namespace = "grow")
    assert(hits.size == 6 && hits.head.id == id)
    assert(s.snapshot("grow").isEmpty, "six rows exceed the bound of five")
    assert(s.explainSearch(q, namespace = "grow").notes
      .exists(_.contains("serves from Spark: the namespace holds more than 5 rows")))
    // shrinking back under the bound returns it to the snapshot
    s.delete(Seq(id), "grow")
    assert(s.findSimilar(q, k = 10, namespace = "grow").size == 5)
    assert(s.snapshot("grow").isDefined)
  }

  test("a namespace above the bound runs only the Spark plans across unrelated writes") {
    val s = new VectorStore(spark)
    s.snapshotMaxRows = 5
    import org.apache.spark.sql.functions.{array, col, concat, lit}
    // loaded from a generated frame, not a driver-local one, so counting
    // the namespace is a Spark job rather than a driver-side evaluation
    s.loadFrame(spark.range(6).select(concat(lit("b"), col("id")).as("id"),
      array((1 to 4).map(j => ((col("id") * j) % 5 + 1).cast("float")): _*).as("values")), "big")
    val rnd = new Random(5)
    def vec = Seq.fill(4)(rnd.nextFloat())
    val q = vec
    def search(): Unit = assert(s.findSimilar(q, k = 3, namespace = "big").size == 3)
    search() // decides the tier: above the bound
    assert(s.snapshot("big").isEmpty)
    val plan = TestSpark.jobsOf(search())
    assert(plan >= 1)
    // inserts, upserts and loads cannot shrink "big": no recount
    s.insert(vec, Map.empty, "other")
    s.upsert("u", vec, Map.empty, "other")
    import spark.implicits._
    s.loadFrame(Seq(("f", vec)).toDF("id", "values"), "other")
    assert(TestSpark.jobsOf(search()) == plan, "an unrelated write must not recount the namespace")
    // a delete can shrink a namespace: the next read counts it once more
    s.delete(Seq("u"), "other")
    assert(TestSpark.jobsOf(search()) == plan + 1)
    assert(TestSpark.jobsOf(search()) == plan)
    s.delete(Seq("b0"), "big")
    search()
    assert(s.snapshot("big").map(_.rows).contains(5), "back under the bound")
  }

  test("warm index requests run a fixed number of Spark jobs on each tier, single and batch") {
    val s = mainStore()
    val queries = Seq(twin, twin.map(-_))
    def run(idx: String, batch: Boolean): Unit =
      if (batch) s.searchBatch(queries, 10, "cosine", "main", approx = true, index = idx)
      else s.findSimilar(twin, 10, namespace = "main", approx = true, index = idx)
    /** index → (single, batch) jobs of a warm request: the layout built
      * and the tier decided by the requests before it. */
    def table(): Map[String, (Int, Int)] = Indexes.map { idx =>
      run(idx, batch = false)
      run(idx, batch = true)
      idx -> ((TestSpark.jobsOf(run(idx, batch = false)), TestSpark.jobsOf(run(idx, batch = true))))
    }.toMap
    val onSnapshot = table()
    s.snapshotMaxRows = -1
    val onSpark = try table() finally s.snapshotMaxRows = VectorStore.SnapshotMaxRows
    // the snapshot tier picks the candidates from the layout's rows held
    // on the driver and reranks there; above the bound both are Spark plans
    assert(onSnapshot == Indexes.map(_ -> ((0, 0))).toMap, s"snapshot tier: $onSnapshot")
    // ivf, imi and pq read their layout tables once per layout, so a
    // request pays no parquet listing job
    assert(onSpark == Map("lsh" -> ((11, 9)), "ivf" -> ((4, 8)), "pq" -> ((5, 9)),
      "bq" -> ((12, 7)), "imi" -> ((4, 9)), "hnsw" -> ((4, 7))), s"Spark tier: $onSpark")
  }
}
