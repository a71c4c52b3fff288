package graft

import scala.util.Random

import org.apache.spark.sql.functions.{array, col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SearchHit
import graft.store.{DurableVectorStore, VectorStore}

/** The durable store's two serving tiers: a namespace of at most
  * [[VectorStore.SnapshotMaxRows]] row versions answers its exact reads
  * and its index reranks from a driver snapshot stamped with the files the
  * read sees; larger ones run the Spark plans. Parity: every durable route
  * gives the same hits on both tiers of one store, live and as-of (ids,
  * bit-equal scores, values, metadata, metadataJson); the Spark tier is
  * reached on small data by lowering the bound. Freshness: a read sees
  * every commit whose files have landed, this process's or another's. */
class DurableSnapshotSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Dim = 8
  private val Indexes = Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")
  private val twin = Seq(0.3f, -0.2f, 0.7f, 0.1f, -0.5f, 0.4f, 0.2f, -0.1f)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dsnap_").toString

  /** A named route returning positional answers (one for a single query). */
  private final case class Route(what: String, run: () => Seq[Seq[SearchHit]])

  private def single(what: String)(run: => Seq[SearchHit]): Route = Route(what, () => Seq(run))

  private def batched(what: String)(run: => Seq[Seq[SearchHit]]): Route = Route(what, () => run)

  /** Runs every route on the snapshot tier, then on the Spark tier of the
    * same store (same layouts), and requires the same answers. Returns the
    * snapshot tier's. */
  private def parity(d: DurableVectorStore, routes: Seq[Route]): Seq[Seq[Seq[SearchHit]]] = {
    d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    val onSnapshot = routes.map(_.run())
    d.snapshotMaxRows = -1
    val onSpark = try routes.map(_.run()) finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    routes.indices.foreach { i =>
      assert(onSnapshot(i).size == onSpark(i).size, s"${routes(i).what}: result count")
      onSnapshot(i).zip(onSpark(i)).zipWithIndex.foreach { case ((a, b), j) =>
        TestSpark.assertSameHits(a, b, s"${routes(i).what} [$j]")
      }
    }
    onSnapshot
  }

  /** "main": uniform 8-d rows from loadFrame (flat and JSON metadata) and
    * the JSON insert path, three ids tied on one vector whose UTF-8 and
    * UTF-16 orders disagree, a zero vector, a far "rare" cluster (12 rows)
    * and a "scarce" one (3 rows). */
  private def load(d: DurableVectorStore): Unit = {
    val sp = spark
    import sp.implicits._
    val rnd = new Random(7)
    def vec = Seq.fill(Dim)(rnd.nextFloat() * 2 - 1)
    d.loadFrame((0 until 150).map(i => (s"r$i", vec, Map("grp" -> Seq("a", "b", "c")(i % 3))))
      .toDF("id", "values", "metadata"), "main")
    d.loadFrame((0 until 40).map(i => (s"j$i", vec,
      s"""{"grp": "${Seq("a", "b")(i % 2)}", "tag": {"name": "t${i % 4}"}, "n": $i}""",
      Map("grp" -> Seq("a", "b")(i % 2)))).toDF("id", "values", "metadataJson", "metadata"), "main")
    d.upsertManyJson((0 until 10).map(_ => (vec, """{"grp": "a", "tag": {"name": "t1"}}""")), "main")
    d.loadFrame((Seq("｡", "😀", "a-twin").map(id => (id, twin, Map("grp" -> "a"))) ++
      Seq(("zero", Seq.fill(Dim)(0f), Map("grp" -> "b"))) ++
      (0 until 12).map(i => (s"rare$i", Seq.fill(Dim)(40f + i), Map("grp" -> "rare"))) ++
      (0 until 3).map(i => (s"scarce$i", Seq.fill(Dim)(-40f - i), Map("grp" -> "scarce"))))
      .toDF("id", "values", "metadata"), "main")
  }

  private def batchIndex(d: DurableVectorStore, idx: String, qs: Seq[Seq[Float]],
                         f: Map[String, String], jf: Map[String, String],
                         ns: String = "main"): Seq[Seq[SearchHit]] = idx match {
    case "ivf" => d.findSimilarBatchApprox(qs, 10, "cosine", ns, filter = f, jsonFilter = jf)
    case _ => d.searchBatch(qs, 10, namespace = ns, approx = true, index = idx,
      filter = f, jsonFilter = jf)
  }

  test("every exact, as-of and index route: snapshot and Spark tiers agree, live and as-of") {
    val d = new DurableVectorStore(spark, tmp())
    // no staleness rebuild between the tiers: both must rank over one layout
    spark.conf.set(d.AnnStalenessRatioConf, "0")
    try {
      load(d)
      val h0 = d.currentSeq()
      val rnd = new Random(5)
      val queries = Seq(twin, Seq.fill(Dim)(0f)) ++ Seq.fill(2)(Seq.fill(Dim)(rnd.nextFloat() * 2 - 1))
      // layouts built at h0, so the later commits run through the kill
      // set and the delta tail
      Indexes.foreach(idx => d.findSimilar(twin, 10, approx = true, index = idx, namespace = "main"))
      d.findSimilar(twin, 10, "ip", "main", approx = true)
      // post-build commits: a delete (tied id and a near row), an upsert
      // overwrite (shadow tombstone + new version), fresh inserts
      val near = d.findSimilar(queries(2), 3, namespace = "main").map(_.id)
      assert(d.delete(Seq("a-twin", near.head), "main").size == 2)
      val h1 = d.currentSeq()
      val sp = spark
      import sp.implicits._
      d.loadFrame(Seq((near(1), queries(2).map(_ * 2), Map("grp" -> "a")),
        ("fresh0", queries(3), Map("grp" -> "a")), ("fresh1", twin, Map("grp" -> "b")))
        .toDF("id", "values", "metadata"), "main")
      val h2 = d.currentSeq()
      d.insertJson(queries(2), """{"grp": "a", "tag": {"name": "t2"}}""", "main")
      val filters = Seq(
        (Map.empty[String, String], Map.empty[String, String]),
        (Map("grp" -> "a"), Map.empty[String, String]),
        (Map.empty[String, String], Map("$.tag.name" -> "t1")),
        // 12 far rows: near-origin probes propose none, the rescue answers
        (Map("grp" -> "rare"), Map.empty[String, String]))
      val exact = for {
        ns <- Seq("main", "nowhere"); metric <- Seq("l2", "cosine", "ip")
        (f, jf) <- filters; what = s"$ns/$metric/$f/$jf"
        route <- Seq(
          single(s"exact $what")(d.findSimilar(queries(0), 3, metric, ns, filter = f, jsonFilter = jf)),
          // k above the row count returns every matching row
          single(s"exact k=1000 $what")(
            d.findSimilar(queries(3), 1000, metric, ns, filter = f, jsonFilter = jf)),
          batched(s"batch $what")(d.findSimilarBatch(queries, 5, metric, ns, f, jf))) ++
          Seq(h0, h1, h2).flatMap(h => Seq(
            single(s"exact as-of $h $what")(
              d.findSimilarAsOf(queries(1), h, 4, metric, ns, filter = f, jsonFilter = jf)),
            batched(s"batch as-of $h $what")(
              d.findSimilarBatchAsOf(queries, h, 4, metric, ns, filter = f, jsonFilter = jf))))
      } yield route
      val indexed = Indexes.flatMap { idx =>
        filters.flatMap { case (f, jf) =>
          val what = s"$idx/$f/$jf"
          Seq(
            single(s"single $what")(d.findSimilar(queries(0), 10, namespace = "main",
              approx = true, index = idx, filter = f, jsonFilter = jf)),
            batched(s"batch $what")(batchIndex(d, idx, queries, f, jf)))
        } ++ Seq(h0, h1, h2).flatMap(h => Seq(
          single(s"single as-of $h $idx")(d.findSimilarAsOf(queries(2), h, 10,
            namespace = "main", approx = true, index = idx)),
          batched(s"batch as-of $h $idx")(d.findSimilarBatchAsOf(queries, h, 10,
            namespace = "main", approx = true, index = idx, filter = Map("grp" -> "a"))))) ++ Seq(
          single(s"k=1000 $idx")(d.findSimilar(queries(3), 1000, namespace = "main",
            approx = true, index = idx)),
          single(s"unknown namespace $idx")(
            d.findSimilar(twin, 10, namespace = "nowhere", approx = true, index = idx)),
          batched(s"unknown namespace batch $idx")(
            batchIndex(d, idx, queries, Map.empty, Map.empty, "nowhere")))
      } ++ Seq("l2", "ip").map(m => single(s"ivf $m")(
        d.findSimilar(queries(3), 10, m, "main", approx = true, index = "ivf")))
      val answers = parity(d, exact ++ indexed)
      indexed.zip(answers.drop(exact.size)).foreach { case (r, a) =>
        if (r.what.contains("rare"))
          assert(a.forall(_.size == 10), s"${r.what}: the filtered search must fill k")
      }
      assert(d.exactRescues.get() > 0, "the rare filter exercised the starved rescue")
      // ties: Spark orders ids by UTF-8 bytes ("｡" EF BD A1 < "😀" F0 9F
      // 98 80); "a-twin" was deleted at h1 and is back at h0, "fresh1"
      // holds the same vector since h2
      assert(d.findSimilar(twin, 3, namespace = "main").map(_.id) == Seq("fresh1", "｡", "😀"))
      assert(d.findSimilarAsOf(twin, h0, 3, namespace = "main").map(_.id) ==
        Seq("a-twin", "｡", "😀"))
      // unknown metric fails the same way on both tiers
      intercept[IllegalArgumentException](d.findSimilar(twin, metric = "hamming", namespace = "main"))
      d.snapshotMaxRows = -1
      try intercept[IllegalArgumentException](d.findSimilar(twin, metric = "hamming", namespace = "main"))
      finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    } finally spark.conf.unset(d.AnnStalenessRatioConf)
  }

  test("read-your-writes on the snapshot tier, across compaction and another process's commit") {
    val root = tmp()
    val d = new DurableVectorStore(spark, root)
    val ns = "fresh"
    val rnd = new Random(9)
    def vec = Seq.fill(4)(rnd.nextFloat())
    def near(v: Seq[Float], store: DurableVectorStore = d): Seq[SearchHit] = {
      val hits = store.findSimilar(v, k = 3, metric = "l2", namespace = ns)
      assert(store.durableSnapshot(ns).isDefined, "the read must serve from a snapshot")
      hits
    }
    val sp = spark
    import sp.implicits._
    val v1 = vec
    val id1 = d.insertJson(v1, """{"k": "1"}""", ns)
    assert(near(v1).head.id == id1)
    val (v2, v3) = (vec, vec)
    d.loadFrame(Seq(("b2", v2, Map("k" -> "2")), ("b3", v3, Map("k" -> "3")))
      .toDF("id", "values", "metadata"), ns)
    assert(near(v2).head.id == "b2" && near(v3).head.id == "b3")
    // upsert overwrite: one row, the new values and metadata
    val hOld = d.currentSeq()
    val v4 = vec
    d.loadFrame(Seq(("b2", v4, Map("k" -> "over"))).toDF("id", "values", "metadata"), ns)
    val over = near(v4).head
    assert(over.id == "b2" && over.values.toSeq == v4 && over.metadata("k") == "over")
    assert(d.findSimilar(v4, k = 100, metric = "l2", namespace = ns).count(_.id == "b2") == 1)
    assert(d.findSimilarAsOf(v2, hOld, 1, "l2", ns).head.values.toSeq == v2,
      "the as-of read still sees the overwritten version")
    d.delete(Seq("b3"), ns)
    assert(!near(v3).exists(_.id == "b3"))
    val hDel = d.currentSeq()
    // compaction folds history: reads at stamps before it return the
    // folded view, on both tiers
    def asOfBoth(h: Long): (Seq[SearchHit], Seq[SearchHit]) = {
      val onSnap = d.findSimilarAsOf(v2, h, 10, "l2", ns)
      d.snapshotMaxRows = -1
      try (onSnap, d.findSimilarAsOf(v2, h, 10, "l2", ns))
      finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    }
    val beforeLive = near(v1)
    d.compact()
    TestSpark.assertSameHits(beforeLive, near(v1), "compact keeps the live set")
    Seq(hOld, hDel).foreach { h =>
      val (a, b) = asOfBoth(h)
      TestSpark.assertSameHits(a, b, s"as-of $h after compaction")
      assert(!a.exists(_.id == "b3") && !a.exists(x => x.id == "b2" && x.values.toSeq == v2),
        s"as-of $h after compaction is the folded view")
    }
    // a namespace whose partition directory name escapes characters:
    // both tiers see the same rows
    Seq("a/b c:d=%#").foreach { odd =>
      d.loadFrame(Seq(("o1", v1, Map("k" -> "o"))).toDF("id", "values", "metadata"), odd)
      val onSnap = d.findSimilar(v1, 3, "l2", odd)
      assert(onSnap.map(_.id) == Seq("o1"), s"namespace '$odd'")
      d.snapshotMaxRows = -1
      try TestSpark.assertSameHits(onSnap, d.findSimilar(v1, 3, "l2", odd), s"namespace '$odd'")
      finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    }
    // the empty namespace has no partition directory (Spark would write
    // the rows to its default partition and read them back under a null
    // namespace): every write path refuses it, and nothing is written
    def files(): Seq[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      import scala.jdk.CollectionConverters._
      try w.iterator().asScala.map(_.toString).toSeq.sorted finally w.close()
    }
    val before = files()
    intercept[IllegalArgumentException](
      d.loadFrame(Seq(("o1", v1, Map("k" -> "o"))).toDF("id", "values", "metadata"), ""))
    intercept[IllegalArgumentException](d.insertJson(v1, """{"k": "o"}""", ""))
    intercept[IllegalArgumentException](d.upsertManyJson(Seq((v1, "{}")), ""))
    assert(files() == before, "a refused write left files behind")
    assert(!files().exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    // another process's commit on the same root: seen by this store's
    // next read, with no TTL wait
    near(v1)
    val other = new DurableVectorStore(spark, root)
    val v5 = vec
    val id5 = other.insertJson(v5, """{"k": "5"}""", ns)
    assert(near(v5).head.id == id5)
    other.delete(Seq(id5), ns)
    assert(!near(v5).exists(_.id == id5))
  }

  test("exact, as-of and batch exact run no Spark job on a warm snapshot; above the bound runs the plans with no recount") {
    val d = new DurableVectorStore(spark, tmp())
    spark.conf.set(d.TombRefreshMsConf, "0") // no time-elected tombstone recount
    try {
      val sp = spark
      import sp.implicits._
      val rnd = new Random(3)
      def vec = Seq.fill(4)(rnd.nextFloat())
      d.loadFrame((0 until 20).map(i => (s"s$i", vec, Map("g" -> (i % 2).toString)))
        .toDF("id", "values", "metadata"), "small")
      d.delete(Seq("s0"), "small")
      val h = d.currentSeq()
      val q = vec
      assert(d.findSimilar(q, 3, namespace = "small").size == 3) // warms the snapshot
      assert(TestSpark.jobsOf(d.findSimilar(q, 3, namespace = "small", filter = Map("g" -> "1"))) == 0)
      assert(TestSpark.jobsOf(d.findSimilarAsOf(q, h, 3, namespace = "small")) == 0)
      assert(TestSpark.jobsOf(d.findSimilarBatch(Seq(q, vec), 3, namespace = "small")) == 0)
      assert(TestSpark.jobsOf(d.findSimilarBatchAsOf(Seq(q, vec), h, 3, namespace = "small")) == 0)
      assert(TestSpark.jobsOf(d.findSimilar(q, 3, namespace = "nowhere")) == 0)

      // above the bound: loaded from a generated frame, so the snapshot
      // collect is a Spark job, not a driver-side evaluation
      d.snapshotMaxRows = 5
      d.loadFrame(spark.range(6).select(concat(lit("b"), col("id")).as("id"),
        array((1 to 4).map(j => ((col("id") * j) % 5 + 1).cast("float")): _*).as("values")), "big")
      def search(): Unit = assert(d.findSimilar(q, k = 3, namespace = "big").size == 3)
      search() // decides the tier: above the bound
      assert(d.durableSnapshot("big").isEmpty)
      val plan = TestSpark.jobsOf(search())
      assert(plan >= 1)
      // inserts into it or another namespace cannot shrink it: no recount
      d.insertJson(vec, "{}", "big")
      d.insertJson(vec, "{}", "other")
      d.loadFrame(Seq(("f", vec)).toDF("id", "values"), "big")
      assert(TestSpark.jobsOf(search()) == plan, "an insert must not recount the namespace")
      // a new tombstone file could: the next read counts it once more
      d.delete(Seq("f"), "big")
      val recount = TestSpark.jobsOf(search())
      val after = TestSpark.jobsOf(search())
      assert(recount > after && TestSpark.jobsOf(search()) == after)
    } finally {
      spark.conf.unset(d.TombRefreshMsConf)
      d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    }
  }

  test("warm index requests run a fixed number of Spark jobs on each tier, single and batch") {
    val d = new DurableVectorStore(spark, tmp())
    // no staleness count and no tombstone recount between requests
    spark.conf.set(d.AnnStalenessRatioConf, "0")
    spark.conf.set(d.TombRefreshMsConf, "0")
    try {
      load(d)
      val queries = Seq(twin, twin.map(-_))
      def run(idx: String, batch: Boolean): Unit =
        if (batch) d.searchBatch(queries, 10, namespace = "main", approx = true, index = idx)
        else d.findSimilar(twin, 10, namespace = "main", approx = true, index = idx)
      /** index → (single, batch) jobs of a warm request: the layouts built
        * and the tier decided by the requests before it. */
      def table(): Map[String, (Int, Int)] = Indexes.map { idx =>
        run(idx, batch = false)
        run(idx, batch = true)
        idx -> ((TestSpark.jobsOf(run(idx, batch = false)), TestSpark.jobsOf(run(idx, batch = true))))
      }.toMap
      val onSnapshot = table()
      d.snapshotMaxRows = -1
      val onSpark = try table() finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
      // the snapshot tier collects only the candidate ids, so only
      // candidate generation runs jobs; above the bound the rerank is a
      // Spark plan too
      assert(onSnapshot == Map("lsh" -> ((2, 2)), "ivf" -> ((1, 2)), "pq" -> ((2, 4)),
        "bq" -> ((1, 4)), "imi" -> ((1, 2)), "hnsw" -> ((1, 1))), s"snapshot tier: $onSnapshot")
      assert(onSpark == Map("lsh" -> ((6, 11)), "ivf" -> ((3, 11)), "pq" -> ((5, 13)),
        "bq" -> ((4, 13)), "imi" -> ((3, 11)), "hnsw" -> ((3, 10))), s"Spark tier: $onSpark")
    } finally {
      spark.conf.unset(d.AnnStalenessRatioConf)
      spark.conf.unset(d.TombRefreshMsConf)
    }
  }

  test("a namespace that grows past the bound moves onto Spark and returns after a compaction") {
    val d = new DurableVectorStore(spark, tmp())
    d.snapshotMaxRows = 5
    val rnd = new Random(4)
    def vec = Seq.fill(4)(rnd.nextFloat())
    val sp = spark
    import sp.implicits._
    d.loadFrame((0 until 5).map(i => (s"g$i", vec)).toDF("id", "values"), "grow")
    val q = vec
    assert(d.findSimilar(q, k = 10, namespace = "grow").size == 5)
    assert(d.durableSnapshot("grow").map(_.versions).contains(5))
    assert(d.explainSearch(q, 10, "cosine", "grow", approx = false, "ivf", Map.empty, Map.empty, None)
      .notes.exists(_.contains("driver snapshot (generation 0, 5 row versions)")))
    d.loadFrame(Seq(("g5", q)).toDF("id", "values"), "grow")
    val hits = d.findSimilar(q, k = 10, namespace = "grow")
    assert(hits.size == 6 && hits.head.id == "g5")
    assert(d.durableSnapshot("grow").isEmpty, "six versions exceed the bound of five")
    assert(d.explainSearch(q, 10, "cosine", "grow", approx = false, "ivf", Map.empty, Map.empty, None)
      .notes.exists(_.contains("Spark: above the bound")))
    // deletes add versions (tombstones); the fold drops them and the rows
    d.delete(Seq("g0", "g1"), "grow")
    assert(d.findSimilar(q, k = 10, namespace = "grow").size == 4)
    assert(d.durableSnapshot("grow").isEmpty, "4 rows + 2 tombstones = 8 versions")
    d.compact()
    assert(d.findSimilar(q, k = 10, namespace = "grow").map(_.id).toSet ==
      Set("g2", "g3", "g4", "g5"))
    assert(d.durableSnapshot("grow").map(s => (s.gen, s.versions)).contains((1, 4)),
      "back under the bound after the compaction")
  }
}
