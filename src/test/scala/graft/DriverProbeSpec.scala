package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.model.SearchHit
import graft.store.{DurableVectorStore, VectorStore}

/** The driver probe: on a snapshot-tier namespace every index layout
  * picks its candidates from rows held on the driver. Parity: the driver
  * probe proposes the same candidate ids as the Spark frames of the same
  * layouts (the Spark tier, reached by lowering the bound of the same
  * store), and the searches return the same hits bit for bit — six
  * indexes × two mounts × {single, batch} × {no filter, flat filter,
  * JSON filter}, after a post-build metadata change, a post-build insert
  * and a compaction, durable as-of at two seqs, with ids whose UTF-8 and
  * UTF-16 orders disagree tied inside the pq and bq cuts. */
class DriverProbeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Dim = 8
  private val Indexes = Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")
  private val Filters = Seq(
    (Map.empty[String, String], Map.empty[String, String]),
    (Map("grp" -> "a"), Map.empty[String, String]),
    (Map.empty[String, String], Map("$.tag" -> "t1")))

  private val rnd = new Random(11)
  private def vec: Seq[Float] = Seq.fill(Dim)(rnd.nextFloat() * 2 - 1)
  private val dup = vec
  private val twin = vec
  private val queries = Seq(dup, twin)

  /** 150 random rows, 60 rows on one vector whose ids start with "｡" or
    * "😀" (UTF-8 puts every "｡" id first, UTF-16 every "😀" one; 60 tied
    * rows straddle the 50-row pq and bq cuts), three more tied on another. */
  private def rows: Seq[(String, Seq[Float], Map[String, String])] = {
    def md(i: Int) = Map("grp" -> Seq("a", "b", "c")(i % 3), "tag" -> s"t${i % 4}")
    (0 until 150).map(i => (s"r$i", vec, md(i))) ++
      (0 until 60).map(i => (s"${if (i % 2 == 0) "｡" else "😀"}$i", dup, md(i))) ++
      Seq("a-twin", "｡", "😀").map(id => (id, twin, Map("grp" -> "a", "tag" -> "t1")))
  }

  private def frame(rs: Seq[(String, Seq[Float], Map[String, String])]) = {
    val sp = spark
    import sp.implicits._
    rs.toDF("id", "values", "metadata")
  }

  /** One tier's answers: per (index, filter, shape), the candidate sets
    * and the hits. */
  private type Answers = Seq[(String, Seq[Set[String]], Seq[Seq[SearchHit]])]

  private def compare(onDriver: Answers, onSpark: Answers, phase: String): Unit = {
    assert(onDriver.map(_._1) == onSpark.map(_._1))
    onDriver.zip(onSpark).foreach { case ((what, dc, dh), (_, sc, sh)) =>
      assert(dc == sc, s"$phase $what: candidates differ")
      assert(dc.exists(_.nonEmpty), s"$phase $what: no candidates")
      assert(dh.size == sh.size, s"$phase $what: result count")
      dh.zip(sh).zipWithIndex.foreach { case ((a, b), j) =>
        TestSpark.assertSameHits(a, b, s"$phase $what [$j]")
      }
    }
  }

  /** Runs `body`, then unpersists every RDD it left persisted: the
    * stores die with the test, and their pinned frames and checkpointed
    * row sets would otherwise leave the session's persisted-RDD census
    * whenever the ContextCleaner collects them, inside a later suite's
    * census loop. */
  private def releasing(body: => Unit): Unit = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pre.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  private def routes(run: (String, Boolean, Map[String, String], Map[String, String]) =>
                       (Seq[Set[String]], Seq[Seq[SearchHit]])): Answers =
    for {
      idx <- Indexes; (f, jf) <- Filters; batch <- Seq(false, true)
      (cands, hits) = run(idx, batch, f, jf)
    } yield (s"$idx/${if (batch) "batch" else "single"}/$f/$jf", cands, hits)

  test("live: the driver probe proposes the Spark frames' candidates and the same hits") (releasing {
    val s = new VectorStore(spark)
    s.loadFrame(frame(rows), "main")
    def answers(): Answers = routes { (idx, batch, f, jf) =>
      val qs = if (batch) queries else queries.take(1)
      (s.candidateSets(idx, qs, batch, "main"),
        if (batch) s.searchBatch(qs, 10, "cosine", "main", f, jf, approx = true, index = idx)
        else Seq(s.findSimilar(qs.head, 10, namespace = "main", filter = f, jsonFilter = jf,
          approx = true, index = idx)))
    }
    def parity(phase: String): Unit = {
      val onDriver = answers()
      assert(Indexes.forall(i => s.heldLayoutRows.contains((i, "main", Dim))),
        s"$phase: held rows ${s.heldLayoutRows}")
      s.snapshotMaxRows = -1
      val onSpark = try answers() finally s.snapshotMaxRows = VectorStore.SnapshotMaxRows
      compare(onDriver, onSpark, phase)
    }
    parity("built")
    // a post-build metadata change of a tied row (every layout but hnsw
    // rebuilds; hnsw serves its graph plus the id as delta)
    s.upsert("｡0", dup, Map("grp" -> "z", "tag" -> "t1"), "main")
    parity("after a metadata upsert")
    s.insert(dup, Map("grp" -> "a", "tag" -> "t1"), "main")
    assert(s.builds("hnsw").get == 1, "the insert rides hnsw's delta tail")
    parity("after an insert")
    s.compact()
    parity("after compact")
  })

  test("live: a snapshot-tier namespace whose layout holds more rows than the bound probes on Spark") (releasing {
    val s = new VectorStore(spark)
    val rs = rows
    s.loadFrame(frame(rs), "main")
    s.snapshotMaxRows = rs.size - 5
    val q = queries.head
    def search() = s.findSimilar(q, 10, namespace = "main", approx = true, index = "hnsw")
    search() // above the bound: the graph is built and probed on Spark
    // under the bound again; the graph keeps serving (deletes below the
    // stale ratio) and holds more rows than the bound
    s.delete(rs.take(10).map(_._1), "main")
    assert(s.snapshot("main").isDefined)
    val hits = search()
    assert(s.builds("hnsw").get == 1)
    assert(!s.heldLayoutRows.contains(("hnsw", "main", Dim)), "the graph was held on the driver")
    assert(s.explainSearch(q, 10, namespace = "main", approx = true, index = "hnsw").notes
      .contains("candidates: Spark probe (above the bound)"))
    s.snapshotMaxRows = -1
    TestSpark.assertSameHits(hits, search(), "layout above the bound")
  })

  test("durable: the driver probe proposes the Spark frames' candidates and the same hits, live and as-of") (releasing {
    val d = new DurableVectorStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dprobe_").toString)
    // no staleness rebuild between the tiers: both must probe one layout
    spark.conf.set(d.AnnStalenessRatioConf, "0")
    try {
      d.loadFrame(frame(rows), "main")
      def answers(asOf: Option[Long]): Answers = routes { (idx, batch, f, jf) =>
        val qs = if (batch) queries else queries.take(1)
        (d.candidateSets(idx, qs, batch, "main", filter = f, jsonFilter = jf),
          if (batch) d.searchBatch(qs, 10, namespace = "main", approx = true, index = idx,
            filter = f, jsonFilter = jf, asOf = asOf)
          else Seq(asOf.fold(d.findSimilar(qs.head, 10, namespace = "main", approx = true,
            index = idx, filter = f, jsonFilter = jf))(h => d.findSimilarAsOf(qs.head, h, 10,
            namespace = "main", approx = true, index = idx, filter = f, jsonFilter = jf))))
      }
      def parity(phase: String, asOf: Option[Long] = None): Unit = {
        val onDriver = answers(asOf)
        assert(Indexes.forall(i => d.heldLayoutRows.contains((i, "main", Dim))),
          s"$phase: held rows ${d.heldLayoutRows}")
        d.snapshotMaxRows = -1
        val onSpark = try answers(asOf) finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
        compare(onDriver, onSpark, phase)
      }
      parity("built")
      val built = d.currentSeq()
      // the codes still say "a" for this id, its new version "z": the
      // filtered pq/bq cut ranks it, the rerank drops it on both tiers
      d.loadFrame(frame(Seq(("｡0", dup, Map("grp" -> "z", "tag" -> "t1")))), "main")
      parity("after a metadata upsert")
      val upserted = d.currentSeq()
      d.loadFrame(frame(Seq(("new0", dup, Map("grp" -> "a", "tag" -> "t1")))), "main")
      parity("after an insert (delta tail)")
      Seq(built, upserted).foreach(h => parity(s"as of $h", Some(h)))
      assert(d.builds("ivf").get == 1, "one ann layout served every phase so far")
      d.compact()
      parity("after compact")
    } finally spark.conf.unset(d.AnnStalenessRatioConf)
  })
}
