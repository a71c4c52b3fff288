package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{DurableVectorStore, VectorStore}

/** The driver build: on a snapshot-tier namespace every index layout is
  * built on the driver from the rows it already holds, on both mounts.
  * Parity: a layout built there equals the layout the Spark build makes
  * over the same rows (a second store with the bound at -1) — trained
  * state (centers, codebooks, rotation, midpoints) bit for bit, and every
  * table the layout writes (or, for live lsh and bq, its persisted frame)
  * row for row: every id's cell, pq codes, bq words, lsh buckets, hnsw
  * levels and neighbour lists. Job counts: a snapshot-tier build runs
  * only its table writes, and the first probe after it runs none. */
class DriverBuildSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Dim = 8
  private val Indexes = Seq("lsh", "ivf", "pq", "bq", "imi", "hnsw")

  private val rnd = new Random(23)
  private def vec: Seq[Float] = Seq.fill(Dim)(rnd.nextFloat() * 2 - 1)
  private val q = vec

  /** 300 rows (√300 → 18 ivf cells, a 4×4 imi grid, two hnsw shards under
    * a 200-row shard conf), metadata on some, one id pair whose UTF-8 and
    * UTF-16 orders disagree. */
  private val rows: Seq[(String, Seq[Float], Map[String, String])] =
    (0 until 298).map(i => (s"r$i", vec, if (i % 3 == 0) Map("g" -> s"${i % 5}") else Map.empty[String, String])) ++
      Seq("｡", "😀").map(id => (id, vec, Map("g" -> "x")))

  private def frame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "values", "metadata")
  }

  /** A table's rows, canonical: each row's text (floats print exactly),
    * sorted, under its column names. */
  private def canon(df: DataFrame): (Seq[String], Seq[String]) = {
    def text(x: Any): String = x match {
      case r: Row => r.toSeq.map(text).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, v) => s"${text(k)}->${text(v)}" }
        .sorted.mkString("{", ",", "}")
      case other => String.valueOf(other)
    }
    (df.columns.toSeq, df.collect().map(text).sorted.toSeq)
  }

  /** Every table under a layout directory, by name, read back. */
  private def tables(dir: String): Map[String, DataFrame] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map(f =>
      f.getName -> spark.read.parquet(f.getPath)).toMap

  private def sameTables(what: String, a: Map[String, DataFrame], b: Map[String, DataFrame]): Unit = {
    assert(a.keySet == b.keySet, s"$what: tables ${a.keySet} vs ${b.keySet}")
    a.keySet.foreach { t =>
      val (ca, ra) = canon(a(t))
      val (cb, rb) = canon(b(t))
      assert(ca == cb, s"$what/$t: columns $ca vs $cb")
      assert(ra.nonEmpty && ra == rb, s"$what/$t: ${ra.size} vs ${rb.size} rows, first difference " +
        ra.zip(rb).find(p => p._1 != p._2))
    }
  }

  private def sameTrained(what: String, a: Option[Seq[Array[Array[Double]]]],
                          b: Option[Seq[Array[Array[Double]]]]): Unit = {
    assert(a.isDefined && b.isDefined, s"$what: no layout")
    assert(a.get.size == b.get.size, s"$what: trained matrices")
    a.get.zip(b.get).foreach { case (x, y) =>
      assert(x.length == y.length && x.zip(y).forall { case (u, v) =>
        u.length == v.length && u.zip(v).forall(p => java.lang.Double.compare(p._1, p._2) == 0)
      }, s"$what: trained state differs")
    }
  }

  /** Runs `body` with hnsw split into shards of 200 rows. */
  private def twoShards(body: => Unit): Unit = {
    spark.conf.set(graft.operators.Hnsw.ShardRowsConf, "200")
    try body finally spark.conf.unset(graft.operators.Hnsw.ShardRowsConf)
  }

  /** Unpersists the RDDs `body` left persisted (see DriverProbeSpec). */
  private def releasing(body: => Unit): Unit = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pre.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  test("live: every layout built on the driver equals the Spark-built layout of the same rows") (releasing(twoShards {
    val onDriver = new VectorStore(spark)
    val onSpark = new VectorStore(spark)
    onSpark.snapshotMaxRows = -1
    Seq(onDriver, onSpark).foreach(_.loadFrame(frame, "main"))
    Indexes.foreach { idx =>
      val hits = Seq(onDriver, onSpark).map(_.findSimilar(q, 10, namespace = "main", approx = true, index = idx))
      TestSpark.assertSameHits(hits(0), hits(1), s"live $idx")
      sameTrained(s"live $idx", onDriver.trainedState(idx, "main", Dim), onSpark.trainedState(idx, "main", Dim))
      def layout(s: VectorStore): Map[String, DataFrame] =
        s.pinnedFrame(idx, "main", Dim).map(f => Map("frame" -> f))
          .getOrElse(tables(s.layoutDir(idx, "main", Dim).get))
      sameTables(s"live $idx", layout(onDriver), layout(onSpark))
    }
    assert(onDriver.heldLayoutRows.toSet == Indexes.map((_, "main", Dim)).toSet)
    assert(onSpark.builds.values.map(_.get).sum == 6)
  }))

  test("durable: every layout built on the driver, and the mips ann layout, equals the Spark-built one") (releasing(twoShards {
    def store(bound: Int) = {
      val d = new DurableVectorStore(spark,
        java.nio.file.Files.createTempDirectory("graft_dbuild_").toString)
      d.snapshotMaxRows = bound
      d.loadFrame(frame, "main")
      d
    }
    val onDriver = store(VectorStore.SnapshotMaxRows)
    val onSpark = store(-1)
    spark.conf.set(onDriver.AnnStalenessRatioConf, "0")
    try {
      for (idx <- "ivf" +: Indexes.filter(_ != "ivf"); metric <- if (idx == "ivf") Seq("cosine", "ip") else Seq("cosine")) {
        val what = s"durable $idx/$metric"
        val hits = Seq(onDriver, onSpark).map(_.findSimilar(q, 10, metric, "main", approx = true, index = idx))
        TestSpark.assertSameHits(hits(0), hits(1), what)
        val space = if (metric == "ip") "mips" else "raw"
        sameTrained(what, onDriver.trainedState(idx, "main", Dim, space),
          onSpark.trainedState(idx, "main", Dim, space))
        def dir(d: DurableVectorStore): String =
          if (idx == "ivf") d.annLayoutDir("main", Dim, space).get._1 else d.layoutDir(idx, "main", Dim).get
        sameTables(what, tables(dir(onDriver)), tables(dir(onSpark)))
      }
      assert(onDriver.heldLayoutRows.toSet == (Indexes.map((_, "main", Dim)) :+ (("ivf:mips", "main", Dim))).toSet)
    } finally spark.conf.unset(onDriver.AnnStalenessRatioConf)
  }))

  test("live: a snapshot-tier build runs only its table writes, and the next probe none") (releasing {
    val s = new VectorStore(spark)
    s.loadFrame(frame, "main")
    s.findSimilar(q, 10, namespace = "main") // the snapshot, collected once
    def search(idx: String): Unit = s.findSimilar(q, 10, namespace = "main", approx = true, index = idx)
    val jobs = Indexes.map(idx => idx -> ((TestSpark.jobsOf(search(idx)), TestSpark.jobsOf(search(idx))))).toMap
    // lsh, bq: the persist of the local frame; ivf, imi: index/ + assign/;
    // pq: rot/ + codebook/ + codes/ + codes_flat/; hnsw: graph/
    assert(jobs == Map("lsh" -> ((1, 0)), "bq" -> ((1, 0)), "ivf" -> ((2, 0)), "imi" -> ((2, 0)),
      "pq" -> ((4, 0)), "hnsw" -> ((1, 0))), s"(build, next probe) jobs: $jobs")
    assert(Indexes.forall(s.builds(_).get == 1))
  })

  test("durable: a snapshot-tier build runs only its table writes, and the next probe none; the ann layout " +
    "holds its vectors until the last derived layout is built") (releasing {
    val d = new DurableVectorStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dbuild_jobs_").toString)
    spark.conf.set(d.AnnStalenessRatioConf, "0")
    try {
      d.loadFrame(frame, "main")
      d.findSimilar(q, 10, namespace = "main") // the snapshot, collected once
      def search(idx: String): Unit = d.findSimilar(q, 10, namespace = "main", approx = true, index = idx)
      val order = "ivf" +: Indexes.filter(_ != "ivf")
      val held = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      val jobs = order.map { idx =>
        val js = (TestSpark.jobsOf(search(idx)), TestSpark.jobsOf(search(idx)))
        held += d.holdsBuildVectors("main", Dim)
        idx -> js
      }.toMap
      // ivf (the ann layout): index/ + assign/ + centers/; pq: rot/ +
      // codebook/ + codes/ + codes_flat/; bq: codes/ + codes_flat/ +
      // grid/; lsh: sigs/; imi: index/ + assign/; hnsw: graph/
      assert(jobs == Map("ivf" -> ((3, 0)), "pq" -> ((4, 0)), "bq" -> ((3, 0)), "lsh" -> ((1, 0)),
        "imi" -> ((2, 0)), "hnsw" -> ((1, 0))), s"(build, next probe) jobs: $jobs")
      assert(Indexes.forall(d.builds(_).get == 1))
      // released after the fifth derived layout: a commit's new snapshot
      // would otherwise sit beside a second copy of the vectors
      assert(held == order.map(_ != order.last), s"vectors held after each build: ${order.zip(held)}")
    } finally spark.conf.unset(d.AnnStalenessRatioConf)
  })
}
