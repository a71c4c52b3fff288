package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Opq, Pq}
import graft.store.VectorStore

/** r14 (VERDICT r13 "Next round" #1): the OPQ rotation is wired into
  * the SERVING mounts' PQ layout builds — this pins that the pinned
  * offline recall gain (OpqSpec: 0.735 → 0.990 on a correlated corpus)
  * is actually reachable through the product surface, i.e. the store's
  * `index = "pq"` read path, by running the SAME correlated corpus
  * through two live stores: rotation on (default) vs off
  * ([[Opq.RotateConf]]), recall measured against exact cosine top-k.
  * Everything else about the two arms is identical — codebook recipe,
  * CandN cut, exact rerank — so the delta is the rotation alone. */
class StoreOpqSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val dim = 64
  // big enough that the store's fixed CandN=50 ADC cut discriminates
  // (at 2k rows both arms saturate ~0.98+; the gap is the point)
  private val n = 5000

  /** OpqSpec's correlated corpus: energy in a few strong latent
    * directions, mixed across raw dims by a hidden orthonormal basis —
    * the distribution where raw contiguous subspaces are maximally
    * wasteful and the rotation structurally must win. Seeded. */
  private lazy val corpus: Array[Array[Float]] = {
    val scales = Array.tabulate(dim)(i => if (i < 8) 8.0 - i * 0.7 else 0.15)
    val symRnd = new scala.util.Random(13)
    val sym = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val v = symRnd.nextGaussian(); sym(i)(j) = v; sym(j)(i) = v
    }
    val mix = Opq.jacobiEigen(sym)._2
    val rnd = new scala.util.Random(7)
    def draw(): Array[Float] = {
      val z = Array.tabulate(dim)(i => rnd.nextGaussian() * scales(i))
      Array.tabulate(dim) { r =>
        var a = 0.0; var j = 0
        while (j < dim) { a += mix(j)(r) * z(j); j += 1 }
        a.toFloat
      }
    }
    Array.fill(n)(draw())
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
    while (j < dim) {
      dot += a(j).toDouble * b(j).toDouble
      na += a(j).toDouble * a(j).toDouble
      nb += b(j).toDouble * b(j).toDouble
      j += 1
    }
    if (na > 0 && nb > 0) dot / math.sqrt(na * nb) else 0.0
  }

  /** Loads the corpus into a fresh store. `session` defaults to the
    * shared TestSpark session; the raw-PQ A/B arm passes a CLONED
    * session (`spark.newSession()` — own SQLConf, shared context) so
    * flipping [[Opq.RotateConf]] can never leak into a concurrently
    * running suite or a PQ layout built between set and restore (r15,
    * per advice — the flag read is per-store-session,
    * VectorStore.pqRotateEnabled). */
  private def loadStore(ns: String,
                        session: org.apache.spark.sql.SparkSession = spark): VectorStore = {
    import session.implicits._
    val df = corpus.zipWithIndex
      .map { case (v, i) => (i.toString, v.toSeq) }.toSeq
      .toDF("id", "values")
    val s = new VectorStore(session)
    s.loadFrame(df, ns)
    s
  }

  private val k = 10
  private val nQueries = 15

  /** Mean recall@k of the store's `index="pq"` read path against exact
    * cosine top-k over the loaded namespace (self included — it is a
    * live row, and identically so in both arms). */
  private def storeRecall(s: VectorStore, ns: String): Double =
    (0 until nQueries).map { qi =>
      val exact = corpus.indices
        .sortBy(i => (-cos(corpus(qi), corpus(i)), i)).take(k)
        .map(_.toString).toSet
      val hits = s.findSimilar(corpus(qi).toSeq, k = k, namespace = ns,
        approx = true, index = "pq").map(_.id)
      hits.count(exact).toDouble / k
    }.sum / nQueries

  test("serving-mount OPQ recall >= raw PQ on the correlated corpus, and the gain is material") {
    val sRot = loadStore("opq_on")
    assert(spark.conf.getOption(Opq.RotateConf).forall(_.toBoolean),
      "rotation must be the DEFAULT — the recall gain ships, not hides behind a flag")
    val rotRec = storeRecall(sRot, "opq_on")
    assert(sRot.pqRotation("opq_on", dim).isDefined,
      "default-on store served PQ without a rotation")

    // raw arm on a CLONED session: the flag flip is scoped to this
    // store's own SQLConf — the process-wide TestSpark session never
    // sees it, so no suite ordering can build a raw-PQ layout by
    // accident (r15, per advice)
    val rawSession = spark.newSession()
    rawSession.conf.set(Opq.RotateConf, "false")
    val sRaw = loadStore("opq_off", rawSession)
    val rawRec = storeRecall(sRaw, "opq_off")
    assert(sRaw.pqRotation("opq_off", dim).isEmpty,
      "flag-off store rotated anyway")
    assert(spark.conf.getOption(Opq.RotateConf).forall(_.toBoolean),
      "the A/B flag leaked into the shared session")
    info(f"store-path recall@10: raw=$rawRec%.3f opq=$rotRec%.3f")
    assert(rotRec >= rawRec,
      f"rotation hurt serving recall: $rotRec%.3f < $rawRec%.3f")
    assert(rotRec - rawRec >= 0.02,
      f"no measurable serving-path gain where the offline pin has one: " +
        f"opq=$rotRec%.3f raw=$rawRec%.3f")
  }

  test("rotation artifact persists beside the codebook and IS the layout's rotation") {
    val s = loadStore("opq_art")
    s.findSimilar(corpus(0).toSeq, k = 3, namespace = "opq_art",
      approx = true, index = "pq")
    val aux = s.layoutDir("pq", "opq_art", dim).get
    val rot = s.pqRotation("opq_art", dim).get
    val persisted = spark.read.parquet(s"$aux/rot").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getFloat(2))).toMap
    assert(persisted.size == dim * dim)
    for (i <- 0 until dim; j <- 0 until dim)
      assert(persisted((i, j)) == rot(i)(j),
        s"persisted rot[$i][$j] drifted from the served matrix")
    // and it is orthogonal — the policy is a rotation, not just a matrix
    for (i <- 0 until dim) {
      val norm = (0 until dim).map(j => rot(i)(j).toDouble * rot(i)(j)).sum
      assert(math.abs(norm - 1.0) < 1e-5, s"row $i norm $norm")
    }
  }

  /** r15 (VERDICT r14 "Next round" #5): the DURABLE mount's rotation
    * gain, pinned through its own product surface
    * (`DurableVectorStore.findSimilar(index = "pq")`) rather than
    * inferred from the live mount's pin — same correlated corpus, same
    * A/B structure, each arm on its own session (cloned for the raw
    * arm) and its own LSM root. */
  private def loadDurable(session: org.apache.spark.sql.SparkSession,
                          ns: String): graft.store.DurableVectorStore = {
    import session.implicits._
    val df = corpus.zipWithIndex
      .map { case (v, i) => (i.toString, v.toSeq) }.toSeq
      .toDF("id", "values")
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_dopq_$ns").toString
    val s = new graft.store.DurableVectorStore(session, root)
    s.loadFrame(df, ns)
    s
  }

  private def durableRecall(s: graft.store.DurableVectorStore,
                            ns: String): Double =
    (0 until nQueries).map { qi =>
      val exact = corpus.indices
        .sortBy(i => (-cos(corpus(qi), corpus(i)), i)).take(k)
        .map(_.toString).toSet
      val hits = s.findSimilar(corpus(qi).toSeq, k = k, namespace = ns,
        approx = true, index = "pq").map(_.id)
      hits.count(exact).toDouble / k
    }.sum / nQueries

  test("durable-mount OPQ recall >= raw PQ on the correlated corpus, and the gain is material") {
    val sRot = loadDurable(spark, "dopq_on")
    val rotRec = durableRecall(sRot, "dopq_on")
    assert(sRot.pqRotation("dopq_on", dim).isDefined,
      "default-on durable store served PQ without a rotation")

    val rawSession = spark.newSession()
    rawSession.conf.set(Opq.RotateConf, "false")
    val sRaw = loadDurable(rawSession, "dopq_off")
    val rawRec = durableRecall(sRaw, "dopq_off")
    assert(sRaw.pqRotation("dopq_off", dim).isEmpty,
      "flag-off durable store rotated anyway")
    assert(spark.conf.getOption(Opq.RotateConf).forall(_.toBoolean),
      "the A/B flag leaked into the shared session")
    info(f"durable-path recall@10: raw=$rawRec%.3f opq=$rotRec%.3f")
    assert(rotRec >= rawRec,
      f"rotation hurt durable recall: $rotRec%.3f < $rawRec%.3f")
    assert(rotRec - rawRec >= 0.02,
      f"no measurable durable-path gain where the live pin has one: " +
        f"opq=$rotRec%.3f raw=$rawRec%.3f")
  }

  test("ragged dims (dim % SubSpaces != 0) serve raw PQ rather than a broken rotation") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val oddDim = 10 // not divisible by Pq.SubSpaces = 8
    assert(oddDim % Pq.SubSpaces != 0)
    val df = (0 until 200)
      .map(i => (i.toString, Seq.fill(oddDim)(rnd.nextGaussian().toFloat)))
      .toDF("id", "values")
    val s = new VectorStore(spark)
    s.loadFrame(df, "odd")
    val hits = s.findSimilar(Seq.fill(oddDim)(0.1f), k = 5, namespace = "odd",
      approx = true, index = "pq")
    assert(hits.size == 5)
    assert(s.pqRotation("odd", oddDim).isEmpty,
      "a ragged dim must fall back to raw PQ (allocateRotation's balance premise)")
  }
}
