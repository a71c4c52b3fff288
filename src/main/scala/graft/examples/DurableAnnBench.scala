package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.store.DurableVectorStore

/** Sources the durable-ANN claims in SCALING.md with measured numbers:
  * load a 64k×64d corpus into a [[DurableVectorStore]], then compare
  * the EXACT read path (full partition scan + TakeOrderedAndProject)
  * against the APPROX path (stamped IVF layout: probed-cell scan ∪
  * delta tail, semi-joined to live) on the same queries — cold build
  * billed separately like any index build, steady-state medians
  * reported for both, plus the path's behavior under post-build
  * mutations (a delete and a fresh append batch: the delete must
  * vanish, the append must be servable with NO rebuild).
  *
  * At 64k rows both paths are seconds-scale and partly overhead-bound
  * (stated, not hidden); the 100 TB argument is the SHAPE — the approx
  * path's distributed work is the probed cells (≈ 2/√cells of the
  * layout) plus a delta bounded by appends since the last rebuild,
  * versus the exact path's full namespace scan.
  * Run: `sbt 'runMain graft.examples.DurableAnnBench'`.
  */
object DurableAnnBench {

  private val N = 65536L
  private val Dim = 64
  private val K = 10
  private val Runs = 5

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, "durable-ann-bench")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_dann_bench_").toString
    val store = new DurableVectorStore(spark, root)

    // deterministic synthetic corpus: smooth per-dim waves, distinct rows
    val df = spark.range(N).select(
      col("id").cast("string").as("id"),
      expr(s"transform(sequence(0, ${Dim - 1}), " +
        "j -> cast(sin(id * 0.137 + j * 1.71) + cos(id * 0.011 * (j + 1)) as float))")
        .as("values"))
    val (_, tLoad) = time { store.loadFrame(df, "bench") }

    val queries: Seq[Seq[Float]] = df.limit(5).collect()
      .map(_.getSeq[Float](1).toSeq).toSeq

    // cold build: first approx search pays layout train+write once
    val (_, tBuild) = time {
      store.findSimilar(queries.head, k = K, namespace = "bench", approx = true)
    }

    def med(approx: Boolean): Double = median(
      (1 to Runs).map { i =>
        time(store.findSimilar(queries(i % queries.size), k = K,
          namespace = "bench", approx = approx))._2
      })

    val exactMed = med(approx = false)
    val approxMed = med(approx = true)

    // recall of the approx path vs exact on the same queries
    val recalls = queries.map { q =>
      val e = store.findSimilar(q, K, "cosine", "bench").map(_.id).toSet
      val a = store.findSimilar(q, K, "cosine", "bench", approx = true)
        .map(_.id).toSet
      a.intersect(e).size.toDouble / K
    }

    // post-build mutations served with NO rebuild: delete the self-match,
    // append an exact duplicate of query 0 under a new id
    val builds0 = store.annBuilds.get()
    store.delete(Seq("0"), "bench")
    store.loadFrame(Seq(("fresh", queries.head)).toDF("id", "values"), "bench")
    val hits = store.findSimilar(queries.head, k = K, namespace = "bench",
      approx = true)
    val mutationOk = !hits.map(_.id).contains("0") && hits.head.id == "fresh"
    val noRebuild = store.annBuilds.get() == builds0
    val (_, tApproxAfter) = time {
      store.findSimilar(queries.head, k = K, namespace = "bench", approx = true)
    }

    // r10: the PQ (IVFADC) read path over the same store — codes-only
    // sweep of the probed cells; cold code-table build billed separately
    val (_, tPqBuild) = time {
      store.findSimilar(queries.head, k = K, namespace = "bench",
        approx = true, index = "pq")
    }
    val pqMed = median(
      (1 to Runs).map { i =>
        time(store.findSimilar(queries(i % queries.size), k = K,
          namespace = "bench", approx = true, index = "pq"))._2
      })
    val pqRecalls = queries.map { q =>
      val e = store.findSimilar(q, K, "cosine", "bench").map(_.id).toSet
      val a = store.findSimilar(q, K, "cosine", "bench", approx = true,
        index = "pq").map(_.id).toSet
      a.intersect(e).size.toDouble / K
    }
    // bytes at rest: the codes table vs the record layout's vector bytes
    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists()) 0L
      else java.nio.file.Files.walk(f.toPath).filter(_.toFile.isFile)
        .mapToLong(_.toFile.length).sum
    }
    val pqAux = store.layoutDir("pq", "bench", Dim).get
    val codesBytes = dirBytes(s"$pqAux/codes")
    val indexBytes = dirBytes(pqAux.stripSuffix("/pq") + "/index")

    // r11: the BQ (sign-bit) read path over the same store — one BIGINT
    // word per 64 dims, xor+popcount candidate kernel; cold grid+pack
    // build billed separately
    val (_, tBqBuild) = time {
      store.findSimilar(queries.head, k = K, namespace = "bench",
        approx = true, index = "bq")
    }
    val bqMed = median(
      (1 to Runs).map { i =>
        time(store.findSimilar(queries(i % queries.size), k = K,
          namespace = "bench", approx = true, index = "bq"))._2
      })
    val bqRecalls = queries.map { q =>
      val e = store.findSimilar(q, K, "cosine", "bench").map(_.id).toSet
      val a = store.findSimilar(q, K, "cosine", "bench", approx = true,
        index = "bq").map(_.id).toSet
      a.intersect(e).size.toDouble / K
    }
    val bqAux = store.layoutDir("bq", "bench", Dim).get
    val bqBytes = dirBytes(s"$bqAux/codes")

    // r10: the staleness trigger — bulk-append past the 0.2 ratio and
    // show the NEXT probe folds the tail exactly once, after which the
    // probe is back to layout speed (the control loop the reference runs
    // per query, index.py:85-89)
    spark.conf.set(store.AnnStalenessCheckMsConf, "0")
    val buildsBefore = store.annBuilds.get()
    val extra = spark.range(N, N + (N / 4)).select(
      col("id").cast("string").as("id"),
      expr(s"transform(sequence(0, ${Dim - 1}), " +
        "j -> cast(sin(id * 0.137 + j * 1.71) + cos(id * 0.011 * (j + 1)) as float))")
        .as("values"))
    store.loadFrame(extra, "bench") // +25% > 0.2 ratio
    val (_, tTrigger) = time {
      store.findSimilar(queries.head, k = K, namespace = "bench", approx = true)
    }
    val triggered = store.annBuilds.get() == buildsBefore + 1
    val (_, tPostTrigger) = time {
      store.findSimilar(queries.head, k = K, namespace = "bench", approx = true)
    }
    val once = store.annBuilds.get() == buildsBefore + 1
    spark.conf.unset(store.AnnStalenessCheckMsConf)

    println(f"DurableAnnBench: n=$N dim=$Dim load=${tLoad}%.1fs " +
      f"build(one-off)=${tBuild}%.1fs pq-build(one-off)=${tPqBuild}%.1fs")
    println(f"  exact  findSimilar median of $Runs: ${exactMed}%.3f s")
    println(f"  approx findSimilar median of $Runs: ${approxMed}%.3f s " +
      f"(approx/exact = ${approxMed / exactMed}%.1fx at this overhead-bound scale)")
    println(f"  pq     findSimilar median of $Runs: ${pqMed}%.3f s")
    println(f"  bq     findSimilar median of $Runs: ${bqMed}%.3f s " +
      f"(grid+pack one-off build ${tBqBuild}%.1f s)")
    println(f"  recall@$K vs exact: ivf ${recalls.sum / recalls.size}%.2f " +
      f"(${recalls.map(r => f"$r%.2f").mkString(",")}), " +
      f"pq ${pqRecalls.sum / pqRecalls.size}%.2f " +
      s"(${pqRecalls.map(r => f"$r%.2f").mkString(",")}), " +
      f"bq ${bqRecalls.sum / bqRecalls.size}%.2f " +
      s"(${bqRecalls.map(r => f"$r%.2f").mkString(",")})")
    println(f"  bytes at rest: pq codes=${codesBytes / 1024}%d KiB, " +
      f"bq codes=${bqBytes / 1024}%d KiB vs " +
      f"records=${indexBytes / 1024}%d KiB " +
      f"(pq ${indexBytes.toDouble / codesBytes}%.0fx, " +
      f"bq ${indexBytes.toDouble / bqBytes}%.0fx smaller at dim=$Dim; " +
      "the ratios grow with dim - 768-dim float records are ~3 KB " +
      "against the same 8 pq codes / 12 bq words)")
    println(s"  post-build delete+append served correctly with no rebuild: " +
      s"${mutationOk && noRebuild} " +
      f"(approx after mutations: ${tApproxAfter}%.3f s)")
    println(f"  staleness trigger: +25%% appends -> rebuild fired=$triggered " +
      f"exactly-once=$once (probe w/ rebuild ${tTrigger}%.1f s, " +
      f"next probe ${tPostTrigger}%.3f s)")
    println("  caveat: at 64k rows both paths carry fixed per-query job " +
      "overhead; the 100 TB argument is the scan-shape ratio " +
      "(probed cells + delta vs full namespace) and the codes/records " +
      "byte ratio, not this wall-clock.")
    spark.stop()
  }
}
