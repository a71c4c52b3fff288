package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** search-mix: set up, warm up, then measure one window untraced; a
  * traced run measures a second, traced window and derives the per-layer
  * metrics from it. */
object ServingRun {

  /** End-to-end figures of one measured window. */
  final case class Window(outcomes: Seq[Outcome], seconds: Double, cpuNs: Long) {
    val ms: Seq[Double] = outcomes.map(_.ms)
    def p50: Double = Stats.median(ms)
    /** The highest percentile with ten samples beyond it. */
    def tailShare: Double = Stats.tailShare(ms.size)
    def tail: Double = Stats.percentile(ms, tailShare)
    def p90: Double = Stats.percentile(ms, 0.90)
    def p95: Double = Stats.percentile(ms, 0.95)
    def rps: Double = outcomes.size / seconds
    def cpuMsPerOp: Double = cpuNs / 1e6 / outcomes.size
    def failures: Seq[String] = outcomes.flatMap(_.error)
    def attempted: Long = outcomes.size
  }

  /** `jvmStartMs` is the process start (epoch ms): set-up runs from it to
    * the end of the cold round, Spark session and corpus load included. */
  def run(spark: SparkSession, work: String, corpusPath: String, seed: Long, seconds: Int,
          tracer: Option[Tracer], jvmStartMs: Long): RunResult = {
    val s = new Serving(spark, work, corpusPath, seed, tracer)
    val m = s.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    // a second untimed round of every class lets the JIT settle before
    // the measured window, so the window measures serving, not warm-up
    s.oneOfEach(m, -1000L)

    def window(): Window = {
      System.gc()
      val check = new Checker(s.corpus)
      val cpu0 = CpuMeter.read()
      val (outs, secs) = s.readers(m, seconds, Serving.Clients, check)
      Window(outs, secs, CpuMeter.read() - cpu0)
    }

    val plain = window()
    val traced = tracer.map { t =>
      val stats0 = stats(m)
      val dirs0 = layoutDirs(s.ivfDir)
      t.calls.clear()
      t.enabled = true
      val w = try window() finally t.enabled = false
      t.drain()
      (w, layers(t, w, plain, stats0, stats(m), layoutDirs(s.ivfDir) -- dirs0))
    }
    m.server.stop()

    val e2e = Seq(("setup_s", setupS, "s"), ("cpu_ms_per_op", plain.cpuMsPerOp, "ms"))
    val perClass = plain.outcomes.groupBy(o => s"${o.req.mount}.${o.req.cls}").toSeq.sortBy(_._1)
      .map { case (k, os) => (s"client.$k.p50_ms", Stats.median(os.map(_.ms)), "ms") }
    val cold = m.cold.asScala.toSeq.sortBy(_._1).map { case (k, o) => (s"cold.$k.ms", o.ms, "ms") }
    val named = e2e ++ Seq(("p50_ms", plain.p50, "ms"), ("tail_ms", plain.tail, "ms"),
      ("tail_share", plain.tailShare, "ratio"), ("ops_per_s", plain.rps, "1/s")) ++
      namedFigures(plain) ++ perClass ++ cold
    val windows = Seq(plain) ++ traced.map(_._1)
    RunResult(e2e, Layers.complete(traced.map(_._2).getOrElse(Nil)), named,
      windows.map(_.attempted).sum, windows.map(_.failures.size.toLong).sum,
      windows.flatMap(_.failures))
  }

  /** The workload's named figures, printed in the summary line. */
  private def namedFigures(w: Window): Seq[(String, Double, String)] =
    Seq(("search_rps", w.rps, "req/s"), ("search_p50_ms", w.p50, "ms"),
      ("search_p90_ms", w.p90, "ms"), ("search_p95_ms", w.p95, "ms"), ("search_samples", w.ms.size.toDouble, "count"),
      ("error_rate", w.failures.size.toDouble / math.max(1L, w.attempted), "ratio"),
      ("recall_at_10", Stats.mean(w.outcomes.flatMap(_.recalls)), "ratio"))

  private def stats(m: Serving#Mounted): JsonNode = {
    val (code, body) = m.client.send("GET", "/stats?durable=true", null)
    require(code == 200, s"GET /stats: $code $body")
    m.client.mapper.readTree(body)
  }

  /** Directories under the benchmark-owned layout root (one per live
    * index layout the run built). */
  private def layoutDirs(root: String): Set[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Set.empty
    else {
      val s = java.nio.file.Files.walk(p, 4)
      try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .filterNot(_.getFileName.toString.startsWith("_")).map(_.toString).toSet
      finally s.close()
    }
  }

  private def layers(t: Tracer, w: Window, plain: Window, s0: JsonNode, s1: JsonNode,
                     newDirs: Set[String]): Seq[(String, Double)] = {
    val calls = t.calls.asScala.toSeq
    val out = Seq.newBuilder[(String, Double)]
    val searchCls = (Schedule.LiveClasses ++ Schedule.DurableClasses).toSet
    val byKey = calls.filter(c => searchCls(c.cls)).groupBy(c => (c.mount, c.cls, c.key))
    val selfMs = w.outcomes.flatMap { o =>
      byKey.get((o.req.mount, o.req.cls, Tracer.keyOf(o.req.queries.head.toSeq)))
        .map(cs => o.ms - cs.map(_.ms).max)
    }
    out += "serving.self_ms_p50" -> Stats.median(selfMs)
    out += "serving.resp_bytes_mean" -> Stats.mean(w.outcomes.map(_.bytes.toDouble))
    def delta(path: String*): Double = {
      def at(n: JsonNode) = path.foldLeft(n)((a, k) => if (a == null) null else a.get(k))
      Option(at(s1)).map(_.asDouble).getOrElse(0.0) - Option(at(s0)).map(_.asDouble).getOrElse(0.0)
    }
    for (mnt <- Seq("live", "durable")) {
      val classes = if (mnt == "live") Schedule.LiveClasses else Schedule.DurableClasses
      val searches = calls.filter(c => c.mount == mnt && searchCls(c.cls))
      classes.foreach { k =>
        val cs = searches.filter(_.cls == k)
        out += s"store.$mnt.$k.ms_p50" -> Stats.median(cs.map(_.ms))
        out += s"spark.$mnt.$k.jobs" -> Stats.mean(cs.map(c => t.workOf(c.group).jobs.get.toDouble))
      }
      def perReq(f: GroupWork => Double) = Stats.mean(searches.map(c => f(t.workOf(c.group))))
      out += s"spark.$mnt.tasks_per_req" -> perReq(_.tasks.get.toDouble)
      out += s"spark.$mnt.exec_cpu_ms_per_req" -> perReq(_.cpuNs.get / 1e6)
      out += s"spark.$mnt.input_bytes_per_req" -> perReq(_.inputBytes.get.toDouble)
      out += s"spark.$mnt.shuffle_bytes_per_req" -> perReq(_.shuffleBytes.get.toDouble)
      out += s"spark.$mnt.outside_jobs_ms_p50" ->
        Stats.median(searches.map(c => t.outsideJobsMs(c.group, c.startMs, c.endMs)))
      val approx = searches.count(c => !Set("exact", "range", "threshold", "exact_asof", "batch_exact")(c.cls))
      val builds =
        if (mnt == "live") newDirs.size + delta("store", "hnsw_graph_builds")
        else Seq("ann", "pq", "bq", "imi", "hnsw", "lsh").map(b => delta("durable", "builds", b)).sum
      out += s"store.$mnt.index_builds" -> builds
      out += s"store.$mnt.index_hit_ratio" -> math.max(0.0, 1.0 - builds / math.max(1, approx))
      val per1k = 1000.0 / math.max(1, searches.size)
      out += s"store.$mnt.starved_skips" ->
        delta(if (mnt == "live") "store" else "durable", "starved_probe_skips") * per1k
      if (mnt == "durable") out += "store.durable.exact_rescues" -> delta("durable", "exact_rescues") * per1k
    }
    out ++= overhead(plain.cpuMsPerOp, w.cpuMsPerOp, "cpu_ms_per_op") ++
      overhead(plain.p50, w.p50, "p50_ms") ++ overhead(plain.rps, w.rps, "ops_per_s")
    out.result()
  }

  def overhead(untraced: Double, traced: Double, name: String): Seq[(String, Double)] =
    Seq(s"harness.trace_overhead_pct.$name" -> 100.0 * (traced - untraced) / untraced)
}
