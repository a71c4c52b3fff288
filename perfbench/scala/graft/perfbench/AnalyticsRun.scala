package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** analytics: sequential passes over ten `SparkEntry.queries` on the
  * generated tables in `data`, in the fixed order of
  * [[Layers.AnalyticsQueries]] (the run's seed changes nothing here: the
  * tables are fixed and a pass is the same work in every run). The first
  * pass is set-up; it writes each result to `out/<query>` as parquet, with
  * `out/oracle_sql.json`, for the DuckDB check. Timed passes materialize
  * through the noop sink. A whole pass is the workload's operation: its
  * CPU time and wall time are the run's figures. */
final class AnalyticsRun(spark: SparkSession, data: String, out: String, tracer: Option[Tracer]) {
  private val queries = Layers.AnalyticsQueries
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One timed execution: construction plus materialization. */
  final case class Exec(query: String, pass: Int, ms: Double, group: String, t0: Long, t1: Long,
                        error: Option[String])

  private def pass(n: Int, sink: (String, org.apache.spark.sql.DataFrame) => Unit,
                   tagged: Boolean): Seq[Exec] =
    queries.map { q =>
      val group = s"aq-$n-$q"
      val fn = SparkEntry.queries(q)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      def body(): Unit = sink(q, fn(spark, data))
      val error =
        try { if (tagged) tracer.get.grouped(group)(body()) else body(); None }
        catch { case e: Exception => Some(s"$q pass $n: $e") }
      Exec(q, n, (System.nanoTime() - n0) / 1e6, group, t0, System.currentTimeMillis(), error)
    }

  private def passes(seconds: Int, first: Int, tagged: Boolean): Seq[Exec] = {
    System.gc()
    val t0 = System.nanoTime()
    val b = Seq.newBuilder[Exec]
    var n = first
    do {
      val cpu0 = CpuMeter.read()
      b ++= pass(n, (_, df) => df.write.format("noop").mode("overwrite").save(), tagged)
      passCpuNs(n) = CpuMeter.read() - cpu0
      n += 1
    } while (System.nanoTime() - t0 < seconds * 1000000000L)
    b.result()
  }

  /** `jvmStartMs` is the process start (epoch ms): set-up runs from it to
    * the end of the first pass, Spark session included. */
  def run(seconds: Int, jvmStartMs: Long): RunResult = {
    Files.createDirectories(Paths.get(out))
    val first = pass(0, (q, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q"), tagged = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val oracle = mapper.createObjectNode()
    queries.foreach(q => SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _)))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), mapper.writeValueAsString(oracle))

    val plain = passes(seconds, 1, tagged = false)
    val e2e = Seq(("setup_s", setupS, "s")) ++ figures(plain).take(1)
    var traced = Seq.empty[Exec]
    val layers = tracer.map { t =>
      t.enabled = true
      traced = try passes(seconds, 1000, tagged = true) finally t.enabled = false
      t.drain()
      val untraced = figures(plain).map(m => m._1 -> m._2).toMap
      val tracedFigures = figures(traced).map(m => m._1 -> m._2).toMap
      val b = Seq.newBuilder[(String, Double)]
      queries.foreach { q =>
        val short = q.takeWhile(_ != '_')
        val xs = traced.filter(_.query == q)
        b += s"analytics.$short.wall_s" -> Stats.median(xs.map(_.ms / 1e3))
        b += s"analytics.$short.jobs" -> Stats.mean(xs.map(x => t.workOf(x.group).jobs.get.toDouble))
        b += s"analytics.$short.exec_cpu_s" -> Stats.mean(xs.map(x => t.workOf(x.group).cpuNs.get / 1e9))
        b += s"analytics.$short.outside_jobs_s" ->
          Stats.median(xs.map(x => t.outsideJobsMs(x.group, x.t0, x.t1) / 1e3))
      }
      val nPasses = math.max(1, traced.map(_.pass).distinct.size)
      b += "analytics.shuffle_bytes" -> traced.map(x => t.workOf(x.group).shuffleBytes.get.toDouble).sum / nPasses
      b += "analytics.spill_bytes" -> traced.map(x => t.workOf(x.group).spillBytes.get.toDouble).sum / nPasses
      Seq("cpu_ms_per_op", "p50_ms", "ops_per_s").foreach { n =>
        b ++= ServingRun.overhead(untraced(n), tracedFigures(n), n)
      }
      b.result()
    }
    val passWalls = walls(plain).map(_ / 1e3)
    val named = e2e ++ figures(plain).drop(1) ++ Seq(("analytics_pass_s", Stats.median(passWalls), "s"),
      ("analytics_passes", passWalls.size.toDouble, "count")) ++
      queries.map(q => (s"query.$q.ms_p50", Stats.median(plain.filter(_.query == q).map(_.ms)), "ms")) ++
      first.map(x => (s"cold.${x.query}.ms", x.ms, "ms"))
    val all = first ++ plain ++ traced
    val errors = all.flatMap(_.error)
    RunResult(e2e, Layers.complete(layers.getOrElse(Nil)), named,
      attempted = all.size, failed = errors.size, errors = errors)
  }

  /** Program CPU time of each timed pass, ns. */
  private val passCpuNs = scala.collection.mutable.Map.empty[Int, Long]

  /** Wall time of each pass, ms. */
  private def walls(xs: Seq[Exec]): Seq[Double] = xs.groupBy(_.pass).values.map(_.map(_.ms).sum).toSeq

  /** CPU per pass (the gated figure), then the wall-time figures. */
  private def figures(xs: Seq[Exec]): Seq[(String, Double, String)] = {
    val ms = walls(xs)
    val cpuMs = xs.map(_.pass).distinct.map(passCpuNs(_) / 1e6)
    Seq(("cpu_ms_per_op", Stats.median(cpuMs), "ms"), ("p50_ms", Stats.median(ms), "ms"),
      ("ops_per_s", ms.size / (ms.sum / 1e3), "1/s"))
  }
}
