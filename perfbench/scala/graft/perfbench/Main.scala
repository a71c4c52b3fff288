package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload and prints, as its last
  * stdout line, `PERFBENCH_RESULT {...}` with the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`); the line before
  * it is `PERFBENCH_SUMMARY {...}` with every named metric, sample
  * counts, failures and the run-environment stamp.
  *
  * {{{
  * Main --workload search-mix|analytics --seed N --seconds S
  *      --trace 0|1 --work DIR --data DIR
  * Main --self-test
  * }}} */
object Main {
  val Workloads = Seq("search-mix", "analytics")
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    // Spark and the HTTP server leave non-daemon threads behind: end the
    // JVM explicitly, non-zero on any failure. halt skips Spark's
    // shutdown hooks; run.py deletes the run's directory afterwards.
    val code =
      try { if (args.contains("--self-test")) SelfTest.run() else run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    val cpu0 = ProcStat.read()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.local(cores, s"perfbench-$workload")
    val sparkReady = System.currentTimeMillis()
    val tracer = if (trace) {
      val t = new Tracer(spark)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    var confs = Map.empty[String, String]
    val res =
      try {
        if (workload == "analytics")
          new AnalyticsRun(spark, opt("data"), s"$work/out", tracer).run(seconds, jvmStart)
        else ServingRun.run(spark, work, s"${opt("data")}/embeddings.parquet", seed, seconds, tracer, jvmStart)
      } finally {
        confs = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
      }
    val workloadDone = System.currentTimeMillis()
    val summary = mapper.createObjectNode()
    summary.put("workload", workload)
    summary.put("seed", seed)
    summary.put("seconds", seconds)
    summary.put("trace", trace)
    summary.set[ObjectNode]("metrics", units(res.named))
    summary.put("attempted", res.attempted)
    summary.put("failed", res.failed)
    val errs = summary.putArray("errors")
    res.errors.take(20).foreach(errs.add)
    summary.set[ObjectNode]("environment", Stamp(confs, cores, cpu0, ProcStat.read()))
    val phases = summary.putObject("phases_s")
    phases.put("jvm_and_spark_start", (sparkReady - jvmStart) / 1e3)
    phases.put("workload", (workloadDone - sparkReady) / 1e3)
    println("PERFBENCH_SUMMARY " + mapper.writeValueAsString(summary))
    val out = mapper.createObjectNode()
    out.put("correct", res.failed == 0)
    out.put("attempted", res.attempted)
    out.put("failed", res.failed)
    out.set[ObjectNode]("metrics", units(if (trace) res.layers else res.endToEnd))
    println("PERFBENCH_RESULT " + mapper.writeValueAsString(out))
  }

  private def units(ms: Seq[(String, Double, String)]): ObjectNode = {
    val o = mapper.createObjectNode()
    ms.foreach { case (n, v, u) =>
      val m = o.putObject(n)
      m.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      m.put("unit", u)
    }
    o
  }
}

/** One workload's result: the gated end-to-end metrics, the traced
  * per-layer metrics, and every named metric for the summary. */
final case class RunResult(endToEnd: Seq[(String, Double, String)],
                           layers: Seq[(String, Double, String)],
                           named: Seq[(String, Double, String)],
                           attempted: Long, failed: Long, errors: Seq[String])

/** CPU time counters of the host, from /proc/stat's aggregate line. */
final case class ProcStat(fields: Seq[Long]) {
  def total: Long = fields.sum
  def at(i: Int): Long = if (fields.size > i) fields(i) else 0L
}

object ProcStat {
  def read(): ProcStat =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try ProcStat(src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong).toSeq)
      finally src.close()
    } catch { case _: Exception => ProcStat(Nil) }
}

/** The run-environment stamp every result carries. */
object Stamp {
  def apply(confs: Map[String, String], cores: Int, a: ProcStat, b: ProcStat): ObjectNode = {
    val o = new ObjectMapper().createObjectNode()
    o.put("nproc", Runtime.getRuntime.availableProcessors)
    o.put("spark_cores", cores)
    o.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1L << 20))
    val dt = math.max(1L, b.total - a.total).toDouble
    // /proc/stat: user nice system idle iowait irq softirq steal
    o.put("host_iowait_pct", 100.0 * (b.at(4) - a.at(4)) / dt)
    o.put("host_steal_pct", 100.0 * (b.at(7) - a.at(7)) / dt)
    val env = o.putObject("spark_graft_env")
    sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sorted.foreach { case (k, v) => env.put(k, v) }
    val c = o.putObject("spark_graft_confs")
    confs.toSeq.sorted.foreach { case (k, v) => c.put(k, v) }
    o
  }
}
