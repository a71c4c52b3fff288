package graft

import org.apache.spark.sql.SparkSession

/** Library-blessed local session builder: one place that applies
  * [[graft.sources.Tables.requiredConfs]] (e.g. nanosAsLong for the
  * events source) so no entry point can forget it. Sessions built here
  * are never conf-mutated by the loaders; a FOREIGN session missing a
  * required conf is adopted on first use via
  * [[graft.sources.Tables.adoptRequiredConfs]] (a guarded one-time set —
  * see its scaladoc for the race window that building through this
  * object avoids entirely).
  */
object GraftSession {
  /** The `SPARK_GRAFT_EXTRA_CONF` pairs [[local]] applies, in order: a
    * measurement-harness passthrough (semicolon-separated k=v) for A/B
    * runs of conf-gated knobs without recompiling — never set by the
    * graded entry points. Each pair is logged when applied, and run
    * artifacts record them (Bench's headline `extra_conf`), so the
    * overrides a leftover exported variable put into a graded or bench
    * session are visible. */
  val extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(';')).flatMap { kv =>
      val i = kv.indexOf('=')
      if (i > 0) Some((kv.take(i).trim, kv.drop(i + 1).trim)) else None
    }

  def local(cores: Int, appName: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    extraConf.foreach { case (k, v) =>
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"SPARK_GRAFT_EXTRA_CONF applies $k=$v")
      b.config(k, v)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
