package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SparkSession.builder is
  * idempotent per JVM — every suite gets the same instance). */
object TestSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // under target/ so `sbt clean` reclaims it (a fresh /tmp dir per
      // run would strand a table copy per test invocation)
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/graft_wh").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The tier-parity check: the same ids in the same order, bit-equal
    * scores, values, metadata and metadataJson. */
  def assertSameHits(a: Seq[graft.model.SearchHit], b: Seq[graft.model.SearchHit],
                     what: String): Unit = {
    assert(a.map(_.id) == b.map(_.id), s"$what: ids differ: ${a.map(_.id)} vs ${b.map(_.id)}")
    a.zip(b).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToRawLongBits(x.score) ==
        java.lang.Double.doubleToRawLongBits(y.score),
        s"$what: score of ${x.id} ${x.score} vs ${y.score}")
      assert(java.util.Arrays.equals(x.values, y.values), s"$what: values of ${x.id}")
      assert(x.metadata == y.metadata, s"$what: metadata of ${x.id}")
      assert(x.metadataJson == y.metadataJson, s"$what: metadataJson of ${x.id}")
    }
  }

  /** Spark jobs run by `body` on this thread (tagged by a job group, so
    * other threads' jobs do not count). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      org.apache.spark.TestListenerBus.drain(sc)
      seen.get()
    } finally sc.removeSparkListener(listener)
  }
}
