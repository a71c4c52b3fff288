package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.model.SearchHit
import graft.store.{DurableVectorStore, VectorStore}

/** One outermost store call, as the traced run sees it from outside the
  * store: which mount and request class, its wall interval, the job
  * group its Spark work ran under, and a key that links it to the client
  * request that caused it (the hash of the first query vector). */
final case class StoreCall(mount: String, cls: String, group: String,
                           startMs: Long, endMs: Long, nanos: Long, key: Int) {
  def ms: Double = nanos / 1e6
}

/** Spark work attributed to one job group (one store call or one
  * analytics query). Written by the listener thread, read after the bus
  * drains. */
final class GroupWork {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (start, end) wall intervals of this group's jobs, epoch ms. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
}

/** The traced run's recorder: outermost-call timing for both store
  * wrappers, and a [[SparkListener]] that attributes jobs, tasks,
  * executor CPU and bytes to the job group the caller tagged. Spans stay
  * in memory and are read when the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile var enabled = false
  val calls = new ConcurrentLinkedQueue[StoreCall]()
  private val groupSeq = new AtomicLong
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val work = new ConcurrentHashMap[String, GroupWork]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  def workOf(group: String): GroupWork = work.computeIfAbsent(group, _ => new GroupWork)

  /** Runs `body` under a fresh job group; returns its result, the group
    * id and the wall interval. Nested calls (a store method calling
    * another public one) run untimed inside the outermost call. */
  def timed[T](mount: String, cls: String, key: Int)(body: => T): T =
    if (!enabled || depth.get() > 0) body
    else {
      val sc = spark.sparkContext
      val group = s"pb-${groupSeq.incrementAndGet()}"
      depth.set(1)
      sc.setJobGroup(group, s"$mount/$cls", interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime()
        calls.add(StoreCall(mount, cls, group, t0, System.currentTimeMillis(), n1 - n0, key))
        sc.clearJobGroup()
        depth.set(0)
      }
    }

  /** Runs `body` under a named job group (analytics queries). */
  def grouped[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      workOf(g).jobs.incrementAndGet()
      jobStart.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      workOf(g).jobSpans.add((t0, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val w = workOf(g)
      w.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs.addAndGet(m.executorCpuTime)
        w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        w.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** Milliseconds of [t0, t1] not covered by any job of `group`. */
  def outsideJobsMs(group: String, t0: Long, t1: Long): Double = {
    val spans = Option(work.get(group)).map(_.jobSpans.asScala.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0L, (t1 - t0) - covered).toDouble
  }

  /** Blocks until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Tracer {
  def keyOf(v: Seq[Float]): Int = java.util.Arrays.hashCode(v.toArray)
  def keyOfBatch(vs: Seq[Seq[Float]]): Int = vs.headOption.map(keyOf).getOrElse(0)

  /** The live-mount request class a findSimilar call serves. */
  def liveClass(approx: Boolean, index: String, filter: Map[String, String]): String =
    if (!approx) "exact"
    else if (filter.get("label").contains(Corpus.StarvedLabel)) "starved_filter"
    else if (filter.nonEmpty) s"${index}_filter"
    else index
}

/** The live mount with every search call the REST facade makes timed. */
final class TracedVectorStore(spark: SparkSession, t: Tracer) extends VectorStore(spark) {
  import Tracer._
  private val M = "live"

  override def findSimilar(query: Seq[Float], k: Int, metric: String, namespace: String,
                           filter: Map[String, String], jsonFilter: Map[String, String],
                           approx: Boolean, index: String): Seq[SearchHit] =
    t.timed(M, liveClass(approx, index, filter), keyOf(query))(
      super.findSimilar(query, k, metric, namespace, filter, jsonFilter, approx, index))

  override def rangeSearch(query: Seq[Float], r: Double, metric: String, namespace: String,
                           filter: Map[String, String]): Seq[SearchHit] =
    t.timed(M, "range", keyOf(query))(super.rangeSearch(query, r, metric, namespace, filter))

  override def thresholdSearch(query: Seq[Float], th: Double, namespace: String,
                               filter: Map[String, String]): Seq[SearchHit] =
    t.timed(M, "threshold", keyOf(query))(super.thresholdSearch(query, th, namespace, filter))

  override def findSimilarBatch(queries: Seq[Seq[Float]], k: Int, metric: String,
                                namespace: String, filter: Map[String, String],
                                jsonFilter: Map[String, String]): Seq[Seq[SearchHit]] =
    t.timed(M, "batch_exact", keyOfBatch(queries))(
      super.findSimilarBatch(queries, k, metric, namespace, filter, jsonFilter))

  override def findSimilarBatchIvf(queries: Seq[Seq[Float]], k: Int, namespace: String,
                                   filter: Map[String, String], jsonFilter: Map[String, String],
                                   persistProbes: Boolean): Seq[Seq[SearchHit]] =
    t.timed(M, "batch_ivf", keyOfBatch(queries))(
      super.findSimilarBatchIvf(queries, k, namespace, filter, jsonFilter, persistProbes))
}

/** The durable mount with every search call the REST facade makes timed. */
final class TracedDurableStore(spark: SparkSession, path: String, t: Tracer)
    extends DurableVectorStore(spark, path) {
  import Tracer._
  private val M = "durable"

  override def findSimilar(query: Seq[Float], k: Int, metric: String, namespace: String,
                           approx: Boolean, index: String, filter: Map[String, String],
                           jsonFilter: Map[String, String]): Seq[SearchHit] =
    t.timed(M, liveClass(approx, index, filter), keyOf(query))(
      super.findSimilar(query, k, metric, namespace, approx, index, filter, jsonFilter))

  override def findSimilarAsOf(query: Seq[Float], asOf: Long, k: Int, metric: String,
                               namespace: String, approx: Boolean, index: String,
                               filter: Map[String, String],
                               jsonFilter: Map[String, String]): Seq[SearchHit] =
    t.timed(M, if (approx) s"${index}_asof" else "exact_asof", keyOf(query))(
      super.findSimilarAsOf(query, asOf, k, metric, namespace, approx, index, filter, jsonFilter))

  override def findSimilarBatch(queries: Seq[Seq[Float]], k: Int, metric: String,
                                namespace: String, filter: Map[String, String],
                                jsonFilter: Map[String, String]): Seq[Seq[SearchHit]] =
    t.timed(M, "batch_exact", keyOfBatch(queries))(
      super.findSimilarBatch(queries, k, metric, namespace, filter, jsonFilter))

  override def findSimilarBatchApprox(queries: Seq[Seq[Float]], k: Int, metric: String,
                                      namespace: String, persistProbes: Boolean,
                                      filter: Map[String, String],
                                      jsonFilter: Map[String, String]): Seq[Seq[SearchHit]] =
    t.timed(M, "batch_ivf", keyOfBatch(queries))(
      super.findSimilarBatchApprox(queries, k, metric, namespace, persistProbes, filter, jsonFilter))
}
