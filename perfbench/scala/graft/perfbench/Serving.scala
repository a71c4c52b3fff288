package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.serving.RestServer
import graft.store.{DurableVectorStore, VectorStore}

/** One search request of the read schedule. */
final case class SearchReq(mount: String, cls: String, queries: Seq[Array[Float]],
                           filter: Option[String], threshold: Double) {
  def batch: Boolean = cls.startsWith("batch_")
  def approx: Boolean = !Set("exact", "range", "threshold", "exact_asof", "batch_exact")(cls)
}

/** What a client saw for one request. */
final case class Outcome(req: SearchReq, sentNs: Long, doneNs: Long, bytes: Int,
                         error: Option[String], recalls: Seq[Double]) {
  def ms: Double = (doneNs - sentNs) / 1e6
}

/** The read schedule: a cycle of every (mount, class) pair, live and
  * durable interleaved, repeated. A measured window is a fixed number of
  * whole cycles, so it holds the same requests whatever the throughput,
  * and the same class mix whatever the seed; the seed draws each
  * request's query rows and noise. Request i's content depends only on
  * (seed, i), whichever client sends it. */
object Schedule {
  val LiveClasses = Seq("exact", "range", "threshold", "lsh", "ivf", "pq", "bq", "imi",
    "hnsw", "ivf_filter", "starved_filter", "batch_exact", "batch_ivf")
  val DurableClasses = Seq("exact", "lsh", "ivf", "pq", "bq", "imi", "hnsw", "ivf_filter",
    "ivf_asof", "exact_asof", "batch_exact", "batch_ivf")
  val Pairs: Seq[(String, String)] =
    LiveClasses.map(("live", _)).zipAll(DurableClasses.map(("durable", _)), null, null)
      .flatMap { case (a, b) => Seq(a, b) }.filter(_ != null)
  /** About how long one cycle takes on 4 cores with [[Serving.Clients]]
    * clients: a window of `seconds` runs one cycle per this many seconds. */
  val CycleSeconds = 5

  def windowCycles(seconds: Int): Int = math.max(1, (seconds + CycleSeconds - 1) / CycleSeconds)

  val BatchSize = 16
  val RangeHits = 15
  val ThresholdHits = 12

  def request(c: Corpus, seed: Long, idx: Long): SearchReq = {
    val (mount, cls) = Pairs(Math.floorMod(idx, Pairs.size.toLong).toInt)
    make(c, seed, idx, mount, cls)
  }

  def make(c: Corpus, seed: Long, idx: Long, mount: String, cls: String): SearchReq = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + idx)
    val n = if (cls.startsWith("batch_")) BatchSize else 1
    val rows = Seq.fill(n)(rng.nextInt(c.ids.length))
    val qs = rows.map(Corpus.queryNear(c, rng, _))
    val filter = cls match {
      case "starved_filter" => Some(Corpus.StarvedLabel)
      case "ivf_filter" => Some(c.labels(rows.head))
      case _ => None
    }
    // range/threshold cut midway between two neighbours of the truth, so
    // the answer's size is fixed and no row sits on the boundary
    def cut(hits: Int): Double = {
      val s = Stats.topK(c.rows, qs.head, hits + 1).map(_._2)
      (s(hits - 1) + s(hits)) / 2
    }
    val threshold = cls match {
      case "range" => 1.0 - cut(RangeHits)
      case "threshold" => cut(ThresholdHits)
      case _ => 0.0
    }
    SearchReq(mount, cls, qs, filter, threshold)
  }

  private def vec(sb: StringBuilder, v: Array[Float]): Unit = {
    sb.append('[')
    var i = 0
    while (i < v.length) { if (i > 0) sb.append(','); sb.append(v(i).toString); i += 1 }
    sb.append(']')
  }

  /** (path, JSON body) of the request. */
  def http(r: SearchReq, asOf: Long): (String, String) = {
    val sb = new StringBuilder("{")
    if (r.batch) {
      sb.append("\"queries\":[")
      r.queries.zipWithIndex.foreach { case (q, i) => if (i > 0) sb.append(','); vec(sb, q) }
      sb.append(']')
    } else { sb.append("\"query\":"); vec(sb, r.queries.head) }
    r.cls match {
      case "range" => sb.append(s""","radius":${r.threshold}""")
      case "threshold" => sb.append(s""","min_similarity":${r.threshold}""")
      case _ => sb.append(s""","top_k":${Corpus.K}""")
    }
    val index = r.cls match {
      case "ivf_filter" | "starved_filter" | "ivf_asof" | "batch_ivf" => Some("ivf")
      case c if Set("lsh", "ivf", "pq", "bq", "imi", "hnsw")(c) => Some(c)
      case _ => None
    }
    index.foreach(i => sb.append(s""","approx":true,"index":"$i""""))
    r.filter.foreach(l => sb.append(s""","filter":{"label":"$l"}"""))
    if (r.mount == "durable") sb.append(",\"durable\":true")
    if (r.cls.endsWith("_asof")) sb.append(s""","as_of":$asOf""")
    sb.append('}')
    (if (r.batch) "/search/batch" else "/search", sb.toString)
  }
}

/** A thin HTTP client over the JDK's client; one per workload. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  val mapper = new ObjectMapper()

  /** (status, body); status -1 on a transport error or timeout. */
  def send(method: String, path: String, body: String): (Int, String) =
    try {
      val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(90))
        .header("Content-Type", "application/json")
      val req =
        if (body == null) b.method(method, HttpRequest.BodyPublishers.noBody()).build()
        else b.method(method, HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case e: Exception => (-1, String.valueOf(e)) }
}

/** Verdicts on one search response (a batch is checked per query). */
final class Checker(c: Corpus) {
  private val tol = 1e-4

  private def hitsOf(n: JsonNode): Seq[(String, Double, Array[Float], String)] =
    (0 until n.size).map { i =>
      val h = n.get(i)
      val vs = h.get("values")
      (h.get("id").asText, h.get("score").asDouble,
        Array.tabulate(vs.size)(j => vs.get(j).floatValue),
        Option(h.get("metadata")).flatMap(m => Option(m.get("label"))).map(_.asText).orNull)
    }

  /** (error, recall per query). */
  def check(r: SearchReq, body: JsonNode): (Option[String], Seq[Double]) = {
    val answers = if (r.batch) (0 until body.size).map(body.get) else Seq(body)
    if (answers.size != r.queries.size)
      return (Some(s"${answers.size} answers for ${r.queries.size} queries"), Nil)
    val res = r.queries.zip(answers).map { case (q, a) => one(r, q, hitsOf(a)) }
    (res.collectFirst { case (Some(e), _) => e }, res.flatMap(_._2))
  }

  private def one(r: SearchReq, q: Array[Float],
                  hits: Seq[(String, Double, Array[Float], String)]): (Option[String], Option[Double]) = {
    val got = hits.map(h => (h._1, h._2))
    // a corpus row must come back with its own vector
    val bad = hits.collectFirst {
      case (id, _, _, _) if !c.byId.contains(id) => s"unknown id $id"
      case (id, _, v, _) if !java.util.Arrays.equals(c.vecs(c.byId(id)), v) => s"row $id returned other values"
      case (id, _, _, l) if r.filter.exists(_ != l) => s"id $id does not match the filter"
    }
    if (bad.isDefined) return (bad, None)
    def trueScore(id: String): Option[Double] = c.byId.get(id).map(i => Stats.cosine(c.vecs(i), q))
    val rows = r.filter.map(c.rowsWithLabel).getOrElse(c.rows)
    r.cls match {
      case "range" | "threshold" =>
        val keep: Double => Boolean =
          if (r.cls == "range") s => 1.0 - s <= r.threshold else s => s >= r.threshold
        val truth = rows.map { case (id, v) => (id, Stats.cosine(v, q)) }.filter(t => keep(t._2))
          .sorted(Stats.byScoreThenId)
        (Stats.checkRanked(got, truth, trueScore), None)
      case _ if !r.approx =>
        (Stats.checkRanked(got, Stats.topK(rows, q, Corpus.K), trueScore), None)
      case _ =>
        val truth = Stats.topK(rows, q, Corpus.K)
        val owed = math.min(Corpus.K, rows.size)
        val err =
          if (got.size != owed) Some(s"${got.size} hits, owed $owed")
          else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids")
          else got.collectFirst {
            case (id, s) if !trueScore(id).exists(t => math.abs(t - s) <= tol) =>
              s"id $id reported $s, true ${trueScore(id)}"
          }
        (err, Some(Stats.recall(got.map(_._1), truth.map(_._1))))
    }
  }
}

/** The serving workload: an in-process [[RestServer]] with both mounts
  * loaded from the corpus table at `corpusPath`, and closed-loop readers. */
final class Serving(spark: SparkSession, work: String, corpusPath: String, seed: Long,
                    tracer: Option[Tracer]) {
  val corpus: Corpus = Corpus.load(spark, corpusPath)
  private val ns = Corpus.Namespace
  val ivfDir: String = s"$work/ivf"
  spark.conf.set(graft.operators.Ann.IvfDirConf, ivfDir)

  final class Mounted(val server: RestServer, val loadSeq: Long) {
    val client = new Client(s"http://127.0.0.1:${server.boundPort}")
    /** The setup's cold request of every schedule class. */
    val cold = new ConcurrentHashMap[String, Outcome]()
  }

  /** Stores, corpus load, server start and one request of every
    * schedule class (cold index builds). */
  def setup(): Mounted = {
    val path = s"$work/durable"
    val (live, durable) = tracer match {
      case Some(t) => (new TracedVectorStore(spark, t), new TracedDurableStore(spark, path, t))
      case None => (new VectorStore(spark), new DurableVectorStore(spark, path))
    }
    val frame = Corpus.frame(spark, corpusPath)
    live.loadFrame(frame, ns)
    durable.loadFrame(frame, ns)
    val server = new RestServer(live, durable = Some(durable))
    server.start()
    val m = new Mounted(server, durable.currentSeq())
    oneOfEach(m, -1L).foreach(o => m.cold.put(s"${o.req.mount}.${o.req.cls}", o))
    m
  }

  /** One request of every schedule class, on Clients + 1 threads (as
    * many as the measured phase keeps busy). Request indices count down
    * from `from`, outside the measured schedule. Throws on a failure. */
  def oneOfEach(m: Mounted, from: Long): Seq[Outcome] = {
    val check = new Checker(corpus)
    val pending = new java.util.concurrent.ConcurrentLinkedQueue(Schedule.Pairs.zipWithIndex.asJava)
    val out = new ConcurrentLinkedQueue[Outcome]()
    val threads = (0 to Serving.Clients).map { _ =>
      val th = new Thread(() => {
        var next = pending.poll()
        while (next != null) {
          val ((mount, cls), i) = next
          out.add(search(m, Schedule.make(corpus, seed, from - i, mount, cls), check))
          next = pending.poll()
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    out.asScala.flatMap(_.error).headOption
      .foreach(e => throw new IllegalStateException(s"setup request failed: $e"))
    out.asScala.toSeq
  }

  def search(m: Mounted, r: SearchReq, check: Checker): Outcome = {
    val (path, body) = Schedule.http(r, m.loadSeq)
    val t0 = System.nanoTime()
    val (code, resp) = m.client.send("POST", s"$path?namespace=$ns", body)
    val t1 = System.nanoTime()
    val (err, recalls) =
      if (code != 200) (Some(s"status $code: ${resp.take(300)} for ${body.take(300)}"), Nil)
      else try check.check(r, m.client.mapper.readTree(resp))
      catch { case e: Exception => (Some(s"unreadable response: $e"), Nil) }
    Outcome(r, t0, t1, resp.length, err.map(e => s"${r.mount}/${r.cls}: $e"), recalls)
  }

  /** Closed loop: `clients` threads take the next request of the read
    * schedule until the window's whole cycles are handed out. Returns the
    * outcomes and the window's length in seconds. */
  def readers(m: Mounted, seconds: Int, clients: Int, check: Checker): (Seq[Outcome], Double) = {
    val total = Schedule.windowCycles(seconds).toLong * Schedule.Pairs.size
    val next = new AtomicLong
    val out = new ConcurrentLinkedQueue[Outcome]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < total) {
          out.add(search(m, Schedule.request(corpus, seed, i), check))
          i = next.getAndIncrement()
        }
        CpuMeter.harnessThreadDone()
      })
      th.start(); th
    }
    threads.foreach(_.join())
    val all = out.asScala.toSeq
    val end = if (all.isEmpty) System.nanoTime() else all.map(_.doneNs).max
    (all, (end - t0) / 1e9)
  }
}

object Serving {
  val Clients = 3
}
