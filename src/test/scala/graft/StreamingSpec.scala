package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.streaming.EventStream

/** Batch/stream parity: draining the streaming job over the same files
  * must reproduce EventOps.q29 exactly — the Spark-native way to pin
  * streaming semantics to an oracle-checked batch query. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streaming ANN retrieval (q176) equals the batch LSH probe of the same standing index") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStream.q176(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty, "the query stream drained no results")
    // batch twin: the identical candidate policy (same kernels, same
    // corpus/query split) computed without a stream — positional parity
    // IS the stream/batch claim
    val ann = graft.operators.Ann
    val emb = graft.sources.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.where(col("vec_id") < 200L)
    val corpusSigs = ann.withBandSigs(corpus, col("embedding"))
      .select(col("vec_id"), col("band"), col("bucket"))
    val qs = emb.where(col("vec_id") >= 200L && col("vec_id") < 204L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = ann.rankTopK(
      ann.withBandSigs(qs, col("qv"))
        .select(col("qid"), col("qv"), col("band"), col("bucket"))
        .join(corpusSigs, Seq("band", "bucket"))
        .join(corpus, Seq("vec_id"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id"))
        .distinct(),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served retrieval diverged from the batch probe")
    // every query got answered and hits rank within [1, k]
    assert(streamed.map(_._1).distinct.length == 4)
    assert(streamed.forall(x => x._2 >= 1 && x._2 <= 10))
  }

  test("streaming IVF retrieval (q178) equals the batch probe of the same layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = graft.streaming.EventStream.q178(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    // batch twin over the SAME persisted layout: driver-ranked probes,
    // pruned cell join, exact rerank — positional parity IS the claim
    val ann = graft.operators.Ann
    val aux = ann.ensureLayout(spark, dir)
    val centers = spark.read.parquet(s"$aux/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    val qs = graft.sources.Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") >= 5L && col("vec_id") < 9L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probeRows = qs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .flatMap { case (qid, qv) =>
        ann.rankCells(qv, centers, ann.ivfProbeFor(centers.length))
          .map(c => (qid, c))
      }
    val batch = ann.rankTopK(
      spark.read.parquet(s"$aux/index")
        .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id"))
        .distinct(),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served IVF retrieval diverged from the batch probe")
  }

  test("streaming IMI retrieval (q187) equals the batch grid probe of the same layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = graft.streaming.EventStream.q187(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    // batch twin over the SAME persisted grid: imiProbeCells-ranked
    // pairs, pruned cell join, exact rerank — positional parity
    val ann = graft.operators.Ann
    val aux = ann.ensureImiLayout(spark, dir)
    def centers(name: String) = spark.read.parquet(s"$aux/$name").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    val cLo = centers("centroids_lo")
    val cHi = centers("centroids_hi")
    val qs = graft.sources.Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") >= 9L && col("vec_id") < 13L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probeRows = qs.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .flatMap { case (qid, qv) =>
        ann.imiProbeCells(qv, cLo, cHi).map(c => (qid, c))
      }
    val batch = ann.rankTopK(
      spark.read.parquet(s"$aux/index")
        .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id"))
        .distinct(),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served IMI retrieval diverged from the batch grid probe")
  }

  test("streaming BQ retrieval (q188) equals the batch hamming kernel over the same codes") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStream.q188(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    // batch twin rebuilt from the base table (the q95 property): midpoint
    // grid, one-BIGINT codes, CandN hamming cut, exact rerank
    val e = graft.sources.Tables.table(spark, dir, "embeddings")
    val stats = e.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    val mids = stats.map(r =>
      (r.getFloat(1).toDouble + r.getFloat(2).toDouble) / 2.0)
    val packExpr =
      s"""aggregate(
         |  zip_with(embedding, sequence(0, ${mids.length - 1}), (x, i) ->
         |    IF(CAST(x AS DOUBLE) > element_at(mids, i + 1),
         |       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, b) -> a | b)""".stripMargin
    val coded = e.withColumn("mids", typedLit(mids.toSeq))
      .withColumn("code", expr(packExpr))
      .select(col("vec_id"), col("embedding"), col("code"))
    val q = coded.where(col("vec_id") >= 13L && col("vec_id") < 17L)
      .select(col("vec_id").as("qid"), col("code").as("qcode"),
        col("embedding").as("qv"))
    val cand = coded.crossJoin(broadcast(q.select(col("qid"), col("qcode"))))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("ham", expr("CAST(bit_count(code ^ qcode) AS DOUBLE)"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(col("ham"), col("vec_id"),
        graft.operators.Bq.CandN, descending = false).as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))
    val batch = graft.operators.Ann.rankTopK(
      cand.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served BQ retrieval diverged from the batch hamming kernel")
  }

  test("streaming HNSW retrieval (q189) equals the batch beam of the same shard graphs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = graft.streaming.EventStream.q189(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    val hnsw = graft.operators.Hnsw
    val aux = hnsw.ensureLayout(spark, dir)
    val e = graft.sources.Tables.table(spark, dir, "embeddings")
    val qs = e.where(col("vec_id") >= 17L && col("vec_id") < 21L)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val cand = hnsw.shardCandidates(spark, aux, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    val qFrame = e.where(col("vec_id") >= 17L && col("vec_id") < 21L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = graft.operators.Ann.rankTopK(
      e.select(col("vec_id"), col("embedding"))
        .join(broadcast(cand.toDF("qid", "id")), col("vec_id") === col("id"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(qFrame), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served HNSW retrieval diverged from the batch beam")
  }

  test("streaming OPQ retrieval (q191) equals the rotated batch ADC kernel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = graft.streaming.EventStream.q191(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    // batch twin: rotate queries, LUTs from the rotated-space codebook,
    // one codes sweep, CandN cut, exact rerank in the ORIGINAL space
    val pq = graft.operators.Pq
    val opq = graft.operators.Opq
    val aux = opq.ensureLayout(spark, dir)
    val codebook = pq.readCodebook(spark, aux)
    val rot = opq.readRotation(spark, aux)
    val e = graft.sources.Tables.table(spark, dir, "embeddings")
    val qs = e.where(col("vec_id") >= 21L && col("vec_id") < 25L)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val luts = qs.map { case (qid, qv) =>
      (qid, pq.lutFor(opq.rotateQuery(rot, qv), codebook))
    }
    val cand = pq.candCut(spark.read.parquet(s"$aux/codes")
      .crossJoin(broadcast(pq.lutFrame(spark, luts)))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("adc", pq.adcCol)
      .select(col("qid"), col("adc"), col("vec_id")))
    val qFrame = e.where(col("vec_id") >= 21L && col("vec_id") < 25L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = graft.operators.Ann.rankTopK(
      cand.join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(qFrame), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served OPQ retrieval diverged from the rotated batch kernel")
  }

  test("snapshot-pinned streaming retrieval (q190) equals the one-shot filtered as-of batch") {
    val streamed = graft.streaming.EventStream.q190(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    // the fixture's store keeps post-horizon mutations live; the batch
    // twin at the recorded horizon must reproduce the stream exactly
    val so = graft.operators.StoreOps
    val fx = so.durableFixture(spark, dir, so.scripts("q179"))
    val (qs, k) = (fx.queries, fx.k)
    val batch = fx.store.findSimilarBatchAsOf(qs, fx.horizon, k = k,
      namespace = fx.ns, approx = true, filter = fx.filter)
      .zipWithIndex.flatMap { case (hits, qi) =>
        hits.zipWithIndex.map { case (h, r) =>
          // Det.r4's floor-based rounding, driver-side
          (qi, r + 1, h.id, math.floor(h.score * 10000.0 + 0.5) / 10000.0)
        }
      }.sortBy(x => (x._1, x._2))
    assert(streamed.toSeq == batch,
      "stream-served snapshot retrieval diverged from the batch as-of twin")
    // every query answered from the snapshot, full k, ranks in [1, k]
    assert(streamed.map(_._1).distinct.length == qs.length)
    assert(streamed.forall(x => x._2 >= 1 && x._2 <= k))
  }

  test("streaming PQ retrieval (q180) equals the batch ADC probe of the same codes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val streamed = graft.streaming.EventStream.q180(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty)
    // batch twin over the SAME standing artifacts: driver LUTs + ranked
    // probes, the pruned codes sweep, CandN cut, exact rerank
    val ann = graft.operators.Ann
    val pq = graft.operators.Pq
    val aux = graft.operators.IvfPq.ensureLayout(spark, dir)
    val pqAux = pq.ensureLayout(spark, dir)
    val ivfAux = ann.ensureLayout(spark, dir)
    val centers = spark.read.parquet(s"$ivfAux/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).map(_._2)
    val codebook = pq.readCodebook(spark, pqAux)
    val queries = graft.sources.Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") >= 5L && col("vec_id") < 9L)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val probeRows = queries.flatMap { case (qid, qv) =>
      ann.rankCells(qv, centers, ann.ivfProbeFor(centers.length))
        .map(c => (qid, c))
    }
    val luts = queries.map { case (qid, qv) => (qid, pq.lutFor(qv, codebook)) }
    val cand = pq.candCut(spark.read.parquet(s"$aux/index")
      .where(col("cell").isin(probeRows.map(_._2).distinct: _*))
      .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .join(broadcast(pq.lutFrame(spark, luts)), Seq("qid"))
      .withColumn("adc", pq.adcCol)
      .select(col("qid"), col("adc"), col("vec_id")))
    val qs = graft.sources.Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") >= 5L && col("vec_id") < 9L)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val emb = graft.sources.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val batch = ann.rankTopK(
      cand.join(emb, Seq("vec_id"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      10, descending = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "stream-served PQ retrieval diverged from the batch ADC probe")
  }

  test("stateful sessionization (flatMapGroupsWithState) equals the batch q28 answer") {
    val q = EventStream.startSessionsToMemory(spark, dir, "stream_sessions")
    try {
      q.processAllAvailable()
      // update mode appends a row per (user, batch); the last row per user
      // is the final state — with one finite file there is one batch, so
      // rows are already final, but reduce by max to stay batch-count-safe
      val streamed = spark.table("stream_sessions").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (u, rows) => (u, rows.map(_._2).maxBy(_._1)) }
      val batch = EventOps.q28(spark, dir).collect()
        .map(r => (r.getLong(r.fieldIndex("user_id")),
          (r.getLong(r.fieldIndex("n_events")), r.getLong(r.fieldIndex("n_sessions")))))
        .toMap
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming hourly windows equal the batch q29 answer after drain") {
    val q = EventStream.startToMemory(spark, dir, "stream_hourly")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_hourly").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventOps.q29(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming ingest drains a multi-file backlog into the durable store batch-by-batch") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // a drop directory of three separate parquet files = three source
    // files; maxFilesPerTrigger=1 forces one micro-batch per file, so
    // the ingester's per-batch commit path actually runs multiple times
    val drop = java.nio.file.Files.createTempDirectory("graft_ingest_").toString
    val rows = (0 until 30).map(i => (i.toLong, Seq.tabulate(4)(j => (i + j).toFloat), i % 3))
    rows.grouped(10).zipWithIndex.foreach { case (g, i) =>
      g.toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
        .coalesce(1).write.parquet(s"$drop/part$i")
    }
    val root = java.nio.file.Files.createTempDirectory("graft_dvs_ing_").toString
    val store = new graft.store.DurableVectorStore(spark, root)
    val batches = graft.streaming.VectorIngest.ingest(
      spark, s"$drop/*", graft.streaming.VectorIngest.EmbeddingsSchema,
      "*.parquet",
      src => src.select(col("vec_id").cast("string").as("id"),
        col("embedding").as("values")),
      store, "ing", s"$root/_checkpoint", maxFilesPerTrigger = Some(1))
    assert(batches >= 3, s"expected one commit per file, got $batches")
    assert(store.totalCount() == 30)
    // every streamed row is readable and carries its own vector
    assert(store.read("17", "ing").map(_.values.toSeq) ==
      Some(Seq(17f, 18f, 19f, 20f)))
    // a REPLAYED file (at-least-once delivery) converges: re-ingesting
    // one of the files through a fresh stream shadows, never duplicates
    graft.streaming.VectorIngest.ingest(
      spark, s"$drop/part0", graft.streaming.VectorIngest.EmbeddingsSchema,
      "*.parquet",
      src => src.select(col("vec_id").cast("string").as("id"),
        col("embedding").as("values")),
      store, "ing", s"$root/_checkpoint2")
    assert(store.totalCount() == 30, "replayed batch duplicated rows")
  }

  test("hopping-window stream equals the batch epoch-aligned two-window assignment") {
    import org.apache.spark.sql.functions._
    val slide = 1800000000L
    // normalized µs timestamps via the shared adaptive loader
    val us = unix_micros(col("ts"))
    val g = us - (us % lit(slide))
    val batch = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        explode(array(g, g - lit(slide))).as("bucket_us"))
      .groupBy(col("bucket_us"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.r4(sum(col("value"))).as("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val streamed = EventStream.q91(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("native session-window stream equals the batch session_window answer") {
    import org.apache.spark.sql.functions._
    // the SAME native session_window function in a batch aggregation is
    // the in-JVM parity twin (the DuckDB oracle independently replays
    // the merge rule as gap-and-islands)
    val batch = graft.sources.Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.r4(sum(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val streamed = EventStream.q96(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream range join equals the batch q82 inner answer after drain") {
    val streamed = EventStream.q88(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventOps.q82(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 > 0).toSet // inner form: purchases with >= 1 nearby error
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream join state is EVICTED once the watermark passes the range bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    // two controllable streams so the watermark actually ADVANCES across
    // micro-batches (the graded q88 drains one finite batch, where
    // eviction never observably runs)
    val pIn = MemoryStream[(Long, Long)]
    val eIn = MemoryStream[(Long, Long)]
    val binUs = 5L * 60 * 1000000
    val p = pIn.toDF().toDF("event_id", "p_us")
      .withColumn("p_ts", timestamp_micros(col("p_us")))
      .withColumn("bin", (col("p_us") / binUs).cast("long")).drop("p_us")
      .withWatermark("p_ts", "1 minute")
    val e = eIn.toDF().toDF("err_id", "e_us")
      .withColumn("e_ts", timestamp_micros(col("e_us")))
      .withColumn("bin", explode(array(
        (col("e_us") / binUs).cast("long") - 1,
        (col("e_us") / binUs).cast("long"),
        (col("e_us") / binUs).cast("long") + 1))).drop("e_us")
      .withWatermark("e_ts", "1 minute")
    val joined = p.join(e,
      p("bin") === e("bin") &&
        col("e_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
        col("e_ts") <= col("p_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("event_id"), col("err_id"))
    spark.catalog.dropTempView("ss_evict") // idempotent re-run hygiene
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_evict").start()
    try {
      val t0 = 1704067200L * 1000000L
      val hour = 3600L * 1000000L
      // batch 1: one close pair — joins, and both rows enter state
      pIn.addData((1L, t0)); eIn.addData((10L, t0 + 60L * 1000000L))
      q.processAllAvailable()
      // batch 2: rows far in the future — advances both watermarks hours
      // past batch 1's event times + the 5-min range bound
      pIn.addData((2L, t0 + 10 * hour)); eIn.addData((20L, t0 + 10 * hour))
      q.processAllAvailable()
      // batch 3: eviction applies the advanced watermark to buffered state
      pIn.addData((3L, t0 + 20 * hour)); eIn.addData((30L, t0 + 20 * hour))
      q.processAllAvailable()
      val removed = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsRemoved).sum
      assert(removed > 0,
        "watermark never evicted buffered join rows — state would grow forever")
      // and the matched pair from batch 1 did emit
      val pairs = spark.table("ss_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 10L)))
    } finally q.stop()
  }

  test("watermarked streaming dedup emits a within-horizon duplicate key once") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    // events-shaped input with every key duplicated inside one file (=
    // one micro-batch): (uid, type) pairs appear 2–3× within minutes of
    // each other, all far inside the 1-hour horizon
    val baseNs = 1704067200L * 1000000000L
    val rows = Seq(
      (1L, baseNs, 1L, "click", 1.0, "{}"),
      (2L, baseNs + 60L * 1000000000L, 1L, "click", 2.0, "{}"),
      (3L, baseNs + 120L * 1000000000L, 1L, "view", 3.0, "{}"),
      (4L, baseNs + 180L * 1000000000L, 2L, "click", 4.0, "{}"),
      (5L, baseNs + 240L * 1000000000L, 2L, "click", 5.0, "{}"),
      (6L, baseNs + 300L * 1000000000L, 1L, "click", 6.0, "{}"))
    val stage = java.nio.file.Files.createTempDirectory("graft_dd_stage_")
      .toString + "/out"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(stage)
    // EventStream.source globs for a FILE named events.parquet inside the
    // dir — relocate the single part file under that name
    val dir = java.nio.file.Files.createTempDirectory("graft_dd_").toString
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val q = EventStream.startDedupToMemory(spark, dir, "stream_dd_test")
    try {
      q.processAllAvailable()
      val sunk = spark.table("stream_dd_test").collect()
        .map(r => (r.getLong(0), r.getString(1))).toList
      // exactly one emission per key — not merely distinct-after-the-fact
      assert(sunk.size == 3, s"duplicate keys re-emitted: $sunk")
      assert(sunk.toSet == Set((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  // ---- the graded durable fixture (StoreOps.durableFixture) ------------

  private def idsAt(df: org.apache.spark.sql.DataFrame, ns: String): Set[String] =
    df.where(org.apache.spark.sql.functions.col("namespace") === ns)
      .select("id").collect().map(_.getString(0)).toSet

  private def range(lo: Long, hi: Long): Set[String] =
    (lo until hi).map(_.toString).toSet

  test("durable fixture: a two-wave script holds load − wave 1 + delta at its horizon, wave 2 on top now") {
    val so = graft.operators.StoreOps
    val script = so.DurableScript("fx_asof", "fxasof", asOf = true)
    val fx = so.durableFixture(spark, dir, script)
    val wave1 = (0L until so.FacadeN).filter(_ % so.AsOfDelMod == 0)
      .map(_.toString).toSet
    val atHorizon =
      range(0L, so.FacadeN) -- wave1 ++ range(so.FacadeN, so.FacadeN + so.DAnnDeltaN)
    assert(idsAt(fx.store.liveAsOf(fx.horizon), fx.ns) == atHorizon)
    val wave2 = range(so.FacadeN + so.DAnnDeltaN,
      so.FacadeN + so.DAnnDeltaN + so.AsOfDelta2)
    assert(idsAt(fx.store.live(), fx.ns) == atHorizon -- so.AsOfDel2 ++ wave2)
    assert(fx.horizon < fx.store.currentSeq(), "wave 2 committed nothing")
    // a second call returns the same store and horizon, script not re-run
    val builds = fx.store.annBuilds.get()
    val again = so.durableFixture(spark, dir, script)
    assert((again.store eq fx.store) && again.horizon == fx.horizon)
    assert(again.store.annBuilds.get() == builds && builds == 1)
  }

  test("durable fixture: a plain script holds load − wave 1 + delta, tenant-tagged, built once") {
    val so = graft.operators.StoreOps
    val script = so.DurableScript("fx_plain", "fxplain", "pq", batch = true,
      tenant = true)
    val fx = so.durableFixture(spark, dir, script)
    val wave1 = (0L until so.FacadeN).filter(_ % so.FacadeDelMod == 0)
      .map(_.toString).toSet
    val expected =
      range(0L, so.FacadeN) -- wave1 ++ range(so.FacadeN, so.FacadeN + so.DAnnDeltaN)
    assert(idsAt(fx.store.live(), fx.ns) == expected)
    assert(fx.horizon == fx.store.currentSeq())
    // every row carries its tenant tag (vec_id % 3)
    assert(fx.store.live().where(org.apache.spark.sql.functions.col("namespace") === fx.ns)
      .select("id", "metadata").collect()
      .forall(r => r.getMap[String, String](1).get("tenant")
        .contains((r.getString(0).toLong % 3).toString)))
    assert(fx.inWindow && fx.store.pqBuilds.get() == 1)
    assert(so.durableFixture(spark, dir, script).store eq fx.store)
    assert(fx.store.pqBuilds.get() == 1, "the repeat call re-ran the script")
  }
}
