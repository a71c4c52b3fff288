package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.serving.RestServer
import graft.store.VectorStore

/** Drives the REST facade over real HTTP — the reference's example-client
  * flow (`examples/api_client.py`) replayed against the Spark engine. */
class RestServerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def withServer(f: (String, RestServer) => Unit): Unit = {
    val server = new RestServer(new VectorStore(spark))
    server.start()
    try f(s"http://127.0.0.1:${server.boundPort}", server)
    finally server.stop()
  }

  private def send(method: String, url: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = (method match {
      case "GET" => b.GET()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).header("Content-Type", "application/json").build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("full reference client flow over HTTP, reference envelopes") {
    withServer { (base, _) =>
      // health before any data (rest_api.py:297)
      val (hc, hb) = send("GET", s"$base/health")
      assert(hc == 200 && mapper.readTree(hb).get("status").asText() == "healthy")

      // insert one (201 + status/message envelope, rest_api.py:96,114) + batch
      val (ic, ib) = send("POST", s"$base/vectors?namespace=demo",
        """{"values": [1.0, 0.0], "metadata": {"label": "x"}}""")
      assert(ic == 201)
      assert(mapper.readTree(ib).get("status").asText() == "success")
      assert(mapper.readTree(ib).get("message").asText() == "Vector inserted")
      val id1 = mapper.readTree(ib).get("id").asText()
      val (bc, bb) = send("PUT", s"$base/vectors/batch?namespace=demo",
        """{"vectors": [{"values": [0.0, 1.0], "metadata": {"label": "y"}},
          |             {"values": [0.9, 0.1]}]}""".stripMargin)
      assert(bc == 200)
      assert(mapper.readTree(bb).get("message").asText() == "2 vectors upserted")
      assert(mapper.readTree(bb).get("ids").size() == 2)

      // search returns a BARE list (rest_api.py:163 response_model)
      val (sc, sb) = send("POST", s"$base/search?namespace=demo",
        """{"query": [1.0, 0.05], "top_k": 2, "metric": "cosine"}""")
      assert(sc == 200)
      val results = mapper.readTree(sb)
      assert(results.isArray && results.size() == 2)
      assert(results.get(0).get("metadata").get("label").asText() == "x")
      assert(results.get(0).get("score").asDouble() >
        results.get(1).get("score").asDouble())

      // namespaces is a name list (rest_api.py:255); info is the engine dict
      val (nc, nb) = send("GET", s"$base/namespaces")
      assert(nc == 200)
      val nsArr = mapper.readTree(nb).get("namespaces")
      assert(nsArr.isArray && nsArr.get(0).asText() == "demo")
      val (stc, stb) = send("GET", s"$base/storage/info")
      assert(stc == 200 && mapper.readTree(stb).get("total_vectors").asLong() == 3)
      assert(mapper.readTree(stb).get("vectors_per_namespace").get("demo").asLong() == 3)
      assert(mapper.readTree(stb).get("namespace_count").asInt() == 1)

      // namespace dump: reference route + bare list (rest_api.py:263-276)
      val (dc, db) = send("GET", s"$base/namespaces/vectors?namespace=demo")
      assert(dc == 200 && mapper.readTree(db).isArray && mapper.readTree(db).size() == 3)

      // delete (one real + one ghost) then search excludes it
      val (delc, delb) = send("DELETE", s"$base/vectors?namespace=demo",
        s"""{"ids": ["$id1", "ghost"]}""")
      assert(delc == 200)
      assert(mapper.readTree(delb).get("status").asText() == "success")
      assert(mapper.readTree(delb).get("message").asText() == "1 vectors deleted")
      val (sc2, sb2) = send("POST", s"$base/search?namespace=demo",
        """{"query": [1.0, 0.05], "top_k": 10}""")
      assert(sc2 == 200)
      val after = mapper.readTree(sb2)
      assert(after.size() == 2)
      (0 until after.size()).foreach(i =>
        assert(after.get(i).get("id").asText() != id1))

      // log level: query param, validated (rest_api.py:298-311)
      val (lc, lb) = send("POST", s"$base/log/level?level=warning")
      assert(lc == 200 && mapper.readTree(lb).get("message").asText() == "Log level set to WARNING")
      assert(send("POST", s"$base/log/level?level=verbose")._1 == 400)
      send("POST", s"$base/log/level?level=warn") // restore is a 400; reset via valid
      send("POST", s"$base/log/level?level=error")
    }
  }

  test("nested JSON metadata round-trips verbatim over HTTP (ref test :202-218)") {
    withServer { (base, _) =>
      val nested =
        """{"string": "value", "number": 42, "list": [1, 2, 3],
          | "dict": {"nested": "data"}, "none": null}""".stripMargin
      val (ic, _) = send("POST", s"$base/vectors?namespace=nj",
        s"""{"values": [1.0, 0.0], "metadata": $nested}""")
      assert(ic == 201)

      val (dc, db) = send("GET", s"$base/namespaces/vectors?namespace=nj")
      assert(dc == 200)
      val md = mapper.readTree(db).get(0).get("metadata")
      assert(md == mapper.readTree(nested)) // structural equality, nesting intact
      assert(md.get("dict").get("nested").asText() == "data")
      assert(md.get("list").size() == 3 && md.get("list").get(2).asInt() == 3)
      assert(md.get("number").asInt() == 42)
      assert(md.get("none").isNull)

      val (sc, sb) = send("POST", s"$base/search?namespace=nj",
        """{"query": [1.0, 0.0], "top_k": 1}""")
      assert(sc == 200)
      assert(mapper.readTree(sb).get(0).get("metadata") == mapper.readTree(nested))
    }
  }

  test("hybrid search over HTTP: flat filter and nested json_filter") {
    withServer { (base, _) =>
      send("POST", s"$base/vectors?namespace=h",
        """{"values": [1.0, 0.0], "metadata": {"cat": "a", "tags": {"env": "prod"}}}""")
      send("POST", s"$base/vectors?namespace=h",
        """{"values": [0.99, 0.1], "metadata": {"cat": "b", "tags": {"env": "prod"}}}""")
      send("POST", s"$base/vectors?namespace=h",
        """{"values": [0.98, 0.2], "metadata": {"cat": "a", "tags": {"env": "dev"}}}""")

      val (fc, fb) = send("POST", s"$base/search?namespace=h",
        """{"query": [1.0, 0.0], "filter": {"cat": "a"}}""")
      assert(fc == 200 && mapper.readTree(fb).size() == 2)
      val (jc, jb) = send("POST", s"$base/search?namespace=h",
        """{"query": [1.0, 0.0], "filter": {"cat": "a"},
          | "json_filter": {"$.tags.env": "prod"}}""".stripMargin)
      assert(jc == 200)
      val hits = mapper.readTree(jb)
      assert(hits.size() == 1)
      assert(hits.get(0).get("metadata").get("tags").get("env").asText() == "prod")
      // non-object filter → 422
      assert(send("POST", s"$base/search?namespace=h",
        """{"query": [1.0], "filter": "cat"}""")._1 == 422)
    }
  }

  test("search with approx=true serves from the LSH index over HTTP") {
    withServer { (base, _) =>
      // clustered inserts so the LSH buckets actually group neighbors
      val vecs = (0 until 12).map { i =>
        val anchor = if (i < 6) Seq(1.0, 0.1, 0.0, 0.2) else Seq(0.0, 1.0, 0.3, 0.0)
        anchor.map(_ + i * 0.001)
      }
      vecs.foreach { v =>
        assert(send("POST", s"$base/vectors?namespace=ax",
          s"""{"values": [${v.mkString(", ")}]}""")._1 == 201)
      }
      val (c, b) = send("POST", s"$base/search?namespace=ax",
        """{"query": [1.0, 0.1, 0.0, 0.2], "top_k": 3, "approx": true}""")
      assert(c == 200)
      val hits = mapper.readTree(b)
      assert(hits.isArray && hits.size() > 0 && hits.size() <= 3)
      // exact rerank: scores descend and are in cosine range
      (0 until hits.size()).foreach { i =>
        assert(hits.get(i).get("score").asDouble() <= 1.0 + 1e-9)
        if (i > 0) assert(hits.get(i).get("score").asDouble() <=
          hits.get(i - 1).get("score").asDouble())
      }
      // approx + non-cosine metric is a client error, not a 500
      assert(send("POST", s"$base/search?namespace=ax",
        """{"query": [1.0, 0.1, 0.0, 0.2], "metric": "l2", "approx": true}""")._1 == 422)
    }
  }

  test("search with index=ivf serves from the persisted inverted file over HTTP") {
    withServer { (base, _) =>
      val vecs = (0 until 12).map { i =>
        val anchor = if (i < 6) Seq(1.0, 0.1, 0.0, 0.2) else Seq(0.0, 1.0, 0.3, 0.0)
        anchor.map(_ + i * 0.001)
      }
      vecs.foreach { v =>
        assert(send("POST", s"$base/vectors?namespace=ivx",
          s"""{"values": [${v.mkString(", ")}]}""")._1 == 201)
      }
      val (c, b) = send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "top_k": 3, "approx": true, "index": "ivf"}""")
      assert(c == 200)
      val hits = mapper.readTree(b)
      assert(hits.isArray && hits.size() > 0 && hits.size() <= 3)
      (0 until hits.size()).foreach { i =>
        assert(hits.get(i).get("score").asDouble() <= 1.0 + 1e-9)
        if (i > 0) assert(hits.get(i).get("score").asDouble() <=
          hits.get(i - 1).get("score").asDouble())
      }
      // the PQ code-table index serves over the same route
      val (cp, bp) = send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "top_k": 3, "approx": true, "index": "pq"}""")
      assert(cp == 200)
      val pqHits = mapper.readTree(bp)
      assert(pqHits.isArray && pqHits.size() > 0 && pqHits.size() <= 3)
      // the BQ sign-bit index serves over the same route
      val (cb, bb) = send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "top_k": 3, "approx": true, "index": "bq"}""")
      assert(cb == 200)
      val bqHits = mapper.readTree(bb)
      assert(bqHits.isArray && bqHits.size() > 0 && bqHits.size() <= 3)
      // the IMI product grid serves over the same route (r11)
      val (ci, bi) = send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "top_k": 3, "approx": true, "index": "imi"}""")
      assert(ci == 200)
      val imiHits = mapper.readTree(bi)
      assert(imiHits.isArray && imiHits.size() > 0 && imiHits.size() <= 3)
      // the sharded-HNSW graphs serve over the same route (r12)
      val (ch, bh) = send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "top_k": 3, "approx": true, "index": "hnsw"}""")
      assert(ch == 200)
      val hnswHits = mapper.readTree(bh)
      assert(hnswHits.isArray && hnswHits.size() > 0 && hnswHits.size() <= 3)
      // an unknown index name is a client error, not a 500 — and it is
      // rejected even WITHOUT approx (a typo must not silently run exact)
      assert(send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "approx": true, "index": "annoy"}""")._1 == 422)
      assert(send("POST", s"$base/search?namespace=ivx",
        """{"query": [1.0, 0.1, 0.0, 0.2], "index": "annoy"}""")._1 == 422)
    }
  }

  test("durable mount serves read routes: /search durable=true runs the partition-pruned layout plan") {
    val sp = spark
    import sp.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rest_dvs_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    d.loadFrame(
      Seq(("a", Seq(1f, 0f)), ("b", Seq(0.9f, 0.1f)), ("c", Seq(0f, 1f)))
        .toDF("id", "values"),
      "dns")
    d.delete(Seq("c"), "dns")
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // durable search over HTTP: exact cosine over the live LSM view
      val (sc, sb) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true}""")
      assert(sc == 200, sb)
      val hits = mapper.readTree(sb)
      assert(hits.size() == 2, s"expected the 2 live rows, got $sb")
      assert(hits.get(0).get("id").asText() == "a")
      assert((0 until hits.size()).map(hits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable search served a tombstoned row")
      // the durable namespace listing is the mounted store's, not the in-memory one's
      val (nc, nb) = send("GET", s"$base/namespaces?durable=true")
      assert(nc == 200 && nb.contains("dns"))
      val (n2c, n2b) = send("GET", s"$base/namespaces")
      assert(n2c == 200 && !n2b.contains("dns"))
      // query-param flag is case-insensitive (the body flag already is) …
      val (ncc, ncb) = send("GET", s"$base/namespaces?durable=TRUE")
      assert(ncc == 200 && ncb.contains("dns"),
        "?durable=TRUE silently fell back to the in-memory store")
      // … and anything that isn't a boolean is a 422, not a silent false
      assert(send("GET", s"$base/namespaces?durable=1")._1 == 422)
      // durable approx serves from the IVF layout (r9) — and the
      // tombstoned row stays dead on the indexed path too
      val (ic, ib) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true, "index": "ivf"}""")
      assert(ic == 200, ib)
      val ihits = mapper.readTree(ib)
      assert(ihits.get(0).get("id").asText() == "a")
      assert((0 until ihits.size()).map(ihits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable approx search served a tombstoned row")
      // durable approx with no index rides the LSH signatures since r15
      // (the same default as the live mount — the matrix is symmetric)
      val (ac, ab) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true}""")
      assert(ac == 200, ab)
      val ahits = mapper.readTree(ab)
      assert((0 until ahits.size()).map(ahits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable default-index (lsh) search served a tombstoned row")
      // index=pq rides the durable codes-only sweep (r10) — tombstones
      // stay dead there too
      val (pc, pb) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true, "index": "pq"}""")
      assert(pc == 200, pb)
      val phits = mapper.readTree(pb)
      assert(phits.get(0).get("id").asText() == "a")
      assert((0 until phits.size()).map(phits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable PQ search served a tombstoned row")
      // index=bq rides the durable sign-bit sweep (r11) — tombstones
      // stay dead there too
      val (bc, bb2) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true, "index": "bq"}""")
      assert(bc == 200, bb2)
      val bhits = mapper.readTree(bb2)
      assert(bhits.get(0).get("id").asText() == "a")
      assert((0 until bhits.size()).map(bhits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable BQ search served a tombstoned row")
      // index=imi rides the durable product grid (r12) — tombstones
      // stay dead there too
      val (mc, mb) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true, "index": "imi"}""")
      assert(mc == 200, mb)
      val mhits = mapper.readTree(mb)
      assert(mhits.get(0).get("id").asText() == "a")
      assert((0 until mhits.size()).map(mhits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable IMI search served a tombstoned row")
      // index=hnsw rides the durable shard graphs (r12) — tombstones
      // stay dead there too
      val (hc2, hb2) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true, "index": "hnsw"}""")
      assert(hc2 == 200, hb2)
      val hhits = mapper.readTree(hb2)
      assert(hhits.get(0).get("id").asText() == "a")
      assert((0 until hhits.size()).map(hhits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable HNSW search served a tombstoned row")
      // index=lsh rides the durable band signatures (r15) — tombstones
      // stay dead there too
      val (lc, lb) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true, "approx": true, "index": "lsh"}""")
      assert(lc == 200, lb)
      val lhits = mapper.readTree(lb)
      assert(lhits.get(0).get("id").asText() == "a")
      assert((0 until lhits.size()).map(lhits.get(_).get("id").asText()).toSet == Set("a", "b"),
        "durable LSH search served a tombstoned row")
      // exact-path metadata filters serve on the durable mount (r15);
      // these rows carry no metadata, so an equality filter matches none
      val (fc, fb) = send("POST", s"$base/search?namespace=dns",
        """{"query": [1.0, 0.0], "durable": true, "filter": {"k": "v"}}""")
      assert(fc == 200 && mapper.readTree(fb).size() == 0, fb)
    } finally server.stop()
  }

  test("batch search over HTTP: positional results, one-scan semantics") {
    withServer { (base, _) =>
      val (_, bb) = send("PUT", s"$base/vectors/batch?namespace=bs",
        """{"vectors": [{"values": [1.0, 0.0]}, {"values": [0.0, 1.0]},
          |             {"values": [0.7, 0.7]}]}""".stripMargin)
      assert(mapper.readTree(bb).get("ids").size() == 3)
      val (c, b) = send("POST", s"$base/search/batch?namespace=bs",
        """{"queries": [[1.0, 0.0], [0.0, 1.0]], "top_k": 2}""")
      assert(c == 200)
      val res = mapper.readTree(b)
      assert(res.isArray && res.size() == 2, b)
      // each inner list is that query's own ranking
      assert(res.get(0).size() == 2 && res.get(1).size() == 2)
      assert(res.get(0).get(0).get("score").asDouble() > 0.99)
      assert(res.get(1).get(0).get("score").asDouble() > 0.99)
      assert(res.get(0).get(0).get("id").asText() !=
        res.get(1).get(0).get("id").asText())
      // approx batches ride the indexed one-scan forms: default
      // index=ivf (r11) and the pq/bq code sweeps (r12) serve; index
      // kinds without a shared-scan form are refused
      val (ac, ab) = send("POST", s"$base/search/batch?namespace=bs",
        """{"queries": [[1.0, 0.0], [0.0, 1.0]], "top_k": 2, "approx": true}""")
      assert(ac == 200, ab)
      val ares = mapper.readTree(ab)
      assert(ares.isArray && ares.size() == 2)
      assert(ares.get(0).get(0).get("score").asDouble() > 0.99)
      for (idx <- Seq("lsh", "pq", "bq", "imi", "hnsw")) {
        val (pc, pb) = send("POST", s"$base/search/batch?namespace=bs",
          s"""{"queries": [[1.0, 0.0], [0.0, 1.0]], "top_k": 2,
             | "approx": true, "index": "$idx"}""".stripMargin)
        assert(pc == 200, s"$idx batch: $pb")
        val pres = mapper.readTree(pb)
        assert(pres.isArray && pres.size() == 2, s"$idx batch shape")
        assert(pres.get(0).get(0).get("score").asDouble() > 0.99,
          s"$idx batch top hit")
      }
      // lsh batch is served since r14 (probe-union one-scan form) — the
      // loop above covers it; a typo'd index still 422s
      val (lc, _) = send("POST", s"$base/search/batch?namespace=bs",
        """{"queries": [[1.0, 0.0]], "approx": true, "index": "flann"}""")
      assert(lc == 422)
      // empty batches are a 422
      val (ec, _) = send("POST", s"$base/search/batch?namespace=bs",
        """{"queries": []}""")
      assert(ec == 422)
    }
  }

  test("durable write surface over HTTP: insert → search → delete → compact round-trip") {
    val root = java.nio.file.Files.createTempDirectory("graft_rest_dvw_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // single insert: 201, server-minted id, nested metadata accepted
      val (ic, ib) = send("POST", s"$base/vectors?durable=true&namespace=w",
        """{"values": [1.0, 0.0], "metadata": {"tag": "x", "deep": {"a": 1}}}""")
      assert(ic == 201, ib)
      val insId = mapper.readTree(ib).get("id").asText()
      assert(insId.nonEmpty)
      // batch upsert: one append commit for the batch
      val (bc, bb) = send("PUT", s"$base/vectors/batch?durable=true&namespace=w",
        """{"vectors": [{"values": [0.9, 0.1]}, {"values": [0.0, 1.0], "metadata": {"tag": "y"}}]}""")
      assert(bc == 200, bb)
      val batchIds = mapper.readTree(bb).get("ids")
      assert(batchIds.size() == 2)
      // the writes are visible to the durable read path, metadata intact
      val (sc1, sb1) = send("POST", s"$base/search?namespace=w",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true}""")
      assert(sc1 == 200, sb1)
      val hits = mapper.readTree(sb1)
      assert(hits.size() == 3)
      assert(hits.get(0).get("id").asText() == insId)
      assert(hits.get(0).get("metadata").get("deep").get("a").asInt() == 1,
        "nested metadata did not round-trip through the durable write path")
      // delete with per-id report (mixed batch: one live, one absent)
      val (dc, db) = send("DELETE", s"$base/vectors?durable=true&namespace=w",
        s"""{"ids": ["$insId", "ghost"]}""")
      assert(dc == 200, db)
      val delRep = mapper.readTree(db).get("deleted")
      assert(delRep.size() == 1 && delRep.get(0).asText() == insId)
      // maintenance fold over HTTP: tombstones fold, live set unchanged
      val (cc, cb) = send("POST", s"$base/compact?durable=true")
      assert(cc == 200, cb)
      assert(mapper.readTree(cb).get("rows").asLong() == 2L)
      assert(d.tombstoneCount() == 0L, "compact over HTTP did not fold the log")
      val (sc2, sb2) = send("POST", s"$base/search?namespace=w",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true}""")
      val after = mapper.readTree(sb2)
      assert(after.size() == 2, s"post-compact live set wrong: $sb2")
      assert(!(0 until after.size()).map(after.get(_).get("id").asText())
        .contains(insId), "compact resurrected a deleted row")
      // compact without the explicit flag is a 422 (never an in-memory op)
      assert(send("POST", s"$base/compact")._1 == 422)
      // writes without the flag land on the IN-MEMORY store, untouched by
      // the durable namespace — the two mounts never bleed together
      val (wc, _) = send("POST", s"$base/vectors?namespace=w",
        """{"values": [0.5, 0.5]}""")
      assert(wc == 201)
      assert(d.dumpNamespace("w").size == 2,
        "an un-flagged write leaked into the durable store")
    } finally server.stop()
  }

  test("durable batch routes serve every indexed mount (r13: matrix complete)") {
    val root = java.nio.file.Files.createTempDirectory("graft_rest_dbm_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val vecs = (0 until 12).map { i =>
        val a = math.cos(i * 0.5); val b = math.sin(i * 0.5)
        s"""{"values": [$a, $b]}"""
      }.mkString(", ")
      val (bc, _) = send("PUT", s"$base/vectors/batch?durable=true&namespace=m",
        s"""{"vectors": [$vecs]}""")
      assert(bc == 200)
      for (idx <- Seq("ivf", "pq", "bq", "imi", "hnsw", "lsh")) {
        val (pc, pb) = send("POST", s"$base/search/batch?namespace=m",
          s"""{"queries": [[1.0, 0.0], [0.0, 1.0]], "top_k": 2,
             | "durable": true, "approx": true, "index": "$idx"}""".stripMargin)
        assert(pc == 200, s"durable $idx batch: $pb")
        val pres = mapper.readTree(pb)
        assert(pres.isArray && pres.size() == 2, s"durable $idx batch shape")
        assert(pres.get(0).get(0).get("score").asDouble() > 0.9,
          s"durable $idx batch top hit: $pb")
      }
      // the code mounts refuse
      // non-cosine metrics instead of silently rescoring
      assert(send("POST", s"$base/search/batch?namespace=m",
        """{"queries": [[1.0, 0.0]], "durable": true, "approx": true, "index": "bq", "metric": "l2"}""")._1 == 422)
    } finally server.stop()
  }

  test("durable=true without a mounted durable store is a 422, never a silent fallback") {
    withServer { (base, _) =>
      val (sc, sb) = send("POST", s"$base/search",
        """{"query": [1.0, 0.0], "durable": true}""")
      assert(sc == 422, sb)
      assert(sb.contains("no durable store mounted"))
      val (nc, _) = send("GET", s"$base/namespaces?durable=true")
      assert(nc == 422)
      // the r10 write/maintenance routes refuse identically
      assert(send("POST", s"$base/vectors?durable=true",
        """{"values": [1.0]}""")._1 == 422)
      assert(send("DELETE", s"$base/vectors?durable=true",
        """{"ids": ["x"]}""")._1 == 422)
      assert(send("POST", s"$base/compact?durable=true")._1 == 422)
    }
  }

  test("validation mirrors the reference: bad inputs get 4xx, not 500") {
    withServer { (base, _) =>
      // empty delete list → 400 (rest_api.py:216-221)
      assert(send("DELETE", s"$base/vectors", """{"ids": []}""")._1 == 400)
      // top_k out of [1,1000] → 422 (rest_api.py:24)
      assert(send("POST", s"$base/search",
        """{"query": [1.0], "top_k": 5000}""")._1 == 422)
      // unknown metric → 422
      assert(send("POST", s"$base/search",
        """{"query": [1.0], "metric": "chebyshev"}""")._1 == 422)
      // malformed JSON → 400
      assert(send("POST", s"$base/search", """{"query": [1.0""")._1 == 400)
      // non-object metadata → 422 (Dict[str, Any] parity), never silent {}
      assert(send("POST", s"$base/vectors",
        """{"values": [1.0], "metadata": [1, 2, 3]}""")._1 == 422)
      assert(send("POST", s"$base/vectors",
        """{"values": [1.0], "metadata": "prod"}""")._1 == 422)
      // missing required fields → 422 like Pydantic, never a 500 NPE
      assert(send("POST", s"$base/search", "{}")._1 == 422)
      assert(send("POST", s"$base/vectors", "{}")._1 == 422)
      assert(send("DELETE", s"$base/vectors", "{}")._1 == 422)
      assert(send("PUT", s"$base/vectors/batch", "{}")._1 == 422)
      // wrong method → 405; a GET must never mutate the log level
      assert(send("GET", s"$base/search")._1 == 405)
      assert(send("GET", s"$base/log/level?level=DEBUG")._1 == 405)
      // search in unknown namespace → 200 empty list, never errors (index.py:98-99)
      val (c, b) = send("POST", s"$base/search?namespace=ghost",
        """{"query": [1.0]}""")
      assert(c == 200 && mapper.readTree(b).isArray && mapper.readTree(b).size() == 0)
      // vector payloads validate strictly (Pydantic List[float] parity):
      // string elements would floatValue() to 0.0, scalars to [], and a
      // JSON 1e999 to Infinity whose cosine is NaN — all 422, never
      // silent coercion
      assert(send("POST", s"$base/vectors",
        """{"values": ["1.5", "2.5"]}""")._1 == 422)
      assert(send("POST", s"$base/vectors", """{"values": "oops"}""")._1 == 422)
      assert(send("POST", s"$base/search", """{"query": 3.5}""")._1 == 422)
      assert(send("POST", s"$base/vectors", """{"values": [1e999]}""")._1 == 422)
      // a typo'd index 422s on the BATCH route's exact path too, matching
      // /search's contract
      assert(send("POST", s"$base/search/batch",
        """{"queries": [[1.0, 0.0]], "index": "ivvf"}""")._1 == 422)
    }
  }

  test("percent-encoded namespaces decode: write and read address the same namespace") {
    withServer { (base, _) =>
      val (ic, _) = send("POST", s"$base/vectors?namespace=my%20ns",
        """{"values": [1.0, 0.0]}""")
      assert(ic == 201)
      val (sc, sb) = send("POST", s"$base/search?namespace=my%20ns",
        """{"query": [1.0, 0.0], "top_k": 1}""")
      assert(sc == 200 && mapper.readTree(sb).size() == 1)
      // the stored name is the DECODED one
      val (nc, nb) = send("GET", s"$base/namespaces")
      assert(nc == 200)
      val names = mapper.readTree(nb).get("namespaces").elements()
      val all = new scala.collection.mutable.ArrayBuffer[String]()
      names.forEachRemaining(n => all += n.asText())
      assert(all.contains("my ns") && !all.contains("my%20ns"))
    }
  }

  test("/embed serves the feature-hash kernel: embed → insert → search round-trip") {
    withServer { (base, _) =>
      // kernel parity over HTTP
      val (ec, eb) = send("POST", s"$base/embed",
        """{"texts": ["the quick brown fox", "the quick brown fox", "entirely different words"]}""")
      assert(ec == 200, eb)
      val em = mapper.readTree(eb)
      assert(em.get("dims").asInt == graft.functions.FeatureHash.Dims)
      val vs = em.get("embeddings")
      assert(vs.size() == 3)
      assert(vs.get(0).toString == vs.get(1).toString,
        "identical texts must embed identically")
      assert(vs.get(0).toString != vs.get(2).toString)
      val expected = graft.functions.FeatureHash.embed("the quick brown fox")
      val got = (0 until vs.get(0).size).map(i => vs.get(0).get(i).floatValue)
      assert(got == expected.toSeq, "HTTP embed diverges from the kernel")
      // the vectors are store-compatible: insert one, search with it
      val vecJson = expected.mkString("[", ", ", "]")
      assert(send("POST", s"$base/vectors?namespace=txt",
        s"""{"values": $vecJson, "metadata": {"src": "embed"}}""")._1 == 201)
      val (sc, sb) = send("POST", s"$base/search?namespace=txt",
        s"""{"query": $vecJson, "top_k": 1}""")
      assert(sc == 200)
      val hit = mapper.readTree(sb).get(0)
      assert(math.abs(hit.get("score").asDouble - 1.0) < 1e-5,
        s"self-search cosine similarity not ~1: $sb")
      // validation: missing field 422, wrong type 422, GET 405
      assert(send("POST", s"$base/embed", "{}")._1 == 422)
      assert(send("POST", s"$base/embed", """{"texts": "nope"}""")._1 == 422)
      assert(send("POST", s"$base/embed", """{"texts": [42]}""")._1 == 422)
      assert(send("GET", s"$base/embed")._1 == 405)
    }
  }

  test("/score serves the standing quality model, bit-equal to the batch scorer") {
    val dir = "/root/testdata/sf0.001"
    val wv = graft.operators.QualityClassifier.standingModel(spark, dir)
    val server = new RestServer(new VectorStore(spark), quality = Some(wv))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val texts = graft.sources.Tables.table(spark, dir, "documents")
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .limit(20).collect().map(_.getAs[String]("text"))
      val payload = mapper.createObjectNode()
      val arr = payload.putArray("texts")
      texts.foreach(arr.add)
      val (code, body) = send("POST", s"$base/score", mapper.writeValueAsString(payload))
      assert(code == 200)
      val scores = mapper.readTree(body).get("scores")
      assert(scores.size() == texts.length)
      texts.zipWithIndex.foreach { case (t, i) =>
        val expected = graft.operators.QualityClassifier.localScore(t, wv)
        assert(scores.get(i).asDouble() == expected,
          s"text $i: REST score ${scores.get(i).asDouble()} != kernel $expected")
      }
      // the kernel itself is pinned bit-equal to the distributed frame in
      // QualityClassifierSpec, so transitivity grades REST == Spark
      assert(mapper.readTree(body).get("pass").size() == texts.length)
    } finally server.stop()
  }

  test("/score without a mounted model is a 422, never a silent constant") {
    withServer { (base, _) =>
      val (code, body) = send("POST", s"$base/score", """{"text": "hello world"}""")
      assert(code == 422 && body.contains("no quality model mounted"))
    }
  }

  test("/stats exposes the serving-branch counters; durable section behind the flag") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rest_stats_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    d.loadFrame(
      (0 until 40).map(i => (s"v$i", Seq(i.toFloat / 40f, 1f)))
        .toDF("id", "values"), "st")
    d.findSimilar(Seq(0.5f, 1f), k = 3, namespace = "st", approx = true)
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // live-only form: counters present, durable section absent
      val (c0, b0) = send("GET", s"$base/stats")
      assert(c0 == 200, b0)
      val t0 = mapper.readTree(b0)
      assert(t0.get("store").has("starved_probe_skips") && !t0.has("durable"))
      // durable form: builds reflect the layout the search above paid
      val (c1, b1) = send("GET", s"$base/stats?durable=true")
      assert(c1 == 200, b1)
      val t1 = mapper.readTree(b1)
      assert(t1.get("durable").get("builds").get("ann").asInt() == 1, b1)
      assert(t1.get("durable").get("seq").asLong() == d.currentSeq())
      assert(t1.get("durable").get("exact_rescues").asLong() ==
        d.exactRescues.get())
    } finally server.stop()
  }

  test("/seq + as_of: the reproducibility read over HTTP serves the snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rest_asof_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    d.loadFrame(
      Seq(("a", Seq(1f, 0f), Map("t" -> "1")),
          ("b", Seq(0.9f, 0.1f), Map("t" -> "1")),
          ("c", Seq(0f, 1f), Map("t" -> "2")))
        .toDF("id", "values", "metadata"),
      "ans")
    // build the layout so the approx as-of path has a pre-horizon index
    d.findSimilar(Seq(1f, 0f), k = 2, namespace = "ans", approx = true)
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // the horizon a pipeline records at job start
      val (hc, hb) = send("GET", s"$base/seq?durable=true")
      assert(hc == 200, hb)
      val h = mapper.readTree(hb).get("seq").asLong()
      // /seq without the durable flag is a 422 (no commit log to stamp)
      assert(send("GET", s"$base/seq")._1 == 422)
      // post-horizon world change: the top hit dies, a better one arrives
      d.delete(Seq("a"), "ans")
      d.loadFrame(Seq(("z", Seq(1f, 0f))).toDF("id", "values"), "ans")
      for (approxBody <- Seq(""""approx": false""",
                             """"approx": true, "index": "ivf"""")) {
        val (sc, sb) = send("POST", s"$base/search?namespace=ans",
          s"""{"query": [1.0, 0.0], "top_k": 2, "durable": true,
             | "as_of": $h, $approxBody}""".stripMargin)
        assert(sc == 200, sb)
        val ids = {
          val t = mapper.readTree(sb)
          (0 until t.size()).map(t.get(_).get("id").asText())
        }
        assert(ids.head == "a" && !ids.contains("z"),
          s"as-of read must serve the snapshot ($approxBody): $sb")
      }
      // the current read sees the opposite world
      val (cc, cb) = send("POST", s"$base/search?namespace=ans",
        """{"query": [1.0, 0.0], "top_k": 2, "durable": true}""")
      assert(cc == 200, cb)
      val cur = mapper.readTree(cb)
      assert(cur.get(0).get("id").asText() == "z", cb)
      // strict validation: non-integral as_of 422s; a typo'd index too
      assert(send("POST", s"$base/search?namespace=ans",
        s"""{"query": [1.0, 0.0], "durable": true, "as_of": "later"}""")._1 == 422)
      assert(send("POST", s"$base/search?namespace=ans",
        s"""{"query": [1.0, 0.0], "durable": true, "as_of": $h,
           | "approx": true, "index": "nope"}""".stripMargin)._1 == 422)
      // EVERY derived mount serves the snapshot (r17 — q181/q183–q186's
      // graded paths): the dead top hit still first, the post-horizon
      // append invisible
      for (idx <- Seq("pq", "bq", "imi", "hnsw", "lsh")) {
        val (pc, pb) = send("POST", s"$base/search?namespace=ans",
          s"""{"query": [1.0, 0.0], "top_k": 2, "durable": true,
             | "as_of": $h, "approx": true, "index": "$idx"}""".stripMargin)
        assert(pc == 200, s"$idx: $pb")
        val pids = {
          val t = mapper.readTree(pb)
          (0 until t.size()).map(t.get(_).get("id").asText())
        }
        assert(pids.head == "a" && !pids.contains("z"),
          s"as-of $idx read must serve the snapshot: $pb")
      }
      // the BATCH route serves the snapshot too (exact + ivf), with the
      // same strict 422s; as_of+filter refuses rather than half-applying
      for (approxBody <- Seq(""""approx": false""",
                             """"approx": true, "index": "ivf"""")) {
        val (bc, bb) = send("POST", s"$base/search/batch?namespace=ans",
          s"""{"queries": [[1.0, 0.0]], "top_k": 2, "durable": true,
             | "as_of": $h, $approxBody}""".stripMargin)
        assert(bc == 200, bb)
        val bt = mapper.readTree(bb).get(0)
        val bids = (0 until bt.size()).map(bt.get(_).get("id").asText())
        assert(bids.head == "a" && !bids.contains("z"),
          s"batch as-of read must serve the snapshot ($approxBody): $bb")
      }
      // the batch route serves every index at the snapshot too (r17)
      for (idx <- Seq("pq", "bq", "imi", "hnsw", "lsh")) {
        val (ic, ib) = send("POST", s"$base/search/batch?namespace=ans",
          s"""{"queries": [[1.0, 0.0]], "top_k": 2, "durable": true,
             | "as_of": $h, "approx": true, "index": "$idx"}""".stripMargin)
        assert(ic == 200, s"$idx: $ib")
        val it = mapper.readTree(ib).get(0)
        val iids = (0 until it.size()).map(it.get(_).get("id").asText())
        assert(iids.head == "a" && !iids.contains("z"),
          s"batch as-of $idx read must serve the snapshot: $ib")
      }
      // as_of COMPOSES with filters on the batch route (r17 — q179's
      // graded composition): the tenant predicate cuts candidates at
      // the snapshot; 'a' (t=1) serves, 'c' (t=2) never ranks, and the
      // post-horizon 'z' stays invisible
      for (approxBody <- Seq(""""approx": false""",
                             """"approx": true, "index": "ivf"""")) {
        val (fc, fb) = send("POST", s"$base/search/batch?namespace=ans",
          s"""{"queries": [[1.0, 0.0]], "top_k": 3, "durable": true,
             | "as_of": $h, "filter": {"t": "1"}, $approxBody}""".stripMargin)
        assert(fc == 200, fb)
        val ft = mapper.readTree(fb).get(0)
        val fids = (0 until ft.size()).map(ft.get(_).get("id").asText())
        assert(fids == Seq("a", "b"),
          s"filtered batch as-of must serve the filtered snapshot ($approxBody): $fb")
      }
    } finally server.stop()
  }

  test("durable exact search serves metadata filters; every indexed path serves them too") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rest_dfilter_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    d.loadFrame(
      Seq(("a", Seq(1f, 0f), Map("pass" -> "true")),
          ("b", Seq(0.95f, 0.05f), Map("pass" -> "false")),
          ("c", Seq(0f, 1f), Map("pass" -> "true")))
        .toDF("id", "values", "metadata"),
      "dfns")
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val (sc, sb) = send("POST", s"$base/search?namespace=dfns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true,
          | "filter": {"pass": "true"}}""".stripMargin)
      assert(sc == 200, sb)
      val hits = mapper.readTree(sb)
      assert((0 until hits.size()).map(hits.get(_).get("id").asText()) == Seq("a", "c"),
        s"filter must drop b (pass=false): $sb")
      // r16: the 422 is LIFTED for index:'ivf' — the hybrid query on the
      // durable indexed path (candidate-time filter inside the probed-
      // cell scan; starved probes fall back to the exact filtered scan)
      val (vc, vb) = send("POST", s"$base/search?namespace=dfns",
        """{"query": [1.0, 0.0], "top_k": 3, "durable": true,
          | "approx": true, "index": "ivf",
          | "filter": {"pass": "true"}}""".stripMargin)
      assert(vc == 200, vb)
      val vhits = mapper.readTree(vb)
      assert((0 until vhits.size()).map(vhits.get(_).get("id").asText()) == Seq("a", "c"),
        s"filtered IVF must serve exactly the matching rows: $vb")
      // r16 second wave: the refusal set is EMPTY — every index serves
      // the hybrid query over HTTP (semi-join-before-CandN on pq/bq,
      // in-scan on imi, beam-filter + rescue on hnsw); at 3 rows each
      // probe saturates or rescues to the same exact filtered top-k
      for (idx <- Seq("pq", "bq", "imi", "hnsw", "lsh")) {
        val (ic, ib) = send("POST", s"$base/search?namespace=dfns",
          s"""{"query": [1.0, 0.0], "top_k": 3, "durable": true,
             | "approx": true, "index": "$idx",
             | "filter": {"pass": "true"}}""".stripMargin)
        assert(ic == 200, s"filtered durable '$idx' must serve: $ib")
        val ih = mapper.readTree(ib)
        assert((0 until ih.size()).map(ih.get(_).get("id").asText()) == Seq("a", "c"),
          s"filtered durable '$idx' returned wrong rows: $ib")
      }
      // the BATCH route mirrors the single-query contract (r16): exact
      // and all six indexed batch mounts serve filters
      val (bc, bb) = send("POST", s"$base/search/batch?namespace=dfns",
        """{"queries": [[1.0, 0.0], [0.0, 1.0]], "top_k": 3,
          | "durable": true, "filter": {"pass": "true"}}""".stripMargin)
      assert(bc == 200, bb)
      val bres = mapper.readTree(bb)
      assert(bres.size() == 2)
      assert((0 until bres.get(0).size())
        .map(bres.get(0).get(_).get("id").asText()) == Seq("a", "c"), bb)
      for (idx <- Seq("pq", "bq", "imi", "hnsw")) {
        val (bic, bib) = send("POST", s"$base/search/batch?namespace=dfns",
          s"""{"queries": [[1.0, 0.0]], "top_k": 3, "durable": true,
             | "approx": true, "index": "$idx",
             | "filter": {"pass": "true"}}""".stripMargin)
        assert(bic == 200, s"filtered durable batch '$idx' must serve: $bib")
        val bih = mapper.readTree(bib)
        assert((0 until bih.get(0).size())
          .map(bih.get(0).get(_).get("id").asText()) == Seq("a", "c"),
          s"filtered durable batch '$idx' returned wrong rows: $bib")
      }
    } finally server.stop()
  }

  test("/query-types enumerates the matrix; radius/min_similarity serve range and similarity (r20)") {
    withServer { (base, _) =>
      val (tc, tb) = send("GET", s"$base/query-types")
      assert(tc == 200, tb)
      val t = mapper.readTree(tb)
      val types = (0 until t.get("supported_types").size())
        .map(t.get("supported_types").get(_).asText())
      assert(types == Seq("knn", "range", "similarity", "metadata", "hybrid"))
      // the reference client iterates descriptions (api_client.py:112-113)
      types.foreach(ty => assert(t.get("descriptions").has(ty), ty))
      assert(t.get("indexes").size() == 6)
      assert((0 until t.get("mounts").size())
        .map(t.get("mounts").get(_).asText()) == Seq("live")) // no durable mounted

      // range + similarity over /search (README.md:296-298 made real)
      send("PUT", s"$base/vectors/batch?namespace=rng",
        """{"vectors": [{"values": [1.0, 0.0]}, {"values": [0.9, 0.1]},
          |             {"values": [-1.0, 0.0]}]}""".stripMargin)
      val (rc, rb) = send("POST", s"$base/search?namespace=rng",
        """{"query": [1.0, 0.0], "radius": 0.5, "metric": "l2"}""")
      assert(rc == 200, rb)
      assert(mapper.readTree(rb).size() == 2, rb) // the far vector is outside r
      val (mc, mb) = send("POST", s"$base/search?namespace=rng",
        """{"query": [1.0, 0.0], "min_similarity": 0.9}""")
      assert(mc == 200, mb)
      val sims = mapper.readTree(mb)
      assert(sims.size() == 2 &&
        sims.get(0).get("score").asDouble() >= sims.get(1).get("score").asDouble(), mb)
      // both at once / with approx: 422, never a silent pick
      assert(send("POST", s"$base/search?namespace=rng",
        """{"query": [1.0, 0.0], "radius": 0.5, "min_similarity": 0.9}""")._1 == 422)
      assert(send("POST", s"$base/search?namespace=rng",
        """{"query": [1.0, 0.0], "radius": 0.5, "approx": true}""")._1 == 422)
    }
  }

  test("concurrent /search over a store bulk-loaded from a driver-local frame never fails") {
    // A frame built on the driver (`Seq(...).toDF`) optimizes to a local
    // relation, and its derived metadataJson column used to be evaluated
    // on the driver by every planning of every query against the store.
    // Concurrent searches then shared one JSON generator and some failed
    // with 400 "malformed JSON: Can not start an object". Runs on both
    // serving tiers: the driver snapshot and the Spark plans.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val frame = (0 until 300).map { i =>
      (s"r$i", Seq.fill(8)(rnd.nextFloat() * 2 - 1), Map("label" -> (i % 5).toString))
    }.toDF("id", "values", "metadata")
    for (sparkPath <- Seq(false, true)) {
      val store = new VectorStore(spark)
      if (sparkPath) store.snapshotMaxRows = -1
      store.loadFrame(frame, "bulk")
      val server = new RestServer(store)
      server.start()
      try {
        val base = s"http://127.0.0.1:${server.boundPort}"
        val threads = 3
        val perThread = 50
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val tasks = (0 until threads).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = (0 until perThread).foreach { i =>
              val q = Seq.fill(8)(rnd.synchronized(rnd.nextFloat()))
              val body = s"""{"query": [${q.mkString(",")}], "top_k": 3,
                            | "filter": {"label": "${(t + i) % 5}"}}""".stripMargin
              val (c, b) = send("POST", s"$base/search?namespace=bulk", body)
              if (c != 200 || mapper.readTree(b).size() != 3) bad.add(s"$c $b")
            }
          })
        }
        tasks.foreach(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
        pool.shutdown()
        assert(bad.isEmpty, s"sparkPath=$sparkPath: ${bad.size} failed, first: ${bad.peek()}")
      } finally server.stop()
    }
  }

  test("/query/explain names the branch a search would take, without running it (r20)") {
    withServer { (base, srv) =>
      send("PUT", s"$base/vectors/batch?namespace=exp",
        """{"vectors": [{"values": [1.0, 0.0], "metadata": {"t": "1"}},
          |             {"values": [0.9, 0.1], "metadata": {"t": "1"}},
          |             {"values": [0.0, 1.0], "metadata": {"t": "2"}}]}""".stripMargin)
      // reference envelope: {"type","vector","k"} (README.md:481-487)
      val (kc, kb) = send("POST", s"$base/query/explain?namespace=exp",
        """{"type": "knn", "vector": [1.0, 0.0], "k": 2}""")
      assert(kc == 200, kb)
      val k = mapper.readTree(kb)
      assert(k.get("branch").asText() == "exact" && k.get("mount").asText() == "live")
      assert(k.get("plan").asText().contains("Physical Plan"))
      // a filtered indexed search explains as the probe branch with the
      // rescue disclosed — the /search envelope accepted verbatim
      val (fc, fb) = send("POST", s"$base/query/explain?namespace=exp",
        """{"query": [1.0, 0.0], "top_k": 2, "approx": true, "index": "lsh",
          | "filter": {"t": "1"}}""".stripMargin)
      assert(fc == 200, fb)
      val f = mapper.readTree(fb)
      assert(f.get("branch").asText() == "indexed-probe", fb)
      assert(f.get("index").asText() == "lsh" && f.get("filtered").asBoolean, fb)
      assert(!f.get("starved_skip").asBoolean, fb)
      val notes = (0 until f.get("notes").size()).map(f.get("notes").get(_).asText())
      assert(notes.exists(_.contains("rescues from the exact filtered scan")), fb)
      // hybrid without a filter, unknown type, thresholded+approx: 422s
      assert(send("POST", s"$base/query/explain",
        """{"type": "hybrid", "vector": [1.0]}""")._1 == 422)
      assert(send("POST", s"$base/query/explain",
        """{"type": "teleport", "vector": [1.0]}""")._1 == 422)
      assert(send("POST", s"$base/query/explain",
        """{"type": "range", "vector": [1.0], "approx": true}""")._1 == 422)
      // as_of without durable: the same 422 /search gives
      assert(send("POST", s"$base/query/explain",
        """{"vector": [1.0], "as_of": 3}""")._1 == 422)
    }
  }

  test("/query/explain on the durable mount discloses as-of and starvation branches (r20)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rest_explain_").toString
    val d = new graft.store.DurableVectorStore(spark, root)
    d.loadFrame(
      Seq(("a", Seq(1f, 0f), Map("t" -> "1")),
          ("b", Seq(0.9f, 0.1f), Map("t" -> "1")),
          ("c", Seq(0f, 1f), Map("t" -> "2")))
        .toDF("id", "values", "metadata"),
      "ens")
    d.findSimilar(Seq(1f, 0f), k = 2, namespace = "ens", approx = true)
    val h = d.currentSeq()
    val server = new RestServer(new VectorStore(spark), durable = Some(d))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      // warm layout + snapshot at/after builtSeq: the indexed probe
      // serves, with the probed cells disclosed
      val (ac, ab) = send("POST", s"$base/query/explain?namespace=ens",
        s"""{"query": [1.0, 0.0], "top_k": 2, "durable": true,
           | "approx": true, "index": "ivf", "as_of": $h,
           | "filter": {"t": "1"}}""".stripMargin)
      assert(ac == 200, ab)
      val a = mapper.readTree(ab)
      assert(a.get("mount").asText() == "durable", ab)
      assert(a.get("branch").asText() == "indexed-probe", ab)
      assert(a.get("layout_cached").asBoolean && a.get("probed_cells").size() >= 1, ab)
      assert(a.get("as_of").asLong() == h, ab)
      // a snapshot OLDER than the layout explains as the exact as-of scan
      val builtSeq = a.get("layout_built_seq").asLong()
      val (yc, yb) = send("POST", s"$base/query/explain?namespace=ens",
        s"""{"query": [1.0, 0.0], "durable": true, "approx": true,
           | "index": "ivf", "as_of": ${builtSeq - 1}}""".stripMargin)
      assert(yc == 200, yb)
      assert(mapper.readTree(yb).get("branch").asText() == "exact-asof", yb)
      // a derived index answers from its own layout: after an ivf-only
      // search the pq layout is not derived yet, and the first pq search
      // derives it
      def pqExplain(): com.fasterxml.jackson.databind.JsonNode = {
        val (c, b) = send("POST", s"$base/query/explain?namespace=ens",
          """{"query": [1.0, 0.0], "top_k": 2, "durable": true,
            | "approx": true, "index": "pq"}""".stripMargin)
        assert(c == 200, b)
        mapper.readTree(b)
      }
      val cold = pqExplain()
      assert(!cold.get("layout_cached").asBoolean, cold.toString)
      assert(cold.get("notes").toString.contains("the first search derives it"), cold.toString)
      d.findSimilar(Seq(1f, 0f), k = 2, namespace = "ens", approx = true, index = "pq")
      val warm = pqExplain()
      assert(warm.get("layout_cached").asBoolean, warm.toString)
      assert(!warm.get("notes").toString.contains("derives it"), warm.toString)
      // explain costs no search: the rescue counter is untouched
      val rescues0 = d.exactRescues.get()
      send("POST", s"$base/query/explain?namespace=ens",
        """{"query": [1.0, 0.0], "durable": true, "approx": true,
          | "index": "hnsw", "filter": {"t": "nope"}}""".stripMargin)
      assert(d.exactRescues.get() == rescues0)
      // the serving tier: the driver snapshot the search above collected
      // (generation 0, three rows), Spark above the bound, and no current
      // snapshot before the first read under a new bound
      def tierNote(): String = {
        val (c, b) = send("POST", s"$base/query/explain?namespace=ens",
          """{"query": [1.0, 0.0], "top_k": 2, "durable": true}""")
        assert(c == 200, b)
        val n = mapper.readTree(b).get("notes")
        (0 until n.size).map(n.get(_).asText()).mkString(" | ")
      }
      assert(tierNote().contains("scores on the driver snapshot (generation 0, 3 row versions) with no Spark job"),
        tierNote())
      d.snapshotMaxRows = 2
      try {
        assert(tierNote().contains("no current snapshot"), tierNote())
        d.findSimilar(Seq(1f, 0f), k = 2, namespace = "ens")
        assert(tierNote().contains("Spark: above the bound"), tierNote())
      } finally d.snapshotMaxRows = VectorStore.SnapshotMaxRows
    } finally server.stop()
  }
}
