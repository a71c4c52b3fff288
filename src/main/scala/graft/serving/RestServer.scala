package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JacksonException, JsonEncoding, JsonGenerator, JsonParseException, JsonParser}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.SearchHit
import graft.store.{ApproxIndexes, DurableVectorStore, VectorStore}

/** Route-for-route HTTP facade over [[VectorStore]] — the reference's REST
  * surface (`/root/reference/src/mlvectordb/api/rest_api.py:96-311`)
  * reimplemented on the JDK's built-in HttpServer + the Jackson shipped on
  * Spark's classpath (zero new dependencies).
  *
  * Routes and response envelopes match the reference (cites into
  * rest_api.py):
  *  - `POST /vectors?namespace=` → **201** `{"status","message"}` (:96,114)
  *  - `PUT  /vectors/batch?namespace=` → `{"status","message"}` (:126,150)
  *  - `POST /search?namespace=` → bare list of
  *    `{id, values, metadata, score}` (:163-203, response_model=List)
  *  - `DELETE /vectors?namespace=` → `{"status","message"}`; empty id
  *    list → 400 "No IDs provided" (:205-246)
  *  - `GET  /namespaces` → `{"namespaces": [names]}` (:248-261)
  *  - `GET  /namespaces/vectors?namespace=` → bare list of
  *    `{id, values, metadata}` (:263-276)
  *  - `GET  /storage/info` → the storage engine's info dict verbatim
  *    (:278-291 / storage_engine_in_memory.py:61-69)
  *  - `GET  /health` → `{"status": "healthy"}` (:292-297)
  *  - `POST /log/level?level=` → validated against
  *    DEBUG/INFO/WARNING/ERROR, 400 otherwise (:298-311)
  *
  * Documented divergences (deliberate supersets, keys added never removed):
  *  - insert/batch/delete responses also carry the affected `id`/`ids` —
  *    the reference mints server-side UUIDs but never returns them, so its
  *    own insert response cannot be used to read the vector back.
  *  - search/insert accept nested JSON `metadata` (reference parity —
  *    `Dict[str, Any]`) and round-trip it verbatim via the store's
  *    `metadataJson`; the old flat-flattening via `asText` is gone.
  *
  * Validation mirrors the reference: `top_k ∈ [1,1000]` (Pydantic bound at
  * rest_api.py:24) → 422; vectors must be JSON arrays of FINITE numbers
  * → 422 (Pydantic `List[float]` parity; also keeps Infinity-born NaN
  * scores out of the kernels); malformed JSON → 400. A request-latency
  * log line is emitted per request (middleware parity, rest_api.py:350-378).
  *
  * Known divergence: query DIMENSION is not validated against the stored
  * vectors (the reference's hnswlib raises on mismatch because its index
  * has a fixed dim; this store has no per-namespace dim registry). The
  * distance kernels score over the common prefix on both serving tiers of
  * both mounts — callers own the dim contract, as the facade API
  * documents; checking it stays open (ROADMAP known defect 3).
  *
  * Serving tiers: a live namespace of at most
  * [[graft.store.VectorStore.SnapshotMaxRows]] rows (10,000, the
  * reference's capacity per namespace, `index.py:37`) answers from a
  * driver snapshot collected once per store epoch, so exact, batch, range
  * and threshold searches cost no Spark job, and neither do the indexed
  * ones: each index layout holds its candidate rows on the driver too and
  * picks the candidates there; larger namespaces answer from Spark plans.
  * A durable namespace of at most that many row versions (data rows plus
  * tombstones) is held the same way, stamped with the files a read sees
  * and re-collected when they change: its exact, `as_of` and indexed
  * searches, single and batch, cost no Spark job. Both tiers return the
  * same hits; `POST /query/explain` says which one a search takes on
  * either mount, and for an indexed search where its candidates come
  * from (a driver probe over the layout's rows, or a Spark probe).
  *
  * Durable mount: a [[DurableVectorStore]] passed as `durable` exposes
  * the 100 TB layout route-for-route. Reads — `POST /search` with
  * `"durable": true` runs the partition-pruned top-k over the compacted
  * parquet layout (the q51 plan, over HTTP); `"approx": true` with
  * `"index": "ivf"` serves from the durable IVF layout (indexed main +
  * delta tail), `"index": "pq"` from its codes-only ADC sweep and
  * `"index": "bq"` from its sign-bit hamming codes
  * ([[DurableVectorStore.findSimilar]]); `lsh` stays an in-memory-store
  * feature. `GET /namespaces?durable=true` lists live namespaces,
  * `GET /namespaces/vectors?durable=true` dumps one. Writes (r10) —
  * `?durable=true` on `POST /vectors`, `PUT /vectors/batch` and
  * `DELETE /vectors` routes the same envelopes to the durable store's
  * append-only write path (multi-process safe by the store's
  * marker-claimed commit stamps; reference envelope:
  * `api/rest_api.py:96,126,205`), and `POST /compact?durable=true` runs
  * the LSM maintenance fold — the one DURABLE-ONLY route (the in-memory
  * store has no log to fold), and the one that must still come from a
  * single maintenance caller at a time (the store's documented
  * single-compactor contract; concurrent appends are fine). Requesting
  * `durable` with no mount is a 422, never a silent
  * fallback to the other store (since r15 every approx index — lsh
  * included — serves on both mounts, so the index matrix is symmetric;
  * since r16 metadata filters serve on EVERY path of the matrix —
  * exact, all six indexes, single and batch, both mounts — with the
  * starved-selectivity fallback guaranteeing min(k, matching) hits).
  *
  * TCP_NODELAY: the JDK server leaves Nagle's algorithm on unless the
  * JVM-wide system property `sun.net.httpserver.nodelay` is true, and a
  * response then waits ~40 ms for the client's delayed ACK. Constructing
  * a server sets the property to `true` when it is unset, before the
  * server is created; the JDK reads it once, when its first server is
  * created, so an embedder that sets it (to `false`, say) before that
  * keeps its own value. */
class RestServer(store: VectorStore, port: Int = 0,
                 durable: Option[DurableVectorStore] = None,
                 quality: Option[Array[Double]] = None) {

  private val mapper = new ObjectMapper()
  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[RestServer])
  private val server = {
    RestServer.defaultNoDelay()
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  def boundPort: Int = server.getAddress.getPort

  // ---- helpers --------------------------------------------------------

  private def respond(ex: HttpExchange, code: Int, body: JsonNode): Unit =
    respond(ex, code, mapper.writeValueAsBytes(body))

  private def respond(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
    // the latency line is built only when it is logged
    if (logger.isInfoEnabled) {
      val t0 = ex.getAttribute("graft.t0").asInstanceOf[java.lang.Long]
      val ms = if (t0 == null) 0.0 else (System.nanoTime() - t0) / 1e6
      logger.info(f"← ${ex.getRequestMethod} ${ex.getRequestURI.getPath} - Status: $code - Time: $ms%.2fms")
    }
  }

  private def status(ex: HttpExchange, code: Int, st: String, msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("status", st)
    o.put("message", msg)
    respond(ex, code, o)
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("detail", msg)
    respond(ex, code, o)
  }

  private def queryParam(ex: HttpExchange, key: String, default: String): String = {
    val q = Option(ex.getRequestURI.getQuery).getOrElse("")
    // percent-decode (UTF-8, '+' = space): a standards-compliant client
    // sending namespace=my%20ns must address "my ns", not the literal
    // encoded bytes — the reference's FastAPI decodes the same way
    def dec(s: String): String =
      java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    q.split("&").iterator.map(_.split("=", 2))
      .collectFirst { case Array(k, v) if dec(k) == key => dec(v) }
      .getOrElse(default)
  }

  private def readJson(ex: HttpExchange): JsonNode =
    mapper.readTree(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))

  /** Strict boolean query param: case-insensitive `true`/`false`, 422 on
    * anything else. `?durable=TRUE` must not parse as false and silently
    * serve the OTHER store — the class doc promises no silent fallback,
    * and the POST-body flag (Jackson `asBoolean`) already accepts
    * case-variant booleans, so the two flag spellings stay consistent. */
  private def boolParam(ex: HttpExchange, key: String, default: Boolean): Boolean =
    queryParam(ex, key, default.toString).toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"query param '$key' must be true or false (got '$other')")
    }

  /** Fetch a required field or fail with the 422 path (mirrors Pydantic's
    * field-required validation, rest_api.py models) — a bare `get` would
    * NPE into a 500. */
  private def required(n: JsonNode, field: String): JsonNode = {
    val v = n.get(field)
    if (v == null || v.isNull)
      throw new IllegalArgumentException(s"field '$field' is required")
    v
  }

  /** Strict vector payload: a JSON array of finite numbers, 422 on
    * anything else (Pydantic `List[float]` parity, rest_api.py models).
    * Jackson's floatValue() would silently coerce strings to 0.0f and a
    * scalar to an empty iterator; a JSON 1e999 parses to Infinity, whose
    * cosine turns NaN and would hijack every descending top-k. */
  private def floats(n: JsonNode): Seq[Float] = {
    if (!n.isArray)
      throw new IllegalArgumentException(
        "vector must be a JSON array of numbers")
    n.elements().asScala.map { e =>
      if (!e.isNumber)
        throw new IllegalArgumentException(
          s"vector elements must be numbers (got ${e.getNodeType})")
      val f = e.floatValue()
      if (f.isNaN || f.isInfinite)
        throw new IllegalArgumentException("vector elements must be finite")
      f
    }.toSeq
  }

  /** The request's metadata object as a JSON string — arbitrary nesting
    * preserved (reference metadata is `Dict[str, Any]`, rest_api.py:19).
    * Non-object metadata is a 422, mirroring Pydantic's Dict validation —
    * silently coercing `[1,2,3]` or `"prod"` to `{}` would drop data. */
  private def metadataJsonOf(n: JsonNode): String = {
    val m = n.get("metadata")
    if (m == null || m.isNull) "{}"
    else if (m.isObject) mapper.writeValueAsString(m)
    else throw new IllegalArgumentException("metadata must be a JSON object")
  }

  private def parsedMetadata(json: String): JsonNode =
    try mapper.readTree(json)
    catch { case NonFatal(_) => mapper.createObjectNode() }

  private def hitJson(h: SearchHit): JsonNode = {
    val o = mapper.createObjectNode()
    o.put("id", h.id)
    val vs = o.putArray("values")
    h.values.foreach(vs.add)
    o.set[JsonNode]("metadata", parsedMetadata(h.metadataJson))
    o.put("score", h.score)
    o
  }

  /** A search response body: one list of hits as a bare list (`/search`),
    * several as a list of lists (`/search/batch`, positional). Written
    * with a streaming generator, each hit's stored metadata copied token
    * by token ([[copyMetadata]]); when one cannot be, the body is built
    * as trees of [[hitJson]] instead. The bytes are the trees' either way. */
  private def hitsBody(lists: Seq[Seq[SearchHit]], nested: Boolean): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream()
      val g = mapper.createGenerator(out, JsonEncoding.UTF8)
      if (nested) g.writeStartArray()
      lists.foreach { hits =>
        g.writeStartArray()
        hits.foreach { h =>
          g.writeStartObject()
          g.writeStringField("id", h.id)
          g.writeArrayFieldStart("values")
          h.values.foreach(g.writeNumber)
          g.writeEndArray()
          g.writeFieldName("metadata")
          copyMetadata(g, h.metadataJson)
          g.writeNumberField("score", h.score)
          g.writeEndObject()
        }
        g.writeEndArray()
      }
      if (nested) g.writeEndArray()
      g.close()
      out.toByteArray
    } catch {
      case _: JacksonException | _: IllegalArgumentException =>
        val trees = lists.map { hits =>
          val arr = mapper.createArrayNode()
          hits.foreach(h => arr.add(hitJson(h)))
          arr
        }
        mapper.writeValueAsBytes(
          if (nested) { val arr = mapper.createArrayNode(); trees.foreach(arr.add); arr }
          else trees.head)
    }

  /** Writes a stored metadataJson as [[parsedMetadata]]'s tree would
    * serialize, without building the tree: the parser's tokens copied to
    * `g`. Throws where the two could differ: no JSON value (a null or
    * blank string), a duplicate key (the tree keeps the last value) or a
    * parse error (the tree is `{}`). */
  private def copyMetadata(g: JsonGenerator, json: String): Unit = {
    val p = mapper.createParser(json).enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    try {
      if (p.nextToken() == null) throw new JsonParseException(p, "no metadata value")
      g.copyCurrentStructure(p)
    } finally p.close()
  }

  private def handle(ex: HttpExchange)(body: => Unit): Unit = {
    ex.setAttribute("graft.t0", java.lang.Long.valueOf(System.nanoTime()))
    if (logger.isInfoEnabled) logger.info(s"→ ${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
    try body
    catch {
      case e: com.fasterxml.jackson.core.JacksonException =>
        error(ex, 400, s"malformed JSON: ${e.getOriginalMessage}")
      case e: IllegalArgumentException => error(ex, 422, e.getMessage)
      case NonFatal(e) => error(ex, 500, String.valueOf(e))
    }
  }

  // ---- routes ---------------------------------------------------------

  /** The mounted durable store, or the 422 the class doc promises. */
  private def durableStore: DurableVectorStore =
    durable.getOrElse(throw new IllegalArgumentException(
      "no durable store mounted on this server"))

  server.createContext("/vectors/batch", ex => handle(ex) {
    ex.getRequestMethod match {
      case "PUT" =>
        val ns = queryParam(ex, "namespace", "default")
        val vs = required(readJson(ex), "vectors").elements().asScala.toSeq
          .map(v => (floats(required(v, "values")), metadataJsonOf(v)))
        val ids =
          if (boolParam(ex, "durable", default = false))
            durableStore.upsertManyJson(vs, ns)
          else store.upsertManyJson(vs, ns)
        val o = mapper.createObjectNode()
        o.put("status", "success")
        o.put("message", s"${ids.length} vectors upserted") // rest_api.py:150
        val arr = o.putArray("ids") // divergence: reference never returns ids
        ids.foreach(arr.add)
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  server.createContext("/vectors", ex => handle(ex) {
    val ns = queryParam(ex, "namespace", "default")
    ex.getRequestMethod match {
      case "POST" =>
        val body = readJson(ex)
        val id =
          if (boolParam(ex, "durable", default = false))
            durableStore.insertJson(floats(required(body, "values")),
              metadataJsonOf(body), ns)
          else store.insertJson(floats(required(body, "values")),
            metadataJsonOf(body), ns)
        val o = mapper.createObjectNode()
        o.put("status", "success")
        o.put("message", "Vector inserted") // rest_api.py:114
        o.put("id", id) // divergence: reference never returns the new id
        o.put("namespace", ns)
        respond(ex, 201, o) // HTTP_201_CREATED, rest_api.py:96
      case "DELETE" =>
        val ids = required(readJson(ex), "ids").elements().asScala.map(_.asText()).toSeq
        if (ids.isEmpty) error(ex, 400, "No IDs provided") // rest_api.py:216-221
        else {
          val deleted =
            if (boolParam(ex, "durable", default = false))
              durableStore.delete(ids, ns)
            else store.delete(ids, ns)
          val o = mapper.createObjectNode()
          o.put("status", if (deleted.nonEmpty) "success" else "error") // :231-234
          o.put("message", s"${deleted.length} vectors deleted")
          val arr = o.putArray("deleted") // divergence: the actual ids
          deleted.foreach(arr.add)
          respond(ex, 200, o)
        }
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  /** The optional `as_of` commit stamp (see `/seq`); 422 unless integral. */
  private def asOfOf(body: JsonNode): Option[Long] =
    Option(body.get("as_of")).filterNot(_.isNull).map { n =>
      if (!n.isIntegralNumber)
        throw new IllegalArgumentException(
          "as_of must be an integral commit stamp (see /seq)")
      n.asLong()
    }

  /** Optional string-map field (`filter` / `json_filter`) → Map. */
  private def stringMapOf(n: JsonNode, field: String): Map[String, String] = {
    val m = n.get(field)
    if (m == null || m.isNull) Map.empty
    else if (m.isObject)
      m.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    else throw new IllegalArgumentException(s"$field must be a JSON object")
  }

  server.createContext("/search", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" =>
        val ns = queryParam(ex, "namespace", "default")
        val body = readJson(ex)
        val k = Option(body.get("top_k")).map(_.asInt()).getOrElse(10)
        val metric = Option(body.get("metric")).map(_.asText()).getOrElse("cosine")
        // superset of the reference request model: optional `filter`
        // (top-level equality) and `json_filter` (JSONPath → value) expose
        // the hybrid-search surface (README.md:294-299) over HTTP;
        // optional `approx` routes through a store-attached index (the
        // reference's index-backed read path, index.py:91-129); optional
        // `index` picks which one — "lsh" (default, cached signatures),
        // "ivf" (persisted inverted file), "pq" (compressed codes),
        // "bq" (sign-bit hamming codes), "imi" (two-level product grid)
        // or "hnsw" (sharded small-world graphs, r12)
        val approx = Option(body.get("approx")).exists(_.asBoolean(false))
        val index = Option(body.get("index")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("lsh") // explicit JSON null = unset
        // validate the index name even when approx is false: a typo'd
        // index on an exact search should 422, not silently run exact
        ApproxIndexes.requireKnown(index)
        // optional `durable` routes the search to the mounted durable
        // store (read-only; see class doc) — the q51 partition-pruned
        // plan over HTTP
        val wantDurable = Option(body.get("durable")).exists(_.asBoolean(false))
        // the reference's RANGE and SIMILARITY query types (README.md:
        // 296-298, /query/range and /query/similarity — documented,
        // never implemented) over the one /search route: optional
        // `radius` serves all vectors within distance r, optional
        // `min_similarity` serves cosine sim ≥ t descending — both
        // exact thresholded scans on the live mount (rangeSearch /
        // thresholdSearch; a threshold has no k-cut for an index to
        // saturate, so approx would be a different query, not a faster
        // one — 422, never a silent exact run)
        val radiusNode = Option(body.get("radius")).filterNot(_.isNull)
        val minSimNode = Option(body.get("min_similarity")).filterNot(_.isNull)
        if (radiusNode.isDefined || minSimNode.isDefined) {
          if (radiusNode.isDefined && minSimNode.isDefined)
            throw new IllegalArgumentException(
              "pass radius (range query) or min_similarity (similarity threshold), not both")
          if (wantDurable || approx)
            throw new IllegalArgumentException(
              "range/similarity-threshold queries serve as exact scans on the live mount; drop 'durable'/'approx'")
          if (stringMapOf(body, "json_filter").nonEmpty)
            throw new IllegalArgumentException(
              "range/similarity-threshold queries support the flat 'filter' only")
          val thr = radiusNode.getOrElse(minSimNode.get)
          if (!thr.isNumber || thr.doubleValue().isNaN || thr.doubleValue().isInfinite)
            throw new IllegalArgumentException(
              "radius/min_similarity must be a finite number")
        }
        val hits =
          if (radiusNode.isDefined)
            store.rangeSearch(floats(required(body, "query")),
              radiusNode.get.doubleValue(), metric, ns,
              stringMapOf(body, "filter"))
          else if (minSimNode.isDefined)
            store.thresholdSearch(floats(required(body, "query")),
              minSimNode.get.doubleValue(), ns,
              stringMapOf(body, "filter"))
          else if (wantDurable) {
            val d = durableStore
            // the durable approx paths: the IVF layout and its derived
            // PQ/BQ codes, IMI grid, HNSW graphs (r10-r12) and — since
            // r15 — LSH band signatures, closing the live/durable index
            // matrix; the index vocabulary is symmetric across mounts,
            // so the index check above covers both
            //
            // metadata filters serve on the durable EXACT path (r15) and
            // — since r16 — on ALL SIX indexed paths: candidate-time on
            // ivf/imi/lsh (records meet the predicate before any k-cut),
            // via the filtered-id semi-join ahead of the CandN cut on
            // pq/bq, and on the beam frontier for hnsw; every filtered
            // probe short of k falls back to the exact filtered scan
            // (see DurableVectorStore.findSimilar).
            //
            // optional `as_of` (r16; the full index matrix r17 —
            // q175/q181/q183–q186's graded paths): the reproducibility
            // read — serve the snapshot at that commit stamp (the
            // q72/q175 horizon) on the exact path or ANY of the six
            // indexes (every derived structure is stamped ≤ builtSeq ≤
            // asOf by construction, so only the kill/delta horizons
            // move); filters compose on every branch, the starved
            // rescue answering from the exact filtered as-of scan
            asOfOf(body) match {
              case Some(h) =>
                d.findSimilarAsOf(floats(required(body, "query")), h, k,
                  metric, ns, approx = approx,
                  index = if (approx) index else "ivf",
                  filter = stringMapOf(body, "filter"),
                  jsonFilter = stringMapOf(body, "json_filter"))
              case None =>
                d.findSimilar(floats(required(body, "query")), k, metric, ns,
                  approx = approx, index = if (approx) index else "ivf",
                  filter = stringMapOf(body, "filter"),
                  jsonFilter = stringMapOf(body, "json_filter"))
            }
          } else store.findSimilar(floats(required(body, "query")), k, metric,
            ns, stringMapOf(body, "filter"), stringMapOf(body, "json_filter"),
            approx = approx, index = index)
        // bare list, rest_api.py:163 response_model
        respond(ex, 200, hitsBody(Seq(hits), nested = false))
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  server.createContext("/search/batch", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" =>
        val ns = queryParam(ex, "namespace", "default")
        val body = readJson(ex)
        val k = Option(body.get("top_k")).map(_.asInt()).getOrElse(10)
        val metric = Option(body.get("metric")).map(_.asText()).getOrElse("cosine")
        val qNode = required(body, "queries")
        if (!qNode.isArray || qNode.isEmpty)
          throw new IllegalArgumentException(
            "queries must be a non-empty array of vectors")
        val qs = qNode.elements().asScala.map(floats).toSeq
        // one scan answers the whole batch (Scoring.batchSearch); an
        // approx batch unions every query's probes into ONE sweep of the
        // index's layout, on either mount. Metadata filters serve on
        // every route (candidate time, per-query starved rescue), and
        // `as_of` reads the durable mount at a commit stamp — exact or
        // any index, filters composing, the rescue answering from the
        // exact filtered as-of scan.
        val approx = Option(body.get("approx")).exists(_.asBoolean(false))
        val index = Option(body.get("index")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("ivf")
        // validate the index name even when approx is false — /search's
        // contract: a typo'd index on an exact search 422s, never a
        // silent exact run
        ApproxIndexes.requireKnown(index)
        val filter = stringMapOf(body, "filter")
        val jsonFilter = stringMapOf(body, "json_filter")
        val results =
          if (Option(body.get("durable")).exists(_.asBoolean(false)))
            durableStore.searchBatch(qs, k, metric, ns, approx, index, filter,
              jsonFilter, asOfOf(body))
          else store.searchBatch(qs, k, metric, ns, filter, jsonFilter, approx, index)
        // positional: result i ↔ queries[i]
        respond(ex, 200, hitsBody(results, nested = true))
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  server.createContext("/namespaces", ex => handle(ex) {
    val path = ex.getRequestURI.getPath
    if (path == "/namespaces" || path == "/namespaces/") {
      val names =
        if (boolParam(ex, "durable", default = false))
          durableStore.listNamespaces()
        else store.listNamespaces()
      val o = mapper.createObjectNode()
      val arr = o.putArray("namespaces") // name list, rest_api.py:255
      names.foreach(arr.add)
      respond(ex, 200, o)
    } else if (path == "/namespaces/vectors") {
      // reference route shape: namespace is a query param (rest_api.py:264)
      val ns = queryParam(ex, "namespace", "default")
      val arr = mapper.createArrayNode() // bare list, response_model=List[VectorInfo]
      val recs =
        if (boolParam(ex, "durable", default = false))
          durableStore.dumpNamespace(ns)
        else store.dumpNamespace(ns)
      recs.foreach { r =>
        val v = mapper.createObjectNode()
        v.put("id", r.id)
        val vs = v.putArray("values")
        r.values.foreach(vs.add)
        v.set[JsonNode]("metadata", parsedMetadata(r.metadataJson))
        arr.add(v)
      }
      respond(ex, 200, arr)
    } else error(ex, 404, s"no route for $path")
  })

  server.createContext("/storage/info", ex => handle(ex) {
    // key-for-key the reference's info dict (storage_engine_in_memory.py:61-69)
    val info = store.info()
    val o = mapper.createObjectNode()
    o.put("storage_type", info.storageType)
    o.put("total_vectors", info.totalVectors)
    o.put("storage_size_bytes", info.estBytes)
    val names = o.putArray("namespaces")
    info.namespaces.keys.toSeq.sorted.foreach(names.add)
    val counts = o.putObject("vectors_per_namespace")
    info.namespaces.toSeq.sortBy(_._1).foreach { case (ns, n) => counts.put(ns, n) }
    o.put("namespace_count", info.namespaces.size)
    respond(ex, 200, o)
  })

  server.createContext("/compact", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" => // mutation → POST-only, like /log/level
        // durable-only maintenance (the in-memory store has no log to
        // fold): requires the explicit flag so the route never reads as
        // an in-memory operation that silently hit the other store
        if (!boolParam(ex, "durable", default = false))
          error(ex, 422, "compact is a durable-store maintenance route; pass ?durable=true")
        else {
          val remaining = durableStore.compact()
          val o = mapper.createObjectNode()
          o.put("status", "success")
          o.put("message", s"compacted; $remaining rows remain")
          o.put("rows", remaining)
          respond(ex, 200, o)
        }
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  server.createContext("/health", ex => handle(ex) {
    val o = mapper.createObjectNode()
    o.put("status", "healthy") // rest_api.py:297
    respond(ex, 200, o)
  })

  // Serving-branch observability (r18 — the reference DOCUMENTS a
  // /statistics endpoint its client already calls but never implemented
  // it, examples/api_client.py:83-92; this is that surface, carrying
  // the counters the graded scripts assert in-process): which branch
  // served (probe vs exact rescue vs starvation-cache skip) and how
  // many derived-structure builds this process has paid. GET /stats;
  // ?durable=true adds the durable mount's counters + commit stamp.
  server.createContext("/stats", ex => handle(ex) {
    ex.getRequestMethod match {
      case "GET" =>
        val o = mapper.createObjectNode()
        val live = o.putObject("store")
        live.put("starved_probe_skips", store.starvedProbeSkips.get())
        live.put("hnsw_graph_builds", store.builds("hnsw").get())
        val lb = live.putObject("builds")
        ApproxIndexes.Names.foreach(n => lb.put(n, store.builds(n).get()))
        if (boolParam(ex, "durable", default = false)) {
          val d = durableStore
          val dn = o.putObject("durable")
          dn.put("seq", d.currentSeq())
          dn.put("exact_rescues", d.exactRescues.get())
          dn.put("starved_probe_skips", d.starvedProbeSkips.get())
          // six keys that readers sum (perfbench among them): the ann
          // layout's builds as "ann", each derived index's by its name
          val db = dn.putObject("builds")
          ApproxIndexes.Names.foreach(n =>
            db.put(if (n == "ivf") "ann" else n, d.builds(n).get()))
        }
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  // The reference's last documented-but-unimplemented REST pair
  // (README.md:332,451; examples/api_client.py:76-92): GET /query-types
  // enumerates the supported query-type matrix with per-type
  // descriptions (the client iterates `descriptions`,
  // api_client.py:112-113); POST /query/explain returns the branch a
  // /search with the same body WOULD take, without running it (the
  // stores' plan-time explainSearch — layout/starvation cache peeks +
  // the authoritative scan's Spark plan string, zero Spark jobs).
  server.createContext("/query-types", ex => handle(ex) {
    ex.getRequestMethod match {
      case "GET" =>
        val o = mapper.createObjectNode()
        val types = o.putArray("supported_types")
        Seq("knn", "range", "similarity", "metadata", "hybrid")
          .foreach(types.add)
        val d = o.putObject("descriptions") // reference QueryType set, README.md:293-298
        d.put("knn",
          "k-nearest neighbors: POST /search {query, top_k, metric} — exact scan, or any of the six indexes with approx=true + index")
        d.put("range",
          "all vectors within distance r: POST /search {query, radius[, metric, filter]} — exact thresholded scan, live mount")
        d.put("similarity",
          "similarity threshold: POST /search {query, min_similarity[, filter]} — cosine sim >= t descending, live mount")
        d.put("metadata",
          "metadata filtering: filter (top-level equality) and json_filter (JSONPath -> value) compose with every search route at candidate time")
        d.put("hybrid",
          "vector + metadata composed: POST /search {query, filter[, json_filter]} on either mount, any index, single or batch, optionally as_of")
        val idx = o.putArray("indexes")
        ApproxIndexes.Names.foreach(idx.add)
        val m = o.putObject("metrics")
        m.put("cosine", "similarity, descending")
        m.put("l2", "squared euclidean distance, ascending")
        m.put("ip", "1 - dot product, ascending (indexed via the durable MIPS layout)")
        val mounts = o.putArray("mounts")
        mounts.add("live")
        if (durable.isDefined) mounts.add("durable")
        val f = o.putObject("features")
        f.put("batch", "POST /search/batch — positional results, one layout sweep per batch")
        f.put("as_of", "durable reproducibility reads at a commit stamp (GET /seq) — exact or any index, filters compose")
        f.put("explain", "POST /query/explain — plan-time branch disclosure, no Spark job")
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  server.createContext("/query/explain", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" =>
        val ns = queryParam(ex, "namespace", "default")
        val body = readJson(ex)
        // reference explain envelope: {"type","vector","k"} (README.md:
        // 481-487); the /search envelope ({"query","top_k",...}) is
        // accepted too so any search body can be explained verbatim
        val tpe = Option(body.get("type")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("knn")
        if (!Seq("knn", "range", "similarity", "metadata", "hybrid").contains(tpe))
          throw new IllegalArgumentException(
            s"unknown query type '$tpe' (see GET /query-types)")
        val qNode = Option(body.get("vector")).filterNot(_.isNull)
          .orElse(Option(body.get("query")).filterNot(_.isNull))
          .getOrElse(throw new IllegalArgumentException(
            if (tpe == "metadata")
              "this engine serves metadata filtering composed with a vector search; provide 'vector' (or 'query') plus 'filter'"
            else "field 'vector' (or 'query') is required"))
        val qv = floats(qNode)
        val k = Option(body.get("k")).filterNot(_.isNull).map(_.asInt())
          .orElse(Option(body.get("top_k")).filterNot(_.isNull).map(_.asInt()))
          .getOrElse(10)
        val metric =
          if (tpe == "similarity") "cosine"
          else Option(body.get("metric")).filterNot(_.isNull)
            .map(_.asText()).getOrElse("cosine")
        val approx = Option(body.get("approx")).exists(_.asBoolean(false))
        if (approx && (tpe == "range" || tpe == "similarity"))
          throw new IllegalArgumentException(
            s"'$tpe' queries serve as exact thresholded scans; drop 'approx'")
        val index = Option(body.get("index")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("lsh")
        val filterM = stringMapOf(body, "filter")
        val jsonF = stringMapOf(body, "json_filter")
        if (tpe == "hybrid" && filterM.isEmpty && jsonF.isEmpty)
          throw new IllegalArgumentException(
            "hybrid queries require 'filter' or 'json_filter'")
        val wantDurable = Option(body.get("durable")).exists(_.asBoolean(false))
        val asOf = asOfOf(body)
        if (asOf.isDefined && !wantDurable)
          throw new IllegalArgumentException(
            "as_of is a durable-store concept; pass \"durable\": true")
        val e =
          if (wantDurable)
            durableStore.explainSearch(qv, k, metric, ns, approx,
              if (approx) index else "ivf", filterM, jsonF, asOf)
          else store.explainSearch(qv, k, metric, ns, filterM, jsonF,
            approx, index)
        val o = mapper.createObjectNode()
        o.put("type", tpe)
        o.put("mount", e.mount)
        o.put("branch", e.branch)
        e.index.foreach(o.put("index", _))
        o.put("metric", e.metric)
        o.put("k", e.k)
        o.put("filtered", e.filtered)
        e.asOf.foreach(o.put("as_of", _))
        o.put("layout_cached", e.layoutCached)
        e.layoutBuiltSeq.foreach(o.put("layout_built_seq", _))
        val cells = o.putArray("probed_cells")
        e.probedCells.foreach(cells.add)
        o.put("starved_skip", e.starvedSkip)
        o.put("plan", e.plan)
        val notes = o.putArray("notes")
        e.notes.foreach(notes.add)
        if (tpe == "range" || tpe == "similarity")
          notes.add(s"'$tpe' serves as a distance-thresholded scan over the same plan (no k-cut)")
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  // The reproducibility horizon (no reference analogue — the arc it
  // completes: GET /seq at job start, pass the stamp back as `as_of` on
  // every /search for bit-identical retrieval while ingestion appends).
  // Durable-only: the in-memory store has no commit log to stamp.
  server.createContext("/seq", ex => handle(ex) {
    ex.getRequestMethod match {
      case "GET" =>
        if (!boolParam(ex, "durable", default = false))
          throw new IllegalArgumentException(
            "commit stamps are a durable-store concept; pass ?durable=true")
        val o = mapper.createObjectNode()
        o.put("seq", durableStore.currentSeq())
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  // Model-free embedding endpoint (no reference analogue — the serving
  // arc it completes: embed → insert → search with no external encoder):
  // POST {"texts": ["…", …]} (or {"text": "…"}) returns the q129
  // feature-hash vectors via the DRIVER-side kernel — one request never
  // costs a Spark job; TextAnalysisSpec pins kernel/operator parity.
  server.createContext("/embed", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" =>
        val body = readJson(ex)
        val texts: Seq[String] =
          if (body.has("texts")) {
            val n = required(body, "texts")
            if (!n.isArray)
              throw new IllegalArgumentException("texts must be an array")
            (0 until n.size).map { i =>
              val t = n.get(i)
              if (!t.isTextual)
                throw new IllegalArgumentException(s"texts[$i] is not a string")
              t.asText
            }
          } else Seq(required(body, "text").asText)
        val o = mapper.createObjectNode()
        val arr = o.putArray("embeddings")
        texts.foreach { t =>
          val v = arr.addArray()
          graft.functions.FeatureHash.embed(t).foreach(v.add(_))
        }
        o.put("dims", graft.functions.FeatureHash.Dims)
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  // Model-serving quality endpoint (no reference analogue — completes
  // the trained-scorer arc: q158 fits, /score serves): POST
  // {"texts": ["…", …]} (or {"text": "…"}) returns σ(x·w) per text plus
  // the pass flag at the 0.5 threshold, all on the DRIVER-side kernel
  // (QualityClassifier.localScore — bit-parity with the distributed
  // frame pinned by QualityClassifierSpec); one request never costs a
  // Spark job. 422 when the server was mounted without a model —
  // never a silent constant.
  server.createContext("/score", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" =>
        val wv = quality.getOrElse(
          throw new IllegalArgumentException("no quality model mounted"))
        val body = readJson(ex)
        val texts: Seq[String] =
          if (body.has("texts")) {
            val n = required(body, "texts")
            if (!n.isArray)
              throw new IllegalArgumentException("texts must be an array")
            (0 until n.size).map { i =>
              val t = n.get(i)
              if (!t.isTextual)
                throw new IllegalArgumentException(s"texts[$i] is not a string")
              t.asText
            }
          } else Seq(required(body, "text").asText)
        val o = mapper.createObjectNode()
        val scores = o.putArray("scores")
        val pass = o.putArray("pass")
        texts.foreach { t =>
          val p = graft.operators.QualityClassifier.localScore(t, wv)
          scores.add(p)
          pass.add(p >= 0.5)
        }
        respond(ex, 200, o)
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  server.createContext("/log/level", ex => handle(ex) {
    ex.getRequestMethod match {
      case "POST" => // POST-only like the reference (rest_api.py:298) —
        // a stray GET must never mutate global logging
        val level = queryParam(ex, "level", "").toUpperCase
        val valid = Seq("DEBUG", "INFO", "WARNING", "ERROR") // rest_api.py:301
        if (!valid.contains(level))
          error(ex, 400,
            s"Invalid level. Must be one of: ${valid.mkString("[", ", ", "]")}")
        else {
          // log4j spells WARNING as WARN; the API speaks the reference's dialect
          store.spark.sparkContext.setLogLevel(if (level == "WARNING") "WARN" else level)
          status(ex, 200, "success", s"Log level set to $level")
        }
      case m => error(ex, 405, s"method $m not allowed")
    }
  })

  // Without an executor the JDK HttpServer runs EVERY handler on its one
  // dispatcher thread: a multi-second Spark search would queue /health
  // behind it and serialize all clients. Pool size is a serving knob,
  // not a Spark one — Spark itself parallelizes each query's work.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  def start(): Unit = server.start()
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object RestServer {

  /** The JVM-wide switch that turns TCP_NODELAY on for the JDK's HTTP
    * server (see the class doc). */
  val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** Sets [[NoDelayProperty]] to `true` unless something already set it. */
  private def defaultNoDelay(): Unit = System.getProperties.synchronized {
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true")
  }
}
