package graft.sources.es

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** An in-JVM HTTP server speaking the Elasticsearch search/scroll wire
  * format — the integration-test double for the live cluster the reference
  * connects to (ElasticsearchConnection.connect, Bootstrap.java:262-263).
  * [[EsScrollSource]] is a REAL wire-protocol connector; this server is the
  * only stand-in, and only because no ES cluster exists in this sandbox.
  *
  * Implements the slice of the ES REST API a scroll export touches:
  *   - `POST /{index}/_search?scroll=...` — initial search: evaluates the
  *     request's query DSL (`match_all` / `term` / `terms` / `range` /
  *     `exists` / `bool` with must/should/must_not; `term` is exact)
  *     against the seeded rows, applies the `slice` spec (docs are
  *     distributed by row index mod `max` — the server-side detail a
  *     client never observes), honors `"_source": [cols...]` filtering and
  *     a field `sort` (with `missing: _first|_last`, across a multi-index
  *     search), returns the first `size` hits plus a `_scroll_id`.
  *   - `POST /{index}/_search` without `?scroll=` — the same search, paged
  *     by `from`/`size`, with NO scroll context and no `_scroll_id` (a real
  *     cluster keeps none for a plain search).
  *   - `POST /_search/scroll` — next page for a live scroll context; an
  *     exhausted context returns an empty hit page (the loop-termination
  *     condition the reference polls, EsParquetWriter.java:72).
  *   - `DELETE /_search/scroll` — clears contexts (counted, so tests can
  *     assert the connector's scroll hygiene).
  *   - `size:0` searches with a paged `composite` aggregation over `terms`
  *     and 1-day `date_histogram` sources, or a `max` metric.
  *   - `GET /{index}/_mapping` — field types inferred from the seeded
  *     values; `stringMapping` picks how string fields are mapped.
  *
  * Rows are seeded from a DataFrame via [[EsStubServer.fromDataFrame]] —
  * the one driver-side collect is the test double's seed (the server plays
  * the EXTERNAL system holding the data; it is not an engine data path)
  * and is bounded by fixture scale. Timestamps are served as ISO-8601
  * instants (the ES `date` convention); `malformedEvery=n` serves every
  * n-th seeded document's `_source` as a scalar (the same documents in
  * every search, whatever its order) to exercise the connector's
  * per-record skip.
  */
class EsStubServer(
    index: String,
    colNames: Array[String],
    rows: IndexedSeq[Array[Any]],
    malformedEvery: Int = 0,
    rejectEvery: Int = 0,
    extraIndices: Map[String, IndexedSeq[Array[Any]]] = Map.empty,
    requireAuth: String = null, // expected Authorization header; null = open cluster
    stringMapping: EsStubServer.StringMapping = EsStubServer.KeywordStrings
) {
  import EsStubServer.{KeywordStrings, TextWithKeyword}
  private val allIndices: Map[String, IndexedSeq[Array[Any]]] =
    extraIndices + (index -> rows)
  private val mapper = new ObjectMapper
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  // observability for specs: what the connector actually sent
  @volatile var lastSearchBody: String = ""
  /** `scroll=` keep-alive of the last initial search (was once silently
    * "null" via an auto-tupled options.get — keep it asserted). */
  @volatile var lastScrollKeepAlive: String = ""
  val searchCalls  = new AtomicLong(0)
  /** Searches that opened a scroll context (`?scroll=`). */
  val scrollSearchCalls = new AtomicLong(0)
  val scrollCalls  = new AtomicLong(0)
  val clearedScrolls = new AtomicLong(0)
  /** Total hits serialized over the wire (pushdown tests assert this). */
  val hitsServed = new AtomicLong(0)
  /** Requests shed with 429 (`rejectEvery` fault injection). */
  val rejected = new AtomicLong(0)
  /** `size:0` aggregation searches served (discovery-pushdown assertions). */
  val aggCalls = new AtomicLong(0)
  /** `GET /_cat/indices` requests (pattern resolutions). */
  val catCalls = new AtomicLong(0)
  /** `GET /<index>/_mapping` requests. */
  val mappingCalls = new AtomicLong(0)
  /** The longest request line served, in bytes (`POST /<target>/_search
    * HTTP/1.1`); a real cluster rejects one longer than its
    * `http.max_initial_line_length`, 4,096 bytes by default. */
  val longestRequestLine = new AtomicLong(0)
  private val reqSeq = new AtomicLong(0)
  /** Per-index `_search` hit counts — index-pruning tests assert that a
    * pruned index never receives a request. */
  private val searchesPerIndex = new ConcurrentHashMap[String, AtomicLong]()
  def searchCount(idx: String): Long = {
    val c = searchesPerIndex.get(idx); if (c == null) 0L else c.get()
  }

  private case class Ctx(data: IndexedSeq[Array[Any]], ids: Array[Int], cols: Array[String], pageSize: Int, var pos: Int)
  private val contexts = new ConcurrentHashMap[String, Ctx]()
  /** Open point-in-time snapshots (id -> the frozen rows). */
  private val pits = new ConcurrentHashMap[String, IndexedSeq[Array[Any]]]()
  val clearedPits = new AtomicLong(0)

  def liveContexts: Int = contexts.size()
  def livePits: Int = pits.size()

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** HttpServer.stop does NOT shut down a user-supplied executor; without the
    * explicit shutdown the 8 non-daemon pool threads keep the JVM alive after
    * main() returns (a Verify run would never exit). */
  def stop(): Unit = if (server != null) {
    server.stop(0)
    pool.shutdownNow()
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val q = ex.getRequestURI.getQuery
    val line = s"${ex.getRequestMethod} ${ex.getRequestURI} ${ex.getProtocol}"
    longestRequestLine.accumulateAndGet(
      line.getBytes(StandardCharsets.UTF_8).length, (a, b) => math.max(a, b))
    if (q != null && q.startsWith("scroll=")) lastScrollKeepAlive = q.stripPrefix("scroll=")
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    // Authentication FIRST (real ES's security filter runs before the
    // search layer): a secured stub 401s any request without the exact
    // expected Authorization header — non-retryable, the client fails fast.
    if (requireAuth != null && ex.getRequestHeaders.getFirst("Authorization") != requireAuth) {
      val err = """{"error":{"type":"security_exception","reason":"missing authentication credentials"}}"""
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(401, err.length)
      ex.getResponseBody.write(err)
      ex.close()
      return
    }
    // Load shedding BEFORE any state mutation — exactly where real ES
    // rejects (es_rejected_execution), so a client retry is always safe.
    if (rejectEvery > 0 && reqSeq.incrementAndGet() % rejectEvery == 0) {
      rejected.incrementAndGet()
      val err = """{"error":{"type":"es_rejected_execution_exception"}}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(429, err.length)
      ex.getResponseBody.write(err)
      ex.close()
      return
    }
    try {
      val resp: String = (ex.getRequestMethod, path) match {
        case ("DELETE", "/_search/scroll") => clearScroll(body)
        case ("POST" | "GET", "/_search/scroll") => scrollNext(body)
        case ("GET", "/_cat/indices") => catCalls.incrementAndGet(); catIndices()
        case ("GET", p) if p.endsWith("/_mapping") =>
          mappingCalls.incrementAndGet(); mappingOf(p.stripPrefix("/").stripSuffix("/_mapping"))
        case ("DELETE", "/_pit") => clearPit(body)
        case ("POST", p) if p.endsWith("/_pit") && knownIndices(p.stripSuffix("/_pit") + "/_search") =>
          openPit(p)
        case ("POST" | "GET", "/_search") => pitSearch(body)
        case ("POST" | "GET", p) if p.endsWith("/_search") && knownIndices(p) =>
          initialSearch(body, searchTarget(p), scroll = q != null && q.startsWith("scroll="))
        case _ => throw new IllegalArgumentException(s"unhandled route ${ex.getRequestMethod} $path")
      }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
    } catch {
      case e: Exception =>
        val err = s"""{"error":${mapper.writeValueAsString(e.toString)}}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(400, err.length)
        ex.getResponseBody.write(err)
    } finally ex.close()
  }

  private def pathIndices(path: String): Seq[String] =
    path.stripPrefix("/").stripSuffix("/_search").split(',').toSeq

  private def knownIndices(path: String): Boolean =
    pathIndices(path).forall(allIndices.contains)

  /** Resolve a `/{idx1,idx2,...}/_search` path to the concatenated rows of
    * the named indices (the ES multi-index search). Counts each component
    * ONCE per request for the pruning assertions. */
  private def searchTarget(path: String): IndexedSeq[Array[Any]] = {
    val names = pathIndices(path)
    names.foreach(n => searchesPerIndex.computeIfAbsent(n, _ => new AtomicLong(0)).incrementAndGet())
    names.flatMap(allIndices(_)).toIndexedSeq
  }

  // ---- point-in-time + search_after (the modern pagination the connector's
  // "search_after" mode drives; scroll stays for reference parity) --------

  private def openPit(path: String): String = {
    val id = s"pit:${UUID.randomUUID().toString}"
    pits.put(id, searchTarget(path.stripSuffix("/_pit") + "/_search"))
    s"""{"id":${mapper.writeValueAsString(id)}}"""
  }

  private def clearPit(body: String): String = {
    val id = mapper.readTree(body).path("id").asText()
    val n  = if (pits.remove(id) != null) 1 else 0
    clearedPits.addAndGet(n)
    s"""{"succeeded":true,"num_freed":$n}"""
  }

  /** `POST /_search` against an open PIT: sort is the row index (the
    * stub's `_shard_doc` analog), `search_after:[i]` resumes strictly past
    * it; each hit echoes its `sort` for the client to chain. */
  private def pitSearch(body: String): String = {
    searchCalls.incrementAndGet()
    lastSearchBody = body
    val req  = mapper.readTree(body)
    val id   = req.path("pit").path("id").asText()
    val data = pits.get(id)
    require(data != null, s"unknown pit id $id") // ES: search_context_missing
    val hr    = hitsRequest(req)
    val q     = req.path("query")
    val after = req.path("search_after")
    val from  = if (after.isArray && after.size() > 0) after.get(0).asInt() + 1 else 0
    val root    = mapper.createObjectNode()
    root.put("pit_id", id)
    val hitsObj = root.putObject("hits")
    val arr     = hitsObj.putArray("hits")
    val page = Iterator.from(from).takeWhile(_ < data.length)
      .filter(i => hr.inSlice(i) && evalQuery(q, data(i))).take(hr.size).toSeq
    page.foreach(i => putHit(arr, data, i, hr.cols).putArray("sort").add(i))
    hitsObj.putObject("total").put("value", page.size).put("relation", "gte")
    root.toString
  }

  /** The hit-shaping part of a search request: page `size` (ES's default
    * 10), slice `sliceId` of `sliceMax` (docs distributed by row index mod
    * `max`) and the `_source` columns (all when absent). */
  private case class HitsRequest(size: Int, sliceId: Int, sliceMax: Int, cols: Array[String]) {
    def inSlice(i: Int): Boolean = i % sliceMax == sliceId
  }

  private def hitsRequest(req: JsonNode): HitsRequest = {
    val slice = req.path("slice")
    val src   = req.path("_source")
    HitsRequest(
      req.path("size").asInt(10),
      if (slice.isObject) slice.get("id").asInt() else 0,
      if (slice.isObject) slice.get("max").asInt() else 1,
      if (src.isArray) (0 until src.size).map(src.get(_).asText()).toArray else colNames)
  }

  /** Serialize row `rowIdx` of `data` as one hit on `arr`, its `_source`
    * projected to `cols` — or a scalar when `malformedEvery` picks it (not
    * an object: the connector must skip it) — and count it served. */
  private def putHit(arr: ArrayNode, data: IndexedSeq[Array[Any]], rowIdx: Int, cols: Array[String]): ObjectNode = {
    val hit = arr.addObject()
    hit.put("_index", index)
    hit.put("_id", rowIdx.toString)
    if (malformedEvery > 0 && (rowIdx + 1) % malformedEvery == 0) hit.put("_source", 42)
    else {
      val src = hit.putObject("_source")
      cols.foreach { c =>
        val ci = colNames.indexOf(c)
        if (ci >= 0) putJson(src, c, data(rowIdx)(ci))
      }
    }
    hitsServed.incrementAndGet()
    hit
  }

  private def catIndices(): String = {
    val arr = mapper.createArrayNode()
    allIndices.keys.toSeq.sorted.foreach(n => arr.addObject().put("index", n))
    arr.toString
  }

  /** `GET /<index-or-pattern>/_mapping` — field mappings inferred from the
    * seeded rows, in the real response shape
    * `{index: {mappings: {properties: {f: {type: …}}}}}`. String fields are
    * mapped as `stringMapping` says, so the connector sees what a cluster
    * with that mapping would serve. */
  private def mappingOf(pattern: String): String = {
    val names =
      if (!pattern.contains("*")) {
        require(allIndices.contains(pattern), s"no such index [$pattern]")
        Seq(pattern)
      } else {
        val rx = ("^" + pattern.split("\\*", -1)
          .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
        allIndices.keys.toSeq.filter(rx.matches(_)).sorted
      }
    val root = mapper.createObjectNode()
    names.foreach { n =>
      val props = root.putObject(n).putObject("mappings").putObject("properties")
      val data  = allIndices(n)
      colNames.zipWithIndex.foreach { case (c, i) =>
        val v = data.iterator.map(_(i)).find(_ != null).orNull
        val t = v match {
          case _: String                           => if (stringMapping == KeywordStrings) "keyword" else "text"
          case _: java.lang.Long | _: java.lang.Integer => "long"
          case _: java.lang.Double | _: java.lang.Float => "double"
          case _: java.lang.Boolean                => "boolean"
          case _: java.sql.Timestamp | _: Instant  => "date"
          case _                                   => "keyword"
        }
        val fm = props.putObject(c)
        fm.put("type", t)
        if (t == "text" && stringMapping == TextWithKeyword)
          fm.putObject("fields").putObject("keyword")
            .put("type", "keyword").put("ignore_above", 256)
      }
    }
    root.toString
  }

  /** A search over `data`: with `scroll`, opens a context and returns its
    * first page; without, returns the `from`/`size` window of the (sorted)
    * matches and keeps nothing. */
  private def initialSearch(body: String, data: IndexedSeq[Array[Any]], scroll: Boolean): String = {
    searchCalls.incrementAndGet()
    lastSearchBody = body
    val req = mapper.readTree(body)
    if (req.has("aggs") || req.path("size").asInt(10) == 0) return aggSearch(req, data)
    val hr  = hitsRequest(req)
    val q   = req.path("query")
    val ids = sortIds(data.indices.iterator
      .filter(i => hr.inSlice(i) && evalQuery(q, data(i)))
      .toArray, data, req.path("sort"))
    val ctx = Ctx(data, ids, hr.cols, hr.size, req.path("from").asInt(0))
    if (!scroll) return pageResponse(null, ctx)
    scrollSearchCalls.incrementAndGet()
    val id  = s"$index:${UUID.randomUUID().toString}"
    contexts.put(id, ctx)
    pageResponse(id, ctx)
  }

  /** Real-ES `sort` over a multi-index search: each `{field: {order,
    * missing}}` key in turn, `missing` (`_first`/`_last`, default `_last`)
    * placing docs without the field regardless of `order`; `_doc` (and no
    * sort) is index order. Ties keep index order. */
  private def sortIds(ids: Array[Int], data: IndexedSeq[Array[Any]], sort: JsonNode): Array[Int] = {
    val keys = (0 until sort.size).map(sort.get).filter(_.isObject).map { o =>
      val f    = o.fieldNames().next()
      val spec = o.get(f)
      (f, spec.path("order").asText("asc") == "desc", spec.path("missing").asText("_last") == "_first")
    }
    if (keys.isEmpty) return ids
    val ord: Ordering[Int] = (a: Int, b: Int) =>
      keys.iterator.map { case (f, desc, missingFirst) =>
        (field(data(a), f), field(data(b), f)) match {
          case (null, null) => 0
          case (null, _)    => if (missingFirst) -1 else 1
          case (_, null)    => if (missingFirst) 1 else -1
          case (x, y)       => val c = valueOrder(x, y); if (desc) -c else c
        }
      }.find(_ != 0).getOrElse(0)
    ids.sorted(ord)
  }

  /** Total order on non-null field values: numbers and timestamps by value,
    * everything else by its string form. */
  private def valueOrder(x0: Any, y0: Any): Int = (comparable(x0), comparable(y0)) match {
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x, y)                 => String.valueOf(x).compareTo(String.valueOf(y))
  }

  /** `size:0` search: grand total via `track_total_hits`, and the paged
    * `composite` aggregation (buckets in ascending key order, resumed with
    * `after` — the exhaustive-enumeration contract the connector's
    * aggregate pushdown relies on). No scroll context is created. */
  private def aggSearch(req: JsonNode, data: IndexedSeq[Array[Any]]): String = {
    aggCalls.incrementAndGet()
    val q        = req.path("query")
    val matching = data.indices.filter(i => evalQuery(q, data(i)))
    val root     = mapper.createObjectNode()
    root.putObject("hits").putObject("total").put("value", matching.length).put("relation", "eq")
    val aggs = req.path("aggs")
    if (aggs.isObject) {
      val aggName = aggs.fieldNames().next()
      val maxAgg  = aggs.get(aggName).path("max")
      if (maxAgg.isObject) { // metric agg: max of a numeric field (tail cursor probe)
        val f = maxAgg.get("field").asText()
        val mx = matching.iterator.map(i => field(data(i), f)).collect {
          case n: Number => n.doubleValue()
        }.foldLeft(Option.empty[Double])((acc, v) => Some(acc.fold(v)(math.max(_, v))))
        val g = root.putObject("aggregations").putObject(aggName)
        mx.fold { g.putNull("value"); () } { v => g.put("value", v); () }
        return root.toString
      }
      val comp = aggs.get(aggName).path("composite")
      require(comp.isObject, s"stub only implements composite/max aggregations, got: $aggs")
      val size   = comp.path("size").asInt(10)
      val srcs   = comp.get("sources")
      // (name, row → key, missing_bucket) per source: a `terms` key is the
      // field's value; a 1-day `date_histogram` key is the epoch millis of
      // the local midnight starting the value's day in `time_zone`
      val sources = (0 until srcs.size).map { i =>
        val o    = srcs.get(i)
        val name = o.fieldNames().next()
        val kind = o.get(name).fieldNames().next()
        val s    = o.get(name).get(kind)
        val f    = s.get("field").asText()
        val key: Array[Any] => Any = kind match {
          case "terms" => row => field(row, f)
          case "date_histogram" =>
            require(s.path("calendar_interval").asText() == "1d",
              s"stub only implements 1d date_histogram sources, got: $s")
            val zone = java.time.ZoneId.of(s.path("time_zone").asText("UTC"))
            row => comparable(field(row, f)) match {
              case null => null
              case micros: Long =>
                val day = java.time.Instant.ofEpochMilli(Math.floorDiv(micros, 1000L)).atZone(zone).toLocalDate
                day.atStartOfDay(zone).toInstant.toEpochMilli
              case other => throw new IllegalArgumentException(s"date_histogram over non-date value $other")
            }
          case other => throw new IllegalArgumentException(s"stub does not implement composite source '$other'")
        }
        (name, key, s.path("missing_bucket").asBoolean(false))
      }
      val keyOf = (i: Int) => sources.map { case (_, key, _) => key(data(i)) }: Seq[Any]
      // real-ES composite semantics: a document missing a source's field is
      // SKIPPED unless that source declares missing_bucket:true (which then
      // emits it under a null key)
      val kept = matching.filter(i =>
        sources.zip(keyOf(i)).forall { case ((_, _, missing), k) => missing || k != null })
      // composite buckets ascend element-wise in key order; `after` resumes
      // strictly past a key under the SAME total order
      val keyOrd: Ordering[Seq[Any]] = (a: Seq[Any], b: Seq[Any]) =>
        a.zip(b).iterator.map {
          case (null, null) => 0
          case (null, _)    => -1
          case (_, null)    => 1
          case (x, y)       => valueOrder(x, y)
        }.find(_ != 0).getOrElse(0)
      val grouped = kept.groupBy(keyOf).toSeq.sortBy(_._1)(keyOrd)
      val after = comp.path("after")
      val page = (if (after.isObject) {
        val afterVals: Seq[Any] = sources.map { case (name, _, _) =>
          val n = after.get(name)
          if (n == null || n.isNull) null else queryVal(n)
        }
        grouped.dropWhile { case (k, _) => keyOrd.compare(k, afterVals) <= 0 }
      } else grouped).take(size)
      val g   = root.putObject("aggregations").putObject(aggName)
      val arr = g.putArray("buckets")
      page.foreach { case (k, is) =>
        val b   = arr.addObject()
        val key = b.putObject("key")
        sources.zip(k).foreach { case ((name, _, _), v) => putJson(key, name, v) }
        b.put("doc_count", is.length)
      }
      if (page.nonEmpty) {
        val ak = g.putObject("after_key")
        sources.zip(page.last._1).foreach { case ((name, _, _), v) => putJson(ak, name, v) }
      }
    }
    root.toString
  }

  private def scrollNext(body: String): String = {
    scrollCalls.incrementAndGet()
    val id  = mapper.readTree(body).path("scroll_id").asText()
    val ctx = contexts.get(id)
    require(ctx != null, s"unknown scroll_id $id") // ES: search_context_missing
    pageResponse(id, ctx)
  }

  private def clearScroll(body: String): String = {
    val idsNode = mapper.readTree(body).path("scroll_id")
    val ids =
      if (idsNode.isArray) (0 until idsNode.size).map(idsNode.get(_).asText())
      else Seq(idsNode.asText())
    var n = 0
    ids.foreach(i => if (contexts.remove(i) != null) n += 1)
    clearedScrolls.addAndGet(n)
    s"""{"succeeded":true,"num_freed":$n}"""
  }

  /** The next `pageSize` hits of `ctx`; `id` = null for a plain search
    * (no `_scroll_id` in the response). */
  private def pageResponse(id: String, ctx: Ctx): String = synchronized {
    val root = mapper.createObjectNode()
    if (id != null) root.put("_scroll_id", id)
    val hitsObj = root.putObject("hits")
    hitsObj.putObject("total").put("value", ctx.ids.length).put("relation", "eq")
    val arr  = hitsObj.putArray("hits")
    val end  = math.min(ctx.pos + ctx.pageSize, ctx.ids.length)
    (ctx.pos until end).foreach(k => putHit(arr, ctx.data, ctx.ids(k), ctx.cols))
    ctx.pos = end
    root.toString
  }

  private def putJson(n: ObjectNode, k: String, v: Any): Unit = v match {
    case null                  => n.putNull(k)
    case s: String             => n.put(k, s)
    case i: Int                => n.put(k, i)
    case l: Long               => n.put(k, l)
    case d: Double             => n.put(k, d)
    case f: Float              => n.put(k, f.toDouble)
    case b: Boolean            => n.put(k, b)
    case t: java.sql.Timestamp => n.put(k, t.toInstant.toString)
    case d: java.sql.Date      => n.put(k, d.toString)
    case other                 => n.put(k, String.valueOf(other))
  }

  // ---- query DSL evaluation over a seeded row -------------------------

  /** A `.keyword` suffix addresses the raw keyword subfield of a
    * default-mapped text field — on this stub (as on real ES for values
    * under ignore_above) that IS the stored value. */
  private def field(row: Array[Any], name: String): Any = {
    val base = if (name.endsWith(".keyword")) name.stripSuffix(".keyword") else name
    val i    = colNames.indexOf(base)
    if (i < 0) null else row(i)
  }

  /** Comparable form: timestamps → epoch micros, numbers → double. */
  private def comparable(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case n: Number             => n.doubleValue()
    case other                 => other
  }

  private def queryVal(n: JsonNode): Any =
    if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else {
      val s = n.asText()
      try { val i = Instant.parse(s); i.getEpochSecond * 1000000L + i.getNano / 1000L }
      catch { case _: Exception => s }
    }

  private def cmp(a: Any, b: Any): Option[Int] = (comparable(a), b) match {
    case (null, _)              => None
    case (x: Long, y: Long)     => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Double)   => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: Double, y: Long)   => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: String, y: String) => Some(x.compareTo(y))
    case _                      => None
  }

  private def evalQuery(q: JsonNode, row: Array[Any]): Boolean = {
    if (q == null || q.isMissingNode || !q.isObject || q.size() == 0) return true
    val kind = q.fieldNames().next()
    val bodyN = q.get(kind)
    kind match {
      case "match_all" => true
      case "term" =>
        val f = bodyN.fieldNames().next()
        val vNode = bodyN.get(f)
        val v = queryVal(if (vNode.isObject) vNode.get("value") else vNode)
        cmp(field(row, f), v).contains(0)
      case "terms" =>
        val f   = bodyN.fieldNames().next()
        val arr = bodyN.get(f)
        (0 until arr.size).exists(i => cmp(field(row, f), queryVal(arr.get(i))).contains(0))
      case "range" =>
        val f  = bodyN.fieldNames().next()
        val rq = bodyN.get(f)
        val v  = field(row, f)
        def ok(op: String, test: Int => Boolean): Boolean =
          !rq.has(op) || cmp(v, queryVal(rq.get(op))).exists(test)
        v != null && ok("gt", _ > 0) && ok("gte", _ >= 0) && ok("lt", _ < 0) && ok("lte", _ <= 0)
      case "exists" =>
        field(row, bodyN.get("field").asText()) != null
      case "bool" =>
        def all(name: String, p: Boolean => Boolean): Boolean = {
          val a = bodyN.path(name)
          !a.isArray || (0 until a.size).forall(i => p(evalQuery(a.get(i), row)))
        }
        val should = bodyN.path("should")
        val shouldOk = !should.isArray || should.size() == 0 ||
          (0 until should.size).exists(i => evalQuery(should.get(i), row))
        all("must", identity) && all("must_not", !_) && shouldOk
      case other => throw new IllegalArgumentException(s"stub does not implement query '$other'")
    }
  }
}

object EsStubServer {
  /** How `_mapping` maps string fields: `keyword` (exact), analyzed `text`
    * with the dynamic-mapping `.keyword` raw subfield, or `text` alone. */
  sealed trait StringMapping
  case object KeywordStrings extends StringMapping
  case object TextWithKeyword extends StringMapping
  case object TextOnly extends StringMapping

  /** Seed a stub index from a DataFrame. The collect here is the TEST
    * DOUBLE's seed (the server impersonates the external ES cluster that
    * owns the data); it is bounded by fixture scale and is never an engine
    * execution path — the engine path is the HTTP read through
    * [[EsScrollSource]]. */
  def fromDataFrame(df: DataFrame, index: String, malformedEvery: Int = 0,
      rejectEvery: Int = 0, requireAuth: String = null): EsStubServer = {
    val (cols, data) = seedRows(df)
    new EsStubServer(index, cols, data, malformedEvery, rejectEvery, requireAuth = requireAuth)
  }

  /** Seed one index PER DAY of `tsCol` — the reference's time-partitioned
    * index layout (it discovers and exports `<name>-yyyy.MM.dd` daily
    * indices). The connector's window pruning is tested against this. */
  def fromDayPartitionedDataFrame(df: DataFrame, base: String, tsCol: String = "ts",
      requireAuth: String = null): EsStubServer = {
    val (cols, data) = seedRows(df)
    val ti = cols.indexOf(tsCol)
    require(ti >= 0, s"no $tsCol column to day-partition on")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy.MM.dd")
    val byDay = data.groupBy { row =>
      row(ti).asInstanceOf[java.sql.Timestamp]
        .toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDate.format(fmt)
    }
    val names = byDay.keys.toSeq.sorted
    new EsStubServer(s"$base-${names.head}", cols, byDay(names.head),
      extraIndices = names.tail.map(d => s"$base-$d" -> byDay(d)).toMap,
      requireAuth = requireAuth)
  }

  private def seedRows(df: DataFrame): (Array[String], IndexedSeq[Array[Any]]) = {
    val cols = df.columns
    (cols, df.collect().map(r => Array.tabulate[Any](cols.length)(r.get)).toIndexedSeq)
  }
}
