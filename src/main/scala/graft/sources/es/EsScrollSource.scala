package graft.sources.es

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.SchemaInfer
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Cast, Expression, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** A REAL Elasticsearch scroll-scan connector — the reference's actual data
  * source (EsParquetWriter.java:64-84: initial `_search` with a bool/
  * match_phrase query, `size(10000)`, `scroll=3m`, then the
  * `_search/scroll` loop until an empty hit page), re-expressed as a Spark
  * DataSource V2 batch source that speaks the ES REST wire protocol over
  * HTTP. Unlike the synthetic DSv2 analog (SyntheticEventsSource, which
  * proves the connector MACHINERY against generated rows), this connector
  * issues real HTTP requests and parses real ES JSON responses — point it
  * at any ES-compatible endpoint. In this sandbox it is exercised against
  * [[EsStubServer]], an in-JVM HTTP server speaking the same wire format
  * (the standard integration-test double; no live cluster exists here).
  *
  * Scale design (the part the reference's single-threaded scroll lacks):
  *   - **Sliced scroll fan-out**: `slices=N` plans N InputPartitions, each
  *     driving an independent server-side slice (`"slice":{"id":i,"max":N}`)
  *     of ONE scroll over every index the read keeps (comma-joined, the ES
  *     multi-index search) — ES partitions the target server-side and N
  *     executor tasks pull disjoint row sets concurrently. `slices` is thus
  *     the read's total parallelism, whatever the number of indices; ES
  *     advises keeping it at or below the target's total shard count. Only
  *     a target list too long for one request line (~220 daily indices)
  *     splits into several targets, with N slices each. This is the
  *     documented ES mechanism for parallel full-index export, and it is
  *     exactly Spark's partition model: on a 1000-executor cluster the scan
  *     parallelizes without any driver coordination beyond partition
  *     planning.
  *   - **Filter pushdown to the ES query DSL**: accepted Spark source
  *     filters compile to `bool`/`term`/`terms`/`range`/`exists` clauses in
  *     the search body (the reference pushes its `match_phrase(rule_name)`
  *     the same way), so non-matching documents never leave the server.
  *     Pushed state is visible in the scan description (`.explain` shows
  *     `PushedEsQuery`).
  *   - **Column pruning over the wire**: the pruned read schema becomes the
  *     request's `"_source": [cols...]` filter, so unneeded fields are not
  *     serialized, shipped, or parsed.
  *   - **Limit pushdown**: a pushed limit caps `size` per page and stops
  *     each slice's scroll loop after `limit` rows, so a read ships at
  *     most `slices × limit` decodable hits (the reference's
  *     sampling reads push `.size(1)` server-side the same way; Spark
  *     still applies the exact global limit post-scan).
  *   - **Top-N pushdown**: `ORDER BY cols LIMIT n` (n ≤ `max_result_window`,
  *     plain integral/string/date/timestamp columns) is a sorted plain
  *     `_search` (`size=n`, `sort` with `missing` placed where Spark puts
  *     nulls) against the surviving indices — n hits, one request per
  *     search target, no scroll context; Spark keeps its final sort/limit
  *     (partial push).
  *   - **Aggregate pushdown**: `COUNT(*) [GROUP BY cols]` is a paged
  *     `composite` aggregation; a `CAST(timeField AS DATE)` key (Spark's
  *     `to_date(ts)` under the default ANSI mode) is a 1-day
  *     `date_histogram` source in the session time zone — a per-day count
  *     ships zero documents. A read with one search target is pushed
  *     whole (no final aggregate in Spark's plan).
  *   - **Tolerant decode**: missing fields → null, type mismatches → null
  *     (the reference's ExtendedJsonDecoder default-injection philosophy);
  *     a hit whose `_source` is not an object is skipped and counted, the
  *     reference's per-record try/catch-skip (EsParquetWriter.java:73-81).
  *     One page loop, [[EsHitsReader]], decodes every document a read
  *     ships: the scroll, PIT and top-N readers only fetch pages and say
  *     which page is the last.
  *   - **Scroll hygiene**: the scroll reader clears its context
  *     (`DELETE /_search/scroll`) and the PIT reader closes its PIT on
  *     close — long-running exports don't pin server search contexts — and
  *     a scroll slice that has consumed the exact `hits.total` it was
  *     promised ends without the empty trailing page.
  *
  * String equality is exact: `EqualTo`/`In` on strings compile to `term`/
  * `terms` on the column's server field — the column itself, or its
  * `keywordSuffix` subfield (`.keyword` on indices using the default
  * dynamic mapping: analyzed text with a raw keyword subfield). The
  * reference's `match_phrase` matches ANALYZED tokens (a doc with
  * event_type "purchase order" matches `event_type = 'purchase'`), and so
  * does a `term` on an analyzed field, so the index `_mapping` decides how
  * a string equality is served (one `GET /<index>/_mapping` per scan
  * builder, made only when one is offered):
  *   - field mapped `keyword`, or a `keyword` subfield named by
  *     `keywordSuffix`: pushed as the exact term;
  *   - `keywordSuffix` set but the subfield missing or not `keyword`: the
  *     scan fails fast (the term would match nothing);
  *   - field mapped `text` with no `keywordSuffix`: not pushed — Spark
  *     evaluates it exactly, a post-scan `Filter` in the plan.
  *
  * NULL semantics of pushed `Not`: ES `must_not` MATCHES documents where
  * the field is missing, while Spark's `NOT(a = v)` evaluates to NULL on a
  * null `a` and drops the row. A pushed `Not(leaf)` therefore compiles as
  * `bool{must:[exists(field)], must_not:[leaf]}` — the exists guard
  * reproduces Spark's null-dropping three-valued logic exactly
  * (`Not(IsNotNull(a))` alone compiles to a bare must_not/exists, since
  * IsNotNull never evaluates to NULL). `Not` over And/Or is left for Spark
  * (sound per-branch null analysis isn't expressible as one guard).
  *
  * Auth/TLS (beyond the reference, which connects plain-http —
  * Bootstrap.java:262): `user`+`password` options attach an HTTP Basic
  * `Authorization` header, `apiKey` attaches `ApiKey <key>`; both travel in
  * [[EsConn]] to every executor-side reader, so sliced fan-out stays
  * authenticated. An `https://` url uses the JDK client's default
  * truststore; `insecureTls=true` opts into a trust-all context for
  * self-signed dev clusters.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.es.EsScrollSource")
  *     .schema(eventsSchema)                   // or omit → sampled inference
  *     .option("url", "https://host:9200")
  *     .option("user", "elastic").option("password", "…")
  *     .option("index", "events")
  *     .option("slices", 8)
  *     .option("pageSize", 2000)
  *     .option("keywordSuffix", ".keyword")    // omit on keyword-mapped strings
  *     .load()
  *     .where($"event_type" === "purchase")    // an exact term on event_type.keyword
  * }}}
  */
class EsScrollSource extends TableProvider {

  /** A user-supplied schema is the normal path (the reference persists its
    * inferred schema and reuses it, O9); inference below is the fallback. */
  override def supportsExternalMetadata(): Boolean = true

  /** Schema inference when the user supplies none: sample one page
    * (`size=inferSample`, match_all) and run the engine's own JSON schema
    * inference (SchemaInfer, the O6/O7 pipeline) over the raw `_source`
    * strings on the driver, with no Spark job — the reference infers its
    * Avro schema from sampled docs the same way (Bootstrap.java:294-303). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conn   = EsScrollSource.connOf(options)
    val index  = EsScrollSource.reqOption(options, "index")
    // the sample is one page, so the first search target is enough
    val target = EsScrollSource.searchTargets(conn, index, Array.empty, "").headOption
      .getOrElse(throw new IllegalArgumentException(s"es-scroll: index '$index' matched no indices"))
    val sample = options.getInt("inferSample", 100)
    val body   = s"""{"size":$sample,"query":{"match_all":{}}}"""
    val resp   = EsScrollSource.post(conn, s"/$target/_search", body)
    val hits   = new ObjectMapper().readTree(resp).path("hits").path("hits")
    // only object `_source`s, the documents decodeHit reads; a scalar one
    // would infer a `_corrupt_record` column
    val sources = (0 until hits.size).map(i => hits.get(i).path("_source")).filter(_.isObject).map(_.toString)
    SchemaInfer.allNullable(SchemaInfer.infer(SparkSession.active, sources))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]
  ): Table = new EsScrollTable(schema, properties.asScala.toMap)
}

/** Connection descriptor shipped inside every InputPartition: endpoint url,
  * the `Authorization` header value to attach ("" = none), and whether to
  * accept self-signed TLS certificates on https endpoints. Serializable
  * data only — each executor-side reader reconstructs nothing. */
private[es] case class EsConn(
    url: String,
    auth: String = "",
    insecureTls: Boolean = false
)

object EsScrollSource {
  private[es] def reqOption(o: CaseInsensitiveStringMap, k: String): String = {
    val v = o.get(k)
    require(v != null, s"es-scroll source requires option '$k'")
    v
  }

  /** CaseInsensitiveStringMap has NO two-arg get — a bare
    * `o.get(k, default)` silently auto-tuples into `get((k, default))` and
    * returns null. All defaulted string options must come through here. */
  private[es] def optOrElse(o: CaseInsensitiveStringMap, k: String, default: String): String = {
    val v = o.get(k)
    if (v == null) default else v
  }

  /** The `Authorization` header value for the two ES client auth schemes:
    * `apiKey` wins over `user`/`password`; absent both, empty (the
    * reference's plain connection). */
  private[es] def authHeader(apiKey: String, user: String, password: String): String =
    if (apiKey != null && apiKey.nonEmpty) s"ApiKey $apiKey"
    else if (user != null && user.nonEmpty)
      "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$user:${Option(password).getOrElse("")}".getBytes(StandardCharsets.UTF_8))
    else ""

  /** Build the connection descriptor from reader options. */
  private[es] def connOf(o: CaseInsensitiveStringMap): EsConn =
    EsConn(
      reqOption(o, "url"),
      authHeader(o.get("apiKey"), o.get("user"), optOrElse(o, "password", "")),
      o.getBoolean("insecureTls", false)
    )

  private val client = HttpClient.newHttpClient()

  /** Trust-all client for `insecureTls=true` against self-signed https dev
    * clusters — never the default; plain-http and CA-signed https use the
    * JDK default client above. */
  private lazy val insecureClient: HttpClient = {
    val trustAll = new javax.net.ssl.X509TrustManager {
      override def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
      override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
    }
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, Array[javax.net.ssl.TrustManager](trustAll), new java.security.SecureRandom)
    HttpClient.newBuilder().sslContext(ctx).build()
  }

  /** Transient-failure policy: ES sheds load with 429 (es_rejected_execution)
    * and proxies/overload answer 502/503/504; a long export WILL see these and
    * must retry with backoff rather than fail the Spark task (a task retry
    * would restart the whole slice's scroll from scratch). 4xx other than 429
    * is a caller bug — fail fast (401/403 in particular: bad credentials must
    * surface immediately, not after a backoff storm). Retries are safe because
    * the stub (and real ES) reject before mutating scroll-context state. */
  private val MaxRetries  = 4
  private val RetryBaseMs = 50L
  private def retryable(status: Int): Boolean =
    status == 429 || status == 502 || status == 503 || status == 504

  private[es] def post(conn: EsConn, path: String, body: String): String =
    send(conn, HttpRequest.newBuilder(URI.create(conn.url + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)))

  private[es] def delete(conn: EsConn, path: String, body: String): String =
    send(conn, HttpRequest.newBuilder(URI.create(conn.url + path))
      .header("Content-Type", "application/json")
      .method("DELETE", HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)))

  private[es] def get(conn: EsConn, path: String): String =
    send(conn, HttpRequest.newBuilder(URI.create(conn.url + path)).GET())

  /** Resolve an index name or `*` pattern to concrete indices. Patterns list
    * the cluster's indices (`GET /_cat/indices?format=json` — the discovery
    * call the reference's Bootstrap makes before exporting) and glob-match
    * client-side. Sorted for deterministic partition planning. */
  private[es] def resolveIndices(conn: EsConn, pattern: String): Seq[String] =
    if (!pattern.contains("*")) Seq(pattern)
    else {
      val arr = new ObjectMapper().readTree(get(conn, "/_cat/indices?format=json"))
      val rx  = ("^" + pattern.split("\\*", -1)
        .map(java.util.regex.Pattern.quote).mkString(".*") + "$").r
      (0 until arr.size).map(arr.get(_).path("index").asText())
        .filter(n => rx.matches(n)).sorted
    }

  /** PUBLIC discovery surface for callers composing the reference's whole
    * program (Cli's `--es` mode): the concrete indices matching `pattern`
    * (via `_cat/indices`, the reference's Bootstrap discovery call) with
    * their parsed day suffixes — the CLI derives its export window from
    * the latest day, exactly as the reference derives it from its daily
    * index names (Bootstrap.java:259-268). */
  def discoverDailyIndices(
      url: String,
      pattern: String,
      user: String = "",
      password: String = "",
      apiKey: String = "",
      insecureTls: Boolean = false
  ): Seq[(String, Option[java.time.LocalDate])] =
    resolveIndices(
      EsConn(url, authHeader(apiKey, user, password), insecureTls),
      pattern
    ).map(n => n -> indexDay(n))

  /** The UTC day a time-partitioned index covers, from its `-yyyy.MM.dd`
    * suffix (the reference's daily-index naming); None = not day-suffixed,
    * never pruned. */
  private[es] def indexDay(name: String): Option[java.time.LocalDate] = {
    val i = name.lastIndexOf('-')
    if (i < 0) None
    else
      try Some(java.time.LocalDate.parse(name.substring(i + 1).replace('.', '-')))
      catch { case _: Exception => None }
  }

  /** Conjunctive [lo, hi] micros bounds the pushed filters imply for
    * `tsCol`. Only top-level filters and And-branches contribute (an Or
    * bound would not be conjunctive); gt-vs-gte slack is irrelevant because
    * the bounds are used only for WHOLE-DAY pruning, never row filtering. */
  private[es] def tsBounds(filters: Array[Filter], tsCol: String): (Option[Long], Option[Long]) = {
    def micros(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp => Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
      case i: Instant            => Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case _                     => None
    }
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def tighten(l: Option[Long], h: Option[Long]): Unit = {
      l.foreach(m => lo = Some(lo.fold(m)(math.max(_, m))))
      h.foreach(m => hi = Some(hi.fold(m)(math.min(_, m))))
    }
    def visit(f: Filter): Unit = f match {
      case And(l, r)                                => visit(l); visit(r)
      case GreaterThan(a, v) if a == tsCol          => tighten(micros(v), None)
      case GreaterThanOrEqual(a, v) if a == tsCol   => tighten(micros(v), None)
      case LessThan(a, v) if a == tsCol             => tighten(None, micros(v))
      case LessThanOrEqual(a, v) if a == tsCol      => tighten(None, micros(v))
      case EqualTo(a, v) if a == tsCol              => tighten(micros(v), micros(v))
      case _                                        => ()
    }
    filters.foreach(visit)
    (lo, hi)
  }

  /** Window pruning at the INDEX level — the reference's O2 (it only
    * exports the daily indices its query window touches), here driven by
    * the pushed ts-range filters: a day-suffixed index is dropped iff its
    * whole [day, day+1) micros interval provably misses [lo, hi]. Pruned
    * indices never receive a request. */
  private[es] def pruneByWindow(
      indices: Seq[String],
      pushed: Array[Filter],
      tsCol: String
  ): Seq[String] = {
    val (lo, hi) = tsBounds(pushed, tsCol)
    if (lo.isEmpty && hi.isEmpty) indices
    else
      indices.filter { idx =>
        indexDay(idx) match {
          case Some(d) =>
            val start = d.toEpochDay * 86400000000L
            val end   = start + 86400000000L
            !(hi.exists(_ < start) || lo.exists(_ >= end))
          case None => true
        }
      }
  }

  /** ES's default `http.max_initial_line_length`: the longest request line
    * (`POST /<target>/_search?scroll=3m HTTP/1.1`) a cluster accepts. */
  private[es] val MaxRequestLine = 4096

  /** The part of a request line that is not the target: method, the
    * longest endpoint suffix with its query string
    * (`/_pit?keep_alive=<scroll>`), and the protocol. */
  private val RequestLineAllowance = 128

  /** The search targets of a read: `index` resolved (patterns via
    * `_cat/indices`), the day indices outside the pushed `timeField` window
    * pruned, and the survivors comma-joined into multi-index searches, the
    * documented ES form. The survivors are packed, in order, into as few
    * targets as keep every request line within [[MaxRequestLine]], so a
    * read names each surviving index in exactly one target and never names
    * a pruned one. Empty when every index is pruned. */
  private[es] def searchTargets(
      conn: EsConn,
      index: String,
      pushed: Array[Filter],
      timeField: String
  ): Seq[String] = {
    val budget = MaxRequestLine - RequestLineAllowance - URI.create(conn.url).getRawPath.length
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    pruneByWindow(resolveIndices(conn, index), pushed, timeField).foreach { idx =>
      if (cur.nonEmpty && cur.length + 1 + idx.length > budget) { out += cur.toString; cur.clear() }
      if (cur.nonEmpty) cur += ','
      cur ++= idx
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }

  private def send(conn: EsConn, b0: HttpRequest.Builder): String = {
    val b   = if (conn.auth.nonEmpty) b0.header("Authorization", conn.auth) else b0
    val cl  = if (conn.insecureTls && conn.url.startsWith("https")) insecureClient else client
    val req = b.build()
    var attempt = 0
    while (true) {
      val resp =
        try cl.send(req, HttpResponse.BodyHandlers.ofString())
        catch {
          case e: java.io.IOException if attempt < MaxRetries =>
            attempt += 1
            Thread.sleep(RetryBaseMs << (attempt - 1))
            null // connection-level blip (reset, refused during failover): retry
        }
      if (resp != null) {
        if (resp.statusCode() / 100 == 2) return resp.body()
        require(retryable(resp.statusCode()) && attempt < MaxRetries,
          s"ES request failed: HTTP ${resp.statusCode()} ${resp.body().take(200)}" +
            (if (retryable(resp.statusCode())) s" after $attempt retries" else ""))
        attempt += 1
        Thread.sleep(RetryBaseMs << (attempt - 1))
      }
    }
    sys.error("unreachable")
  }

  /** Compile accepted Spark source filters to an ES query-DSL JSON string.
    * A string equality or membership is an exact `term`/`terms` on
    * `termField(column)` (see the class doc); ranges, exists and other
    * equalities address the column itself. `Not(leaf)` carries the
    * exists() null guard; unsupported shapes are rejected in [[supported]]
    * and left for Spark to evaluate. */
  private[es] def toEsQuery(filters: Array[Filter], termField: String => String): String = {
    val m = new ObjectMapper
    def clause(f: Filter): ObjectNode = {
      val n = m.createObjectNode()
      f match {
        case EqualTo(a, v: String) => n.putObject("term").put(termField(a), v)
        case EqualTo(a, v)         => putVal(n.putObject("term"), a, v)
        case In(a, vs) =>
          val allStrings = vs.nonEmpty && vs.forall(_.isInstanceOf[String])
          val arr = n.putObject("terms").putArray(if (allStrings) termField(a) else a)
          vs.foreach(v => putArr(arr, v))
        case GreaterThan(a, v)        => putVal(n.putObject("range").putObject(a), "gt", v)
        case GreaterThanOrEqual(a, v) => putVal(n.putObject("range").putObject(a), "gte", v)
        case LessThan(a, v)           => putVal(n.putObject("range").putObject(a), "lt", v)
        case LessThanOrEqual(a, v)    => putVal(n.putObject("range").putObject(a), "lte", v)
        case IsNotNull(a)             => n.putObject("exists").put("field", a)
        case IsNull(a) =>
          n.putObject("bool").putArray("must_not")
            .addObject().putObject("exists").put("field", a)
        case And(l, r) =>
          val must = n.putObject("bool").putArray("must")
          must.add(clause(l)); must.add(clause(r))
        case Or(l, r) =>
          val b = n.putObject("bool")
          val should = b.putArray("should")
          should.add(clause(l)); should.add(clause(r))
          b.put("minimum_should_match", 1)
        // NOT(a IS NOT NULL) = a IS NULL: IsNotNull never evaluates to
        // NULL, so the bare negation IS Spark's semantics — no guard.
        case Not(IsNotNull(a)) =>
          n.putObject("bool").putArray("must_not")
            .addObject().putObject("exists").put("field", a)
        // NOT(a IS NULL) = a IS NOT NULL — same never-NULL leaf, no guard.
        case Not(IsNull(a)) => n.putObject("exists").put("field", a)
        // NOT(leaf) over a nullable field: Spark drops null rows (the leaf
        // evaluates to NULL, NOT(NULL) = NULL), ES must_not would KEEP
        // them — the exists guard restores Spark's semantics.
        case Not(c) =>
          val b    = n.putObject("bool")
          val must = b.putArray("must")
          c.references.foreach(a => must.addObject().putObject("exists").put("field", a))
          b.putArray("must_not").add(clause(c))
        case other => throw new IllegalArgumentException(s"unpushable filter $other")
      }
      n
    }
    if (filters.isEmpty) """{"match_all":{}}"""
    else if (filters.length == 1) clause(filters.head).toString
    else {
      val root = m.createObjectNode()
      val must = root.putObject("bool").putArray("must")
      filters.foreach(f => must.add(clause(f)))
      root.toString
    }
  }

  private def putVal(n: ObjectNode, k: String, v: Any): Unit = v match {
    case s: String             => n.put(k, s)
    case i: Int                => n.put(k, i)
    case l: Long               => n.put(k, l)
    case d: Double             => n.put(k, d)
    case f: Float              => n.put(k, f.toDouble)
    case b: Boolean            => n.put(k, b)
    case t: java.sql.Timestamp => n.put(k, t.toInstant.toString)
    case i: Instant            => n.put(k, i.toString)
    case d: java.sql.Date      => n.put(k, d.toString)
    case other                 => n.put(k, String.valueOf(other))
  }

  /** Full type coverage mirroring [[putVal]] — a Float or Timestamp inside
    * `In(...)` must serialize as a JSON number / ISO instant, not
    * `String.valueOf`, or the terms array silently matches nothing. */
  private def putArr(a: ArrayNode, v: Any): Unit = v match {
    case s: String             => a.add(s)
    case i: Int                => a.add(i)
    case l: Long               => a.add(l)
    case d: Double             => a.add(d)
    case f: Float              => a.add(f.toDouble)
    case b: Boolean            => a.add(b)
    case t: java.sql.Timestamp => a.add(t.toInstant.toString)
    case i: Instant            => a.add(i.toString)
    case d: java.sql.Date      => a.add(d.toString)
    case other                 => a.add(String.valueOf(other))
  }

  private[es] def supported(f: Filter): Boolean = f match {
    case EqualTo(_, null)                             => false
    case In(_, vs) if vs == null || vs.contains(null) => false // null ∈ IN is three-valued; not expressible as terms
    case EqualTo(_, _) | In(_, _) | IsNotNull(_) | IsNull(_) => true
    case GreaterThan(_, _) | GreaterThanOrEqual(_, _) => true
    case LessThan(_, _) | LessThanOrEqual(_, _)       => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r)  => supported(l) && supported(r)
    // Not compiles with an exists() guard reproducing Spark's null-dropping
    // semantics — sound only for a single-field leaf. A Not over And/Or
    // would need per-branch null analysis (NOT(a=1 AND b=9) keeps a row
    // with a null `a` when b≠9), so it stays with Spark.
    case Not(c) => c match {
      case EqualTo(_, v)                                => v != null
      case In(_, vs)                                    => vs != null && !vs.contains(null)
      case GreaterThan(_, _) | GreaterThanOrEqual(_, _) => true
      case LessThan(_, _) | LessThanOrEqual(_, _)       => true
      case IsNotNull(_) | IsNull(_)                     => true
      case _                                            => false
    }
    case _ => false
  }

  /** Fields carrying a string equality/membership — the ones whose
    * `term`/`terms` matches single analyzed tokens when the live mapping
    * analyzes them (see `EsScanBuilder.analyzedTextFields`). */
  private[es] def stringEqFields(f: Filter): Seq[String] = f match {
    case EqualTo(a, _: String)                                       => Seq(a)
    case In(a, vs) if vs != null && vs.exists(_.isInstanceOf[String]) => Seq(a)
    case And(l, r)                                                   => stringEqFields(l) ++ stringEqFields(r)
    case Or(l, r)                                                    => stringEqFields(l) ++ stringEqFields(r)
    case Not(c)                                                      => stringEqFields(c)
    case _                                                           => Nil
  }

  /** One `_source` JSON field → the Spark internal value for `dt`; null on
    * absence or shape mismatch (tolerant decode). */
  private[es] def toInternal(node: JsonNode, dt: DataType): Any = {
    if (node == null || node.isNull || node.isMissingNode) return null
    dt match {
      case LongType if node.canConvertToLong   => node.asLong()
      case IntegerType if node.canConvertToInt => node.asInt()
      case DoubleType if node.isNumber         => node.asDouble()
      case FloatType if node.isNumber          => node.asDouble().toFloat
      case BooleanType if node.isBoolean       => node.asBoolean()
      case StringType =>
        UTF8String.fromString(if (node.isTextual) node.asText() else node.toString)
      case TimestampType =>
        try {
          if (node.isNumber) node.asLong() * 1000L // epoch_millis convention
          else {
            val i = Instant.parse(node.asText())
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }
        } catch { case _: Exception => null }
      case DateType if node.isTextual =>
        try java.time.LocalDate.parse(node.asText()).toEpochDay.toInt
        catch { case _: Exception => null }
      case _ => null
    }
  }

  /** One hit → a row of `fields` decoded from its `_source`; null when the
    * `_source` is not an object (the caller skips and counts it, the
    * reference's per-record catch, EsParquetWriter.java:78-81). */
  private[es] def decodeHit(hit: JsonNode, fields: Array[StructField]): InternalRow = {
    val src = hit.path("_source")
    if (!src.isObject) return null
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      vals(i) = toInternal(src.get(fields(i).name), fields(i).dataType)
      i += 1
    }
    new GenericInternalRow(vals)
  }

  /** ES `index.max_result_window`: the deepest `from + size` a plain search
    * may page to — the cap on a pushed top-N. */
  private[es] val MaxResultWindow = 10000
}

/** One pushed GROUP BY key: a column served by a composite `terms` source
  * on its server `field`, or — `dayZone` set — the local day of a
  * timestamp column in that zone, served by a 1-day `date_histogram`
  * source whose bucket keys are the epoch millis of local midnight. */
private[es] case class EsGroupKey(
    name: String,
    field: String,
    dataType: DataType,
    dayZone: Option[String] = None
)

private class EsScrollTable(schema0: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"es-scroll(${props.getOrElse("index", "?")})"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EsScanBuilder(
      schema0,
      EsScrollSource.connOf(options),
      EsScrollSource.reqOption(options, "index"),
      options.getInt("slices", 4),
      options.getInt("pageSize", 1000),
      EsScrollSource.optOrElse(options, "scroll", "3m"), // the reference's TimeValue.timeValueMinutes(3)
      EsScrollSource.optOrElse(options, "timeField", "ts"), // drives index-level window pruning
      if (EsScrollSource.optOrElse(options, "pagination", "scroll") == PitPaging.option) PitPaging
      else ScrollPaging,
      EsScrollSource.optOrElse(options, "cursorField", "event_id"), // streaming tail cursor
      options.getLong("maxIdsPerBatch", 1000L), // streaming admission: cursor-value step per epoch
      EsScrollSource.optOrElse(options, "keywordSuffix", "") // e.g. ".keyword" for default-mapped text
    )
}

private class EsScanBuilder(
    full: StructType,
    conn: EsConn,
    index: String,
    slices: Int,
    pageSize: Int,
    scroll: String,
    timeField: String,
    paging: EsPaging,
    cursorField: String = "event_id",
    maxIdsPerBatch: Long = 1000L,
    keywordSuffix: String = ""
) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownAggregates {
  private var required: StructType  = full
  private var pushed: Array[Filter] = Array.empty
  private var postScan: Array[Filter] = Array.empty
  private var limit: Option[Int]    = None
  private var topN: Array[SortOrder] = null // null = no top-N pushed; its limit is `limit`
  private var aggGroups: Array[EsGroupKey] = null // null = no aggregate pushed

  /** The read's search targets ([[EsScrollSource.searchTargets]]),
    * resolved at most once per builder: by [[supportCompletePushDown]]
    * during planning, else by the built scan when it plans its partitions.
    * Either way one action sends one `_cat/indices`. Filters are pushed
    * before either can ask. */
  private lazy val targets: Seq[String] = EsScrollSource.searchTargets(conn, index, pushed, timeField)

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** The server field a column is addressed by: a string column's
    * `keywordSuffix` subfield, else the column itself. Exact `term`s,
    * top-N `sort` keys and composite `terms` group keys all name it. */
  private def serverField(f: StructField): String =
    if (f.dataType == StringType) f.name + keywordSuffix else f.name

  /** Every supported filter on known columns compiles to exact DSL and is
    * pushed whole, except one carrying a string equality on a field the
    * index maps as analyzed `text` ([[analyzedTextFields]]): Spark
    * evaluates that one (returning it here puts a `Filter` after the
    * scan). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(f => EsScrollSource.supported(f) && refsKnownCols(f))
    val text = analyzedTextFields(ok.flatMap(EsScrollSource.stringEqFields).distinct.toSeq)
    val (exact, analyzed) = ok.partition(f => !EsScrollSource.stringEqFields(f).exists(text))
    pushed = exact
    postScan = rest ++ analyzed
    postScan
  }

  /** Of `fields`, those a `term` on the server field would match as
    * analyzed tokens: mapped `text` with no `keywordSuffix` set. Read from
    * one `GET /<index>/_mapping`, sent only when `fields` is non-empty. A
    * set suffix must name a `keyword` subfield of each field — else the
    * scan fails fast, since the term on a missing subfield matches
    * nothing. A cluster without the endpoint, or an index without the
    * field, rules nothing out. */
  private def analyzedTextFields(fields: Seq[String]): Set[String] = {
    if (fields.isEmpty) return Set.empty
    val root =
      try new ObjectMapper().readTree(EsScrollSource.get(conn, s"/$index/_mapping"))
      catch { case _: Exception => return Set.empty }
    root.fields().asScala.flatMap { e =>
      val props = e.getValue.path("mappings").path("properties")
      fields.filter { f =>
        val fm = props.path(f)
        val t  = fm.path("type").asText("")
        if (fm.isMissingNode) false
        else if (keywordSuffix.isEmpty) t == "text"
        else {
          val subT = fm.path("fields").path(keywordSuffix.stripPrefix(".")).path("type").asText("")
          require(subT == "keyword",
            s"es-scroll: exact string equality pushed as term on '$f$keywordSuffix', but index " +
              s"'${e.getKey}' maps '$f' (type '$t') without a keyword '$keywordSuffix' subfield — " +
              "fix keywordSuffix, or leave it unset to have Spark filter analyzed text fields")
          false
        }
      }
    }.toSet
  }
  private def refsKnownCols(f: Filter): Boolean =
    f.references.forall(full.fieldNames.contains)
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean =
    if (aggGroups != null) false else { limit = Some(l); true }

  /** `ORDER BY cols LIMIT n` served as one sorted plain `_search` — the
    * server ranks the whole (pruned) window and ships exactly `n` hits, a
    * local top-k pushed to where the data lives. Accepted only when the
    * server's order IS Spark's: plain columns of integral, string, date or
    * timestamp type (no float NaN ordering, no expression keys), `n` within
    * `max_result_window`, no post-scan filter (the server would rank rows
    * Spark then drops) and no pushed aggregate. A `date` field ranks at
    * millisecond resolution, so timestamps that differ only below the
    * millisecond tie on the server (a `date_nanos` mapping keeps them
    * apart). Partial pushdown
    * (`isPartiallyPushed` stays true): Spark keeps its final sort/limit
    * over the ≤ n rows. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    val ok = n <= EsScrollSource.MaxResultWindow && postScan.isEmpty && aggGroups == null &&
      orders.forall(o => sortColumn(o).isDefined)
    if (ok) { topN = orders; limit = Some(n) }
    ok
  }

  /** Both a pushed limit (a per-slice cap) and a pushed top-N (the
    * server's n best) leave Spark's own limit/sort in place. */
  override def isPartiallyPushed(): Boolean = true

  private def sortColumn(o: SortOrder): Option[StructField] = o.expression match {
    case nr: NamedReference if nr.fieldNames.length == 1 && full.fieldNames.contains(nr.fieldNames.head) =>
      Some(full(nr.fieldNames.head)).filter(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType | DateType | TimestampType => true
        case _ => false
      })
    case _ => None
  }

  /** The ES `sort` clause of the pushed top-N: `missing` puts null keys
    * where Spark's null ordering does (`_first`/`_last` are absolute in ES,
    * as NULLS FIRST/LAST are in Spark); string keys sort on the keyword
    * subfield, like the composite terms source. */
  private def sortJson: String = {
    val arr = new ObjectMapper().createArrayNode()
    topN.foreach { o =>
      val spec = arr.addObject().putObject(serverField(sortColumn(o).get))
      spec.put("order", if (o.direction == SortDirection.ASCENDING) "asc" else "desc")
      spec.put("missing", if (o.nullOrdering == NullOrdering.NULLS_FIRST) "_first" else "_last")
    }
    arr.toString
  }

  /** COUNT(*) [GROUP BY keys] served by the ES aggregation endpoint — the
    * reference's server-side discovery aggregation
    * (the terms/count request its Bootstrap issues before exporting). The
    * wire form is a paged `composite` aggregation (the documented ES
    * mechanism for EXHAUSTIVE bucket enumeration — a plain `terms` agg
    * truncates at `size` with an error bound, which a declared query can
    * never ship on) with `missing_bucket:true` per source (ES otherwise
    * SKIPS documents missing the group field, while Spark's groupBy emits
    * a null group); grand-total COUNT(*) uses `track_total_hits`. A key is
    * a plain column (`terms` source) or `CAST(timeField AS DATE)`
    * (`date_histogram` source, see [[groupKey]]). The scan reads one
    * composite aggregation per search target. A read that resolves to
    * exactly one target is pushed whole ([[supportCompletePushDown]]): its
    * one partition holds every group once with its exact count, so Spark
    * plans no final aggregate, no shuffle and no second job over it. A
    * multi-target read is pushed partially: each target's partition holds
    * that target's counts and Spark's final `sum(count)` merges them (a
    * group spans targets when its documents do). Refused when a post-scan
    * filter exists: the server would count docs Spark then drops. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = pushable(agg)
    if (ok) aggGroups = agg.groupByExpressions.map(groupKey(_).get)
    ok
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    pushable(agg) && targets.size == 1

  private def pushable(agg: Aggregation): Boolean =
    agg.groupByExpressions.forall(groupKey(_).isDefined) &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[CountStar] &&
      limit.isEmpty && postScan.isEmpty

  /** A group key the server can bucket exactly as Spark groups. Spark
    * translates `to_date(ts)` to a V2 `CAST(ts AS DATE)` only under ANSI
    * mode (the Spark 4 default that `Session.build` keeps); without ANSI
    * the aggregate is not offered and the scroll path serves it. The cast's
    * zone is the driver's session time zone — the zone Spark's own cast
    * would use — so each bucket is one local calendar day. */
  private def groupKey(e: Expression): Option[EsGroupKey] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 && full.fieldNames.contains(nr.fieldNames.head) =>
      val f = full(nr.fieldNames.head)
      Some(EsGroupKey(f.name, serverField(f), f.dataType))
    case c: Cast if c.dataType == DateType => c.expression match {
      case nr: NamedReference if nr.fieldNames.sameElements(Array(timeField)) &&
          full.fieldNames.contains(timeField) && full(timeField).dataType == TimestampType =>
        val zone = DateTimeUtils.getZoneId(SQLConf.get.sessionLocalTimeZone).getId
        Some(EsGroupKey(s"CAST($timeField AS DATE)", timeField, DateType, Some(zone)))
      case _ => None
    }
    case _ => None
  }

  override def build(): Scan = {
    val query = EsScrollSource.toEsQuery(pushed, a => serverField(full(a)))
    val resolve = () => targets
    if (aggGroups != null)
      new EsAggScan(conn, index, pageSize, query, pushed, aggGroups, resolve)
    else if (topN != null)
      new EsTopNScan(conn, index, required, query, pushed, resolve,
        sortJson, topN.mkString(", "), limit.get)
    else
      new EsScrollScan(conn, index, slices, pageSize, scroll, required, query,
        pushed, limit, resolve, paging, cursorField, maxIdsPerBatch)
  }
}

/** A batch scan over the search targets of
  * [[EsScrollSource.searchTargets]], which its builder resolves at most
  * once: Spark may plan one scan's partitions more than once, and each
  * action builds a new scan, so one action sends one `_cat/indices` and
  * plans over one index list. */
private abstract class EsTargetScan(resolveTargets: () => Seq[String]) extends Scan with Batch {
  protected def targets: Seq[String] = resolveTargets()
  override def toBatch: Batch = this
}

private case class EsAggPartition(
    conn: EsConn,
    index: String,
    queryJson: String,
    pageSize: Int,
    groups: Array[EsGroupKey]
) extends InputPartition

/** Scan for a pushed COUNT(*) [GROUP BY keys]: one input partition per
  * search target (the result is O(distinct groups), already reduced
  * server-side), each driving a paged composite aggregation — raw
  * documents never cross the wire. */
private class EsAggScan(
    conn: EsConn,
    index: String,
    pageSize: Int,
    queryJson: String,
    pushed: Array[Filter],
    groups: Array[EsGroupKey],
    resolveTargets: () => Seq[String]
) extends EsTargetScan(resolveTargets) {
  override def readSchema(): StructType =
    StructType(groups.map(g => StructField(g.name, g.dataType)) :+
      StructField("count(*)", LongType, nullable = false))
  override def description(): String =
    s"es-scroll index=$index PushedAggregation: [COUNT(*)" +
      (if (groups.nonEmpty) s" GROUP BY ${groups.map(_.name).mkString(", ")}" else "") +
      s"], PushedEsQuery: $queryJson, PushedFilters: [${pushed.mkString(", ")}]"
  /** One multi-index composite search per target: the server merges
    * buckets across a target's indices. One target's partition is the
    * whole answer; Spark's final `sum(count)` merges several. */
  override def planInputPartitions(): Array[InputPartition] =
    targets.map(t =>
      EsAggPartition(conn, t, queryJson, pageSize, groups): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new EsAggReader(p.asInstanceOf[EsAggPartition])
    }
}

private class EsAggReader(p: EsAggPartition) extends PartitionReader[InternalRow] {
  private val mapper     = new ObjectMapper
  private val groups     = p.groups
  private val zones      = groups.map(_.dayZone.map(java.time.ZoneId.of))
  private var buckets: JsonNode      = _ // current composite page
  private var afterKey: JsonNode     = _
  private var pos                    = 0
  private var done                   = false
  private var totalEmitted           = false // grand-total (no groups) mode
  private var row: InternalRow       = _

  private def request(): JsonNode = {
    val root = mapper.createObjectNode()
    root.put("size", 0)
    root.set[ObjectNode]("query", mapper.readTree(p.queryJson).asInstanceOf[ObjectNode])
    if (groups.isEmpty) root.put("track_total_hits", true)
    else {
      val comp = root.putObject("aggs").putObject("g").putObject("composite")
      comp.put("size", p.pageSize)
      val srcs = comp.putArray("sources")
      groups.foreach { g =>
        // the SOURCE NAME is the key's name, so bucket keys decode unchanged
        val src = srcs.addObject().putObject(g.name)
        val s = g.dayZone match {
          case Some(zone) =>
            val d = src.putObject("date_histogram")
            d.put("field", g.field)
            d.put("calendar_interval", "1d")
            d.put("time_zone", zone)
          case None => src.putObject("terms").put("field", g.field)
        }
        // real ES SKIPS docs missing the field unless told otherwise;
        // Spark's groupBy emits a null group — missing_bucket aligns them
        s.put("missing_bucket", true)
      }
      if (afterKey != null && afterKey.isObject)
        comp.set[ObjectNode]("after", afterKey.asInstanceOf[ObjectNode])
    }
    mapper.readTree(EsScrollSource.post(p.conn, s"/${p.index}/_search", root.toString))
  }

  override def next(): Boolean = {
    if (groups.isEmpty) {
      if (totalEmitted) return false
      val n = request().path("hits").path("total").path("value").asLong()
      row = new GenericInternalRow(Array[Any](n))
      totalEmitted = true
      return true
    }
    while (!done && (buckets == null || pos >= buckets.size())) {
      if (buckets != null && buckets.size() < p.pageSize) { done = true; return false }
      val agg = request().path("aggregations").path("g")
      buckets = agg.path("buckets")
      afterKey = agg.path("after_key")
      pos = 0
      if (buckets.size() == 0) { done = true; return false }
    }
    if (done) return false
    val b    = buckets.get(pos)
    val key  = b.path("key")
    val vals = new Array[Any](groups.length + 1)
    var i = 0
    while (i < groups.length) {
      // a missing_bucket key arrives as JSON null → the null group value,
      // matching Spark's groupBy on a null field
      val k = key.get(groups(i).name)
      vals(i) = zones(i) match {
        case Some(zone) =>
          if (k == null || !k.isNumber) null
          else java.time.Instant.ofEpochMilli(k.asLong()).atZone(zone).toLocalDate.toEpochDay.toInt
        case None => EsScrollSource.toInternal(k, groups(i).dataType)
      }
      i += 1
    }
    vals(groups.length) = b.path("doc_count").asLong()
    row = new GenericInternalRow(vals)
    pos += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = () // no server-side context to clear
}

private case class EsTopNPartition(
    conn: EsConn,
    index: String,
    queryJson: String,
    sortJson: String,
    schemaJson: String,
    n: Int
) extends InputPartition

/** Scan for a pushed top-N: one partition per search target, each issuing
  * one sorted plain `_search` — the server merges the per-shard top-n of a
  * target's indices, Spark's kept sort/limit merges the targets, and no
  * scroll context is opened. */
private class EsTopNScan(
    conn: EsConn,
    index: String,
    required: StructType,
    queryJson: String,
    pushed: Array[Filter],
    resolveTargets: () => Seq[String],
    sortJson: String,
    ordersDesc: String,
    n: Int
) extends EsTargetScan(resolveTargets) {
  override def readSchema(): StructType = required
  override def description(): String =
    s"es-scroll index=$index PushedTopN: [$ordersDesc] LIMIT $n, PushedEsQuery: $queryJson, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    targets.map(t =>
      EsTopNPartition(conn, t, queryJson, sortJson, required.json, n): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = EsHitsReader
}

/** The top-N search: `size = n` ranked hits in one request, `from`/`size`
  * paging past the hits already seen when skipped hits leave a shortfall,
  * so Spark still receives the n best decodable rows. A page shorter than
  * asked is the last; a plain search keeps no server-side context. */
private class EsTopNReader(p: EsTopNPartition) extends EsHitsReader(p.schemaJson, p.n) {
  private val sort = mapper.readTree(p.sortJson)
  private var want = 0 // size asked of the current page

  override protected def fetch(): JsonNode = {
    want = p.n - emitted.toInt
    val body = searchBody(want, p.queryJson, sort)
    if (seen > 0) body.put("from", seen)
    mapper.readTree(EsScrollSource.post(p.conn, s"/${p.index}/_search", body.toString))
      .path("hits").path("hits")
  }

  override protected def isLast(page: JsonNode): Boolean = page.size() < want
}

private case class EsSlicePartition(
    sliceId: Int,
    sliceMax: Int,
    conn: EsConn,
    index: String,
    queryJson: String,
    pageSize: Int,
    scroll: String,
    schemaJson: String,
    limit: Int, // -1 = unlimited
    paging: EsPaging
) extends InputPartition

/** How a slice pages, named by its `pagination` option value: the
  * reference's scroll, or a point-in-time with `search_after`. */
private[es] sealed abstract class EsPaging(val option: String)
private[es] case object ScrollPaging extends EsPaging("scroll")
private[es] case object PitPaging extends EsPaging("search_after")

private class EsScrollScan(
    conn: EsConn,
    index: String,
    slices: Int,
    pageSize: Int,
    scroll: String,
    required: StructType,
    queryJson: String,
    pushed: Array[Filter],
    limit: Option[Int],
    resolveTargets: () => Seq[String],
    paging: EsPaging,
    cursorField: String = "event_id",
    maxIdsPerBatch: Long = 1000L
) extends EsTargetScan(resolveTargets) {
  override def readSchema(): StructType = required
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EsTailStream(conn, index, slices, pageSize, scroll, required,
      queryJson, cursorField, maxIdsPerBatch)
  override def description(): String =
    s"es-scroll index=$index slices=$slices pagination=${paging.option} PushedEsQuery: $queryJson, " +
      s"PushedFilters: [${pushed.mkString(", ")}]${limit.fold("")(l => s", PushedLimit: $l")}"

  /** `slices` partitions per search target — one target unless the
    * surviving indices overflow a request line — each driving one slice of
    * a sliced scroll (or PIT) over all of the target's indices. Pattern
    * indices resolve via `_cat/indices` and day-suffixed ones outside the
    * pushed ts window are pruned on the DRIVER (partition planning, exactly
    * where Spark prunes catalog partitions) — executors never address a
    * pruned index. */
  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(1, slices)
    (for { t <- targets; i <- 0 until n } yield
      EsSlicePartition(i, n, conn, t, queryJson,
        limit.fold(pageSize)(l => math.min(pageSize, math.max(1, l))),
        scroll, required.json, limit.getOrElse(-1), paging): InputPartition
    ).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = EsHitsReader
}

/** The one page loop of every read that ships documents — the
  * reference's EsParquetWriter.call() body (EsParquetWriter.java:64-84):
  * fetch a page, decode each hit with [[EsScrollSource.decodeHit]], skip
  * and count a hit whose `_source` is not an object (the reference's
  * per-record catch, :78-81), and stop at the pushed `limit` (−1 = none),
  * at an empty page, or after the page the protocol calls the last. The
  * subclasses are the protocols: how a page is fetched, which page is the
  * last, and what the server keeps until [[close]]. */
private abstract class EsHitsReader(schemaJson: String, limit: Long) extends PartitionReader[InternalRow] {
  protected val mapper = new ObjectMapper
  protected val fields = DataType.fromJson(schemaJson).asInstanceOf[StructType].fields
  /** Rows returned, and hits skipped because their `_source` is not an object. */
  protected var emitted = 0L
  protected var skipped = 0L
  private var page: JsonNode   = _ // current hits array
  private var pos              = 0
  private var row: InternalRow = _

  /** Hits consumed so far, decodable or not. */
  protected def seen: Long = emitted + skipped

  /** The next page's hits array. */
  protected def fetch(): JsonNode

  /** Whether `page`, every hit of it consumed, was the last. */
  protected def isLast(page: JsonNode): Boolean

  /** The search body every protocol sends: `size` hits of `queryJson`,
    * only the read's fields in `_source`, ordered by `sort`, from slice
    * `sliceId` of `sliceMax` (no `slice` when the read is one slice). */
  protected def searchBody(size: Int, queryJson: String, sort: JsonNode,
      sliceId: Int = 0, sliceMax: Int = 1): ObjectNode = {
    val root = mapper.createObjectNode()
    if (sliceMax > 1) {
      val s = root.putObject("slice")
      s.put("id", sliceId); s.put("max", sliceMax)
    }
    root.put("size", size)
    root.set[JsonNode]("query", mapper.readTree(queryJson))
    val src = root.putArray("_source")
    fields.foreach(f => src.add(f.name))
    root.set[JsonNode]("sort", sort)
    root
  }

  override def next(): Boolean = {
    while (limit < 0 || emitted < limit) {
      if (page == null || pos >= page.size()) {
        if (page != null && (page.size() == 0 || isLast(page))) return false
        page = fetch()
        pos = 0
        if (page.size() == 0) return false
      }
      val r = EsScrollSource.decodeHit(page.get(pos), fields)
      pos += 1
      if (r != null) { row = r; emitted += 1; return true }
      skipped += 1
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** The reader of a top-N or slice partition; a slice's reader is chosen
  * by its paging. */
private object EsHitsReader extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case t: EsTopNPartition                            => new EsTopNReader(t)
    case s: EsSlicePartition if s.paging == PitPaging  => new EsPitReader(s)
    case s: EsSlicePartition                           => new EsScrollReader(s)
  }
}

/** One slice's scroll — the reference's loop (initial search → page via
  * scroll_id → close), plus slice fan-out and the clear-scroll hygiene the
  * reference lacks. An empty page ends it (the reference's loop
  * condition); so does having consumed the exact `hits.total` the server
  * counted, which saves the empty trailing round trip. */
private class EsScrollReader(p: EsSlicePartition) extends EsHitsReader(p.schemaJson, p.limit) {
  private var scrollId: String = _
  /** The slice's exact hit count (`hits.total` with relation `eq`), or −1
    * when the server only bounds it. */
  private var total = -1L

  override protected def fetch(): JsonNode = {
    val resp =
      if (scrollId == null) {
        val r = mapper.readTree(EsScrollSource.post(p.conn, s"/${p.index}/_search?scroll=${p.scroll}",
          searchBody(p.pageSize, p.queryJson, mapper.readTree("""["_doc"]"""), p.sliceId, p.sliceMax)
            .toString))
        scrollId = r.path("_scroll_id").asText()
        val t = r.path("hits").path("total")
        if (t.path("relation").asText() == "eq") total = t.path("value").asLong()
        r
      } else {
        val r = mapper.readTree(EsScrollSource.post(p.conn, "/_search/scroll",
          s"""{"scroll":"${p.scroll}","scroll_id":${mapper.writeValueAsString(scrollId)}}"""))
        scrollId = r.path("_scroll_id").asText(scrollId)
        r
      }
    resp.path("hits").path("hits")
  }

  override protected def isLast(page: JsonNode): Boolean = total >= 0 && seen >= total

  override def close(): Unit =
    if (scrollId != null) {
      try EsScrollSource.delete(p.conn, "/_search/scroll",
        s"""{"scroll_id":[${mapper.writeValueAsString(scrollId)}]}""")
      catch { case _: Exception => () } // best-effort, contexts also expire by keep-alive
    }
}

/** One slice's PIT + `search_after` loop — the pagination ES documents as
  * the replacement for scroll on deep result sets: open a point-in-time
  * snapshot, page with `sort:[{_shard_doc:asc}]` chaining each page's last
  * `sort` value into the next request's `search_after`, close the PIT.
  * Unlike a scroll context the server keeps no per-page cursor — only the
  * snapshot — so a retried or resumed page is addressed by VALUE, not by
  * server state. Results are multiset-identical to the scroll reader
  * (q166 shares q163's oracle). A page with fewer than `pageSize` hits is
  * the last (the documented search_after convention). */
private class EsPitReader(p: EsSlicePartition) extends EsHitsReader(p.schemaJson, p.limit) {
  private val sort = mapper.readTree("""[{"_shard_doc":"asc"}]""")
  private var pitId: String      = _
  private var lastSort: JsonNode = _ // `sort` of the last hit seen

  override protected def fetch(): JsonNode = {
    if (pitId == null)
      pitId = mapper.readTree(
        EsScrollSource.post(p.conn, s"/${p.index}/_pit?keep_alive=${p.scroll}", "{}"))
        .path("id").asText()
    val body = searchBody(p.pageSize, p.queryJson, sort, p.sliceId, p.sliceMax)
    val pit  = body.putObject("pit")
    pit.put("id", pitId); pit.put("keep_alive", p.scroll)
    if (lastSort != null && lastSort.isArray && lastSort.size() > 0)
      body.set[JsonNode]("search_after", lastSort)
    val page = mapper.readTree(EsScrollSource.post(p.conn, "/_search", body.toString))
      .path("hits").path("hits")
    if (page.size() > 0) lastSort = page.get(page.size() - 1).path("sort")
    page
  }

  override protected def isLast(page: JsonNode): Boolean = page.size() < p.pageSize

  override def close(): Unit =
    if (pitId != null) {
      try EsScrollSource.delete(p.conn, "/_pit",
        s"""{"id":${mapper.writeValueAsString(pitId)}}""")
      catch { case _: Exception => () } // best-effort, PITs also expire by keep-alive
    }
}

/** Streaming offset for the ES tail: the highest `cursorField` value
  * delivered so far (exclusive lower bound of the next epoch). Bare-number
  * JSON so the checkpoint offset log is human-auditable. */
private[es] case class EsCursor(last: Long) extends StreamOffset {
  override def json(): String = last.toString
}

/** Streaming tail of an ES index over the wire protocol — the modern
  * counterpart to the reference's SCHEDULED batch exports (its Bootstrap
  * re-runs the scroll export per time window; a Structured Streaming tail
  * subsumes that loop with exactly-once cursor arithmetic):
  *
  *   - The cursor is a monotonic numeric field (`cursorField`, default
  *     event_id — ingest-time sequence ids / auto-increment keys in
  *     practice). `latestOffset` asks the server for the field's current
  *     `max` (one `size:0` aggregation — no documents move) and advances
  *     at most `maxIdsPerBatch` cursor values per epoch (admission
  *     control, the scroll-page analog).
  *   - Epoch (start, end] compiles to a `range` clause ANDed onto the base
  *     query; each of the N slices of each search target drives an
  *     independent PIT + search_after read of that range — the same
  *     executor fan-out as the batch path, per epoch.
  *   - Index patterns resolve ONCE at stream construction (the same
  *     `_cat/indices` discovery and request-line packing as the batch
  *     path, [[EsScrollSource.searchTargets]]); the resolved set is
  *     searched multi-index per epoch. Indices created after the stream
  *     starts join on the next restart — the cursor lives in the
  *     checkpoint, so a restart is cheap and loses nothing.
  *   - The stream keeps NO state of its own: a fresh instance resumes from
  *     whatever committed offset Spark replays from the checkpoint — rows
  *     below the cursor are never re-read (no duplicates), the epoch range
  *     is half-open so none are skipped. Late writes BELOW the cursor are out
  *     of scope by design (the tail contract; same as any log tailer).
  *   - `Trigger.AvailableNow` snapshots the server max once and drains up
  *     to it in admission-sized epochs, then terminates.
  */
private class EsTailStream(
    conn: EsConn,
    index: String,
    slices: Int,
    pageSize: Int,
    scroll: String,
    required: StructType,
    queryJson: String,
    cursorField: String,
    maxIdsPerBatch: Long
) extends MicroBatchStream
    with SupportsTriggerAvailableNow {
  private val mapper = new ObjectMapper
  @volatile private var snapshotMax: Option[Long] = None // set by AvailableNow

  /** A wildcard pattern resolved to concrete comma-joined index lists, one
    * per [[EsScrollSource.searchTargets]] target so every request line
    * stays within ES's limit — without this, a literal `events-*` path
    * would 400 (and per-epoch cursor admission would be meaningless across
    * unknown indices). */
  private val targets: Seq[String] = {
    val ts = EsScrollSource.searchTargets(conn, index, Array.empty, "")
    require(ts.nonEmpty, s"es tail: index pattern '$index' matched no indices")
    ts
  }

  /** Current server-side max of the cursor field over every target (−1
    * when all are empty): one aggregation request per target, zero
    * documents over the wire. */
  private def serverMax(): Long = {
    val body = s"""{"size":0,"query":$queryJson,"aggs":{"m":{"max":{"field":"$cursorField"}}}}"""
    targets.map { t =>
      val v = mapper.readTree(EsScrollSource.post(conn, s"/$t/_search", body))
        .path("aggregations").path("m").path("value")
      if (v.isNumber) v.asLong() else -1L
    }.max
  }

  override def prepareForTriggerAvailableNow(): Unit = snapshotMax = Some(serverMax())

  override def initialOffset(): StreamOffset = EsCursor(-1L)

  override def deserializeOffset(json: String): StreamOffset = EsCursor(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxIdsPerBatch)

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val s   = start.asInstanceOf[EsCursor].last
    val cap = snapshotMax.getOrElse(serverMax())
    val step = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _               => maxIdsPerBatch
    }
    EsCursor(math.max(s, math.min(s + math.max(step, 1L), cap)))
  }

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException("latestOffset(start, limit) is the entry point")

  override def reportLatestOffset(): StreamOffset =
    EsCursor(snapshotMax.getOrElse(serverMax()))

  override def planInputPartitions(start: StreamOffset, end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[EsCursor].last
    val e = end.asInstanceOf[EsCursor].last
    if (e <= s) return Array.empty
    // (s, e] as a range clause ANDed onto the base query
    val ranged =
      s"""{"bool":{"must":[$queryJson,{"range":{"$cursorField":{"gt":$s,"lte":$e}}}]}}"""
    val n = math.max(1, slices)
    (for (t <- targets; i <- 0 until n)
      yield EsSlicePartition(i, n, conn, t, ranged, pageSize, scroll,
        required.json, -1, PitPaging): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = EsHitsReader

  // the cursor lives in Spark's checkpoint offset log, not here
  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}
