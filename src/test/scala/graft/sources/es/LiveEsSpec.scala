package graft.sources.es

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** OPT-IN live-cluster integration suite (r13 verdict task 8): every wire
  * behavior the connector proves against [[EsStubServer]] in CI, replayed
  * against a REAL Elasticsearch endpoint the day one is reachable. The
  * suite is CI-neutral: with `ES_URL` unset every test is CANCELED (not
  * failed), so it rides the normal `sbt test` without a cluster.
  *
  * One-command field check:
  * {{{
  *   ES_URL=https://host:9200 ES_USER=elastic ES_PASSWORD=… \
  *     sbt "testOnly graft.sources.es.LiveEsSpec"
  * }}}
  * Optional: `ES_API_KEY` (wins over user/password), `ES_INSECURE_TLS=true`
  * for self-signed dev clusters, `ES_INDEX` to rename the scratch index
  * (default `graft_live_it`; it is created, bulk-seeded, asserted against,
  * and deleted).
  *
  * Coverage (mirrors the stub-gated specs, so a pass here certifies the
  * fidelity work): explicit-mapping seed → sliced scroll export equality
  * (q163 shape), PIT + search_after plan-pair equality (q166 shape),
  * composite-agg discovery equality (q164 shape), exact `term` pushdown on
  * a keyword field, and the live `_mapping` deciding an equality on an
  * ANALYZED text field: Spark's filter without a suffix, an exact term on
  * the `.keyword` subfield, a fail-fast on a suffix naming no subfield. */
class LiveEsSpec extends SparkSpec {

  private val urlOpt  = sys.env.get("ES_URL")
  private val idx     = sys.env.getOrElse("ES_INDEX", "graft_live_it")
  private def insecureTls = sys.env.get("ES_INSECURE_TLS").exists(_.toBoolean)
  private def authHeader: String = EsScrollSource.authHeader(
    sys.env.getOrElse("ES_API_KEY", ""),
    sys.env.getOrElse("ES_USER", ""),
    sys.env.getOrElse("ES_PASSWORD", ""))
  private def conn(url: String) = EsConn(url, authHeader, insecureTls)

  private def authOptions: Map[String, String] = Map(
    "apiKey"      -> sys.env.getOrElse("ES_API_KEY", ""),
    "user"        -> sys.env.getOrElse("ES_USER", ""),
    "password"    -> sys.env.getOrElse("ES_PASSWORD", ""),
    "insecureTls" -> insecureTls.toString
  ).filter(_._2.nonEmpty)

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType), // keyword-mapped
    StructField("note", StringType),       // analyzed text + .keyword subfield
    StructField("value", DoubleType)
  ))

  /** Deterministic 300-row seed; multi-token `note` values make analyzed
    * matching observably different from exact equality. */
  private def seedRows: Seq[(Long, String, String, Double)] =
    (0L until 300L).map { i =>
      val t = Seq("purchase", "view", "click")(i.toInt % 3)
      (i, t, s"$t order ${i % 7}", i * 0.25)
    }

  private def http(url: String, method: String, path: String, body: String): (Int, String) = {
    val c = conn(url)
    val b0 = HttpRequest.newBuilder(URI.create(url + path))
      .header("Content-Type", "application/json")
      .method(method, if (body == null) HttpRequest.BodyPublishers.noBody()
                      else HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
    val b = if (c.auth.nonEmpty) b0.header("Authorization", c.auth) else b0
    val resp = HttpClient.newHttpClient().send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Create the scratch index with an EXPLICIT mapping (event_type keyword,
    * note analyzed text + raw subfield — the default-dynamic-mapping shape
    * the keywordSuffix machinery exists for), bulk-seed, refresh. */
  private def seed(url: String): Unit = {
    http(url, "DELETE", s"/$idx", null) // idempotent re-run
    val (cs, cb) = http(url, "PUT", s"/$idx",
      """{"mappings":{"properties":{
        |  "event_id":{"type":"long"},
        |  "event_type":{"type":"keyword"},
        |  "note":{"type":"text","fields":{"keyword":{"type":"keyword","ignore_above":256}}},
        |  "value":{"type":"double"}}}}""".stripMargin)
    assert(cs / 100 == 2, s"index create failed: HTTP $cs $cb")
    val bulk = seedRows.map { case (id, t, n, v) =>
      s"""{"index":{"_index":"$idx","_id":"$id"}}
         |{"event_id":$id,"event_type":"$t","note":"$n","value":$v}""".stripMargin
    }.mkString("", "\n", "\n")
    val (bs, bb) = http(url, "POST", "/_bulk?refresh=true", bulk)
    assert(bs / 100 == 2 && !bb.contains("\"errors\":true"), s"bulk seed failed: HTTP $bs ${bb.take(300)}")
  }

  private def read(url: String, extra: (String, String)*) = {
    val r0 = spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(schema)
      .options(authOptions)
      .option("url", url).option("index", idx)
      .option("slices", 3).option("pageSize", 100)
    extra.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  private def withLive(f: String => Unit): Unit = {
    assume(urlOpt.isDefined, "ES_URL not set — live suite skipped (stub-gated specs cover the wire in CI)")
    val url = urlOpt.get
    seed(url)
    try f(url)
    finally http(url, "DELETE", s"/$idx", null)
  }

  test("live: sliced scroll export returns exactly the seeded multiset (q163 shape)") {
    withLive { url =>
      import spark.implicits._
      val got = read(url).select($"event_id", $"event_type", $"value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      val want = seedRows.map { case (id, t, _, v) => (id, t, v) }.toSet
      assert(got === want, "wire round-trip must be lossless")
    }
  }

  test("live: PIT + search_after delivers the identical multiset as scroll (q166 plan pair)") {
    withLive { url =>
      import spark.implicits._
      val viaScroll = read(url, "pagination" -> "scroll").select($"event_id").as[Long].collect().sorted
      val viaPit    = read(url, "pagination" -> "search_after").select($"event_id").as[Long].collect().sorted
      assert(viaScroll.toSeq === viaPit.toSeq)
    }
  }

  test("live: groupBy(event_type).count() pushes as a composite aggregation and equals the seed (q164 shape)") {
    withLive { url =>
      import spark.implicits._
      val got = read(url).groupBy($"event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("purchase" -> 100L, "view" -> 100L, "click" -> 100L))
    }
  }

  test("live: exact term pushdown on the keyword field filters server-side") {
    withLive { url =>
      import spark.implicits._
      val df = read(url).where($"event_type" === "purchase")
      assert(df.queryExecution.executedPlan.toString.contains("term"),
        "string equality must compile to a term query")
      assert(df.count() === 100L)
    }
  }

  test("live: an equality on the analyzed field is Spark's filter without a suffix; a wrong suffix fails fast") {
    withLive { url =>
      import spark.implicits._
      val want = seedRows.count { case (_, _, s, _) => s == "purchase order 0" }.toLong
      // no suffix: a term on analyzed `note` would match its tokens, so the
      // equality is not pushed and Spark filters after the scan
      val df   = read(url).where($"note" === "purchase order 0")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql }
        .exists(_.contains("'purchase order 0'")), s"the equality must stay with Spark:\n$plan")
      assert(!plan.toString.contains("\"term\""), s"no term on the analyzed field:\n$plan")
      assert(df.collect().length.toLong === want)
      // a suffix naming no keyword subfield fails fast at scan construction
      val e = intercept[Exception] {
        read(url, "keywordSuffix" -> ".raw").where($"note" === "purchase order 0").collect()
      }
      assert(e.getMessage.contains("keywordSuffix"),
        s"a missing subfield must fail with the fix named, got: ${e.getMessage}")
      // the raw subfield: an exact term on note.keyword
      val n = read(url, "keywordSuffix" -> ".keyword")
        .where($"note" === "purchase order 0").count()
      assert(n === want)
    }
  }
}
