package graft

import graft.sources.es.{EsScrollSource, EsStubServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The REAL wire-protocol ES scroll connector (EsScrollSource) read against
  * the in-JVM stub cluster (EsStubServer): end-to-end row fidelity, sliced
  * fan-out, filter/column/limit pushdown visible both in the plan AND in
  * what actually crossed the wire, scroll-context hygiene, tolerant decode,
  * and sampled schema inference. */
class EsScrollSourceSpec extends SparkSpec {

  private lazy val events: DataFrame = Tables.events(spark, sf).cache()

  private def withServer[A](df: DataFrame, malformedEvery: Int = 0)(
      f: (EsStubServer, String) => A): A = {
    val srv = EsStubServer.fromDataFrame(df, "events", malformedEvery)
    srv.start()
    try f(srv, srv.url)
    finally srv.stop()
  }

  private def esRead(url: String, slices: Int = 4, pageSize: Int = 100): DataFrame =
    spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(events.schema)
      .option("url", url)
      .option("index", "events")
      .option("slices", slices)
      .option("pageSize", pageSize)
      .load()

  test("full scroll read returns every seeded row exactly once, across slices and pages") {
    withServer(events) { (srv, url) =>
      val got = esRead(url, slices = 4, pageSize = 57) // force multi-page scrolls per slice
      // collect(), not count(): a bare count() is (correctly) served by the
      // pushed-aggregation path and never scrolls a document
      assert(got.collect().length === events.count())
      // one action so far → one initial search per slice, then page loops
      assert(srv.searchCalls.get() === 4, "one initial search per slice")
      assert(srv.lastScrollKeepAlive === "3m", "default scroll keep-alive must reach the server")
      assert(srv.scrollCalls.get() > 0, "pagination must go through _search/scroll")
      // exact multiset equality with the parquet source of truth
      assert(got.exceptAll(events).count() === 0)
      assert(events.exceptAll(got).count() === 0)
    }
  }

  test("equality filter is pushed as an exact term and non-matching docs never cross the wire") {
    import spark.implicits._
    withServer(events) { (srv, url) =>
      val purchases = esRead(url, slices = 2).where($"event_type" === "purchase")
      val plan      = purchases.queryExecution.executedPlan.toString
      assert(plan.contains("PushedEsQuery") && plan.contains("\"term\""),
        s"pushed query DSL must be visible in the scan:\n$plan")
      val n = purchases.collect().length.toLong // scroll path (count() would push the agg)
      assert(n === events.where($"event_type" === "purchase").count())
      assert(srv.hitsServed.get() === n,
        s"server must serialize only matching docs (served ${srv.hitsServed.get()}, matched $n)")
      assert(srv.lastSearchBody.contains("\"term\""))
    }
  }

  test("a string equality on an analyzed text field is Spark's filter; a wrong keywordSuffix fails fast") {
    import spark.implicits._
    import EsStubServer.{KeywordStrings, TextOnly, TextWithKeyword}
    // half the docs carry the exact value, half a superstring a term on an
    // analyzed field would also match ("purchase" is a token of "purchase
    // order"): only Spark's own filter, after the scan, is exact there
    val mixed = events.limit(400).withColumn("event_type",
      when($"event_id" % 2 === 0, lit("purchase")).otherwise(lit("purchase order")))
    val (cols, data) = (mixed.columns,
      mixed.collect().map(r => Array.tabulate[Any](mixed.columns.length)(r.get)).toIndexedSeq)
    def read(url: String, suffix: String = "") = spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(events.schema)
      .option("url", url).option("index", "events")
      .option("slices", 2)
      .option("keywordSuffix", suffix)
      .load()
    Seq(TextOnly, TextWithKeyword, KeywordStrings).foreach { mapping =>
      val srv = new EsStubServer("events", cols, data, stringMapping = mapping)
      srv.start()
      try {
        val purchases = read(srv.url).where($"event_type" === "purchase")
        val postScan  = purchases.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql
        }
        assert(purchases.collect().length === 200, s"$mapping: exactly the equal rows")
        assert(srv.mappingCalls.get() === 1, s"$mapping: one _mapping request per scan builder")
        if (mapping == KeywordStrings) {
          assert(srv.hitsServed.get() === 200, "a keyword field is filtered by the server")
          assert(!postScan.exists(_.contains("'purchase'")), s"the term is pushed whole: $postScan")
        } else {
          // a text field without a suffix: no term on it, every doc shipped,
          // and the equality is a Filter above the scan
          assert(!srv.lastSearchBody.contains("\"term\""), s"$mapping: ${srv.lastSearchBody}")
          assert(srv.hitsServed.get() === 400, s"$mapping: the server does not filter")
          assert(postScan.exists(_.contains("'purchase'")), s"$mapping: the equality must stay with Spark: $postScan")
        }
        // a read with no string equality sends no _mapping request
        read(srv.url).where($"value" > 0.0).collect()
        assert(srv.mappingCalls.get() === 1, s"$mapping: no _mapping without a string equality")
        // a suffix naming no keyword subfield fails fast at scan construction
        if (mapping != TextWithKeyword) {
          val e = intercept[Exception] { read(srv.url, ".keyword").where($"event_type" === "purchase").collect() }
          assert(e.getMessage.contains("keywordSuffix"), s"$mapping: the error must name the fix, got: ${e.getMessage}")
        }
      } finally srv.stop()
    }
  }

  test("pushed Not over a nullable column drops null rows exactly like Spark (exists guard)") {
    import spark.implicits._
    // every 5th event's type nulled: Spark's NOT(a = v) drops those rows,
    // ES must_not alone would KEEP them — the exists guard is the fix
    val withNulls = events.withColumn("event_type",
      when($"event_id" % 5 === 0, lit(null: String)).otherwise($"event_type"))
    withServer(withNulls) { (srv, url) =>
      val got = esRead(url, slices = 2).where($"event_type" =!= "purchase")
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("exists") && plan.contains("must_not"),
        s"pushed Not must carry the exists null guard:\n$plan")
      val n = got.collect().length.toLong
      val expected = withNulls.where($"event_type" =!= "purchase").count()
      assert(n === expected, "null-typed rows must be dropped, not returned")
      assert(srv.hitsServed.get() === n,
        "the guard must exclude null rows SERVER-side, not ship them for Spark to drop")
    }
  }

  test("isNull / isNotNull push as bare exists clauses (never-NULL predicates need no guard)") {
    import spark.implicits._
    val withNulls = events.withColumn("event_type",
      when($"event_id" % 5 === 0, lit(null: String)).otherwise($"event_type"))
    withServer(withNulls) { (srv, url) =>
      val nulls = esRead(url, slices = 2).where($"event_type".isNull)
      val n = nulls.collect().length.toLong
      assert(n === withNulls.where($"event_type".isNull).count())
      assert(srv.hitsServed.get() === n, "isNull must filter server-side")
      assert(srv.lastSearchBody.contains("exists"))
    }
  }

  test("In over a float column serializes as JSON numbers and matches (putArr type coverage)") {
    import spark.implicits._
    val srv = new EsStubServer("metrics",
      Array("id", "score"),
      (0 until 200).map(i => Array[Any](i.toLong, (i % 10).toFloat * 0.5f)).toIndexedSeq)
    srv.start()
    try {
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("score", FloatType)))
      val got = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(schema)
        .option("url", srv.url).option("index", "metrics")
        .option("slices", 2)
        .load()
        .where($"score".isin(0.5f, 2.0f))
      val n = got.collect().length.toLong
      assert(n === 40, s"terms over floats must match 2 of 10 score buckets, got $n")
      assert(srv.hitsServed.get() === n, "the In must filter server-side, not return zero rows")
      assert(srv.lastSearchBody.contains("\"terms\""))
    } finally srv.stop()
  }

  test("keywordSuffix addresses the raw keyword subfield for exact term equality") {
    import spark.implicits._
    // a DEFAULT-MAPPED cluster (analyzed text + raw .keyword subfield) is
    // the mapping keywordSuffix exists for — and the only one the scan's
    // `_mapping` validation accepts the suffix against (a suffix on a
    // plain-keyword field would be an always-empty term on real ES)
    val (cols, data) = (events.columns,
      events.collect().map(r => Array.tabulate[Any](events.columns.length)(r.get)).toIndexedSeq)
    val srv = new EsStubServer("events", cols, data, stringMapping = EsStubServer.TextWithKeyword)
    srv.start()
    try {
      val got = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", srv.url).option("index", "events")
        .option("slices", 2)
        .option("keywordSuffix", ".keyword")
        .load()
        .where($"event_type" === "purchase")
      val n = got.collect().length.toLong
      assert(n === events.where($"event_type" === "purchase").count())
      assert(srv.lastSearchBody.contains("event_type.keyword"),
        s"term must target the keyword subfield: ${srv.lastSearchBody}")
    } finally srv.stop()
  }

  test("composite aggregation declares missing_bucket and surfaces the null group like Spark") {
    import spark.implicits._
    val withNulls = events.withColumn("event_type",
      when($"event_id" % 5 === 0, lit(null: String)).otherwise($"event_type"))
    withServer(withNulls) { (srv, url) =>
      val counts = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", url).option("index", "events")
        .option("pageSize", 2) // forces composite `after` paging across the null bucket
        .load()
        .groupBy($"event_type").count()
      val got = counts.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      val expected = withNulls.groupBy($"event_type").count()
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(got === expected, "the null group must arrive with Spark's groupBy semantics")
      assert(got.contains(None) && got(None) > 0, "fixture must actually exercise the null bucket")
      assert(srv.hitsServed.get() === 0)
      assert(srv.lastSearchBody.contains("missing_bucket"),
        s"composite sources must declare missing_bucket: ${srv.lastSearchBody}")
    }
  }

  test("auth-gated cluster: no credentials fail fast with 401; basic auth and ApiKey both read") {
    import java.util.Base64
    val expectBasic = "Basic " + Base64.getEncoder.encodeToString(
      "elastic:sekret".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sample = events.limit(300)
    val srv = EsStubServer.fromDataFrame(sample, "events", requireAuth = expectBasic)
    srv.start()
    try {
      def read(extra: Map[String, String]) = {
        val r0 = spark.read
          .format("graft.sources.es.EsScrollSource")
          .schema(events.schema)
          .option("url", srv.url).option("index", "events")
          .option("slices", 2)
        extra.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }.load()
      }
      val denied = intercept[Exception](read(Map.empty).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(denied).exists(_.contains("HTTP 401")),
        s"an unauthenticated read must fail fast with 401, got: $denied")
      val viaBasic = read(Map("user" -> "elastic", "password" -> "sekret"))
      assert(viaBasic.collect().length === 300)
      assert(viaBasic.exceptAll(sample).count() === 0)
    } finally srv.stop()
    // ApiKey scheme against its own gate
    val srv2 = EsStubServer.fromDataFrame(sample, "events", requireAuth = "ApiKey deadbeef==")
    srv2.start()
    try {
      val viaKey = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", srv2.url).option("index", "events")
        .option("apiKey", "deadbeef==")
        .load()
      assert(viaKey.collect().length === 300)
    } finally srv2.stop()
  }

  test("range filter on a timestamp column compiles to an ES range query") {
    import spark.implicits._
    val cut = events.agg(max($"ts")).head.getTimestamp(0)
    withServer(events) { (srv, url) =>
      val recent = esRead(url, slices = 2).where($"ts" >= lit(cut))
      assert(recent.count() === events.where($"ts" >= lit(cut)).count())
      assert(srv.lastSearchBody.contains("\"range\"") && srv.lastSearchBody.contains("gte"),
        s"expected a range/gte clause in: ${srv.lastSearchBody}")
    }
  }

  test("column pruning becomes a _source filter: unneeded fields are not shipped") {
    import spark.implicits._
    withServer(events) { (srv, url) =>
      val types = esRead(url, slices = 2).select($"event_type")
      assert(types.distinct().count() === events.select($"event_type").distinct().count())
      val src = srv.lastSearchBody
      assert(src.contains("\"_source\":[\"event_type\"]"),
        s"pruned read must request only event_type in _source: $src")
    }
  }

  test("limit pushdown caps what each slice pulls") {
    withServer(events) { (srv, url) =>
      val five = esRead(url, slices = 4, pageSize = 1000).limit(5)
      assert(five.count() === 5)
      // 4 slices × ≤5 rows each is the pushed superset; far below the full index
      assert(srv.hitsServed.get() <= 20,
        s"pushed limit must stop the scroll early (served ${srv.hitsServed.get()})")
    }
  }

  test("every scroll context is cleared after the read (DELETE /_search/scroll)") {
    withServer(events) { (srv, url) =>
      esRead(url, slices = 3, pageSize = 97).collect() // scroll path
      assert(srv.liveContexts === 0, "readers must clear their scroll contexts on close")
      assert(srv.clearedScrolls.get() === 3)
    }
  }

  test("a hit whose _source is not an object is skipped, not fatal (reference per-record catch)") {
    withServer(events.limit(100), malformedEvery = 10) { (_, url) =>
      // every 10th hit malformed → 10 of 100 dropped, rest decode fine
      // (collect: the malformed-skip lives in the scroll decode; an agg
      // count would — like real ES — count the docs server-side)
      assert(esRead(url, slices = 1, pageSize = 1000).collect().length === 90)
    }
    // schema inference samples only object `_source`s, as the decode reads
    withServer(events.limit(50), malformedEvery = 10) { (_, url) =>
      val inferred = spark.read.format("graft.sources.es.EsScrollSource")
        .option("url", url).option("index", "events").load()
      assert(!inferred.schema.fieldNames.contains("_corrupt_record"), inferred.schema.treeString)
      assert(inferred.collect().length === 45)
    }
  }

  test("missing fields decode as null (tolerant decode, not failure)") {
    import spark.implicits._
    withServer(events.drop("props").limit(50)) { (_, url) =>
      // reader schema still declares props; server never serves it
      val got = esRead(url, slices = 1)
      assert(got.count() === 50)
      assert(got.where($"props".isNull).count() === 50)
      assert(got.where($"event_id".isNotNull).count() === 50)
    }
  }

  test("groupBy/count is pushed as a paged composite aggregation; zero documents cross the wire") {
    import spark.implicits._
    withServer(events) { (srv, url) =>
      val counts = esRead(url, pageSize = 2) // < distinct types: forces `after` paging
        .groupBy($"event_type")
        .count()
      val plan = counts.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation") && plan.contains("GROUP BY event_type"),
        s"aggregate pushdown must be visible in the scan:\n$plan")
      val got      = counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = events.groupBy($"event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expected)
      assert(srv.hitsServed.get() === 0, "a pushed aggregation must serialize zero raw hits")
      assert(srv.searchCalls.get() > 1, "pageSize=2 must force composite `after` paging")
      assert(srv.lastSearchBody.contains("\"composite\""))
    }
  }

  test("pushed aggregation composes with a pushed filter (count only the matching docs)") {
    import spark.implicits._
    withServer(events) { (srv, url) =>
      val n = esRead(url).where($"event_type" === "purchase").groupBy().count().head.getLong(0)
      assert(n === events.where($"event_type" === "purchase").count())
      assert(srv.hitsServed.get() === 0)
      assert(srv.lastSearchBody.contains("\"term\""), s"filter must ride the agg request: ${srv.lastSearchBody}")
    }
  }

  test("index pattern resolves via _cat/indices; a pushed ts bound prunes whole day indices") {
    import spark.implicits._
    val sample = events.limit(600)
    val srv = EsStubServer.fromDayPartitionedDataFrame(sample, "events")
    srv.start()
    try {
      def patternRead = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", srv.url)
        .option("index", "events-*")
        .option("slices", 2)
        .load()
      // un-filtered pattern read sees every index's rows exactly once
      assert(patternRead.collect().length === sample.count())
      val days = sample.select(to_date($"ts")).distinct().as[java.sql.Date]
        .collect().map(_.toLocalDate).sorted
      assert(days.length >= 3, "fixture must span several days for the pruning test")
      val cutDay = days(days.length / 2)
      val cut    = java.sql.Timestamp.from(cutDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      val preCounts = days.map(d => srv.searchCount(f"events-${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"))
      val got = patternRead.where($"ts" >= lit(cut)).collect().length.toLong
      assert(got === sample.where($"ts" >= lit(cut)).count())
      days.zip(preCounts).foreach { case (d, pre) =>
        val name  = f"events-${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"
        val delta = srv.searchCount(name) - pre
        if (d.isBefore(cutDay)) assert(delta === 0, s"pruned index $name must receive zero requests")
        else assert(delta > 0, s"surviving index $name must be scrolled")
      }
    } finally srv.stop()
  }

  test("pushed aggregation over a pruned pattern is one multi-index composite search") {
    import spark.implicits._
    val sample = events.limit(600)
    val srv = EsStubServer.fromDayPartitionedDataFrame(sample, "events")
    srv.start()
    try {
      val days   = sample.select(to_date($"ts")).distinct().as[java.sql.Date]
        .collect().map(_.toLocalDate).sorted
      val cutDay = days(days.length / 2)
      val cut    = java.sql.Timestamp.from(cutDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      val counts = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", srv.url)
        .option("index", "events-*")
        .load()
        .where($"ts" >= lit(cut))
        .groupBy($"event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = sample.where($"ts" >= lit(cut)).groupBy($"event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === expected)
      assert(srv.hitsServed.get() === 0)
      days.filter(_.isBefore(cutDay)).foreach { d =>
        val name = f"events-${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"
        assert(srv.searchCount(name) === 0, s"pruned index $name must stay out of the agg path")
      }
    } finally srv.stop()
  }

  test("search_after/PIT pagination returns the identical multiset to scroll and closes its PITs") {
    withServer(events) { (srv, url) =>
      val viaPit = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", url)
        .option("index", "events")
        .option("slices", 3)
        .option("pageSize", 61) // multi-page chains per slice
        .option("pagination", "search_after")
        .load()
      assert(viaPit.exceptAll(events).count() === 0)
      assert(events.exceptAll(viaPit).count() === 0)
      assert(srv.livePits === 0, "every PIT must be closed after the read")
      assert(srv.clearedPits.get() >= 3, "one PIT per slice, all cleared")
      assert(srv.lastSearchBody.contains("search_after") && srv.lastSearchBody.contains("_shard_doc"),
        s"paging must chain search_after on _shard_doc: ${srv.lastSearchBody}")
      assert(srv.scrollCalls.get() === 0, "PIT mode must never touch _search/scroll")
    }
  }

  test("pushed filter rides the PIT search; only matching docs cross the wire") {
    import spark.implicits._
    withServer(events) { (srv, url) =>
      val purchases = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", url)
        .option("index", "events")
        .option("slices", 2)
        .option("pagination", "search_after")
        .load()
        .where($"event_type" === "purchase")
      val n = purchases.collect().length.toLong
      assert(n === events.where($"event_type" === "purchase").count())
      assert(srv.hitsServed.get() === n,
        s"PIT search must serialize only matching docs (served ${srv.hitsServed.get()}, matched $n)")
    }
  }

  test("transient 429 load shedding is retried with backoff; no rows lost or duplicated") {
    val srv = EsStubServer.fromDataFrame(events.limit(500), "events", rejectEvery = 3)
    srv.start()
    try {
      // every 3rd request rejected BEFORE state mutation (the real ES
      // es_rejected_execution point) → the connector must absorb them all
      val got = esRead(srv.url, slices = 3, pageSize = 41)
      assert(got.count() === 500)
      assert(got.exceptAll(events.limit(500)).count() === 0)
      assert(srv.rejected.get() > 0, "fault injection must actually have fired")
    } finally srv.stop()
  }

  // ---- streaming tail (MicroBatchStream over the wire protocol) --------

  private def tailSeed(n: Int): EsStubServer = {
    val types = Array("click", "view", "purchase", "signup", "error")
    new EsStubServer("events",
      Array("event_id", "event_type", "value"),
      (0 until n).map(i => Array[Any](i.toLong, types(i % 5), i * 0.5)).toIndexedSeq)
  }
  private val tailSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def tailStream(url: String, step: Long) = spark.readStream
    .format("graft.sources.es.EsScrollSource")
    .schema(tailSchema)
    .option("url", url)
    .option("index", "events")
    .option("slices", 2)
    .option("cursorField", "event_id")
    .option("maxIdsPerBatch", step)
    .load()

  test("streaming tail resolves a wildcard index pattern at stream construction") {
    val types = Array("click", "view", "purchase", "signup", "error")
    def day(rows: Range) =
      rows.map(i => Array[Any](i.toLong, types(i % 5), i * 0.5)).toIndexedSeq
    val srv = new EsStubServer("events-2024.01.01",
      Array("event_id", "event_type", "value"), day(0 until 300),
      extraIndices = Map("events-2024.01.02" -> day(300 until 600)))
    srv.start()
    val ckpt = java.nio.file.Files.createTempDirectory("es_tail_wild").toString
    val name = s"es_tail_wild_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val q = spark.readStream
        .format("graft.sources.es.EsScrollSource")
        .schema(tailSchema)
        .option("url", srv.url)
        .option("index", "events-*") // a literal events-* request path would 400
        .option("slices", 2)
        .option("cursorField", "event_id")
        .option("maxIdsPerBatch", 250)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name)
      assert(got.count() === 600, "both daily indices must drain through the resolved pattern")
      assert(got.select("event_id").distinct().count() === 600)
    } finally { srv.stop(); spark.catalog.dropTempView(name) }
  }

  test("streaming tail drains every row exactly once across cursor-ranged epochs") {
    val srv = tailSeed(600); srv.start()
    val ckpt = java.nio.file.Files.createTempDirectory("es_tail_ckpt").toString
    val name = s"es_tail_spec_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val q = tailStream(srv.url, step = 250)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name)
      assert(got.count() === 600)
      assert(got.select("event_id").distinct().count() === 600, "no epoch re-read, no row doubled")
      // id-sum is exact-once arithmetic: 0+..+599
      assert(got.agg(sum("event_id")).head.getLong(0) === 599L * 600 / 2)
    } finally { srv.stop(); spark.catalog.dropTempView(name) }
  }

  test("tail restart resumes the committed cursor: the grown index delivers only new ids") {
    import graft.sources.dsv2.AuditSink
    val ckpt = java.nio.file.Files.createTempDirectory("es_tail_ckpt2").toString
    val key  = s"es-tail-${java.util.UUID.randomUUID()}"
    def drain(n: Int): Unit = {
      val srv = tailSeed(n); srv.start()
      try {
        val q = tailStream(srv.url, step = 250)
          .select(col("event_id"))
          .writeStream.format("graft.sources.dsv2.AuditSink")
          .option("key", key).option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      } finally srv.stop()
    }
    // phase 1: 600 docs; drain and kill
    drain(600)
    assert(AuditSink.streamAudit(key) === Some((600L, 179700L)))
    // phase 2: the index grew to 1000 docs; a NEW stream instance + NEW
    // server on the SAME checkpoint resumes at the committed cursor (599)
    drain(1000)
    assert(AuditSink.streamAudit(key) === Some((1000L, 499500L)),
      "resume must deliver exactly ids 600..999 on top of phase 1")
    AuditSink.clearStream(key)
  }

  test("tail Trigger.AvailableNow snapshots the server max, drains, and self-terminates") {
    val srv = tailSeed(900); srv.start()
    val ckpt = java.nio.file.Files.createTempDirectory("es_tail_ckpt3").toString
    val name = s"es_tail_avnow_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val q = tailStream(srv.url, step = 400)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "AvailableNow tail did not self-terminate")
      assert(spark.table(name).count() === 900)
    } finally { srv.stop(); spark.catalog.dropTempView(name) }
  }

  test("composed tail+dedup-gate survives kill/restart: phase-2 copies flag against phase-1 state") {
    import graft.streaming.Streaming
    import scala.concurrent.duration._
    // deterministic 30-token docs; phase 2 appends exact copies of ids%10==0
    // at +1000 — the copies must be flagged against REGISTRY STATE built in
    // phase 1, across a kill/restart of the whole composed checkpoint
    def text(base: Long): String =
      (0 until 30).map(j => java.security.MessageDigest.getInstance("MD5")
        .digest(s"${base}_$j".getBytes).map("%02x".format(_)).mkString.take(6)).mkString(" ")
    def rows(withCopies: Boolean): IndexedSeq[Array[Any]] = {
      val base = (0 until 600).map(i =>
        Array[Any](i.toLong, new java.sql.Timestamp(1704067200000L + i / 250 * 60000L), text(i)))
      if (!withCopies) base
      else base ++ (0 until 600 by 10).map(i =>
        Array[Any](1000L + i, new java.sql.Timestamp(1704067200000L + (1000 + i) / 250 * 60000L), text(i)))
    }
    val ckpt = java.nio.file.Files.createTempDirectory("es_gate_ckpt").toString
    val root = java.nio.file.Files.createTempDirectory("es_gate_out").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", TimestampType), StructField("text", StringType)))
    def drain(withCopies: Boolean): Unit = {
      val srv = new EsStubServer("docs", Array("doc_id", "ts", "text"), rows(withCopies))
      srv.start()
      try {
        val stream = spark.readStream
          .format("graft.sources.es.EsScrollSource")
          .schema(schema)
          .option("url", srv.url).option("index", "docs")
          .option("slices", 2).option("pageSize", 5000)
          .option("cursorField", "doc_id").option("maxIdsPerBatch", 250)
          .load()
        val q = Streaming.nearDupAtArrivalFlags(stream, horizon = 3650.days)
          .toDF()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
            Streaming.atArrivalVerdicts(batch)
              .write.mode("overwrite").parquet(s"$root/epoch=$epoch")
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally srv.stop()
    }
    try {
      drain(withCopies = false) // phase 1: originals only, then KILL
      drain(withCopies = true)  // phase 2: new stream instance, same checkpoint, grown index
      val v = spark.read.parquet(root)
      assert(v.count() === 660, "600 originals + 60 copies, each judged exactly once")
      val copies = v.filter(col("doc_id") >= 1000L)
      assert(copies.count() === 60)
      assert(copies.filter(col("is_dup_at_arrival")).count() === 60,
        "every phase-2 copy must be flagged against the phase-1 registry state")
      assert(copies.filter(col("first_match") === col("doc_id") - 1000L).count() === 60,
        "first_match must be the phase-1 original")
      val originals = v.filter(col("doc_id") < 1000L)
      assert(originals.filter(col("is_dup_at_arrival")).count() === 0,
        "originals are never retroactively flagged")
    } finally {
      graft.sources.ParquetSink.deleteRecursively(ckpt)
      graft.sources.ParquetSink.deleteRecursively(root)
    }
  }

  test("a non-retryable 4xx fails fast instead of retrying") {
    withServer(events.limit(10)) { (srv, url) =>
      val bad = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(events.schema)
        .option("url", url)
        .option("index", "nosuchindex") // stub 400s the unknown route
        .load()
      val e = intercept[Exception](bad.count())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("HTTP 400")), s"expected fast HTTP 400 failure, got: $e")
      assert(srv.rejected.get() === 0)
    }
  }

  test("schema inference samples a page and infers via the O6 pipeline") {
    withServer(events.select("event_id", "event_type", "value").limit(200)) { (_, url) =>
      val inferred = spark.read
        .format("graft.sources.es.EsScrollSource")
        .option("url", url)
        .option("index", "events")
        .option("inferSample", 50)
        .load()
      val names = inferred.schema.fieldNames.toSet
      assert(names === Set("event_id", "event_type", "value"))
      assert(inferred.schema.fields.forall(_.nullable), "inferred fields promote to nullable")
      assert(inferred.schema("event_id").dataType === LongType)
      assert(inferred.schema("event_type").dataType === StringType)
      assert(inferred.count() === 200)
    }
  }

  // ---- top-N and per-day aggregate pushdown --------------------------------

  /** Events 0..399 with null keys: event_id null where id % 100 == 7 (4
    * rows), a string key `rk` (the reversed id, so its order differs from
    * the numeric one) null where id % 100 == 13, and ts null where
    * id % 50 == 21. Few enough nulls that a top-10 never ends inside a tie. */
  private lazy val keyed: DataFrame = {
    import spark.implicits._
    events.where($"event_id" < 400)
      .withColumn("rk", when($"event_id" % 100 =!= 13, reverse($"event_id".cast("string"))))
      .withColumn("ts", when($"event_id" % 50 =!= 21, $"ts"))
      .withColumn("event_id", when($"event_id" % 100 =!= 7, $"event_id"))
      .cache()
  }

  private def keyedRead(url: String): DataFrame =
    spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(keyed.schema)
      .option("url", url)
      .option("index", "events")
      .option("slices", 4)
      .load()

  /** Rows as a sorted multiset (ties inside a top-N come back in any order). */
  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("orderBy(k).limit(n) is one sorted search shipping exactly n hits, nulls placed like Spark") {
    withServer(keyed) { (srv, url) =>
      Seq(col("event_id").asc, col("event_id").desc, col("event_id").asc_nulls_last,
          col("rk").asc, col("rk").desc_nulls_first).foreach { k =>
        val s0 = srv.searchCalls.get(); val h0 = srv.hitsServed.get()
        val got = keyedRead(url).orderBy(k).limit(10)
        assert(bag(got) === bag(keyed.orderBy(k).limit(10)), s"top-10 by $k")
        assert(srv.searchCalls.get() - s0 === 1, s"top-10 by $k must be one search")
        assert(srv.hitsServed.get() - h0 === 10, s"top-10 by $k must ship exactly 10 hits")
        assert(srv.scrollCalls.get() === 0 && srv.liveContexts === 0, "a top-N opens no scroll")
      }
      assert(srv.lastSearchBody.contains("\"missing\":\"_first\""), srv.lastSearchBody)
    }
  }

  test("a pushed top-N composes with pushed filters and skips malformed hits without losing rows") {
    import spark.implicits._
    withServer(keyed, malformedEvery = 4) { (srv, url) =>
      val got = keyedRead(url).where($"event_type" === "purchase").orderBy($"rk").limit(20)
        .select($"rk").as[String].collect().toSeq
      assert(srv.scrollCalls.get() === 0 && srv.liveContexts === 0, "a top-N never scrolls")
      assert(srv.searchCalls.get() > 1, "skipped hits are made up for past the first page")
      // the stub replaces every 4th hit with a scalar: the truth is the 20
      // best of the decodable hits, whatever their position in the ranking
      val all = keyedRead(url).where($"event_type" === "purchase").select($"rk").as[String]
        .collect().toSeq
      assert(got === all.sortBy(Option(_)).take(20))
    }
  }

  test("groupBy(to_date(ts)).count() is a date_histogram aggregation in the session time zone") {
    import spark.implicits._
    withServer(keyed) { (srv, url) =>
      def days(df: DataFrame) = df.groupBy(to_date($"ts").as("day")).count()
        .collect().map(r => Option(r.getDate(0)).map(_.toString) -> r.getLong(1)).toMap
      val prevTz = spark.conf.get("spark.sql.session.timeZone")
      try {
        val byZone = Seq("UTC", "America/Los_Angeles").map { tz =>
          spark.conf.set("spark.sql.session.timeZone", tz)
          val h0  = srv.hitsServed.get()
          val got = days(keyedRead(url))
          assert(srv.hitsServed.get() === h0, s"a pushed per-day count ships no hits ($tz)")
          assert(got === days(keyed), s"per-day counts in $tz")
          assert(got(None) === keyed.where($"ts".isNull).count(), "null ts is a null day")
          got
        }
        assert(byZone(0) !== byZone(1), "events straddling midnight must move with the zone")
        assert(srv.lastSearchBody.contains("\"time_zone\":\"America/Los_Angeles\""), srv.lastSearchBody)
      } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    }
  }

  test("the scan description shows the pushed top-N and the per-day GROUP BY") {
    import spark.implicits._
    withServer(keyed.limit(5)) { (_, url) =>
      val topN = keyedRead(url).orderBy($"event_id").limit(3).queryExecution.executedPlan.toString
      assert(topN.contains("PushedTopN: [event_id ASC NULLS FIRST] LIMIT 3"), topN)
      val perDay = keyedRead(url).groupBy(to_date($"ts")).count().queryExecution.executedPlan.toString
      assert(perDay.contains("GROUP BY CAST(ts AS DATE)"), perDay)
    }
  }

  test("top-N and per-day count fall back to the scroll with equal results when they can't push") {
    import spark.implicits._
    withServer(keyed) { (srv, url) =>
      def perDay(df: DataFrame) = bag(df.groupBy(to_date($"ts")).count())
      def scrolled[A](body: => A): A = {
        val h0 = srv.hitsServed.get(); val a = body
        assert(srv.hitsServed.get() - h0 > 10, "the fallback must scroll the documents")
        a
      }
      // ANSI off: Spark does not translate to_date(ts) for the source
      val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
      try {
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert(scrolled(perDay(keyedRead(url))) === perDay(keyed))
      } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
      // a filter the source cannot push is a post-scan filter: the server
      // would rank/count rows Spark then drops
      val purchases = keyed.where($"event_type".startsWith("pur"))
      assert(scrolled(bag(keyedRead(url).where($"event_type".startsWith("pur"))
        .orderBy($"event_id").limit(10))) === bag(purchases.orderBy($"event_id").limit(10)))
      assert(scrolled(perDay(keyedRead(url).where($"event_type".startsWith("pur"))))
        === perDay(purchases))
      // a cast of a non-time column is no date_histogram, and a float sort
      // key has no server order equal to Spark's
      def byInt(df: DataFrame) = bag(df.groupBy($"user_id".cast("int")).count())
      assert(scrolled(byInt(keyedRead(url))) === byInt(keyed))
      assert(scrolled(bag(keyedRead(url).orderBy($"value", $"event_id").limit(10)))
        === bag(keyed.orderBy($"value", $"event_id").limit(10)))
    }
  }

  test("a plain _search keeps no scroll context: schema inference and a top-N leave none live") {
    import spark.implicits._
    withServer(events.limit(50)) { (srv, url) =>
      val inferred = spark.read.format("graft.sources.es.EsScrollSource")
        .option("url", url).option("index", "events").load()
      assert(inferred.schema.fieldNames.contains("event_id"))
      esRead(url).orderBy($"event_id").limit(5).collect()
      assert(srv.scrollCalls.get() === 0)
      assert(srv.liveContexts === 0, "a search without ?scroll= must open no context")
    }
  }

  test("a slice that fits one page ends without the empty trailing scroll: 1 search + 1 clear") {
    withServer(events.limit(50)) { (srv, url) =>
      assert(esRead(url, slices = 1, pageSize = 1000).collect().length === 50)
      assert(srv.searchCalls.get() === 1)
      assert(srv.scrollCalls.get() === 0, "hits.total was reached: no empty page needed")
      assert(srv.clearedScrolls.get() === 1 && srv.liveContexts === 0)
    }
    // the PIT reader's short page is its last: 1 search and 1 PIT close
    withServer(events.limit(50)) { (srv, url) =>
      val viaPit = spark.read.format("graft.sources.es.EsScrollSource").schema(events.schema)
        .option("url", url).option("index", "events").option("slices", 1).option("pageSize", 1000)
        .option("pagination", "search_after").load()
      assert(viaPit.collect().length === 50)
      assert(srv.searchCalls.get() === 1)
      assert(srv.clearedPits.get() === 1 && srv.livePits === 0)
    }
  }

  test("every hits reader skips malformed hits, honours its pushed limit and releases its context") {
    import scala.jdk.CollectionConverters._
    // seeded in event_id order, so the stub's every-7th malformed hit is a
    // known row: index i is served as a scalar when (i + 1) % 7 == 0
    val rows   = events.where(col("event_id") < 120).orderBy("event_id").collect().toSeq
    val source = spark.createDataFrame(rows.asJava, events.schema)
    val good   = rows.zipWithIndex.collect { case (r, i) if (i + 1) % 7 != 0 => r }
    val limit  = 5
    withServer(source, malformedEvery = 7) { (srv, url) =>
      def read(opts: (String, String)*): DataFrame =
        spark.read.format("graft.sources.es.EsScrollSource").schema(events.schema)
          .option("url", url).option("index", "events").option("slices", 2).option("pageSize", 10)
          .options(opts.toMap).load()
      val topN = (n: Int) => read().orderBy(col("event_id")).limit(n)
      // (reader, the whole read, the read under a pushed limit, the exact
      // rows that limit must return when the reader ranks them)
      val cases = Seq(
        ("scroll", read(), read().limit(limit), None),
        ("search_after", read("pagination" -> "search_after"),
          read("pagination" -> "search_after").limit(limit), None),
        ("top-N", topN(good.size), topN(limit), Some(good.take(limit).map(_.toString))))
      cases.foreach { case (reader, whole, limited, exact) =>
        assert(bag(whole) === good.map(_.toString).sorted, s"$reader: the source rows minus the malformed")
        val h0  = srv.hitsServed.get()
        val got = limited.collect().map(_.toString).toSeq
        assert(got.size === limit && got.toSet.subsetOf(good.map(_.toString).toSet), s"$reader: $got")
        exact.foreach(e => assert(got.sorted === e.sorted, s"$reader: the $limit best decodable rows"))
        assert(srv.hitsServed.get() - h0 <= 2 * 2 * limit,
          s"$reader: a pushed limit stops each slice within two pages (${srv.hitsServed.get() - h0} served)")
        assert(srv.liveContexts === 0 && srv.livePits === 0, s"$reader: no scroll context or PIT left live")
      }
    }
  }

  test("a multi-page slice still reads every page, and no trailing empty one") {
    val fifty = events.where(col("event_id") < 50)
    withServer(fifty) { (srv, url) =>
      assert(bag(esRead(url, slices = 1, pageSize = 7)) === bag(fifty))
      // ceil(50 / 7) = 8 pages: the first rides the search, 7 scroll calls
      assert(srv.scrollCalls.get() === 7)
      assert(srv.liveContexts === 0)
    }
  }

  /** A stub holding one index per day of the first 600 fixture events,
    * handed over with those days in order. */
  private def withDays[A](f: (EsStubServer, Seq[java.time.LocalDate]) => A): A = {
    import spark.implicits._
    val sample = events.limit(600)
    val srv = EsStubServer.fromDayPartitionedDataFrame(sample, "events")
    srv.start()
    try f(srv, sample.select(to_date($"ts")).distinct().as[java.sql.Date]
      .collect().map(_.toLocalDate).toSeq.sorted)
    finally srv.stop()
  }

  private def dayIndex(d: java.time.LocalDate): String =
    f"events-${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d"

  private def patternRead(url: String, schema: StructType, slices: Int, opts: (String, String)*): DataFrame =
    spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(schema)
      .option("url", url)
      .option("index", "events-*")
      .option("slices", slices)
      .option("pageSize", 1000)
      .options(opts.toMap)
      .load()

  test("a pattern read is `slices` partitions of one multi-index scroll, not indices × slices") {
    import spark.implicits._
    withDays { (srv, days) =>
      val cutDay = days(days.length / 2)
      val cut    = java.sql.Timestamp.from(cutDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      val (pruned, kept) = days.partition(_.isBefore(cutDay))
      assert(kept.size >= 3 && pruned.nonEmpty, "the window must keep several days and prune some")
      def read(slices: Int, opts: (String, String)*) =
        patternRead(srv.url, events.schema, slices, opts: _*).where($"ts" >= lit(cut))
      def perIndex(ds: Seq[java.time.LocalDate]) = ds.map(d => srv.searchCount(dayIndex(d)))

      val (s0, c0) = (srv.scrollSearchCalls.get(), srv.clearedScrolls.get())
      val (k0, p0) = (perIndex(kept), perIndex(pruned))
      val sliced = bag(read(2))
      assert(srv.scrollSearchCalls.get() - s0 === 2, "one scroll search per slice")
      assert(srv.clearedScrolls.get() - c0 === 2, "one clear per slice")
      assert(perIndex(kept).zip(k0).map { case (a, b) => a - b } === kept.map(_ => 2L),
        "every surviving index is in both search paths")
      assert(perIndex(pruned) === p0, "no pruned index gets a request")
      assert(sliced === bag(read(1)), "two slices return the rows of one")
      assert(sliced === bag(events.limit(600).where($"ts" >= lit(cut))))

      val pits0 = srv.clearedPits.get()
      assert(bag(read(2, "pagination" -> "search_after")) === sliced)
      assert(srv.clearedPits.get() - pits0 === 2 && srv.livePits === 0, "exactly 2 PITs, both closed")

      val h0 = srv.hitsServed.get()
      assert(read(2).limit(5).collect().length === 5)
      assert(srv.hitsServed.get() - h0 <= 2 * 5, "a pushed limit ships at most slices × limit hits")
    }
  }

  test("one collect() resolves an index pattern once: a single _cat/indices per scan") {
    import spark.implicits._
    withDays { (srv, _) =>
      def cats[A](body: => A): Long = { val c0 = srv.catCalls.get(); body; srv.catCalls.get() - c0 }
      def read = patternRead(srv.url, events.schema, 2)
      assert(cats(read.collect()) === 1, "scroll")
      assert(cats(read.orderBy($"event_id").limit(5).collect()) === 1, "top-N")
      assert(cats(read.groupBy(to_date($"ts")).count().collect()) === 1, "per-day count")
    }
  }

  /** The events with event i on day i mod 300 after 2023-01-01: 300 daily
    * indices, whose names joined (5.4 KB) overflow one request line. */
  private def overThreeHundredDays(): DataFrame =
    events.withColumn("ts", timestamp_seconds(
      lit(1672531200L) + pmod(col("event_id"), lit(300)) * 86400 + pmod(col("event_id"), lit(3600)))).cache()

  test("~300 day indices pack into request lines of at most 4 KB; reads equal the source rows") {
    import spark.implicits._
    val spread = overThreeHundredDays()
    val srv = EsStubServer.fromDayPartitionedDataFrame(spread, "events")
    srv.start()
    try {
      val indices = EsScrollSource.discoverDailyIndices(srv.url, "events-*").map(_._1)
      assert(indices.size === 300)
      def read = patternRead(srv.url, spread.schema, 2)

      assert(bag(read) === bag(spread), "scroll")
      assert(srv.scrollSearchCalls.get() === 2 * 2, "two targets × two slices")
      assert(indices.forall(srv.searchCount(_) === 2), "each index is in exactly one target")

      val h0 = srv.hitsServed.get()
      def top7(df: DataFrame) = bag(df.orderBy($"event_id".desc).limit(7))
      assert(top7(read) === top7(spread), "top-N")
      assert(srv.hitsServed.get() - h0 === 2 * 7, "one sorted search of 7 hits per target")
      def perDay(df: DataFrame) = bag(df.groupBy(to_date($"ts")).count())
      val h1 = srv.hitsServed.get()
      assert(perDay(read) === perDay(spread), "per-day count")
      assert(read.count() === spread.count(), "grand total")
      assert(srv.hitsServed.get() === h1, "the counts are pushed aggregations")
      assert(srv.longestRequestLine.get() <= 4096,
        s"longest request line ${srv.longestRequestLine.get()} bytes")
    } finally {
      srv.stop()
      spread.unpersist()
    }
  }

  /** A plan's final-aggregate and shuffle nodes. */
  private def mergeNodes(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    Seq("Exchange", "HashAggregate").filter(plan.contains)
  }

  test("a one-target count is pushed whole: no Exchange and no HashAggregate in the plan") {
    import spark.implicits._
    withDays { (srv, _) =>
      val sample = events.limit(600)
      def read = patternRead(srv.url, events.schema, 2)
      def menu(df: DataFrame) = df.groupBy($"event_type").agg(count(lit(1)).as("doc_count"))
        .orderBy($"doc_count".desc, $"event_type").limit(10)
      def perDay(df: DataFrame) = df.groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_win"))
      val h0 = srv.hitsServed.get()
      Seq[(String, DataFrame => DataFrame)](
        "menu" -> menu, "per-day count" -> perDay, "grand total" -> (_.groupBy().count())
      ).foreach { case (name, q) =>
        assert(mergeNodes(q(read)).isEmpty, name)
        assert(bag(q(read)) === bag(q(sample)), name)
      }
      assert(srv.hitsServed.get() === h0, "the counts ship no hits")
    }
  }

  test("a two-target count keeps Spark's final merge and equals the source counts") {
    import spark.implicits._
    val spread = overThreeHundredDays()
    val srv = EsStubServer.fromDayPartitionedDataFrame(spread, "events")
    srv.start()
    try {
      def read = patternRead(srv.url, spread.schema, 2)
      Seq[(String, DataFrame => DataFrame)](
        "by type" -> (_.groupBy($"event_type").count()),
        "per-day count" -> (_.groupBy(to_date($"ts")).count()),
        "grand total" -> (_.groupBy().count())
      ).foreach { case (name, q) =>
        assert(mergeNodes(q(read)).contains("HashAggregate"), name)
        assert(bag(q(read)) === bag(q(spread)), name)
      }
    } finally {
      srv.stop()
      spread.unpersist()
    }
  }

  test("a streaming tail over ~300 day indices keeps request lines within 4 KB and drains every row") {
    val spread = overThreeHundredDays()
    val srv    = EsStubServer.fromDayPartitionedDataFrame(spread, "events")
    srv.start()
    val ckpt = java.nio.file.Files.createTempDirectory("es_tail_wide").toString
    val name = s"es_tail_wide_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val q = spark.readStream
        .format("graft.sources.es.EsScrollSource")
        .schema(spread.schema)
        .option("url", srv.url)
        .option("index", "events-*")
        .option("slices", 2)
        .option("cursorField", "event_id")
        .option("maxIdsPerBatch", 400)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      assert(bag(spark.table(name)) === bag(spread))
      assert(srv.longestRequestLine.get() <= 4096,
        s"longest request line ${srv.longestRequestLine.get()} bytes")
    } finally {
      srv.stop()
      spark.catalog.dropTempView(name)
      spread.unpersist()
    }
  }
}
