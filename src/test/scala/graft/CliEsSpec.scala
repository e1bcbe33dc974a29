package graft

import graft.sources.es.{EsScrollSource, EsStubServer}
import org.apache.spark.sql.functions._

/** The CLI's `--es` wire mode — the reference's WHOLE program
  * (Bootstrap.main: connect → `_cat/indices` discovery → terms-aggregation
  * menu → window from the daily index names → scroll export → schema
  * persistence → audit) composed over real HTTP against the stub cluster. */
class CliEsSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, sf).cache()

  private def withDayServer[A](f: (EsStubServer, String) => A): A = {
    val srv = EsStubServer.fromDayPartitionedDataFrame(events, "events")
    srv.start()
    try f(srv, srv.url)
    finally srv.stop()
  }

  test("discoverDailyIndices resolves the pattern and parses every day suffix") {
    withDayServer { (_, url) =>
      val daily = EsScrollSource.discoverDailyIndices(url, "events-*")
      val expected = events.select(to_date(col("ts"))).distinct().count()
      assert(daily.size === expected, "one index per fixture day")
      assert(daily.forall(_._2.isDefined), "every daily index must parse its day suffix")
      assert(daily.map(_._1) === daily.map(_._1).sorted, "deterministic discovery order")
    }
  }

  test("the discovery menu is a pushed composite aggregation: zero documents cross the wire") {
    withDayServer { (srv, url) =>
      val schema = events.schema
      val before = srv.hitsServed.get()
      val menu   = Cli.esDiscoverMenu(spark, url, "events-*", schema, 10)
      assert(srv.hitsServed.get() === before, "the menu must ship bucket rows, never documents")
      assert(srv.aggCalls.get() >= 1, "the menu must ride the aggregation endpoint")
      val expected = events.groupBy(col("event_type")).count()
        .orderBy(col("count").desc, col("event_type"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(menu === expected, "menu buckets must equal the parquet truth, ordered by count")
    }
  }

  test("--es mode runs end-to-end against a SECURED cluster: auth reaches discovery and every reader") {
    // r13 ADVICE: discovery hardcoded an unauthenticated EsConn and the CLI
    // exposed no auth flags — a secured cluster 401'd at `_cat/indices`
    // with no workaround. Basic creds must now thread through discovery,
    // schema inference, the composite-agg menu, and the sliced export.
    val creds = "Basic " + java.util.Base64.getEncoder
      .encodeToString("elastic:s3cr3t".getBytes("UTF-8"))
    val srv = EsStubServer.fromDayPartitionedDataFrame(events, "events", requireAuth = creds)
    srv.start()
    try {
      val auth = Map("user" -> "elastic", "password" -> "s3cr3t")
      // unauthenticated discovery must fail fast (the r13 symptom)…
      val e = intercept[Exception] { EsScrollSource.discoverDailyIndices(srv.url, "events-*") }
      assert(e.getMessage.contains("401"), s"open discovery against a secured cluster must 401: ${e.getMessage}")
      // …and the authenticated whole-program run must succeed
      val out = graft.sources.ParquetSink.scratchDir(spark, "cli_es_auth_export")
      val audit = Cli.runEs(spark, srv.url, "events-*", out, windowDays = 5, topK = 10,
        interactive = false, eventTypeOpt = None, readLine = () => "", auth = auth).collect()
      assert(audit.map(_.getAs[Long]("n_rows")).sum > 0, "the authenticated export must land rows")
    } finally srv.stop()
  }

  test("scripted --es session: reference menu layout, windowed export, audit equals the parquet truth") {
    withDayServer { (srv, url) =>
      val out = graft.sources.ParquetSink.scratchDir(spark, "cli_es_export")
      val windowDays = 5
      val outStream  = new java.io.ByteArrayOutputStream()
      // scripted selection: pick menu item [1] (the second-biggest bucket) —
      // exercises the reference's numbered-selection path, not default-to-first
      val audit = Console.withOut(new java.io.PrintStream(outStream)) {
        Cli.runEs(spark, url, "events-*", out, windowDays, topK = 10,
          interactive = true, eventTypeOpt = None, readLine = { val it = Iterator("1"); () => it.next() })
      }.collect()
      val text = outStream.toString
      // the reference's exact menu layout (Bootstrap.java:154-180)
      assert(text.contains("* [0]: "), s"menu must print the starred first row:\n$text")
      assert(text.contains("|| doc count:"), s"menu must print the reference layout:\n$text")

      // reproduce the CLI's window arithmetic from the index names and the
      // chosen bucket, straight from the parquet source of truth
      val chosen = events.groupBy(col("event_type")).count()
        .orderBy(col("count").desc, col("event_type"))
        .collect().map(_.getString(0)).apply(1)
      val latestDay = events.select(max(to_date(col("ts")))).head().getDate(0).toLocalDate
      val lo = java.sql.Timestamp.from(
        latestDay.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
          .minus(java.time.Duration.ofDays(windowDays)))
      val expected = events
        .filter(col("ts") >= lit(lo) && col("event_type") === chosen)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_rows"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      val got = audit.map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Long]("n_rows")).toMap
      assert(got === expected, "the wire export's per-day audit must equal the parquet truth")
      assert(audit.map(_.getAs[Long]("n_dead")).sum === 0L, "fixture props are all decodable")
      assert(got.keys.forall(_ >= lo.toInstant.toString.take(10)),
        "every exported day must sit inside the discovered window")

      // O9 persistence lands beside the export, exactly as in parquet mode
      assert(new java.io.File(s"$out/schema.json").exists(), "schema.json must be persisted")
      assert(new java.io.File(s"$out/schema.asvc").exists(), "schema.asvc must be persisted")
    }
  }

  test("one whole --es call ships the export window once: sample top-N, write scroll, per-day agg") {
    withDayServer { (srv, url) =>
      val windowDays = 20 // the chosen type's window holds more than the 100-row sample
      val slices     = 4  // Cli.runEs's export read
      val daily  = EsScrollSource.discoverDailyIndices(url, "events-*")
      val loDay  = daily.flatMap(_._2).max.plusDays(1).minusDays(windowDays)
      val pruned = daily.filter(_._2.get.isBefore(loDay))
      def perPruned() = pruned.map { case (n, _) => srv.searchCount(n) }
      def requests()  = srv.searchCalls.get() + srv.scrollCalls.get()
      def deltas(body: => Unit): (Seq[Long], Long, Long) = {
        val p0 = perPruned(); val r0 = requests(); val h0 = srv.hitsServed.get()
        body
        (perPruned().zip(p0).map { case (a, b) => a - b }, requests() - r0, srv.hitsServed.get() - h0)
      }
      // the steps before the export (schema read, menu) touch every index
      val (preludePruned, _, _) = deltas {
        Cli.esDiscoverMenu(spark, url, "events-*", Cli.esSchema(spark, url, "events-*", Map.empty), 10)
      }
      val out = graft.sources.ParquetSink.scratchDir(spark, "cli_es_traffic")
      val scrolls0 = srv.scrollSearchCalls.get()
      val (callPruned, reqs, hits) = deltas {
        Cli.runEs(spark, url, "events-*", out, windowDays, topK = 10,
          interactive = false, eventTypeOpt = None, readLine = () => "").collect()
      }
      val chosen = events.groupBy(col("event_type")).count()
        .orderBy(col("count").desc, col("event_type")).head().getString(0)
      val lo = java.sql.Timestamp.from(loDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      val window = events.where(col("ts") >= lit(lo) && col("event_type") === chosen).count()
      assert(window > 100)
      assert(hits === 100 + 100 + window,
        "hits = schema sample + the top-100 sample + the exported window, each once")
      assert(callPruned === preludePruned, "the export sends no request to a pruned index")
      assert(srv.liveContexts + srv.livePits === 0, "no search context outlives the call")
      assert(srv.scrollSearchCalls.get() - scrolls0 === slices,
        "the write is one sliced scroll over the surviving indices, not one per index")
      assert(reqs <= 2 + 1 + slices * 2 + 1,
        s"$reqs requests: schema + menu, the top-N, one scroll per slice, the per-day agg")
    }
  }

  /** The export's ES read as Cli.runEs builds it, the most frequent event
    * type, and the window bound of a `windowDays` window. */
  private def exportInputs(url: String, windowDays: Int) = {
    val schema = Cli.esSchema(spark, url, "events-*", Map.empty)
    val es = spark.read.format("graft.sources.es.EsScrollSource").schema(schema)
      .option("url", url).option("index", "events-*")
      .option("slices", 4).option("pageSize", 5000).load()
    val chosen = events.groupBy(col("event_type")).count()
      .orderBy(col("count").desc, col("event_type")).head().getString(0)
    val latest = EsScrollSource.discoverDailyIndices(url, "events-*").flatMap(_._2).max
    val lo = java.sql.Timestamp.from(latest.plusDays(1).minusDays(windowDays)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
    (es, chosen, lo)
  }

  test("neither the schema read nor an export runs a JSON inference job") {
    withDayServer { (_, url) =>
      val (_, readJobs) = jobsOf(Cli.esSchema(spark, url, "events-*", Map.empty))
      assert(readJobs.isEmpty, s"the schema read ran ${readJobs.size} jobs")
      val (es, chosen, lo) = exportInputs(url, 5)
      val out = graft.sources.ParquetSink.scratchDir(spark, "cli_es_no_infer_job")
      val (_, exportJobs) = jobsOf(Pipeline.exportEvents(es, out, chosen, Some(lo)).collect())
      val sites = exportJobs.flatMap(_.stageInfos.map(_.name))
      assert(sites.nonEmpty && !sites.exists(_.contains("SchemaInfer")), sites.mkString(", "))
    }
  }

  test("the concurrent window count runs under the caller's job group and description") {
    withDayServer { (_, url) =>
      val (es, chosen, lo) = exportInputs(url, 5)
      val out = graft.sources.ParquetSink.scratchDir(spark, "cli_es_job_group")
      val sc  = spark.sparkContext
      sc.setJobGroup("graft-export-group", "graft export description")
      val (audit, jobs) =
        try jobsOf(Pipeline.exportEvents(es, out, chosen, Some(lo)).collect())
        finally sc.clearJobGroup()
      assert(jobs.size >= 3, "the sample, the window count and the write")
      jobs.foreach { j =>
        assert(j.properties.getProperty("spark.jobGroup.id") === "graft-export-group", s"job ${j.jobId}")
        assert(j.properties.getProperty("spark.job.description") === "graft export description", s"job ${j.jobId}")
      }
      val truth = events.filter(col("ts") >= lit(lo) && col("event_type") === chosen)
        .groupBy(to_date(col("ts")).cast("string")).count()
        .collect().map(r => r.getString(0) -> (r.getLong(1), 0L)).toMap
      assert(audit.map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap === truth)
    }
  }
}
