package graft

import org.apache.spark.sql.functions._

/** CLI entry point — the reference's Bootstrap.main UX (SURVEY.md O15):
  * discover the top event types in the recent window, pick one, run the
  * full export pipeline, report counts.
  *
  * Usage:
  *   runMain graft.Cli --sf-dir /root/testdata/sf0.001 --out /tmp/graft_cli \
  *     [--event-type purchase] [--window-days 7] [--top 10] [--interactive true]
  *
  * WIRE mode — the reference's program against a live cluster
  * (Bootstrap.java:237-334: connect → `_cat/indices` discovery → terms
  * aggregation menu → scroll export → schema persistence), driven through
  * the real HTTP connector:
  *   runMain graft.Cli --es https://host:9200 --index 'events-*' \
  *     --out /tmp/graft_cli [--event-type purchase] [--window-days 7] \
  *     [--user elastic --password … | --api-key …] [--insecure-tls true]
  * Discovery runs as a pushed composite aggregation (zero documents over
  * the wire), the window derives from the daily index names (the
  * reference's window discovery), and the export is the sliced-scroll
  * pipeline with whole-day index pruning at partition planning.
  *
  * Two selection modes, both reference-faithful:
  *   - flag-driven (default): `--event-type`, else the biggest bucket
  *     (the reference's default-to-first on empty input, Bootstrap.java:285)
  *   - `--interactive true`: real prompts — window days (empty → 7,
  *     Bootstrap.java:95-106) and the numbered bucket menu in the
  *     reference's exact layout (`* [0]: name  || doc count:N`,
  *     Bootstrap.java:154-180), empty → first, out-of-range → abort.
  * The prompt functions take an injected line reader so tests can script a
  * session (CliSpec).
  */
object Cli {

  /** One-line integer prompt, empty input → default (Bootstrap.java:95-106). */
  private[graft] def promptInt(readLine: () => String, msg: String, default: Int): Int = {
    println(s"[cli] $msg")
    val line = Option(readLine()).getOrElse("")
    if (line.trim.isEmpty) { println(s"[cli] No input found. Using default: $default"); default }
    else line.trim.toInt
  }

  /** The reference's selection menu (Bootstrap.java:154-180): print
    * `* [0]: name  || doc count:N` rows, read one line; empty → first item,
    * a number → that index, out-of-range → None (the reference returns
    * null). */
  private[graft] def select(items: Seq[(String, Long)], readLine: () => String): Option[String] = {
    items.zipWithIndex.foreach { case ((name, n), i) =>
      val star = if (i == 0) "*" else " "
      println(s"$star [$i]: $name  || doc count:$n")
    }
    val line = Option(readLine()).getOrElse("")
    if (line.trim.isEmpty) items.headOption.map(_._1)
    else {
      val choice = line.trim.toInt
      items.lift(choice).map(_._1)
    }
  }

  /** Infer the index's schema over the wire (the O6 sampled-inference
    * path), forcing `ts` to TimestampType: ES serves dates as ISO strings,
    * and the window filter must push as a timestamp range for whole-day
    * index pruning to engage. */
  private[graft] def esSchema(spark: org.apache.spark.sql.SparkSession, url: String,
      index: String, auth: Map[String, String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val inferred = spark.read
      .format("graft.sources.es.EsScrollSource")
      .options(auth)
      .option("url", url).option("index", index)
      .load()
      .schema
    StructType(inferred.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  /** The reference's terms aggregation menu (O3, Bootstrap.java:196-219):
    * the `topK` event types of `events` with their document counts, most
    * frequent first. */
  private def menu(events: org.apache.spark.sql.DataFrame, topK: Int): Seq[(String, Long)] =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("doc_count"))
      .orderBy(col("doc_count").desc, col("event_type"))
      .limit(topK)
      .collect()
      .toSeq
      .map(r => r.getString(0) -> r.getLong(1))

  /** Discovery over the wire: the [[menu]] over the ES source, whose
    * `groupBy(event_type).count()` pushes down as a paged composite
    * aggregation, so ZERO raw documents cross the HTTP boundary for the
    * menu (spec-asserted via the stub's counters). */
  private[graft] def esDiscoverMenu(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      index: String,
      schema: org.apache.spark.sql.types.StructType,
      topK: Int,
      auth: Map[String, String] = Map.empty
  ): Seq[(String, Long)] =
    menu(spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(schema)
      .options(auth)
      .option("url", url).option("index", index)
      .load(), topK)

  /** The reference's whole program over HTTP (Bootstrap.java:237-334):
    * `_cat/indices` discovery → window from the daily index names →
    * composite-agg menu → selection → sliced-scroll export with whole-day
    * pruning → day-partitioned parquet + schema.json/.asvc → audit.
    * Returns the per-day audit frame (printed by main, asserted by
    * CliEsSpec). */
  private[graft] def runEs(
      spark: org.apache.spark.sql.SparkSession,
      url: String,
      indexPattern: String,
      out: String,
      windowDays: Int,
      topK: Int,
      interactive: Boolean,
      eventTypeOpt: Option[String],
      readLine: () => String,
      auth: Map[String, String] = Map.empty
  ): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // Window discovery from the daily index names — the reference never
    // asks the data for its time range, it reads it off `_cat/indices`.
    // Auth travels into discovery too: a secured cluster 401s the
    // `_cat/indices` call before anything else (r13 ADVICE).
    val daily = graft.sources.es.EsScrollSource.discoverDailyIndices(
      url, indexPattern,
      user = auth.getOrElse("user", ""),
      password = auth.getOrElse("password", ""),
      apiKey = auth.getOrElse("apiKey", ""),
      insecureTls = auth.get("insecureTls").exists(_.toBoolean))
    require(daily.nonEmpty, s"--es: index pattern '$indexPattern' matched no indices at $url")
    val lo: Option[java.sql.Timestamp] = daily.flatMap(_._2).maxOption.map { latest =>
      java.sql.Timestamp.from(
        latest.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
          .minus(java.time.Duration.ofDays(windowDays)))
    }
    println(s"[cli] discovered ${daily.size} indices for '$indexPattern'" +
      lo.fold("")(l => s", window >= $l"))

    val schema  = esSchema(spark, url, indexPattern, auth)
    val buckets = esDiscoverMenu(spark, url, indexPattern, schema, topK, auth)
    println(s"[cli] event types at $url (top $topK, server-side aggregation):")
    buckets.zipWithIndex.foreach { case ((t, n), i) =>
      println(s"[cli]   ${i + 1}. $t  ($n docs)")
    }
    val chosen =
      if (interactive) select(buckets, readLine).getOrElse(sys.error("invalid selection"))
      else eventTypeOpt.getOrElse(buckets.head._1)
    println(s"[cli] exporting event_type='$chosen', last $windowDays days -> $out")

    val events = spark.read
      .format("graft.sources.es.EsScrollSource")
      .schema(schema)
      .options(auth)
      .option("url", url).option("index", indexPattern)
      .option("slices", 4).option("pageSize", 5000)
      .load()
    Pipeline.exportEvents(events, out, chosen, lo)
  }

  /** The export's closing report in both modes: each day's exported rows,
    * then the totals of exported and dead-lettered rows. */
  private def printAudit(audit: org.apache.spark.sql.DataFrame, out: String): Unit = {
    val days = audit.collect()
    days.foreach(r => println(s"[cli]   ${r.getAs[java.sql.Date]("day")}: ${r.getAs[Long]("n_rows")} rows"))
    val total = days.map(_.getAs[Long]("n_rows")).sum
    val dead  = days.map(_.getAs[Long]("n_dead")).sum
    println(s"[cli] done: $total rows exported, $dead dead-lettered, schema at $out/schema.json")
  }

  def main(args: Array[String]): Unit = {
    val opts = args
      .sliding(2, 2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val sfDir       = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
    val out         = opts.getOrElse("out", "/tmp/graft_cli_export")
    val interactive = opts.get("interactive").exists(_.toBoolean)
    val stdinLine   = () => scala.io.StdIn.readLine()
    val windowDays =
      if (interactive) promptInt(stdinLine, "Days of events to export (empty = 7):", 7)
      else opts.getOrElse("window-days", "7").toInt
    val topK = opts.getOrElse("top", "10").toInt

    opts.get("es").foreach { url =>
      // auth flags for secured clusters: --user/--password, --api-key (wins),
      // --insecure-tls true for self-signed https dev endpoints — threaded
      // into discovery AND every reader (r13 ADVICE)
      // Validate the boolean flag at parse time (r14 ADVICE): `.toBoolean`
      // deep inside runEs turns `--insecure-tls 1` into a bare
      // IllegalArgumentException; fail here with the usage line instead.
      opts.get("insecure-tls").filterNot(v => v == "true" || v == "false").foreach { v =>
        System.err.println(s"[cli] --insecure-tls expects true or false, got '$v'")
        System.err.println("[cli] usage: --es <url> [--user U --password P | --api-key K] [--insecure-tls true|false]")
        sys.exit(2)
      }
      val auth = Seq(
        "user"        -> opts.get("user"),
        "password"    -> opts.get("password"),
        "apiKey"      -> opts.get("api-key"),
        "insecureTls" -> opts.get("insecure-tls")
      ).collect { case (k, Some(v)) => k -> v }.toMap
      val spark = Session.build(appName = "graft-cli-es")
      try {
        printAudit(runEs(spark, url, opts.getOrElse("index", "events-*"), out,
          windowDays, topK, interactive, opts.get("event-type"), stdinLine, auth), out)
      } finally spark.stop()
      return
    }

    val spark = Session.build(appName = "graft-cli")
    try {
      val buckets = menu(Tables.events(spark, sfDir), topK)
      println(s"[cli] event types in $sfDir (top $topK):")
      buckets.zipWithIndex.foreach { case ((t, n), i) =>
        println(s"[cli]   ${i + 1}. $t  ($n docs)")
      }
      // Selection: interactive menu, else argument, else the top bucket
      // (reference default-to-first).
      val chosen =
        if (interactive) select(buckets, stdinLine).getOrElse(sys.error("invalid selection"))
        else opts.getOrElse("event-type", buckets.head._1)
      println(s"[cli] exporting event_type='$chosen', last $windowDays days -> $out")

      printAudit(Pipeline.exportByType(spark, sfDir, out, chosen, windowDays), out)
    } finally spark.stop()
  }
}
