package graft.perf

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.sources.es.{EsScrollSource, EsStubServer}
import graft.{Cli, Pipeline, Session, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampType}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: set up a session, seed the workload's
  * inputs, make the first call, a fixed number of warm-up calls, then timed
  * calls for the requested seconds, each checked against the generator's
  * truth. With `--trace 1` one more call follows, untimed, under the
  * [[Tracer]]. Everything measured goes to the `--report` JSON file; the
  * Python entry point (run.py) turns it into metrics.
  *
  * Usage: Harness --workload es_export|parquet_export|query_mix
  *   --data DIR --work DIR --report FILE --seconds S --warmup N --min-calls N
  *   --trace 0|1
  * or, to time one more cold set-up and nothing else:
  *   Harness --workload W --work DIR --report FILE --setup-only 1
  */
object Harness {

  /** Counts every operation and every check, for `attempted` / `failed`. */
  final class Tally {
    var attempted = 0L
    var failed    = 0L
    val failures  = mutable.ArrayBuffer.empty[String]
    def check(name: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += name }
    }
  }

  private def elapsed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a  = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Bytes of the Parquet part files under `dir`. */
  def parquetBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size(_)).sum
      finally s.close()
    }

  private def heapUsedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A workload: its call, the checks on one call's result, and a traced
    * variant of the call that opens a span around each public function. */
  trait Workload {
    def call(): Any
    def firstCall(): Any = call()
    def checkCall(result: Any, t: Tally): Unit
    def tracedCall(tr: Tracer): Any = call()
    /** Checks on the traced call, after the tracer has finished. */
    def checkTraced(tr: Tracer, t: Tally): Unit = ()
    def afterTimed(t: Tally): Unit = ()
    /** Parquet bytes the last call stored and the JSON bytes they came from. */
    def storedBytes: (Long, Long)
    def layerMetrics(tr: Tracer, traced: Any): Map[String, Double]
    def close(): Unit = ()
  }

  private def auditMatches(rows: Array[Row], days: JsonNode, t: Tally, tag: String): Unit = {
    val got = rows.map(r => r.getAs[java.sql.Date]("day").toString -> (r.getAs[Long]("n_rows"), r.getAs[Long]("n_dead"))).toMap
    val want = days.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("n_rows").asLong(), e.getValue.get("n_dead").asLong())
    }.toMap
    t.check(s"$tag audit days", got.keySet == want.keySet)
    t.check(s"$tag audit rows per day", got.map { case (d, v) => d -> v._1 } == want.map { case (d, v) => d -> v._1 })
    t.check(s"$tag dead letters per day", got.map { case (d, v) => d -> v._2 } == want.map { case (d, v) => d -> v._2 })
  }

  /** Per-layer metrics of an export call, from the job spans and the write's
    * SQL metrics under the span named `exportSpan`. */
  private def exportLayers(tr: Tracer, exportSpan: String, audit: Array[Row], outDir: Path,
      slots: Int, isSource: String => Boolean): Map[String, Double] = {
    val span  = tr.span(exportSpan)
    val jobs  = tr.jobsUnder(span.id)
    val phases = tr.exportPhases(span.id)
    def phase(p: String) = phases.getOrElse(p, Nil).map(_.seconds).sum
    val tasks = jobs.flatMap(_.tasks)
    val write = tr.executionsUnder(span.id).flatMap(_.writeMetrics).headOption.getOrElse(Map.empty)
    val rows  = audit.map(_.getAs[Long]("n_rows")).sum
    val dead  = audit.map(_.getAs[Long]("n_dead")).sum
    val schemaFields = {
      val js = new ObjectMapper().readTree(outDir.resolve("schema.json").toFile)
      js.get("fields").size().toDouble
    }
    Map(
      "pipeline.sample_s" -> phase("sample"),
      "pipeline.write_s" -> phase("write"),
      "pipeline.audit_s" -> phase("audit"),
      "pipeline.source_passes" -> tr.executionsUnder(span.id).map(_.scans.count(isSource)).sum.toDouble,
      "pipeline.jobs" -> jobs.size.toDouble,
      "pipeline.tasks" -> tasks.size.toDouble,
      "pipeline.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "pipeline.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "pipeline.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "pipeline.slot_busy_share" -> Tracer.busyShare(tasks, span.seconds, slots),
      "decode.dead_letters" -> dead.toDouble,
      "decode.dead_share" -> (if (rows + dead == 0) 0.0 else dead.toDouble / (rows + dead)),
      "schema.fields" -> schemaFields,
      "sink.bytes" -> write.getOrElse("numOutputBytes", 0L).toDouble,
      "sink.files" -> write.getOrElse("numFiles", 0L).toDouble,
      "sink.rows" -> write.getOrElse("numOutputRows", 0L).toDouble
    )
  }

  final class EsExport(spark: SparkSession, data: String, truth: JsonNode, work: Path, slots: Int) extends Workload {
    private val out    = work.resolve("out")
    private val window = truth.get("window_days").asInt()
    private val topK   = truth.get("top_k").asInt()
    private val pruned = truth.get("es_pruned_indices").elements().asScala.map(_.asText()).toSeq
    /** The stub cluster, one index per day, seeded from the generator's JSON
      * lines: [event_id, ts in epoch micros, user_id, event_type, value, props]. */
    val srv: EsStubServer = {
      val mapper = new ObjectMapper()
      val files  = Files.list(Paths.get(data, "es")).iterator().asScala.toSeq.sortBy(_.toString)
      val indices = files.map { f =>
        f.getFileName.toString.stripSuffix(".jsonl") -> Files.readAllLines(f).asScala.toIndexedSeq.map { line =>
          val a  = mapper.readTree(line)
          val ts = new java.sql.Timestamp(a.get(1).asLong() / 1000)
          Array[Any](a.get(0).asLong(), ts, a.get(2).asLong(), a.get(3).asText(), a.get(4).asDouble(),
            if (a.get(5).isNull) null else a.get(5).asText())
        }
      }
      new EsStubServer(indices.head._1, Array("event_id", "ts", "user_id", "event_type", "value", "props"),
        indices.head._2, extraIndices = indices.tail.toMap)
    }
    srv.start()
    /** Per-call requests that reached each pruned index; the steps before
      * the export (schema read and menu, both over every index) must account
      * for all of them. */
    private val prunedPerCall = mutable.ArrayBuffer.empty[Seq[Long]]
    /** Per-call growth of the stub's live contexts. The stub opens a context
      * for every search, also for a plain `_search` without `?scroll=`, for
      * which a real cluster keeps none; the schema read makes one such
      * search per call. */
    private val livePerCall = mutable.ArrayBuffer.empty[Int]
    /** Stub counter growth of the last call, which is a timed Cli.runEs
      * call. The traced call repeats runEs's steps (see [[prelude]]) and
      * must make exactly the same traffic. */
    private var lastCallCounters = Map.empty[String, Double]
    private val CallCounters = Seq("requests", "hits", "pruned_requests", "live_contexts")

    private def prunedCounts = pruned.map(srv.searchCount)
    private def live = srv.liveContexts + srv.livePits

    def call(): Any = {
      val before = prunedCounts
      val live0  = live
      val c0     = counters()
      val rows = Cli.runEs(spark, srv.url, "events-*", out.toString, window, topK,
        interactive = false, eventTypeOpt = None, readLine = () => "").collect()
      val c1 = counters()
      lastCallCounters = CallCounters.map(k => k -> (c1(k) - c0(k))).toMap
      prunedPerCall += prunedCounts.zip(before).map { case (a, b) => a - b }
      livePerCall += live - live0
      rows
    }

    def checkCall(result: Any, t: Tally): Unit =
      auditMatches(result.asInstanceOf[Array[Row]], truth.get("es_audit").get("days"), t, "es")

    /** Cli.runEs's steps before the export -- index discovery, the window,
      * the schema read and the menu -- composed here so each can get a span
      * (esSchema is private to Cli; its five lines are repeated). */
    private def prelude(tr: Option[Tracer]): (Option[java.sql.Timestamp], StructType, Seq[(String, Long)]) = {
      def span[A](name: String)(body: => A): A = tr.fold(body)(_.within(name)(body))
      val daily = span("EsScrollSource.discoverDailyIndices") {
        EsScrollSource.discoverDailyIndices(srv.url, "events-*")
      }
      val lo = daily.flatMap(_._2).maxOption.map { latest =>
        java.sql.Timestamp.from(latest.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
          .minus(java.time.Duration.ofDays(window)))
      }
      val schema = span("schema read") {
        val inferred = spark.read.format("graft.sources.es.EsScrollSource")
          .option("url", srv.url).option("index", "events-*").load().schema
        StructType(inferred.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      }
      val menu = span("Cli.esDiscoverMenu") {
        Cli.esDiscoverMenu(spark, srv.url, "events-*", schema, topK)
      }
      (lo, schema, menu)
    }

    /** Once, after the timed calls: the steps before the export alone. The
      * menu must equal the truth and ship no documents, and these steps
      * must account for every request a whole call sent to a pruned index. */
    override def afterTimed(t: Tally): Unit = {
      val before = prunedCounts
      val live0  = live
      val tr     = new Tracer(spark, counters)
      val menu   = prelude(Some(tr))._3
      tr.finish()
      val preludePruned = prunedCounts.zip(before).map { case (a, b) => a - b }
      val want = truth.get("menu").elements().asScala.map(e => e.get(0).asText() -> e.get(1).asLong()).toSeq
      t.check("menu equals truth", menu == want)
      t.check("menu ships no hits", tr.span("Cli.esDiscoverMenu").counters("hits") == 0)
      prunedPerCall.foreach(c => t.check("no export request reaches a pruned index", c == preludePruned))
      livePerCall.foreach(n => t.check("the export clears every scroll context it opens", n == live - live0))
    }

    def storedBytes: (Long, Long) =
      (parquetBytes(out.resolve("data")), truth.get("es_audit").get("json_bytes").asLong())

    override def tracedCall(tr: Tracer): Any = tr.within("call:Cli.runEs") {
      val (lo, schema, menu) = prelude(Some(tr))
      val events = spark.read.format("graft.sources.es.EsScrollSource").schema(schema)
        .option("url", srv.url).option("index", "events-*")
        .option("slices", 4).option("pageSize", 5000).load()
      tr.within("Pipeline.exportEvents") {
        Pipeline.exportEvents(events, out.toString, menu.head._1, lo).collect()
      }
    }

    /** The traced copy of runEs must not drift from the program: its stub
      * traffic must equal that of a timed Cli.runEs call. */
    override def checkTraced(tr: Tracer, t: Tally): Unit = {
      val traced = tr.span("call:Cli.runEs")
      CallCounters.foreach { k =>
        t.check(s"traced call's $k equal a timed Cli.runEs call's", traced.counters(k) == lastCallCounters.getOrElse(k, Double.NaN))
      }
    }

    def layerMetrics(tr: Tracer, traced: Any): Map[String, Double] = {
      val audit = traced.asInstanceOf[Array[Row]]
      val exp   = tr.span("Pipeline.exportEvents")
      val call  = tr.span("call:Cli.runEs")
      val menu  = tr.span("Cli.esDiscoverMenu")
      val scanTasks = tr.jobsUnder(exp.id).flatMap(_.tasks)
      val shipped = call.counters("hits")
      val exported = audit.map(_.getAs[Long]("n_rows")).sum
      exportLayers(tr, "Pipeline.exportEvents", audit, out, slots, _.startsWith("es:")) ++ Map(
        "cli.menu_s" -> menu.seconds,
        "cli.menu_hits_shipped" -> menu.counters("hits"),
        "es.discover_s" -> tr.span("EsScrollSource.discoverDailyIndices").seconds,
        "es.infer_s" -> tr.span("schema read").seconds,
        "es.requests" -> call.counters("requests"),
        "es.hits_shipped" -> shipped,
        "es.hits_per_exported_doc" -> (if (exported == 0) 0.0 else shipped / exported),
        "es.pruned_index_requests" -> exp.counters("pruned_requests"),
        "es.live_contexts_after" -> exp.counters("live_contexts"),
        "es.rejected_429" -> call.counters("rejected"),
        "es.task_wait_share" -> Tracer.waitShare(scanTasks)
      )
    }

    /** Stub counters sampled at every span boundary. */
    def counters: () => Map[String, Double] = () => Map(
      "hits" -> srv.hitsServed.get().toDouble,
      "requests" -> (srv.searchCalls.get() + srv.scrollCalls.get()).toDouble,
      "rejected" -> srv.rejected.get().toDouble,
      "pruned_requests" -> prunedCounts.sum.toDouble,
      "live_contexts" -> live.toDouble)

    override def close(): Unit = srv.stop()
  }

  final class ParquetExport(spark: SparkSession, data: String, truth: JsonNode, work: Path, slots: Int) extends Workload {
    private val out    = work.resolve("out")
    private val chosen = truth.get("chosen").asText()
    private val window = truth.get("window_days").asInt()

    def call(): Any = Pipeline.exportByType(spark, data, out.toString, chosen, window).collect()

    def checkCall(result: Any, t: Tally): Unit =
      auditMatches(result.asInstanceOf[Array[Row]], truth.get("parquet_audit").get("days"), t, "parquet")

    def storedBytes: (Long, Long) =
      (parquetBytes(out.resolve("data")), truth.get("parquet_audit").get("json_bytes").asLong())

    override def tracedCall(tr: Tracer): Any = tr.within("call:Pipeline.exportByType") {
      tr.within("Pipeline.exportByType") { call() }
    }

    def layerMetrics(tr: Tracer, traced: Any): Map[String, Double] =
      exportLayers(tr, "Pipeline.exportByType", traced.asInstanceOf[Array[Row]], out, slots,
        _.contains("events.parquet"))
  }

  final class QueryMix(spark: SparkSession, data: String, truth: JsonNode, work: Path, slots: Int) extends Workload {
    private val names = SparkEntry.benchQueries
    private val Q80   = "q80_export_pipeline"
    private def run(q: String): Unit =
      SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()

    /** One pass: every query under its own try, so that a query that throws
      * fails alone and the rest of the pass still runs. Returns each query's
      * error, if any. */
    private def pass(body: String => Unit): Seq[(String, Option[String])] =
      names.map(q => q -> (try { body(q); None } catch { case e: Exception => Some(e.toString) }))

    def call(): Any = pass(run)

    /** The first call stores each result as Parquet instead of discarding
      * it, for the DuckDB oracle comparison run.py makes after the JVM exits. */
    override def firstCall(): Any = {
      val dir = work.resolve("results")
      val outcomes = pass(q => SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(dir.resolve(q).toString))
      Files.writeString(dir.resolve("oracle_sql.json"),
        new ObjectMapper().writeValueAsString(names.map(q => q -> SparkEntry.oracleSql(q)).toMap.asJava))
      outcomes
    }

    def checkCall(result: Any, t: Tally): Unit =
      result.asInstanceOf[Seq[(String, Option[String])]].foreach { case (q, err) =>
        t.check(s"$q ran${err.fold("")(e => s": $e")}", err.isEmpty)
      }

    /** q80 is the mix's export: its output lives in ParquetSink's scratch dir. */
    private def q80Dir: Path = Paths.get(graft.sources.ParquetSink.scratchDir(spark, "export_pipeline"))

    def storedBytes: (Long, Long) =
      (parquetBytes(q80Dir.resolve("data")), truth.get("q80_json_bytes").asLong())

    /** Every query as in [[call]], except that q80's bounded audit is
      * collected rather than discarded, so its rows can be read. */
    override def tracedCall(tr: Tracer): Any = tr.within("call:SparkEntry.benchQueries") {
      names.flatMap { q =>
        tr.within(s"SparkEntry.queries($q)") {
          if (q == Q80) Some(SparkEntry.queries(q)(spark, data).collect()) else { run(q); None }
        }
      }.head
    }

    def layerMetrics(tr: Tracer, traced: Any): Map[String, Double] = {
      val call = tr.span("call:SparkEntry.benchQueries")
      val perQuery = names.flatMap { q =>
        val s = tr.span(s"SparkEntry.queries($q)")
        Seq(
          s"query.$q.s" -> s.seconds,
          s"query.$q.jobs" -> tr.jobsUnder(s.id).size.toDouble,
          s"query.$q.planning_ms" -> tr.executionsUnder(s.id).map(_.planningMs).sum
        )
      }
      val tasks = tr.jobsUnder(call.id).flatMap(_.tasks)
      exportLayers(tr, s"SparkEntry.queries($Q80)", traced.asInstanceOf[Array[Row]], q80Dir, slots,
        _.contains("events.parquet")) ++ perQuery ++ Map(
        "mix.tasks" -> tasks.size.toDouble,
        "mix.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "mix.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "mix.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "mix.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "mix.slot_busy_share" -> Tracer.busyShare(tasks, call.seconds, slots)
      )
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    if (opts.get("setup-only").contains("1")) { // one more cold set-up for run.py's setup_s median
      val (spark, setupS) = elapsed(Session.build(appName = s"bench-$workload"))
      spark.stop()
      Files.writeString(Paths.get(opts("report")), s"""{"setup_s": $setupS}""")
      return
    }
    val data     = opts("data")
    val work     = Paths.get(opts("work"))
    val seconds  = opts("seconds").toDouble
    val warmup   = opts("warmup").toInt
    val minCalls = opts("min-calls").toInt
    val trace    = opts("trace") == "1"
    val truth    = new ObjectMapper().readTree(Paths.get(data, "truth.json").toFile)
    val slots    = Session.cpus.toInt
    val tally    = new Tally
    val report   = mutable.LinkedHashMap.empty[String, Any]
    val jvmT0    = System.nanoTime()
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = timeline(phase) = (System.nanoTime() - jvmT0) / 1e9

    // set-up: the cold Session.build of this fresh JVM
    val (spark, setupS) = elapsed(Session.build(appName = s"bench-$workload"))
    report("setup_s") = setupS

    val (wl, seedS) = elapsed[Workload](workload match {
      case "es_export"      => new EsExport(spark, data, truth, work, slots)
      case "parquet_export" => new ParquetExport(spark, data, truth, work, slots)
      case "query_mix"      => new QueryMix(spark, data, truth, work, slots)
    })
    report("seed_s") = seedS
    mark("seeded")

    val out = work.resolve("out")
    val heapMb = mutable.ArrayBuffer.empty[Double]
    /** One call: cleared output and a GC first, both outside the timer. */
    def oneCall(first: Boolean = false): Double = {
      deleteTree(out)
      heapMb += heapUsedMb()
      tally.attempted += 1
      val (res, t) =
        try elapsed(if (first) wl.firstCall() else wl.call())
        catch { case e: Exception => tally.failed += 1; tally.failures += s"call failed: $e"; (null, Double.NaN) }
      if (res != null) wl.checkCall(res, tally)
      t
    }

    try {
      report("first_call_s") = oneCall(first = true)
      mark("first_call")
      report("warmup_s") = (0 until warmup).map(_ => oneCall())
      mark("warmed_up")
      val timed = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || timed.size < minCalls) timed += oneCall()
      report("call_s") = timed.toSeq
      heapMb += heapUsedMb()
      report("heap_live_mb") = heapMb.toSeq
      val (stored, json) = wl.storedBytes
      report("stored_bytes") = stored
      report("json_bytes") = json
      mark("timed")
      wl.afterTimed(tally)
      mark("checked")

      if (trace) {
        deleteTree(out)
        System.gc()
        val tr = new Tracer(spark, wl match { case es: EsExport => es.counters; case _ => () => Map.empty })
        val (res, t) = elapsed(wl.tracedCall(tr))
        tr.finish()
        wl.checkTraced(tr, tally)
        val med = { val s = timed.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
        report("layers") = (wl.layerMetrics(tr, res) ++ Map(
          "session.build_s" -> setupS,
          "trace.overhead_s" -> (t - med))).toSeq.sortBy(_._1).toMap
        report("spans") = tr.spansJson
        mark("traced")
      }
    } finally {
      wl.close()
      spark.stop()
    }
    mark("stopped")
    report("timeline_s") = timeline.toMap
    report("attempted") = tally.attempted
    report("failed") = tally.failed
    report("failures") = tally.failures.toSeq
    Files.writeString(Paths.get(opts("report")), new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValueAsString(Tracer.toJava(report.toMap)))
  }
}
