package graft

import graft.sources.{AvroAsvc, JsonDecode, SchemaInfer}
import java.util.concurrent.CompletionException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StructField, StructType}

/** The reference's complete workflow, end-to-end and Spark-first
  * (Bootstrap.main → EsParquetWriter.call, SURVEY.md §3): resolve the recent
  * time window (O2), slice by one event type (O4, the rule_name analog),
  * infer the JSON props schema from samples (O5-O8), persist it beside the
  * output (O9), decode tolerantly with dead-letter isolation (O10-O11),
  * export day-partitioned parquet (O12), and return the per-day audit
  * counts (O14). Parallelism is Spark's task scheduling (O13) — the
  * reference's thread pool has no analog here.
  *
  * Scale shape: one pruned scan → per-row decode (no shuffle) → partitioned
  * write. The audit reads the committed files' footers, verifying the
  * round trip rather than trusting an in-flight counter: the row counts
  * the Parquet footers of each `day=` directory record, against the
  * window's per-day counts. Over the ES connector only the write reads the
  * window's documents: the schema sample's `orderBy(event_id).limit(100)`
  * is a pushed top-N (one sorted search shipping 100 hits) and the
  * audit's per-day window count a pushed `date_histogram` aggregation
  * (zero hits; one job when the window is one search target). The sample
  * is inferred on the driver (no job), and the window count runs on its
  * own thread while the sample, the inference and the write run on the
  * caller's, so the call waits for the longer of the two, not their sum.
  */
object Pipeline {

  /** Run the export for one event type over the last `windowDays` (resolved
    * against max(ts) so the fixture stays self-contained). Returns the
    * per-day audit: rows exported and dead-lettered per partition. */
  def exportByType(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      eventType: String,
      windowDays: Int
  ): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    // Resolve the window bound ONCE driver-side (the reference's
    // index-discovery round trip): from the footers' `ts` statistics, or
    // one tiny max-aggregate query when they cannot give it exactly.
    // Inlining the bound as a literal lets every downstream job push
    // `ts >= <bound>` into its parquet scan instead of re-running the
    // scalar subquery + broadcast per action (this pipeline is
    // multi-action by nature: sample, write, audit).
    val mx = Tables.eventsMaxTs(spark, sfDir).getOrElse(ev.agg(max($"ts")).head().getTimestamp(0))
    val lo = java.sql.Timestamp.from(mx.toInstant.minus(java.time.Duration.ofDays(windowDays)))
    exportEvents(ev, outDir, eventType, Some(lo))
  }

  /** The export body parameterized on the events SOURCE — the parquet path
    * above and the CLI's wire-protocol ES path (`--es`, Cli.runEs) share
    * it verbatim: only where the rows come from differs, never the
    * pipeline. `windowLo` is pushed as a source filter (over ES it prunes
    * whole day-indices at partition planning, the O2 path); None = no
    * window bound (a non-day-partitioned index has no discoverable
    * window). */
  def exportEvents(
      ev: DataFrame,
      outDir: String,
      eventType: String,
      windowLo: Option[java.sql.Timestamp]
  ): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val windowed = windowLo
      .fold(ev)(lo => ev.filter($"ts" >= lit(lo)))
      .filter($"event_type" === eventType)

    // O14's window totals (see the audit below) depend on `windowed` only:
    // they run on their own thread from here, alongside the sample, the
    // inference and the write, and are joined before the audit is built.
    val (windowTotals, exported) = alongside(spark) {
      windowed.groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_win")).collect()
    } {
      writeDecoded(windowed, outDir, eventType)
    }

    // O14: audit = the committed footers' row counts per day against the
    // per-day WINDOW totals. good/bad partition the window exactly, so
    // n_dead = n_window − n_rows; the totals prune to (ts) with the same
    // pushed filters — the dead-letter count costs a metadata-cheap scan
    // (over ES a pushed aggregation), not a decode, and it stays a read of
    // the source independent of the write it checks. Every exported day
    // has window rows by construction, so the totals' days cover both
    // all-good and all-bad days (the latter have no directory: n_rows =
    // 0). The null day matches null-safely (the `<=>` rule): without a
    // window bound null-ts rows are exported too, under the default
    // partition. The totals are one row per day in the window, so they are
    // collected and the audit is a local frame: no read, join or sort job.
    val audit = windowTotals
      .map { r =>
        val day  = Option(r.getDate(0))
        val rows = exported.getOrElse(day.map(_.toString), 0L)
        Row(day.orNull, rows, r.getLong(1) - rows)
      }
      .sortBy(r => Option(r.getDate(0)).map(_.toLocalDate.toEpochDay)) // null day first
    spark.createDataFrame(java.util.Arrays.asList(audit: _*), AuditSchema)
  }

  /** O5-O12 of [[exportEvents]]: sample, infer and persist the props
    * schema, then decode and write the day-partitioned export. Returns the
    * committed files' footer row counts per day ([[footerRowsByDay]]). */
  private def writeDecoded(
      windowed: DataFrame,
      outDir: String,
      eventType: String
  ): Map[Option[String], Long] = {
    val spark = windowed.sparkSession
    import spark.implicits._
    // O5-O8: infer the props schema from a deterministic sample, nullable.
    // The 100 sample rows are collected ONCE (one TakeOrdered job) and
    // re-used for both the inference and the .asvc first-row rendering;
    // the inference types them on the driver with Spark's JSON inference
    // code, no second job. 100 one-line JSON strings on the driver is not
    // a driver-memory concern.
    val sampleRows: Array[String] =
      windowed.orderBy($"event_id").limit(100).select($"props").as[String].take(100)
    val propsSchema = SchemaInfer.allNullable(SchemaInfer.infer(spark, sampleRows.toIndexedSeq))
    // O9: persist beside the output (overwrite ≡ the reference's dir wipe):
    // the engine-native StructType JSON plus the reference's byte-exact
    // .asvc rendering of the first sample (golden-tested in SchemaInferSpec).
    // The .asvc renders the first sample that is a JSON object — a
    // malformed props string (a dead letter of the export) must not fail
    // the whole export; with no such sample there is no .asvc to write
    // (and a stale one from an earlier export is removed).
    SchemaInfer.persist(propsSchema, s"$outDir/schema.json")
    // A first object with a nested (object or array) value has no .asvc
    // either: the writer renders the reference's flat primitive surface
    // only, and a guessed rendering of kite's nested records could not be
    // checked against the reference.
    val asvc = java.nio.file.Paths.get(s"$outDir/schema.asvc")
    sampleRows.find(isJsonObject) match {
      case Some(first) if AvroAsvc.renders(first) => AvroAsvc.persist(eventType, first, asvc.toString)
      case first =>
        if (first.isDefined)
          System.err.println(s"[pipeline] '$eventType': the first sampled props object has a " +
            "nested value, which the .asvc writer does not render; no schema.asvc is written")
        java.nio.file.Files.deleteIfExists(asvc)
    }

    // O10-O11: tolerant decode, dead letters kept auditable: the good side
    // of JsonDecode.decodeWithDeadLetter's split. The decode runs exactly
    // ONCE — inside the write pass below. r19 shared it with the audit's
    // dead-letter branch through a localCheckpoint of the whole decoded
    // window; r20 removes that materialization entirely (it was data-sized,
    // executor-local and non-fault-tolerant — the at-scale caveat in the
    // r19 ADVICE): the audit never needs the decoded rows, because the
    // window partitions EXACTLY into good ∪ bad, so per-day dead counts are
    // per-day WINDOW totals minus the committed footers' row counts — a
    // ts-only column-pruned scan with the same pushed filters, no second
    // from_json.
    val (good, _) = JsonDecode.decodeWithDeadLetter(windowed, "props", propsSchema.toDDL)

    // O12: day-partitioned export of the decoded rows — repartitioned by
    // day first so each partition is one file (the reference's
    // one-file-per-index layout, EsParquetWriter.java:56). The decoded
    // columns are the props schema's fields: `_parsed` also carries the
    // split's `_corrupt` marker, which schema.json does not list.
    good
      .select(Seq($"event_id", $"user_id", $"ts", $"value") ++
        propsSchema.fieldNames.map(f => $"_parsed".getField(f).as(f)) :+ to_date($"ts").as("day"): _*)
      .repartition($"day")
      .write
      .mode("overwrite")
      .partitionBy("day")
      .parquet(s"$outDir/data")

    footerRowsByDay(spark, s"$outDir/data")
  }

  /** `side` on its own thread while `main` runs on the caller's; returns
    * both results. The thread carries the caller's active session and
    * Spark local properties (job group, description, scheduler pool), so
    * its jobs are the caller's too. `side` is joined even when `main`
    * fails, so no job outlives the call, and either side's failure is
    * rethrown as thrown (`main`'s first). */
  private[graft] def alongside[A, B](spark: SparkSession)(side: => A)(main: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "graft-export-side")
      t.setDaemon(true)
      t
    }
    try {
      val sideRun = SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(side)
      val b = try main finally sideRun.handle[Unit]((_: A, _: Throwable) => ()).join()
      val a = try sideRun.join() catch { case e: CompletionException if e.getCause != null => throw e.getCause }
      (a, b)
    } finally pool.shutdown()
  }

  /** The audit's columns: a nullable day (the null day holds null-ts rows)
    * and non-null counts. */
  private val AuditSchema = StructType(Seq(
    StructField("day", DateType),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_dead", LongType, nullable = false)))

  /** Rows per `day=` partition of a committed day-partitioned Parquet
    * directory, summed from the file footers on the driver; the default
    * (null) partition is keyed None. Files whose names start with `_` or
    * `.` (`_SUCCESS`, checksums) are skipped, as Spark's reader skips them. */
  private[graft] def footerRowsByDay(spark: SparkSession, dir: String): Map[Option[String], Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs   = root.getFileSystem(conf)
    def visible(st: FileStatus) = !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
    // plain read options: open(file) without them builds Hadoop read
    // options by copying the whole Configuration, ~10 ms per file
    val opts = ParquetReadOptions.builder().build()
    def footerRows(st: FileStatus): Long = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), opts)
      try reader.getRecordCount
      finally reader.close()
    }
    fs.listStatus(root).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .map { st =>
        val value = ExternalCatalogUtils.unescapePathName(st.getPath.getName.stripPrefix("day="))
        val day   = Option(value).filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        day -> fs.listStatus(st.getPath).iterator.filter(f => f.isFile && visible(f)).map(footerRows).sum
      }
      .toMap
  }

  private def isJsonObject(s: String): Boolean =
    s != null && (try new com.fasterxml.jackson.databind.ObjectMapper().readTree(s).isObject
    catch { case _: Exception => false })

  /** Declared query: the full pipeline on the purchase slice, 30-day window. */
  def exportPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.sources.ParquetSink.scratchDir(spark, "export_pipeline")
    exportByType(spark, sfDir, out, "purchase", 30)
  }
}
