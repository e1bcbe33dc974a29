package graft

import graft.sources.{AvroAsvc, JsonDecode, ParquetSink, SchemaInfer}
import java.util.concurrent.CompletionException
import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StructField, StructType}

/** The reference's complete workflow, end-to-end and Spark-first
  * (Bootstrap.main → EsParquetWriter.call, SURVEY.md §3): resolve the recent
  * time window (O2), slice by one event type (O4, the rule_name analog),
  * infer the JSON props schema from samples (O5-O8), decode tolerantly with
  * dead-letter isolation (O10-O11), export day-partitioned parquet with the
  * schema files beside it (O12, O9), and return the per-day audit counts
  * (O14). The export and its schema files are staged and published whole
  * by [[ParquetSink.writeByDay]], so a failed export leaves the previous
  * one as it was. Parallelism is Spark's task scheduling (O13) — the
  * reference's thread pool has no analog here.
  *
  * Scale shape: one pruned scan → per-row decode → one shuffle by day →
  * partitioned write. The audit reads the committed files' footers,
  * verifying the round trip rather than trusting an in-flight counter: the
  * row counts the Parquet footers of each `day=` directory record, against
  * the window's per-day counts. Over the ES connector only the write reads the
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

  /** O5-O12 of [[exportEvents]]: sample and infer the props schema, then
    * decode and write the day-partitioned export with the schema files.
    * Returns the committed files' footer row counts per day
    * ([[ParquetSink.footerRowsByDay]]). */
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
    // O9: the schema files, published with the data: the StructType JSON
    // and the reference's byte-exact .asvc rendering (golden-tested in
    // SchemaInferSpec) of the first sample that is a JSON object, since a
    // malformed props string is a dead letter, not a failed export. With no
    // such sample, or a first object with a nested value (the writer renders
    // the reference's flat primitive surface only), there is no .asvc, and
    // the publish removes a stale one.
    val asvc = sampleRows.find(isJsonObject) match {
      case Some(first) if AvroAsvc.renders(first) => Some(AvroAsvc.fromSampleJson(eventType, first))
      case first =>
        if (first.isDefined)
          System.err.println(s"[pipeline] '$eventType': the first sampled props object has a " +
            "nested value, which the .asvc writer does not render; no schema.asvc is written")
        None
    }

    // O10-O11: tolerant decode, the good side of
    // JsonDecode.decodeWithDeadLetter's split, decoded in the write pass
    // only. The audit never needs the decoded rows: the window partitions
    // exactly into good ∪ bad, so per-day dead counts are the window's
    // per-day totals minus the committed footers' row counts.
    val (good, _) = JsonDecode.decodeWithDeadLetter(windowed, "props", propsSchema.toDDL)

    // O12: day-partitioned export of the decoded rows, one file per day
    // (the reference's one-file-per-index layout, EsParquetWriter.java:56).
    // The decoded columns are the props schema's fields: `_parsed` also
    // carries the split's `_corrupt` marker, which schema.json does not list.
    ParquetSink.writeByDay(
      good.select(Seq($"event_id", $"user_id", $"ts", $"value") ++
        propsSchema.fieldNames.map(f => $"_parsed".getField(f).as(f)): _*),
      outDir,
      Map("schema.json" -> Some(propsSchema.prettyJson), "schema.asvc" -> asvc))
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

  private def isJsonObject(s: String): Boolean =
    s != null && (try new com.fasterxml.jackson.databind.ObjectMapper().readTree(s).isObject
    catch { case _: Exception => false })

  /** Declared query: the full pipeline on the purchase slice, 30-day window. */
  def exportPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val out = ParquetSink.scratchDir(spark, "export_pipeline")
    exportByType(spark, sfDir, out, "purchase", 30)
  }
}
