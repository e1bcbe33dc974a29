package graft

import graft.sources.SchemaInfer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's complete workflow, end-to-end and Spark-first
  * (Bootstrap.main → EsParquetWriter.call, SURVEY.md §3): resolve the recent
  * time window (O2), slice by one event type (O4, the rule_name analog),
  * infer the JSON props schema from samples (O5-O8), persist it beside the
  * output (O9), decode tolerantly with dead-letter isolation (O10-O11),
  * export day-partitioned parquet (O12), and return the re-read audit counts
  * (O14). Parallelism is Spark's task scheduling (O13) — the reference's
  * thread pool has no analog here.
  *
  * Scale shape: one pruned scan → per-row decode (no shuffle) → partitioned
  * write; the audit is a group-count over the committed files, verifying the
  * round trip rather than trusting an in-flight counter. Over the ES
  * connector only the write reads the window's documents: the schema
  * sample's `orderBy(event_id).limit(100)` is a pushed top-N (one sorted
  * search shipping 100 hits) and the audit's per-day window count a pushed
  * `date_histogram` aggregation (zero hits).
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
    // Resolve the window bound ONCE driver-side (one tiny max-aggregate
    // job — the reference's index-discovery round trip). Inlining the bound
    // as a literal lets every downstream job push `ts >= <bound>` into its
    // parquet scan instead of re-running the scalar subquery + broadcast
    // per action (this pipeline is multi-action by nature: sample, write,
    // audit).
    val mx = ev.agg(max($"ts")).head().getTimestamp(0)
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

    // O5-O8: infer the props schema from a deterministic sample, nullable.
    // The 100 sample rows are collected ONCE (one TakeOrdered job) and
    // re-used for both the inference and the .asvc first-row rendering —
    // the previous form ran the orderBy+limit pipeline twice (a
    // distributed read.json inference pass plus a separate take(1)), two
    // full extra jobs per invocation for identical bytes (r19, guide §1.2:
    // don't compute things twice). 100 one-line JSON strings on the driver
    // is not a driver-memory concern.
    val sampleRows: Array[String] =
      windowed.orderBy($"event_id").limit(100).select($"props").as[String].take(100)
    val propsSchema = SchemaInfer.allNullable(
      SchemaInfer.infer(spark, spark.createDataset(sampleRows.toIndexedSeq)))
    // O9: persist beside the output (overwrite ≡ the reference's dir wipe):
    // the engine-native StructType JSON plus the reference's byte-exact
    // .asvc rendering of the first sample (golden-tested in SchemaInferSpec).
    // The .asvc renders the first sample that is a JSON object — a
    // malformed props string (a dead letter of the export) must not fail
    // the whole export; with no such sample there is no .asvc to write
    // (and a stale one from an earlier export is removed).
    SchemaInfer.persist(propsSchema, s"$outDir/schema.json")
    val asvc = java.nio.file.Paths.get(s"$outDir/schema.asvc")
    sampleRows.find(isJsonObject) match {
      case Some(first) => graft.sources.AvroAsvc.persist(eventType, first, asvc.toString)
      case None        => java.nio.file.Files.deleteIfExists(asvc)
    }

    // O10-O11: tolerant decode, dead letters kept auditable. Same split
    // predicate as JsonDecode.decodeWithDeadLetter. The decode runs exactly
    // ONCE — inside the write pass below. r19 shared it with the audit's
    // dead-letter branch through a localCheckpoint of the whole decoded
    // window; r20 removes that materialization entirely (it was data-sized,
    // executor-local and non-fault-tolerant — the at-scale caveat in the
    // r19 ADVICE): the audit never needs the decoded rows, because the
    // window partitions EXACTLY into good ∪ bad, so per-day dead counts are
    // per-day WINDOW totals minus the re-read exported counts — a ts-only
    // column-pruned scan with the same pushed filters, no second from_json.
    val corruptSt = org.apache.spark.sql.types.StructType
      .fromDDL(propsSchema.toDDL)
      .add("_corrupt", org.apache.spark.sql.types.StringType)
    val parsed = windowed
      .withColumn(
        "_parsed",
        from_json($"props", corruptSt, Map("columnNameOfCorruptRecord" -> "_corrupt"))
      )
    val isBad = $"props".isNull || $"_parsed".isNull ||
      $"_parsed".getField("_corrupt").isNotNull
    val good = parsed.filter(!isBad)

    // O12: day-partitioned export of the decoded rows — repartitioned by
    // day first so each partition is one file (the reference's
    // one-file-per-index layout, EsParquetWriter.java:56).
    good
      .select($"event_id", $"user_id", $"ts", $"value", $"_parsed.*", to_date($"ts").as("day"))
      .repartition($"day")
      .write
      .mode("overwrite")
      .partitionBy("day")
      .parquet(s"$outDir/data")

    // O14: audit = re-read counts joined with the per-day WINDOW totals.
    // good/bad partition the window exactly, so n_dead = n_window − n_rows;
    // the totals side prunes to (ts) with the same pushed filters — the
    // dead-letter count costs a metadata-cheap scan, not a decode. Every
    // exported day has window rows by construction, so the left join from
    // the totals side covers both all-good and all-bad days.
    val exported = spark.read
      .parquet(s"$outDir/data")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_rows"))
    val totals = windowed
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_win"))
    totals
      .join(exported, Seq("day"), "left")
      .select(
        $"day",
        coalesce($"n_rows", lit(0L)).as("n_rows"),
        ($"n_win" - coalesce($"n_rows", lit(0L))).as("n_dead")
      )
      // bounded output (one row per day inside the export window)
      .transform(Tables.sortSmall(_, $"day"))
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
