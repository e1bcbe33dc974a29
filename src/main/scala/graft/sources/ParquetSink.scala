package graft.sources

import graft.Tables
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Partitioned parquet sink + write audit (SURVEY.md O12/O14).
  *
  * The reference writes one parquet file per (rule, index) with a hand-rolled
  * record counter (EsParquetWriter.java:43-97, summed at Bootstrap.java:
  * 318-334). Spark-first: `partitionBy(day)` replaces per-index files, the
  * commit protocol replaces silent per-record loss, and the audit sums the
  * row counts of the committed files' footers — verifying what the files
  * hold, not that a counter incremented. [[writeByDay]] is the one
  * day-partitioned writer.
  */
object ParquetSink {

  /** Per-run scratch root: namespaced by the Spark applicationId so
    * concurrent drivers (bench vs verify vs parallel test JVMs) never race
    * on the same sink directory. */
  def scratchDir(spark: SparkSession, tag: String): String =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft_${tag}_${spark.sparkContext.applicationId}"

  // One written fixture per (JVM, tag, sfDir): plan-only consumers (the
  // corpus sweep, bench warm-up walks) construct these queries too, so the
  // multi-job fixture writes must not repeat per construction — same
  // memoization discipline as AvroData.writtenDirs / Layout.bucketTables.
  // Dirs are removed at JVM exit by the shutdown hook.
  private val fixtureDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  sys.addShutdownHook {
    fixtureDirs.values.forEach(deleteRecursively)
  }

  /** Depth-first recursive delete; no-op on a missing path. The single
    * shared implementation for every scratch-dir cleanup site (shutdown
    * hooks, per-invocation finallys, retired-fixture sweeps). */
  private[graft] def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.isDirectory(root)) {
      val walk = java.nio.file.Files.walk(root)
      try
        walk
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Cheap content fingerprint (relative path, size, mtime of every file)
    * of a file-or-directory — enough to catch an in-place fixture
    * regeneration without reading data. Lives next to [[deleteRecursively]]
    * so every filesystem tree traversal has one home (DisciplineSpec). */
  private[graft] def contentFingerprint(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      val walk  = java.nio.file.Files.walk(p)
      try walk.forEach { f =>
        if (java.nio.file.Files.isRegularFile(f))
          parts += s"${p.relativize(f)}:${java.nio.file.Files.size(f)}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
      } finally walk.close()
      java.lang.Integer.toHexString(parts.sorted.mkString(",").hashCode)
    }
  }

  /** Memoized fixture dir: runs `write(dir)` once per (JVM, tag, sfDir),
    * returns the dir on every later call. */
  private[graft] def memoFixture(spark: SparkSession, tag: String, sfDir: String)(
      write: String => Unit
  ): String =
    fixtureDirs.computeIfAbsent(
      tag + "|" + sfDir,
      _ => {
        val d = scratchDir(spark, tag) + "_" + java.lang.Integer.toHexString(sfDir.hashCode)
        write(d)
        d
      }
    )

  /** The one day-partitioned writer: `df` (with a `ts` column) goes to
    * `outDir/data`, one `day=` directory per `to_date(ts)`, beside the
    * `sideFiles` (name → content; None removes a stale file). Returns the
    * committed footers' row counts per day ([[footerRowsByDay]]).
    *
    * `hint("rebalance", day)` sends a day to one writer task, so a day is
    * one file (the reference's one file per index, EsParquetWriter.java:56);
    * AQE splits a day over `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * across tasks and coalesces small days.
    *
    * Staged, then published whole. Everything is written and audited in
    * `outDir/_staging-<uuid>` (the same file system; Spark's reader and
    * [[footerRowsByDay]] skip `_` names). A failure up to then deletes the
    * staging directory and rethrows, so the previous export stays as it
    * was: stricter than the reference, which wipes the rule directory
    * first (Bootstrap.java:182-194). The publish renames each live entry
    * aside into the staging directory and the staged one in, then deletes
    * the staging directory. It touches `data/` and the named side files
    * only, never the rest of `outDir`. A directory rename is atomic on
    * local and HDFS file systems, not on object stores; a crash between
    * two renames can leave a mix of old and new entries (the old ones
    * still in the staging directory). */
  def writeByDay(
      df: DataFrame,
      outDir: String,
      sideFiles: Map[String, Option[String]] = Map.empty
  ): Map[Option[String], Long] = {
    val spark = df.sparkSession
    val out   = new Path(outDir)
    // raw: the checksummed local file system would add a `.crc` beside each side file
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f                     => f
    }
    val staging = new Path(out, s"_staging-${java.util.UUID.randomUUID()}")
    val audit =
      try {
        df.withColumn("day", to_date(col("ts")))
          .hint("rebalance", col("day"))
          .write
          .partitionBy("day")
          .parquet(new Path(staging, "data").toString)
        sideFiles.foreach { case (name, content) =>
          content.foreach { c =>
            val o = fs.create(new Path(staging, name), false)
            try o.write(c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally o.close()
          }
        }
        footerRowsByDay(spark, new Path(staging, "data").toString)
      } catch {
        case e: Throwable =>
          fs.delete(staging, true)
          throw e
      }
    def move(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(s"could not rename $from to $to")
    val aside = new Path(staging, "_previous")
    fs.mkdirs(aside)
    ("data" +: sideFiles.keys.toSeq).foreach { name =>
      val live = new Path(out, name)
      if (fs.exists(live)) move(live, new Path(aside, name))
      val staged = new Path(staging, name)
      if (fs.exists(staged)) move(staged, live)
    }
    fs.delete(staging, true)
    audit
  }

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

  /** Declared query: export events filtered to one type (the reference's
    * per-rule slice, EsParquetWriter.java:69) partitioned by day; the audit
    * is the committed footers' rows per day, null day first. */
  def sinkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).filter($"event_type" === "purchase")
    writeByDay(ev, scratchDir(spark, "sink_audit")).toSeq
      .sortBy(_._1)
      .map { case (day, n) => (day.map(java.sql.Date.valueOf).orNull, n) }
      .toDF("day", "n")
  }

  /** ORC sink/source round trip — same audit shape as
    * [[jsonCsvRoundTrip]]: write the slice as ORC (Spark's built-in
    * columnar alternative; schema + stats preserved natively, unlike
    * json/csv), read it back, and count value mismatches against the
    * source (zero on success). */
  def orcRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = scratchDir(spark, "orc_roundtrip")
    val src = graft.Tables
      .events(spark, sfDir)
      .filter($"event_type" === "signup")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"), $"value")
    src.write.mode("overwrite").orc(s"$base/orc")
    val o = spark.read
      .orc(s"$base/orc")
      .select($"event_id", $"user_id".as("o_user"), $"ts_us".as("o_ts"), $"value".as("o_val"))
    src
      .join(o, "event_id")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(
          when($"user_id" <=> $"o_user" && $"ts_us" <=> $"o_ts" && $"value" <=> $"o_val", 0L)
            .otherwise(1L)
        ).as("orc_mismatches")
      )
  }

  /** Declared query (q130): schema-evolution read across batches. Batch 1
    * is written with the v1 schema (event_id, user_id); batch 2 with an
    * ADDED column (value) — the drift a long-lived table accumulates every
    * time a producer adds a field. `mergeSchema=true` unifies the footers
    * at read time (the per-file merge is distributed; at 100 TB prefer a
    * catalog schema, but the read semantics are the same); the audit
    * proves pre-evolution rows surface the new column as NULL — never a
    * default, never an error — via per-batch counts and min/max. */
  def schemaEvolutionRead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = memoFixture(spark, "schema_evo", sfDir) { dir =>
      val ev = Tables.events(spark, sfDir)
      ev.filter($"event_id" % 2 === 0)
        .select($"event_id", $"user_id")
        .write
        .mode("overwrite")
        .parquet(s"$dir/batch=1")
      ev.filter($"event_id" % 2 === 1)
        .select($"event_id", $"user_id", $"value")
        .write
        .mode("overwrite")
        .parquet(s"$dir/batch=2")
    }
    spark.read
      .option("mergeSchema", "true")
      .parquet(base)
      .groupBy($"batch")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"value".isNull.cast("long")).as("n_null_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value")
      )
      .orderBy($"batch")
  }

  /** Declared query (q132): small-files COMPACTION — the maintenance job
    * every long-lived 100 TB table needs (streaming sinks and incremental
    * backfills fragment partitions; thousands of KB-files per directory
    * destroy scan scheduling and NameNode/liststatus costs). A slice is
    * deliberately fragmented to 64 files, then compacted by rewriting to a
    * bounded file count; the audit reports MEASURED file counts alongside
    * row conservation, so a compaction that loses rows, skips files, or
    * fails to actually reduce the file count hash-mismatches. At real
    * scale the target is size-based — `repartition(ceil(bytes/128MB))` or
    * `spark.sql.files.maxRecordsPerFile` — and the rewrite can cluster
    * while it is at it ([[graft.operators.Layout.writeZOrdered]]); the
    * fixed 64→4 here keeps the audit deterministic across SFs. */
  def compactionAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def parquetFiles(dir: String): Long = {
      val d = new java.io.File(dir)
      val fs = d.listFiles()
      if (fs == null) 0L else fs.count(f => f.getName.endsWith(".parquet")).toLong
    }
    val base = memoFixture(spark, "compaction", sfDir) { dir =>
      val src = Tables.events(spark, sfDir).select($"event_id", $"user_id", $"value")
      // The oracle pins files_before=64 / files_after=4. Round-robin
      // repartition fills output slots contiguously per INPUT PARTITION
      // (each partition starts at a pseudo-random slot), so ≥64 rows in
      // total does NOT guarantee all 64 slots fill — 512 single-row input
      // partitions leave a slot empty with small but real probability.
      // (A coalesce(1) barrier does NOT close the gap: CollapseRepartition
      // removes a non-shuffle repartition directly under a shuffle one, so
      // it never reaches the executed plan.) Every actual fixture arrives
      // as a handful of multi-thousand-row partitions, which fills all 64;
      // the post-write require turns any future layout drift into a loud
      // failure at fixture build instead of a mysterious pinned-count
      // hash mismatch at oracle compare.
      val n = src.count()
      require(n >= 512, s"compactionAudit needs a comfortably >64-row slice, got $n")
      src.repartition(64).write.mode("overwrite").parquet(s"$dir/fragmented")
      val written = {
        val fs = new java.io.File(s"$dir/fragmented").listFiles()
        if (fs == null) 0 else fs.count(_.getName.endsWith(".parquet"))
      }
      require(written == 64, s"fragmented write produced $written files, oracle pins 64")
      spark.read
        .parquet(s"$dir/fragmented")
        .repartition(4)
        .write
        .mode("overwrite")
        .parquet(s"$dir/compacted")
    }
    val frag        = spark.read.parquet(s"$base/fragmented")
    val filesBefore = parquetFiles(s"$base/fragmented")
    val filesAfter  = parquetFiles(s"$base/compacted")
    frag
      .agg(count(lit(1)).as("n_rows_in"))
      .crossJoin(spark.read.parquet(s"$base/compacted").agg(count(lit(1)).as("n_rows_out")))
      .select(
        $"n_rows_in",
        $"n_rows_out",
        lit(filesBefore).as("files_before"),
        lit(filesAfter).as("files_after")
      )
  }

  /** Declared query: JSON-lines and CSV sink/source round trip (the
    * checklist's "+ json/csv" file formats). A deterministic slice goes out
    * through both writers, comes back through both readers with explicit
    * schemas, and the audit proves both round trips preserved every row and
    * value (join on the key, compare columns, count mismatches = 0). */
  def jsonCsvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = scratchDir(spark, "fmt_roundtrip")
    val src = Tables
      .events(spark, sfDir)
      .filter($"event_type" === "signup")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"), $"value")
    src.write.mode("overwrite").json(s"$base/json")
    src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    val schema = "event_id BIGINT, user_id BIGINT, ts_us BIGINT, value DOUBLE"
    val fromJson = spark.read.schema(schema).json(s"$base/json")
    val fromCsv  = spark.read.schema(schema).option("header", "true").csv(s"$base/csv")
    val j = fromJson.select($"event_id", $"user_id".as("j_user"), $"ts_us".as("j_ts"), $"value".as("j_val"))
    val c = fromCsv.select($"event_id", $"user_id".as("c_user"), $"ts_us".as("c_ts"), $"value".as("c_val"))
    src
      .join(j, "event_id")
      .join(c, "event_id")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when($"user_id" <=> $"j_user" && $"ts_us" <=> $"j_ts" && $"value" <=> $"j_val", 0L).otherwise(1L))
          .as("json_mismatches"),
        sum(when($"user_id" <=> $"c_user" && $"ts_us" <=> $"c_ts" && $"value" <=> $"c_val", 0L).otherwise(1L))
          .as("csv_mismatches")
      )
  }
}
