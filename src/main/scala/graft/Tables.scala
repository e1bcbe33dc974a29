package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileStatus, Path}

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * All queries go through these so that type quirks are fixed in exactly one
  * place. Every fixture (the sf0.001/0.01/0.1 testdata and
  * `bench/fixture/sf0.01`) stores its timestamps as `timestamp[us]`
  * (`isAdjustedToUTC=false`), which [[read]] hands DuckDB's values for.
  * A TIMESTAMP(NANOS) file is the other case: Spark has no native type for
  * it, and with `spark.sql.legacy.parquet.nanosAsLong=true` (set in
  * [[Session.readConfs]]) the column loads as nanosecond epoch LongType,
  * which [[events]] truncates to microseconds — exactly what DuckDB does
  * when it reads such a file. No fixture takes that branch; `TablesSpec`'s
  * hand-written NANOS file covers it.
  */
object Tables {

  /** Read a fixture table, normalizing any TIMESTAMP_NTZ column to plain
    * TimestampType with the naive values interpreted AS UTC — i.e. exactly
    * DuckDB's read of the same `isAdjustedToUTC=false` parquet. The graft
    * session builders disable `inferTimestampNTZ`, so this branch is a
    * defensive path for externally-built sessions (the driver smoke test);
    * there it must NOT depend on the caller's time zone. A zone ROUND-TRIP
    * (cast(NTZ→TS) then from_utc_timestamp) is almost right but not quite:
    * naive values inside the session zone's DST spring-forward gap do not
    * exist in that zone, the cast resolves them with a +1h shift, and the
    * inverse cannot undo it. So the conversion never touches a zone at
    * all: the naive value's calendar fields are reassembled into epoch
    * micros directly (datediff from 1970-01-01 + field extraction — all
    * zone-free on NTZ) and re-typed with timestamp_micros, which is exact
    * for every representable value in ANY session zone. Covers every
    * regenerated timestamp column (events.ts, o_orderdate, l_shipdate). */
  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val raw  = spark.read.schema(parquetSchema(spark, path)).parquet(path)
    val ntzCols = raw.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    ntzCols.foldLeft(raw) { (df, c) =>
      val us =
        datediff(to_date(col(c)), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long") *
          86400000000L +
          hour(col(c)).cast("long") * 3600000000L +
          minute(col(c)).cast("long") * 60000000L +
          (date_part(lit("SECOND"), col(c)) * 1000000L).cast("long")
      df.withColumn(c, timestamp_micros(us))
    }
  }

  /** The confs whose session values change what Parquet schema inference
    * returns for the same file. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive"
  )

  private final case class SchemaKey(path: String, files: Seq[(String, Long, Long)], confs: Seq[String])
  private val schemas = new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  /** What `spark.read.parquet(path)` infers for `path`, inferred once per
    * JVM. Inference is a Spark job that reads a footer (23 of the 102 jobs
    * of a bench pass before this cache); a read with the cached schema runs
    * none. The key is the qualified path, every data file's path, length
    * and modification time (so a rewritten table misses), and the session
    * values of [[InferenceConfs]] (so a session that reads the same file
    * differently misses). */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p  = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    // a missing path is not cached: the plain read fails as it always did
    if (!fs.exists(qualified)) spark.read.parquet(path).schema
    else {
      // listStatus, not listFiles: the LocatedFileStatus that listFiles
      // builds loads each local file's permissions, which forks `ls -ld`
      // per file when libhadoop is not loaded
      def walk(st: FileStatus): Seq[(String, Long, Long)] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.toString).flatMap(walk)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      val files = walk(fs.getFileStatus(qualified))
      val key   = SchemaKey(qualified.toString, files, InferenceConfs.map(spark.conf.get))
      Option(schemas.get(key)).getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.put(key, inferred)
        inferred
      }
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = read(spark, sfDir, "documents")

  /** The fixture embedding dimension. The similarity operators AND their
    * hand-written DuckDB oracle SQL (Registry `range(1, 65)` sites) both
    * assume it; a fixture change must fail loudly here, not silently desync
    * the oracles. */
  val EmbeddingDim = 64
  private val embDimChecked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def embeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val df = read(spark, sfDir, "embeddings")
    // One limit-1 scan per (JVM, sfDir) — negligible, and the only way to
    // see the dim: parquet list types carry no length in the schema. Mark
    // the check done only AFTER it passes: recording it up front would let
    // a harness that catches per-query errors and continues re-enter here
    // unguarded — the silent oracle desync this exists to prevent. (Two
    // threads racing both run the cheap probe; that's fine.)
    if (!embDimChecked.contains(sfDir)) {
      // min/max over a bounded non-null sample (not just the first row): a
      // fixture whose first row is null, or whose later rows change dim,
      // must still fail loudly here
      val dims = df
        .filter(col("embedding").isNotNull)
        .limit(512)
        .agg(min(size(col("embedding"))).as("lo"), max(size(col("embedding"))).as("hi"))
        .head(1)
        .headOption
        .filterNot(_.isNullAt(0)) // empty/all-null sample: nothing to desync against
        .map(r => (r.getInt(0), r.getInt(1)))
        .getOrElse((EmbeddingDim, EmbeddingDim))
      require(
        dims == ((EmbeddingDim, EmbeddingDim)),
        s"embeddings fixture at $sfDir has dims $dims, expected $EmbeddingDim — " +
          "the similarity operators and their oracle SQL (range(1, 65)) hardcode it")
      embDimChecked.add(sfDir)
      ()
    }
    df
  }

  /** Round-robin repartition to the session's shuffle parallelism — put
    * before compute-bound per-row stages (hashing, shingling, vector math).
    * The local fixtures are single-row-group parquet files, so a scan is ONE
    * task and everything fused into it runs single-threaded; at real scale
    * the same barrier just rebalances skew ahead of heavy compute. The
    * shuffle it inserts moves only the projected columns. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Total-order presentation sort for BOUNDED-cardinality outputs —
    * grouped aggregates over fixed domains (returnflag×linestatus,
    * region×nation, order priorities, one row per day of a window): at most a
    * few hundred rows at ANY scale factor. A global `orderBy` plans a
    * range exchange whose RangePartitioner runs a separate sampling JOB
    * before the sort stage; for a handful of rows that is pure scheduling
    * overhead (r19 measured ~0.15–0.25 s per query at sf0.1).
    * coalesce(1) + local sort produces the identical total order with no
    * exchange and no sampling pass, and is the right plan at 100 TB too:
    * the rows entering the sort are the post-aggregation output, whose
    * cardinality is fixed by the domain, not the data volume. NOT for
    * outputs that scale with the input — those keep orderBy. */
  def sortSmall(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** events with `ts` normalized to a microsecond-precision TimestampType.
    * Every fixture stores `timestamp[us]`, which loads as TimestampType and
    * is kept. A TIMESTAMP(NANOS) file loads as a nanos long under
    * `nanosAsLong`, and `ts div 1000` truncates it ns→µs (matching DuckDB's
    * read of the same file); `TablesSpec`'s hand-written file covers that
    * branch. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // NTZ normalization happens in read(); only the legacy nanosAsLong
    // (ns-precision file) path still needs the ns→µs truncation here.
    microsTs(read(spark, sfDir, "events"))
  }

  /** max(`ts`) of [[events]] at `sfDir`, read from the row-group statistics
    * in the Parquet footers on the driver: no Spark job. `ts` must be an
    * INT64 that [[events]] reads as stored (TIMESTAMP(MICROS)) or truncates
    * ns→µs (TIMESTAMP(NANOS) under `nanosAsLong`; truncation is monotonic,
    * so the max of the truncated values is the truncated max). None, for
    * the caller to run the query, when any row group has no non-null `ts`
    * statistics, `ts` has another type, or a value predates 1900, where
    * Parquet's calendar rebasing could move what a scan returns. Files
    * whose names start with `_` or `.` are skipped, as Spark's reader
    * skips them. */
  private[graft] def eventsMaxTs(spark: SparkSession, sfDir: String): Option[java.sql.Timestamp] = {
    import org.apache.parquet.ParquetReadOptions
    import org.apache.parquet.column.statistics.LongStatistics
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    import scala.jdk.CollectionConverters._
    val conf  = spark.sparkContext.hadoopConfiguration
    val root  = new Path(s"$sfDir/events.parquet")
    val fs    = root.getFileSystem(conf)
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong").toBoolean
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .flatMap(files)
      else Seq(st)
    // (min, max) per row group in µs as events reads them; None = unusable
    def rowGroups(st: FileStatus): Seq[Option[(Long, Long)]] = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), ParquetReadOptions.builder().build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val toMicros: Option[Long => Long] =
          schema.getFields.asScala.find(f => f.getName == "ts" && f.isPrimitive).map(_.asPrimitiveType).flatMap {
            ts => (ts.getPrimitiveTypeName, ts.getLogicalTypeAnnotation) match {
              case (INT64, t: TimestampLogicalTypeAnnotation) if t.getUnit == TimeUnit.MICROS => Some(identity)
              case (INT64, t: TimestampLogicalTypeAnnotation) if t.getUnit == TimeUnit.NANOS && nanos =>
                Some(_ / 1000) // `ts div 1000`, as [[microsTs]] truncates
              case _ => None
            }
          }
        reader.getFooter.getBlocks.asScala.toSeq.map { block =>
          for {
            f     <- toMicros
            chunk <- block.getColumns.asScala.find(_.getPath.toDotString == "ts")
            stats <- Option(chunk.getStatistics).collect { case l: LongStatistics if l.hasNonNullValue => l }
          } yield (f(stats.getMin), f(stats.getMax))
        }
      } finally reader.close()
    }
    val groups = files(fs.getFileStatus(root)).flatMap(rowGroups)
    val from1900 = java.time.Instant.parse("1900-01-01T00:00:00Z").getEpochSecond * 1000000L
    if (groups.isEmpty || groups.exists(g => g.forall(_._1 < from1900))) None
    else Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(groups.flatten.map(_._2).max))
  }

  /** `events` with a nanos-long `ts` (a TIMESTAMP(NANOS) file read under
    * `nanosAsLong`) truncated to a µs TimestampType; any other `ts` is
    * kept. The batch read ([[events]]) and the file replay
    * (`Streaming.replayStream`) share it. */
  private[graft] def microsTs(ev: DataFrame): DataFrame =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => ev.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _                                   => ev
    }
}
