package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * [[confs]] is the single list of settings every session graft builds
  * shares (Verify, Bench, Probe, the CLI, the benchmark harness and the
  * test session): oracle parity for the results ([[readConfs]]) plus the
  * local-mode execution settings:
  *   - AQE on (runtime coalescing / skew-join handling — the 100 TB story)
  *   - shuffle partitions sized to the local core count, not the 200 default
  *   - lz4 shuffle/spill codec: zstd cut the 5M-doc dedup rung's spill by
  *     ~20% at equal q147 runtime but cost q168 +18%, and the rung's disk
  *     capacity problem is gone (BASELINE.md "Codec note",
  *     OPTIMIZATION_r19.md)
  *   - a 4,096-entry generated-code cache: Spark's default of 100 classes
  *     is below what the 17 bench queries alone need (274 distinct
  *     classes; the 173-query catalog needs 3,004), so the LRU evicted
  *     every class before the next pass returned to it and each warm
  *     pass recompiled ~280 classes with Janino at ~10 ms each
  *     (BASELINE.md "Codegen cache note"). The conf is static, and Spark
  *     sizes the JVM-wide cache once, from the first session's conf, so
  *     it lives here and not in [[readConfs]].
  *   - `fs.file.impl` = [[NioLocalFileSystem]]: stock Hadoop forks
  *     `/bin/chmod` for every permission it sets on a local file when
  *     libhadoop is not loaded, and Spark's jars ship without it. Under JFR
  *     an es_export call started 28 `chmod` processes (from the Parquet
  *     writers and the commit protocol's job setup and commit) and a
  *     four-pass query_mix run 542 (q80's export, and the first pass's
  *     result files); with this entry both start none (BASELINE.md "Local
  *     FS note"). Set on the SparkContext, so the driver and the local
  *     executors share it.
  */
object Session {
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** The settings results depend on — [[tune]] applies these to a session
    * graft did not build:
    *   - UTC session time zone (DuckDB hashes must agree on timestamps)
    *   - `nanosAsLong` so the ns-precision `events.ts` parquet column loads
    *     (Spark has no TIMESTAMP(NANOS) type; see Tables.events for the cast)
    *   - µs-precision fixtures carry isAdjustedToUTC=false; read them as
    *     plain TimestampType (UTC session) so values match DuckDB's naive
    *     read */
  val readConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone"                  -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong"        -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"
  )

  /** Every setting [[build]] gives a session. */
  def confs: Seq[(String, String)] = readConfs ++ Seq(
    "spark.sql.adaptive.enabled"         -> "true",
    "spark.sql.extensions"               -> "graft.plans.GraftExtensions",
    "spark.ui.enabled"                   -> "false",
    "spark.sql.shuffle.partitions"       -> cpus,
    "spark.io.compression.codec"         -> "lz4",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.hadoop.fs.file.impl"          -> classOf[NioLocalFileSystem].getName
  )

  def build(master: String = s"local[$cpus]", appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder().master(master).appName(appName).config(confs.toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Input-sized AQE shuffle fan-out — replaces the `GRAFT_SF100_SHUFFLE`
    * hand knob (r13 verdict task 5: the knob measured q29 267.8 → 67.0 s
    * at 32 → 256 partitions, but a deployment shouldn't need a flag).
    * Heuristic: start every shuffle at one partition per 4 MB of on-disk
    * input (clamped to [current shuffle.partitions, 2048]) via
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum`, and let
    * AQE's coalescer shrink each stage back to its 64 MB advisory size.
    * The divisor is deliberately ~16× under the advisory: columnar zstd
    * parquet decompresses ~4-8× in flight and the dedup/ANN pipelines
    * EXPLODE rows beyond that, so sizing at 1/advisory would leave
    * multi-GB spill-bound partitions (the measured q147 regression at 32).
    * Over-splitting is the cheap direction — AQE merges small reducers;
    * nothing merges an under-split sort. On a real cluster the same
    * fan-out falls out of scan statistics; locally we sum the data
    * directory once at session setup. */
  def sizeShufflesForInput(spark: SparkSession, dirs: String*): Unit = {
    import java.nio.file.{Files, Paths}
    val bytes = dirs.map { d =>
      val p = Paths.get(d)
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
        finally s.close()
      }
    }.sum
    val floor  = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val target = math.min(2048L, math.max(floor, bytes / (4L << 20)))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", target.toString)
  }

  /** Run `body` (a driver-side iterative loop whose per-round tables are
    * small after their first collapse) with AQE's partition coalescing in
    * SIZE-FIRST mode (`parallelismFirst=false`), restoring the previous
    * value afterwards. Parallelism-first coalescing keeps every
    * post-shuffle stage at the session's core count; for the kilobyte
    * label/feature tables of the CC and classifier loops that means
    * dozens of ~50 ms tasks per round doing microseconds of work (the r19
    * measured per-task overhead). Size-first coalescing is scale-adaptive:
    * big rounds stay wide (advisory sizing), tiny rounds collapse to one
    * task. Scoped per loop and not session-wide because the shingle/band
    * self-joins need parallelism-first (advisory-size coalescing collapses
    * their compute-heavy partitions — the measured q67 3× regression).
    *
    * Driver-sequential by contract, like the loops that call it: the
    * scoping is TEMPORAL (session-global conf flip + restore), so a query
    * running CONCURRENTLY on the same SparkSession would observe the
    * flipped mode (r19 ADVICE). Every graft entry point (Verify, Bench,
    * Probe, the driver) executes declared queries sequentially on one
    * thread; an embedder that runs graft queries from multiple threads
    * must give each thread its own `spark.newSession()` (session confs are
    * per-session, so the flip then cannot leak). Nested scopes on the one
    * driver thread are safe — save/restore composes. */
  def withSizeFirstCoalescing[T](spark: SparkSession)(body: => T): T = {
    val k   = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val old = spark.conf.get(k, "true")
    spark.conf.set(k, "false")
    try body
    finally spark.conf.set(k, old)
  }

  /** Apply [[readConfs]] to an externally-built session (the driver
    * may smoke-call `SparkEntry.entry` with its own session). Best-effort:
    * anything static in that session is skipped rather than failed. */
  def tune(spark: SparkSession): SparkSession = {
    readConfs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    spark
  }
}
