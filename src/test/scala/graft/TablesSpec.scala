package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** [[Tables]] infers each fixture schema once: a repeated read runs no
  * Spark job, and the cache misses whenever the file or a conf that
  * changes inference differs. */
class TablesSpec extends SparkSpec {

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A fresh directory holding copies of the named sf0.001 tables. */
  private def copyOf(tables: String*): Path = {
    val dir = Files.createTempDirectory("tables_spec")
    tables.foreach { t =>
      Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  private def jobCount[A](body: => A): (A, Int) = { val (out, jobs) = jobsOf(body); (out, jobs.size) }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a second read of a table runs no job, with the schema a fresh read infers") {
    val dir = copyOf("events").toString
    val (_, first) = jobCount(Tables.events(spark, dir).schema)
    assert(first >= 1, "the first read infers the schema")
    val (again, second) = jobCount(Tables.events(spark, dir))
    assert(second == 0, s"the second read ran $second jobs")
    val path = s"$dir/events.parquet"
    assert(Tables.parquetSchema(spark, path) == spark.read.parquet(path).schema)
    // the µs fixture needs no normalization: the rows of a plain read
    assert(rows(again) == rows(spark.read.parquet(path)))
  }

  test("the cache misses once the file is rewritten") {
    val dir  = copyOf("region", "nation")
    val path = dir.resolve("region.parquet")
    val (before, _) = jobCount(Tables.region(spark, dir.toString).schema)
    assert(before.fieldNames.contains("r_regionkey"))
    // another table's bytes under the same name: a stale entry would keep
    // region's schema
    Files.copy(dir.resolve("nation.parquet"), path, StandardCopyOption.REPLACE_EXISTING)
    val (after, jobs) = jobCount(Tables.region(spark, dir.toString))
    assert(jobs >= 1, "the rewritten file is inferred again")
    assert(after.schema == spark.read.parquet(path.toString).schema)
    assert(after.schema.fieldNames.contains("n_nationkey"))
    assert(rows(after) == rows(Tables.nation(spark, sf)))
  }

  /** A directory holding `events.parquet` with `ts` stored as parquet
    * TIMESTAMP(NANOS), the type Spark reads only under `nanosAsLong` (the
    * repo's fixtures now store µs; Spark cannot write ns). */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir    = Files.createTempDirectory("tables_spec_ns")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", 1700000000123456789L + i * 1001L))
    } finally w.close()
    dir.toString
  }

  test("a TIMESTAMP(NANOS) file streams through replayStream with Tables.events' ts values") {
    val dir  = nanosEvents()
    val name = s"replay_ns_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = graft.streaming.Streaming.replayStream(spark, dir).writeStream
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name)
      assert(streamed.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      assert(rows(streamed) == rows(Tables.events(spark, dir)))
    } finally q.stop()
  }

  test("the cache misses when a session reads Parquet differently") {
    val dir  = nanosEvents()
    val path = s"$dir/events.parquet"
    assert(spark.conf.get(nanosAsLong) == "true")
    assert(Tables.parquetSchema(spark, path)("ts").dataType == LongType)
    // the nanosAsLong branch: ns truncated to µs, as a plain read does it
    assert(rows(Tables.events(spark, dir)) ==
      rows(spark.read.parquet(path).withColumn("ts", expr("timestamp_micros(ts div 1000)"))))
    // nanosAsLong off on another session of the same JVM: the cache misses,
    // so the read does whatever a plain read of the ns column does there
    // (infer another type or fail), never the cached LongType schema
    val off = spark.newSession()
    off.conf.set(nanosAsLong, "false")
    val fresh = scala.util.Try(off.read.parquet(path).schema)
    val (viaCache, jobs) = jobCount(scala.util.Try(Tables.parquetSchema(off, path)))
    assert(fresh.map(_.toString) == viaCache.map(_.toString) ||
      (fresh.isFailure && viaCache.isFailure), s"plain read $fresh, cached read $viaCache")
    assert(jobs >= 1 || viaCache.isFailure, "the flipped session inferred again")
    // NTZ inference on: the µs fixture columns infer as TIMESTAMP_NTZ and
    // the read normalizes them back to the same values
    val ntz: SparkSession = spark.newSession()
    ntz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val odir  = copyOf("orders").toString
    val opath = s"$odir/orders.parquet"
    assert(Tables.parquetSchema(ntz, opath) == ntz.read.parquet(opath).schema)
    assert(Tables.parquetSchema(ntz, opath) != Tables.parquetSchema(spark, opath))
    assert(rows(Tables.orders(ntz, odir)) == rows(Tables.orders(spark, odir)))
  }

  /** max(ts) of `Tables.events` as the query computes it. */
  private def queriedMaxTs(dir: String): java.sql.Timestamp =
    Tables.events(spark, dir).agg(org.apache.spark.sql.functions.max("ts")).head().getTimestamp(0)

  test("the footer-statistics max(ts) equals the query's, on every fixture and on a NANOS file") {
    // several part files plus _SUCCESS and checksum files, as a Spark write
    // leaves them, with ts as INT64 micros
    val multiFile = Files.createTempDirectory("tables_spec_parts")
    val micros    = spark.newSession()
    micros.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    Tables.events(micros, sf).repartition(3).write.parquet(multiFile.resolve("events.parquet").toString)
    for (dir <- Seq(sf, sf01, nanosEvents(), multiFile.toString)) {
      val (bound, jobs) = jobCount(Tables.eventsMaxTs(spark, dir))
      assert(bound === Some(queriedMaxTs(dir)), dir)
      assert(jobs === 0, s"$dir: the statistics are read without a Spark job")
    }
  }

  test("a ts column with only nulls, or stored as INT96, has no statistics bound: the query decides") {
    val micros = spark.newSession()
    micros.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val nulls = Files.createTempDirectory("tables_spec_null_ts")
    micros.range(5).selectExpr("id AS event_id", "CAST(NULL AS TIMESTAMP) AS ts")
      .write.parquet(nulls.resolve("events.parquet").toString)
    assert(Tables.eventsMaxTs(spark, nulls.toString) === None)
    assert(queriedMaxTs(nulls.toString) === null)
    // the session default writes INT96, which the statistics path leaves alone
    val int96 = Files.createTempDirectory("tables_spec_int96_ts")
    Tables.events(spark, sf).write.parquet(int96.resolve("events.parquet").toString)
    assert(Tables.eventsMaxTs(spark, int96.toString) === None)
    assert(queriedMaxTs(int96.toString) === queriedMaxTs(sf))
  }
}
