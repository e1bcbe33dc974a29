package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** [[Tables]] infers each fixture schema once: a repeated read runs no
  * Spark job, and the cache misses whenever the file or a conf that
  * changes inference differs. */
class TablesSpec extends SparkSpec {

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `body`'s result and the number of Spark jobs it started. A marker job
    * runs after `body`; the listener bus delivers events in order, so once
    * the marker's start arrives every earlier job has been counted. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc     = spark.sparkContext
    val marker = s"tables-spec-marker-${java.util.UUID.randomUUID()}"
    val jobs   = new AtomicInteger(0)
    val seen   = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) seen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** A fresh directory holding copies of the named sf0.001 tables. */
  private def copyOf(tables: String*): Path = {
    val dir = Files.createTempDirectory("tables_spec")
    tables.foreach { t =>
      Files.copy(java.nio.file.Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a second read of a table runs no job, with the schema a fresh read infers") {
    val dir = copyOf("events").toString
    val (_, first) = jobsOf(Tables.events(spark, dir).schema)
    assert(first >= 1, "the first read infers the schema")
    val (again, second) = jobsOf(Tables.events(spark, dir))
    assert(second == 0, s"the second read ran $second jobs")
    val path = s"$dir/events.parquet"
    assert(Tables.parquetSchema(spark, path) == spark.read.parquet(path).schema)
    // the µs fixture needs no normalization: the rows of a plain read
    assert(rows(again) == rows(spark.read.parquet(path)))
  }

  test("the cache misses once the file is rewritten") {
    val dir  = copyOf("region", "nation")
    val path = dir.resolve("region.parquet")
    val (before, _) = jobsOf(Tables.region(spark, dir.toString).schema)
    assert(before.fieldNames.contains("r_regionkey"))
    // another table's bytes under the same name: a stale entry would keep
    // region's schema
    Files.copy(dir.resolve("nation.parquet"), path, StandardCopyOption.REPLACE_EXISTING)
    val (after, jobs) = jobsOf(Tables.region(spark, dir.toString))
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
    val (viaCache, jobs) = jobsOf(scala.util.Try(Tables.parquetSchema(off, path)))
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
}
