package graft

import graft.sources.ParquetSink
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one day-partitioned writer: staged, published whole, audited from its
  * own footers, with writer tasks bounded by the advisory partition size. */
class ParquetSinkSpec extends SparkSpec {

  private def purchases: DataFrame = {
    import spark.implicits._
    Tables.events(spark, sf).where($"event_type" === "purchase")
  }

  /** `ev` with a task that throws at `eventId`, through Spark's raise_error. */
  private def failingAt(ev: DataFrame, eventId: Long): DataFrame =
    ev.withColumn("value", when(col("event_id") === eventId, raise_error(lit("injected"))).otherwise(col("value")))

  /** Relative path → SHA-256 of every file under `dir`. */
  private def snapshot(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))
      root.relativize(f).toString -> sha.map("%02x".format(_)).mkString
    }.toMap
    finally walk.close()
  }

  private def staged(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_staging")).toSeq

  /** Parquet files in each `day=` directory of the export at `out`. */
  private def filesPerDay(out: String): Seq[Int] =
    Files.list(Paths.get(s"$out/data")).iterator().asScala.filter(_.getFileName.toString.startsWith("day="))
      .map(d => Files.list(d).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))).toSeq

  test("a failed write leaves the previous export, its side files and the caller's files byte-identical") {
    val out = Files.createTempDirectory("graft_sink_fail").toString
    Files.writeString(Paths.get(s"$out/README"), "the caller's own file")
    val audit = ParquetSink.writeByDay(purchases, out,
      Map("schema.json" -> Some("v1"), "schema.asvc" -> Some("a1")))
    assert(audit.values.sum === purchases.count())
    assert(Files.readString(Paths.get(s"$out/schema.asvc")) === "a1")
    val before = snapshot(out)
    assert(before.keys.exists(_.startsWith("data/day=")) && before.contains("schema.json"))

    val last = purchases.agg(max(col("event_id"))).head().getLong(0)
    val e = intercept[Exception] {
      ParquetSink.writeByDay(failingAt(purchases, last), out,
        Map("schema.json" -> Some("v2"), "schema.asvc" -> None))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(t =>
      String.valueOf(t.getMessage).contains("injected")), e)
    assert(snapshot(out) === before)
    assert(staged(out).isEmpty, "the staging directory is removed")
  }

  test("a write task that fails after the day shuffle leaves the previous export byte-identical") {
    val out = Files.createTempDirectory("graft_sink_task").toString
    ParquetSink.writeByDay(purchases, out, Map("schema.json" -> Some("v1")))
    val before = snapshot(out)
    // LZO is a Parquet codec name whose Hadoop codec is not on the class
    // path: every write task fails as it opens its file, after the shuffle
    val key  = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "lzo")
      intercept[Exception](ParquetSink.writeByDay(purchases, out, Map("schema.json" -> Some("v2"))))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(snapshot(out) === before)
    assert(staged(out).isEmpty)
  }

  test("a failed first export leaves no data directory") {
    val out  = Files.createTempDirectory("graft_sink_first").toString
    val last = purchases.agg(max(col("event_id"))).head().getLong(0)
    intercept[Exception] {
      ParquetSink.writeByDay(failingAt(purchases, last), out, Map("schema.json" -> Some("v1")))
    }
    assert(Files.list(Paths.get(out)).count() === 0L, snapshot(out).keys.mkString(", "))
  }

  test("a failed pipeline export leaves the previous export byte-identical") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink_pipeline").toString
    Pipeline.exportEvents(purchases, out, "purchase", None).collect()
    val before = snapshot(out)
    assert(Seq("schema.json", "schema.asvc").forall(before.contains))
    // an id outside the 100-row schema sample: the sample runs, the write throws
    val sample = purchases.orderBy($"event_id").limit(100).select($"event_id").as[Long].collect().toSet
    val last   = purchases.agg(max($"event_id")).head().getLong(0)
    assert(!sample.contains(last))
    // the failing export samples a renamed field, so its schema files differ too
    val renamed = purchases.withColumn("props", regexp_replace($"props", "\"k\"", "\"k2\""))
    intercept[Exception] {
      Pipeline.exportEvents(failingAt(renamed, last), out, "purchase", None).collect()
    }
    assert(snapshot(out) === before)
    assert(staged(out).isEmpty)
  }

  test("a day over the advisory partition size is split across files; rows and audit stay exact") {
    import spark.implicits._
    // 8 UTC days of 2,500 rows from 4 map tasks, each row carrying 128 bytes of padding
    val ev = spark.range(0, 20000, 1, 4).select(
      $"id".as("event_id"),
      timestamp_seconds(lit(1699920000L) + ($"id" % 8) * 86400 + $"id" % 3600).as("ts"),
      sha2($"id".cast("string"), 512).as("pad"))
    val truth = ev.groupBy(to_date($"ts").cast("string")).count().as[(String, Long)].collect()
      .map { case (d, n) => Option(d) -> n }.toMap
    val key  = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    val out  = Files.createTempDirectory("graft_sink_split").toString
    val audit =
      try {
        spark.conf.set(key, "64KB")
        ParquetSink.writeByDay(ev, out)
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(audit === truth)
    val files = filesPerDay(out)
    assert(files.size === 8 && files.max > 1, s"files per day: $files")
    val back = spark.read.parquet(s"$out/data").select($"event_id", $"ts", $"pad")
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("at the default advisory size each day is one file") {
    val out = Files.createTempDirectory("graft_sink_one").toString
    ParquetSink.writeByDay(purchases, out)
    val files = filesPerDay(out)
    assert(files.nonEmpty && files.forall(_ == 1), s"files per day: $files")
  }

  test("q53 runs only its write: the audit reads nothing back") {
    import spark.implicits._
    ParquetSink.sinkAudit(spark, sf).collect()
    val (rows, jobs) = jobsOf(ParquetSink.sinkAudit(spark, sf).collect())
    assert(jobs.size <= 2, s"the write's shuffle and write jobs only: ${jobs.size}")
    val executions = jobs.map(j => Option(j.properties).map(_.getProperty("spark.sql.execution.id"))).distinct
    assert(executions.size === 1 && executions.head.isDefined, s"one SQL execution, the write: $executions")
    val truth = purchases.groupBy(to_date($"ts").as("day")).count().orderBy($"day").collect().toSeq
    assert(rows.toSeq === truth)
  }
}
