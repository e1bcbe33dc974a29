package graft

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** End-to-end reference-workflow pipeline + foreachBatch streaming sink. */
class PipelineSpec extends SparkSpec {

  test("export pipeline round-trips: audit equals source counts, schema persisted") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val audit = Pipeline.exportByType(spark, sf, out, "purchase", 30).cache()
    assert(audit.count() > 0)
    assert(audit.agg(sum($"n_dead")).head().getLong(0) === 0L, "clean data has no dead letters")
    // schema persisted and re-readable (O9 parity)
    val st = org.apache.spark.sql.types.DataType
      .fromJson(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/schema.json")))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.contains("k"))
    // the exported data re-reads with the decoded column present
    val back = spark.read.parquet(s"$out/data")
    assert(back.columns.contains("k") && back.columns.contains("day"))
    assert(back.count() === audit.agg(sum($"n_rows")).head().getLong(0))
  }

  test("a malformed first sample neither fails the export nor renders the .asvc") {
    import spark.implicits._
    val purchases = Tables.events(spark, sf).where($"event_type" === "purchase")
    val first     = purchases.agg(min($"event_id")).head().getLong(0)
    val truncated = purchases.withColumn("props",
      when($"event_id" === first, lit("""{"k": 8""")).otherwise($"props"))
    val out = java.nio.file.Files.createTempDirectory("graft_pipe_bad_first").toString
    val audit = Pipeline.exportEvents(truncated, out, "purchase", None)
    assert(audit.agg(sum($"n_dead")).head().getLong(0) === 1L, "the truncated props is a dead letter")
    val second = purchases.where($"event_id" > first).orderBy($"event_id").select($"props").as[String].head()
    val asvc = java.nio.file.Paths.get(s"$out/schema.asvc")
    assert(java.nio.file.Files.readString(asvc) ===
      graft.sources.AvroAsvc.fromSampleJson("purchase", second), "the .asvc renders the first object sample")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/schema.json")))

    // no sample parses (the 100 lowest ids are all malformed): schema.json
    // is still written, no .asvc (the stale one goes)
    val sampleIds = purchases.orderBy($"event_id").limit(100).select($"event_id").as[Long].collect()
    val badSample = purchases.withColumn("props",
      when($"event_id".isin(sampleIds.toIndexedSeq: _*), lit("not json")).otherwise($"props"))
    Pipeline.exportEvents(badSample, out, "purchase", None).collect()
    assert(!java.nio.file.Files.exists(asvc))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/schema.json")))
  }

  test("without a window bound, null-ts rows are audited under the null day") {
    import spark.implicits._
    // every 10th purchase loses its ts, every 20th also its props: the
    // null day holds exported rows and dead letters, and its audit row
    // must count both (a plain equi-join on day never matches null)
    val purchases = Tables.events(spark, sf).where($"event_type" === "purchase")
    val ev = purchases
      .withColumn("ts", when($"event_id" % 10 === 0, lit(null).cast("timestamp")).otherwise($"ts"))
      .withColumn("props", when($"event_id" % 20 === 0, lit("not json")).otherwise($"props"))
    val nullTs   = purchases.where($"event_id" % 10 === 0).count()
    val nullDead = purchases.where($"event_id" % 20 === 0).count()
    assert(nullTs > nullDead && nullDead > 0)
    val out   = java.nio.file.Files.createTempDirectory("graft_pipe_null_ts").toString
    val audit = Pipeline.exportEvents(ev, out, "purchase", None).collect()
    val nullDay = audit.filter(_.isNullAt(0))
    assert(nullDay.length === 1, audit.mkString(", "))
    assert(nullDay.head.getAs[Long]("n_rows") === nullTs - nullDead)
    assert(nullDay.head.getAs[Long]("n_dead") === nullDead)
    assert(audit.map(r => r.getAs[Long]("n_rows") + r.getAs[Long]("n_dead")).sum === purchases.count())
  }

  /** Per-day (n_rows, n_dead) of an audit, keyed by the day's string. */
  private def byDay(audit: Array[org.apache.spark.sql.Row]): Map[Option[String], (Long, Long)] =
    audit.map(r => Option(r.getDate(0)).map(_.toString) -> (r.getLong(1), r.getLong(2))).toMap

  test("a day whose rows are all dead letters reports n_rows = 0 and n_dead = n_win") {
    import spark.implicits._
    val purchases = Tables.events(spark, sf).where($"event_type" === "purchase")
    val perDay = purchases.groupBy(to_date($"ts").cast("string")).count()
      .as[(String, Long)].collect().toMap
    val dead = perDay.keys.flatMap(Option(_)).max
    val ev = purchases.withColumn("props",
      when(to_date($"ts").cast("string") === dead, lit("not json")).otherwise($"props"))
    val out   = java.nio.file.Files.createTempDirectory("graft_pipe_dead_day").toString
    val audit = byDay(Pipeline.exportEvents(ev, out, "purchase", None).collect())
    assert(audit === perDay.map { case (d, n) => Option(d) -> (if (d == dead) (0L, n) else (n, 0L)) })
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/data/day=$dead")),
      "an all-dead day writes no directory")
  }

  test("the footer counts skip what Spark's reader skips: checksums, _SUCCESS, hidden files") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft_pipe_footers").toString
    Pipeline.exportByType(spark, sf, out, "purchase", 30).collect()
    val data = Paths.get(s"$out/data")
    assert(Files.exists(data.resolve("_SUCCESS")))
    val dayDir = Files.list(data).filter(_.getFileName.toString.startsWith("day=")).findFirst().get()
    val files  = Files.list(dayDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(files.exists(_.getFileName.toString.endsWith(".crc")), "the write leaves checksum files")
    // two readable copies of a data file that the reader must not count
    val part = files.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, dayDir.resolve("_copy.parquet"))
    Files.copy(part, dayDir.resolve(".copy.parquet"))
    val viaReader = spark.read.parquet(data.toString).groupBy($"day").count()
      .collect().map(r => Option(r.getDate(0)).map(_.toString) -> r.getLong(1)).toMap
    assert(graft.sources.ParquetSink.footerRowsByDay(spark, data.toString) === viaReader)
  }

  test("the audit's columns are a nullable date day and non-null long counts") {
    import org.apache.spark.sql.types._
    val out = java.nio.file.Files.createTempDirectory("graft_pipe_schema").toString
    assert(Pipeline.exportByType(spark, sf, out, "purchase", 30).schema === StructType(Seq(
      StructField("day", DateType, nullable = true),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_dead", LongType, nullable = false))))
  }

  test("a nested first sample exports every row, over Parquet and over the stub, without an .asvc") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val purchases = Tables.events(spark, sf).where($"event_type" === "purchase")
    val first     = purchases.agg(min($"event_id")).head().getLong(0)
    val ev = purchases.withColumn("props", when($"event_id" === first,
      lit("""{"k": 8, "tags": ["a", "b"], "geo": {"lat": 1.5}}""")).otherwise($"props")).cache()
    val truth = ev.groupBy(to_date($"ts").cast("string")).count().as[(String, Long)].collect()
      .map { case (d, n) => Option(d) -> (n, 0L) }.toMap
    val srv = graft.sources.es.EsStubServer.fromDataFrame(ev, "events")
    srv.start()
    try {
      val overEs = spark.read.format("graft.sources.es.EsScrollSource").schema(ev.schema)
        .option("url", srv.url).option("index", "events").load()
      Seq("parquet" -> ev, "stub" -> overEs).foreach { case (source, in) =>
        val out  = Files.createTempDirectory(s"graft_pipe_nested_$source").toString
        val asvc = Paths.get(s"$out/schema.asvc")
        Files.writeString(asvc, "stale")
        val audit = byDay(Pipeline.exportEvents(in, out, "purchase", None).collect())
        assert(audit === truth, source)
        val st = org.apache.spark.sql.types.DataType
          .fromJson(Files.readString(Paths.get(s"$out/schema.json")))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        assert(Seq("k", "tags", "geo").forall(st.fieldNames.contains), s"$source: $st")
        assert(!Files.exists(asvc), s"$source: a nested sample renders no .asvc")
        val back = spark.read.parquet(s"$out/data")
        // the files hold the event columns, the schema.json fields and the
        // day partition: not the dead-letter split's `_corrupt` marker
        assert(back.columns.toSeq === Seq("event_id", "user_id", "ts", "value") ++ st.fieldNames :+ "day",
          source)
        assert(back.count() === ev.count(), source)
        assert(back.where($"event_id" === first).select($"geo.lat", $"tags").head() ===
          org.apache.spark.sql.Row(1.5, Seq("a", "b")), source)
      }
    } finally {
      srv.stop()
      ev.unpersist()
    }
  }

  test("alongside: the side runs on its own thread with the caller's local properties; failures surface as thrown") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.spec.key", "caller")
    try {
      val caller = Thread.currentThread()
      val (seen, main) = Pipeline.alongside(spark) {
        (Thread.currentThread() ne caller, sc.getLocalProperty("graft.spec.key"))
      }("main")
      assert(seen === (true, "caller") && main === "main")

      val sideFailure = new IllegalStateException("side")
      assert(intercept[IllegalStateException] {
        Pipeline.alongside(spark)(throw sideFailure)("main")
      } eq sideFailure, "the side's own exception, not a wrapper")

      // main fails: its exception wins, and the side has finished first
      val mainFailure = new IllegalArgumentException("main")
      val sideDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      assert(intercept[IllegalArgumentException] {
        Pipeline.alongside(spark) { Thread.sleep(200); sideDone.set(true) } { throw mainFailure }
      } eq mainFailure)
      assert(sideDone.get(), "the side is joined before the call returns")
      assert(intercept[IllegalArgumentException] {
        Pipeline.alongside(spark)(throw sideFailure)(throw mainFailure)
      } eq mainFailure)
    } finally sc.setLocalProperty("graft.spec.key", null)
  }

  test("foreachBatch parquet sink appends each micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = MemoryStream[(Timestamp, Long)]
    val q = in
      .toDF()
      .toDF("ts", "user_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
      }
      .start()
    try {
      in.addData((new Timestamp(1000), 1L), (new Timestamp(2000), 2L))
      q.processAllAvailable()
      in.addData((new Timestamp(3000), 3L))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() === 3)
      assert(back.select($"batch_id").distinct().count() === 2)
      // checkpoint recorded progress (offsets/commits written)
      assert(new java.io.File(s"$ckpt/commits").list().nonEmpty)
    } finally q.stop()
  }

  test("sortWithinPartitions orders rows inside each partition without a global sort") {
    import spark.implicits._
    val df = Tables
      .lineitem(spark, sf)
      .select($"l_orderkey", $"l_quantity")
      .repartition(4, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey", $"l_quantity")
    val violations = df
      .mapPartitions { it =>
        val rows = it.map(r => (r.getLong(0), r.getDouble(1))).toSeq
        Iterator.single(if (rows == rows.sorted) 0 else 1)
      }
      .reduce(_ + _)
    assert(violations === 0, "each partition must be locally sorted")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange rangepartitioning"),
      "no global range-partitioned sort may appear")
  }
}
