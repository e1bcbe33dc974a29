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

/** Idempotent partition-scoped re-ingest (dynamic partition overwrite). */
class IncrementalIngestSpec extends SparkSpec {
  test("re-ingesting one day rewrites only that partition, idempotently") {
    import spark.implicits._
    import graft.sources.ParquetSink
    val out = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val ev  = Tables.events(spark, sf).filter($"event_type" === "purchase")
    // initial full load
    ParquetSink.overwriteDayPartitions(spark, ev, out)
    val before = spark.read.parquet(out).groupBy($"day").count().as[(java.sql.Date, Long)].collect().toMap
    assert(before.nonEmpty)
    // pick one day, re-ingest ONLY that day's slice (a corrected backfill)
    val day = before.keys.minBy(_.getTime)
    val delta = ev.filter(to_date($"ts") === lit(day))
    ParquetSink.overwriteDayPartitions(spark, delta, out)
    val after = spark.read.parquet(out).groupBy($"day").count().as[(java.sql.Date, Long)].collect().toMap
    assert(after === before, "dynamic overwrite must leave untouched partitions intact and be idempotent")
    // the rewritten day is exactly one file (repartition(day) layout)
    val dayDir = new java.io.File(s"$out/day=$day")
    val files = Option(dayDir.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1, s"one file per partition, got ${files.length}")
  }
}
