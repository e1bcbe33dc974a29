package graft

import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Real Structured Streaming behavior: the batch-verified transforms run on
  * a MemoryStream with watermarks, late data, and custom state. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp = new Timestamp(minute * 60000L)

  test("tumbling window counts over a stream match batch semantics") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val ev = in.toDF().toDF("ts", "user_id")
    val q = Streaming
      .tumblingCountsWithWatermark(ev)
      .writeStream
      .format("memory")
      .queryName("tumbling_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      in.addData((ts(5), 1L), (ts(10), 2L), (ts(65), 1L), (ts(70), 1L))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test").orderBy($"win_start_us").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Long]("n") === 2 && rows(0).getAs[Long]("n_users") === 2)
      assert(rows(1).getAs[Long]("n") === 2 && rows(1).getAs[Long]("n_users") === 1)
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in    = MemoryStream[(Long, Double)]
    val ev    = in.toDF().toDF("user_id", "value")
    val tiers = Seq((1L, "tier_1"), (2L, "tier_2"), (6L, "tier_1")).toDF("user_id", "tier")
    val q = Streaming
      .tierEnrich(ev, tiers)
      .writeStream
      .format("memory")
      .queryName("tier_enrich_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      // second micro-batch joins the SAME static dim; user 7 has no tier
      // row and must be dropped by the inner join, not nulled in
      in.addData((6L, 3.0), (7L, 9.0))
      q.processAllAvailable()
      val rows = spark
        .table("tier_enrich_test")
        .orderBy($"tier")
        .collect()
        .map(r => (r.getAs[String]("tier"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSeq
      assert(rows === Seq(("tier_1", 2L, 4.0), ("tier_2", 1L, 2.0)))
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val ev = in.toDF().toDF("ts", "user_id")
    val q = Streaming
      .tumblingCountsWithWatermark(ev)
      .writeStream
      .format("memory")
      .queryName("late_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((ts(5), 1L), (ts(30), 2L))
      q.processAllAvailable()
      // advance watermark far past hour 0 (wm = 200min - 10min >> 60min)
      in.addData((ts(200), 3L))
      q.processAllAvailable()
      // hour-0 window is now closed and emitted; a very late event must not reopen it
      in.addData((ts(6), 9L))
      q.processAllAvailable()
      val hour0 = spark.table("late_test").filter($"win_start_us" === 0L).collect()
      assert(hour0.length === 1)
      assert(hour0(0).getAs[Long]("n") === 2, "late event beyond watermark must be dropped")
    } finally q.stop()
  }

  test("session_window sessionizes a stream (gap merge + split)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val ev = in.toDF().toDF("ts", "user_id")
    val q = Streaming
      .sessionizeWithWatermark(ev)
      .writeStream
      .format("memory")
      .queryName("session_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      // user 1: events 0min,10min (one session), 60min (new session: gap >= 30)
      in.addData((ts(0), 1L), (ts(10), 1L), (ts(60), 1L))
      q.processAllAvailable()
      val rows = spark.table("session_test").orderBy($"session_start_us").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Long]("n_events") === 2)
      assert(rows(0).getAs[Long]("session_end_us") === (10 * 60 + 30 * 60) * 1000000L)
      assert(rows(1).getAs[Long]("n_events") === 1)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    val q = Streaming
      .runningCountPerUser(in.toDS())
      .writeStream
      .format("memory")
      .queryName("state_test")
      .outputMode(OutputMode.Update())
      .start()
    try {
      in.addData(1L, 1L, 2L)
      q.processAllAvailable()
      in.addData(1L, 2L, 2L)
      q.processAllAvailable()
      val latest = spark
        .table("state_test")
        .groupBy($"user_id")
        .agg(max($"n").as("n"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert(latest === Map(1L -> 3L, 2L -> 3L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups repeats across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Long)]
    val ev = in.toDF().toDF("event_id", "ts", "user_id")
    val q = graft.streaming.Streaming
      .dedupStream(ev)
      .writeStream
      .format("memory")
      .queryName("dedup_stream_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((1L, ts(1), 10L), (2L, ts(2), 11L), (1L, ts(1), 10L))
      q.processAllAvailable()
      in.addData((1L, ts(3), 10L), (3L, ts(4), 12L)) // event 1 repeats within watermark
      q.processAllAvailable()
      val ids = spark.table("dedup_stream_test").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState closes sessions via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val ev = in.toDF().toDF("ts", "user_id")
    val q = graft.streaming.Streaming
      .statefulSessions(ev)
      .writeStream
      .format("memory")
      .queryName("stateful_session_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 2L))
      q.processAllAvailable()
      // advance watermark far beyond the 30-minute timeout -> sessions close
      in.addData((ts(500), 99L))
      q.processAllAvailable()
      in.addData((ts(1000), 99L)) // one more advance to flush timeouts
      q.processAllAvailable()
      val rows = spark.table("stateful_session_test")
        .filter($"closed")
        .select($"user_id", $"n_events").as[(Long, Long)].collect().toMap
      assert(rows.get(1L) === Some(2L))
      assert(rows.get(2L) === Some(1L))
    } finally q.stop()
  }

  test("file-replay stream plans as a streaming source") {
    val stream = Streaming.replayStream(spark, sf)
    assert(stream.isStreaming)
  }

  test("file-replay tumbling counts equal the batch result end-to-end") {
    import spark.implicits._
    val stream = Streaming.tumblingCounts(Streaming.replayStream(spark, sf))
    val q = stream.writeStream
      .format("memory")
      .queryName("replay_test")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay_test").select($"win_start_us", $"n")
      val batch    = Streaming.tumblingCounts(Tables.events(spark, sf)).select($"win_start_us", $"n")
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("stream-stream interval join attributes views to purchases like batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vIn = MemoryStream[(Long, Timestamp, Long)] // (v_user, v_ts, view_id)
    val pIn = MemoryStream[(Long, Timestamp, Long)] // (p_user, p_ts, purchase_id)
    val views     = vIn.toDF().toDF("v_user", "v_ts", "view_id")
    val purchases = pIn.toDF().toDF("p_user", "p_ts", "purchase_id")
    val q = Streaming
      .purchaseAttributionJoinStream(views, purchases)
      .select($"purchase_id", $"view_id")
      .writeStream
      .format("memory")
      .queryName("attr_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // user 1: views at 10' and 30', purchase at 40' → both attributed;
      // view at 110' is AFTER the purchase → not attributed;
      // user 2: view at 5', purchase at 90' → outside the 1 h window
      vIn.addData((1L, ts(10), 100L), (1L, ts(30), 101L), (1L, ts(110), 102L), (2L, ts(5), 200L))
      pIn.addData((1L, ts(40), 900L), (2L, ts(90), 901L))
      q.processAllAvailable()
      val got = spark.table("attr_test").as[(Long, Long)].collect().toSet
      assert(got === Set((900L, 100L), (900L, 101L)))
    } finally q.stop()
  }

  test("streaming dead-letter split isolates malformed records per epoch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream_dlq").toString
    val in   = MemoryStream[(Long, String)]
    val ev   = in.toDF().toDF("event_id", "payload")
    val q = Streaming.deadLetterSplitStream(
      ev,
      "payload",
      "k BIGINT",
      s"$root/good",
      s"$root/dead",
      s"$root/ckpt"
    )
    try {
      // epoch 0: two valid, one malformed, one null payload
      in.addData((1L, """{"k":10}"""), (2L, "{not json"), (3L, """{"k":30}"""), (4L, null))
      q.processAllAvailable()
      // epoch 1: all valid — proves the multi-epoch layout and that an
      // empty dead-letter epoch still commits cleanly
      in.addData((5L, """{"k":50}"""))
      q.processAllAvailable()
      val good = spark.read.parquet(s"$root/good")
      val dead = spark.read.parquet(s"$root/dead")
      assert(good.count() === 3)
      assert(dead.count() === 2)
      // good side carries the DECODED struct; values survive
      val ks = good.select($"event_id", $"decoded.k").as[(Long, Long)].collect().toMap
      assert(ks === Map(1L -> 10L, 3L -> 30L, 5L -> 50L))
      // dead side preserves the RAW record for replay (null stays null)
      val raw = dead.select($"event_id", $"payload").as[(Long, String)].collect().toMap
      assert(raw === Map(2L -> "{not json", 4L -> null))
      // both sides are epoch-partitioned — the idempotent-replay unit
      assert(good.select($"epoch").distinct().as[Long].collect().toSet === Set(0L, 1L))
      assert(dead.filter($"epoch" === 0L).count() === 2)
    } finally q.stop()
  }

  test("streaming near-dup registry carries band state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "an entirely different document about spark structured streaming state"
    val in    = MemoryStream[(Long, String)]
    val docs  = in.toDF().toDF("doc_id", "text")
    val q = Streaming
      .nearDupBandMins(docs)
      .toDF("bkey", "min_id")
      .writeStream
      .format("memory")
      .queryName("neardup_state_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((10L, textA), (11L, textB))
      q.processAllAvailable()
      val batch1 = spark.table("neardup_state_test").collect().length
      // batch 2: an exact duplicate of doc 10 with a larger id — its band
      // emissions must report the CROSS-BATCH minimum 10, not 1000010
      in.addData((1000010L, textA))
      q.processAllAvailable()
      val aBkeys = Streaming
        .nearDupBandsBatch(Seq((10L, textA)).toDF("doc_id", "text"))
        .select($"bkey")
        .as[String]
        .collect()
        .toSet
      assert(aBkeys.size === 4, "expected 4 band keys per document")
      val all = spark.table("neardup_state_test").as[(String, Long)].collect()
      val batch2 = all.drop(batch1)
      assert(batch2.nonEmpty && batch2.forall { case (k, m) => aBkeys.contains(k) && m === 10L },
        s"batch-2 emissions must carry the batch-1 minimum for textA's buckets: ${batch2.mkString(", ")}")
      // registry-final reduction: every textA bucket bottoms out at 10
      val finalMins = all.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      assert(aBkeys.forall(k => finalMins.get(k).contains(10L)))
    } finally q.stop()
  }

  // the TTL tests keep event time off epoch 0: the initial watermark is 0
  // and rows at ts <= watermark are dropped as late before the state op
  private def hts(minute: Int): Timestamp = new Timestamp(3600000L + minute * 60000L)

  test("TTL'd near-dup registry detects within the horizon, expires idle buckets, re-detects fresh") {
    import spark.implicits._
    import scala.concurrent.duration._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "an entirely different document about spark structured streaming state"
    val in    = MemoryStream[(Long, Timestamp, String)]
    val docs  = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streaming
      .nearDupBandMinsTtl(docs, horizon = 10.minutes)
      .toDF("bkey", "min_id")
      .writeStream
      .format("memory")
      .queryName("neardup_ttl_test")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val aBkeys = Streaming
        .nearDupBandsBatch(Seq((10L, textA)).toDF("doc_id", "text"))
        .select($"bkey")
        .as[String]
        .collect()
        .toSet
      def emitted() = spark.table("neardup_ttl_test").as[(String, Long)].collect()

      // batch 1: doc 10 registers textA's buckets; watermark → t0
      in.addData((10L, hts(0), textA))
      q.processAllAvailable()
      val n1 = emitted().length
      // batch 2 (t+5min, INSIDE the horizon): dup detected — emissions
      // carry the cross-batch minimum 10, exactly like the NoTimeout op
      in.addData((11L, hts(5), textA))
      q.processAllAvailable()
      val batch2 = emitted().drop(n1)
      assert(batch2.nonEmpty && batch2.forall { case (k, m) => aBkeys.contains(k) && m === 10L },
        s"within-horizon dup must see min 10: ${batch2.mkString(", ")}")
      // batches 3-4: unrelated docs push the watermark 2 h ahead; textA's
      // buckets (timeout = last arrival t5 + 10 min) expire in between
      in.addData((20L, hts(120), textB))
      q.processAllAvailable()
      in.addData((21L, hts(121), textB))
      q.processAllAvailable()
      val n4 = emitted().length
      // batch 5: textA re-arrives AFTER expiry — re-registered as a NEW
      // first (min = its own id), proving the state was actually removed
      in.addData((1000010L, hts(125), textA))
      q.processAllAvailable()
      val batch5 = emitted().drop(n4).filter { case (k, _) => aBkeys.contains(k) }
      assert(batch5.nonEmpty && batch5.forall { case (_, m) => m === 1000010L },
        s"post-expiry re-arrival must be fresh (min = own id): ${batch5.mkString(", ")}")
    } finally q.stop()
  }

  test("TTL'd registry equals the unbounded registry while all arrivals fit the horizon") {
    import spark.implicits._
    import scala.concurrent.duration._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "an entirely different document about spark structured streaming state",
      "a third corpus document mentioning training data pipelines at scale"
    )
    // batches span 20 minutes of event time — inside the 10-hour horizon,
    // so eviction never fires and the TTL op must be semantics-preserving:
    // its final per-bucket minima equal the NoTimeout registry's exactly
    def finalMins(run: MemoryStream[(Long, Timestamp, String)] => org.apache.spark.sql.streaming.StreamingQuery,
                  table: String): Map[String, Long] = {
      val in = MemoryStream[(Long, Timestamp, String)]
      val q  = run(in)
      try {
        in.addData((10L, hts(0), texts(0)), (11L, hts(1), texts(1)))
        q.processAllAvailable()
        in.addData((1000010L, hts(10), texts(0)), (12L, hts(11), texts(2)))
        q.processAllAvailable()
        in.addData((1000011L, hts(20), texts(1)))
        q.processAllAvailable()
        spark.table(table).as[(String, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      } finally q.stop()
    }
    val ttl = finalMins(
      in =>
        Streaming
          .nearDupBandMinsTtl(in.toDF().toDF("doc_id", "ts", "text"), horizon = 10.hours)
          .toDF("bkey", "min_id")
          .writeStream.format("memory").queryName("ttl_equiv_a").outputMode(OutputMode.Append()).start(),
      "ttl_equiv_a"
    )
    val unbounded = finalMins(
      in =>
        Streaming
          .nearDupBandMins(in.toDF().toDF("doc_id", "ts", "text").select($"doc_id", $"text"))
          .toDF("bkey", "min_id")
          .writeStream.format("memory").queryName("ttl_equiv_b").outputMode(OutputMode.Append()).start(),
      "ttl_equiv_b"
    )
    assert(ttl === unbounded, "within the horizon the TTL op must reproduce the unbounded registry exactly")
  }

  test("at-arrival near-dup flags judge each doc against the registry as of its arrival") {
    import spark.implicits._
    import scala.concurrent.duration._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "an entirely different document about spark structured streaming state"
    val in    = MemoryStream[(Long, Timestamp, String)]
    val docs  = in.toDF().toDF("doc_id", "ts", "text")
    // the documented deployment shape: per-batch reduce inside foreachBatch
    val verdicts = scala.collection.mutable.Map[Long, (Boolean, Option[Long])]()
    val q = Streaming
      .nearDupAtArrivalFlags(docs, horizon = 10.minutes)
      .toDF()
      .writeStream
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("graft_atarrival").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Streaming
          .atArrivalVerdicts(batch)
          .collect()
          .foreach { r =>
            verdicts(r.getAs[Long]("doc_id")) =
              (r.getAs[Boolean]("is_dup_at_arrival"), Option(r.getAs[java.lang.Long]("first_match")).map(_.toLong))
          }
        ()
      }
      .start()
    try {
      // batch 1: 10 and 12 are same-batch dups (12 arrives after 10 in
      // (ts, doc_id) order); 11 is unrelated
      in.addData((10L, hts(0), textA), (12L, hts(1), textA), (11L, hts(0), textB))
      q.processAllAvailable()
      assert(verdicts(10L) === ((false, None)), "the first arrival is never flagged")
      assert(verdicts(12L) === ((true, Some(10L))), "same-batch later arrival flags against the earlier")
      assert(verdicts(11L) === ((false, None)))
      // batch 2: cross-batch dup within the horizon
      in.addData((1000010L, hts(5), textA))
      q.processAllAvailable()
      assert(verdicts(1000010L) === ((true, Some(10L))), "cross-batch dup flags at arrival")
      assert(verdicts(10L) === ((false, None)), "the original is never retroactively flagged")
      // advance the watermark far past the horizon, let textA's state expire
      in.addData((30L, hts(120), textB))
      q.processAllAvailable()
      in.addData((31L, hts(121), textB))
      q.processAllAvailable()
      // post-expiry re-arrival: the gate treats it as fresh
      in.addData((2000000L, hts(125), textA))
      q.processAllAvailable()
      assert(verdicts(2000000L) === ((false, None)), "post-expiry arrival is fresh at the gate")
    } finally q.stop()
  }

  test("image at-arrival gate (q181 core): decoded pHash bands through the shared registry") {
    import spark.implicits._
    import scala.concurrent.duration._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real PNGs encoded in-test: A and its +1-pixel near-dup A' (same
    // average-hash by construction on a flat raster), and an unrelated B
    def png(base: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val v = (base + (x * 31 + y * 17)) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val a  = png(10)
    val a2 = png(11) // +1 shift: same threshold pattern -> same hash bands
    val b  = png(200)
    val in = MemoryStream[(Long, Timestamp, Array[Byte])]
    val verdicts = scala.collection.mutable.Map[Long, (Boolean, Option[Long])]()
    val q = Streaming
      .imagePhashAtArrivalFlags(in.toDF().toDF("doc_id", "ts", "img"), horizon = 10.minutes)
      .toDF()
      .writeStream
      .option("checkpointLocation", java.nio.file.Files.createTempDirectory("graft_imggate").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Streaming
          .atArrivalVerdicts(batch)
          .collect()
          .foreach { r =>
            verdicts(r.getAs[Long]("doc_id")) =
              (r.getAs[Boolean]("is_dup_at_arrival"), Option(r.getAs[java.lang.Long]("first_match")).map(_.toLong))
          }
        ()
      }
      .start()
    try {
      in.addData((10L, hts(0), a), (11L, hts(0), b))
      q.processAllAvailable()
      assert(verdicts(10L) === ((false, None)), "first image is never flagged")
      assert(verdicts(11L) === ((false, None)), "unrelated image passes")
      // cross-batch: the exact copy AND the near-dup re-encode both flag
      // against the original
      in.addData((1000010L, hts(5), a), (1000011L, hts(5), a2))
      q.processAllAvailable()
      assert(verdicts(1000010L) === ((true, Some(10L))), "exact image copy flags at arrival")
      assert(verdicts(1000011L) === ((true, Some(10L))), "near-dup re-encode flags via shared bands")
      assert(verdicts(10L) === ((false, None)), "original never retroactively flagged")
    } finally q.stop()
  }

  test("near-dup registry: keyed state survives stop/restart on one checkpoint") {
    // The 100 TB deployment claim behind every streaming operator is that a
    // query can be STOPPED and RESUMED from its checkpoint with state
    // intact. Drive the real file-source path: run the band registry over
    // two files, stop the query, add two more files (one a cross-restart
    // duplicate of a pre-restart doc), start a NEW query on the SAME
    // checkpoint, and require (a) the second run resumes at the next batch
    // id instead of reprocessing, and (b) the reduced final registry
    // equals the batch LSH registry over all four files — which can only
    // happen if the pre-restart keyed state was restored (the duplicate's
    // bucket minimum is its pre-restart partner's id).
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_restart").toString
    val in   = s"$root/in"
    Files.createDirectories(Paths.get(in))
    def docText(id: Long): String =
      (0 until 40).map(j => java.lang.Long.toHexString(id * 40L + j + 0x51f15e5L)).mkString(" ")
    def writeFile(name: String, ids: Seq[Long], texts: Seq[String]): Unit = {
      val tmp = s"$root/.tmp_$name"
      ids.zip(texts).toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(in, s"$name.parquet"))
      graft.sources.ParquetSink.deleteRecursively(tmp)
    }
    def runOnce(): Set[Long] = {
      val stream = spark.readStream
        .schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
      val q = Streaming
        .nearDupBandMins(stream)
        .toDF("bkey", "min_id")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
          b.write.mode("overwrite").parquet(s"$root/out/epoch=$e")
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      new java.io.File(s"$root/out")
        .listFiles()
        .map(_.getName)
        .collect { case s if s.startsWith("epoch=") => s.drop(6).toLong }
        .toSet
    }
    try {
      writeFile("f0", Seq(10L, 11L), Seq(docText(10), docText(11)))
      writeFile("f1", Seq(12L, 13L), Seq(docText(12), docText(13)))
      val epochs1 = runOnce()
      assert(epochs1 === Set(0L, 1L), s"first run processes the two files: $epochs1")
      // f3 duplicates f0's doc 10 — detectable only if state survived
      writeFile("f2", Seq(20L, 21L), Seq(docText(20), docText(21)))
      writeFile("f3", Seq(1000010L), Seq(docText(10)))
      val epochs2 = runOnce()
      assert(epochs2 === Set(0L, 1L, 2L, 3L), s"restart resumes at batch 2, no reprocessing: $epochs2")
      val reg = spark.read
        .parquet(s"$root/out")
        .groupBy($"bkey")
        .agg(min($"min_id").as("m"))
      val expected = Streaming
        .nearDupBandsBatch(spark.read.parquet(in))
        .groupBy($"bkey")
        .agg(min($"doc_id").as("m"))
      assert(reg.join(expected, Seq("bkey", "m"), "full_outer").filter($"m".isNull).count() === 0)
      assert(reg.count() === expected.count(), "registry equals the batch LSH over all four files")
      // the cross-restart duplicate resolved against PRE-restart state
      val dupMins = reg
        .join(Streaming.nearDupBandsBatch(spark.read.parquet(in)).filter($"doc_id" === 1000010L).select($"bkey"), "bkey")
        .select($"m").as[Long].collect()
      assert(dupMins.nonEmpty && dupMins.forall(_ === 10L), s"duplicate's buckets resolve to the pre-restart id: ${dupMins.toSeq}")
    } finally graft.sources.ParquetSink.deleteRecursively(root)
  }

  test("q150 gate audit: at-arrival semantics over the pinned epoch replay") {
    import spark.implicits._
    val out = graft.streaming.Streaming.atArrivalGateAudit(spark, sf).cache()
    val n   = graft.operators.Dedup.docsWithDups(spark, sf).count()
    assert(out.count() === n, "one verdict per document")
    assert(out.filter($"first_match" >= $"doc_id").count() === 0, "a match is always a smaller id")
    // injected pairs (d, d+1M): epoch = (id % 7) % 4, and 1M ≡ 1 mod 7, so
    // copies scatter across earlier/same/later epochs than their originals
    val pairs = out
      .filter($"doc_id" >= 1000000L)
      .select(
        ($"doc_id" - 1000000L).as("doc_id"),
        $"is_dup_at_arrival".as("copy_flagged"),
        (($"doc_id" % 7) % 4).as("ep_copy")
      )
      .join(out.select($"doc_id", (($"doc_id" % 7) % 4).as("ep_orig")), "doc_id")
      .cache()
    // a copy arriving in the SAME OR LATER epoch than its original sees the
    // original already in the registry — always flagged
    assert(pairs.filter($"ep_copy" >= $"ep_orig" && !$"copy_flagged").count() === 0)
    // the at-arrival / batch-dedup divergence: at least one copy landed in
    // an EARLIER epoch than its original and sailed through unflagged (the
    // bucket was fresh at its arrival; q136's registry-final audit flags it)
    assert(pairs.filter($"ep_copy" < $"ep_orig" && !$"copy_flagged").count() > 0)
  }
}
