package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming surface (SURVEY.md §2.2 streaming row).
  *
  * The transforms are written against plain DataFrames so the SAME code runs
  * in batch (declared queries, DuckDB-verifiable) and on a streaming source
  * (`readStream` / MemoryStream — exercised in the test suite with
  * watermarks and state). This is the Spark-idiomatic split: logic is
  * source-agnostic, only the boundary differs.
  *
  * At scale: windowed aggregation shuffles once on (window, key); the
  * session_window agg keys state by user — state-store partitioning is the
  * shuffle partitioning, which is the right plan for an unbounded stream.
  */
object Streaming {

  /** Tumbling 1-hour windows: event counts + distinct users. Streaming
    * aggregation can't do exact distinct (unbounded per-window state), so
    * the stream path uses approx_count_distinct (HLL) — the correct trade
    * at scale; batch keeps the exact count for the oracle. */
  def tumblingCounts(ev: DataFrame, exactDistinct: Boolean = true): DataFrame = {
    val distinctUsers =
      if (exactDistinct) countDistinct(col("user_id")) else approx_count_distinct(col("user_id"))
    ev.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), distinctUsers.as("n_users"))
      .select(unix_micros(col("window.start")).as("win_start_us"), col("n"), col("n_users"))
  }

  /** Sliding 1-hour windows every 30 minutes: each event lands in 2 windows. */
  def slidingCounts(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start_us"), col("n"))

  /** Gap-based sessionization via session_window (30-minute inactivity gap):
    * per (user, session) event count and bounds. Window end = last event +
    * gap (Spark semantics; the oracle reproduces it with a lag/cumsum). */
  def sessionize(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events")
      )

  /** Streaming entry: replay the events table as a file stream (one file =
    * one micro-batch analog of the reference's daily indices). The file
    * source needs a directory + the RAW schema, taken from
    * [[Tables.parquetSchema]]'s cache. Every fixture stores `ts` as
    * `timestamp[us]` and streams as is; a TIMESTAMP(NANOS) file loads as a
    * nanos long under `nanosAsLong` and gets the same ns→µs truncation as
    * [[Tables.events]] (whose copy of the branch `TablesSpec`'s
    * hand-written NANOS file covers). */
  def replayStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.parquetSchema(spark, s"$sfDir/events.parquet")
    val stream = spark.readStream
      .schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(sfDir)
    raw("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => stream
    }
  }

  /** Watermarked variant for unbounded sources (late data beyond 10 minutes
    * dropped; state for closed windows evicted). */
  def tumblingCountsWithWatermark(stream: DataFrame): DataFrame =
    tumblingCounts(stream.withWatermark("ts", "10 minutes"), exactDistinct = false)

  def sessionizeWithWatermark(stream: DataFrame): DataFrame =
    sessionize(stream.withWatermark("ts", "10 minutes"))

  /** Streaming exact dedup: drop repeated event_ids arriving within the
    * watermark horizon — the unbounded form of the batch exact-dedup
    * operator (state for old keys is evicted once the watermark passes,
    * which is what makes dedup feasible on an infinite stream). */
  def dedupStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")

  final case class SessionOut(user_id: Long, n_events: Long, closed: Boolean)

  /** Custom stateful sessionization via flatMapGroupsWithState with an
    * event-time timeout: accumulate per-user counts, emit nothing while the
    * session is open, emit one closed-session row when the watermark passes
    * the timeout — the arbitrary-state API the session_window aggregation
    * compiles to, exposed for logic windows can't express. */
  def statefulSessions(ev: DataFrame): Dataset[SessionOut] = {
    import ev.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    ev.withWatermark("ts", "1 minute")
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.get
            state.remove()
            Iterator.single(SessionOut(user, n, closed = true))
          } else {
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            // close the session 30 min of event time after the last batch
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 30 * 60 * 1000)
            Iterator.empty
          }
      }
  }

  final case class UserCount(user_id: Long, n: Long)

  /** Custom stateful streaming op: running per-user event count across
    * micro-batches via mapGroupsWithState — the KeyValueGroupedDataset
    * state API the checklist's "stateful" row asks for. State is keyed by
    * user; at scale the state store partitions on the group key (one
    * shuffle), the correct unbounded-stream plan. */
  def runningCountPerUser(userIds: Dataset[Long]): Dataset[UserCount] = {
    import userIds.sparkSession.implicits._
    userIds
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserCount(user, n)
      }
  }

  /** Stream-stream interval join (purchase attribution): each purchase
    * joined to the same user's views in the preceding hour, then one
    * aggregate row per purchase. Written source-agnostically: batch runs it
    * as an equi-join on user with a time-range predicate (the declared
    * oracle query); [[purchaseAttributionJoinStream]] is the watermarked
    * unbounded form, where the bounded event-time range is precisely what
    * lets Spark evict join state — the canonical stream-stream join shape. */
  def purchaseAttribution(ev: DataFrame): DataFrame =
    purchaseAttributionJoin(viewsOf(ev), purchasesOf(ev))
      .groupBy(col("purchase_id"))
      .agg(
        count(lit(1)).as("n_views_attributed"),
        max(unix_micros(col("v_ts"))).as("last_view_us")
      )

  private[streaming] def viewsOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("view_id"))

  private[streaming] def purchasesOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))

  private[streaming] def purchaseAttributionJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    purchases.join(
      views,
      expr("p_user = v_user AND v_ts >= p_ts - INTERVAL 1 HOUR AND v_ts < p_ts")
    )

  /** The unbounded form: both sides watermarked, the range condition bounds
    * how long view state must be retained (1 h + watermark delay). */
  def purchaseAttributionJoinStream(views: DataFrame, purchases: DataFrame): DataFrame =
    purchaseAttributionJoin(
      views.withWatermark("v_ts", "10 minutes"),
      purchases.withWatermark("p_ts", "10 minutes")
    )

  /** Stream-STATIC enrichment join: the streaming side joins a bounded
    * dimension that is read once and broadcast to every micro-batch — the
    * canonical lookup-enrichment shape (user → tier here). Unlike
    * stream-stream joins this needs no watermark and keeps NO join state:
    * the static side is just a broadcast hash table per batch, so it holds
    * at any stream rate; the dimension refreshes per micro-batch re-plan.
    * Transform is source-agnostic (same code batch and streaming — the
    * StreamingSpec runs it against a MemoryStream). */
  def tierEnrich(ev: DataFrame, tiers: DataFrame): DataFrame =
    ev.join(broadcast(tiers), Seq("user_id"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.Det.decSum(col("value"), 4).as("sum_value")
      )

  /** The deterministic user→tier dimension (5 tiers by user id residue) —
    * derivable relationally so the oracle can replay the enrichment. */
  def tierDim(ev: DataFrame): DataFrame =
    ev.select(col("user_id"))
      .distinct()
      .withColumn("tier", concat(lit("tier_"), (col("user_id") % 5).cast("string")))

  /** Streaming dead-letter parity with the batch audits (q52 JSON / q128
    * CSV): the SAME splitter — [[graft.sources.JsonDecode.decodeWithDeadLetter]]
    * is pure column logic — applied inside each micro-batch, with BOTH
    * sides written per epoch through foreachBatch. Each side lands in an
    * `epoch=N` subdirectory with overwrite mode, so an epoch replayed
    * after a mid-epoch crash REWRITES its own directories instead of
    * appending duplicates — the idempotent-foreachBatch contract that
    * keeps the two-sink split effectively exactly-once (same epoch
    * discipline as the DSv2 AuditSink's commit log). The dead-letter side
    * keeps the RAW record: the reprocessing contract a large-scale ingest
    * needs (fix the decoder, replay dead letters; never mutate the main
    * sink). A malformed event therefore never fails the micro-batch and
    * never disappears silently. */
  def deadLetterSplitStream(
      stream: DataFrame,
      jsonCol: String,
      schemaDdl: String,
      goodDir: String,
      deadDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val (good, bad) =
          graft.sources.JsonDecode.decodeWithDeadLetter(batch, jsonCol, schemaDdl)
        good
          .withColumn("decoded", col("_parsed").dropFields("_corrupt"))
          .drop("_parsed")
          .write
          .mode("overwrite")
          .parquet(s"$goodDir/epoch=$epoch")
        bad.write.mode("overwrite").parquet(s"$deadDir/epoch=$epoch")
        ()
      }
      .start()

  /** Declared query (q133): [[deadLetterSplitStream]] under the oracle —
    * streaming parity for the batch dead-letter audits (q52 JSON / q128
    * CSV). Event-derived JSON payloads (`event_id % 11 == 0` corrupted,
    * the q52 rule; the rest `{"k":<user_id>}`) are written once per JVM
    * as a 4-file parquet fixture, streamed back with
    * `maxFilesPerTrigger=1` (one file per micro-batch → exactly 4
    * epochs), split through the real foreachBatch two-sink path, and both
    * sinks re-read for the audit: counts, the decoded-value sum (proves
    * values survive decode → epoch-partitioned write → re-read), and the
    * per-side epoch counts (proves the split ran as 4 micro-batch commits,
    * not one batch job). Assumes every round-robin input file carries both
    * valid and corrupt rows — true whenever events has ≥ ~100 rows (the
    * smallest fixture has thousands); guarded by a loud require below.
    * Like q124 the stream runs eagerly and the result is a materialized
    * one-row relation; per-invocation sink/checkpoint dirs are deleted in
    * `finally` — only the memoized input fixture outlives the call. */
  def deadLetterStreamAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val in = graft.sources.ParquetSink.memoFixture(spark, "stream_dlq_in", sfDir) { dir =>
      Tables
        .events(spark, sfDir)
        .select(
          $"event_id",
          when($"event_id" % 11 === 0, lit("{not valid json"))
            .otherwise(concat(lit("{\"k\":"), $"user_id", lit("}")))
            .as("payload")
        )
        .repartition(4)
        .write
        .mode("overwrite")
        .parquet(dir)
    }
    val root = java.nio.file.Files.createTempDirectory("graft_q133").toString
    try {
      val stream = spark.readStream
        .schema("event_id BIGINT, payload STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
      val q = deadLetterSplitStream(
        stream,
        "payload",
        "k BIGINT",
        s"$root/good",
        s"$root/dead",
        s"$root/ckpt"
      )
      try q.processAllAvailable()
      finally q.stop()
      val good = spark.read.parquet(s"$root/good")
      val dead = spark.read.parquet(s"$root/dead")
      // coalesce: sum over an empty good side is NULL, which would NPE the
      // Long encoder here and mask the degenerate-fixture require below
      val (nGood, kSum, epGood) = good
        .agg(
          count(lit(1)),
          coalesce(sum($"decoded.k"), lit(0L)),
          count_distinct($"epoch")
        )
        .as[(Long, Long, Long)]
        .head()
      val (nDead, epDead) = dead
        .agg(count(lit(1)), count_distinct($"epoch"))
        .as[(Long, Long)]
        .head()
      require(
        nGood > 0 && nDead > 0,
        s"q133 fixture degenerate (good=$nGood dead=$nDead) — events slice too small for the %11 corrupt rule"
      )
      Seq((nGood, nDead, kSum, epGood, epDead))
        .toDF("n_good", "n_dead", "k_sum", "n_epochs_good", "n_epochs_dead")
    } finally graft.sources.ParquetSink.deleteRecursively(root)
  }

  /** Streaming MinHash/LSH near-duplicate detection — the q65 candidate
    * machinery moved onto an unbounded stream. Each arriving document is
    * signed per-row (the same compiled minhash kernels as the batch path —
    * a map, so streaming-safe), exploded into its 4 LSH band keys, and fed
    * through keyed state: one Long (minimum doc_id seen) per distinct band
    * bucket, maintained by flatMapGroupsWithState across micro-batches.
    * Each batch emits the bucket's updated running minimum, so the union of
    * all emissions reduces (by min) to the exact bucket registry the batch
    * LSH computes — regardless of how the stream was micro-batched.
    *
    * At scale: state is one Long per distinct band bucket, hash-partitioned
    * across the cluster's state store by the group key (the only shuffle);
    * emission is one row per (bucket, batch) — never per candidate pair, so
    * a hot bucket cannot blow up the stream. This variant keeps state
    * forever (`NoTimeout`) — correct for the bounded replay the declared
    * q136 audit runs, and for whole-corpus dedup where every historical
    * bucket must stay addressable. On an UNBOUNDED production stream use
    * [[nearDupBandMinsTtl]], which bounds state with an event-time TTL
    * (dedup against a sliding corpus horizon); the `scalestream` probe
    * asserts its state count plateaus where this one's grows linearly. */
  def nearDupBandMins(docs: DataFrame): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    // ONE signing pipeline for stream and batch: the q136 oracle equality
    // rests on the registry and the verdict join agreeing bit-for-bit on
    // bkey, so the projection must be shared by construction, not by
    // parallel copies kept in sync by hand.
    nearDupBandsBatch(docs)
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
          var mn = Long.MaxValue
          rows.foreach(r => if (r._1 < mn) mn = r._1)
          val newMin = state.getOption.fold(mn)(math.min(_, mn))
          state.update(newMin)
          Iterator.single((key, newMin))
      }
  }

  /** TTL-bounded form of [[nearDupBandMins]] — near-dup detection against a
    * SLIDING event-time corpus horizon, the shape an unbounded production
    * ingest actually deploys. Input must carry an event-time column `ts`
    * alongside (doc_id, text). Band state (one Long per distinct bucket)
    * is evicted by `GroupStateTimeout.EventTimeTimeout`: a bucket whose
    * last arrival is more than `horizon` behind the watermark is removed,
    * so a document re-arriving later is re-registered as a NEW first —
    * re-detection, not a dup hit (the MemoryStream spec pins both the
    * expiry and the re-detection).
    *
    * At scale this is what makes the registry deployable on an infinite
    * stream: state is bounded by the distinct buckets seen within the
    * horizon (~4 × docs-per-horizon), independent of stream lifetime,
    * where [[nearDupBandMins]]'s grows forever. The `scalestream` probe
    * runs both on the same time-advancing corpus and trips (exit 1) unless
    * this one's state-store row count plateaus. Watermark delay (late-data
    * tolerance) is `maxLateness`; rows later than that are dropped before
    * the state op — the standard watermark contract. */
  def nearDupBandMinsTtl(
      docs: DataFrame,
      horizon: scala.concurrent.duration.FiniteDuration,
      maxLateness: scala.concurrent.duration.FiniteDuration = scala.concurrent.duration.Duration.Zero
  ): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val horizonMs = horizon.toMillis
    require(horizonMs > 0, "horizon must be positive")
    nearDupBandsBatch(docs.withWatermark("ts", s"${maxLateness.toMillis} milliseconds"), carry = Seq("ts"))
      .select(col("doc_id"), col("ts"), col("bkey"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[(Long, java.sql.Timestamp, String)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var mn    = Long.MaxValue
            var maxTs = Long.MinValue
            rows.foreach { r =>
              if (r._1 < mn) mn = r._1
              val t = r._2.getTime
              if (t > maxTs) maxTs = t
            }
            val newMin = state.getOption.fold(mn)(math.min(_, mn))
            state.update(newMin)
            // evict once the watermark passes horizon beyond this bucket's
            // newest arrival; maxTs >= watermark (late rows were dropped),
            // so the timestamp is always legal
            state.setTimeoutTimestamp(maxTs + horizonMs)
            Iterator.single((key, newMin))
          }
      }
  }

  /** One per-(doc, band) at-arrival flag row: `prior_id` is the smallest
    * doc_id that had already claimed this band bucket when the document
    * arrived (null if the bucket was fresh). Boxed so the null survives
    * the encoder. */
  final case class ArrivalFlag(doc_id: Long, bkey: String, prior_id: java.lang.Long)

  /** AT-ARRIVAL streaming near-dup flags — the ingest-gate semantics: each
    * arriving document is judged against the registry AS OF its arrival,
    * not against the registry's final state. Emits one [[ArrivalFlag]] per
    * (doc, band); reduce to per-document verdicts with [[atArrivalVerdicts]]
    * inside `foreachBatch` — legal there because explode puts all 4 band
    * rows of a document in the SAME micro-batch, so the per-batch reduce
    * sees every band of every doc it reduces.
    *
    * Contract (MemoryStream-pinned in the spec): a doc duplicating an
    * EARLIER batch's doc is flagged with that doc as `prior_id`; the
    * original is never retroactively flagged (its verdict was emitted at
    * its own arrival — at-arrival output is deliberately dependent on how
    * the stream is batched, which is why the DECLARED q136 reports the
    * batching-invariant registry-final semantics instead, and this op is
    * the documented deployment shape). Within a batch, arrival order is
    * (ts, doc_id). State and its TTL horizon are shared with
    * [[nearDupBandMinsTtl]]: same one-Long-per-bucket registry, same
    * event-time eviction, so the gate is horizon-bounded at scale. */
  def nearDupAtArrivalFlags(
      docs: DataFrame,
      horizon: scala.concurrent.duration.FiniteDuration,
      maxLateness: scala.concurrent.duration.FiniteDuration = scala.concurrent.duration.Duration.Zero
  ): Dataset[ArrivalFlag] = {
    import docs.sparkSession.implicits._
    atArrivalGateCore(
      nearDupBandsBatch(docs.withWatermark("ts", s"${maxLateness.toMillis} milliseconds"), carry = Seq("ts"))
        .select(col("doc_id"), col("ts"), col("bkey"))
        .as[(Long, java.sql.Timestamp, String)],
      horizon
    )
  }

  /** The at-arrival gate's keyed-state core over ANY (doc_id, ts, bkey)
    * stream — shared by the minhash band gate (q150), and the image pHash
    * gate (q181), so every gate family runs the IDENTICAL registry
    * semantics: one Long (min claiming doc_id) per distinct bucket key in
    * the TTL horizon, per-arrival prior emission, event-time eviction. */
  private[graft] def atArrivalGateCore(
      bands: Dataset[(Long, java.sql.Timestamp, String)],
      horizon: scala.concurrent.duration.FiniteDuration
  ): Dataset[ArrivalFlag] = {
    import bands.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val horizonMs = horizon.toMillis
    require(horizonMs > 0, "horizon must be positive")
    bands
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[(Long, java.sql.Timestamp, String)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // arrival order within the batch: event time, then doc_id
            val ordered = rows.toArray.sortBy(r => (r._2.getTime, r._1))
            var running = state.getOption.getOrElse(Long.MaxValue)
            var maxTs   = Long.MinValue
            val out = ordered.iterator.map { r =>
              val prior: java.lang.Long = if (running == Long.MaxValue) null else Long.box(running)
              if (r._1 < running) running = r._1
              val t = r._2.getTime
              if (t > maxTs) maxTs = t
              ArrivalFlag(r._1, key, prior)
            }.toVector
            state.update(running)
            state.setTimeoutTimestamp(maxTs + horizonMs)
            out.iterator
          }
      }
  }

  /** AT-ARRIVAL streaming IMAGE near-dup flags (q181 core): each arriving
    * image's PNG bytes are REAL-decoded (ImageIO) and average-hashed with
    * the q178 grid-exact kernel ([[graft.operators.Multimodal.phashBands]]
    * — literally the same function as the batch family, so the stream and
    * batch routes cannot drift), and its four 16-bit band keys are probed
    * against the registry of bands seen by earlier arrivals through
    * [[atArrivalGateCore]] — the identical gate the text families use.
    * State: 4 Longs per image in the TTL horizon (one per band bucket,
    * shared across images with equal bands — the q136 registry shape). */
  def imagePhashAtArrivalFlags(
      images: DataFrame,
      horizon: scala.concurrent.duration.FiniteDuration,
      maxLateness: scala.concurrent.duration.FiniteDuration = scala.concurrent.duration.Duration.Zero
  ): Dataset[ArrivalFlag] = {
    import images.sparkSession.implicits._
    // watermark AFTER the typed decode: event-time metadata does not
    // survive a typed mapPartitions (the tuple Dataset carries fresh
    // attributes), so marking before it would leave the gate unwatermarked
    val bands = graft.operators.Multimodal
      .phashBandRowsOf(
        images.select(col("doc_id"), col("ts"), col("img")).as[(Long, java.sql.Timestamp, Array[Byte])]
      )
      .toDF("doc_id", "ts", "bkey")
      .withWatermark("ts", s"${maxLateness.toMillis} milliseconds")
      .as[(Long, java.sql.Timestamp, String)]
    atArrivalGateCore(bands, horizon)
  }

  /** Declared query (q181): the image family's STREAMING story — the
    * at-arrival pHash gate under the oracle, closing the modality×mode
    * matrix (text×batch q64-q67, text×stream q136/q150/q177, image×batch
    * q178-q180, image×stream HERE). The q150 pinned-epoch replay
    * discipline applied to [[imagePhashAtArrivalFlags]]: the q178 image
    * corpus (docs ∪ %9 planted re-encodes under +5M ids, pixel salt +1)
    * splits into 4 epoch files by epoch = (doc_id % 7) % 4 — 5,000,000 ≡ 5
    * (mod 7), so planted copies land in epochs decoupled from their
    * originals', exercising both flag directions and the
    * no-retroactive-flag contract — each file mtime-ordered so
    * FileStreamSource replays epochs in order, ts pinned to the epoch
    * minute so within-batch arrival order is doc_id. The payload is real
    * PNG BYTES; the gate decodes them on the stream. The DuckDB oracle
    * replays the verdicts relationally: the q178 closed-form band CTEs +
    * an arrival-ordered band self-join (earlier epoch, or same epoch and
    * smaller id), min first-match per image — a decode, banding, or
    * registry regression breaks the hash compare. */
  def imageGateAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val in = graft.sources.ParquetSink.memoFixture(spark, "stream_imggate_in", sfDir) { dir =>
      val docs = graft.operators.Multimodal
        .imageDupCorpus(spark, sfDir)
        .withColumn("epoch", (($"doc_id" % 7) % 4).cast("int"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + $"epoch" * 60))
      Files.createDirectories(Paths.get(dir))
      (0 to 3).foreach { e =>
        val tmp = s"$dir/.tmp_epoch$e"
        docs
          .filter($"epoch" === e)
          .select($"doc_id", $"ts", $"img")
          // repartition(1), NOT coalesce(1): coalesce pulls the whole
          // upstream into the single write task — including the PNG
          // ENCODE, which at the 5.56M-image rung is the entire fixture
          // cost single-threaded; the shuffle keeps the encode parallel
          // and only the write serial (one file per epoch is load-bearing:
          // FileStreamSource's one-file-per-trigger replay must deliver
          // each epoch as ONE batch for the oracle's (epoch, doc_id)
          // arrival order to be exact)
          .repartition(1)
          .write
          .mode("overwrite")
          .parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst  = Paths.get(dir, f"epoch$e.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        graft.sources.ParquetSink.deleteRecursively(tmp)
        Files.setLastModifiedTime(
          dst,
          java.nio.file.attribute.FileTime.fromMillis(1704067200000L + e * 60000L)
        )
      }
    }
    val out = graft.sources.ParquetSink.memoFixture(spark, "stream_imggate_out", sfDir) { outDir =>
      val root = Files.createTempDirectory("graft_q181").toString
      try {
        import scala.concurrent.duration._
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, img BINARY")
          .option("maxFilesPerTrigger", 1)
          .parquet(in)
        val q = imagePhashAtArrivalFlags(stream, horizon = 3650.days)
          .toDF()
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            atArrivalVerdicts(batch).write.mode("overwrite").parquet(s"$root/verdicts/epoch=$epoch")
            ()
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
        val v       = spark.read.parquet(s"$root/verdicts")
        val nEpochs = v.agg(count_distinct($"epoch")).as[Long].head()
        require(nEpochs >= 2, s"q181 ran $nEpochs epochs — fixture must stream as multiple micro-batches")
        v.select($"doc_id", $"first_match", $"is_dup_at_arrival")
          .write
          .mode("overwrite")
          .parquet(outDir)
      } finally graft.sources.ParquetSink.deleteRecursively(root)
    }
    spark.read.parquet(out).orderBy($"doc_id")
  }

  /** Per-document reduce of [[nearDupAtArrivalFlags]] output — run inside
    * `foreachBatch` on each micro-batch (see the flags op's contract for
    * why that is sound): `is_dup_at_arrival` iff any band bucket had a
    * SMALLER prior claimant, `first_match` the smallest such claimant. */
  def atArrivalVerdicts(flags: DataFrame): DataFrame =
    flags
      .groupBy(col("doc_id"))
      .agg(min(when(col("prior_id") < col("doc_id"), col("prior_id"))).as("first_match"))
      .select(col("doc_id"), col("first_match"), col("first_match").isNotNull.as("is_dup_at_arrival"))

  /** Declared query (q136): [[nearDupBandMins]] under the oracle — the
    * dup-injected corpus (the q65 fixture) is written once per JVM as a
    * 4-file parquet fixture, streamed back one file per micro-batch, and
    * run through the real keyed-state band registry. The audit then reduces
    * the per-epoch emissions to the final per-bucket minima and derives the
    * per-document verdict with a batch join: a document is a near-dup
    * candidate iff some SMALLER doc_id shares one of its band buckets, and
    * `first_match` is the smallest such id. Because the registry-final
    * minima are batching-invariant, the result is deterministic and equals
    * the batch LSH semantics — which is exactly what the DuckDB oracle
    * replays (the q65 band pipeline plus a first-match self-join). An
    * at-arrival flag (against the registry as of the doc's epoch) is the
    * same state lookup emitted inline, but its output depends on how the
    * stream happens to be batched — nothing an oracle can pin — so the
    * declared query reports the registry-final semantics; the MemoryStream
    * spec exercises the cross-batch arrival behavior instead. */
  def nearDupStreamAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val in = graft.sources.ParquetSink.memoFixture(spark, "stream_neardup_in", sfDir) { dir =>
      graft.operators.Dedup
        .docsWithDups(spark, sfDir)
        .select($"doc_id", $"text")
        .repartition(4)
        .write
        .mode("overwrite")
        .parquet(dir)
    }
    // The stream run + verdict join are memoized as a RESULT parquet: the
    // declared query must be lazy-safe (plan-only consumers hold it past
    // this call), so the per-epoch scratch root cannot outlive this block —
    // materializing the verdict before cleanup is the only correct order.
    val out = graft.sources.ParquetSink.memoFixture(spark, "stream_neardup_out", sfDir) { outDir =>
      val root = java.nio.file.Files.createTempDirectory("graft_q136").toString
      try {
        val (nEpochs, _, verdicts) = nearDupRegistryRun(spark, in, root)
        require(nEpochs >= 2, s"q136 ran $nEpochs epochs — fixture must stream as multiple micro-batches")
        verdicts.write.mode("overwrite").parquet(outDir)
      } finally graft.sources.ParquetSink.deleteRecursively(root)
    }
    spark.read.parquet(out).orderBy($"doc_id")
  }

  /** Declared query (q150): the AT-ARRIVAL ingest gate under the oracle.
    * [[nearDupAtArrivalFlags]]'s output depends on how the stream is
    * batched — which is exactly why q136 reports the batching-invariant
    * registry-final semantics — so the declared gate replay PINS the
    * batching: the dup-injected corpus splits into 4 epoch files by the
    * deterministic assignment epoch = (doc_id % 7) % 4 (1,000,000 ≡ 1 mod
    * 7, so some injected copies land in EARLIER epochs than their
    * originals — exercising the no-retroactive-flag contract: that pair is
    * never flagged, because at the copy's arrival the bucket is fresh and
    * at the original's arrival the registry holds only the LARGER id),
    * each file written with a strictly ascending modification time so
    * FileStreamSource's one-file-per-trigger replay arrives in epoch
    * order, with ts = epoch minutes so within-batch arrival order is
    * doc_id. Under that fixed replay the gate's verdicts are fully
    * deterministic and the DuckDB oracle recomputes them relationally: an
    * arrival-ordered band self-join (earlier := smaller epoch, or same
    * epoch and smaller doc_id), min first-match per document, counted only
    * when smaller than the arriving id — exactly [[atArrivalVerdicts]].
    * The TTL horizon is set beyond the replay span so no bucket evicts
    * mid-replay (eviction and re-detection are MemoryStream-pinned in the
    * spec and probed by `scalestream`). */
  def atArrivalGateAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val in = graft.sources.ParquetSink.memoFixture(spark, "stream_atarrival_in", sfDir) { dir =>
      val docs = graft.operators.Dedup
        .docsWithDups(spark, sfDir)
        .withColumn("epoch", (($"doc_id" % 7) % 4).cast("int"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + $"epoch" * 60))
      Files.createDirectories(Paths.get(dir))
      (0 to 3).foreach { e =>
        val tmp = s"$dir/.tmp_epoch$e"
        docs
          .filter($"epoch" === e)
          .select($"doc_id", $"ts", $"text")
          .coalesce(1)
          .write
          .mode("overwrite")
          .parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst  = Paths.get(dir, f"epoch$e.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        graft.sources.ParquetSink.deleteRecursively(tmp)
        Files.setLastModifiedTime(
          dst,
          java.nio.file.attribute.FileTime.fromMillis(1704067200000L + e * 60000L)
        )
      }
    }
    val out = graft.sources.ParquetSink.memoFixture(spark, "stream_atarrival_out", sfDir) { outDir =>
      val root = Files.createTempDirectory("graft_q150").toString
      try {
        import scala.concurrent.duration._
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(in)
        val q = nearDupAtArrivalFlags(stream, horizon = 3650.days)
          .toDF()
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            atArrivalVerdicts(batch).write.mode("overwrite").parquet(s"$root/verdicts/epoch=$epoch")
            ()
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
        val v       = spark.read.parquet(s"$root/verdicts")
        val nEpochs = v.agg(count_distinct($"epoch")).as[Long].head()
        require(nEpochs >= 2, s"q150 ran $nEpochs epochs — fixture must stream as multiple micro-batches")
        v.select($"doc_id", $"first_match", $"is_dup_at_arrival")
          .write
          .mode("overwrite")
          .parquet(outDir)
      } finally graft.sources.ParquetSink.deleteRecursively(root)
    }
    spark.read.parquet(out).orderBy($"doc_id")
  }

  /** One per-(doc, window-position) at-arrival flag row for the exact
    * substring gate: `prior_id` is the smallest doc_id that had already
    * claimed this 15-token window's md5 when the occurrence arrived (null
    * if the window was fresh). */
  final case class WinFlag(doc_id: Long, pos: Int, prior_id: java.lang.Long)

  /** AT-ARRIVAL streaming EXACT-SUBSTRING flags (r16 verdict stretch 7 —
    * the q172 family's streaming story, built on the q150 discipline): each
    * arriving document's L-token windows are probed against the registry of
    * window md5s seen by earlier arrivals; a window whose md5 was already
    * claimed by a STRICTLY SMALLER doc_id is flagged at arrival, and the
    * registry is never retroactive (an early-arriving copy is fresh; its
    * later-arriving original sees only the larger id and passes).
    *
    * State is one Long (min claiming doc_id) per distinct window md5 within
    * the TTL horizon — the honest cost of at-arrival substring detection:
    * O(distinct windows in horizon), evicted by event-time timeout exactly
    * like the band registry. Unlike batch q172 the registry is md5-128
    * ANCHORED rather than exact-text-verified (state cannot hold window
    * text at scale); the oracle replays the SAME md5 anchor, so the
    * hash-compare is exact about what the operator claims. */
  def substringWindowFlags(
      docs: DataFrame,
      horizon: scala.concurrent.duration.FiniteDuration,
      maxLateness: scala.concurrent.duration.FiniteDuration = scala.concurrent.duration.Duration.Zero
  ): Dataset[WinFlag] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val horizonMs = horizon.toMillis
    require(horizonMs > 0, "horizon must be positive")
    val L = 15
    val wins = docs
      .withWatermark("ts", s"${maxLateness.toMillis} milliseconds")
      .withColumn("toks", graft.functions.TextFns.tokens(col("text")))
      .where(size(col("toks")) >= L)
      .select(
        col("doc_id"),
        col("ts"),
        posexplode(
          transform(
            sequence(lit(1), size(col("toks")) - (L - 1)),
            i => md5(concat_ws(" ", slice(col("toks"), i, lit(L))))
          )
        ).as(Seq("p0", "h"))
      )
      .select(col("doc_id"), col("ts"), (col("p0") + 1).cast("int").as("pos"), col("h"))
      .as[(Long, java.sql.Timestamp, Int, String)]
    wins
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(Long, java.sql.Timestamp, Int, String)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // arrival order within the batch: event time, doc, position
            val ordered = rows.toArray.sortBy(r => (r._2.getTime, r._1, r._3))
            var running = state.getOption.getOrElse(Long.MaxValue)
            var maxTs   = Long.MinValue
            val out = ordered.iterator.map { r =>
              val prior: java.lang.Long = if (running == Long.MaxValue) null else Long.box(running)
              if (r._1 < running) running = r._1
              if (r._2.getTime > maxTs) maxTs = r._2.getTime
              WinFlag(r._1, r._3, prior)
            }.toArray
            state.update(running)
            state.setTimeoutTimestamp(maxTs + horizonMs)
            out.iterator
          }
      }
  }

  /** Declared query (q177): the exact-substring AT-ARRIVAL gate under the
    * oracle — q150's pinned-epoch replay discipline applied to
    * [[substringWindowFlags]]. The q172 excerpt corpus (base ∪ %7
    * half-excerpts under +2M ids) splits into 4 epoch files by
    * epoch = (doc_id % 7) % 4; 2,000,000 ≡ 2 (mod 7), so every excerpt
    * arrives in epoch 2 while its source doc (doc_id ≡ 0 mod 7) arrived in
    * epoch 0 — the excerpts' windows are flagged against the originals'
    * registry entries, and natural cross-doc window duplicates resolve by
    * the same (epoch, doc_id) arrival order the oracle replays
    * relationally. Per-doc deliverable: window inventory, at-arrival
    * duplicated-window count, and the earliest prior claimant. */
  def substringGateAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val corpus = {
      val base = graft.Tables.documents(spark, sfDir).select($"doc_id", $"text")
      base.unionByName(
        base
          .filter($"doc_id" % 7 === 0)
          .select(
            ($"doc_id" + 2000000L).as("doc_id"),
            expr("concat_ws(' ', slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2))")
              .as("text")
          )
      )
    }
    val in = graft.sources.ParquetSink.memoFixture(spark, "stream_substring_in", sfDir) { dir =>
      val docs = corpus
        .withColumn("epoch", (($"doc_id" % 7) % 4).cast("int"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + $"epoch" * 60))
      Files.createDirectories(Paths.get(dir))
      (0 to 3).foreach { e =>
        val tmp = s"$dir/.tmp_epoch$e"
        docs
          .filter($"epoch" === e)
          .select($"doc_id", $"ts", $"text")
          .coalesce(1)
          .write
          .mode("overwrite")
          .parquet(tmp)
        val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst  = Paths.get(dir, f"epoch$e.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        graft.sources.ParquetSink.deleteRecursively(tmp)
        Files.setLastModifiedTime(
          dst,
          java.nio.file.attribute.FileTime.fromMillis(1704067200000L + e * 60000L)
        )
      }
    }
    val out = graft.sources.ParquetSink.memoFixture(spark, "stream_substring_out", sfDir) { outDir =>
      val root = Files.createTempDirectory("graft_q177").toString
      try {
        import scala.concurrent.duration._
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(in)
        val q = substringWindowFlags(stream, horizon = 3650.days)
          .toDF()
          .writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            batch
              .groupBy(col("doc_id"))
              .agg(
                sum(when(col("prior_id") < col("doc_id"), 1L).otherwise(0L)).as("n_dup_windows"),
                min(when(col("prior_id") < col("doc_id"), col("prior_id"))).as("first_match")
              )
              .write.mode("overwrite").parquet(s"$root/verdicts/epoch=$epoch")
            ()
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
        val v       = spark.read.parquet(s"$root/verdicts")
        val nEpochs = v.agg(count_distinct($"epoch")).as[Long].head()
        require(nEpochs >= 2, s"q177 ran $nEpochs epochs — fixture must stream as multiple micro-batches")
        v.select($"doc_id", $"n_dup_windows", $"first_match")
          .write.mode("overwrite").parquet(outDir)
      } finally graft.sources.ParquetSink.deleteRecursively(root)
    }
    corpus
      .select(
        $"doc_id",
        greatest(size(graft.functions.TextFns.tokens($"text")) - 14, lit(0)).cast("long").as("n_windows")
      )
      .join(spark.read.parquet(out), Seq("doc_id"), "left")
      .select(
        $"doc_id",
        $"n_windows",
        coalesce($"n_dup_windows", lit(0L)).as("n_dup_windows"),
        $"first_match",
        (coalesce($"n_dup_windows", lit(0L)) > 0).as("is_dup_at_arrival")
      )
      .orderBy($"doc_id")
  }

  /** Shared core of the q136 audit and the `scalestream` probe: stream the
    * parquet fixture at `inDir` (one file per micro-batch) through the
    * [[nearDupBandMins]] registry with scratch under `root` (caller owns
    * cleanup), reduce the per-epoch emissions to final per-bucket minima,
    * and derive per-document verdicts with a shuffle-hash join (both sides
    * are corpus-sized at scale — a broadcast would be the wrong 100 TB
    * plan). Returns (epoch count, seconds inside the streaming run itself —
    * the state-store path, isolated so the probe's tripwire measures what
    * it claims — and the LAZY verdict DataFrame, which reads `root`:
    * consume it before deleting the scratch). */
  private[graft] def nearDupRegistryRun(
      spark: SparkSession,
      inDir: String,
      root: String
  ): (Long, Double, DataFrame) = {
    import spark.implicits._
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val t0 = System.nanoTime()
    val q = nearDupBandMins(stream)
      .toDF("bkey", "min_id")
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        batch.write.mode("overwrite").parquet(s"$root/bands/epoch=$epoch")
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val streamSec = (System.nanoTime() - t0) / 1e9
    val emitted   = spark.read.parquet(s"$root/bands")
    val nEpochs   = emitted.agg(count_distinct($"epoch")).as[Long].head()
    val bandMins  = emitted.groupBy($"bkey").agg(min($"min_id").as("first_id"))
    val verdicts = nearDupBandsBatch(spark.read.parquet(inDir))
      .hint("shuffle_hash")
      .join(bandMins.hint("shuffle_hash"), "bkey")
      .groupBy($"doc_id")
      .agg(min(when($"first_id" < $"doc_id", $"first_id")).as("first_match"))
      .select($"doc_id", $"first_match", $"first_match".isNotNull.as("is_dup"))
    (nEpochs, streamSec, verdicts)
  }

  /** The batch form of [[nearDupBandMins]]'s signing stage: (doc_id, bkey)
    * rows, one per band, plus any `carry` columns passed through untouched
    * (the TTL/at-arrival variants carry the event-time column). Kept as the
    * ONE signing pipeline (same kernels, same key format) so the audit's
    * verdict join and every streaming registry variant agree bit-for-bit. */
  private[graft] def nearDupBandsBatch(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    import graft.functions.{Kernels, TextFns}
    val carried = carry.map(col)
    docs
      .select(
        col("doc_id") +: carried :+ Kernels
          .minhashSigK(
            Kernels.shingleHashes(TextFns.tokens(col("text")), 3, TextFns.MinhashP),
            16,
            TextFns.MinhashP
          )
          .as("sig"): _*
      )
      .select(
        col("doc_id") +: carried :+ explode(
          transform(
            sequence(lit(0), lit(3)),
            b => concat_ws(",", b.cast("string"), concat_ws(",", slice(col("sig"), b * 4 + 1, lit(4))))
          )
        ).as("bkey"): _*
      )
  }

  // ------------------------------------------------------- declared queries

  def tumblingBatch(spark: SparkSession, sfDir: String): DataFrame =
    tumblingCounts(Tables.events(spark, sfDir)).orderBy(col("win_start_us"))

  def slidingBatch(spark: SparkSession, sfDir: String): DataFrame =
    slidingCounts(Tables.events(spark, sfDir)).orderBy(col("win_start_us"))

  def sessionizeBatch(spark: SparkSession, sfDir: String): DataFrame =
    sessionize(Tables.events(spark, sfDir)).orderBy(col("user_id"), col("session_start_us"))

  def attributionBatch(spark: SparkSession, sfDir: String): DataFrame =
    purchaseAttribution(Tables.events(spark, sfDir)).orderBy(col("purchase_id"))

  def tierEnrichBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    tierEnrich(ev, tierDim(ev)).orderBy(col("tier"))
  }
}
