package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan/perf probe: `runMain graft.Probe <sfDir> <queryName|all> [explain]`.
  * Times a declared query (noop sink, best of 3 after warm-up) and
  * optionally dumps the formatted physical plan — the iterate-on-plans loop
  * the build guide asks for. */
object Probe {

  /** Drain the Spark listener bus so the sf100llm rung's q179
    * `QueryExecutionListener` (its only caller) has received the rung
    * write's executed plan before the plan is read; listener events arrive
    * asynchronously, and a fixed sleep races them on a loaded host.
    * `LiveListenerBus.waitUntilEmpty` is `private[spark]` — which compiles
    * to a public method in bytecode — so reflection reaches it without a
    * spark-internal compile dependency; if the internals ever move, fall
    * back to the old best-effort sleep rather than fail the probe. */
  private def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val waits = bus.getClass.getMethods.filter(_.getName == "waitUntilEmpty")
      waits.find(_.getParameterCount == 0) match {
        case Some(w) => w.invoke(bus)
        case None =>
          waits.find(_.getParameterCount == 1) match {
            case Some(w) => w.invoke(bus, java.lang.Long.valueOf(10000L))
            case None    => Thread.sleep(2000)
          }
      }
    } catch { case scala.util.control.NonFatal(_) => Thread.sleep(2000) }

  /** Build fingerprint stamped next to every rung query output (r16 ADVICE:
    * with GRAFT_SF10_ONLY / GRAFT_SF100LLM_ONLY a partial rerun accumulates
    * into a persistent /tmp outDir, and check.py would otherwise grade an
    * OLDER build's leftover parquet as if it were HEAD). r17 ADVICE closed
    * a hole in the r16 form: the stamp was the compiled Probe$.class mtime,
    * but under zinc incremental compilation a body-only operator fix (the
    * exact scenario the guard targets) does not recompile Probe, so two
    * different builds stamped identically. The stamp is now a digest over
    * EVERY class file under the code source (path:size:mtime, the
    * ParquetSink.contentFingerprint walk) — any recompiled class anywhere
    * in the build changes it — and check.py exits 2 when the graded query
    * dirs carry MIXED stamps. */
  private lazy val buildStamp: String =
    try {
      val loc  = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
      val base = java.nio.file.Paths.get(loc)
      if (java.nio.file.Files.isDirectory(base)) {
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        val walk  = java.nio.file.Files.walk(base)
        try walk.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(".class"))
            parts += s"${base.relativize(f)}:${java.nio.file.Files.size(f)}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
        } finally walk.close()
        s"classes-digest:${java.lang.Integer.toHexString(parts.sorted.mkString(",").hashCode)}"
      } else
        // packaged jar: one file, its own mtime identifies the build
        s"jar-mtime:${java.nio.file.Files.getLastModifiedTime(base).toMillis}"
    } catch { case scala.util.control.NonFatal(_) => "stamp:unknown" }

  /** Write one query's rung output plus its build stamp (all eight sf1/sf10/
    * sf100 materialization sites route through here). */
  private def writeRung(df: org.apache.spark.sql.DataFrame, outDir: String, n: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/$n/_GRAFT_STAMP"), buildStamp)
  }

  /** The `scalecur` synthetic growing-vocabulary corpus: ~40 distinct
    * all-alpha md5-derived tokens per doc (digits translated to letters so
    * every token passes the BPE learner's [a-z]+ gate). `tokLen` defaults
    * to 6; the production-depth BPE phase uses 14 — a 10k-word cap of
    * 6-char words exhausts its pair mass near 19k merges (every word a
    * single symbol), while 14-char words carry enough distinct pair
    * structure to sustain the 32k-merge GPT-2/Llama vocabulary regime. */
  private def curSynthDocs(spark: SparkSession, n: Long, tokLen: Int = 6) = {
    import spark.implicits._
    spark
      .range(n)
      .repartition(32)
      .select(
        $"id".as("doc_id"),
        concat_ws(
          " ",
          transform(
            sequence(lit(0L), lit(39L)),
            j =>
              translate(
                substring(md5(($"id" * 40L + j).cast("string")), 1, tokLen),
                "0123456789",
                "ghijklmnop"
              )
          )
        ).as("text")
      )
  }

  /** `scalecur` production-merge-depth phase (standalone: `bpedepth`). The
    * declared q138 learns 8 merges so its unrolled-CTE oracle stays
    * readable; real tokenizers run the SAME loop tens of thousands of
    * rounds over the same cap-bounded word table — the incremental
    * pair-delta loop's cost is proportional to affected words per round,
    * independent of corpus size. Depths {8, 1k, 8k, 32k — GPT-2/Llama
    * vocabulary scale} over the n=100k growing-vocabulary corpus of
    * 14-char words (6-char words exhaust their pair mass near 19k merges —
    * every word a single symbol — measured r12; 14-char words carry the
    * distinct pair structure 32k rounds need): state must stay cap-pinned
    * at every depth, learned merges must equal the requested depth (the
    * loop only stops when every word is a single symbol, which needs at
    * least one distinct final merge per distinct word), and each 8×/4×-
    * rounds step must
    * cost ≤ 12× on the MIN of two timed runs per depth (single samples
    * gate on host noise — the state/merge-count invariants are the real
    * contract, the timing ratio guards the algorithmic class). Returns
    * false on violation. */
  private def bpeDepthPhase(spark: SparkSession): Boolean = {
    import graft.operators.Curation
    var ok   = true
    val docs = curSynthDocs(spark, 100000L, tokLen = 14)
    Curation.bpeLearnFromAt(docs, 8) // warm (corpus stage + loop)
    val rows = Seq(8, 1000, 8000, 32000).map { m =>
      var sec                                                  = Double.MaxValue
      var merges: Array[(Int, String, String, String, Long)]   = null
      var seqs: Array[(String, String)]                        = null
      (1 to 2).foreach { _ => // min-of-2: one noisy sample must not gate exit
        val t0  = System.nanoTime()
        val out = Curation.bpeLearnFromAt(docs, m)
        sec = math.min(sec, (System.nanoTime() - t0) / 1e9)
        merges = out._1; seqs = out._2
      }
      println(
        f"[scalecur] bpe-depth merges=$m%5d time=$sec%8.2f s state=${seqs.length}%5d rows learned=${merges.length}%5d"
      )
      if (seqs.length != Curation.BpeVocabCap) {
        println(s"[scalecur] VIOLATION bpe-depth state ${seqs.length} != cap ${Curation.BpeVocabCap}")
        ok = false
      }
      if (merges.length != m) {
        println(s"[scalecur] VIOLATION bpe-depth learned ${merges.length} != requested $m")
        ok = false
      }
      (m, sec)
    }
    rows.sliding(2).foreach { case Seq((m1, s1), (m2, s2)) =>
      val r = s2 / s1
      println(
        f"[scalecur] bpe-depth $m1→$m2 (${m2 / m1}x rounds): ${r}%.2fx time ${if (r <= 12.0) "OK"
          else "VIOLATION (super-linear in depth)"}"
      )
      if (r > 12.0) ok = false
    }
    ok
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "all"
    val doExplain = args.contains("explain")
    val spark = Session.build()
    def time1(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (which == "scale") {
      // Engine-only scaling curve for the dedup family (no fixtures, no
      // oracle): deterministic synthetic documents straight from range() —
      // 40 six-char tokens per doc, every 10th doc a byte-identical copy of
      // its predecessor (n/10 true near-dup pairs, linear in n) — through
      // the EXACT minhash pipeline shape of q65 (kernel sigs, band explode,
      // shared exchange, shuffle_hash self-join). Three sizes at 4× steps;
      // the tripwire is near-linear growth: an all-pairs regression would
      // turn a 4× data step into ≥16× time. Exit code 1 on violation so the
      // curve is a mechanical check, not a judgement call.
      import spark.implicits._
      import graft.functions.Kernels
      import graft.functions.TextFns.{tokens, MinhashP}
      def synthDocs(n: Long) = {
        val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
        spark
          .range(n)
          .repartition(32)
          .select(
            $"id".as("doc_id"),
            concat_ws(
              " ",
              transform(
                sequence(lit(0L), lit(39L)),
                j => substring(md5((base * 40L + j).cast("string")), 1, 6)
              )
            ).as("text")
          )
      }
      def lshPairs(docs: org.apache.spark.sql.DataFrame) = {
        val sigs = docs
          .repartition($"doc_id")
          .select(
            $"doc_id",
            Kernels.minhashSigK(Kernels.shingleHashes(tokens($"text"), 3, MinhashP), 16, MinhashP).as("sig0")
          )
          .groupBy($"doc_id")
          .agg(first($"sig0").as("sig"))
        val bands = sigs
          .select(
            $"doc_id",
            $"sig",
            explode(
              transform(
                sequence(lit(0), lit(3)),
                b => struct(b.as("band"), concat_ws(",", slice($"sig", b * 4 + 1, lit(4))).as("key"))
              )
            ).as("bk")
          )
          .repartition($"bk")
        val a = bands.select($"doc_id".as("id1"), $"sig".as("sig1"), $"bk")
        val b = bands.select($"doc_id".as("id2"), $"sig".as("sig2"), $"bk".as("bk2"))
        a.hint("shuffle_hash")
          .join(b.hint("shuffle_hash"), $"bk" === $"bk2" && $"id1" < $"id2")
          .dropDuplicates("id1", "id2")
          .select($"id1", $"id2")
      }
      // warm: JIT + codegen at the smallest size, untimed
      lshPairs(synthDocs(25000)).write.mode("overwrite").format("noop").save()
      val steps = Seq(25000L, 100000L, 400000L).map { n =>
        val t0    = System.nanoTime()
        val pairs = lshPairs(synthDocs(n)).count()
        val sec   = (System.nanoTime() - t0) / 1e9
        println(f"[scale] docs=$n%7d pairs=$pairs%8d time=$sec%7.2f s")
        (n, pairs, sec)
      }
      var ok = true
      steps.sliding(2).foreach {
        case Seq((n0, _, t0), (n1, _, t1)) =>
          val ratio = t1 / t0
          println(f"[scale] ${n0}→$n1 (4x data): ${ratio}%.2fx time ${if (ratio <= 5.0) "OK" else "VIOLATION (super-linear)"}")
          if (ratio > 5.0) ok = false
        case _ => ()
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "scalees") {
      // Wire-throughput curve for the ES connector: an in-JVM stub cluster
      // seeded with deterministic synthetic events is read back over real
      // HTTP through EsScrollSource at 4x-stepped sizes, in BOTH pagination
      // modes (scroll = reference parity, search_after/PIT = the modern
      // protocol). Tripwires: (1) the wire transfer is lossless — the
      // server-side serialized-hit count equals the corpus size exactly;
      // (2) growth is near-linear (HTTP+JSON cost is per-document; a 4x
      // data step must stay <=5x time); (3) a pushed discovery aggregation
      // ships ZERO raw documents at every size. Exit 1 on violation.
      import graft.sources.es.EsStubServer
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val types = Array("click", "view", "purchase", "signup", "error")
      def seed(n: Int): EsStubServer = {
        val rows = (0 until n).map(i =>
          Array[Any](i.toLong, types(i % 5), i * 0.01)).toIndexedSeq
        new EsStubServer("events", schema.fieldNames, rows)
      }
      def read(srv: EsStubServer, mode: String) = spark.read
        .format("graft.sources.es.EsScrollSource")
        .schema(schema)
        .option("url", srv.url).option("index", "events")
        .option("slices", 8).option("pageSize", 5000)
        .option("pagination", mode)
        .load()
      var ok = true
      def run(mode: String): Seq[(Int, Double)] = {
        // warm (JIT + codegen) at the smallest size, untimed
        locally { val s = seed(25000); s.start()
          try read(s, mode).write.mode("overwrite").format("noop").save() finally s.stop() }
        Seq(25000, 100000, 400000).map { n =>
          val srv = seed(n); srv.start()
          try {
            val t0 = System.nanoTime()
            read(srv, mode).write.mode("overwrite").format("noop").save()
            val sec = (System.nanoTime() - t0) / 1e9
            val served = srv.hitsServed.get()
            println(f"[scalees] mode=$mode%-12s docs=$n%7d served=$served%7d time=$sec%6.2f s (${n / sec / 1000}%7.1fk docs/s)")
            if (served != n) { ok = false; println(s"[scalees] VIOLATION: served $served != $n (lossy wire)") }
            (n, sec)
          } finally srv.stop()
        }
      }
      for (mode <- Seq("scroll", "search_after")) {
        val steps = run(mode)
        steps.sliding(2).foreach {
          case Seq((n0, t0), (n1, t1)) =>
            val r = t1 / t0
            println(f"[scalees] mode=$mode $n0%d→$n1%d (4x data): $r%.2fx time ${if (r <= 5.0) "OK" else "VIOLATION (super-linear)"}")
            if (r > 5.0) ok = false
          case _ => ()
        }
      }
      // pushed discovery aggregation: zero documents cross the wire at any size
      Seq(25000, 400000).foreach { n =>
        val srv = seed(n); srv.start()
        try {
          val t0 = System.nanoTime()
          // head(10), not a second count(): stacking count() over the
          // grouped count rewrites to a distinct and defeats the pushdown
          val groups = read(srv, "scroll").groupBy("event_type").count().head(10).length
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"[scalees] agg docs=$n%7d groups=$groups hitsServed=${srv.hitsServed.get()} time=$sec%6.2f s")
          if (srv.hitsServed.get() != 0 || groups != 5) { ok = false; println("[scalees] VIOLATION: agg pushdown shipped documents") }
        } finally srv.stop()
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "scalecc") {
      // Engine-only scaling curve for twoPhaseComponents on the two
      // connected-components shapes (q94/q122), synthetic graphs straight
      // from range():
      //  - CHAIN: one path through all n nodes — worst-case diameter, the
      //    q122 shape; twoPhaseComponents must converge in O(log n) rounds
      //    (round count may grow only logarithmically with n — a
      //    diameter-bound regression would blow the round budget).
      //  - CLUSTER: stars of 10 consecutive nodes — the bounded-diameter
      //    99% case, the q94 shape; the executed rounds must stay
      //    CONSTANT across sizes.
      // Tripwires (exit 1): super-linear time (>5x per 4x data step),
      // chain round growth >2 per 4x step, cluster rounds varying at all,
      // or wrong component counts.
      import spark.implicits._
      import graft.operators.Graph
      def nodesOf(n: Long)     = spark.range(n).repartition(32).select($"id".as("node"))
      def chainEdges(n: Long)  = spark.range(n - 1).repartition(32).select($"id".as("src"), ($"id" + 1).as("dst"))
      def clusterEdges(n: Long) =
        spark.range(n).filter($"id" % 10 =!= 0).repartition(32)
          .select($"id".as("src"), ($"id" - $"id" % 10).as("dst"))
      def nComp(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(count_distinct($"comp")).head().getLong(0)
      // warm: JIT + codegen at the smallest size, untimed
      nComp(Graph.twoPhaseComponents(nodesOf(25000), chainEdges(25000)))
      nComp(Graph.twoPhaseComponents(nodesOf(25000), clusterEdges(25000)))
      var ok = true
      val steps = Seq(25000L, 100000L, 400000L).map { n =>
        var rCh = 0
        val t0  = System.nanoTime()
        val cCh = nComp(Graph.twoPhaseComponents(nodesOf(n), chainEdges(n), onDone = rCh = _))
        val sCh = (System.nanoTime() - t0) / 1e9
        var rCl = 0
        val t1  = System.nanoTime()
        val cCl = nComp(Graph.twoPhaseComponents(nodesOf(n), clusterEdges(n), onDone = rCl = _))
        val sCl = (System.nanoTime() - t1) / 1e9
        println(f"[scalecc] n=$n%7d chain: comps=$cCh rounds=$rCh time=$sCh%7.2f s | cluster: comps=$cCl rounds=$rCl time=$sCl%7.2f s")
        if (cCh != 1L) { println(s"[scalecc] VIOLATION chain must be 1 component, got $cCh"); ok = false }
        if (cCl != n / 10) { println(s"[scalecc] VIOLATION cluster comps expected ${n / 10}, got $cCl"); ok = false }
        (n, rCh, sCh, rCl, sCl)
      }
      steps.sliding(2).foreach {
        case Seq((n0, r0, t0, c0, u0), (n1, r1, t1, c1, u1)) =>
          val ratCh = t1 / t0
          val ratCl = u1 / u0
          println(f"[scalecc] $n0%d→$n1%d: chain ${ratCh}%.2fx time, +${r1 - r0} rounds; cluster ${ratCl}%.2fx time, +${c1 - c0} rounds")
          if (ratCh > 5.0) { println("[scalecc] VIOLATION chain super-linear time"); ok = false }
          if (ratCl > 5.0) { println("[scalecc] VIOLATION cluster super-linear time"); ok = false }
          if (r1 - r0 > 2) { println("[scalecc] VIOLATION chain rounds grew faster than O(log n)"); ok = false }
          if (c1 != c0) { println("[scalecc] VIOLATION cluster rounds must be constant"); ok = false }
        case _ => ()
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "scalelm") {
      // Engine-only scaling curve for the LM-scoring family (q96 unigram,
      // q103 bigram) over synthetic corpora whose VOCABULARY GROWS
      // LINEARLY with the data (~36 distinct md5 tokens per doc) — the
      // regime where an uncapped lookup-table broadcast OOMs the driver.
      // The capped pipelines (Vocab.LmVocabSize) must stay near-linear:
      // the broadcast side is 24 rows at every size by construction, so
      // the only scaling cost is the corpus-side aggregation/window.
      // Tripwire (exit 1): >5x time per 4x data step.
      import spark.implicits._
      import graft.operators.Vocab
      def synthDocs(n: Long) =
        spark
          .range(n)
          .repartition(32)
          .select(
            $"id".as("doc_id"),
            concat_ws(
              " ",
              transform(
                sequence(lit(0L), lit(39L)),
                j => substring(md5(($"id" * 40L + j).cast("string")), 1, 6)
              )
            ).as("text")
          )
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      // warm
      noop(Vocab.unigramLogprobOf(synthDocs(25000)))
      noop(Vocab.bigramLogprobOf(synthDocs(25000)))
      var ok = true
      val steps = Seq(25000L, 100000L, 400000L).map { n =>
        val docs  = synthDocs(n)
        val vocab = docs.select(explode(graft.functions.TextFns.tokens($"text")).as("t")).agg(count_distinct($"t")).head().getLong(0)
        val t0    = System.nanoTime()
        noop(Vocab.unigramLogprobOf(docs))
        val sU = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        noop(Vocab.bigramLogprobOf(docs))
        val sB = (System.nanoTime() - t1) / 1e9
        println(f"[scalelm] docs=$n%7d vocab=$vocab%9d unigram=$sU%7.2f s bigram=$sB%7.2f s")
        (n, sU, sB)
      }
      steps.sliding(2).foreach {
        case Seq((n0, u0, b0), (n1, u1, b1)) =>
          val rU = u1 / u0
          val rB = b1 / b0
          println(f"[scalelm] $n0%d→$n1%d (4x data): unigram ${rU}%.2fx ${if (rU <= 5.0) "OK" else "VIOLATION"} bigram ${rB}%.2fx ${if (rB <= 5.0) "OK" else "VIOLATION"}")
          if (rU > 5.0 || rB > 5.0) ok = false
        case _ => ()
      }
      // ---- production-cap phase: k = 100,000 (not the toy default 24) ----
      // Same 400k-doc corpus (~10M distinct tokens). A 100k-row lookup
      // table is a few MB broadcast — the realistic KenLM-style deployment
      // cap. Tripwires (exit 1): the k=100,000 run must stay within 3x of
      // the k=24 run at the same size (the cap's only extra cost is the
      // bounded broadcast; if runtime explodes, the broadcast is no longer
      // the bounded side), and a 4x data step at k=100,000 must stay
      // sub-linear (<=5x) like the default-cap curve.
      locally {
        val k = 100000
        def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
        val (n24u, n24b) = steps.last match { case (_, u, b) => (u, b) }
        val u100k_100 = timed(noop(Vocab.unigramLogprobOf(synthDocs(100000), lmK = k)))
        val b100k_100 = timed(noop(Vocab.bigramLogprobOf(synthDocs(100000), lmK = k)))
        val u100k_400 = timed(noop(Vocab.unigramLogprobOf(synthDocs(400000), lmK = k)))
        val b100k_400 = timed(noop(Vocab.bigramLogprobOf(synthDocs(400000), lmK = k)))
        println(f"[scalelm] k=$k: docs=100000 unigram=$u100k_100%7.2f s bigram=$b100k_100%7.2f s")
        println(f"[scalelm] k=$k: docs=400000 unigram=$u100k_400%7.2f s bigram=$b100k_400%7.2f s")
        val vsDefault = Seq("unigram" -> (u100k_400 / n24u), "bigram" -> (b100k_400 / n24b))
        vsDefault.foreach { case (which, r) =>
          println(f"[scalelm] k=$k vs k=24 at 400k docs: $which ${r}%.2fx ${if (r <= 3.0) "OK" else "VIOLATION (broadcast no longer bounded?)"}")
          if (r > 3.0) ok = false
        }
        val rU = u100k_400 / u100k_100
        val rB = b100k_400 / b100k_100
        println(f"[scalelm] k=$k 100000→400000 (4x data): unigram ${rU}%.2fx ${if (rU <= 5.0) "OK" else "VIOLATION"} bigram ${rB}%.2fx ${if (rB <= 5.0) "OK" else "VIOLATION"}")
        if (rU > 5.0 || rB > 5.0) ok = false
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "scalecur") {
      // Engine-only scaling curve for the curation family (q138 BPE
      // learning, q139 BM25) over synthetic corpora whose WORD VOCABULARY
      // GROWS LINEARLY with the data (~40 distinct all-alpha md5-derived
      // tokens per doc) — the regime where an uncapped BPE word table
      // would grow the driver state without bound and an uncapped df
      // broadcast would OOM. Tripwires (exit 1): BPE driver state must be
      // EXACTLY BpeVocabCap rows at every size (the cap is what bounds
      // it), both ops >0 merges / bounded top-k output, and >5x time per
      // 4x data step fails.
      import spark.implicits._
      import graft.operators.Curation
      def synthDocs(n: Long) = curSynthDocs(spark, n)
      // the same token derivation driver-side, for query terms that exist
      def tokOf(i: Long): String = {
        val md  = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        hex.substring(0, 6).map(c => if (c.isDigit) ('g' + (c - '0')).toChar else c)
      }
      val queryTerms = Seq(0 -> tokOf(0L), 0 -> tokOf(1L), 0 -> tokOf(2L))
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      // warm
      Curation.bpeLearnFrom(synthDocs(25000))
      noop(Curation.bm25TopKOf(synthDocs(25000), queryTerms))
      var ok = true
      // best-of-2 per (size, op): a single-shot reading on the small sizes
      // is overhead-dominated and one GC pause can push a 4x-step ratio
      // past the tripwire on timing noise alone (observed 3.4x vs 6.4x on
      // identical code) — the same reason Bench times best-of-N
      def best2(f: => Unit): Double =
        (1 to 2).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }.min
      val steps = Seq(25000L, 100000L, 400000L).map { n =>
        val docs = synthDocs(n)
        var merges: Array[(Int, String, String, String, Long)] = Array.empty
        var seqs: Array[(String, String)]                      = Array.empty
        val sBpe = best2 { val r = Curation.bpeLearnFrom(docs); merges = r._1; seqs = r._2 }
        val sBm  = best2(noop(Curation.bm25TopKOf(docs, queryTerms)))
        println(
          f"[scalecur] docs=$n%7d bpe=$sBpe%7.2f s (state=${seqs.length}%5d rows, ${merges.length} merges) bm25=$sBm%7.2f s"
        )
        if (seqs.length != Curation.BpeVocabCap) {
          println(s"[scalecur] VIOLATION bpe driver state ${seqs.length} != cap ${Curation.BpeVocabCap}")
          ok = false
        }
        if (merges.length != Curation.BpeMerges) {
          println(s"[scalecur] VIOLATION bpe merges ${merges.length} != ${Curation.BpeMerges}")
          ok = false
        }
        (n, sBpe, sBm)
      }
      steps.sliding(2).foreach {
        case Seq((n0, b0, m0), (n1, b1, m1)) =>
          val rB = b1 / b0
          val rM = m1 / m0
          println(
            f"[scalecur] $n0%d→$n1%d (4x data): bpe ${rB}%.2fx ${if (rB <= 5.0) "OK" else "VIOLATION"} bm25 ${rM}%.2fx ${if (rM <= 5.0) "OK" else "VIOLATION"}"
          )
          if (rB > 5.0 || rM > 5.0) ok = false
        case _ => ()
      }
      // ---- SemDeDup phase: the in-cluster pairwise stage (q141) ----
      // Synthetic 64-dim vectors, every 10th an EXACT copy of its
      // predecessor (the scalesim generator); clusters of a FIXED mean
      // size (500) — the deployment rule that keeps the n²/k pairwise
      // stage LINEAR in n (k grows with the data, cluster size does not).
      // ccos is constant, so the survivor rule resolves every exact pair
      // by the vec_id tiebreak: expected drops = exactly the copies.
      // Tripwires: any wrong drop count, or >5x time per 4x step.
      locally {
        import graft.functions.Kernels
        val dim = 64
        def synthAssigned(n: Long) = {
          val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
          spark
            .range(n)
            .repartition(32)
            .select(
              $"id".as("vec_id"),
              (base / 500L).cast("long").as("cent_id"),
              transform(
                sequence(lit(0), lit(dim - 1)),
                d =>
                  (((conv(substring(md5(concat_ws("_", base, d)), 1, 8), 16, 10).cast("long") % 2001L) -
                    1000L).cast("double") / 1000.0).cast("float")
              ).as("embedding")
            )
            .select(
              $"vec_id",
              $"embedding",
              sqrt(Kernels.dot($"embedding", $"embedding")).as("nrm"),
              $"cent_id",
              lit(0.5).as("ccos")
            )
        }
        def run(n: Long): (Long, Double) = {
          // best-of-2, same rationale as the learn/bm25 timings above
          val runs = (1 to 2).map { _ =>
            val t0      = System.nanoTime()
            val dropped = Curation.inClusterDropped(synthAssigned(n)).count()
            (dropped, (System.nanoTime() - t0) / 1e9)
          }
          (runs.head._1, runs.map(_._2).min)
        }
        run(25000) // warm
        val semSteps = Seq(25000L, 100000L, 400000L).map { n =>
          val (dropped, sec) = run(n)
          val expected       = (n - 1) / 10
          println(f"[scalecur] semdedup n=$n%7d dropped=$dropped%7d (expect $expected) time=$sec%7.2f s")
          if (dropped != expected) {
            println(s"[scalecur] VIOLATION semdedup dropped $dropped != $expected")
            ok = false
          }
          (n, sec)
        }
        semSteps.sliding(2).foreach {
          case Seq((n0, t0), (n1, t1)) =>
            val r = t1 / t0
            println(
              f"[scalecur] semdedup $n0%d→$n1%d (4x data): ${r}%.2fx time ${if (r <= 5.0) "OK" else "VIOLATION (super-linear — cluster size not bounded?)"}"
            )
            if (r > 5.0) ok = false
          case _ => ()
        }
      }
      if (!bpeDepthPhase(spark)) ok = false
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "canary") {
      // Standalone host-speed stamp (r17 verdict task 6: walk windows need
      // canary readings WITHOUT paying a full Bench run): one warm pass so
      // C2 has compiled spin(), then the recorded reading — same workload
      // and healthy-band semantics as the Bench JSON fields.
      val (_, _) = Bench.hostCanary()
      val (st, mt) = Bench.hostCanary()
      println(f"[canary] canary_st=$st%.3f canary_mt=$mt%.3f")
      spark.stop()
      return
    }
    if (which == "scalestream") {
      // Engine-only scaling curve for the q136 streaming near-dup registry:
      // the same synthetic dup-injected corpus as `scale` (every 10th doc
      // duplicates its predecessor), written as 4 parquet files and streamed
      // one file per micro-batch through the REAL keyed-state pipeline
      // (nearDupBandMins), then reduced to verdicts. The timed window is
      // the STREAMING RUN ONLY (nearDupRegistryRun isolates it) so the
      // tripwire measures the state-store path it claims to guard, not the
      // batch-side verdict join. Tripwires (exit 1): >5x stream time per
      // 4x data step (state-store ops must stay ~linear in arriving rows —
      // a per-pair emission regression would blow past it), wrong epoch
      // count, or missed/over-flagged duplicates: flagged docs must be
      // exactly the injected n/10-1 plus a small band-coincidence margin,
      // mirroring the batch probe's pair counts.
      import spark.implicits._
      def synthDocs(n: Long) = {
        val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
        spark
          .range(n)
          .repartition(32)
          .select(
            $"id".as("doc_id"),
            concat_ws(
              " ",
              transform(
                sequence(lit(0L), lit(39L)),
                j => substring(md5((base * 40L + j).cast("string")), 1, 6)
              )
            ).as("text")
          )
      }
      def run(n: Long): (Long, Long, Double) = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft_scalestream").toString
        try {
          synthDocs(n).repartition(4).write.mode("overwrite").parquet(s"$dir/in")
          // shared helper with the declared q136 audit — one pipeline to
          // regress; streamSec isolates the state-store path so the time
          // tripwire measures exactly what it claims (the batch-side
          // verdict join is NOT in the timed window)
          val (nEpochs, streamSec, verdicts) =
            graft.streaming.Streaming.nearDupRegistryRun(spark, s"$dir/in", s"$dir/scratch")
          val flagged = verdicts.filter($"is_dup").count()
          (nEpochs, flagged, streamSec)
        } finally graft.sources.ParquetSink.deleteRecursively(dir)
      }
      run(25000) // warm: JIT + codegen + state-store init, untimed
      var ok = true
      val steps = Seq(25000L, 100000L, 400000L).map { n =>
        val (ep, flagged, sec) = run(n)
        val expect             = n / 10 - 1
        println(f"[scalestream] docs=$n%7d epochs=$ep flagged=$flagged%8d stream_time=$sec%7.2f s")
        if (ep != 4L) { println(s"[scalestream] VIOLATION expected 4 epochs, got $ep"); ok = false }
        if (flagged < expect || flagged > expect + math.max(50L, n / 1000)) {
          println(s"[scalestream] VIOLATION flagged=$flagged outside [$expect, ${expect + math.max(50L, n / 1000)}]")
          ok = false
        }
        (n, sec)
      }
      steps.sliding(2).foreach {
        case Seq((n0, t0), (n1, t1)) =>
          val ratio = t1 / t0
          println(f"[scalestream] $n0%d→$n1%d (4x data): ${ratio}%.2fx stream time ${if (ratio <= 5.0) "OK" else "VIOLATION (super-linear)"}")
          if (ratio > 5.0) ok = false
        case _ => ()
      }
      // ---- TTL plateau phase: the same registry, bounded vs unbounded ----
      // 8 micro-batches of fresh docs, each an hour of event time apart,
      // through (a) the NoTimeout registry and (b) the 90-minute-horizon
      // TTL registry. State-store row counts are read from query progress
      // after every epoch. Tripwires (exit 1): the unbounded run must grow
      // ~4 rows/doc (sanity that we measured the right thing); the TTL run
      // must PLATEAU — its last-4-epoch samples within 1.5x of each other
      // and its final state under half the unbounded run's — the mechanical
      // form of the "bounded by docs-per-horizon" claim.
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import scala.concurrent.duration._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val perEpoch = 5000
        val nEpochs  = 8
        def docText(id: Long): String =
          (0 until 40).map(j => java.lang.Long.toHexString(id * 40L + j + 0x9e3779b9L)).mkString(" ")
        def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
          q.recentProgress.flatMap(_.stateOperators.headOption).map(_.numRowsTotal).lastOption.getOrElse(-1L)
        // (a) unbounded registry
        val inU = MemoryStream[(Long, String)]
        val qU = graft.streaming.Streaming
          .nearDupBandMins(inU.toDF().toDF("doc_id", "text"))
          .toDF("bkey", "min_id")
          .writeStream
          .format("noop")
          .outputMode("append")
          .start()
        val unboundedSamples =
          try {
            (0 until nEpochs).map { e =>
              inU.addData((0 until perEpoch).map(i => ((e * perEpoch + i).toLong, docText((e * perEpoch + i).toLong))))
              qU.processAllAvailable()
              stateRows(qU)
            }
          } finally qU.stop()
        // (b) TTL registry, 90-minute horizon, epochs 1 h apart — run on
        // BOTH state-store backends: the default in-memory HDFS-backed
        // provider (the test toy) and RocksDB (the production backend a
        // 100 TB deployment actually configures). The provider is a
        // per-query conf read at stream start, so each run sets it before
        // start() and restores after. Emissions go to a memory sink so the
        // reduced final registries (bkey → min) can be compared: the TTL
        // semantics AND the plateau bound must be backend-independent.
        def runTtl(label: String, provider: Option[String]): (Seq[Long], Map[String, Long]) = {
          val confKey = "spark.sql.streaming.stateStore.providerClass"
          val prior   = spark.conf.getOption(confKey)
          provider.foreach(spark.conf.set(confKey, _))
          try {
            val inT      = MemoryStream[(Long, java.sql.Timestamp, String)]
            val sinkName = s"ttl_emit_$label"
            val qT = graft.streaming.Streaming
              .nearDupBandMinsTtl(inT.toDF().toDF("doc_id", "ts", "text"), horizon = 90.minutes)
              .toDF("bkey", "min_id")
              .writeStream
              .format("memory")
              .queryName(sinkName)
              .outputMode("append")
              .start()
            val samples =
              try {
                (0 until nEpochs).map { e =>
                  val t = new java.sql.Timestamp(3600000L * (e + 1))
                  inT.addData((0 until perEpoch).map(i => ((e * perEpoch + i).toLong, t, docText((e * perEpoch + i).toLong))))
                  qT.processAllAvailable()
                  stateRows(qT)
                }
              } finally qT.stop()
            val reg = spark
              .table(sinkName)
              .groupBy($"bkey")
              .agg(min($"min_id").as("m"))
              .as[(String, Long)]
              .collect()
              .toMap
            (samples, reg)
          } finally {
            prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
          }
        }
        val backends = Seq(
          "default" -> None,
          "rocksdb" -> Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        )
        val ttlRuns   = backends.map { case (label, p) => (label, runTtl(label, p)) }
        val totalDocs = perEpoch.toLong * nEpochs
        println(s"[scalestream] ttl: unbounded state/epoch = ${unboundedSamples.mkString(", ")}")
        if (unboundedSamples.last < 3L * totalDocs) {
          println(s"[scalestream] VIOLATION unbounded registry measured ${unboundedSamples.last} rows — expected ~4x$totalDocs; state metric broken?")
          ok = false
        }
        ttlRuns.foreach { case (label, (ttlSamples, _)) =>
          println(s"[scalestream] ttl: 90min-TTL ($label backend) state/epoch = ${ttlSamples.mkString(", ")}")
          val tail4 = ttlSamples.takeRight(4)
          if (tail4.max > 1.5 * tail4.min) {
            println(s"[scalestream] VIOLATION TTL ($label) state did not plateau: last-4 samples ${tail4.mkString(", ")}")
            ok = false
          }
          if (ttlSamples.last > unboundedSamples.last / 2) {
            println(s"[scalestream] VIOLATION TTL ($label) final state ${ttlSamples.last} not under half of unbounded ${unboundedSamples.last}")
            ok = false
          }
        }
        val regs = ttlRuns.map(_._2._2)
        if (regs(0) != regs(1)) {
          val only0 = (regs(0).keySet -- regs(1).keySet).size
          val only1 = (regs(1).keySet -- regs(0).keySet).size
          val diff  = regs(0).keySet.intersect(regs(1).keySet).count(k => regs(0)(k) != regs(1)(k))
          println(s"[scalestream] VIOLATION TTL registry differs across backends: $only0 buckets only-default, $only1 only-rocksdb, $diff value diffs")
          ok = false
        } else
          println(s"[scalestream] ttl: final registries identical across backends (${regs(0).size} buckets)")
      }
      // ---- at-arrival gate THROUGHPUT phase (RocksDB backend) ----
      // q150 proves the gate's semantics; this grades the deployment
      // question — does admission keep up as the arrival rate grows? The
      // REAL at-arrival pipeline (nearDupAtArrivalFlags on the production
      // RocksDB state store, 90-minute horizon) is driven by MemoryStream
      // epochs of growing size (5k → 20k → 80k docs/epoch, 4 epochs each,
      // every 10th doc a duplicate so the registry takes hits, not just
      // inserts) and sustained docs/s is measured over the whole run.
      // Tripwires (exit 1): flag count must be EXACTLY 4 per arriving doc
      // (the gate must emit one verdict component per band, never drop an
      // arrival under load), and >5x wall time per 4x arrival-rate step
      // (state-store ops super-linear in arriving rows = admission falls
      // behind at scale).
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import scala.concurrent.duration._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val confKey = "spark.sql.streaming.stateStore.providerClass"
        val prior   = spark.conf.getOption(confKey)
        spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          def docText(id: Long): String = {
            val base = if (id % 10 == 0 && id > 0) id - 1 else id
            (0 until 40).map(j => java.lang.Long.toHexString(base * 40L + j + 0x9e3779b9L)).mkString(" ")
          }
          def run(perEpoch: Int): (Long, Double) = {
            val root  = java.nio.file.Files.createTempDirectory("graft_gaterate").toString
            try {
              val in    = MemoryStream[(Long, java.sql.Timestamp, String)]
              val flags = new java.util.concurrent.atomic.AtomicLong(0L)
              val q = graft.streaming.Streaming
                .nearDupAtArrivalFlags(in.toDF().toDF("doc_id", "ts", "text"), horizon = 90.minutes)
                .toDF()
                .writeStream
                .option("checkpointLocation", s"$root/ckpt")
                .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                  flags.addAndGet(batch.count())
                  ()
                }
                .start()
              val t0 = System.nanoTime()
              try {
                (0 until 4).foreach { e =>
                  val t = new java.sql.Timestamp(3600000L * (e + 1))
                  in.addData(
                    (0 until perEpoch).map(i => ((e.toLong * perEpoch + i), t, docText(e.toLong * perEpoch + i)))
                  )
                  q.processAllAvailable()
                }
              } finally q.stop()
              (flags.get(), (System.nanoTime() - t0) / 1e9)
            } finally graft.sources.ParquetSink.deleteRecursively(root)
          }
          run(5000) // warm: JIT + RocksDB instance init, untimed
          val steps = Seq(5000, 20000, 80000).map { per =>
            val (flags, sec) = run(per)
            val docsN        = per.toLong * 4
            println(
              f"[scalestream] gate-rate (rocksdb) docs/epoch=$per%6d total=$docsN%7d time=$sec%7.2f s rate=${docsN / sec}%9.0f docs/s"
            )
            if (flags != 4L * docsN) {
              println(s"[scalestream] VIOLATION gate emitted $flags flags, expected ${4L * docsN} (4/doc)")
              ok = false
            }
            (docsN, sec)
          }
          steps.sliding(2).foreach {
            case Seq((n0, t0), (n1, t1)) =>
              val ratio = t1 / t0
              println(
                f"[scalestream] gate-rate $n0%d→$n1%d (4x rate): ${ratio}%.2fx time ${if (ratio <= 5.0) "OK"
                  else "VIOLATION (admission falls behind)"}"
              )
              if (ratio > 5.0) ok = false
            case _ => ()
          }
        } finally {
          prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        }
      }
      // ---- q177 WINDOW-md5 registry phases (r17 verdict task 1) ----
      // The at-arrival exact-substring gate's state is the family's honest
      // worst case: one Long per DISTINCT 15-token-window md5 in the TTL
      // horizon — ~26 entries/doc here (40-token docs) vs the band
      // registry's 4. Same two treatments the band registry got in r11/r12:
      // (a) TTL plateau on BOTH state-store backends with emission-identity
      // across them, (b) sustained-admission throughput under arrival-rate
      // steps on the production RocksDB backend.
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import scala.concurrent.duration._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val perEpoch = 2000
        val nEpochs  = 8
        val winsPerDoc = 40 - 14 // 40 fresh tokens → 26 distinct windows/doc
        def docText(id: Long): String =
          (0 until 40).map(j => java.lang.Long.toHexString(id * 40L + j + 0x51ed2701L)).mkString(" ")
        def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
          q.recentProgress.flatMap(_.stateOperators.headOption).map(_.numRowsTotal).lastOption.getOrElse(-1L)
        val confKey = "spark.sql.streaming.stateStore.providerClass"
        // one run of the window registry: `horizon` bounds the TTL, epochs
        // land 1 h apart; returns per-epoch state samples + emitted flags
        def runWin(label: String, provider: Option[String], horizon: FiniteDuration)
            : (Seq[Long], Seq[graft.streaming.Streaming.WinFlag]) = {
          val prior = spark.conf.getOption(confKey)
          provider.foreach(spark.conf.set(confKey, _))
          try {
            val in       = MemoryStream[(Long, java.sql.Timestamp, String)]
            val sinkName = s"win_ttl_emit_$label"
            val q = graft.streaming.Streaming
              .substringWindowFlags(in.toDF().toDF("doc_id", "ts", "text"), horizon = horizon)
              .toDF()
              .writeStream
              .format("memory")
              .queryName(sinkName)
              .outputMode("append")
              .start()
            val samples =
              try {
                (0 until nEpochs).map { e =>
                  val t = new java.sql.Timestamp(3600000L * (e + 1))
                  in.addData((0 until perEpoch).map(i => ((e * perEpoch + i).toLong, t, docText((e * perEpoch + i).toLong))))
                  q.processAllAvailable()
                  stateRows(q)
                }
              } finally q.stop()
            val flags = spark
              .table(sinkName)
              .as[graft.streaming.Streaming.WinFlag]
              .collect()
              .toSeq
              .sortBy(r => (r.doc_id, r.pos))
            (samples, flags)
          } finally {
            prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
          }
        }
        val totalDocs = perEpoch.toLong * nEpochs
        // (a) unbounded horizon (far beyond the 8-hour event span): state
        // must grow ~26 rows/doc — sanity that we measure the right metric
        val (unbSamples, unbFlags) = runWin("unbounded", None, 3650.days)
        println(s"[scalestream] win-ttl: unbounded state/epoch = ${unbSamples.mkString(", ")}")
        if (unbSamples.last < (winsPerDoc - 4).toLong * totalDocs) {
          println(s"[scalestream] VIOLATION win registry unbounded state ${unbSamples.last} — expected ~${winsPerDoc}x$totalDocs")
          ok = false
        }
        if (unbFlags.size != winsPerDoc * totalDocs) {
          println(s"[scalestream] VIOLATION win registry emitted ${unbFlags.size} flags, expected ${winsPerDoc * totalDocs} ($winsPerDoc/doc)")
          ok = false
        }
        // (b) 90-minute TTL, both backends: plateau + emission identity
        val winBackends = Seq(
          "default" -> None,
          "rocksdb" -> Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        )
        val winRuns = winBackends.map { case (label, p) => (label, runWin(label, p, 90.minutes)) }
        winRuns.foreach { case (label, (samples, _)) =>
          println(s"[scalestream] win-ttl: 90min-TTL ($label backend) state/epoch = ${samples.mkString(", ")}")
          val tail4 = samples.takeRight(4)
          if (tail4.max > 1.5 * tail4.min) {
            println(s"[scalestream] VIOLATION win-ttl ($label) state did not plateau: last-4 ${tail4.mkString(", ")}")
            ok = false
          }
          if (samples.last > unbSamples.last / 2) {
            println(s"[scalestream] VIOLATION win-ttl ($label) final state ${samples.last} not under half of unbounded ${unbSamples.last}")
            ok = false
          }
        }
        val fl = winRuns.map(_._2._2)
        if (fl(0) != fl(1)) {
          println(s"[scalestream] VIOLATION win-ttl flag emissions differ across backends: ${fl(0).size} default vs ${fl(1).size} rocksdb rows")
          ok = false
        } else
          println(s"[scalestream] win-ttl: flag emissions identical across backends (${fl(0).size} rows)")
      }
      // window-gate THROUGHPUT (RocksDB): does at-arrival substring
      // admission keep up as the arrival rate grows? Every 10th doc
      // duplicates its predecessor so the registry takes hits, not just
      // inserts. Tripwires: exactly 26 flags per arriving doc (one per
      // window occurrence — the gate must never drop an arrival under
      // load), and >5x wall time per 4x arrival-rate step.
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import scala.concurrent.duration._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val confKey = "spark.sql.streaming.stateStore.providerClass"
        val prior   = spark.conf.getOption(confKey)
        spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val winsPerDoc = 40 - 14
          def docText(id: Long): String = {
            val base = if (id % 10 == 0 && id > 0) id - 1 else id
            (0 until 40).map(j => java.lang.Long.toHexString(base * 40L + j + 0x51ed2701L)).mkString(" ")
          }
          def run(perEpoch: Int): (Long, Double) = {
            val root = java.nio.file.Files.createTempDirectory("graft_winrate").toString
            try {
              val in    = MemoryStream[(Long, java.sql.Timestamp, String)]
              val flags = new java.util.concurrent.atomic.AtomicLong(0L)
              val q = graft.streaming.Streaming
                .substringWindowFlags(in.toDF().toDF("doc_id", "ts", "text"), horizon = 90.minutes)
                .toDF()
                .writeStream
                .option("checkpointLocation", s"$root/ckpt")
                .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                  flags.addAndGet(batch.count())
                  ()
                }
                .start()
              val t0 = System.nanoTime()
              try {
                (0 until 4).foreach { e =>
                  val t = new java.sql.Timestamp(3600000L * (e + 1))
                  in.addData(
                    (0 until perEpoch).map(i => ((e.toLong * perEpoch + i), t, docText(e.toLong * perEpoch + i)))
                  )
                  q.processAllAvailable()
                }
              } finally q.stop()
              (flags.get(), (System.nanoTime() - t0) / 1e9)
            } finally graft.sources.ParquetSink.deleteRecursively(root)
          }
          run(2500) // warm: JIT + RocksDB instance init, untimed
          val steps = Seq(2500, 10000, 40000).map { per =>
            val (flags, sec) = run(per)
            val docsN        = per.toLong * 4
            val winsN        = winsPerDoc * docsN
            println(
              f"[scalestream] win-gate-rate (rocksdb) docs/epoch=$per%6d total=$docsN%7d time=$sec%7.2f s " +
                f"rate=${docsN / sec}%9.0f docs/s (${winsN / sec}%9.0f windows/s)"
            )
            if (flags != winsN) {
              println(s"[scalestream] VIOLATION win gate emitted $flags flags, expected $winsN ($winsPerDoc/doc)")
              ok = false
            }
            (docsN, sec)
          }
          steps.sliding(2).foreach {
            case Seq((n0, t0), (n1, t1)) =>
              val ratio = t1 / t0
              println(
                f"[scalestream] win-gate-rate $n0%d→$n1%d (4x rate): ${ratio}%.2fx time ${if (ratio <= 5.0) "OK"
                  else "VIOLATION (admission falls behind)"}"
              )
              if (ratio > 5.0) ok = false
            case _ => ()
          }
        } finally {
          prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        }
      }
      if (!imageGatePhases(spark)) ok = false
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "imgstream") { // the q181 scalestream phases, standalone
      val ok2 = imageGatePhases(spark)
      spark.stop()
      if (!ok2) sys.exit(1)
      return
    }
    // ---- q181 IMAGE-gate phases (r19): the image at-arrival gate gets
    // the same two treatments every other streaming family carries —
    // (a) TTL plateau on BOTH backends with emission identity, (b) an
    // arrival-rate admission ladder on the production RocksDB backend.
    // Payloads are REAL PNGs encoded driver-side; the per-pixel value is
    // a NON-LINEAR mix of the image id (a plain gradient shifted by id
    // would leave the average-hash bit pattern invariant — measured: 16k
    // "fresh" images collapsed into 114 buckets — because a constant
    // shift moves every gray and the mean together). Every 10th image is
    // an exact byte copy of its predecessor so the registry takes hits.
    // Called from `scalestream` (canonical) and standalone `imgstream`.
    def imageGatePhases(spark: org.apache.spark.sql.SparkSession): Boolean = {
      import spark.implicits._
      var ok = true
      locally {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import scala.concurrent.duration._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        def pngOf(id: Long): Array[Byte] = {
          val base = if (id % 10 == 0 && id > 0) id - 1 else id
          val img  = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              // murmur-style finalizer: the taken byte must depend on ALL
              // bits of base (a linear mix truncated to & 0xff reduces to
              // base mod 256 → 256 raster classes; measured 64 buckets)
              var hsh = base * 0x9e3779b97f4a7c15L + (x * 8 + y + 1) * 0xc2b2ae3d27d4eb4fL
              hsh ^= hsh >>> 33; hsh *= 0xff51afd7ed558ccdL; hsh ^= hsh >>> 33
              val v = (hsh & 0xffL).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
          q.recentProgress.flatMap(_.stateOperators.headOption).map(_.numRowsTotal).lastOption.getOrElse(-1L)
        val confKey = "spark.sql.streaming.stateStore.providerClass"
        // (a) TTL plateau, both backends, emission identity
        val perEpoch = 2000
        val nEpochs  = 8
        def runImg(label: String, provider: Option[String], horizon: FiniteDuration)
            : (Seq[Long], Seq[(Long, String, Option[Long])]) = {
          val prior = spark.conf.getOption(confKey)
          provider.foreach(spark.conf.set(confKey, _))
          try {
            val in       = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
            val sinkName = s"img_ttl_emit_$label"
            val q = graft.streaming.Streaming
              .imagePhashAtArrivalFlags(in.toDF().toDF("doc_id", "ts", "img"), horizon = horizon)
              .toDF()
              .writeStream
              .format("memory")
              .queryName(sinkName)
              .outputMode("append")
              .start()
            val samples =
              try {
                (0 until nEpochs).map { e =>
                  val t = new java.sql.Timestamp(3600000L * (e + 1))
                  in.addData((0 until perEpoch).map(i => ((e * perEpoch + i).toLong, t, pngOf((e * perEpoch + i).toLong))))
                  q.processAllAvailable()
                  stateRows(q)
                }
              } finally q.stop()
            import spark.implicits._
            val flags = spark
              .table(sinkName)
              .as[graft.streaming.Streaming.ArrivalFlag]
              .collect()
              .toSeq
              .map(f => (f.doc_id, f.bkey, Option(f.prior_id).map(_.toLong)))
              .sortBy(r => (r._1, r._2))
            (samples, flags)
          } finally {
            prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
          }
        }
        val totalImgs = perEpoch.toLong * nEpochs
        val (unbS, unbF) = runImg("unbounded", None, 3650.days)
        println(s"[scalestream] img-ttl: unbounded state/epoch = ${unbS.mkString(", ")}")
        // distinct buckets grow with fresh images (4 bands/image, shared
        // across copies); the copies keep it below 4/image — sanity floor
        if (unbS.last < totalImgs) {
          println(s"[scalestream] VIOLATION img registry unbounded state ${unbS.last} below floor $totalImgs")
          ok = false
        }
        if (unbF.size != 4L * totalImgs) {
          println(s"[scalestream] VIOLATION img gate emitted ${unbF.size} flags, expected ${4L * totalImgs} (4/image)")
          ok = false
        }
        val backends = Seq(
          "default" -> None,
          "rocksdb" -> Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        )
        val ttlRuns = backends.map { case (label, p) => (label, runImg(label, p, 90.minutes)) }
        ttlRuns.foreach { case (label, (samples, _)) =>
          println(s"[scalestream] img-ttl: 90min-TTL ($label) state/epoch = ${samples.mkString(", ")}")
          val tail4 = samples.takeRight(4)
          if (tail4.max > 1.5 * tail4.min) {
            println(s"[scalestream] VIOLATION img-ttl ($label) state did not plateau: ${tail4.mkString(", ")}")
            ok = false
          }
          if (samples.last > unbS.last / 2) {
            println(s"[scalestream] VIOLATION img-ttl ($label) final state ${samples.last} not under half of unbounded ${unbS.last}")
            ok = false
          }
        }
        if (ttlRuns(0)._2._2 != ttlRuns(1)._2._2) {
          println(s"[scalestream] VIOLATION img-ttl emissions differ across backends")
          ok = false
        } else
          println(s"[scalestream] img-ttl: emissions identical across backends (${ttlRuns(0)._2._2.size} flags)")
        // (b) admission ladder on RocksDB
        locally {
          val prior = spark.conf.getOption(confKey)
          spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          try {
            def run(per: Int): (Long, Double) = {
              val root = java.nio.file.Files.createTempDirectory("graft_imgrate").toString
              try {
                val in    = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
                val flags = new java.util.concurrent.atomic.AtomicLong(0L)
                val q = graft.streaming.Streaming
                  .imagePhashAtArrivalFlags(in.toDF().toDF("doc_id", "ts", "img"), horizon = 90.minutes)
                  .toDF()
                  .writeStream
                  .option("checkpointLocation", s"$root/ckpt")
                  .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                    flags.addAndGet(batch.count())
                    ()
                  }
                  .start()
                val t0 = System.nanoTime()
                try {
                  (0 until 4).foreach { e =>
                    val t = new java.sql.Timestamp(3600000L * (e + 1))
                    in.addData((0 until per).map(i => ((e.toLong * per + i), t, pngOf(e.toLong * per + i))))
                    q.processAllAvailable()
                  }
                } finally q.stop()
                (flags.get(), (System.nanoTime() - t0) / 1e9)
              } finally graft.sources.ParquetSink.deleteRecursively(root)
            }
            run(2500) // warm
            val steps = Seq(2500, 10000, 40000).map { per =>
              val (flags, sec) = run(per)
              val n            = per.toLong * 4
              println(f"[scalestream] img-gate-rate (rocksdb) imgs/epoch=$per%6d total=$n%7d time=$sec%7.2f s rate=${n / sec}%9.0f imgs/s")
              if (flags != 4L * n) {
                println(s"[scalestream] VIOLATION img gate emitted $flags flags, expected ${4L * n} (4/image)")
                ok = false
              }
              (n, sec)
            }
            steps.sliding(2).foreach {
              case Seq((n0, t0), (n1, t1)) =>
                val ratio = t1 / t0
                println(f"[scalestream] img-gate-rate $n0%d→$n1%d (4x rate): ${ratio}%.2fx time ${if (ratio <= 5.0) "OK"
                  else "VIOLATION (admission falls behind)"}")
                if (ratio > 5.0) ok = false
              case _ => ()
            }
          } finally {
            prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
          }
        }
      }
      ok
    }
    if (which == "scalesim") {
      // Engine-only scaling curve for the ANN/similarity family (the q70
      // multi-table LSH shape): synthetic 64-dim vectors with every 10th
      // vector an EXACT copy of its predecessor, 4 hash tables × 8
      // hyperplanes (256 buckets/table), 20 bounded queries (the copies
      // themselves). Identical vectors land in identical buckets in every
      // table, so LSH must find every planted partner at cos≈1 — a 100%
      // mechanical recall floor that needs no statistical tolerance.
      // Tripwires (exit 1): any missed partner, candidate volume above
      // n/16 per query (the whole point of bucketing is pruning — brute
      // force would examine n), or >5x time per 4x data step.
      import spark.implicits._
      import graft.functions.Kernels
      import graft.operators.Similarity
      val dim     = 64
      val nTables = 4
      val nPlanes = 8
      val nQ      = 20L
      def synthVecs(n: Long) = {
        val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
        spark
          .range(n)
          .repartition(32)
          .select(
            $"id".as("vec_id"),
            transform(
              sequence(lit(0), lit(dim - 1)),
              d =>
                (((conv(substring(md5(concat_ws("_", base, d)), 1, 8), 16, 10).cast("long") % 2001L) -
                  1000L).cast("double") / 1000.0).cast("float")
            ).as("embedding")
          )
      }
      def run(n: Long): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        val v = synthVecs(n)
          .select($"vec_id", $"embedding", sqrt(Kernels.dot($"embedding", $"embedding")).as("nrm"))
        val buckets = array(
          (0 until nTables).map(t =>
            struct(lit(t).as("t"), Similarity.lshBucket($"embedding", t, nPlanes).as("b"))
          ): _*
        )
        val cand = v
          .select($"vec_id", $"embedding", $"nrm", explode(buckets).as("tb"))
          .repartition($"tb")
        val q = cand
          .filter($"vec_id" % 10 === 0 && $"vec_id" > 0 && $"vec_id" <= nQ * 10)
          .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"), $"tb".as("qtb"))
        val m = cand
          .hint("shuffle_hash")
          .join(broadcast(q), $"tb" === $"qtb" && $"vec_id" =!= $"query_id")
          .dropDuplicates("query_id", "vec_id")
          .withColumn("cos", Kernels.dot($"qe", $"embedding") / ($"qn" * $"nrm"))
          .agg(
            count(lit(1)).as("n_cand"),
            sum(when($"vec_id" === $"query_id" - 1 && $"cos" > 0.999, 1L).otherwise(0L)).as("found")
          )
          .as[(Long, Long)]
          .head()
        (m._1, m._2, (System.nanoTime() - t0) / 1e9)
      }
      run(25000) // warm: JIT + codegen, untimed
      var ok = true
      val steps = Seq(25000L, 100000L, 400000L).map { n =>
        val (nCand, found, sec) = run(n)
        println(f"[scalesim] vecs=$n%7d candidates=$nCand%9d found=$found/$nQ time=$sec%7.2f s")
        if (found != nQ) { println(s"[scalesim] VIOLATION planted partner missed ($found of $nQ)"); ok = false }
        if (nCand > nQ * n / 16) {
          println(s"[scalesim] VIOLATION candidate volume $nCand exceeds ${nQ * n / 16} — bucketing is not pruning")
          ok = false
        }
        (n, sec)
      }
      steps.sliding(2).foreach {
        case Seq((n0, t0), (n1, t1)) =>
          val ratio = t1 / t0
          println(f"[scalesim] $n0%d→$n1%d (4x data): ${ratio}%.2fx time ${if (ratio <= 5.0) "OK" else "VIOLATION (super-linear)"}")
          if (ratio > 5.0) ok = false
        case _ => ()
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "bpedepth") { // the scalecur merge-depth phase, standalone
      val ok = bpeDepthPhase(spark)
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "planof" || which == "planexec") {
      // print the formatted physical plan of a declared query over sfDir —
      // the exchange-audit loupe (runMain graft.Probe <dir> planof <query>).
      // planexec EXECUTES the plan first so the printed AdaptiveSparkPlan is
      // the FINAL runtime plan incl. ReusedExchange/ReusedQueryStage nodes —
      // static explain shows only AQE's initial plan and hides stage reuse.
      args.drop(2).foreach { n =>
        println(s"===== $n =====")
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (which == "planexec") {
          val rows = df.queryExecution.executedPlan.execute().count()
          println(s"-- executed: $rows rows --")
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
      spark.stop(); return
    }
    if (which == "dispatchcorners") {
      // r14 verdict task 5: print the dispatcher's full cost record
      // (skew, estPairs, pick — the [dedup-dispatch] lines) at the four
      // standing corpus corners (jaccard/containment × Zipf-head/uniform,
      // the crossover probe's 100k corpora) plus the two fixture corners
      // (q170/q171 over sfDir). Sampling aggregates only — no joins run —
      // so the whole probe is seconds; the values land in BASELINE.md and
      // make future threshold moves diffable.
      import spark.implicits._
      import graft.functions.Kernels
      import graft.operators.Dedup
      def zipfDocs(n: Long) = {
        val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
        spark.range(n).repartition(32).select(
          $"id".as("doc_id"),
          concat_ws(" ", concat(
            transform(sequence(lit(0L), lit(7L)),
              j => substring(md5(concat_ws("_", lit("hot"), base % 50L, j)), 1, 6)),
            transform(sequence(lit(8L), lit(39L)),
              j => substring(md5((base * 40L + j).cast("string")), 1, 6))
          )).as("text"))
      }
      def uniDocs(n: Long) = {
        val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
        spark.range(n).repartition(32).select(
          $"id".as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0L), lit(39L)),
            j => substring(md5(concat(base * 40L + j, lit("u"))), 1, 6))).as("text"))
      }
      def shDocs(d: org.apache.spark.sql.DataFrame) = d
        .repartition(32, $"doc_id")
        .select($"doc_id", array_distinct(Kernels.shingleHashes(split($"text", " "), 3)).as("sh"))
      println("[dispatchcorners] crossover corpora, n=100000:")
      Dedup.chooseJaccardPlan(zipfDocs(100000L))
      Dedup.chooseJaccardPlan(uniDocs(100000L))
      Dedup.chooseContainmentPlan(shDocs(zipfDocs(100000L)))
      Dedup.chooseContainmentPlan(shDocs(uniDocs(100000L)))
      println(s"[dispatchcorners] fixture corpora at $sfDir:")
      Dedup.chooseJaccardPlan(Dedup.docsWithDups(spark, sfDir))
      graft.SparkEntry.queries("q171_adaptive_containment_pairs")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      spark.stop(); return
    }
    if (which == "crossover") {
      // Plan-pair crossover measurement (round-11 verdict task 4): each
      // declared plan pair ships one fixture-fast plan and one scale-safe
      // plan; at fixture scale the scale-safe plan is LOCALLY slower and
      // the claim that it wins at scale was design-argument only. This
      // phase times both plans of each pair, same invocation, best-of-2,
      // over corpora whose adversarial structure GROWS with n, and exits 1
      // if the scale-safe plan is not ahead at the top size.
      //
      // Pair 1 — q67 full inverted index vs q147 prefix-filtered AllPairs.
      // Corpus: every doc carries an 8-token PREAMBLE shared by its
      // doc_id%50 group (a constant FRACTION of docs per group — the
      // Zipf-head trigram regime: bucket sizes grow linearly with n, so
      // the full index's candidate stage grows ~n² while true Jaccard of
      // preamble-only pairs stays ≈6/70 ≪ 0.6) + 32 unique tokens, every
      // 10th doc an exact copy (the true pairs, linear in n). The prefix
      // lemma puts ONLY the rarest shingles in the index, so the hot
      // preamble shingles never generate candidates there — this is
      // exactly the skew q89's df-cap documents, handled losslessly.
      //
      // Pair 2 — q69 brute cosine vs the q76-shape IVF query path at the
      // production probe width, with the inverted-list INDEX PREBUILT
      // (localCheckpoint): production builds the index once and amortizes
      // it over query batches, so the deployment question is per-batch
      // query cost — brute scans n per query, IVF scans ~nprobe/nlist of n.
      import spark.implicits._
      import graft.functions.Kernels
      import graft.operators.{Dedup, Similarity}
      import org.apache.spark.sql.expressions.Window
      var ok = true
      def best2(f: => Long): (Long, Double) = {
        val runs = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); val c = f; (c, (System.nanoTime() - t0) / 1e9)
        }
        (runs.head._1, runs.map(_._2).min)
      }
      def xDocs(n: Long) = {
        val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
        spark
          .range(n)
          .repartition(32)
          .select(
            $"id".as("doc_id"),
            concat_ws(
              " ",
              concat(
                transform(
                  sequence(lit(0L), lit(7L)),
                  j => substring(md5(concat_ws("_", lit("hot"), base % 50L, j)), 1, 6)
                ),
                transform(
                  sequence(lit(8L), lit(39L)),
                  j => substring(md5((base * 40L + j).cast("string")), 1, 6)
                )
              )
            ).as("text")
          )
      }
      // equality spot-check at the smallest size: the pair contract is
      // hash-identical results (test-enforced at fixture scale; re-proven
      // here on the adversarial corpus)
      locally {
        val d    = xDocs(25000L).localCheckpoint()
        val full = Dedup.ngramJaccardPairsOf(d)
        val pfx  = Dedup.prefixJaccardPairsOf(d)
        val diff = full.except(pfx).count() + pfx.except(full).count()
        if (diff != 0) {
          println(s"[crossover] VIOLATION q67/q147 pair sets differ by $diff rows at n=25000")
          ok = false
        }
      }
      // sizes stop at 100k: the full index's candidate stage is ~n²·f on
      // this corpus (measured 0.20x at 25k already) — the point is the
      // divergence RATE per 2x step, not paying a half-hour quadratic tail
      val textSteps = Seq(25000L, 50000L, 100000L).map { n =>
        val d            = xDocs(n).localCheckpoint()
        val (cFull, sF)  = best2(Dedup.ngramJaccardPairsOf(d).count())
        val (cPfx, sP)   = best2(Dedup.prefixJaccardPairsOf(d).count())
        println(
          f"[crossover] text n=$n%7d full=$sF%8.2f s ($cFull pairs) prefix=$sP%8.2f s ($cPfx pairs) ratio=${sP / sF}%.2fx"
        )
        if (cFull != cPfx) {
          println(s"[crossover] VIOLATION pair counts differ: full=$cFull prefix=$cPfx at n=$n")
          ok = false
        }
        (n, sF, sP)
      }
      if (textSteps.last._3 > textSteps.last._2) {
        println(
          f"[crossover] VIOLATION prefix plan (${textSteps.last._3}%.2f s) behind full index (${textSteps.last._2}%.2f s) at top size"
        )
        ok = false
      }
      // the sf10 dedup slice, when present, extends the curve to the 1M-doc
      // dup-injected REAL corpus (run `graft.Probe <sfDir> sf10` first)
      if (java.nio.file.Files.exists(java.nio.file.Paths.get("/tmp/graft_sf10dd/documents.parquet"))) {
        val d           = Dedup.docsWithDups(spark, "/tmp/graft_sf10dd")
        val (cFull, sF) = best2(Dedup.ngramJaccardPairsOf(d).count())
        val (cPfx, sP)  = best2(Dedup.prefixJaccardPairsOf(d).count())
        println(
          f"[crossover] text sf10dd slice  full=$sF%8.2f s ($cFull pairs) prefix=$sP%8.2f s ($cPfx pairs) ratio=${sP / sF}%.2fx"
        )
        if (cFull != cPfx) {
          println(s"[crossover] VIOLATION pair counts differ on sf10dd: full=$cFull prefix=$cPfx")
          ok = false
        }
      }
      // ---- pair 1b: q160 full containment index vs q168 contained-side
      // prefix index, same adversarial corpus (exact copies every 10th doc
      // are mutual containments; the hot preamble blows up the full index's
      // candidate stage exactly as in pair 1). The prefix side indexes only
      // ~10% of the contained side's postings (t=0.9), so the divergence is
      // steeper than pair 1's.
      def shDocs(d: org.apache.spark.sql.DataFrame) = d
        .repartition(32, $"doc_id")
        .select(
          $"doc_id",
          array_distinct(Kernels.shingleHashes(split($"text", " "), 3)).as("sh")
        )
      // sizes stop at 40k: the full index's candidate stage is ~2× pair 1's
      // (ordered pairs, both directions) — the divergence RATE is the
      // point, not paying the quadratic tail twice
      val contSteps = Seq(20000L, 40000L).map { n =>
        val d           = shDocs(xDocs(n)).localCheckpoint()
        val (cFull, sF) = best2(Dedup.containmentPairsOf(d).count())
        val (cPfx, sP)  = best2(Dedup.containmentPrefixPairsOf(d).count())
        println(
          f"[crossover] cont n=$n%7d full=$sF%8.2f s ($cFull pairs) prefix=$sP%8.2f s ($cPfx pairs) ratio=${sP / sF}%.2fx"
        )
        if (cFull != cPfx) {
          println(s"[crossover] VIOLATION containment pair counts differ: full=$cFull prefix=$cPfx at n=$n")
          ok = false
        }
        (n, sF, sP)
      }
      if (contSteps.last._3 > contSteps.last._2) {
        println(
          f"[crossover] VIOLATION containment prefix plan (${contSteps.last._3}%.2f s) behind full index (${contSteps.last._2}%.2f s) at top size"
        )
        ok = false
      }
      // ---- dispatcher: the q170 skew estimate must pick the measured
      // winner at BOTH ends of pair 1's curve (prefix on the Zipf head,
      // full index under per-doc-unique uniformity)
      locally {
        def uDocs(n: Long) = {
          val base = when($"id" % 10 === 0 && $"id" > 0, $"id" - 1).otherwise($"id")
          spark
            .range(n)
            .repartition(32)
            .select(
              $"id".as("doc_id"),
              concat_ws(" ",
                transform(sequence(lit(0L), lit(39L)),
                  j => substring(md5(concat(base * 40L + j, lit("u"))), 1, 6))
              ).as("text")
            )
        }
        val zPick = Dedup.chooseJaccardPlan(xDocs(100000L))
        val zStat = Dedup.jaccardSkewStat(xDocs(100000L))
        val uPick = Dedup.chooseJaccardPlan(uDocs(100000L))
        val uStat = Dedup.jaccardSkewStat(uDocs(100000L))
        println(f"[crossover] dispatch zipf-head n=100000 skew=$zStat%.5f -> $zPick")
        println(f"[crossover] dispatch uniform   n=100000 skew=$uStat%.5f -> $uPick")
        if (zPick != "prefix") { println("[crossover] VIOLATION dispatcher must pick prefix on the Zipf head"); ok = false }
        if (uPick != "full")   { println("[crossover] VIOLATION dispatcher must pick full under uniformity"); ok = false }
        // q171: the containment dispatcher must make the same calls over
        // the prepared (doc_id, sh) corpora — pair 1b measured the same
        // skew dependence for the containment index
        val zcPick = Dedup.chooseContainmentPlan(shDocs(xDocs(100000L)))
        val ucPick = Dedup.chooseContainmentPlan(shDocs(uDocs(100000L)))
        println(s"[crossover] dispatch containment zipf-head n=100000 -> $zcPick, uniform -> $ucPick")
        if (zcPick != "prefix") { println("[crossover] VIOLATION containment dispatcher must pick prefix on the Zipf head"); ok = false }
        if (ucPick != "full")   { println("[crossover] VIOLATION containment dispatcher must pick full under uniformity"); ok = false }
      }
      // ---- pair 2: brute vs prebuilt-index IVF query path ----
      val dim = 64
      val nQ  = 20
      def baseVec(key: org.apache.spark.sql.Column) =
        transform(
          sequence(lit(0), lit(dim - 1)),
          d =>
            (((conv(substring(md5(concat_ws("_", key, d)), 1, 8), 16, 10).cast("long") % 2001L) -
              1000L).cast("double") / 1000.0).cast("float")
        )
      def vecs(n: Long) =
        spark
          .range(n)
          .repartition(32)
          .select($"id".as("vec_id"), baseVec($"id").as("embedding"))
          .select($"vec_id", $"embedding", sqrt(Kernels.dot($"embedding", $"embedding")).as("nrm"))
          .localCheckpoint()
      def topk(scored: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
        scored
          .withColumn("cos", round(Kernels.dot($"qe", $"embedding") / ($"qn" * $"nrm"), 6))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 10)
          .select($"query_id", $"vec_id")
      }
      val annSteps = Seq(25000L, 100000L, 400000L).map { n =>
        val e = vecs(n)
        val q = e
          .filter($"vec_id" < nQ)
          .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
          .localCheckpoint()
        val cents = e
          .filter($"vec_id" % (n / 64L) === 17)
          .select($"vec_id".as("cent_id"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
        val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
        // the index: built once, frozen — its cost is amortized across
        // query batches and excluded from the per-batch timings below
        val assigned = e
          .crossJoin(broadcast(cents))
          .withColumn("ccos", Kernels.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm"))
          .withColumn("crk", row_number().over(wAssign))
          .filter($"crk" === 1)
          .select($"vec_id", $"embedding", $"nrm", $"cent_id")
          .localCheckpoint()
        val (cB, sB) = best2(topk(e.join(broadcast(q), $"vec_id" =!= $"query_id")).count())
        val wProbe = Window.partitionBy($"query_id").orderBy($"ccos".desc, $"probe_cent")
        def ivfQ = {
          val probes = q
            .crossJoin(broadcast(cents))
            .withColumn("ccos", Kernels.dot($"qe", $"cvec") / ($"qn" * $"cnrm"))
            .withColumn("probe_cent", $"cent_id")
            .withColumn("crk", row_number().over(wProbe))
            .filter($"crk" <= Similarity.IvfNprobeProd)
            .select($"query_id", $"qe", $"qn", $"probe_cent")
          topk(assigned.join(broadcast(probes), $"cent_id" === $"probe_cent" && $"vec_id" =!= $"query_id"))
        }
        val (cI, sI) = best2(ivfQ.count())
        println(
          f"[crossover] ann  n=$n%7d brute=$sB%7.2f s ($cB rows) ivf(nprobe ${Similarity.IvfNprobeProd})=$sI%7.2f s ($cI rows) ratio=${sI / sB}%.2fx"
        )
        if (cI != nQ.toLong * 10) {
          println(s"[crossover] VIOLATION ivf top-k returned $cI rows, expected ${nQ * 10}")
          ok = false
        }
        (n, sB, sI)
      }
      if (annSteps.last._3 > annSteps.last._2) {
        println(
          f"[crossover] VIOLATION ivf query path (${annSteps.last._3}%.2f s) behind brute (${annSteps.last._2}%.2f s) at top size"
        )
        ok = false
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "scalerecall") {
      // Statistical ANN recall probe — the quality bar a real ANN user asks
      // about first. scalesim's planted-copy floor is mechanical (exact
      // copies share every bucket); here the planted neighbors are NOISED
      // to controlled cosines (0.95 / 0.90 / 0.80 via column-space
      // Gram-Schmidt: v' = c·û + sqrt(1-c²)·r̂⊥), so bucketing can
      // genuinely lose them and recall@10 vs brute-force ground truth is a
      // real statistic. Each query (ids 1..20) gets 10 planted neighbors
      // at the target cosine in the corpus tail; random background cosine
      // maxes out ≈0.6 at dim 64 / n=100k, so ground truth is the planted
      // set and recall isolates the ANN path's loss. Both shipped paths
      // are graded: the q70 LSH shape (4 tables × 4 planes, OR-amplified)
      // and the q76 IVF shape (sampled coarse quantizer, nprobe of nlist);
      // a banding curve (tables × planes) is recorded at c=0.90.
      // Tripwires (exit 1): shipped-parameter recall@10 < 0.9 at c≥0.90
      // (LSH), < 0.9 at c=0.95 (IVF declared nprobe), and < 0.9 at EVERY
      // c including 0.80 (IVF production nprobe = Similarity.IvfNprobeProd
      // — the recall-vs-nprobe curve at c=0.80 is recorded alongside).
      import spark.implicits._
      import graft.functions.Kernels
      import graft.operators.Similarity
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.expressions.Window
      val dim   = 64
      val nQ    = 20
      val mNbrs = 10
      val k     = 10
      def baseVec(key: Column) =
        transform(
          sequence(lit(0), lit(dim - 1)),
          d =>
            ((conv(substring(md5(concat_ws("_", key, d)), 1, 8), 16, 10).cast("long") % 2001L) -
              1000L).cast("double") / 1000.0
        )
      def hofDot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      def corpus(n: Long, c: Double) = {
        val isPlanted = $"id" >= (n - nQ.toLong * mNbrs) && $"id" < n
        val qid       = (($"id" - (n - nQ.toLong * mNbrs)) / mNbrs).cast("long") + 1 // query vec_id 1..nQ
        val u         = baseVec(qid)
        val r         = baseVec(concat(lit("noise"), $"id"))
        val ru        = hofDot(r, u)
        val uu        = hofDot(u, u)
        val rp        = zip_with(r, u, (ri, ui) => ri - ui * (ru / uu))
        val rpn       = sqrt(hofDot(rp, rp))
        val planted =
          zip_with(u, rp, (ui, rpi) => ui / sqrt(uu) * c + rpi / rpn * math.sqrt(1 - c * c))
        spark
          .range(n)
          .repartition(32)
          .select(
            $"id".as("vec_id"),
            transform(when(isPlanted, planted).otherwise(baseVec($"id")), x => x.cast("float"))
              .as("embedding")
          )
          .select($"vec_id", $"embedding", sqrt(Kernels.dot($"embedding", $"embedding")).as("nrm"))
          .localCheckpoint() // freeze: every path must see identical vectors
      }
      def queriesOf(e: org.apache.spark.sql.DataFrame) =
        e.filter($"vec_id" >= 1 && $"vec_id" <= nQ)
          .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
      def topkOf(scored: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
        scored
          .withColumn("cos", round(Kernels.dot($"qe", $"embedding") / ($"qn" * $"nrm"), 6))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= k)
          .select($"query_id", $"vec_id")
      }
      def recallVs(truth: org.apache.spark.sql.DataFrame, ann: org.apache.spark.sql.DataFrame): Double =
        truth.join(ann, Seq("query_id", "vec_id")).count().toDouble / (nQ.toDouble * k)
      def bruteTopk(e: org.apache.spark.sql.DataFrame) =
        topkOf(e.join(broadcast(queriesOf(e)), $"vec_id" =!= $"query_id"))
      def lshTopk(e: org.apache.spark.sql.DataFrame, nTables: Int, nPlanes: Int) = {
        val buckets = array(
          (0 until nTables).map(t =>
            struct(lit(t).as("t"), Similarity.lshBucket($"embedding", t, nPlanes).as("b"))
          ): _*
        )
        val cand = e.select($"vec_id", $"embedding", $"nrm", explode(buckets).as("tb"))
        val q = cand
          .filter($"vec_id" >= 1 && $"vec_id" <= nQ)
          .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"), $"tb".as("qtb"))
        topkOf(
          cand
            .join(broadcast(q), $"tb" === $"qtb" && $"vec_id" =!= $"query_id")
            .dropDuplicates("query_id", "vec_id")
        )
      }
      def ivfTopk(e: org.apache.spark.sql.DataFrame, nList: Int, nProbe: Int, n: Long) = {
        // coarse quantizer = sampled corpus vectors (the untrained stand-in
        // for k-means, same role as q76's per-label means)
        val cents = e
          .filter($"vec_id" % (n / nList) === 17 && $"vec_id" < (n - nQ.toLong * mNbrs))
          .select($"vec_id".as("cent_id"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
        val wAssign = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cent_id")
        val assigned = e
          .crossJoin(broadcast(cents))
          .withColumn("ccos", Kernels.dot($"embedding", $"cvec") / ($"nrm" * $"cnrm"))
          .withColumn("crk", row_number().over(wAssign))
          .filter($"crk" === 1)
          .select($"vec_id", $"embedding", $"nrm", $"cent_id")
        val wProbe = Window.partitionBy($"query_id").orderBy($"ccos".desc, $"probe_cent")
        val probes = queriesOf(e)
          .crossJoin(broadcast(cents))
          .withColumn("ccos", Kernels.dot($"qe", $"cvec") / ($"qn" * $"cnrm"))
          .withColumn("probe_cent", $"cent_id")
          .withColumn("crk", row_number().over(wProbe))
          .filter($"crk" <= nProbe)
          .select($"query_id", $"qe", $"qn", $"probe_cent")
        topkOf(
          assigned
            .join(broadcast(probes), $"cent_id" === $"probe_cent" && $"vec_id" =!= $"query_id")
        )
      }
      var ok = true
      val nprobeDecl = graft.operators.Similarity.IvfNprobe
      val nprobeProd = graft.operators.Similarity.IvfNprobeProd
      val cs = Seq(0.95, 0.90, 0.80)
      // GRAFT_RECALL_BIG extends the graded corners to the sf100 ANN scale
      // (2.2M vectors — r13 verdict task 4's tripwire re-run); brute-force
      // ground truth is 44M dots per c, so the big corner is opt-in rather
      // than part of the routine probe sweep.
      val sizes = Seq(25000L, 100000L) ++
        (if (sys.env.contains("GRAFT_RECALL_BIG")) Seq(2200000L) else Nil)
      sizes.foreach { n =>
        cs.foreach { c =>
          val e     = corpus(n, c)
          val truth = bruteTopk(e).localCheckpoint()
          val rLsh  = recallVs(truth, lshTopk(e, 4, 4))
          val rIvf  = recallVs(truth, ivfTopk(e, 64, nprobeDecl, n))
          val rIvfP = recallVs(truth, ivfTopk(e, 64, nprobeProd, n))
          println(f"[scalerecall] n=$n%7d c=$c%.2f lsh(4t x 4p) recall@10=$rLsh%.3f ivf(64 lists, nprobe $nprobeDecl) recall@10=$rIvf%.3f ivf(nprobe $nprobeProd) recall@10=$rIvfP%.3f")
          if (c >= 0.90 && rLsh < 0.9) {
            println(f"[scalerecall] VIOLATION shipped LSH recall $rLsh%.3f < 0.9 at c=$c%.2f")
            ok = false
          }
          if (c == 0.95 && rIvf < 0.9) {
            println(f"[scalerecall] VIOLATION declared IVF recall $rIvf%.3f < 0.9 at c=0.95")
            ok = false
          }
          if (rIvfP < 0.9) {
            println(f"[scalerecall] VIOLATION production IVF (nprobe=$nprobeProd) recall $rIvfP%.3f < 0.9 at c=$c%.2f")
            ok = false
          }
        }
      }
      // recall-vs-nprobe curve at the hardest graded corner (c=0.80,
      // n=100k): how recall buys with probe width — the dial IvfNprobeProd
      // is read off
      locally {
        val e     = corpus(100000L, 0.80)
        val truth = bruteTopk(e).localCheckpoint()
        Seq(4, 8, 16).foreach { np =>
          val r = recallVs(truth, ivfTopk(e, 64, np, 100000L))
          println(f"[scalerecall] nprobe curve n=100000 c=0.80: 64 lists, nprobe $np%2d recall@10=$r%.3f")
        }
      }
      // banding curve at c=0.90, n=100k: how recall buys with tables/planes
      locally {
        val e     = corpus(100000L, 0.90)
        val truth = bruteTopk(e).localCheckpoint()
        Seq((2, 4), (4, 4), (8, 4), (4, 8)).foreach { case (t, p) =>
          val r = recallVs(truth, lshTopk(e, t, p))
          println(f"[scalerecall] banding n=100000 c=0.90: ${t}t x ${p}p recall@10=$r%.3f")
        }
      }
      // IVF-PQ (q156 shape) at (nprobe, codes) corners: same sampled coarse
      // quantizer as ivfTopk, so the PQ rows are directly comparable to the
      // plain-IVF rows above — the recall delta at equal nprobe isolates
      // what the ADC approximation + shortlist cut cost on top of the probe
      // cut. Tripwire: at the production probe width (IvfNprobeProd) and
      // the declared 16-code books, recall@10 must hold ≥ 0.9 at c ≥ 0.90
      // — the corner a deployment ships.
      def pqCents(e: org.apache.spark.sql.DataFrame, nList: Int, n: Long) = e
        .filter($"vec_id" % (n / nList) === 17 && $"vec_id" < (n - nQ.toLong * mNbrs))
        .select($"vec_id".as("cent_id"), $"embedding".as("cvec"), $"nrm".as("cnrm"))
      def pqTopk(e: org.apache.spark.sql.DataFrame, nProbe: Int, nCodes: Int, n: Long) =
        Similarity
          .ivfPqQuery(e, pqCents(e, 64, n), nProbe, nCodes, qLo = 1L, qHi = nQ.toLong)
          .select($"query_id", $"cand_id".as("vec_id"))
      Seq(0.95, 0.90).foreach { c =>
        val n     = 100000L
        val e     = corpus(n, c)
        val truth = bruteTopk(e).localCheckpoint()
        Seq((nprobeDecl, 16), (nprobeProd, 16), (nprobeProd, 64)).foreach { case (np, codes) =>
          val r = recallVs(truth, pqTopk(e, np, codes, n))
          println(
            f"[scalerecall] ivf-pq n=$n%7d c=$c%.2f 64 lists, nprobe $np%2d, $codes%3d codes/block recall@10=$r%.3f"
          )
          if (np == nprobeProd && codes == 16 && r < 0.9) {
            println(
              f"[scalerecall] VIOLATION ivf-pq production corner (nprobe=$np, 16 codes) recall $r%.3f < 0.9 at c=$c%.2f"
            )
            ok = false
          }
        }
      }
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (which == "sf1") {
      // Stretch validation past the fixture range (/root/testdata tops out
      // at sf0.1): synthesize an sf1-EQUIVALENT slice by replicating the
      // sf0.1 lineitem/orders/events 10x into disjoint key ranges while
      // leaving every dimension unchanged — each FK still resolves, each
      // dim join fans in 10x, each grid cell sums 10x the rows — then run
      // the 5 grid-sensitive queries (the overflow-audited aggregation
      // grids) plus 3 events-family queries (terms agg, window-pruned
      // daily agg, and the q134 skipping audit, whose real tile-file
      // write now covers a 1M-row input) over it and dump results + the
      // oracle-SQL subset so `tools/check.py /tmp/graft_sf1
      // /tmp/graft_sf1_out` can replay the identical SQL in DuckDB over
      // the identical parquet and hash-compare. Replica offsets preserve
      // event_id mod 64 (10M ≡ 0 mod 64) and leave ts/user_id/value
      // untouched, so the layout-audit geometry scales counts without
      // moving any tile boundary — exactly the invariance the oracle
      // recomputes and re-proves over the slice.
      import spark.implicits._
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val sf1Dir = "/tmp/graft_sf1"
      val outDir = "/tmp/graft_sf1_out"
      val sf1Set = Seq(
        "q01_pricing_summary",
        "q11_join_revenue_by_nation",
        "q19_cross_nation_volume",
        "q19b_disjunctive_predicates",
        "q29_stats_agg",
        "q02_top_event_types",
        "q03_recent_window_daily",
        "q134_skipping_audit",
        // dedup/text families over the 10x-replicated documents slice
        "q65_minhash_lsh_pairs",
        "q97_span_dedup",
        "q120_dedup_endgame",
        // the approx-winsorize rank-guarantee audit at 10x the events rows:
        // n/accuracy grows to ~2 ranks of real sketch tolerance, so the
        // contract is exercised (not vacuously exact) and must still hold
        "q151_winsorize_approx_audit",
        // CDC upsert over 150k orders: the change-feed mods (%7/%11/%13/
        // %21/%22/%26) and the +1e13 insert offset are replica-invariant
        "q158_cdc_upsert"
      )
      // max o_orderkey at sf0.1 is 149,999 (duckdb-checked); 10M per
      // replica keeps ranges disjoint with ~66× headroom
      val off = 10000000L
      def replicate(df: org.apache.spark.sql.DataFrame, key: String) =
        df.withColumn("rep", explode(sequence(lit(0L), lit(9L))))
          .withColumn(key, col(key) + $"rep" * off)
          .drop("rep")
      Files.createDirectories(Paths.get(sf1Dir))
      Seq("region", "nation", "customer", "supplier", "part", "embeddings")
        .foreach { t =>
          Files.copy(
            Paths.get(s"$sfDir/$t.parquet"),
            Paths.get(s"$sf1Dir/$t.parquet"),
            StandardCopyOption.REPLACE_EXISTING
          )
        }
      replicate(Tables.lineitem(spark, sfDir), "l_orderkey")
        .repartition(16).write.mode("overwrite").parquet(s"$sf1Dir/lineitem.parquet")
      replicate(Tables.orders(spark, sfDir), "o_orderkey")
        .repartition(8).write.mode("overwrite").parquet(s"$sf1Dir/orders.parquet")
      replicate(Tables.events(spark, sfDir), "event_id")
        .repartition(8).write.mode("overwrite").parquet(s"$sf1Dir/events.parquet")
      // documents: 10x replicas in disjoint doc_id ranges with every token
      // salted per replica (r<rep>_token) — each replica keeps the fixture's
      // internal dup structure (the %10 injection copies a replica-local
      // text EXACTLY) while cross-replica Jaccard is zero, so pair counts
      // scale ~10x linearly instead of every doc gaining 9 exact copies.
      // The 10M offset preserves doc_id % 10 (the injection predicate) and
      // clears the +1M injected-id range. The salt is applied BEFORE the
      // parquet lands, so DuckDB replays the identical bytes.
      replicate(Tables.documents(spark, sfDir), "doc_id")
        .withColumn("rep2", (col("doc_id") / off).cast("long"))
        .withColumn(
          "text",
          regexp_replace($"text", lit("(\\S+)"), concat(lit("r"), $"rep2", lit("_$1")))
        )
        .drop("rep2")
        .repartition(8).write.mode("overwrite").parquet(s"$sf1Dir/documents.parquet")
      val nLi = spark.read.parquet(s"$sf1Dir/lineitem.parquet").count()
      val nEv = spark.read.parquet(s"$sf1Dir/events.parquet").count()
      val nDoc = spark.read.parquet(s"$sf1Dir/documents.parquet").count()
      println(s"[sf1] synthetic slice at $sf1Dir: lineitem=$nLi events=$nEv documents=$nDoc rows")
      sf1Set.foreach { n =>
        val t0 = System.nanoTime()
        writeRung(SparkEntry.queries(n)(spark, sf1Dir), outDir, n)
        println(f"[sf1] $n%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val json = sf1Set
        .map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

      // ---- curation slice: the q138-q149 pack needs DIFFERENT replication
      // semantics than the dedup slice above. documents replicate UNSALTED
      // (BM25's literal query terms must keep matching; the funnel's exact
      // dedup then sees a realistically ~90%-duplicated corpus — each text
      // has one copy per replica and the min-doc_id survivor election
      // resolves to replica 0). embeddings replicate with a per-replica
      // CIRCULAR SHIFT of the vector: exact-copy pairs stay exact copies
      // (identical vectors shift to identical vectors, so the %10-injected
      // copies q141 plants still score 1.0), cross-replica cosines drop to
      // the random floor, and within-replica NON-copy cosines agree with
      // replica 0 only up to fp summation order (rotation reorders the
      // sequential sum — ulp-level drift the hash compare never observes,
      // because engine and oracle both consume the same shifted parquet)
      // plus a label
      // salt, so SemDeDup gets 10x clusters at CONSTANT cluster size: the
      // linear-in-n deployment shape its in-cluster pair stage documents.
      val curDir = "/tmp/graft_sf1cur"
      val curOut = "/tmp/graft_sf1cur_out"
      val curSet = Seq(
        "q139_bm25_topk",
        "q141_semantic_dedup",
        "q143_importance_weights",
        "q148_curation_pipeline",
        // round-11 additions: the pinned-replay at-arrival gate (bands over
        // the 10x dup-injected corpus, 4 epoch files), the capstone release
        // (funnel + near-dup gate + split + partitioned write at 50k docs),
        // and the IVF full-probe plan pair over the 20k decorrelated slice
        "q150_at_arrival_gate",
        "q152_corpus_release",
        "q153_ivf_full_probe",
        "q154_ivf_trained_topk",
        // round-12 additions: IVF-PQ's train/encode/ADC/rescore replay at
        // 20k decorrelated vectors (100 salted-label coarse lists), the
        // pocket-perceptron classifier at 50k docs (10 exact copies per
        // text — weak labels and features replicate cleanly), containment
        // dedup (each replica derives its own excerpts), and the composed
        // trained-coarse IVF-PQ (8 Lloyd clusters over the 20k slice)
        "q156_ivf_pq_topk",
        "q157_quality_classifier",
        "q160_containment_pairs",
        "q161_ivf_pq_trained_topk",
        "q168_containment_prefix_pairs", // q160's plan pair rides the same slice under the shared oracle
        "q171_adaptive_containment_pairs", // r14: the dispatcher, same shared oracle
        // r16: the substring family under the MAX-duplication regime this
        // unsalted 10×-replica slice uniquely provides — every window
        // repeats 10×, so the "candidate-proportional" stages degrade to
        // full-corpus and the plans must survive it (the salted sf10/sf100
        // rungs test the opposite, duplication-sparse end)
        "q172_substring_spans",
        "q173_span_removal",
        "q174_substring_decontamination",
        // r17: the bounded-benchmark broadcast probe and the v2 capstone
        // (funnel + span removal + decontamination + release write) under
        // the same max-duplication regime — every stitched run's windows
        // repeat 10×, so the surgery and the probe see the dense end
        "q175_decontam_bounded_bench",
        "q176_corpus_release_v2",
        // r17: the streaming substring gate at 10× duplication — every
        // window md5 is claimed 10× across replicas, so the registry takes
        // maximal same-key traffic while state stays one Long per key
        "q177_streaming_substring_gate",
        // r18: perceptual-hash image near-dup at 55k images. The closed-
        // form raster is periodic in doc_id (dims mod 48 × pixel phase mod
        // 256 → 768 distinct rasters), so this slice is the DENSE corner:
        // ~72 exact-raster copies per class, every band bucket saturated,
        // ~2M verified pairs — the q65-on-sf1 regime. The sf10+ rungs are
        // deliberately NOT graded for q178: at 555k images the same
        // periodicity makes the PAIR OUTPUT itself quadratic (~200M rows —
        // any pairwise dedup on a 700×-repeated corpus is; production
        // routes that regime through the q120 endgame grouping, and the
        // banding's per-bucket load stays the operator's honest cost)
        "q178_image_phash_pairs",
        // r18: and the endgame route ITSELF, declared and graded — exact-
        // hash collapse → rep-level banded pairs → CC → per-image verdict.
        // Linear output (one row per image), so unlike q178 it also rides
        // the sf10 rung
        "q179_image_dedup_endgame"
      )
      Files.createDirectories(Paths.get(curDir))
      replicate(Tables.documents(spark, sfDir), "doc_id")
        .repartition(8).write.mode("overwrite").parquet(s"$curDir/documents.parquet")
      val edim = Tables.EmbeddingDim
      replicate(Tables.embeddings(spark, sfDir), "vec_id")
        .withColumn("rep2", (col("vec_id") / off).cast("int"))
        .withColumn("label", $"label" + $"rep2" * 100)
        .withColumn(
          "embedding",
          concat(
            slice($"embedding", $"rep2" + 1, lit(edim) - $"rep2"),
            slice($"embedding", lit(1), $"rep2")
          )
        )
        .drop("rep2")
        .repartition(4).write.mode("overwrite").parquet(s"$curDir/embeddings.parquet")
      val nDocC = spark.read.parquet(s"$curDir/documents.parquet").count()
      val nEmbC = spark.read.parquet(s"$curDir/embeddings.parquet").count()
      println(s"[sf1] curation slice at $curDir: documents=$nDocC embeddings=$nEmbC rows")
      curSet.foreach { n =>
        val t0 = System.nanoTime()
        writeRung(SparkEntry.queries(n)(spark, curDir), curOut, n)
        println(f"[sf1] $n%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val jsonCur = curSet
        .map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$curOut/oracle_sql.json"), jsonCur)
      spark.stop()
      return
    }
    if (which == "sf10") {
      // TWO orders of magnitude past the fixtures (the sf1 ladder's next
      // rung): replicate the sf0.1 FACT tables 100x into disjoint key
      // ranges (offset 10M per replica — 100 replicas stay under 1e9,
      // event_id mod 64 preserved since 10M ≡ 0 mod 64) with every
      // dimension unchanged, giving 60M lineitem / 10M events rows, then
      // run the aggregation-grid and events families and dump results +
      // oracle SQL so `tools/check.py /tmp/graft_sf10 /tmp/graft_sf10_out`
      // hash-replays the identical SQL in DuckDB over the identical
      // parquet. Direct evidence the two-level long-then-decimal grids,
      // the unhinted AQE join plans, and the window pruning hold at
      // sf10-equivalent row counts.
      import spark.implicits._
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir    = "/tmp/graft_sf10"
      val outDir = "/tmp/graft_sf10_out"
      // GRAFT_SF10_ONLY: comma-separated name substrings — lets one new
      // query join a rung without re-running the whole family (the
      // sf100llm filter, r16); oracle json always carries the FULL set
      val only: String => Boolean = sys.env.get("GRAFT_SF10_ONLY") match {
        case Some(pats) => { val ps = pats.split(','); (n: String) => ps.exists(n.contains) }
        case None       => _ => true
      }
      val set = Seq(
        "q01_pricing_summary",
        "q11_join_revenue_by_nation",
        "q29_stats_agg",
        "q162_grouped_quantiles",
        "q02_top_event_types",
        "q03_recent_window_daily"
      )
      val off = 10000000L
      def rep100(df: org.apache.spark.sql.DataFrame, key: String) =
        df.withColumn("rep", explode(sequence(lit(0L), lit(99L))))
          .withColumn(key, col(key) + $"rep" * off)
          .drop("rep")
      // slice builds are idempotent per JVM-external state: a slice dir
      // already on disk (this round's earlier run) is reused — the 60M-row
      // fact rewrite is the expensive part of the phase, not the queries
      def freshDir(p: String): Boolean = !Files.exists(Paths.get(p))
      Files.createDirectories(Paths.get(dir))
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        Files.copy(
          Paths.get(s"$sfDir/$t.parquet"),
          Paths.get(s"$dir/$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING
        )
      }
      if (freshDir(s"$dir/lineitem.parquet"))
        rep100(Tables.lineitem(spark, sfDir), "l_orderkey")
          .repartition(64).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      if (freshDir(s"$dir/orders.parquet"))
        rep100(Tables.orders(spark, sfDir), "o_orderkey")
          .repartition(32).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      if (freshDir(s"$dir/events.parquet"))
        rep100(Tables.events(spark, sfDir), "event_id")
          .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val nLi = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val nEv = spark.read.parquet(s"$dir/events.parquet").count()
      println(s"[sf10] synthetic slice at $dir: lineitem=$nLi events=$nEv rows")
      set.filter(only).foreach { n =>
        val t0 = System.nanoTime()
        writeRung(SparkEntry.queries(n)(spark, dir), outDir, n)
        println(f"[sf10] $n%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val json = set
        .map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
        .mkString("{", ",", "}")
      if (set.exists(only)) Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

      // ---- sf10 for the LLM-pipeline families (the engine's stated
      // differentiator — round-11 verdict's top order): the sf1 slice
      // semantics carried to 100×. Dedup slice: 500k documents, every
      // token salted per replica (cross-replica Jaccard zero, so pair
      // counts grow linearly while each replica keeps the fixture's %10
      // injected exact-dup structure). Curation/ANN slice: 500k UNSALTED
      // documents (BM25's literal query terms keep matching) + 200k
      // embeddings with a per-replica circular shift (exact-copy pairs
      // stay exact, cross-replica cosines drop to the random floor; shift
      // = rep mod 64 since 100 replicas exceed the 64 dims) and a label
      // salt (rep·100 — SemDeDup gets 100× clusters at CONSTANT cluster
      // size, q153's coarse quantizer gets 1000 lists). check.py replays
      // `/tmp/graft_sf10dd(cur)_out` against the identical parquet.
      val ddDir  = "/tmp/graft_sf10dd"
      val ddOut  = "/tmp/graft_sf10dd_out"
      // q160's excerpt ids (+2M) occupy offsets 2M/3M within each 10M
      // replica stripe — disjoint from the real ids at offsets 0/1M
      val ddSet = Seq(
        "q65_minhash_lsh_pairs",
        "q120_dedup_endgame",
        "q147_prefix_jaccard_pairs",
        "q160_containment_pairs",
        "q168_containment_prefix_pairs", // q160's plan pair — shared oracle, 2.3× faster on this slice
        "q171_adaptive_containment_pairs", // the dispatcher judged at rung scale (est-pairs term → prefix)
        "q172_substring_spans", // r15: exact substring spans — salt keeps window matches per-replica
        "q173_span_removal", // r16: span REMOVAL — same replica-local window argument; output stays doc-id-ordered
        "q174_substring_decontamination", // r16: bench decontamination — derived bench stays in-stride, windows replica-local
        // r17: the streaming at-arrival substring gate at rung scale — the
        // one declared operator that stopped at sf1 (r17 verdict task 1).
        // The +2M excerpt ids land at offsets 2M/3M inside each 10M replica
        // stripe (disjoint from the real ids, same argument as q160), and
        // the salt keeps window matches replica-local so the one-shot
        // DuckDB window self-join stays linear in the slice.
        "q177_streaming_substring_gate"
      )
      Files.createDirectories(Paths.get(ddDir))
      if (freshDir(s"$ddDir/documents.parquet"))
        rep100(Tables.documents(spark, sfDir), "doc_id")
          .withColumn("rep2", (col("doc_id") / off).cast("long"))
          .withColumn(
            "text",
            regexp_replace($"text", lit("(\\S+)"), concat(lit("r"), $"rep2", lit("_$1")))
          )
          .drop("rep2")
          .repartition(32).write.mode("overwrite").parquet(s"$ddDir/documents.parquet")
      println(s"[sf10] dedup slice at $ddDir: documents=${spark.read.parquet(s"$ddDir/documents.parquet").count()} rows")
      ddSet.filter(only).foreach { n =>
        val t0 = System.nanoTime()
        writeRung(SparkEntry.queries(n)(spark, ddDir), ddOut, n)
        println(f"[sf10] $n%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      if (ddSet.exists(only)) Files.writeString(
        Paths.get(s"$ddOut/oracle_sql.json"),
        ddSet.map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
          .mkString("{", ",", "}")
      )

      val curDir = "/tmp/graft_sf10cur"
      val curOut = "/tmp/graft_sf10cur_out"
      // q156/q161 joined the sf10 set in r15: their coarse-assign oracle is
      // the same 200M-row cross-join shape whose one-shot DuckDB plan
      // out-spills this host's disk on q141, so they hash-verify through
      // tools/check_sf10_pq.py (blocked replay — per-vector argmax chunks
      // + one-shot training aggregates, self-certified against the
      // one-shot-verified sf1cur artifacts) instead of check.py
      val curSet = Seq(
        "q139_bm25_topk",
        "q141_semantic_dedup",
        "q153_ivf_full_probe",
        "q156_ivf_pq_topk",
        "q157_quality_classifier",
        "q161_ivf_pq_trained_topk",
        // r17: the bounded-bench broadcast probe (5.2k bench docs against
        // the 500k-doc corpus — the production shape) and the v2 release
        // capstone; both one-shot replayable (exact dedup collapses the
        // unsalted 100× corpus before the window-heavy stages)
        "q175_decontam_bounded_bench",
        "q176_corpus_release_v2",
        // r18: the image dedup endgame at 555k images — the linear-output
        // route for the saturated-hash regime (q178's pairwise form is
        // output-quadratic here by construction; the endgame collapses the
        // ~700 same-hash copies per class BEFORE any pairing)
        "q179_image_dedup_endgame"
      )
      Files.createDirectories(Paths.get(curDir))
      if (freshDir(s"$curDir/documents.parquet"))
        rep100(Tables.documents(spark, sfDir), "doc_id")
          .repartition(32).write.mode("overwrite").parquet(s"$curDir/documents.parquet")
      val edim = Tables.EmbeddingDim
      if (freshDir(s"$curDir/embeddings.parquet"))
        rep100(Tables.embeddings(spark, sfDir), "vec_id")
          // integer replica index first — same double-division hazard as the
          // sf100 slice (values unchanged while base ids < off/100)
          .withColumn("repIx", (col("vec_id") / off).cast("long"))
          .withColumn("rep2", ($"repIx" % edim).cast("int"))
          .withColumn("label", $"label" + ($"repIx" * 100).cast("int"))
          .withColumn(
            "embedding",
            concat(
              slice($"embedding", $"rep2" + 1, lit(edim) - $"rep2"),
              slice($"embedding", lit(1), $"rep2")
            )
          )
          .drop("rep2", "repIx")
          .repartition(16).write.mode("overwrite").parquet(s"$curDir/embeddings.parquet")
      println(
        s"[sf10] curation slice at $curDir: documents=${spark.read.parquet(s"$curDir/documents.parquet").count()}" +
          s" embeddings=${spark.read.parquet(s"$curDir/embeddings.parquet").count()} rows"
      )
      curSet.filter(only).foreach { n =>
        val t0 = System.nanoTime()
        writeRung(SparkEntry.queries(n)(spark, curDir), curOut, n)
        println(f"[sf10] $n%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      if (curSet.exists(only)) Files.writeString(
        Paths.get(s"$curOut/oracle_sql.json"),
        curSet.map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
          .mkString("{", ",", "}")
      )
      spark.stop()
      return
    }
    if (which == "sf100llm") {
      // The sf100 rung for the LLM-pipeline families (round-12 verdict
      // task 4): the sf10 slice semantics carried to 1000× — 5M documents
      // and 2M embeddings.
      //
      // Text families (hash-replayable): the salted dedup slice keeps
      // cross-replica Jaccard at zero, so pair mass grows LINEARLY and the
      // DuckDB oracle replays the identical SQL (blocked by tools/
      // check_sf100_docs.py when one-shot spills). Graded: q65 (minhash),
      // q147 (prefix Jaccard — the scale-safe plan of the q67 pair),
      // q168 (containment prefix — this round's new plan pair), and q139
      // (BM25 over the UNSALTED slice: literal query terms keep matching;
      // per-term aggregates stay linear).
      //
      // Vector families: graded by ORACLE feasibility, honestly. q69
      // brute-cosine and its q153 IVF-full-probe plan pair share one
      // oracle — brute top-k, LINEAR in n (10 queries × 2.2M vectors =
      // 22M dot products, a few DuckDB minutes) — so both hash-replay at
      // the full 2M-vector slice. q141's oracle does NOT scale here: its
      // assignment stage is a vectors×centroids cross join (22 BILLION
      // rows at 2.2M×10k — the 220M-row sf10 shape already needed
      // check_sf10_q141.py's chunked replay at ~30 min; 100× that is
      // days, not spill). A structure-lifted oracle was attempted and
      // REJECTED by its own certificate: these synthetic embeddings carry
      // a dominant DC component (all-positive coordinates), so circular
      // shifts preserve near-equal cosines and the assignment argmax
      // freely crosses replica rotations — 2154/2200 base vectors had a
      // cross-shift centroid at or above their within-shift best. The
      // lift stays rejected — but the bound moved anyway: r15's measured
      // DuckDB dot rates put the CHUNKED replay at ~15 min, and q141 is
      // graded hash-exact at the full 2.2M-vector corner via
      // tools/check_sf100_q141.py (r15), q156/q161 via
      // tools/check_sf100_pq.py (r16).
      import spark.implicits._
      import java.nio.file.{Files, Paths}
      val off = 10000000L
      def rep1000(df: org.apache.spark.sql.DataFrame, key: String) =
        df.withColumn("rep", explode(sequence(lit(0L), lit(999L))))
          .withColumn(key, col(key) + col("rep") * off)
          .drop("rep")
      def freshDir(p: String): Boolean = !Files.exists(Paths.get(p))

      // One query per JVM in practice (GRAFT_SF100LLM_ONLY substring
      // filter): a 5M-doc pair-join query materializes several hundred-GB
      // of shuffle exchanges that Spark only releases on context GC, so
      // two such queries in one JVM exhaust this host's disk. The prefix
      // PLANS (q147/q168) run at a 2M-doc slice (GRAFT_SF100DD_REPS=400
      // — disk-bound, not engine-bound; still 4× the sf10 rung) while the
      // band-bucket q65 runs at the full 5M.
      val only: String => Boolean = sys.env.get("GRAFT_SF100LLM_ONLY") match {
        case Some(pats) => { val ps = pats.split(','); (n: String) => ps.exists(n.contains) }
        case None       => _ => true
      }
      val ddReps = sys.env.getOrElse("GRAFT_SF100DD_REPS", "1000").toInt
      val ddDir  = if (ddReps == 1000) "/tmp/graft_sf100dd" else s"/tmp/graft_sf100dd_$ddReps"
      val ddOut  = s"${ddDir}_out"
      val ddAll = Seq(
        "q65_minhash_lsh_pairs",
        "q147_prefix_jaccard_pairs",
        "q168_containment_prefix_pairs",
        "q171_adaptive_containment_pairs", // r14: the dispatcher judged at rung scale
        "q172_substring_spans", // r15: windows never match cross-replica (salted tokens) → blocked replay sound
        "q173_span_removal", // r16: span removal — same argument (survivor election partitions by replica-local wtext)
        "q174_substring_decontamination", // r16: derived bench ids stay replica-separable (2·doc_id+parity), windows replica-local
        // r17 verdict task 3: the broadcast probe at the 5M-doc corner —
        // the corpus side must plan NO exchange where the OTHER branch
        // OOM'd. Bench derivation (%97==3, bench_id = doc_id) stays
        // in-stride; windows replica-local → check_sf100_docs.py replay
        "q175_decontam_bounded_bench",
        // r18 verdict task 4: the streaming at-arrival substring gate at
        // the 5M-doc corner — the one family rung the sf100 ladder still
        // lacked. Epochs ((doc_id%7)%4) and excerpt ids (+2M) derive
        // arithmetically from doc_id (in-stride) and windows are
        // replica-local (salted tokens), so check_sf100_docs.py's generic
        // per-replica replay grades it (certified blocked==one-shot by
        // certify_blocked.py). Runs on the RocksDB backend: the registry
        // holds one Long per distinct window md5 and the measured mass at
        // this corner (printed below) does not belong on the heap.
        "q177_streaming_substring_gate"
      )
      val ddSet = ddAll.filter(only)
      if (ddSet.nonEmpty) {
        Files.createDirectories(Paths.get(ddDir))
        if (freshDir(s"$ddDir/documents.parquet"))
          Tables.documents(spark, sfDir)
            .withColumn("rep", explode(sequence(lit(0L), lit(ddReps - 1L))))
            .withColumn("doc_id", col("doc_id") + col("rep") * off)
            .drop("rep")
            .withColumn("rep2", (col("doc_id") / off).cast("long"))
            .withColumn(
              "text",
              regexp_replace($"text", lit("(\\S+)"), concat(lit("r"), $"rep2", lit("_$1")))
            )
            .drop("rep2")
            .repartition(64).write.mode("overwrite").parquet(s"$ddDir/documents.parquet")
        println(s"[sf100llm] dedup slice at $ddDir: documents=${spark.read.parquet(s"$ddDir/documents.parquet").count()} rows")
        graft.Session.sizeShufflesForInput(spark, ddDir)
        println(s"[sf100llm] AQE initialPartitionNum=" +
          spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
      }
      ddSet.foreach { n =>
        val t0 = System.nanoTime()
        if (n == "q177_streaming_substring_gate") {
          // (a) REGISTRY-MASS measurement — the streaming family's honest
          // sf100 envelope, recorded whether or not the rung grade runs:
          // total window occurrences and DISTINCT window md5s over the
          // full at-arrival corpus (docs ∪ %7 half-excerpts). The distinct
          // count IS the unbounded-horizon state row count (one Long per
          // distinct md5), so state-size projection = distinct × per-entry
          // cost; with a TTL horizon it is the ceiling.
          val base = spark.read.parquet(s"$ddDir/documents.parquet").select(col("doc_id"), col("text"))
          val corp = base.unionByName(
            base.filter(col("doc_id") % 7 === 0).select(
              (col("doc_id") + 2000000L).as("doc_id"),
              expr("concat_ws(' ', slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2))").as("text")))
          val wins = corp
            .withColumn("toks", graft.functions.TextFns.tokens(col("text")))
            .where(size(col("toks")) >= 15)
            .select(explode(transform(
              sequence(lit(1), size(col("toks")) - 14),
              i => md5(concat_ws(" ", slice(col("toks"), i, lit(15)))))).as("h"))
          val m = wins.agg(count(lit(1)).as("occ"), count_distinct(col("h")).as("dist")).head()
          println(f"[sf100llm] q177 registry mass: windows=${m.getLong(0)}%,d distinct_md5=${m.getLong(1)}%,d " +
            f"(unbounded-horizon state rows; ~${m.getLong(1) * 56 / 1e9}%.1f GB raw at 32B key + 8B value + 16B overhead)")
          // (b) the rung itself on the PRODUCTION state backend: RocksDB —
          // the measured mass above does not belong on the heap (the
          // scalestream phase proved emission-identity across backends)
          val confKey = "spark.sql.streaming.stateStore.providerClass"
          val prior   = spark.conf.getOption(confKey)
          spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          try writeRung(SparkEntry.queries(n)(spark, ddDir), ddOut, n)
          finally prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        } else
          writeRung(SparkEntry.queries(n)(spark, ddDir), ddOut, n)
        println(f"[sf100llm] $n%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      // json always carries the FULL set's oracles: a filtered
      // (GRAFT_SF100LLM_ONLY) run must not clobber the other queries'
      // entries — the blocked replays read this file after per-query JVMs
      if (ddSet.nonEmpty) Files.writeString(
        Paths.get(s"$ddOut/oracle_sql.json"),
        ddAll.map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
          .mkString("{", ",", "}")
      )

      val curDir = "/tmp/graft_sf100cur"
      val curOut = "/tmp/graft_sf100cur_out"
      // q154 joins the rung (r13 verdict task 4): the PRODUCTION path —
      // trained IVF at nprobe=16 — graded at the same 2.2M-vector corner
      // as its q153 full-probe pair; its oracle (grid-exact Lloyd
      // centroids + the shared query tail) replays linearly.
      // q141 joined in r15: engine side is the kernelized argmax + the
      // cent_id-bounded pairwise join; its oracle replays through
      // tools/check_sf100_q141.py (chunked per-vector assignment +
      // per-cluster pairwise — the check_sf10_q141.py argument at 10×)
      // q156/q161 join the rung in r16 (the last ANN rows below their
      // siblings' 2.2M-vector grade): engine side is the kernelized coarse
      // + PQ assignments; the oracle replays through tools/check_sf100_pq.py
      // (the check_sf10_pq.py blocked argument at 10×: per-vector argmax
      // chunks + one-shot training aggregates)
      val curAll = Seq(
        "q139_bm25_topk", "q69_cosine_topk", "q141_semantic_dedup",
        "q153_ivf_full_probe", "q154_ivf_trained_topk",
        "q156_ivf_pq_topk", "q161_ivf_pq_trained_topk",
        // r17 verdict task 2: the composed release capstone at the 5M-doc
        // rung (the sf10cur semantics at 1000×: unsalted, so exact dedup
        // collapses the replicas and the corpus-sized cost is honestly the
        // Gopher/DSIR maps + the exact-dedup shuffle; the stitched-doc
        // slice rides along, %17==5 per replica). Oracle: one-shot
        // check.py (AS MATERIALIZED CTEs + spill — the sf10 discipline).
        "q176_corpus_release_v2",
        // r18 verdict task 2: the image dedup endgame at the 5.56M-image
        // rung (5M unsalted docs + %9 planted re-encodes) — the
        // linear-output claim at 1000×, where the exact-collapse stage
        // absorbs ~7000× duplication per 768-raster class. Oracle:
        // one-shot check.py (the corpus is UNSALTED, so cross-replica
        // hash equality is exactly what exact-collapse exploits —
        // per-replica blocking would be unsound here by construction).
        "q179_image_dedup_endgame",
        // r19: the streaming image gate at the same 5.56M-image corner —
        // the full 4-epoch file-source replay through the RocksDB-backed
        // registry. Oracle: tools/check_sf100_q181.py (the q179 hash
        // LIFT + a window-form arrival replay, both certified against
        // the declared join-form SQL).
        "q181_image_stream_gate"
      )
      val curSet = curAll.filter(only)
      if (curSet.isEmpty) { spark.stop(); return }
      Files.createDirectories(Paths.get(curDir))
      val docOnly = Set("q139_bm25_topk", "q176_corpus_release_v2", "q179_image_dedup_endgame",
        "q181_image_stream_gate")
      if (freshDir(s"$curDir/documents.parquet") && curSet.exists(docOnly))
        rep1000(Tables.documents(spark, sfDir), "doc_id")
          .repartition(64).write.mode("overwrite").parquet(s"$curDir/documents.parquet")
      val edim = Tables.EmbeddingDim
      // label salt (rep % 100)·100 keeps the COARSE LIST COUNT at the
      // sf10 rung's 1000 while the lists grow 10× — the engine's
      // assignment stays n×k = 2.2B scored pairs (codegen minutes), and
      // rung-to-rung the index geometry is comparable; the circular shift
      // still decorrelates replicas' vectors from each other's lists.
      val needsVecs = curSet.exists(n => !docOnly.contains(n))
      if (needsVecs && freshDir(s"$curDir/embeddings.parquet"))
        rep1000(Tables.embeddings(spark, sfDir), "vec_id")
          // integer replica index FIRST (`/` on longs is double division —
          // casting after the multiply only truncates while base ids stay
          // under off/100; see r13 ADVICE), then the salts
          .withColumn("repIx", (col("vec_id") / off).cast("long"))
          .withColumn("rep2", ($"repIx" % edim).cast("int"))
          .withColumn("label", $"label" + (($"repIx" % 100) * 100).cast("int"))
          .withColumn(
            "embedding",
            concat(
              slice($"embedding", $"rep2" + 1, lit(edim) - $"rep2"),
              slice($"embedding", lit(1), $"rep2")
            )
          )
          .drop("rep2", "repIx")
          .repartition(32).write.mode("overwrite").parquet(s"$curDir/embeddings.parquet")
      println(
        s"[sf100llm] curation slice at $curDir:" + (
          if (needsVecs) s" embeddings=${spark.read.parquet(s"$curDir/embeddings.parquet").count()} rows"
          else s" documents=${spark.read.parquet(s"$curDir/documents.parquet").count()} rows"
        )
      )
      graft.Session.sizeShufflesForInput(spark, curDir)
      println(s"[sf100llm] AQE initialPartitionNum=" +
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
      curSet.foreach { n =>
        val t0 = System.nanoTime()
        if (n == "q179_image_dedup_endgame") {
          // r18 verdict task 2 second half: the band-key exchange reuse is
          // AQE-dependent — verify ONE exchange in the EXECUTED plan at
          // this scale, not just wall-clock. A QueryExecutionListener
          // captures the post-execution AQE plan of the rung write itself
          // (df.queryExecution would re-plan without runtime stages).
          @volatile var planStr: String = null
          val ql = new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
              planStr = qe.executedPlan.toString
            override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
          }
          spark.listenerManager.register(ql)
          try writeRung(SparkEntry.queries(n)(spark, curDir), curOut, n)
          finally {
            drainListenerBus(spark.sparkContext)
            spark.listenerManager.unregister(ql)
          }
          if (planStr != null) {
            val exLines = planStr.linesIterator.filter(l =>
              l.contains("Exchange") || l.contains("QueryStage") || l.contains("InMemory")).toSeq
            println(s"[sf100llm] q179 executed-plan exchange/stage lines (${exLines.size}):")
            exLines.take(40).foreach(l => println(s"[sf100llm]   ${l.trim.take(160)}"))
            val reused = exLines.count(l => l.contains("ReusedExchange") || l.contains("ReusedQueryStage"))
            println(s"[sf100llm] q179 plan: reused-exchange nodes = $reused " +
              "(>=1 required — the hash-table exchange must materialize ONCE for both consumers)")
          } else println("[sf100llm] q179 executed plan NOT captured")
        } else if (n == "q181_image_stream_gate") {
          // production state backend, same rationale as the q177 rung:
          // ~22M band-bucket registry entries do not belong on the heap
          val confKey = "spark.sql.streaming.stateStore.providerClass"
          val prior   = spark.conf.getOption(confKey)
          spark.conf.set(confKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          try writeRung(SparkEntry.queries(n)(spark, curDir), curOut, n)
          finally prior.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        } else
          writeRung(SparkEntry.queries(n)(spark, curDir), curOut, n)
        println(f"[sf100llm] $n%-32s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      Files.writeString(
        Paths.get(s"$curOut/oracle_sql.json"),
        curAll
          .map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
          .mkString("{", ",", "}")
      )
      spark.stop()
      return
    }
    if (which == "sf100") {
      // The ladder's top rung: THREE-AND-A-HALF orders of magnitude past
      // the fixtures. 1000× fact replication (offset 10M per replica —
      // max key ~1e10, still 1000× under the 1e13 synthetic-insert
      // offsets; 10M ≡ 0 mod 64 and mod 10, so every %-based predicate
      // and injection rule is replica-invariant) = 600M lineitem / 150M
      // orders / 100M events rows, dimensions unchanged. Facts families
      // only — the doc/vector pipelines' DuckDB oracles at 5M docs are
      // oracle-bound, not engine-bound (see the q141 sf10 note); grid +
      // events queries are exactly where 1000× stresses the overflow
      // audits, the AQE join plans, and the window pruning.
      // `tools/check.py /tmp/graft_sf100 /tmp/graft_sf100_out` replays
      // the oracles over the identical parquet.
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val dir    = "/tmp/graft_sf100"
      val outDir = "/tmp/graft_sf100_out"
      val set = Seq(
        "q01_pricing_summary",
        "q11_join_revenue_by_nation",
        "q29_stats_agg",
        "q162_grouped_quantiles",
        "q02_top_event_types",
        "q03_recent_window_daily"
      )
      val off = 10000000L
      def rep1000(df: org.apache.spark.sql.DataFrame, key: String) =
        df.withColumn("rep", explode(sequence(lit(0L), lit(999L))))
          .withColumn(key, col(key) + col("rep") * off)
          .drop("rep")
      def freshDir(p: String): Boolean = !Files.exists(Paths.get(p))
      Files.createDirectories(Paths.get(dir))
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        Files.copy(
          Paths.get(s"$sfDir/$t.parquet"),
          Paths.get(s"$dir/$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING
        )
      }
      if (freshDir(s"$dir/lineitem.parquet"))
        rep1000(Tables.lineitem(spark, sfDir), "l_orderkey")
          .repartition(256).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      if (freshDir(s"$dir/orders.parquet"))
        rep1000(Tables.orders(spark, sfDir), "o_orderkey")
          .repartition(128).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      if (freshDir(s"$dir/events.parquet"))
        rep1000(Tables.events(spark, sfDir), "event_id")
          .repartition(128).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val nLi = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val nEv = spark.read.parquet(s"$dir/events.parquet").count()
      println(s"[sf100] synthetic slice at $dir: lineitem=$nLi events=$nEv rows")
      // Size the shuffle to the data — input-sized AQE fan-out instead of
      // the retired GRAFT_SF100_SHUFFLE hand knob. At 600M rows the session
      // default of 32 puts ~19M rows in every sort/agg partition (spill
      // territory — measured: q29 268s, q03 47s); starting wide restores
      // the fixture shape and AQE coalesces small stages back down, so
      // small queries don't pay for it.
      graft.Session.sizeShufflesForInput(spark, dir)
      println(s"[sf100] AQE initialPartitionNum=" +
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
      set.foreach { n =>
        val t0 = System.nanoTime()
        writeRung(SparkEntry.queries(n)(spark, dir), outDir, n)
        println(f"[sf100] $n%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      Files.writeString(
        Paths.get(s"$outDir/oracle_sql.json"),
        set.map(n => s"${Verify.jsonStr(n)}: ${Verify.jsonStr(SparkEntry.oracleSql(n))}")
          .mkString("{", ",", "}")
      )
      spark.stop()
      return
    }
    val names = if (which == "all") SparkEntry.queries.keys.toSeq.sorted else Seq(which)
    names.foreach { n =>
      if (doExplain) SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      val runs = (1 to 3).map(_ => time1(n))
      println(f"[probe] $n%-28s best=${runs.min}%.3f runs=${runs.map(r => f"$r%.3f").mkString(",")}")
      if (doExplain) {
        // the formatted explain above is the INITIAL plan — AQE's runtime
        // rewrites (ReusedExchange, broadcast demotion, skew splits) only
        // appear in the final plan of an EXECUTED query
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.write.mode("overwrite").format("noop").save()
        val fin = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.finalPhysicalPlan.toString
          case p => p.toString
        }
        println(s"[probe] final adaptive plan for $n:\n${fin.take(8000)}")
      }
    }
    spark.stop()
  }
}
