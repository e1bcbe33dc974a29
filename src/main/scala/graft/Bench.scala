package graft


/** Benchmark main (driver contract): run the headline queries on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Each query is materialized through the `noop` sink — `count()` would let
  * Catalyst collapse projection-only plans to a metadata count and measure
  * nothing. One untimed warm-up action absorbs JVM/codegen startup; each
  * query then reports the best of 3 runs (steady-state, still cheap).
  *
  * Phase-proofing (r15 verdict task 1): host phase (VM clock/IO state after
  * restarts) has moved identical-code snapshots by ~1.5× between rounds, so
  * the record carries an engine/DuckDB RATIO, not just absolute seconds.
  * r15 showed the ratio itself can wobble when the engine block and the
  * DuckDB block run minutes apart (builder solo 2.758× vs driver 2.970× at
  * the SAME HEAD): phase during the engine block and phase during the
  * oracle block did not cancel. So the pairing is now INTERLEAVED PER
  * QUERY: a long-lived DuckDB timer process (`tools/time_oracle.py
  * --serve`) answers one timed oracle execution per request, and each
  * query's three engine runs alternate A/B/A/B with its three oracle runs
  * inside one ~seconds-wide window — both engines see the same host state
  * per query, and the per-query bests pair off phase-matched. The JSON
  * gains `duckdb_queries` next to `queries` so a breached band can be
  * diagnosed per query instead of re-run blind. Oracle pairing is
  * best-effort — skipped silently when python3/duckdb/the script are
  * absent (e.g. on a real cluster); disable with SPARK_GRAFT_PAIR_ORACLE=0.
  */
object Bench {

  /** A long-lived `time_oracle.py --serve` process: one timed DuckDB
    * execution per [[time]] call, interleaved with the caller's engine
    * runs. Never throws out of the constructor-factory or [[time]] — a
    * dead/absent timer degrades the bench to engine-only, it must not
    * fail it. */
  private final class OracleTimer(p: Process) {
    private val in  = new java.io.BufferedWriter(new java.io.OutputStreamWriter(p.getOutputStream, "UTF-8"))
    private val out = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    private var dead = false

    def time(name: String): Option[Double] =
      if (dead) None
      else
        try {
          in.write(name); in.newLine(); in.flush()
          // serve mode prints one READY handshake line before any reply —
          // skip it (it can only precede the very first reply)
          var line = out.readLine()
          while (line == "READY") line = out.readLine()
          if (line == null) { dead = true; None }
          else {
            val parts = line.split('\t')
            if (parts.length == 2 && parts(0) == name && !parts(1).startsWith("ERR"))
              Some(parts(1).toDouble)
            else {
              System.err.println(s"[bench] oracle timer: unexpected reply '$line'")
              None
            }
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] oracle timer died: $e"); dead = true; None
        }

    def close(): Unit = try { in.close(); p.waitFor() } catch { case _: Throwable => p.destroy() }
  }

  /** Fixed xorshift64* spin — the unit of canary work (returns a fold so
    * the JIT can't elide the loop). */
  private def spin(iters: Long, seed: Long): Long = {
    var x = seed | 1L
    var acc = 0L
    var i = 0L
    while (i < iters) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc ^= x * 0x2545F4914F6CDD1DL
      i += 1
    }
    acc
  }

  /** Healthy band for canary_mt on the reference 32-vCPU driver host: the
    * clean cluster reads 0.93–1.05 s across r17+r18 (12 readings); every
    * adjudicated-contended reading sits at 1.15+ (1.15/1.24/1.35/1.45 in
    * the r18 eight-run series, 1.57/1.69 in r17's). The 1.10 cutoff
    * separates the two clusters with margin on both sides — r18 measured
    * that a wider 1.25 cutoff let a mt=1.147 run pass whose 4.33× ratio
    * was plainly the contended class (every query, and DuckDB too, moved
    * together). A reading outside the band marks the WHOLE invocation
    * `contended`: the r17 rule ("judge the ratio only against readings
    * whose canary_mt sits in the healthy band"), automated so
    * BENCH_r{N}.json self-annotates and cross-round reads need no manual
    * adjudication. canary_st remains the cross-round drift anchor. */
  private val CanaryMtHealthy: (Double, Double) = (0.5, 1.10)

  /** Host-speed canary: seconds for a FIXED deterministic CPU workload,
    * single-thread and all-cores. The engine/DuckDB ratio cancels phase
    * only to the extent phase hits both engines equally — r15/r16 showed
    * it does not (a slow VM moved Spark ~30% and DuckDB ~15%, shifting
    * the ratio with ZERO code change). The canary gives every BENCH_r{N}
    * an absolute host-speed anchor: compare canary seconds across rounds
    * before reading anything into engine seconds or the ratio. */
  private[graft] def hostCanary(): (Double, Double) = {
    val stIters = 400000000L
    val t0 = System.nanoTime()
    val sink1 = spin(stIters, 42L)
    val st = (System.nanoTime() - t0) / 1e9
    val n = Runtime.getRuntime.availableProcessors()
    // accumulate every thread's fold into an observable sink: a discarded
    // spin() result is legal dead code after C2 inlining, which would let
    // the JIT elide the MT loop and under-report canary_mt
    val mtSink = new java.util.concurrent.atomic.AtomicLong(0L)
    val t1 = System.nanoTime()
    val threads = (1 to n).map { s =>
      val th = new Thread(() => { mtSink.addAndGet(spin(stIters, s.toLong)); () })
      th.start(); th
    }
    threads.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e9
    if ((sink1 ^ mtSink.get()) == 0L) System.err.print("") // keep sinks observable
    (st, mt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    val names = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)

    // start the DuckDB timer FIRST so its startup overlaps the engine
    // warm-up instead of sitting between paired windows
    val timer: Option[OracleTimer] =
      try {
        if (sys.env.get("SPARK_GRAFT_PAIR_ORACLE").contains("0")) None
        else {
          val script = java.nio.file.Paths.get("tools", "time_oracle.py")
          val sqls   = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
          if (!java.nio.file.Files.exists(script) || sqls.isEmpty) None
          else {
            val tmp  = java.nio.file.Files.createTempDirectory("graft_bench_oracle")
            val json = sqls
              .map { case (k, v) => s"${Verify.jsonStr(k)}:${Verify.jsonStr(v)}" }
              .mkString("{", ",", "}")
            java.nio.file.Files.write(tmp.resolve("oracle_sql.json"), json.getBytes("UTF-8"))
            // reverse-registration order: dir first so the file goes first
            tmp.toFile.deleteOnExit()
            tmp.resolve("oracle_sql.json").toFile.deleteOnExit()
            val pb = new ProcessBuilder(
              "python3", script.toString, "--serve", sfDir, tmp.resolve("oracle_sql.json").toString
            )
            pb.redirectError(ProcessBuilder.Redirect.INHERIT)
            Some(new OracleTimer(pb.start()))
          }
        }
      } catch { case e: Throwable => System.err.println(s"[bench] paired oracle skipped: $e"); None }

    // warm-up: touch every table + JIT the pipeline once (engine), and
    // consume the timer's READY handshake + one throwaway oracle run so
    // DuckDB's own cold start (imports, catalog, first parquet open) is
    // outside every paired window
    try SparkEntry.queries(names.head)(spark, sfDir).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    val liveTimer = timer.filter { t =>
      val warm = t.time(names.head)
      warm.isDefined || {
        System.err.println("[bench] oracle timer failed warm-up; engine-only")
        // close the rejected timer here: nothing else holds a reference, and
        // a leaked serve process would keep its DuckDB views open all run
        t.close()
        false
      }
    }

    // Per-query interleaved A/B/A/B: (engine, duck) × 3, best-of-3 each.
    // The first engine run of each query still carries its janino codegen
    // compile (best-of-3 drops it); each duck run is steady-state after the
    // warm-up above. Host phase inside a query's ~seconds-wide window is
    // shared by both engines, so the per-query ratio — and any total built
    // from these bests — is phase-matched by construction.
    // mid-run canary (r19): the end-of-run canary misses intra-run
    // co-tenant bursts — an r19 eight-run series produced a 20.4 s total
    // self-stamped clean because the burst ended before the closing
    // canary. One extra sample at the midpoint (BETWEEN queries, so no
    // timed window is perturbed) halves the blind span; `contended` below
    // trips if EITHER sample leaves the band.
    var midMt: Double = -1.0
    val results: Seq[(String, Double, Option[Double])] = names.zipWithIndex.map { case (n, i) =>
      if (i == names.size / 2) { hostCanary(); midMt = hostCanary()._2 }
      val runs = (1 to 3).map { _ =>
        val e = materialize(n)
        val d = liveTimer.flatMap(_.time(n))
        (e, d)
      }
      val eBest = { val ok = runs.map(_._1).filter(_ >= 0); if (ok.isEmpty) -1.0 else ok.min }
      val dBest = { val ok = runs.flatMap(_._2); if (ok.isEmpty) None else Some(ok.min) }
      (n, eBest, dBest)
    }
    liveTimer.foreach(_.close())

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // ratio over the PAIRED queries only (both sides measured): with the
    // timer healthy that is all of them, and the two totals are then the
    // same 17-query sums as before — just phase-matched per query now
    val paired = {
      val both = results.collect { case (_, e, Some(d)) if e >= 0 => (e, d) }
      if (both.isEmpty) ""
      else {
        val dq = results.collect { case (k, _, Some(d)) => "\"" + k + "\":" + f"$d%.3f" }
          .mkString("{", ",", "}")
        val eTot = both.map(_._1).sum
        val dTot = both.map(_._2).sum
        f""","duckdb_queries":$dq,"duckdb_total":$dTot%.3f,"engine_duckdb_ratio":${eTot / dTot}%.3f"""
      }
    }
    // canary AFTER the timed queries (it must not perturb them) but inside
    // the same invocation — one warm pass first so C2 has compiled spin()
    val (_, _) = hostCanary()
    val (canSt, canMt) = hostCanary()
    def outOfBand(mt: Double) = mt < CanaryMtHealthy._1 || mt > CanaryMtHealthy._2
    val contended = outOfBand(canMt) || (midMt > 0 && outOfBand(midMt))
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"$paired,"canary_st":$canSt%.3f,"canary_mt":$canMt%.3f,"canary_mt_mid":$midMt%.3f,"canary_mt_healthy":[${CanaryMtHealthy._1}%.2f,${CanaryMtHealthy._2}%.2f],"contended":$contended}"""
    println(json)
    // Also write the metric to a file: sbt interleaves [info]/[error] log
    // noise into stdout, which broke the driver's machine-parse of this line
    // (BENCH_r06.json "parsed": null). A file is unambiguous.
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] bench.json write failed: $e") }
    spark.stop()
  }
}
