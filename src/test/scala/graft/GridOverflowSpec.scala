package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Capacity audit of every scaled-long determinism grid ([[Det]] and the
  * inline moment grids): the round-5 KL fix found one silent long-wrap
  * parity bomb; this suite makes the whole class impossible to reintroduce.
  *
  * Model: a LONG grid sum is safe while
  * `rowsPerGroup(atTargetSF) × maxAbsTerm × 10^scale < 2^63 / HEADROOM`.
  * Target SF is 1e5 (~100 TB of TPC-H-shaped data: lineitem 6e11 rows,
  * orders 1.5e11). Every registered site must EITHER fit LONG with 2×
  * headroom, OR be declared wide — and a wide declaration must be
  * NECESSARY (LONG would not fit), so nobody "optimizes" a wide site back
  * to the overflowing accumulator. Under ANSI mode (the Spark 4 default) a
  * LONG overflow KILLS the job at full scale; with ANSI off it wraps
  * silently into wrong results — both are production incidents that only
  * surface at the SF the fixtures never reach, which is what makes this
  * class of bug worth a standing audit. */
class GridOverflowSpec extends SparkSpec {

  private val LongMax  = BigDecimal(Long.MaxValue)
  private val Headroom = BigDecimal(2)
  private val TargetSf = 1e5

  /** One registered grid site.
    * @param rowsPerGroupAtTarget worst-case rows a single group absorbs at
    *        SF 1e5 — for fragile-selectivity groupings this assumes the
    *        filter collapses (all rows land in the grouped stream). */
  private case class GridSite(
      site: String,
      scale: Int,
      maxAbsTerm: Double,
      rowsPerGroupAtTarget: Double,
      wide: Boolean
  )

  // value bounds from the fixture generator (TPC-H-shaped, slack applied):
  // extendedprice < 1.1e5, totalprice < 5.5e5, qty <= 50, disc <= 0.1,
  // tax <= 0.08; lineitem 6e6 rows/SF, orders 1.5e6 rows/SF
  private val Price    = 1.1e5
  private val Charge   = 1.1e5 * 1.0 * 1.08
  private val Total    = 5.5e5
  private val LiPerSf  = 6e6
  private val OrdPerSf = 1.5e6

  private val sites = Seq(
    // q01 pricing summary: 6 (returnflag, linestatus) groups
    GridSite("q01 sum_qty (plain long)", 0, 50, LiPerSf / 6 * TargetSf, wide = false),
    GridSite("q01 sum_base_price", 2, Price, LiPerSf / 6 * TargetSf, wide = false),
    GridSite("q01 sum_disc_price", 4, Price, LiPerSf / 6 * TargetSf, wide = true),
    GridSite("q01 sum_charge", 6, Charge, LiPerSf / 6 * TargetSf, wide = true),
    GridSite("q01 avg_disc", 2, 0.1, LiPerSf / 6 * TargetSf, wide = false),
    // q10 revenue per order: a group is one order (<= 7 line items)
    GridSite("q10 revenue/order", 4, Price, 7, wide = false),
    // q11 revenue by (region, nation): ~125 groups
    GridSite("q11 revenue/nation", 4, Price, LiPerSf / 125 * TargetSf, wide = true),
    // q15 total spent per customer: <= ~50 orders each
    GridSite("q15 total_spent/customer", 2, Total, 50, wide = false),
    // nation-pair volume (TPC-H Q7 shape): selectivity is nation-count
    // dependent — audit assumes collapse into ~14 pair×year groups
    GridSite("q18-family volume/nation-pair", 4, Price, LiPerSf / 14 * TargetSf, wide = true),
    // disjunctive-predicate revenue: ONE global group, fragile filter
    GridSite("q19 revenue global", 4, Price, LiPerSf * TargetSf, wide = true),
    // rollup grand total: the () row sums every order
    GridSite("q22 rollup grand total", 2, Total, OrdPerSf * TargetSf, wide = true),
    // monthly totals: ~84 month groups over the 7-year order range
    GridSite("q41/q44 monthly total", 2, Total, OrdPerSf / 84 * TargetSf, wide = false),
    // q29 moment grids: 3 returnflag groups
    GridSite("q29 sy (price*1e2)", 2, Price, LiPerSf / 3 * TargetSf, wide = false),
    GridSite("q29 sxx (qty^2)", 0, 2500, LiPerSf / 3 * TargetSf, wide = false),
    GridSite("q29 sxy (price*qty*1e2)", 2, Price * 50, LiPerSf / 3 * TargetSf, wide = true),
    GridSite("q29 syy (price^2*1e4)", 4, Price * Price, LiPerSf / 3 * TargetSf, wide = true),
    GridSite("q29 sdc (disc*1e2)", 2, 0.1, LiPerSf / 3 * TargetSf, wide = false),
    GridSite("q29 sxd (disc*qty*1e2)", 2, 5.0, LiPerSf / 3 * TargetSf, wide = false),
    // q81 per-(user, day) mean: fixture |value| <= 560 (bound 600); worst
    // case assumes user cardinality does NOT scale (1500 users, ~30 days
    // fixed) so one group absorbs 1e6*SF/(1500*30) rows
    GridSite("q81 daily mean (value*1e6)", 6, 600, 1e6 * TargetSf / (1500 * 30), wide = false),
    // k-means / IVF centroid means over posexploded components: |c| < 1,
    // a (cluster, pos) cell sees vectors/k rows (64 dims, k=16, ~2e4
    // vectors/SF)
    GridSite("q76/q107 centroid mean (component*1e6)", 6, 1.0, 2e4 * TargetSf / 16, wide = false),
    // q141 SemDeDup coarse quantizer: same grid as q76/q107 (|c| < 1,
    // one (label, pos) cell sees vectors/k rows)
    GridSite("q141 centroid mean (component*1e6)", 6, 1.0, 2e4 * TargetSf / 16, wide = false),
    // q112 salted-join revenue: 7 categories over the lineitem-shaped fact
    GridSite("q112 category cents (price*1e2)", 2, Price, LiPerSf / 7 * TargetSf, wide = false),
    // q131 stream-static tier sum: 5 tier groups over events (|value|<=600)
    GridSite("q131 tier sum (value*1e4)", 4, 600, 1e6 * TargetSf / 5, wide = false),
    // q149 winsorized mean: same group/value bounds as q131 (clamping can
    // only shrink |value|)
    GridSite("q149 winsorized mean (value*1e4)", 4, 600, 1e6 * TargetSf / 5, wide = false)
  )

  private def groupTotal(s: GridSite): BigDecimal =
    BigDecimal(s.rowsPerGroupAtTarget) * BigDecimal(s.maxAbsTerm) * BigDecimal(10).pow(s.scale)

  test("every LONG grid fits the 100 TB target with 2x headroom") {
    val broken = sites.filterNot(_.wide).filterNot(s => groupTotal(s) * Headroom <= LongMax)
    assert(
      broken.isEmpty,
      "LONG grids that overflow at SF 1e5 (switch to Det.decSumWide):\n" +
        broken.map(s => f"  ${s.site}: ${groupTotal(s)}%.3e vs 2^63").mkString("\n")
    )
  }

  test("every wide (DECIMAL) grid is NECESSARY — LONG would not have held") {
    // guards the other direction: if this fails, LONG regained enough
    // headroom (bounds changed) and the 2x-slower accumulator is waste —
    // but more importantly nobody can flip a wide site back by weakening
    // the registered bounds without this table noticing
    val unnecessary = sites.filter(_.wide).filter(s => groupTotal(s) * Headroom <= LongMax)
    assert(
      unnecessary.isEmpty,
      s"wide grids LONG could hold:\n${unnecessary.map(_.site).mkString("\n")}"
    )
  }

  test("every scaled-long grid site in src/main is registered here (tripwire)") {
    // mechanical link between this table and the code: count the scaled
    // grid-sum sites in main source — both the original
    // `sum(round(...).cast(long))` idiom and the r19 kernel form
    // `sum(Kernels.roundLong(...))` (value-identical, allocation-free; the
    // decimal-cast wide sites ride the same kernel and are counted too). A
    // NEW site added without updating BOTH the code and this audit fails
    // loudly — the next person must register its bounds (or route it
    // through decSumWide / the two-level idiom) instead of shipping an
    // unaudited grid. Registered: query-side sites (Det.decSum +
    // decSumWide + gridPartial bodies, Advanced x6, Similarity,
    // Clustering x2, Skew x2, TimeSeries, Curation).
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    require(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root not found")
    val pat = java.util.regex.Pattern.compile(
      """sum\((round\(.*\.cast\(("long"|LongType)\)|(graft\.functions\.)?Kernels\.roundLong\()""")
    val walk = java.nio.file.Files.walk(root)
    // keys are ROOT-RELATIVE paths (matching DisciplineSpec): a bare-name
    // key would silently exempt any same-named file elsewhere under graft/
    val hits =
      try walk
        .iterator()
        .asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val name = root.relativize(p).toString.replace('\\', '/')
          java.nio.file.Files
            .readAllLines(p)
            .asScala
            .zipWithIndex
            .collect { case (l, i) if pat.matcher(l).find() => name -> (i + 1) }
        }
        .toSeq
      finally walk.close()
    // the expected sites, explicitly by file (counts, since line numbers
    // shift) — a new site anywhere, including a new Probe-named file in a
    // subpackage, shows up as a diff against this map
    val expected = Map(
      "Det.scala"                   -> 3, // decSum + decSumWide + gridPartial bodies
      "operators/Advanced.scala"    -> 6, // q29 stats grids (incl. 2 wide) + q149 winsorized mean
      "operators/Clustering.scala"  -> 2,
      "operators/Curation.scala"    -> 1, // q141 SemDeDup centroid grid

      "operators/Similarity.scala"  -> 1,
      "operators/Skew.scala"        -> 2,
      "operators/TimeSeries.scala"  -> 1
    )
    val got = hits.groupBy(_._1).view.mapValues(_.size).toMap
    assert(
      got == expected,
      s"scaled-long grid sites changed — register the new/removed site's bounds in this " +
        s"suite's table (or route it through decSumWide). Expected $expected, got $got; " +
        s"sites:\n${hits.map { case (f, l) => s"$f:$l" }.sorted.mkString("\n")}"
    )
  }

  test("two-level LONG partials fit within one scan partition (q01/q11 shape)") {
    // the hot wide sites pre-aggregate per (group, spark_partition_id): a
    // LONG partial sees at most ONE partition's rows. Bound: even a
    // misconfigured 1GB maxPartitionBytes at ~50 bytes/row is ~2e7 rows;
    // times the worst registered term (the charge 1e6 grid) the partial
    // must still clear LONG with 2x headroom, or the two-level scheme is
    // itself unsafe and must go per-row DECIMAL
    val worstTerm = BigDecimal(Charge) * BigDecimal(10).pow(6)
    val partRows  = BigDecimal(2e7)
    assert(
      partRows * worstTerm * Headroom <= LongMax,
      f"a single-partition LONG partial can overflow: ${partRows * worstTerm}%.3e"
    )
  }

  test("every registered term is exact on the double->grid path (< 2^53)") {
    // round(x * 10^s) is computed in DOUBLE before the integer cast: the
    // scaled term must stay below 2^53 or the grid itself loses digits
    val twoTo53 = BigDecimal(2).pow(53)
    val broken = sites.filterNot(s =>
      BigDecimal(s.maxAbsTerm) * BigDecimal(10).pow(s.scale) < twoTo53
    )
    assert(broken.isEmpty, s"grids past double exactness:\n${broken.map(_.site).mkString("\n")}")
  }

  test("Kernels.roundLong is value-identical to round(x).cast(long) (adversarial + property)") {
    import spark.implicits._
    // adversarial: exact .5 halves (both signs), values one ulp around a
    // half, the classic floor(x+0.5) trap (largest double below 0.5),
    // zero/negative zero, and random magnitudes across the grid range
    val adversarial = Seq(
      0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 1234567.5, -1234567.5,
      Math.nextDown(0.5), Math.nextUp(0.5), -Math.nextDown(0.5),
      Math.nextDown(2.5), Math.nextUp(2.5), -Math.nextUp(2.5),
      0.49999999999999994, -0.49999999999999994,
      0.0, -0.0, 1e15 + 0.5, -(1e15 + 0.5), 104999.915 * 1e6
    )
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(2000)((rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(16)))
    val df = (adversarial ++ random).toDF("x")
    val mismatches = df
      .select(
        $"x",
        graft.functions.Kernels.roundLong($"x").as("k"),
        round($"x").cast("long").as("r")
      )
      .filter($"k" =!= $"r")
      .collect()
    assert(
      mismatches.isEmpty,
      s"roundLong diverges from round().cast(long) on: ${mismatches.take(5).mkString(", ")}"
    )
  }

  test("decSum and decSumWide match the exact BigDecimal model (property)") {
    import spark.implicits._
    // adversarial magnitudes: around the price bound, tiny fractions, sign
    // flips — both accumulators must equal the exact integer-grid model
    val gen = for {
      mag  <- Gen.oneOf(1e-2, 1.0, 104999.91, 5.5e5)
      x    <- Gen.choose(-mag, mag)
    } yield x
    val scales = Seq(2, 4, 6)
    (0 until 3).foreach { round =>
      val xs = Gen
        .listOfN(60, gen)
        .apply(Gen.Parameters.default, Seed(42L + round))
        .get
      val df = xs.toDF("x").repartition(4) // exercise merge order too
      scales.foreach { s =>
        val f = BigDecimal(10).pow(s)
        val model = xs
          .map(x => BigDecimal.valueOf(x * math.pow(10.0, s)).setScale(0, BigDecimal.RoundingMode.HALF_UP))
          .sum / f
        val got = df
          .agg(Det.decSum($"x", s).as("a"), Det.decSumWide($"x", s).as("b"))
          .head()
        assert(got.getDouble(0) === model.toDouble, s"decSum scale $s seed ${42 + round}")
        assert(got.getDouble(1) === model.toDouble, s"decSumWide scale $s seed ${42 + round}")
        // the two-level idiom must land on the SAME exact integer: LONG
        // partials per partition, decimal merge across them
        val twoLevel = df
          .groupBy(spark_partition_id().as("_pid"))
          .agg(Det.gridPartial($"x", s).as("p"))
          .agg(Det.gridMergeWide($"p", s))
          .head()
          .getDouble(0)
        assert(twoLevel === model.toDouble, s"gridPartial/MergeWide scale $s seed ${42 + round}")
      }
    }
  }

  test("decSumWide survives a sum that genuinely overflows LONG") {
    import spark.implicits._
    // 2000 terms of ~5e15 on the 1e2 grid: scaled terms ~5e17, total ~1e21
    // — LONG wraps, DECIMAL(38) must hold the exact value
    val v  = 5.0e15
    val n  = 2000
    val df = Seq.fill(n)(v).toDF("x").repartition(8)
    val exact = (BigDecimal(BigDecimal.valueOf(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt) * n / 100).toDouble
    val wide = df.agg(Det.decSumWide($"x", 2)).head().getDouble(0)
    assert(wide === exact, "wide accumulator lost the overflow-range sum")
    // the LONG grid must FAIL on the same input: under ANSI (the Spark 4
    // default) the sum throws ARITHMETIC_OVERFLOW; with ANSI off it wraps
    // to a wrong value — either way the narrow path cannot quietly agree.
    // Only an overflow in the cause chain counts: any other failure (OOM,
    // codegen, fixture) must FAIL this test, not green-light the premise.
    def isOverflow(e: Throwable): Boolean =
      e != null && (e.isInstanceOf[ArithmeticException] ||
        Option(e.getMessage).exists(_.toUpperCase.contains("OVERFLOW")) ||
        isOverflow(e.getCause))
    val narrowFailed =
      try df.agg(Det.decSum($"x", 2)).head().getDouble(0) !== exact
      catch { case e: Throwable if isOverflow(e) => true }
    assert(narrowFailed, "expected the LONG grid to overflow here — if it no " +
      "longer does, this test's premise (and the wide sites) need re-auditing")
  }

  test("simhash and manifest-xor bit math cannot leave their ranges (property)") {
    // simhash48 builds from 48 single-bit decisions -> result < 2^48 by
    // construction; per-bit counters are Int over < 2^31 shingles. The
    // manifest checksum XORs 60-bit keys -> stays < 2^60. Both are range
    // properties over arbitrary inputs, pinned here at adversarial values.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val gen = Gen.listOfN(64, Gen.oneOf(Gen.choose(0L, (1L << 48) - 1), Gen.const((1L << 48) - 1)))
    (0 until 5).foreach { i =>
      val hs  = gen.apply(Gen.Parameters.default, Seed(7L + i)).get
      val out = graft.functions.HashKernels.simhash48(new GenericArrayData(hs.toArray))
      assert(out >= 0L && out < (1L << 48), s"simhash48 out of range: $out")
    }
    val keys = Gen.listOfN(100, Gen.choose(0L, (1L << 60) - 1)).apply(Gen.Parameters.default, Seed(99L)).get
    val x    = keys.foldLeft(0L)(_ ^ _)
    assert(x >= 0L && x < (1L << 60), s"xor of 60-bit keys left the range: $x")
  }
}
