package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Kernels
import org.apache.spark.sql.functions._

/** Advanced relational surface: SQL-API entry (temp views + spark.sql),
  * correlated scalar subqueries, explicit GROUPING SETS, statistical
  * aggregates, pivot, and the typed-Aggregator UDAF — the §2.2 checklist
  * rows not yet covered by the DataFrame packs. */
object Advanced {

  /** Correlated scalar subquery through the SQL entry point (TPC-H Q17
    * shape): line items whose quantity is below half their part's average.
    * Catalyst decorrelates the subquery into a join against the per-part
    * aggregate — the plan you'd hand-write, derived automatically.
    * Deterministic because l_quantity is integral (exact double sums). */
  def correlatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    // Unique per-call view name (a fixed session-global name would race
    // across concurrent queries); sql() resolves eagerly, so drop after.
    val v = s"lineitem_csq_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.lineitem(spark, sfDir).createOrReplaceTempView(v)
    try
      spark.sql(s"""
        SELECT l_partkey,
               COUNT(*) AS n_small,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_small_qty
        FROM $v l
        WHERE l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM $v l2
                            WHERE l2.l_partkey = l.l_partkey)
        GROUP BY l_partkey
        ORDER BY l_partkey
      """)
    finally spark.catalog.dropTempView(v)
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): status-only,
    * priority-only, and grand-total groups in one pass. */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val v = s"orders_gs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.orders(spark, sfDir).createOrReplaceTempView(v)
    try
      spark.sql(s"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n
        FROM $v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, status, priority
      """)
    finally spark.catalog.dropTempView(v)
  }

  /** Statistical aggregates: stddev/variance/correlation/covariance and an
    * exact interpolated median. The moments are derived from EXACT power
    * sums on the [[graft.Det]] scaled-integer grid (quantity is integral;
    * price/discount terms are rounded onto their true decimal grids and
    * summed as LONG/DECIMAL(38)) instead of the built-in Welford-style
    * aggregates, whose merge order follows the shuffle and can flip the
    * 6th rounded decimal between runs. With exact integer sums and the
    * identical closed-form expressions on both engines, the result is
    * bit-deterministic. (Scale caps documented inline; the price² sum uses
    * DECIMAL(38) because its 1e4 grid would overflow LONG near 1e19.)
    *
    * The median deliberately does NOT use `percentile()`: one
    * ImperativeAggregate forces the ENTIRE aggregate — all nine codegen-able
    * power sums with it — onto the interpreted ObjectHashAggregate path.
    * l_quantity is integral on a ~50-value domain, so ONE codegen'd
    * HashAggregate by (returnflag, quantity) carries every partial power sum
    * down to ≤150 histogram rows (integer/decimal partial sums re-aggregate
    * bit-identically by associativity), and the median falls out of an
    * O(groups) window walk over the same histogram — single scan, no second
    * pass, no interpreted aggregate, no join. Interpolation matches
    * `percentile`/`quantile_cont` exactly: pos = 0.5·(n−1) on the 0-based
    * sorted ranks, v_lo + frac·(v_hi − v_lo) — bit-exact here because the
    * neighbors are integral doubles and frac ∈ {0, 0.5}. (Same-JVM
    * interleaved A/B at the 600M-row sf100 rung, BASELINE.md round 12: local
    * wall-clock is scan-arithmetic-bound so the forms read parity to
    * slightly-ahead — pairwise 83.9→85.5, 85.9→80.0, 63.6→54.4 s under
    * host phase drift; the rewrite's claim is the plan shape, which is
    * what degrades under executor memory pressure at real scale.) */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // One pass: every measure's PARTIAL sum per (returnflag, quantity) cell.
    // count(*) counts null-quantity rows too (they'd form their own cell),
    // matching the flat count; the qty-derived sums skip nulls natively.
    val hist = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(
        count(lit(1)).as("cnt"),
        sum($"l_quantity".cast("long")).as("p_sx"),
        sum(($"l_quantity" * $"l_quantity").cast("long")).as("p_sxx"),
        sum(Kernels.roundLong($"l_extendedprice" * 100)).as("p_sy"),
        sum(Kernels.roundLong($"l_extendedprice" * $"l_extendedprice" * 10000).cast("decimal(38,0)"))
          .as("p_syy"),
        // price*qty on the 1e2 grid: term magnitude ~5e8, and the three
        // returnflag groups are unbounded — LONG runs out near SF ~9e3,
        // so sxy joins syy on the DECIMAL(38) accumulator
        sum(Kernels.roundLong($"l_extendedprice" * $"l_quantity" * 100).cast("decimal(38,0)"))
          .as("p_sxy"),
        sum(Kernels.roundLong($"l_discount" * 100)).as("p_sdc"),
        sum(Kernels.roundLong($"l_discount" * $"l_quantity" * 100)).as("p_sxd")
      )
    val byFlag = Window.partitionBy($"l_returnflag")
    val cumW   = byFlag.orderBy($"l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // percentile()/quantile_cont skip NULLs — the rank walk must too.
    val nn = when($"l_quantity".isNotNull, $"cnt").otherwise(lit(0L))
    hist
      .withColumn("cum", sum(nn).over(cumW))
      .withColumn("ntot", sum(nn).over(byFlag))
      .withColumn("pos", lit(0.5) * ($"ntot" - 1).cast("double"))
      .withColumn("lo", floor($"pos").cast("long"))
      .withColumn("hi", least($"lo" + 1, $"ntot" - 1))
      .groupBy($"l_returnflag")
      .agg(
        sum($"cnt").cast("double").as("n"),
        sum($"p_sx").cast("double").as("sx"),
        sum($"p_sxx").cast("double").as("sxx"),
        sum($"p_sy").cast("double").as("sy"),
        sum($"p_syy").cast("double").as("syy"),
        sum($"p_sxy").cast("double").as("sxy"),
        sum($"p_sdc").cast("double").as("sdc"),
        sum($"p_sxd").cast("double").as("sxd"),
        // a value's 0-based rank range is [cum-cnt, cum); exactly one
        // non-null row contains each target rank
        max(when($"l_quantity".isNotNull && $"cum" - nn <= $"lo" && $"lo" < $"cum",
          $"l_quantity")).as("v_lo"),
        max(when($"l_quantity".isNotNull && $"cum" - nn <= $"hi" && $"hi" < $"cum",
          $"l_quantity")).as("v_hi"),
        max(when($"l_quantity".isNotNull, $"pos" - $"lo")).as("frac"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty")
      )
      .withColumn("median_qty", $"v_lo" + $"frac" * ($"v_hi" - $"v_lo"))
      .select(
        $"l_returnflag",
        round(sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)), 6).as("sd_qty"),
        round(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1), 6).as("var_qty"),
        // the 1e2/1e4 grid factors cancel exactly in this symmetric form
        round(
          ($"n" * $"sxy" - $"sx" * $"sy") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")),
          6
        ).as("corr_qty_price"),
        round(($"sxd" - $"sx" * $"sdc" / $"n") / 100.0 / ($"n" - 1), 6).as("cov_qty_disc"),
        $"median_qty",
        $"min_qty",
        $"max_qty"
      )
      .orderBy($"l_returnflag")
  }

  /** Pivot: daily event counts spread into one column per event type. */
  def pivotEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables
      .events(spark, sfDir)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(
      $"day" +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*
    ).orderBy($"day")
  }

  /** Exact interpolated quartiles per group WITHOUT an ImperativeAggregate —
    * the q29 histogram-median pattern promoted to a first-class grouped-
    * quantile operator and the 100 TB-safe plan pair to q36's
    * `percentile(...)` exact part. One codegen'd HashAggregate collapses
    * the scan to a (returnflag, quantity) histogram (l_quantity is integral
    * on a ~50-value domain, so partial aggregation bounds every partition's
    * state at ≤150 cells regardless of row count), then an O(groups) window
    * walk reads each target rank. Interpolation matches
    * `percentile`/`quantile_cont` exactly — pos = q·(n−1) on the 0-based
    * sorted ranks, v_lo + frac·(v_hi − v_lo) — and is bit-exact here: the
    * neighbors are small integral doubles and frac ∈ {0, ¼, ½, ¾}, so every
    * product and sum is exactly representable. The general-domain variant
    * of this plan buckets values first (the histogram key becomes the
    * bucket), trading exactness for the same bounded-state shape. */
  def groupedQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val byFlag = Window.partitionBy($"l_returnflag")
    val cumW   = byFlag.orderBy($"l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w = Tables.lineitem(spark, sfDir)
      .filter($"l_quantity".isNotNull) // quantile_cont/percentile skip NULLs
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(cumW))
      .withColumn("ntot", sum($"cnt").over(byFlag))
    def quantileCol(q: Double, nm: String) = {
      val pos  = lit(q) * ($"ntot" - 1).cast("double")
      val lo   = floor(pos).cast("long")
      val hi   = least(lo + 1, $"ntot" - 1)
      // a value's 0-based rank range is [cum-cnt, cum); exactly one row
      // contains each target rank, so max(when(...)) selects it
      val vLo  = max(when($"cum" - $"cnt" <= lo && lo < $"cum", $"l_quantity"))
      val vHi  = max(when($"cum" - $"cnt" <= hi && hi < $"cum", $"l_quantity"))
      val frac = max(pos - lo) // constant within the flag
      (vLo + frac * (vHi - vLo)).as(nm)
    }
    w.groupBy($"l_returnflag")
      .agg(
        sum($"cnt").as("n"),
        quantileCol(0.25, "q25"),
        quantileCol(0.50, "q50"),
        quantileCol(0.75, "q75")
      )
      .orderBy($"l_returnflag")
  }

  /** Approximate-vs-exact quantile audit made fully oracle-checkable: the
    * declared output is the EXACT interpolated quartiles (deterministic,
    * identical in DuckDB's quantile_cont) plus `within_tolerance` — computed
    * Spark-side as every approximate quartile landing within 2% of its
    * exact value. The oracle emits the same exact quartiles with
    * `within_tolerance = true`.
    *
    * r20 rewrite (the q29/q162 histogram route, verdict task 5): the
    * previous form ran TWO interpreted ObjectHashAggregates per raw row —
    * `percentile` (an unbounded per-group value map) and
    * `approx_percentile` (a Greenwald-Khanna sketch insert per row) —
    * fused serially into the single-task scan stage (measured r20: 2.3 s
    * wall, exec 4.0 s at sf0.1 for 3 output rows). Now ONE codegen'd
    * HashAggregate collapses the scan to the exact (returnflag, price)
    * value-grid histogram with map-side partial aggregation, and BOTH
    * readouts come from its cumulative counts: the exact quartile by
    * Percentile's own interpolation formula (lo·(hi−pos) + hi·(pos−lo) on
    * the rank-neighbor values), and the approximate quartile as the
    * RANK-FLOOR value (the inverted-CDF / type-1 quantile — rank-EXACT,
    * strictly tighter than the GK sketch's ±n/accuracy rank guarantee it
    * replaces, so a corpus where the sketch met the 2% band meets it a
    * fortiori). No per-row interpreted path and no unbounded aggregate
    * state remain; the histogram's width is the distinct-price domain,
    * bounded by the fixture grid, and the window walk is O(distinct). */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val byFlag = Window.partitionBy($"l_returnflag")
    val cumW = byFlag
      .orderBy($"l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w = Tables
      .lineitem(spark, sfDir)
      .filter($"l_extendedprice".isNotNull) // percentile/quantile_cont skip NULLs
      .groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(cumW))
      .withColumn("ntot", sum($"cnt").over(byFlag))
    // a value's 0-based rank range is [cum-cnt, cum); exactly one row
    // contains each target rank, so max(when(...)) selects it
    def atRank(r: org.apache.spark.sql.Column) =
      max(when($"cum" - $"cnt" <= r && r < $"cum", $"l_extendedprice"))
    def exactQ(q: Double) = {
      val pos = lit(q) * ($"ntot" - 1).cast("double")
      val lo  = floor(pos).cast("long")
      val hi  = least(lo + 1, $"ntot" - 1)
      // Percentile's exact formula: vLo·(hi−pos) + vHi·(pos−lo); at
      // frac = 0 the hi term vanishes, so one expression covers both arms.
      // The rank weights are group constants — max() lifts them into the
      // aggregate scope (the q162 idiom).
      val wLo = max(lo.cast("double") + 1d - pos)
      val wHi = max(pos - lo.cast("double"))
      atRank(lo) * wLo + atRank(hi) * wHi
    }
    def approxQ(q: Double) = atRank(floor(lit(q) * ($"ntot" - 1).cast("double")).cast("long"))
    // rank-hit prefilter: only rows whose rank range contains one of the
    // six target ranks (lo/hi per quartile; the approx readout reuses lo)
    // can contribute to any aggregate below — everything else is dropped
    // before the final aggregation, so it runs over ≤ 6 rows per group
    // instead of the whole value grid (measured r20: the grid is ~594k
    // cells at sf0.1 — l_extendedprice is nearly unique per row)
    val rankHit = Seq(0.25, 0.50, 0.75)
      .map { q =>
        val pos = lit(q) * ($"ntot" - 1).cast("double")
        val lo  = floor(pos).cast("long")
        val hi  = least(lo + 1, $"ntot" - 1)
        ($"cum" - $"cnt" <= lo && lo < $"cum") || ($"cum" - $"cnt" <= hi && hi < $"cum")
      }
      .reduce(_ || _)
    w.filter(rankHit)
      .groupBy($"l_returnflag")
      .agg(
        exactQ(0.25).as("x25"), exactQ(0.50).as("x50"), exactQ(0.75).as("x75"),
        approxQ(0.25).as("a25"), approxQ(0.50).as("a50"), approxQ(0.75).as("a75")
      )
      .select(
        $"l_returnflag",
        round($"x25", 6).as("p25_exact"),
        round($"x50", 6).as("p50_exact"),
        round($"x75", 6).as("p75_exact"),
        (abs($"a25" - $"x25") <= $"x25" * 0.02 &&
          abs($"a50" - $"x50") <= $"x50" * 0.02 &&
          abs($"a75" - $"x75") <= $"x75" * 0.02)
          .as("within_tolerance")
      )
      // bounded output (3 returnflag groups)
      .transform(Tables.sortSmall(_, $"l_returnflag"))
  }

  /** Unpivot (melt): wide measure columns to long (key, measure, value)
    * rows — the inverse of pivot, the long-format step of feature
    * pipelines. Pure per-row expansion, no shuffle before the sort. */
  def unpivotMeasures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, sfDir)
      .filter($"l_orderkey" <= 100)
      .unpivot(
        ids = Array($"l_orderkey", $"l_linenumber"),
        values = Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        variableColumnName = "measure",
        valueColumnName = "value"
      )
      .orderBy($"l_orderkey", $"l_linenumber", $"measure")
  }

  /** Geometric mean of extended price per return flag via the typed
    * [[graft.functions.GeoMean]] Aggregator (UDAF surface) — plans as
    * partial/final aggregation like a built-in. The UDAF returns
    * (geomean, n) so the group count needs no sibling count() — a ridden
    * declarative aggregate would put the whole per-row update path on the
    * interpreted ObjectHashAggregate (the pre-rewrite q29 defect). */
  def geoMeanUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val geomean = udaf(graft.functions.GeoMean)
    Tables
      .lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(geomean($"l_extendedprice").as("g"))
      .select(
        $"l_returnflag",
        round($"g".getField("_1"), 6).as("geomean_price"),
        $"g".getField("_2").as("n")
      )
      .orderBy($"l_returnflag")
  }

  /** Correlated LATERAL subquery (SQL:2016 LATERAL derived table): per-
    * nation top-3 customers by balance. Catalyst decorrelates the ORDER BY
    * ... LIMIT lateral into a ranked window join — the same plan as the
    * DataFrame row_number idiom (q25), but declared in the SQL dialect a
    * reference user migrating hand-written analytics would reach for. */
  def lateralTopPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    // Unique per-call view names (session-global temp views would race
    // across concurrent queries); sql() resolves eagerly, so drop after.
    val sfx  = java.util.UUID.randomUUID().toString.replace("-", "")
    val natV = s"nation_lv_$sfx"
    val cusV = s"customer_lv_$sfx"
    Tables.nation(spark, sfDir).createOrReplaceTempView(natV)
    Tables.customer(spark, sfDir).createOrReplaceTempView(cusV)
    try
      spark.sql(s"""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM $natV n,
        LATERAL (
          SELECT c_name, c_acctbal FROM $cusV c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name
          LIMIT 3
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
      """)
    finally {
      spark.catalog.dropTempView(natV)
      spark.catalog.dropTempView(cusV)
    }
  }

  /** Winsorization (percentile clipping) of `events.value` per event type —
    * the robust-statistics preprocessing step (outlier clamping before
    * training-signal aggregation): clip to the exact per-group discrete
    * [p05, p95], report clip bounds, clipped counts, and the winsorized
    * mean on the 1e4 grid. The discrete percentile is pinned POSITIONALLY
    * (value at row_number == ceil(p·n) under (value, event_id) order) so
    * both engines pick the identical element — no interpolation-convention
    * risk. Scale shape: one partitioned window sort per group for the
    * bounds + one broadcast of the per-type bounds table (bounded by the
    * type cardinality) + one aggregation; at 100 TB swap the exact
    * positional bound for approx_percentile (q36) — the clamp/audit
    * pipeline is unchanged. */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir).select($"event_type", $"event_id", $"value")
    val w  = Window.partitionBy($"event_type")
    val r = ev
      .withColumn("rk", row_number().over(w.orderBy($"value", $"event_id")))
      .withColumn("n", count(lit(1)).over(w))
    val bounds = r
      .groupBy($"event_type")
      .agg(
        max(when($"rk" === expr("CAST(ceil(0.05 * n) AS BIGINT)"), $"value")).as("clip_lo"),
        max(when($"rk" === expr("CAST(ceil(0.95 * n) AS BIGINT)"), $"value")).as("clip_hi")
      )
    ev.join(broadcast(bounds), "event_type")
      .withColumn("cv", least(greatest($"value", $"clip_lo"), $"clip_hi"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(($"value" < $"clip_lo").cast("long")).as("n_lo"),
        sum(($"value" > $"clip_hi").cast("long")).as("n_hi"),
        round(max($"clip_lo"), 6).as("clip_lo"),
        round(max($"clip_hi"), 6).as("clip_hi"),
        round(
          sum(Kernels.roundLong($"cv" * 1e4)).cast("double") / 1e4 / count(lit(1)),
          6
        ).as("mean_winsorized")
      )
      .orderBy($"event_type")
  }

  /** Sketch accuracy parameter for [[winsorizeApproxAudit]] — Spark's
    * approx_percentile rank-error guarantee is n/accuracy per single-pass
    * summary. The audit's rank_tol = 2·floor(n/accuracy)+2 treats the
    * partial-summary MERGE as at most doubling that error; Spark's GK merge
    * bound is empirical, not proved, so at very high partition counts the
    * merged error could in principle exceed 2× and flip an audit boolean
    * (a spurious hash failure, not a wrong answer). The fixture pins
    * shuffle.partitions=32 where the 2× slack holds with wide margin; a
    * deployment at thousands of partitions should either derive the slack
    * from the merge fan-in or pre-aggregate per-partition summaries in a
    * fixed-depth tree. */
  private[graft] val WinsorizeApproxAcc = 10000

  /** Declared query (q151): the 100 TB winsorize plan, audited. [[winsorize]]
    * (q149) computes EXACT per-group clip bounds with a per-group window
    * sort — the right fixture semantics, but at 100 TB a full sort per
    * group is the expensive path and its own scaladoc names the swap:
    * approx_percentile. This query DECLARES that swap and pins it with an
    * oracle: compute the 5/95 bounds with the GK sketch
    * (approx_percentile, accuracy = [[WinsorizeApproxAcc]] — one
    * map-side-combined aggregation, no sort, no window), then audit each
    * sketch bound EXACTLY against the sketch's published rank guarantee —
    * one more pass counts the values strictly-below / at-or-below each
    * approx bound, giving the bound's exact tie-rank interval, which must
    * overlap the target rank ceil(p·n) within rank_tol =
    * 2·floor(n/accuracy) + 2 (the guarantee with merge slack and the
    * ±1 target-definition difference). The audit booleans — NOT the
    * sketch values, which no other engine can replay — are the declared
    * output, so the DuckDB oracle replays the deterministic contract
    * (every group in tolerance): if a sketch regression ever pushed a
    * bound outside its guarantee, the engine would emit false and the
    * hash compare would fail. Columns (n, rank_tol) are exactly
    * derivable on both sides. */
  def winsorizeApproxAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val acc = WinsorizeApproxAcc
    val ev  = Tables.events(spark, sfDir).select($"event_type", $"value")
    val ap = ev
      .groupBy($"event_type")
      .agg(
        expr(s"approx_percentile(value, 0.05, $acc)").as("alo"),
        expr(s"approx_percentile(value, 0.95, $acc)").as("ahi")
      )
    ev.join(broadcast(ap), "event_type")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(($"value" < $"alo").cast("long")).as("lo_lt"),
        sum(($"value" <= $"alo").cast("long")).as("lo_le"),
        sum(($"value" < $"ahi").cast("long")).as("hi_lt"),
        sum(($"value" <= $"ahi").cast("long")).as("hi_le")
      )
      .withColumn("rank_tol", lit(2L) * floor($"n" / acc).cast("long") + lit(2L))
      .withColumn("t_lo", ceil($"n" * 0.05).cast("long"))
      .withColumn("t_hi", ceil($"n" * 0.95).cast("long"))
      .select(
        $"event_type",
        $"n",
        $"rank_tol",
        ($"lo_le" >= $"t_lo" - $"rank_tol" && $"lo_lt" + 1 <= $"t_lo" + $"rank_tol")
          .as("lo_within_tol"),
        ($"hi_le" >= $"t_hi" - $"rank_tol" && $"hi_lt" + 1 <= $"t_hi" + $"rank_tol")
          .as("hi_within_tol")
      )
      .orderBy($"event_type")
  }

  /** Single-pass table profiler — the dataset-card / data-quality stats a
    * pipeline publishes alongside an export (per column: row count, nulls,
    * exact distinct count, min/max): ONE aggregation computes every
    * statistic for every profiled column in a single scan (no per-column
    * passes), then a `stack` reshapes the one-row result into long format.
    * Numeric and temporal minima/maxima surface on a shared DOUBLE axis
    * (timestamps as unix micros — exact in a double up to 2^53), string
    * columns on a STRING axis, so no cross-engine float-formatting is
    * involved anywhere. At scale this is one map-side-combined pass;
    * distinct counts expand per column but stay in the same shuffle. */
  def tableProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Split-distinct plan (r19, the q20 discipline): the 4-way exact
    // countDistinct planned ONE Expand that multiplied every row by 4
    // before a single serial partial aggregate. Each column instead rides
    // its own groupBy dedup pipeline (map-side collapse on its own key; a
    // null key forms a group count(col) skips — exact countDistinct
    // semantics) and the four 1-row results equi-join the min/max/null
    // pass on a literal key (broadcast hash joins of single rows, not a
    // cartesian). Measured 2.23 → 0.83 s at sf0.1.
    val li = Tables.lineitem(spark, sfDir)
    def nd(c: String, as: String) = li
      .groupBy(col(c))
      .agg(count(lit(1)).as("cc"))
      .agg(count(col(c)).as(as))
      .withColumn("k", lit(1))
    li
      .agg(
        count(lit(1)).as("n"),
        sum($"l_quantity".isNull.cast("long")).as("qty_nulls"),
        min($"l_quantity").cast("double").as("qty_min"),
        max($"l_quantity").cast("double").as("qty_max"),
        sum($"l_extendedprice".isNull.cast("long")).as("ep_nulls"),
        min($"l_extendedprice").cast("double").as("ep_min"),
        max($"l_extendedprice").cast("double").as("ep_max"),
        sum($"l_shipdate".isNull.cast("long")).as("sd_nulls"),
        min(unix_micros($"l_shipdate")).cast("double").as("sd_min"),
        max(unix_micros($"l_shipdate")).cast("double").as("sd_max"),
        sum($"l_returnflag".isNull.cast("long")).as("rf_nulls"),
        min($"l_returnflag").as("rf_min"),
        max($"l_returnflag").as("rf_max")
      )
      .withColumn("k", lit(1))
      .join(nd("l_quantity", "qty_distinct"), "k")
      .join(nd("l_extendedprice", "ep_distinct"), "k")
      .join(nd("l_shipdate", "sd_distinct"), "k")
      .join(nd("l_returnflag", "rf_distinct"), "k")
      .select(
        $"n".as("n_rows"),
        expr("""stack(4,
          'l_quantity',      qty_nulls, qty_distinct, qty_min, qty_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
          'l_extendedprice', ep_nulls,  ep_distinct,  ep_min,  ep_max,  CAST(NULL AS STRING), CAST(NULL AS STRING),
          'l_shipdate',      sd_nulls,  sd_distinct,  sd_min,  sd_max,  CAST(NULL AS STRING), CAST(NULL AS STRING),
          'l_returnflag',    rf_nulls,  rf_distinct,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), rf_min, rf_max)
          AS (col_name, n_null, n_distinct, min_num, max_num, min_str, max_str)""")
      )
      .select(
        $"col_name", $"n_rows", $"n_null", $"n_distinct",
        $"min_num", $"max_num", $"min_str", $"max_str"
      )
      // bounded output (4 profiled columns)
      .transform(Tables.sortSmall(_, $"col_name"))
  }
}
