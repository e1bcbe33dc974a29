package graft

import graft.functions.Kernels
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Oracle-determinism helpers (SURVEY.md §2.4).
  *
  * Double summation is order-dependent, and Spark's shuffle merge order is
  * nondeterministic — so any float aggregate the DuckDB oracle hashes must
  * be order-independent. Exact decimal sums achieve that but run ~2× slower
  * than primitive aggregation (Decimal boxing in the agg loop; BASELINE.md
  * round 1 and round 7). Instead: round each term to `scale` true decimal
  * digits, sum as LONG (exact, order-free, codegen-primitive), convert to
  * double once at the end. The scale is chosen so the grid point sits on the
  * value's true decimals (prices 2, price*(1-disc) 4, the charge product 6)
  * and per-term scaled values stay far below 2^63.
  */
object Det {

  /** Order-independent sum of a double column with `scale` true decimal
    * digits, emitted as double. Mirror in DuckDB:
    * `CAST(SUM(CAST(round(x * 1eS) AS BIGINT)) AS DOUBLE) / 1eS`. */
  def decSum(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale)
    (sum(Kernels.roundLong(c * f)) / f).cast(DoubleType)
  }

  /** [[decSum]] with a DECIMAL(38,0) accumulator — for grids whose LONG
    * capacity does not survive the 100 TB target.
    *
    * Capacity model: a LONG grid sum holds while
    * `rowsPerGroup × maxAbs × 10^scale < 2^63`. At SF 1e5 (~100 TB)
    * lineitem has ~6e11 rows, so a LOW-CARDINALITY grouping (q01's six
    * groups, a global aggregate, a rollup grand total) puts ~1e11 rows in
    * one group; with price-magnitude terms the 1e4 grid overflows (~1e20)
    * and the 1e6 grid overflows by three orders. Under ANSI mode (the
    * Spark 4 default) that overflow KILLS the job at full scale; with
    * ANSI off it wraps silently into garbage — both unacceptable. The
    * decimal accumulator is exact to 1e38 (capacity beyond any
    * conceivable corpus) at ~2× the aggregation cost — paid only at the
    * sites whose group cardinality is genuinely low (GridOverflowSpec
    * encodes the per-site capacity audit and fails if a wide site is
    * "optimized" back to LONG).
    *
    * The DuckDB mirror is UNCHANGED (`CAST(SUM(CAST(round(x*1eS) AS
    * BIGINT)) AS DOUBLE) / 1eS`): DuckDB sums BIGINT into a 128-bit
    * accumulator natively, so both engines compute the same exact integer
    * before the one double conversion. Per-term double→decimal rounding is
    * exact while `maxAbs × 10^scale < 2^53` — every registered grid is far
    * below that. */
  def decSumWide(c: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale)
    (sum(Kernels.roundLong(c * f).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast(DoubleType) / f).cast(DoubleType)
  }

  /** The TWO-LEVEL wide grid — [[decSumWide]]'s capacity at [[decSum]]'s
    * speed, for benchmark-hot low-cardinality aggregations (q01, q11):
    *
    *   df.groupBy(keys :+ spark_partition_id())
    *     .agg(Det.gridPartial(expr, s).as("p"), ...)
    *     .groupBy(keys).agg(Det.gridMergeWide($"p", s).as("out"), ...)
    *
    * The partial is a plain LONG sum (codegen-primitive over every row)
    * and is safe because it sees at most ONE input partition's rows —
    * bounded by maxPartitionBytes, ~30× below LONG range even at a 1 GB
    * misconfiguration (GridOverflowSpec pins the bound). Only the few
    * (groups × partitions) partials pay the DECIMAL(38) merge. Measured
    * +0.03–0.09 s over the unsafe single-level LONG at sf0.1, vs +0.35 s
    * per sum for per-row decimal (BASELINE.md round 7). The extra exchange moves
    * pre-aggregated rows only. */
  def gridPartial(c: Column, scale: Int): Column =
    sum(Kernels.roundLong(c * math.pow(10.0, scale)))

  /** Merge of [[gridPartial]] partials through DECIMAL(38,0), emitted as
    * double — same exact integer, same one double conversion, as
    * [[decSumWide]]. */
  def gridMergeWide(partial: Column, scale: Int): Column = {
    val f = math.pow(10.0, scale)
    (sum(partial.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast(DoubleType) / f).cast(DoubleType)
  }
}
