package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Compiled compute kernels for the hot per-row loops, wired into Catalyst
  * via StaticInvoke so whole-stage codegen emits a single static call per
  * row (SURVEY.md §7.4: custom codegen only where the bench shows heat).
  *
  * Rationale: higher-order functions (`transform`, `aggregate`, `zip_with`)
  * evaluate their lambda through the interpreter per ELEMENT — for
  * md5-per-shingle hashing and 64-float dot products that per-element
  * dispatch dominates (measured ~7× end-to-end on the minhash query). Each
  * kernel computes byte-for-byte the same value as the declarative
  * formulation it replaces (and as the DuckDB oracle SQL), so swapping it in
  * changes no query result.
  */
object HashKernels {

  /** md5-based 60-bit hash per array element, optionally reduced mod p
    * (p <= 0 → no reduction). Equals
    * `conv(substring(md5(x),1,15),16,10)::long [% p]` element-wise. */
  def md5Mod60(arr: ArrayData, p: Long): ArrayData = {
    val md  = java.security.MessageDigest.getInstance("MD5")
    val n   = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // first 15 hex digits = bytes 0..6 plus the high nibble of byte 7
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      out(i) = if (p > 0) v % p else v
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-gram shingle hashes in one pass: md5-hash of
    * `toks[i] + " " + ... + toks[i+n-1]` for each window, reduced mod p
    * (p <= 0 → none). Identical values to
    * `md5Mod60(transform(sequence(1, len-n+1), i -> concat_ws(' ', ...)), p)`
    * without materializing the shingle strings. */
  def shingleMd5Mod(toks: ArrayData, n: Int, p: Long): ArrayData = {
    val md    = java.security.MessageDigest.getInstance("MD5")
    val len   = toks.numElements()
    val count = math.max(0, len - n + 1)
    val out   = new Array[Long](count)
    val space = " ".getBytes
    var i = 0
    while (i < count) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(space)
        md.update(toks.getUTF8String(i + j).getBytes)
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      out(i) = if (p > 0) v % p else v
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature from base hashes: k affine lanes
    * h_s = ((2s+1)·h + 12289·s) mod p, min per lane. Identical values to the
    * transform/array_min formulation (and the DuckDB mirror). Empty input →
    * all-null lanes, matching list_min(empty) = null. */
  def minhashSig(hs: ArrayData, k: Int, p: Long): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](k))
    val out = new Array[Long](k)
    var s = 0
    while (s < k) {
      val a = 2L * s + 1
      val b = 12289L * s
      var mn = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (a * hs.getLong(i) + b) % p
        if (v < mn) mn = v
        i += 1
      }
      out(s) = mn
      s += 1
    }
    new GenericArrayData(out)
  }

  /** 48-bit SimHash from 48-bit token hashes: bit i of the result is set
    * when more tokens have bit i set than clear. Identical values to the
    * SQL formulation
    * `aggregate(sequence(0,47), 0L, (acc,i) -> acc + IF(aggregate(tokh, 0L,
    *   (a,x) -> a + CASE WHEN (x div 2^i) % 2 = 1 THEN 1 ELSE -1 END) > 0,
    *   2^i, 0L))`. */
  def simhash48(hs: ArrayData): Long = {
    val n      = hs.numElements()
    val counts = new Array[Int](48)
    var i = 0
    while (i < n) {
      val v = hs.getLong(i)
      var b = 0
      while (b < 48) {
        if (((v >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b   = 0
    while (b < 48) {
      if (counts(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** Round half-up (away from zero) of a double straight to long —
    * value-identical to `CAST(round(x) AS BIGINT)` (Spark's Round via
    * BigDecimal HALF_UP, then the double→long cast) without the per-row
    * BigDecimal allocation. Equivalence: for integer n, n+0.5 is exactly
    * representable as a double, so comparing the binary value against
    * n+0.5 decides exactly like comparing its shortest-decimal rendering
    * (BigDecimal.valueOf) — and `a - floor(a)` is computed exactly for
    * finite a ≥ 0 (Sterbenz for a ≥ 1, trivial below 1). Negative inputs
    * mirror through the sign, matching HALF_UP's away-from-zero. NaN → 0
    * and ±∞ → Long.{Max,Min}Value replicate the double→long cast edge
    * cases. GridOverflowSpec cross-checks against the Round form on
    * adversarial half-way values.
    *
    * ANSI-mode divergence (r19 ADVICE, recorded): the |x| ≥ 2⁶³ clamp
    * matches the NON-ANSI double→long cast. Graft sessions run under ANSI
    * mode (`Session.build` keeps Spark 4's `spark.sql.ansi.enabled`
    * default, which the ES connector's per-day aggregate pushdown relies
    * on: Spark translates `to_date(ts)` for a data source only as an ANSI
    * cast), so the replaced `round(x).cast(long)` would instead throw on
    * overflow. Every grid this kernel serves is GridOverflowSpec-audited
    * to stay far inside ±2⁶³ (the wide grids split at 1e2 precisely to
    * keep partial sums in range), so the clamp is unreachable on declared
    * paths; a NEW grid must extend that audit before riding the kernel. */
  def roundLong(x: Double): Long = {
    if (java.lang.Double.isNaN(x)) return 0L
    val a = if (x < 0) -x else x
    if (a >= 9.223372036854776e18) return if (x < 0) Long.MinValue else Long.MaxValue
    val f = a.toLong
    val r = if (a - f >= 0.5) f + 1L else f
    if (x < 0) -r else r
  }

  /** Dot product of two float vectors accumulated in double, sequential
    * element order — identical IEEE result to
    * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)`.
    * Unequal lengths return null (boxed), matching the declarative form:
    * zip_with pads the shorter side with nulls, the products go null, and
    * `acc + null` nulls the whole aggregate. Null ELEMENTS are excluded
    * upstream — [[graft.plans.KernelizeDotProduct]] only rewrites
    * containsNull=false inputs, and the direct call sites feed parquet
    * float vectors with no null entries. */
  def dotFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  /** Null-checking variant of [[dotFF]] for arrays whose schema allows null
    * elements (e.g. parquet-loaded vectors): any null element nulls the
    * result — exactly the declarative semantics, where the null product
    * poisons `acc + v`. The per-element null check is a bitset probe, so
    * this stays a single static call inside codegen. */
  def dotFFChecked(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Dot product of a float vector against a double weight vector (LSH
    * hyperplane projections — the weights arrive as a plan literal).
    * Same sequential IEEE semantics and null-on-length-mismatch contract
    * as [[dotFF]]. */
  def dotFD(a: ArrayData, w: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != w.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * w.getDouble(i); i += 1 }
    s
  }

  /** Nearest-centroid argmax: the cent_id maximizing
    * `dotFF(e, cvec) / (nrm * cnrm)`, ties broken by SMALLEST cent_id —
    * byte-for-byte the `row_number() over (order by ccos DESC, cent_id
    * ASC) = 1` row of the crossJoin+window formulation it replaces, but
    * with NO n×k intermediate rows: the whole centroid table arrives as
    * one broadcast row (ids, row-major flattened vectors, norms) and the
    * k×dim flops run inside a single static call per vector. Comparison
    * uses java.lang.Double.compare for the order (NaN greatest, like
    * Spark's sort) but ties additionally equate ±0.0 via primitive `==`,
    * because Spark's own comparator (SQLOrderingUtil.compareDoubles)
    * treats -0.0 == 0.0 and falls through to the cent_id tiebreak there —
    * Double.compare alone orders -0.0 < 0.0 and would diverge at that
    * edge (unreachable with well-formed nonzero-norm centroids, where a
    * -0.0 cosine forces a NaN first, but the tie test makes the
    * equivalence unconditional rather than by-construction; r15 ADVICE).
    * Null on a dim mismatch or an empty centroid table,
    * matching the kernels' null-on-malformed contract. Ids are LONG:
    * declared queries use int labels/clusters (widened by the caller) but
    * the scalerecall probe's sampled quantizer uses vec_ids — reading a
    * long array with getInt returns garbage SILENTLY (the r15 recall-
    * collapse regression this signature fixed). */
  def bestCentId(
      e: ArrayData,
      nrm: Double,
      centIds: ArrayData,
      centFlat: ArrayData,
      centNrms: ArrayData
  ): java.lang.Long = {
    val k = centIds.numElements()
    val n = e.numElements()
    if (k == 0 || centFlat.numElements() != k * n) return null
    var bestId  = 0L
    var bestCos = 0.0
    var first   = true
    var c       = 0
    while (c < k) {
      var s   = 0.0
      var i   = 0
      val off = c * n
      while (i < n) { s += e.getFloat(i).toDouble * centFlat.getFloat(off + i).toDouble; i += 1 }
      val cos = s / (nrm * centNrms.getDouble(c))
      val id  = centIds.getLong(c)
      val cmp = java.lang.Double.compare(cos, bestCos)
      // tie when Double.compare says so OR primitive == does (±0.0):
      // matches SQLOrderingUtil.compareDoubles' fall-through to the id
      val tie = cmp == 0 || cos == bestCos
      if (first || (cmp > 0 && !tie) || (tie && id < bestId)) {
        bestCos = cos; bestId = id; first = false
      }
      c += 1
    }
    bestId
  }

  /** 64-bucket occupancy histogram of a shingle-hash set (bucket =
    * hash & 63, one unsigned byte per bucket): the 64-byte sketch behind
    * the LOSSLESS candidate gate of the prefix-dedup verify. For any two
    * sets, |A∩B| ≤ Σ_b min(histA[b], histB[b]) — every common element
    * lands in the same bucket on both sides — so a candidate whose
    * min-sum is below the overlap threshold α is provably below the
    * Jaccard/containment gate and can be dropped BEFORE the full-array
    * exchange (the measured 6.4 GB whale stage: 99% of candidates at the
    * 1M-doc slice have true intersection < 5 while α ≥ 6). Returns null
    * when a set exceeds 255 elements (a byte bucket could saturate and
    * the bound would no longer be an upper bound) — the gate keeps
    * null-sketch candidates, so the fallback is lossless too. */
  def shingleHist64(sh: ArrayData): Array[Byte] = {
    val n = sh.numElements()
    if (n > 255) return null
    val h = new Array[Byte](64)
    var i = 0
    while (i < n) {
      val b = (sh.getLong(i) & 63L).toInt
      h(b) = (h(b) + 1).toByte
      i += 1
    }
    h
  }

  /** Σ_b min(h1[b], h2[b]) over two [[shingleHist64]] sketches — the
    * upper bound on |A∩B| the candidate gate compares against α. Null on
    * malformed input (gate keeps the candidate). */
  def histMinSum(h1: Array[Byte], h2: Array[Byte]): java.lang.Integer = {
    if (h1 == null || h2 == null || h1.length != 64 || h2.length != 64) return null
    var s = 0
    var i = 0
    while (i < 64) {
      val a = h1(i) & 0xff
      val b = h2(i) & 0xff
      s += math.min(a, b)
      i += 1
    }
    s
  }

  /** Nearest-PQ-code argmin: the code id minimizing the exact integer
    * squared distance Σ(g_i − c_i)² between a grid sub-vector and each
    * codebook entry, ties broken by SMALLEST code id — byte-for-byte the
    * `row_number() over (order by bd2 ASC, c ASC) = 1` row of the
    * join+window formulation it replaces (long arithmetic throughout, no
    * IEEE edge cases). The per-block codebook arrives as one broadcast row
    * (ids + row-major flattened entries). Null on a malformed codebook.
    * Ids are LONG — the repo-wide kernel convention after the r15
    * getInt-on-long recall collapse: EVERY id array a kernel reads is
    * widened to long by the caller and the result narrowed back, so no
    * kernel ever holds a fixed-width-narrower view of a caller's ids
    * (KernelWidthSpec pins the convention with >2^32 ids per kernel). */
  def bestCodeId(g: ArrayData, codeIds: ArrayData, codeFlat: ArrayData): java.lang.Long = {
    val k = codeIds.numElements()
    val n = g.numElements()
    if (k == 0 || codeFlat.numElements() != k * n) return null
    var bestId = 0L
    var best   = 0L
    var first  = true
    var c      = 0
    while (c < k) {
      var s   = 0L
      var i   = 0
      val off = c * n
      while (i < n) { val d = g.getLong(i) - codeFlat.getLong(off + i); s += d * d; i += 1 }
      val id = codeIds.getLong(c)
      if (first || s < best || (s == best && id < bestId)) { best = s; bestId = id; first = false }
      c += 1
    }
    bestId
  }
}

object Kernels {
  private val kernelClass: Class[_] = Class.forName("graft.functions.HashKernels")

  /** Column form of [[HashKernels.md5Mod60]]: array<string> → array<long>. */
  def md5Array60(c: Column, p: Long = -1L): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        ArrayType(LongType, containsNull = false),
        "md5Mod60",
        Seq(GraftBridge.expression(c), Literal(p, LongType)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = false
      )
    )

  /** Column form of [[HashKernels.shingleMd5Mod]]: array<string> tokens →
    * array<long> n-gram shingle hashes. */
  def shingleHashes(toks: Column, n: Int, p: Long = -1L): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        ArrayType(LongType, containsNull = false),
        "shingleMd5Mod",
        Seq(GraftBridge.expression(toks), Literal(n, IntegerType), Literal(p, LongType)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = false
      )
    )

  /** Column form of [[HashKernels.minhashSig]]: array<long> → array<long>(k). */
  def minhashSigK(hs: Column, k: Int, p: Long): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        ArrayType(LongType, containsNull = true),
        "minhashSig",
        Seq(GraftBridge.expression(hs), Literal(k, IntegerType), Literal(p, LongType)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = false
      )
    )

  /** Column form of [[HashKernels.simhash48]]: array<long> → long. */
  def simhash(hs: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        LongType,
        "simhash48",
        Seq(GraftBridge.expression(hs)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = false
      )
    )

  /** Column form of [[HashKernels.dotFD]]: (array<float>, array<double>) →
    * double, null on length mismatch. */
  def dotWeights(a: Column, w: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        DoubleType,
        "dotFD",
        Seq(GraftBridge.expression(a), GraftBridge.expression(w)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = true
      )
    )

  /** Column form of [[HashKernels.bestCentId]]: (array<float>, double,
    * array<long>, array<float>, array<double>) → long — the IVF coarse
    * assignment argmax over a broadcast centroid row. Callers widen int
    * cent ids to long and narrow the result back. */
  def bestCent(e: Column, nrm: Column, centIds: Column, centFlat: Column, centNrms: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        LongType,
        "bestCentId",
        Seq(GraftBridge.expression(e), GraftBridge.expression(nrm),
          GraftBridge.expression(centIds), GraftBridge.expression(centFlat),
          GraftBridge.expression(centNrms)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = true
      )
    )

  /** Column form of [[HashKernels.shingleHist64]]: array<long> → binary(64). */
  def hist64(sh: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        BinaryType,
        "shingleHist64",
        Seq(GraftBridge.expression(sh)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = true
      )
    )

  /** Column form of [[HashKernels.histMinSum]]: (binary, binary) → int. */
  def histMinSum(h1: Column, h2: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        IntegerType,
        "histMinSum",
        Seq(GraftBridge.expression(h1), GraftBridge.expression(h2)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = true
      )
    )

  /** Column form of [[HashKernels.bestCodeId]]: (array<long>, array<long>,
    * array<long>) → long — the PQ code-assignment argmin over a broadcast
    * per-block codebook row. Callers widen int code ids to long and narrow
    * the result back (the kernel id convention — see [[HashKernels.bestCodeId]]). */
  def bestCode(g: Column, codeIds: Column, codeFlat: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        LongType,
        "bestCodeId",
        Seq(GraftBridge.expression(g), GraftBridge.expression(codeIds),
          GraftBridge.expression(codeFlat)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = true
      )
    )

  /** Column form of [[HashKernels.roundLong]]: double → long, identical to
    * `round(c).cast("long")` at a fraction of the per-row cost (no
    * BigDecimal). Used by the [[graft.Det]] grid sums in the benchmark-hot
    * aggregations. */
  def roundLong(c: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        LongType,
        "roundLong",
        Seq(GraftBridge.expression(c)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = false
      )
    )

  /** Column form of [[HashKernels.dotFF]]: (array<float>, array<float>) →
    * double, null on length mismatch (returnNullable so codegen checks the
    * boxed result). */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(
      StaticInvoke(
        kernelClass,
        DoubleType,
        "dotFF",
        Seq(GraftBridge.expression(a), GraftBridge.expression(b)),
        inputTypes = Nil,
        propagateNull = true,
        returnNullable = true
      )
    )
}
