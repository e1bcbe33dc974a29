package graft.operators

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication pack — exact, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup (north-star X1/X2 rows).
  *
  * The synthetic corpus has no natural duplicates, so each query injects a
  * deterministic duplicate slice (doc_id % 10 == 0 re-inserted at
  * doc_id + 1,000,000 — same trick as the JSON-corruption queries) and must
  * then find exactly those pairs. The DuckDB oracle replays the same
  * injection.
  *
  * Scale notes (100 TB): exact dedup is one hash-shuffle on the digest;
  * MinHash/SimHash pair generation goes through LSH band buckets — shuffle
  * on (band, key), never an O(n²) cross join; the n-gram Jaccard join is
  * shuffle-on-shingle (the standard inverted-index plan); the embedding
  * near-dup goes through random-hyperplane LSH buckets with exact cosine
  * verification inside each bucket. All self-joins are hinted shuffle-hash:
  * hash-partitioned on the bucket key, exchange-reused across both sides,
  * and never dependent on broadcasting an unbounded exploded relation.
  */
object Dedup {

  /** Documents with a deterministic duplicate slice appended. */
  def docsWithDups(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    d.unionByName(
      d.filter($"doc_id" % 10 === 0).withColumn("doc_id", $"doc_id" + 1000000L)
    )
  }

  /** Exact dedup: group by content digest, keep the minimum doc_id as the
    * deterministic survivor. One shuffle on the digest. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsWithDups(spark, sfDir)
      .groupBy(md5($"text").as("content_h"))
      .agg(min($"doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))
      .orderBy($"survivor_id")
  }

  /** MinHash (k=16) + LSH banding (4 bands × 4 rows): candidate pairs are
    * docs sharing any band key; est_jaccard = matching signature fraction.
    * Shuffles on the band key — the at-scale plan; no cross join. */
  def minhashLshPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    minhashPairsUnsorted(spark, sfDir).orderBy($"id1", $"id2")
  }

  /** [[minhashLshPairs]] without the presentation sort — the form consumers
    * like [[dedupEndgame]] compose (their next stage is a shuffle anyway,
    * so a global sort here would be pure waste). */
  private def minhashPairsUnsorted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Whole signature computed by compiled kernels in one projection (md5
    // shingle hashes + 16 affine min-lanes; distinct-ness of shingles is
    // irrelevant under min). The spread parallelizes past the single-task
    // scan; the repartition after materializes signatures so both self-join
    // sides reuse ONE exchange instead of recomputing the hash pipeline.
    import graft.functions.Kernels
    // repartition(doc_id) parallelizes past the single-task scan AND already
    // satisfies the groupBy distribution (no second exchange); the
    // groupBy/first barrier stops explode-inferred filters from pushing the
    // kernel expression down into the scan, and gives both self-join sides
    // one identical exchange to reuse — the signature pipeline runs ONCE.
    val sigs = docsWithDups(spark, sfDir)
      .repartition($"doc_id")
      .select(
        $"doc_id",
        Kernels.minhashSigK(Kernels.shingleHashes(tokens($"text"), 3, MinhashP), 16, MinhashP).as("sig0")
      )
      .groupBy($"doc_id")
      .agg(first($"sig0").as("sig"))
    // repartition on the JOIN KEY before the per-side renames: both sides'
    // distributions are then satisfied by this ONE exchange, whose clones
    // canonicalize identically → AQE materializes the band pipeline once
    // (same pattern as ngramJaccardPairs; a per-side key rename would
    // defeat the stage cache because the Alias survives canonicalization)
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
    // shuffle-hash, not broadcast: band buckets are unbounded at corpus
    // scale, and a hash-partitioned self-join reuses the shared exchange
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), $"bk" === $"bk2" && $"id1" < $"id2")
      .dropDuplicates("id1", "id2")
      .select(
        $"id1",
        $"id2",
        (aggregate(
          zip_with($"sig1", $"sig2", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0),
          (acc, v) => acc + v
        ) / 16.0).as("est_jaccard")
      )
  }

  /** SimHash (48-bit over word-3-gram shingles) near-dup: pairs within
    * hamming distance 6, candidate-generated by 4 bands of 12 bits
    * (pigeonhole: ≤3 differing bits guarantees a shared band; 6 is the
    * verify threshold after band match). Shingles, not bare tokens: on a
    * shared-vocabulary corpus token SETS are near-identical across
    * documents, which collapses every doc into one band bucket (an O(n²)
    * pair explosion) — shingle sets keep word order and stay
    * discriminative. All bit math uses integer div/mod on 48-bit values —
    * exact and identical in DuckDB.
    * 48-bit shingle hash = first 12 hex digits of md5 = 60-bit kernel hash
    * shifted right 12 (identical to conv(substring(md5(x),1,12),16,10)). */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Same barrier discipline as minhash: repartition parallelizes the
    // kernel stage, groupBy/first blocks pushed-down recompute and dedups
    // the self-join exchange.
    val sims = docsWithDups(spark, sfDir)
      .repartition($"doc_id")
      .select(
        $"doc_id",
        transform(
          graft.functions.Kernels.shingleHashes(tokens($"text"), 3),
          h => shiftright(h, 12)
        ).as("tokh0")
      )
      .groupBy($"doc_id")
      .agg(first($"tokh0").as("tokh"))
      .select($"doc_id", graft.functions.Kernels.simhash($"tokh").as("simhash"))
    // same shared-exchange-on-the-join-key discipline as minhash
    val bands = sims
      .select(
        $"doc_id",
        $"simhash",
        explode(
          expr("""
            transform(sequence(0, 3), b -> struct(
              b AS band,
              (simhash div CAST(pow(2.0, 12 * b) AS BIGINT)) % 4096 AS key))
          """)
        ).as("bk")
      )
      .repartition($"bk")
    val a = bands.select($"doc_id".as("id1"), $"simhash".as("sh1"), $"bk")
    val b = bands.select($"doc_id".as("id2"), $"simhash".as("sh2"), $"bk".as("bk2"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), $"bk" === $"bk2" && $"id1" < $"id2")
      .dropDuplicates("id1", "id2")
      .withColumn("hamming", expr("CAST(bit_count(sh1 ^ sh2) AS INT)"))
      .filter($"hamming" <= 6)
      .select($"id1", $"id2", $"hamming")
      .orderBy($"id1", $"id2")
  }

  /** Exact n-gram Jaccard near-dup via the inverted-index join: explode
    * distinct 3-gram shingle HASHES (compiled kernel — joining on 60-bit
    * hashes instead of shingle strings is ~8× cheaper and collision-free in
    * practice at 2^60), self-join on the hash (shuffle-on-shingle, the
    * scalable candidate generator), then |A∩B| / |A∪B| ≥ 0.6.
    *
    * Plan discipline (the variance fix): the shingle pipeline ends in a
    * `groupBy(doc_id).agg(first)` barrier. The aggregate (a) blocks the
    * `isnotnull/size>0` filters that explode-inference would otherwise push
    * down to the single-task parquet scan — where the kernel would re-run
    * sequentially per predicate — and (b) gives both self-join sides an
    * identical exchange, so Catalyst plans a ReusedExchange and the heavy
    * hashing runs ONCE. The join itself is hinted shuffle-hash: broadcasting
    * an exploded million-row side (what the planner picked unhinted) is the
    * single-threaded build + GC spike that made this query's timings swing
    * 4×; a hash-partitioned join stays parallel at any scale. */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPairsOf(docsWithDups(spark, sfDir))

  /** The (doc_id, text)-parameterized q67 plan — the `crossover` probe
    * drives it and [[prefixJaccardPairsOf]] over the same growing corpora
    * to measure where the prefix index overtakes the full index. */
  private[graft] def ngramJaccardPairsOf(docsIn: DataFrame): DataFrame = {
    import docsIn.sparkSession.implicits._
    // The explicit repartition on the JOIN KEY is the reuse point: both
    // self-join sides are thin renames over this one exchange, their
    // required distribution is already satisfied (alias-aware output
    // partitioning), so EnsureRequirements inserts no per-side exchange and
    // the whole shingle pipeline materializes exactly once. (Renaming the
    // key per side and letting the join plan its own exchanges defeats
    // AQE's stage cache: the rename's Alias survives canonicalization.)
    val docs = docsIn
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("sh"))
      .select($"doc_id", size($"sh").as("n_sh"), explode($"sh").as("shingle"))
      .repartition($"shingle")
    val a = docs.select($"doc_id".as("id1"), $"n_sh".as("n1"), $"shingle")
    val b = docs.select($"doc_id".as("id2"), $"n_sh".as("n2"), $"shingle".as("shingle2"))
    a.hint("shuffle_hash")
      // LOSSLESS size-bound prefilter on the candidate rows (r19, bound
      // re-derived r20): with i = |A∩B| ≤ min(n1,n2), the declared filter
      // keeps a pair iff round(i/(n1+n2−i), 6) ≥ 0.6, which needs true
      // jaccard ≥ 0.6 − 5e−7 up to the double division's ≤2⁻⁵² relative
      // rounding. The prefilter therefore thresholds at t = 0.599999 — a
      // 5e−7 margin BELOW the rounded boundary, ~10 orders of magnitude
      // wider than any double-rounding — giving i ≥ t/(1+t)·(n1+n2) =
      // (599999/1599999)·(n1+n2). A pair with min(n1,n2)·1599999 <
      // (n1+n2)·599999 (exact integer arithmetic, overflow-free below
      // ~7e12 union shingles) can never survive the post-aggregation
      // threshold at ANY document size — the r19 form's 0.6/1.6 bound was
      // margin-free and relied on a rational-spacing lemma that expires
      // near 400k-shingle unions (r19 ADVICE); this one needs no size
      // assumption. Dropping the candidate rows removes whole would-be-
      // rejected groups and nothing else. Measured 1.52 → 1.22 s at
      // sf0.1 (r19), output hash-identical.
      .join(
        b.hint("shuffle_hash"),
        $"shingle" === $"shingle2" && $"id1" < $"id2" &&
          least($"n1", $"n2") * 1599999L >= ($"n1" + $"n2") * 599999L
      )
      .groupBy($"id1", $"id2", $"n1", $"n2")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard", round($"n_inter" / ($"n1" + $"n2" - $"n_inter"), 6))
      .filter($"jaccard" >= 0.6)
      .select($"id1", $"id2", $"jaccard")
      .orderBy($"id1", $"id2")
  }

  /** Prefix-filtered set-similarity self-join (the AllPairs/PPJoin prefix
    * scheme — Bayardo et al. WWW'07, Xiao et al. WWW'08): instead of
    * indexing EVERY shingle of every document (ngramJaccardPairs'
    * candidate generator scales with total shingle volume), index only
    * each document's PREFIX under a rarest-first global shingle order —
    * p(n) = n − ⌈t·n⌉ + 1 elements. The prefix lemma guarantees any pair
    * with true Jaccard ≥ t shares a prefix element (if both prefixes were
    * disjoint, every common element would sit past one side's prefix
    * boundary, capping the overlap below t·n — contradiction), so
    * candidate generation is LOSSLESS at the threshold while the inverted
    * index shrinks by ~t and carries the RAREST shingles (the ones with
    * the smallest join buckets — the performance point of the
    * df-ascending order — exact df, the candidate-minimizing choice; see
    * [[explodedByShingle]] for the measured rejection of a sampled
    * stand-in). Candidates are then verified EXACTLY against
    * the full shingle sets. Declared with the IDENTICAL oracle as q67:
    * same semantics, hash-identical results, cheaper candidate plan.
    * (Rounding note: the declared filter is on the 6-decimal rounded
    * jaccard; with set sizes ≪ 4·10⁵ no rational p/q can land inside
    * [0.6 − 5e−7, 0.6), so the rounded and true thresholds select the
    * same pairs and the prefix lemma applies verbatim.) */
  def prefixJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    prefixJaccardPairsOf(docsWithDups(spark, sfDir))

  /** The SHARED exploded-shingle exchange of the prefix plans: one
    * hash-repartition of (doc_id, shingle) on the 60-bit shingle hash that
    * the df groupBy, the df join-back, and (for containment) the container
    * side of the candidate join all consume as a ReusedExchange. Before
    * this refactor each of those shuffled the explode independently — the
    * measured disk wall at the sf100 rung (~50 GB exchange+spill per 1M
    * docs, r13 verdict task 1). The rows are deliberately SLIM: n_sh is
    * re-joined by doc_id later, exchange-free, from the doc_id-partitioned
    * barrier. (A sampled broadcastable df order was tried first and
    * REJECTED by measurement: the prefix lemma tolerates any total order,
    * but mid-frequency shingles the 1/16 sample misses tie at the rare end
    * and flood the prefixes — candidate spill tripled the runtime. Exact
    * df is the candidate-minimizing order and is worth its one exchange.) */
  private def explodedByShingle(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", size($"sh").as("n_sh"), explode($"sh").as("shingle"))
      .repartition($"shingle")
  }

  /** Rank each doc's shingles rarest-first (global df asc, shingle asc)
    * and keep the first `prefixLenSql` of them. Exchange ledger: the df
    * aggregate and the df join both ride the [[explodedByShingle]]
    * exchange (same partitioning, zero new shuffles); the per-doc ranking
    * window inserts the plan's one other full exchange, of slim
    * (doc_id, n_sh, shingle, df) rows. Emits (doc_id, n_sh, pos, shingle)
    * — pos (the prefix rank) feeds the PPJoin positional filter. */
  private def rarestPrefix(ex: DataFrame, prefixLenSql: String): DataFrame = {
    import ex.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = ex.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val w  = Window.partitionBy($"doc_id").orderBy($"df".asc, $"shingle".asc)
    ex
      .join(df.hint("shuffle_hash"), "shingle")
      .withColumn("pos", row_number().over(w))
      .filter($"pos" <= expr(prefixLenSql))
      .select($"doc_id", $"n_sh", $"pos", $"shingle")
  }

  /** The (doc_id, text)-parameterized q147 plan — see
    * [[ngramJaccardPairsOf]]. One full-corpus exchange TOTAL (the doc_id
    * barrier); the only shingle-keyed exchange carries the ~40% prefix.
    * prefix length n − ⌈0.6n⌉ + 1 with ⌈0.6n⌉ = (3n+4) div 5. */
  private[graft] def prefixJaccardPairsOf(docsIn: DataFrame): DataFrame = {
    import docsIn.sparkSession.implicits._
    val docs = docsIn
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("sh"))
    val pfx = rarestPrefix(explodedByShingle(docs), "n_sh - (3 * n_sh + 4) div 5 + 1")
      .repartition($"shingle")
    val a = pfx.select($"doc_id".as("id1"), $"n_sh".as("na1"), $"pos".as("pos1"), $"shingle")
    val b = pfx.select($"doc_id".as("id2"), $"n_sh".as("na2"), $"pos".as("pos2"), $"shingle".as("shingle2"))
    // The PPJoin candidate cuts (both LOSSLESS at t = 0.6 = 3/5, both exact
    // integer arithmetic — BASELINE.md round 14 records the unfiltered
    // candidate mass at 450× the true pairs on the fixture's df≈10 trigram
    // distribution, and the verify of that junk was the real sf100 cost):
    //   - length filter: J ≥ 3/5 forces 3·n1 ≤ 5·n2 and 3·n2 ≤ 5·n1;
    //   - positional filter: the overlap needed is α = ⌈3(n1+n2)/8⌉
    //     (t/(1+t) = 3/8), and for the FIRST common shingle in the global
    //     order — which the prefix lemma puts in both prefixes — every
    //     other common shingle sits after it on both sides, so
    //     |A∩B| ≤ 1 + min(n1−pos1, n2−pos2); a true pair therefore always
    //     has a match passing the test, and candidates whose every match
    //     fails it are provably below threshold.
    // Pair-level positional filter (r15, lossless — the PPJoin verify-time
    // bound): positions within a doc follow the global (df, shingle) order,
    // so every common element globally ≤ the LAST matched prefix element
    // sits in BOTH prefixes and is one of the m join matches, and every
    // common element after it needs a position > max(pos) on both sides —
    // hence |A∩B| ≤ m + min(na1 − max(pos1), na2 − max(pos2)). Replacing
    // the bare `.distinct()` with this same-shaped aggregation (identical
    // exchange: keyed (id1, id2)) cut the verify join's array-carrying
    // exchange — the measured 6.4 GB whale stage at the 1M-doc slice,
    // 64% of q147's total shuffle write — by cutting the junk candidates
    // that shared only ONE mid-prefix shingle.
    val cand = a
      .hint("shuffle_hash")
      .join(
        b.hint("shuffle_hash"),
        $"shingle" === $"shingle2" && $"id1" < $"id2" &&
          $"na2" * 3 <= $"na1" * 5 && $"na1" * 3 <= $"na2" * 5 &&
          expr("1 + least(na1 - pos1, na2 - pos2) >= (3 * (na1 + na2) + 7) div 8")
      )
      .groupBy($"id1", $"id2")
      .agg(
        count(lit(1)).as("m"),
        max($"pos1").as("p1"), max($"pos2").as("p2"),
        first($"na1").as("na1"), first($"na2").as("na2")
      )
      .filter(expr("m + least(na1 - p1, na2 - p2) >= (3 * (na1 + na2) + 7) div 8"))
      .select($"id1", $"id2", $"na1", $"na2")
    // Sketch-gated verify (r15): attach each doc's 64-byte bucket
    // histogram (not its 330-byte shingle array) to the candidate rows and
    // drop pairs whose PROVABLE intersection ceiling Σ min(h1,h2) is below
    // α — lossless (see Kernels.shingleHist64). BASELINE.md round 15 records
    // 98.9% of the 15.9M candidates at the 1M-doc slice with true
    // intersection < 5 against α ≥ 6, so the full-array verify exchange —
    // the 6.4 GB whale stage, 64% of q147's shuffle write — shrinks to the
    // ~1% that might actually pass.
    val hists = docs.select($"doc_id", graft.functions.Kernels.hist64($"sh").as("hst"))
    val gated = cand
      .join(hists.select($"doc_id".as("id1"), $"hst".as("h1")), "id1")
      .join(hists.select($"doc_id".as("id2"), $"hst".as("h2")), "id2")
      .withColumn("ub", graft.functions.Kernels.histMinSum($"h1", $"h2"))
      .filter($"ub".isNull || expr("ub >= (3 * (na1 + na2) + 7) div 8"))
      .select($"id1", $"id2")
    gated
      .join(docs.select($"doc_id".as("id1"), $"sh".as("sh1")), "id1")
      .join(docs.select($"doc_id".as("id2"), $"sh".as("sh2")), "id2")
      .withColumn("n_inter", size(array_intersect($"sh1", $"sh2")))
      .withColumn("jaccard", round($"n_inter" / (size($"sh1") + size($"sh2") - $"n_inter"), 6))
      .filter($"jaccard" >= 0.6)
      .select($"id1", $"id2", $"jaccard")
      .orderBy($"id1", $"id2")
  }

  /** Declared query (q160): asymmetric CONTAINMENT near-dup — the subset
    * relation symmetric Jaccard can't see. An excerpt carries most of its
    * shingles INSIDE a longer original (C(A→B) = |A∩B| / |A| ≈ 1) while
    * Jaccard collapses with the size ratio — so quote/excerpt duplicates
    * (the training-data contamination Broder's containment sketches were
    * built for) survive a Jaccard gate. The corpus derives its own
    * planted cases (the snapshotDiff self-containment rule): docs %7 gain
    * a first-⌈n/2⌉-token excerpt under +2M ids, whose distinct shingles
    * are a strict subset of the original's — containment exactly 1.0
    * excerpt→original, ≈0.5 in reverse (below the 0.9 gate).
    *
    * Plan: the q67 inverted-index shape verbatim — shared shingle-hash
    * exchange, hinted shuffle-hash self-join on the 60-bit shingle hash,
    * count-only aggregation — but ORDERED pairs (both directions scored,
    * the asymmetry is the point) and the CONTAINED side's set size as the
    * sole denominator. Same 100 TB posture as q67/q89: bucketed by
    * shingle, df-cappable, never all-pairs. */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = containmentDocs(spark, sfDir)
      .select($"doc_id", size($"sh").as("n_sh"), explode($"sh").as("shingle"))
      .repartition($"shingle")
    val a = docs.select($"doc_id".as("contained_id"), $"n_sh".as("n_a"), $"shingle")
    val b = docs.select($"doc_id".as("container_id"), $"shingle".as("shingle2"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), $"shingle" === $"shingle2" && $"contained_id" =!= $"container_id")
      .groupBy($"contained_id", $"container_id", $"n_a")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("containment", round($"n_inter" / $"n_a", 6))
      .filter($"containment" >= 0.9)
      .select($"contained_id", $"container_id", $"containment")
      .orderBy($"contained_id", $"container_id")
  }

  /** The q160/q168 shared corpus: documents plus their planted first-half
    * excerpts (+2M ids for docs %7), reduced to (doc_id, sh)
    * distinct-shingle-hash arrays behind the standard repartition +
    * groupBy/first barrier (one exchange, no pushed-down kernel
    * recompute). */
  private def containmentDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val aug = base.unionByName(
      base
        .filter($"doc_id" % 7 === 0)
        .select(
          ($"doc_id" + 2000000L).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2))")
            .as("text")
        )
    )
    aug
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("sh"))
  }

  /** Declared query (q168): q160's scale-safe PLAN PAIR — the prefix
    * filter specialized to ASYMMETRIC containment. If
    * C(A→B) = |A∩B| / n_a ≥ 0.9, then at most n_a − ⌈0.9·n_a⌉ of A's
    * shingles miss B; so among A's (n_a − ⌈0.9·n_a⌉ + 1) RAREST shingles
    * (global-df ascending, the q147 ordering) at least one must land in B
    * (pigeonhole). Only that ~10% prefix of the CONTAINED side enters the
    * inverted index; the CONTAINER side stays full — containment is
    * asymmetric, B's size never appears in the bound, so B earns no
    * prefix. Candidate volume drops by the df mass of the pruned 90%
    * (and the surviving 10% is the RAREST tail — the smallest join
    * buckets), while the exact verify (full-array intersect against the
    * shared containmentDocs arrays) keeps the output hash-identical to
    * q160 — declared under q160's SHARED oracle, the q166=q163/q147=q67
    * convention. This was round 12's slowest sf10 row (101 s @ 550k docs
    * on the full index); the prefix pair is its 100 TB answer.
    * (Rounding note: as in q147 — n_inter/n_a with n_a ≪ 2·10⁵ cannot
    * land in [0.9 − 5e−7, 0.9), so the rounded and true thresholds select
    * identical pairs and the lemma applies verbatim.) */
  def containmentPrefixPairs(spark: SparkSession, sfDir: String): DataFrame =
    containmentPrefixPairsOf(containmentDocs(spark, sfDir))

  /** The (doc_id, sh)-parameterized q168 plan — the `crossover` probe
    * drives it against [[containmentPairs]]' full index over growing
    * adversarial corpora. */
  private[graft] def containmentPrefixPairsOf(docsPre: DataFrame): DataFrame = {
    import docsPre.sparkSession.implicits._
    val docs = docsPre
    // prefix length n_a − ⌈0.9·n_a⌉ + 1 with ⌈0.9n⌉ = (9n+9) div 10. The
    // container side of the candidate join reads the SAME exploded
    // exchange the prefix ranking consumes ([[explodedByShingle]]) — the
    // full exploded relation shuffles exactly once in the whole plan.
    val ex = explodedByShingle(docs)
    val pfx = rarestPrefix(ex, "n_sh - (9 * n_sh + 9) div 10 + 1")
      .select($"doc_id".as("contained_id"), $"n_sh".as("n_a"), $"pos", $"shingle")
      .repartition($"shingle")
    val full = ex.select($"doc_id".as("container_id"), $"n_sh".as("n_b"), $"shingle".as("shingle2"))
    // container-length filter (LOSSLESS): C ≥ 0.9 needs |A∩B| ≥ ⌈0.9·n_a⌉
    // and |A∩B| ≤ n_b, so 10·n_b ≥ 9·n_a — kills the entire
    // long-contained-in-short direction of the ordered candidate mass
    // Pair-level positional filter (r15, lossless — see the q147 twin):
    // the container side is FULL, so every common element globally ≤ the
    // last matched prefix element of A sits in A's prefix and is matched
    // (m of them), and the rest need positions > max(pos) in A — hence
    // |A∩B| ≤ m + (n_a − max(pos)). C ≥ 0.9 needs |A∩B| ≥ ⌈0.9·n_a⌉.
    // Same-shaped aggregation as the `.distinct()` it replaces; cuts the
    // junk candidates before the array-carrying verify exchange.
    val cand = pfx
      .hint("shuffle_hash")
      .join(
        full.hint("shuffle_hash"),
        $"shingle" === $"shingle2" && $"contained_id" =!= $"container_id" &&
          $"n_b" * 10 >= $"n_a" * 9
      )
      .groupBy($"contained_id", $"container_id")
      .agg(count(lit(1)).as("m"), max($"pos").as("p1"), first($"n_a").as("n_a"))
      .filter(expr("m + (n_a - p1) >= (9 * n_a + 9) div 10"))
      .select($"contained_id", $"container_id", $"n_a")
    // Sketch-gated verify — the q147 twin (lossless Σ min(h_a,h_b) ceiling
    // on |A∩B| vs the ⌈0.9·n_a⌉ requirement; see Kernels.shingleHist64).
    val hists = docs.select($"doc_id", graft.functions.Kernels.hist64($"sh").as("hst"))
    val gated = cand
      .join(hists.select($"doc_id".as("contained_id"), $"hst".as("h1")), "contained_id")
      .join(hists.select($"doc_id".as("container_id"), $"hst".as("h2")), "container_id")
      .withColumn("ub", graft.functions.Kernels.histMinSum($"h1", $"h2"))
      .filter($"ub".isNull || expr("ub >= (9 * n_a + 9) div 10"))
      .select($"contained_id", $"container_id", $"n_a")
    gated
      .join(docs.select($"doc_id".as("contained_id"), $"sh".as("sh_a")), "contained_id")
      .join(docs.select($"doc_id".as("container_id"), $"sh".as("sh_b")), "container_id")
      .withColumn("n_inter", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("containment", round($"n_inter" / $"n_a", 6))
      .filter($"containment" >= 0.9)
      .select($"contained_id", $"container_id", $"containment")
      .orderBy($"contained_id", $"container_id")
  }

  /** The q160-shaped full-index containment plan parameterized on a
    * prepared (doc_id, sh) frame — the crossover probe's baseline arm. */
  private[graft] def containmentPairsOf(docsPre: DataFrame): DataFrame = {
    import docsPre.sparkSession.implicits._
    val docs = docsPre
      .select($"doc_id", size($"sh").as("n_sh"), explode($"sh").as("shingle"))
      .repartition($"shingle")
    val a = docs.select($"doc_id".as("contained_id"), $"n_sh".as("n_a"), $"shingle")
    val b = docs.select($"doc_id".as("container_id"), $"shingle".as("shingle2"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), $"shingle" === $"shingle2" && $"contained_id" =!= $"container_id")
      .groupBy($"contained_id", $"container_id", $"n_a")
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("containment", round($"n_inter" / $"n_a", 6))
      .filter($"containment" >= 0.9)
      .select($"contained_id", $"container_id", $"containment")
      .orderBy($"contained_id", $"container_id")
  }

  /** Sampled corpus-skew statistic driving the q67/q147 plan dispatch: the
    * df-weighted mean inverted-index bucket size, as a FRACTION of the
    * sampled corpus. A uniform corpus (every shingle rare) scores ~df̄/n → 0;
    * a Zipf-head corpus (hot shingles shared by a constant fraction of
    * docs) scores that fraction times the hot occurrence mass — scale-free,
    * so one cutoff works at any n. Estimated over a deterministic 1/16
    * doc-id-hash sample: two narrow aggregates over ~6% of the corpus, the
    * one driver value is a single scalar (bounded driver state). */
  private[graft] def jaccardSkewStat(docsIn: DataFrame): Double =
    skewOf(jaccardSampleAgg(docsIn))

  private def jaccardSampleAgg(docsIn: DataFrame): (Long, Long, Long) = {
    import docsIn.sparkSession.implicits._
    sampleAggOfPerDoc(docsIn
      .filter(pmod(xxhash64($"doc_id"), lit(16)) === 0)
      .select(array_distinct(
        graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("shs")))
  }

  private def containmentSampleAgg(docsPre: DataFrame): (Long, Long, Long) = {
    import docsPre.sparkSession.implicits._
    sampleAggOfPerDoc(docsPre
      .filter(pmod(xxhash64($"doc_id"), lit(16)) === 0)
      .select($"sh".as("shs")))
  }

  /** ONE aggregation job over the sampled per-doc shingle arrays returning
    * (Σdf², Σdf, n_docs) together — `posexplode_outer` tags each doc's
    * first shingle (and each empty doc) so n_docs folds into the same
    * grouped pass instead of a second sample scan. */
  private def sampleAggOfPerDoc(perDoc: DataFrame): (Long, Long, Long) = {
    import perDoc.sparkSession.implicits._
    val r = perDoc
      .select(posexplode_outer($"shs").as(Seq("pos", "shingle")))
      .groupBy($"shingle")
      .agg(
        count(when($"pos".isNotNull, 1)).as("df"),
        count(when($"pos" === 0 || $"pos".isNull, 1)).as("firsts"))
      .agg(
        sum($"df" * $"df").as("df2"),
        sum($"df").as("df1"),
        sum($"firsts").as("nDocs"))
      .head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
     if (r.isNullAt(1)) 0L else r.getLong(1),
     if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def skewOf(agg: (Long, Long, Long)): Double = {
    val (df2, df1, nDocs) = agg
    // minus 1: a singleton bucket (df=1, the uniform floor) contributes
    // zero candidate pairs and must contribute zero skew, or small corpora
    // read as skewed just because 1/nSampled hasn't vanished yet
    if (df1 == 0L || nDocs == 0L) 0.0
    else math.max(0.0, df2.toDouble / df1.toDouble - 1.0) / nDocs.toDouble
  }

  /** Unbiased estimate of the FULL inverted index's ordered candidate mass
    * Σ df·(df−1) from the 1/16-doc sample: with p = 1/16,
    * E[df_s²] = p²·df² + p(1−p)·df, so
    * Σdf² ≈ (Σdf_s² − (1−p)·Σdf_s)/p² and Σdf ≈ Σdf_s/p. An all-singleton
    * corpus estimates ~0; the sf100 salted corpus estimates ~3·10⁹. */
  private def estFullIndexPairs(agg: (Long, Long, Long)): Double = {
    val (df2, df1, _) = agg
    256.0 * (df2.toDouble - 0.9375 * df1.toDouble) - 16.0 * df1.toDouble
  }

  /** The dispatch cutoff: prefix-filter when the weighted-mean bucket's
    * EXCESS over a singleton holds more than 0.1% of sampled docs. The
    * crossover probe's corpora sit well apart: the Zipf-head preamble
    * corpus scores ~hot-mass × n/50 / n ≈ 3e-3 at any n (full index
    * candidates grow ~n² there — measured 50× slower at 100k docs), a
    * uniform/dup-only corpus scores ~0.1/nSampled → 0 (full index
    * measured 2× FASTER there). */
  private[graft] val JaccardSkewCutoff = 0.001

  /** The SECOND dispatch term (r14, measured): past this many estimated
    * full-index candidate rows the prefix plan wins REGARDLESS of
    * uniformity — the full index's only edge is small-corpus constant
    * factors, and its shuffled-hash build is memory-bound in the
    * occurrence count (measured: the full containment index fails its
    * hash build at 5M salted docs / ~3·10⁹ candidates, while the prefix
    * plan runs the same corpus in ~370 s; on the real 550k-doc sf10
    * slice — est ≈ 3·10⁸ — the crossover probe times the PPJoin-filtered
    * prefix at 0.72× the full index, so the boundary sits below it). A
    * skew-uniform corpus BELOW the budget still takes the measured-faster
    * full index (the crossover uniform corpus estimates ~4·10⁶). */
  private[graft] val JaccardCandidateBudget = 2.0e8

  /** The dispatcher's full cost record (r14 verdict task 5): both decision
    * terms and the pick, so threshold moves are diffable against logged
    * corpus corners instead of re-derived. Emitted as one `[dedup-dispatch]`
    * line every time a dispatching query (q170/q171) or probe row decides;
    * the four standing corpus-corner values live in BASELINE.md. */
  private[graft] final case class DispatchDecision(
      kind: String, skew: Double, estPairs: Double, nSampledDocs: Long) {
    def pick: String =
      if (skew > JaccardSkewCutoff || estPairs > JaccardCandidateBudget) "prefix" else "full"
    override def toString: String =
      f"[dedup-dispatch] kind=$kind skew=$skew%.3e (cutoff $JaccardSkewCutoff) " +
        f"estPairs=$estPairs%.3e (budget $JaccardCandidateBudget%.1e) " +
        f"nSampledDocs=$nSampledDocs pick=$pick"
  }

  private def decideOf(kind: String, agg: (Long, Long, Long)): DispatchDecision = {
    val d = DispatchDecision(kind, skewOf(agg), estFullIndexPairs(agg), agg._3)
    println(d)
    d
  }

  /** Which physical plan the adaptive Jaccard join will take — exposed for
    * the dispatcher unit test and the crossover probe row. */
  private[graft] def chooseJaccardPlan(docsIn: DataFrame): String =
    decideOf("jaccard", jaccardSampleAgg(docsIn)).pick

  private[graft] def chooseOf(agg: (Long, Long, Long)): String =
    decideOf("unit", agg).pick

  /** Declared query (q170): SKEW-ADAPTIVE plan dispatch over the proven
    * q67/q147 plan pair. The round-12 crossover probe measured the choice
    * as skew-dependent — the full inverted index is ~2× faster under
    * uniform shingle df but degrades ~n² on a Zipf head (0.02× at 100k
    * docs), so neither plan dominates. The dispatcher estimates the
    * hot-bucket fraction from a doc-id-hash sample ([[jaccardSkewStat]])
    * and picks the index; both branches are hash-identical by
    * construction (q147 = q67's shared oracle), so the CHOICE can never
    * change the answer — only the runtime. Declared under the same shared
    * oracle. */
  def adaptiveJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    adaptiveJaccardPairsOf(docsWithDups(spark, sfDir))

  private[graft] def adaptiveJaccardPairsOf(docsIn: DataFrame): DataFrame =
    if (chooseJaccardPlan(docsIn) == "prefix") prefixJaccardPairsOf(docsIn)
    else ngramJaccardPairsOf(docsIn)

  /** Which physical plan the adaptive CONTAINMENT join will take — the
    * q160/q168 pair has the same skew dependence the crossover probe
    * measured for q67/q147 (full index ~2–3× faster under uniform df,
    * ~n² on a Zipf head), judged by the same sampled statistics over the
    * containment corpus's prepared shingle arrays: the skew cutoff AND
    * the candidate budget (see [[JaccardCandidateBudget]]). */
  private[graft] def chooseContainmentPlan(docsPre: DataFrame): String =
    decideOf("containment", containmentSampleAgg(docsPre)).pick

  /** Declared query (q171): SKEW-ADAPTIVE plan dispatch over the q160/q168
    * containment plan pair — the containment twin of q170. Both branches
    * are hash-identical by construction (q168 shares q160's oracle), so
    * the dispatcher's choice can never change the answer, only the
    * runtime; declared under the same shared oracle. */
  def adaptiveContainmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = containmentDocs(spark, sfDir)
    if (chooseContainmentPlan(docs) == "prefix") containmentPrefixPairsOf(docs)
    else containmentPairsOf(docs)
  }

  /** The dup-injected embedding set with norms, behind the same
    * repartition + groupBy/first barrier as the text dedup pipelines (one
    * reusable exchange, no pushed-down recompute). */
  private def dupEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    e.unionByName(
      e.filter($"vec_id" % 10 === 0).withColumn("vec_id", $"vec_id" + 1000000L)
    )
      .repartition($"vec_id")
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm0"))
      .groupBy($"vec_id")
      .agg(first($"embedding").as("embedding"), first($"nrm0").as("nrm"))
  }

  /** Embedding cosine near-dup at scale: LSH-bucketed candidate generation
    * (8 independent tables of 6 random-hyperplane bits each,
    * OR-amplified), then EXACT cosine verification inside the candidate
    * set. The join is equi on (table, bucket) — a hash shuffle whose cost
    * is bounded by bucket sizes, never an all-pairs product. Identical
    * vectors (the injected duplicates) share every bucket by construction,
    * so recall on exact dups is 1.0; for borderline pairs at cosine exactly
    * 0.9 the OR-amplified match probability is 1-(1-p^6)^8 ≈ 0.98 with
    * p = 1 - acos(0.9)/π ≈ 0.857, rising steeply toward 1.0 above the
    * threshold. Equality to the brute-force baseline on the fixtures is
    * asserted in the test suite (DedupSpec). */
  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nTables = 8
    val nPlanes = 6
    val e       = dupEmbeddings(spark, sfDir)
    val buckets = array(
      (0 until nTables).map(t =>
        struct(lit(t).as("t"), Similarity.lshBucket($"embedding", t, nPlanes).as("b"))
      ): _*
    )
    // shared exchange on the (table, bucket) join key — see ngramJaccardPairs
    val cand = e
      .select($"vec_id", $"embedding", $"nrm", explode(buckets).as("tb"))
      .repartition($"tb")
    val a = cand.select($"vec_id".as("id1"), $"embedding".as("e1"), $"nrm".as("n1"), $"tb")
    val b = cand.select($"vec_id".as("id2"), $"embedding".as("e2"), $"nrm".as("n2"), $"tb".as("tb2"))
    a.hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), $"tb" === $"tb2" && $"id1" < $"id2")
      .dropDuplicates("id1", "id2")
      .withColumn("cos", round(Similarity.cosine($"e1", $"n1", $"e2", $"n2"), 6))
      .filter($"cos" >= 0.9)
      .select($"id1", $"id2", $"cos")
      .orderBy($"id1", $"id2")
  }

  /** Frequency-capped inverted-index Jaccard — the hot-key defense that
    * makes [[ngramJaccardPairs]] survive skew at corpus scale: shingles
    * whose document frequency exceeds `dfCap` (stop-phrases — the keys that
    * would explode one join bucket quadratically) are dropped from CANDIDATE
    * GENERATION only; surviving candidate pairs are then verified EXACTLY
    * against the full shingle sets (array_intersect), so capped shingles
    * never distort the similarity value — the standard production
    * inverted-index pattern. A pair is missed only if every shared shingle
    * is hot; the oracle replicates the identical cap, and recall on the
    * injected duplicates is asserted in the test suite. */
  def cappedJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dfCap = 50L
    val docs = docsWithDups(spark, sfDir)
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("sh"))
    val ex = docs.select($"doc_id", explode($"sh").as("shingle"))
    val rare = ex
      .groupBy($"shingle")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= dfCap)
      .select($"shingle")
    // shared exchange on the join key before the per-side renames (same
    // AQE stage-reuse discipline as the other self-joins)
    val exf = ex.join(rare, "shingle").repartition($"shingle")
    val a   = exf.select($"doc_id".as("id1"), $"shingle")
    val b   = exf.select($"doc_id".as("id2"), $"shingle".as("shingle2"))
    val cand = a
      .hint("shuffle_hash")
      .join(b.hint("shuffle_hash"), $"shingle" === $"shingle2" && $"id1" < $"id2")
      .select($"id1", $"id2")
      .distinct()
    cand
      .join(docs.select($"doc_id".as("id1"), $"sh".as("sh1")), "id1")
      .join(docs.select($"doc_id".as("id2"), $"sh".as("sh2")), "id2")
      .withColumn("n_inter", size(array_intersect($"sh1", $"sh2")))
      .withColumn("jaccard", round($"n_inter" / (size($"sh1") + size($"sh2") - $"n_inter"), 6))
      .filter($"jaccard" >= 0.6)
      .select($"id1", $"id2", $"jaccard")
      .orderBy($"id1", $"id2")
  }

  /** Benchmark decontamination — the training-data hygiene operator: flag
    * training documents that share 3-gram shingles with an evaluation set.
    * The eval set here is the `doc_id % 50 == 0` slice re-labelled (a
    * stand-in for a benchmark suite, with guaranteed hits since the texts
    * coincide). Plan: inverted-index equi-join on the 60-bit shingle hash
    * with the EVAL side broadcast — eval suites are small by nature, so
    * broadcasting them IS the 100 TB plan (the training side streams
    * through unshuffled). Output per contaminated training doc: overlap
    * size, #eval docs hit, and the ≥5-shared-shingles contamination flag. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables
      .documents(spark, sfDir)
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("sh"))
    val evalSide = docs
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("eval_id"), explode($"sh").as("shingle"))
    val train = docs.select($"doc_id".as("train_id"), size($"sh").as("n_sh"), explode($"sh").as("shingle"))
    train
      .join(broadcast(evalSide), "shingle")
      .groupBy($"train_id", $"n_sh")
      .agg(
        countDistinct($"shingle").as("n_overlap"),
        countDistinct($"eval_id").as("n_eval_docs")
      )
      .select(
        $"train_id",
        $"n_sh",
        $"n_overlap",
        $"n_eval_docs",
        ($"n_overlap" >= 5).as("contaminated")
      )
      .orderBy($"train_id")
  }

  /** Memoized eval-shingle Bloom sketch for [[bloomDecontaminate]]:
    * (distinct eval shingles, serialized filter). Plan-only consumers (the
    * corpus sweep walks every declared query) must not re-pay the two
    * sketch-build jobs per walk — same discipline as the ParquetSink
    * fixture memoization. Keyed on (sfDir, CONTENT fingerprint of
    * documents.parquet): this environment regenerates fixtures in place,
    * and a stale sketch's false NEGATIVES would silently drop true hits —
    * the exact-verify join removes false positives but cannot recover
    * shingles the prefilter discarded. */
  private val bloomSketch =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Byte])]()

  /** Bloom-guarded decontamination — the [[decontaminate]] check flipped
    * into a per-EVAL-document leakage report, with the corpus-side plan a
    * 100 TB run actually wants. [[decontaminate]] broadcasts the exploded
    * eval shingle table and hash-probes it for EVERY training shingle; here
    * the only thing that must reach every executor is a Bloom sketch of the
    * eval shingles (~10 bits per shingle, ~1.2 MB per million — 10–20×
    * smaller than the equivalent broadcast hash relation), built
    * distributed by Spark's own `BloomFilterAggregate` (the expression
    * behind the optimizer's runtime shuffle-join filters, applied by hand
    * because a hand-held sketch can guard a scan the optimizer cannot see
    * through) and probed by the codegen'd `BloomFilterMightContain` — no
    * UDF, no per-row interpretation. False positives are removed by an
    * exact equi-join, so the result is EXACTLY the SQL semantics and the
    * oracle needs no Bloom replay; the join strategy is left to AQE — the
    * survivor side is pre-filtered down to ~(true hits + 1% of corpus
    * shingles), so at any scale the exact-verify join is small-side cheap.
    * Output: per eval doc, how many OTHER documents share a 3-gram shingle
    * with it and over how many distinct shingles — the leakage report a
    * benchmark owner reads. */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val docs = Tables
      .documents(spark, sfDir)
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("sh"))
    val evalSh = docs
      .filter($"doc_id" % 50 === 0)
      .select($"doc_id".as("eval_id"), explode($"sh").as("shingle"))
      // the aggregate re-bounds the exploded relation for the plan sweep AND
      // is the honest shape: the join below only needs distinct pairs
      .distinct()
    val (nEval, bfBytes) = bloomSketch.computeIfAbsent(
      sfDir + "|" + graft.sources.ParquetSink.contentFingerprint(s"$sfDir/documents.parquet"),
      _ => {
        val n = evalSh.agg(count_distinct($"shingle")).as[Long].head()
        // loud, BEFORE the clamp — a vacuous max(1, n) > 0 check would mask
        // the degenerate fixture this exists to catch
        require(n > 0, s"empty eval shingle set at $sfDir — fixture degenerate")
        // BloomFilterAggregate silently clamps its arguments to the runtime
        // bloom-filter conf maxima (defaults 4M items / 64M bits) — past
        // ~6.7M shingles the advertised ~10 bits/item would quietly degrade
        // and the exact-verify join side would grow. Raise the maxima for
        // the build so the sketch keeps its fpp at any eval-suite size
        // (correctness never depends on it; this is a cost bound).
        val itemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
        val bitsConf  = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
        val prevItems = spark.conf.get(itemsConf)
        val prevBits  = spark.conf.get(bitsConf)
        val blob =
          try {
            spark.conf.set(itemsConf, math.max(prevItems.toLong, n))
            spark.conf.set(bitsConf, math.max(prevBits.toLong, math.max(64L, n * 10L)))
            evalSh
              .agg(
                GraftBridge
                  .column(
                    new BloomFilterAggregate(
                      GraftBridge.expression($"shingle"),
                      Literal(n),
                      Literal(math.max(64L, n * 10L)) // ~10 bits/item ≈ 1% fpp
                    ).toAggregateExpression()
                  )
                  .as("bf")
              )
              .head()
              .getAs[Array[Byte]](0)
          } finally {
            spark.conf.set(itemsConf, prevItems)
            spark.conf.set(bitsConf, prevBits)
          }
        (n, blob)
      }
    )
    require(bfBytes != null, s"bloom sketch build returned null at $sfDir")
    val mightContain = GraftBridge.column(
      new BloomFilterMightContain(Literal.create(bfBytes, BinaryType), GraftBridge.expression($"shingle"))
    )
    val train = docs
      .select($"doc_id".as("train_id"), explode($"sh").as("shingle"))
      .filter(mightContain)
    train
      .join(evalSh, "shingle")
      .filter($"train_id" =!= $"eval_id")
      .groupBy($"eval_id")
      .agg(
        count_distinct($"train_id").as("n_hit_docs"),
        count_distinct($"shingle").as("n_hit_shingles")
      )
      .orderBy($"eval_id")
  }

  /** Duplicated-span detection — substring-level dedup (the Lee et al. 2022
    * "Deduplicating Training Data" operator class): hash every 16-token
    * window (stride 1) and report spans occurring in ≥2 documents. Catches
    * boilerplate and quoted passages that document-level near-dup misses.
    *
    * Scale shape: window hashing is a per-row map (explode fans out ~one
    * hash per token — linear, not quadratic), then ONE shuffle on the span
    * hash for the group-count. Within-doc repeats are excluded by the
    * distinct-doc count, so navigational boilerplate inside one page does
    * not flag it. The suffix-array formulation of the paper needs a global
    * sort; this rolling-window inventory is the shuffle-native equivalent
    * at a fixed granularity.
    *
    * Cost model vs the CDC variant ([[cdcSpans]]): stride 1 hashes
    * ~n_tokens windows per document; content-defined chunk boundaries
    * (the [[Chunking.cdcChunks]] rule, expected chunk ≈ 16 tokens) hash
    * ~n_tokens/16 spans — an ~16× hashing/shuffle-volume cut. The recall
    * trade: CDC only flags duplication that spans a whole chunk and is
    * boundary-aligned (which verbatim copies are, since boundaries are
    * content-derived — that is the point of CDC), while stride 1 catches
    * any ≥16-token overlap at any offset, including partial-chunk
    * overlaps. Use CDC as the cheap candidate generator at corpus scale
    * and stride 1 for exhaustive within-candidate verification;
    * DedupSimilaritySpec asserts the recall/cost comparison. */
  def spanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = 16
    val spans = docsWithDups(spark, sfDir)
      .repartition($"doc_id")
      .select($"doc_id", tokens($"text").as("toks"))
      .filter(size($"toks") >= W)
      .select(
        $"doc_id",
        explode(
          transform(
            sequence(lit(1), size($"toks") - (W - 1)),
            i => md5(concat_ws(" ", slice($"toks", i, lit(W))))
          )
        ).as("span_md5")
      )
    spans
      .groupBy($"span_md5")
      .agg(
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min($"doc_id").as("first_doc")
      )
      .filter($"n_docs" >= 2)
      .orderBy($"span_md5")
  }

  /** Declared query (q172): EXACT duplicated-substring SPANS — the
    * deliverable of suffix-array exact substring dedup (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * maximal region of ≥ L contiguous tokens whose text occurs at least
    * twice in the corpus (any doc, any offset), reported per document as
    * (span_start, span_end) token coordinates. Equivalence to the
    * suffix-array formulation: a substring of length ≥ L is duplicated
    * iff each of its L-token windows is duplicated, and conversely the
    * union of duplicated L-windows per doc, merged over overlap/adjacency,
    * is exactly the set of maximal duplicated regions ≥ L — so sorted
    * L-window groups compute the same spans the suffix array's LCP scan
    * finds, in relational form. Distinct from q97 (which counts window
    * HASH collisions corpus-wide): q172 verifies candidate windows by
    * their exact TEXT (the md5 anchor only bounds the candidate set —
    * the PPJoin discipline) and emits maximal per-doc span geometry.
    *
    * Corpus: the q160 convention — documents plus planted first-half
    * excerpts (+2M ids for doc_id%7), so the expected spans are PARTIAL
    * regions (the copied prefix of each long original), not just
    * whole-doc exact copies.
    *
    * Scale shape (100 TB): the corpus-wide exchange carries slim
    * (md5, doc_id, pos) anchor rows; window TEXT is re-materialized only
    * for candidates (windows whose hash repeats — rare), so the text-keyed
    * exchange is proportional to true duplication; the interval merge is
    * a per-doc window function over candidate positions only. Never
    * all-pairs, no suffix array materialized. */
  def substringSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val L = 15
    val (_, verified) = verifiedDupWindows(spark, sfDir, L)
    // merge overlapping/adjacent [pos, pos+L-1] windows into maximal spans
    val wOrd = Window.partitionBy($"doc_id").orderBy($"pos")
    val spans = verified.select($"doc_id", $"pos")
      .withColumn(
        "prev_end",
        max($"pos" + (L - 1)).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      )
      .withColumn(
        "new_island",
        when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1).otherwise(0)
      )
      .withColumn("island", sum($"new_island").over(wOrd))
      .groupBy($"doc_id", $"island")
      .agg(
        min($"pos").as("span_start"),
        (max($"pos") + (L - 1)).as("span_end")
      )
    spans
      .select(
        $"doc_id",
        $"span_start",
        $"span_end",
        ($"span_end" - $"span_start" + 1).as("n_toks")
      )
      .orderBy($"doc_id", $"span_start")
  }

  /** The stage pipeline shared by [[substringSpans]] (q172) and
    * [[substringSpanRemoval]] (q173): the q160-convention excerpt corpus
    * tokenized, and its exact-TEXT-verified duplicated L-token windows as
    * (doc_id, pos, wtext). The corpus-wide exchange carries slim
    * (md5, doc_id, pos) anchors; window TEXT is re-materialized only for
    * candidates whose hash repeats, and both candidate joins are hinted
    * shuffle-hash because the candidate side scales with the corpus's
    * true duplication — broadcasting it (Spark's fixture-scale estimate)
    * is exactly the shape that dies at 100 TB. Returns (tokenized docs,
    * verified windows). */
  private def verifiedDupWindows(
      spark: SparkSession,
      sfDir: String,
      L: Int
  ): (DataFrame, DataFrame) = {
    import spark.implicits._
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val docs = base.unionByName(
      base
        .filter($"doc_id" % 7 === 0)
        .select(
          ($"doc_id" + 2000000L).as("doc_id"),
          expr("concat_ws(' ', slice(split(text, ' '), 1, (size(split(text, ' ')) + 1) div 2))")
            .as("text")
        )
    )
    verifiedDupWindowsOf(docs, L)
  }

  /** [[verifiedDupWindows]] over an ARBITRARY (doc_id, text) corpus — the
    * form the q176 capstone composes (span removal over the release
    * survivors instead of the q172 fixture corpus). Same plan, same
    * shuffle-hash candidate discipline. */
  private[graft] def verifiedDupWindowsOf(docs: DataFrame, L: Int): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    val toks = docs.repartition($"doc_id").select($"doc_id", tokens($"text").as("toks"))
    val wins = toks
      .filter(size($"toks") >= L)
      .select(
        $"doc_id",
        posexplode(
          transform(
            sequence(lit(1), size($"toks") - (L - 1)),
            i => md5(concat_ws(" ", slice($"toks", i, lit(L))))
          )
        ).as(Seq("p0", "h"))
      )
      .select($"doc_id", ($"p0" + 1).as("pos"), $"h")
    val dupH = wins.groupBy($"h").agg(count(lit(1)).as("n")).filter($"n" >= 2).select($"h")
    val cand = wins.hint("shuffle_hash").join(dupH.hint("shuffle_hash"), "h")
      .select($"doc_id", $"pos")
    val candTxt = cand.hint("shuffle_hash")
      .join(toks.hint("shuffle_hash"), "doc_id")
      .select($"doc_id", $"pos", concat_ws(" ", expr(s"slice(toks, pos, $L)")).as("wtext"))
    val dupTxt = candTxt.groupBy($"wtext").agg(count(lit(1)).as("nt")).filter($"nt" >= 2).select($"wtext")
    val verified = candTxt.hint("shuffle_hash")
      .join(dupTxt.hint("shuffle_hash"), "wtext")
      .select($"doc_id", $"pos", $"wtext")
    (toks, verified)
  }

  /** The decontamination probe dispatcher's absolute budget: past this many
    * benchmark windows the broadcast probe is unsafe regardless of corpus
    * size (the r16 5M-rung experiment OOM'd the driver building an ~84M-row
    * window broadcast at the default 8 GB heap; 2e6 text-carrying window
    * rows is ~0.3 GB — a ~40× margin). */
  private[graft] val BenchWindowBudget = 2.0e6

  /** The dispatcher's RELATIVE term: a benchmark whose window mass exceeds
    * this fraction of the (sampled) corpus window mass scales WITH the
    * corpus — it is not "a bounded eval suite", and shuffle-hash is the
    * scale-right probe even where the absolute budget would technically
    * admit a broadcast (the fixture corpus-derived benchmark sits at ~9% of
    * corpus windows at every SF; real bounded benchmarks probe a corpus
    * orders of magnitude larger than themselves). */
  private[graft] val BenchCorpusFrac = 0.01

  /** The decontamination dispatch record — both measured terms and the
    * pick, printed as one `[dedup-dispatch]` line (the q170/q171 cost-record
    * discipline) so threshold moves stay diffable against logged corners. */
  private[graft] final case class DecontamDecision(benchWins: Long, estCorpusWins: Double) {
    def pick: String =
      if (benchWins <= BenchWindowBudget && benchWins <= BenchCorpusFrac * estCorpusWins)
        "broadcast"
      else "shuffle_hash"
    override def toString: String =
      f"[dedup-dispatch] kind=decontam benchWins=$benchWins%d (budget $BenchWindowBudget%.1e) " +
        f"estCorpusWins=$estCorpusWins%.3e (frac cutoff $BenchCorpusFrac) pick=$pick"
  }

  /** Session-scoped memo for [[decontamDecision]] (r17 ADVICE: the decision
    * is deterministic for a given corpus/benchmark pair, but q174/q175
    * re-constructed it per invocation — 2 eager aggregations × 3 Bench
    * iterations of redundant jobs). Keyed on the CANONICALIZED logical plan
    * pair PLUS a content fingerprint of each side's input files (r18
    * ADVICE: for parquet relations, plan canonicalization reduces to path
    * identity — data regenerated in-place at the same path within one JVM
    * would reuse a stale decision, and guardedBroadcastVerdicts' OOM guard
    * consumes this value, so a stale small benchWins could admit a
    * broadcast plan that OOMs). The fingerprint is the path:size:mtime
    * digest discipline of Probe.buildStamp / tools slice_fingerprint.
    * Bounded: cleared wholesale past 64 entries (a session touches a
    * handful). */
  private val decontamMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
       org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int,
       String, String),
      DecontamDecision]()

  /** MD5 over sorted `path:size:mtime` of a DataFrame's input files — the
    * Probe.buildStamp discipline applied to DATA instead of class files.
    * Driver-side metadata only (one FileStatus per file, no data read);
    * in-memory/non-file plans fingerprint to the empty-digest constant and
    * rely on plan canonicalization (a LocalRelation's rows are part of its
    * canonical plan, so that is sound). */
  private[graft] def inputFingerprint(df: DataFrame): String = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val md = java.security.MessageDigest.getInstance("MD5")
    df.inputFiles.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val line =
        try {
          val st = p.getFileSystem(conf).getFileStatus(p)
          s"$f:${st.getLen}:${st.getModificationTime}"
        } catch { case _: Exception => s"$f:?" }
      md.update(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Measure the two decontamination dispatch terms: the benchmark's EXACT
    * window count (one aggregation over the benchmark side only — never the
    * corpus) and the corpus window mass estimated from the deterministic
    * 1/16 doc-id-hash sample (the q170/q171 sampling discipline: one narrow
    * aggregate over ~6% of the corpus, one scalar of driver state).
    * Memoized per canonicalized (train, bench) plan pair within the
    * session; benchmarks pay the probe once. */
  private[graft] def decontamDecision(train: DataFrame, bench: DataFrame, L: Int = 15): DecontamDecision = {
    import train.sparkSession.implicits._
    val key = (
      train.queryExecution.analyzed.canonicalized,
      bench.queryExecution.analyzed.canonicalized,
      L,
      inputFingerprint(train),
      inputFingerprint(bench)
    )
    if (decontamMemo.size > 64) decontamMemo.clear()
    decontamMemo.computeIfAbsent(
      key,
      _ => {
        val bw = bench
          .agg(sum(greatest(size(tokens($"text")) - (L - 1), lit(0)).cast("long")))
          .head()
        val cw = train
          .filter(pmod(xxhash64($"doc_id"), lit(16)) === 0)
          .agg(sum(greatest(size(tokens($"text")) - (L - 1), lit(0)).cast("long")))
          .head()
        val d = DecontamDecision(
          if (bw.isNullAt(0)) 0L else bw.getLong(0),
          16.0 * (if (cw.isNullAt(0)) 0L else cw.getLong(0))
        )
        println(d)
        d
      }
    )
  }

  /** Which physical probe plan decontamination will take — exposed for the
    * DedupSimilaritySpec two-corner decision test. */
  private[graft] def chooseDecontamPlan(train: DataFrame, bench: DataFrame): String =
    decontamDecision(train, bench).pick

  /** Decontamination verdict core, parameterized on the probe plan. Both
    * branches compute the IDENTICAL result (same logical pipeline, same
    * final sort) — the dispatch can only change the runtime:
    *
    *   - `shuffle_hash`: every benchmark-side join is a hash exchange —
    *     scale-safe at ANY benchmark size (the branch the corpus-derived
    *     fixture takes; its broadcast shape measurably died at the 5M-doc
    *     rung), and measured faster at fixture scale too (r16 hint A/B).
    *   - `broadcast`: the bounded-benchmark 100 TB shape (the
    *     q135/incremental-dedup discipline, Dedup :837/:430): the distinct
    *     window-hash set and the text-carrying window set both broadcast,
    *     so the corpus side ships NOTHING — no repartition, no exchange; it
    *     is scanned map-side against the broadcast probe. The one
    *     candidate-side join (re-materializing hash-hit window text) is
    *     left unhinted: AQE sees the runtime candidate count
    *     (contamination-proportional) and picks broadcast when it is small
    *     — the corpus still never shuffles in that case.
    */
  private[graft] def decontamVerdicts(
      train: DataFrame, bench: DataFrame, plan: String, L: Int = 15): DataFrame = {
    import train.sparkSession.implicits._
    val bcast = plan == "broadcast"
    def winsOf(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(
        // NB sequence(1, 0) DESCENDS in Spark — callers must pre-filter
        // size >= L or the slice start underflows
        sequence(lit(1), size(toks) - (L - 1)),
        i => struct(i.as("pos"), concat_ws(" ", slice(toks, i, lit(L))).as("wtext"))
      )
    // benchmark windows: small side — carries pos, text AND md5 anchor
    val btoks = bench.select($"bench_id", tokens($"text").as("toks"))
    val bwins = btoks
      .filter(size($"toks") >= L)
      .select($"bench_id", explode(winsOf($"toks")).as("w"))
      .select($"bench_id", $"w.pos".as("bpos"), $"w.wtext".as("bwtext"), md5($"w.wtext").as("h"))
    val bHashes = bwins.select($"h").distinct()
    // training tokens: under the broadcast probe the corpus is NEVER
    // exchanged (map-side scan both passes); under shuffle-hash one
    // repartition(doc_id) pre-satisfies the candidate re-join
    val ttoks0 = train.select($"doc_id", tokens($"text").as("toks"))
    val ttoks  = if (bcast) ttoks0 else train.repartition($"doc_id").select($"doc_id", tokens($"text").as("toks"))
    // training windows: slim (doc_id, pos, h) anchors, the corpus-wide pass
    val twins = ttoks
      .filter(size($"toks") >= L)
      .select(
        $"doc_id",
        posexplode(
          transform(
            sequence(lit(1), size($"toks") - (L - 1)),
            i => md5(concat_ws(" ", slice($"toks", i, lit(L))))
          )
        ).as(Seq("p0", "h"))
      )
      .select($"doc_id", ($"p0" + 1).as("pos"), $"h")
    // anchor probe on the md5 anchor
    val cand =
      if (bcast) twins.join(broadcast(bHashes), "h").select($"doc_id", $"pos")
      else
        twins.hint("shuffle_hash").join(bHashes.hint("shuffle_hash"), "h")
          .select($"doc_id", $"pos")
    // exact verify: re-materialize ONLY candidate training windows' text
    val candTxt =
      if (bcast)
        ttoks.join(cand, "doc_id")
          .select(concat_ws(" ", expr(s"slice(toks, pos, $L)")).as("twtext"))
      else
        cand.hint("shuffle_hash")
          .join(ttoks.hint("shuffle_hash"), "doc_id")
          .select(concat_ws(" ", expr(s"slice(toks, pos, $L)")).as("twtext"))
    val hits =
      (if (bcast) candTxt.join(broadcast(bwins), $"twtext" === $"bwtext")
       else
         candTxt.hint("shuffle_hash")
           .join(bwins.hint("shuffle_hash"), $"twtext" === $"bwtext"))
        .select($"bench_id", $"bpos")
        .distinct()
    val stats = hits.groupBy($"bench_id").agg(count(lit(1)).as("n_contam_windows"))
    btoks
      .select($"bench_id", greatest(size($"toks") - (L - 1), lit(0)).cast("long").as("n_windows"))
      .join(stats, Seq("bench_id"), "left")
      .select(
        $"bench_id",
        $"n_windows",
        coalesce($"n_contam_windows", lit(0L)).as("n_contam_windows"),
        when(coalesce($"n_contam_windows", lit(0L)) > 0, "contaminated")
          .otherwise("clean")
          .as("verdict")
      )
      .orderBy($"bench_id")
  }

  /** The q174 fixture benchmark (derived from the corpus, so the oracle
    * replays it): doc_id %11==4 → the doc's middle-third excerpt under
    * bench_id = 2·doc_id (contaminated by construction when ≥ L tokens);
    * doc_id %13==6 → the doc's tokens REVERSED under bench_id = 2·doc_id+1
    * (clean — reversed windows don't occur forward; any accidental hit is
    * computed identically by both engines). The two families live on
    * disjoint PARITIES of bench_id — collision-free and totally ordered for
    * ANY doc_id range (r16 ADVICE: the old +4M/+5M additive offsets
    * collided whenever some d1 = d2 + 1M existed, and were safe only
    * because the slice doc_id bands happened to be <1M wide), and still
    * replica-separable in-stride at the sf10/sf100 rungs (2× the stripe). */
  private[graft] def fixtureBench(train: DataFrame): DataFrame = {
    import train.sparkSession.implicits._
    val benchC = train
      .filter($"doc_id" % 11 === 4)
      .select(
        ($"doc_id" * 2L).as("bench_id"),
        expr(
          "concat_ws(' ', slice(split(text, ' '), size(split(text, ' ')) div 3 + 1, " +
            "greatest((size(split(text, ' ')) + 1) div 3, 1)))"
        ).as("text")
      )
    val benchR = train
      .filter($"doc_id" % 13 === 6)
      .select(
        ($"doc_id" * 2L + 1L).as("bench_id"),
        expr("concat_ws(' ', reverse(split(text, ' ')))").as("text")
      )
    benchC.unionByName(benchR)
  }

  /** Declared query (q174): substring BENCHMARK decontamination — the
    * published test-set-overlap protocol (GPT-3 appendix C / Lee et al.
    * 2021 §6.2): a benchmark example is CONTAMINATED when any of its
    * L-token windows occurs verbatim anywhere in the training corpus, and
    * the deliverable is the per-example verdict the eval harness uses to
    * drop examples. Complements q135, which flags TRAINING docs by 3-gram
    * shingle-hash overlap against an eval set — q174 answers the opposite
    * question (which BENCHMARK examples are burned?) at exact-window
    * granularity with exact-TEXT verification (the q172 discipline: the
    * md5 anchor only bounds the candidate set).
    *
    * Scale shape (100 TB): DISPATCHED on the measured benchmark size
    * ([[decontamDecision]], the q170/q171 machinery — r16 verdict task 1).
    * The fixture benchmark derives from the corpus (%11/%13), so it grows
    * linearly: the dispatcher's relative term reads it at ~9% of corpus
    * window mass at every SF and picks shuffle-hash — the branch whose
    * broadcast alternative measurably died at the 5M-doc rung (driver OOM
    * on an ~84M-row window broadcast). A REAL bounded benchmark (the q175
    * fixture) dispatches to the broadcast probe, where the 100 TB corpus
    * ships nothing at all. Both branches are the same logical pipeline, so
    * the choice can never change the answer — only the runtime. */
  def substringDecontamination(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val train = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val bench = fixtureBench(train)
    decontamVerdicts(train, bench, chooseDecontamPlan(train, bench))
  }

  /** Declared query (q175): decontamination against a BOUNDED benchmark —
    * the production shape (hundreds-to-thousands of eval examples probing a
    * corpus orders of magnitude larger). Fixture benchmark: doc_id %97==3 →
    * the doc's middle-third excerpt under bench_id = doc_id (~1% of docs,
    * ~0.3% of corpus window mass — comfortably inside both dispatch terms
    * at every SF, so this query exercises the BROADCAST branch of
    * [[decontamVerdicts]] end-to-end under its own full DuckDB oracle: the
    * corpus side plans NO exchange; the benchmark window set broadcasts).
    * Same verdict semantics as q174; only the benchmark — and therefore
    * the dispatched plan — differs. */
  def decontamBoundedBench(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val train = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val bench = train
      .filter($"doc_id" % 97 === 3)
      .select(
        $"doc_id".as("bench_id"),
        expr(
          "concat_ws(' ', slice(split(text, ' '), size(split(text, ' ')) div 3 + 1, " +
            "greatest((size(split(text, ' ')) + 1) div 3, 1)))"
        ).as("text")
      )
    decontamVerdicts(train, bench, chooseDecontamPlan(train, bench))
  }

  /** Declared query (q173): duplicated-substring span REMOVAL — the
    * published deliverable of Lee et al. 2021's exact substring dedup: the
    * CLEANED corpus after cutting every duplicated ≥L-token region while
    * keeping ONE canonical occurrence corpus-wide. Composition of q172's
    * verified-window machinery with the q120 survivor discipline:
    *
    *   1. every exact-TEXT-verified duplicated L-window elects a survivor
    *      occurrence — the (doc_id, pos)-minimum, the paper's "remove all
    *      but one" with the same deterministic lowest-id election as the
    *      q120 endgame;
    *   2. the NON-survivor occurrences merge per doc into maximal removal
    *      intervals (q172's island merge over the removal subset);
    *   3. each touched doc's tokens are cut by a per-row filter against
    *      its own (collected, ≤ a few) interval structs — untouched docs
    *      pass through whole, no token explode anywhere on the kept path.
    *
    * Output: per-doc token accounting (spans cut, tokens removed/kept) and
    * the md5 of the cleaned text — a content-exact check of the surgery,
    * not just the counts. The oracle recomputes everything from raw window
    * text in SQL, so a mis-elected survivor, a dropped interval, or an
    * off-by-one cut diverges the hash.
    *
    * Scale shape (100 TB): everything q172 already proves at the 5M-doc
    * rung (slim anchors, candidate-proportional text re-materialization,
    * shuffle-hash candidate joins), plus one window over the removal set
    * (duplication-proportional), one groupBy(doc_id) collecting interval
    * structs (bounded per doc), and a doc_id-partitioned left join back to
    * the corpus — no new corpus-sized exchange beyond the tokenization the
    * anchor stage already pays. */
  def substringSpanRemoval(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val L = 15
    val (toks, verified) = verifiedDupWindows(spark, sfDir, L)
    spanRemovalKept(toks, verified, L)
      .select(
        $"doc_id",
        $"n_cut_spans",
        $"toks_removed",
        size($"kept").cast("long").as("toks_kept"),
        md5(concat_ws(" ", $"kept")).as("kept_md5")
      )
      .orderBy($"doc_id")
  }

  /** The q173 surgery core over prepared (toks, verified) frames: survivor
    * election, per-doc interval merge, per-row token cut. Returns one row
    * per doc — (doc_id, n_cut_spans, toks_removed, kept) with `kept` the
    * post-surgery token array (untouched docs pass through whole). Shared
    * by [[substringSpanRemoval]] (q173) and the q176 release capstone,
    * which needs the kept TOKENS (to write the cleaned corpus), not just
    * their hash. */
  private[graft] def spanRemovalKept(toks: DataFrame, verified: DataFrame, L: Int): DataFrame = {
    import toks.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // survivor election per duplicated window text: (doc_id, pos)-min keeps
    val wSurv = Window.partitionBy($"wtext").orderBy($"doc_id", $"pos")
    val removeWins = verified
      .withColumn("rn", row_number().over(wSurv))
      .filter($"rn" > 1)
      .select($"doc_id", $"pos")
    // merge the removal windows into maximal per-doc intervals
    val wOrd = Window.partitionBy($"doc_id").orderBy($"pos")
    val intervals = removeWins
      .withColumn(
        "prev_end",
        max($"pos" + (L - 1)).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      )
      .withColumn(
        "new_island",
        when($"prev_end".isNull || $"pos" > $"prev_end" + 1, 1).otherwise(0)
      )
      .withColumn("island", sum($"new_island").over(wOrd))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("s"), (max($"pos") + (L - 1)).as("e"))
    // PURE collect aggregate (the sweep's legal idiom — mixing count/sum in
    // would drag them onto the interpreted ObjectHashAggregate path); the
    // span count and removed-token mass derive from the ≤-a-few-element
    // interval array per row instead
    val ivs = intervals
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"s", $"e"))).as("ivs"))
      .select(
        $"doc_id",
        size($"ivs").cast("long").as("n_cut_spans"),
        aggregate(
          $"ivs",
          lit(0L),
          (acc, iv) => acc + (iv.getField("e") - iv.getField("s") + lit(1))
        ).as("toks_removed"),
        $"ivs"
      )
    // per-row surgery: keep token i (1-based) unless covered by an interval
    toks
      .join(ivs, Seq("doc_id"), "left")
      .withColumn(
        "kept",
        when($"ivs".isNull, $"toks").otherwise(
          filter(
            $"toks",
            (_, i) =>
              !exists(
                $"ivs",
                iv => (i + 1) >= iv.getField("s") && (i + 1) <= iv.getField("e")
              )
          )
        )
      )
      .select(
        $"doc_id",
        coalesce($"n_cut_spans", lit(0L)).as("n_cut_spans"),
        coalesce($"toks_removed", lit(0L)).cast("long").as("toks_removed"),
        $"kept"
      )
  }

  /** CDC-boundary span candidates — the cheap generator of the cost model
    * documented on [[spanDedup]]: one row per (doc, content-defined chunk)
    * with the chunk's span hash, over the dup-injected corpus. Same
    * boundary rule as [[Chunking.cdcChunks]] (60-bit token hash ≡ 0 mod
    * 16), so boundaries are insert-stable and verbatim copies produce
    * identical chunk sequences. NOT a declared query — the recall/cost
    * comparison against stride-1 [[spanDedup]] lives in the test suite. */
  private[graft] def cdcSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Chunking
      .cdcChunkInventory(docsWithDups(spark, sfDir).repartition($"doc_id"))
      .withColumnRenamed("chunk_md5", "span_md5")
  }

  /** Incremental-ingest dedup — the "does tonight's batch duplicate the
    * corpus?" operator: verdict per NEW document against the existing
    * corpus, exact (content digest) then near (≥90% shingle containment —
    * the right asymmetric measure for "new doc is a copy of something we
    * have", unlike symmetric Jaccard). The fixture batch re-ingests one
    * corpus slice verbatim (exact hits) and one with its last two tokens
    * dropped (near hits).
    *
    * Scale shape (the whole point): the NEW batch is bounded, the corpus is
    * not — both probes BROADCAST the new side and stream the corpus through
    * map-side joins (digest equi-join; shingle inverted index, same
    * discipline as [[decontaminate]]). The corpus is never shuffled, no
    * matter how big. Containment is an integer comparison
    * (10·|A∩B| ≥ 9·|A|), exact in both engines.
    *
    * Plan discipline: shingles are the compiled 60-bit
    * [[graft.functions.Kernels.shingleHashes]] kernel (the oracle intersects
    * shingle STRINGS — identical counts, hashes are collision-free at 2^60),
    * and BOTH exploded sides sit behind the `repartition + groupBy/first`
    * barrier of [[ngramJaccardPairs]], so explode-inferred `isnotnull/size>0`
    * predicates can't drag the shingle pipeline into scan-side filters. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val newExact = d
      .filter($"doc_id" % 7 === 3)
      .select(($"doc_id" + 2000000L).as("new_id"), $"text")
    val newNear = d
      .filter($"doc_id" % 13 === 5)
      .select(
        ($"doc_id" + 3000000L).as("new_id"),
        array_join(
          slice(tokens($"text"), lit(1), greatest(size(tokens($"text")) - 2, lit(1))),
          " "
        ).as("text")
      )
    val newB = newExact.unionByName(newNear)
    val exactHits = d
      .select(md5($"text").as("h"))
      .join(broadcast(newB.select($"new_id", md5($"text").as("h"))), Seq("h"))
      .select($"new_id")
      .distinct()
    val cSh = d
      .repartition($"doc_id")
      .select($"doc_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"doc_id")
      .agg(first($"sh0").as("shs"))
      .select($"doc_id".as("corpus_id"), explode($"shs").as("sh"))
    val nSh = newB
      .repartition($"new_id")
      .select($"new_id", array_distinct(graft.functions.Kernels.shingleHashes(tokens($"text"), 3)).as("sh0"))
      .groupBy($"new_id")
      .agg(first($"sh0").as("shs"))
      .select($"new_id", size($"shs").as("n_sh"), explode($"shs").as("sh"))
    val nearHits = cSh
      .join(broadcast(nSh), Seq("sh"))
      .groupBy($"new_id", $"corpus_id", $"n_sh")
      .agg(count(lit(1)).as("inter"))
      .filter($"inter" * 10 >= $"n_sh" * 9)
      .select($"new_id")
      .distinct()
    newB
      .join(exactHits.withColumn("is_exact", lit(true)), Seq("new_id"), "left")
      .join(nearHits.withColumn("is_near", lit(true)), Seq("new_id"), "left")
      .select(
        $"new_id",
        when($"is_exact", "exact_dup")
          .when($"is_near", "near_dup")
          .otherwise("kept")
          .as("verdict")
      )
      .orderBy($"new_id")
  }

  /** The dedup ENDGAME — the composition a real pipeline actually runs to
    * shrink a corpus: near-dup pair generation (MinHash+LSH, [[minhashLshPairs]])
    * → connected components over the pair graph ([[Graph.autoComponents]],
    * duplicate CLUSTERS, not just pairs — transitivity matters: A≈B, B≈C
    * dedups A,B,C together even when A,C never paired) → survivor election
    * (min doc_id per component = the component label itself) → the corpus
    * with every non-survivor dropped.
    *
    * Scale shape: one shuffle per stage, and the ITERATIVE stage runs on
    * the duplicate SUBGRAPH only — docs that appear in no pair are their
    * own singleton component by construction, so components are taken
    * over the pair endpoints (cost ∝ duplicate rate, not corpus size; at a
    * few percent duplication that is a 10-100× smaller graph than the
    * whole corpus). An in-budget pair table is solved on the driver by
    * union-find; a larger one runs the two-phase rounds, whose joins AQE
    * plans from runtime sizes — the pair set is only ever broadcast when
    * AQE PROVES it small, never on a static guess; survivor election
    * reuses the component labels (survivor == comp needs no extra
    * aggregation); the final corpus anti-join/size-join are plain
    * equi-shuffles on doc_id. */
  def dedupEndgame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpus = docsWithDups(spark, sfDir)
    // localCheckpoint the pair set (r19; was cache): both the endpoint
    // node list and the CC edges reference it, so minhash runs once
    // EITHER way — but with cache() every CC round still re-ANALYZES the
    // full minhash logical tree on the driver (execution hits memory,
    // planning does not), and that planning time dominated the rounds.
    // The eager checkpoint truncates the lineage to a scan (q179 measured
    // 17.7 -> 5.7 s from the same change) and makes the pair table
    // eligible for autoComponents' driver union-find; blocks are freed by
    // the context cleaner once the lineage-free comp result drops them.
    val pairs = minhashPairsUnsorted(spark, sfDir)
      .select($"id1".as("src"), $"id2".as("dst"))
      .localCheckpoint(true)
    val pnodes = pairs
      .select($"src".as("node"))
      .unionByName(pairs.select($"dst".as("node")))
      .distinct()
    val comp = Graph.autoComponents(pnodes, pairs)
    val sizes = comp.groupBy($"comp").agg(count(lit(1)).as("cluster_size"))
    val nonSurvivors = comp.filter($"node" =!= $"comp").select($"node".as("doc_id"))
    corpus
      .join(nonSurvivors, Seq("doc_id"), "left_anti")
      .join(sizes.select($"comp".as("doc_id"), $"cluster_size"), Seq("doc_id"), "left")
      .select(
        $"doc_id".as("survivor_id"),
        coalesce($"cluster_size", lit(1L)).as("cluster_size"),
        length($"text").as("text_len")
      )
      .orderBy($"survivor_id")
  }

  /** Brute-force all-pairs baseline for [[embeddingNearDup]] — O(n²), NOT a
    * declared query: it exists so the test suite can prove the bucketed
    * plan loses no pairs on the fixtures. */
  private[graft] def embeddingNearDupBrute(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val withNorm = dupEmbeddings(spark, sfDir)
    val a = withNorm.select($"vec_id".as("id1"), $"embedding".as("e1"), $"nrm".as("n1"))
    val b = withNorm.select($"vec_id".as("id2"), $"embedding".as("e2"), $"nrm".as("n2"))
    a.join(broadcast(b), $"id1" < $"id2")
      .withColumn("cos", round(Similarity.cosine($"e1", $"n1", $"e2", $"n2"), 6))
      .filter($"cos" >= 0.9)
      .select($"id1", $"id2", $"cos")
      .orderBy($"id1", $"id2")
  }
}
