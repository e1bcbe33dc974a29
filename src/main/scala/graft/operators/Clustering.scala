package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Kernels
import org.apache.spark.sql.functions._

/** Iterative graph/vector analytics a corpus pipeline runs between dedup
  * and export: k-means clustering of the embedding space (topic bucketing,
  * IVF index training) and PageRank over the document link graph (quality /
  * centrality weighting for sampling). Both are FIXED-ITERATION and built
  * from the same determinism toolkit as the rest of the engine — scaled-long
  * grid means, integer-division rank flow, md5-free seeds — so the DuckDB
  * oracle replays every iteration bit-exactly and the driver hash-compares
  * the full result (reference parity: fixed deterministic passes over the
  * exported table set, cf. /root/reference Bootstrap.java's replayable runs).
  *
  * Scale shape (both): the per-iteration state is ONE small table (k
  * centroids / one rank per node); each iteration is one broadcast pass +
  * one key shuffle — the Pregel/Lloyd plan GraphX and MLlib execute. The
  * driver only coordinates the constant-bounded loop; no per-row data ever
  * lands on it. At 100 TB, add `localCheckpoint` every few iterations to
  * truncate lineage (the `CheckpointEvery` cadence below).
  */
object Clustering {

  private val K = 8

  /** Grid-exact centroids of `assigned` (cluster, embedding): per-dimension
    * mean computed as round(v·1e6) summed in LONG — order-independent AND
    * engine-replayable (same discipline as [[Similarity.ivfCosineTopK]]'s
    * coarse quantizer). */
  private def gridCentroids(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned
      .select($"cluster", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"cluster", $"pos")
      .agg((sum(Kernels.roundLong($"v" * 1e6)) / 1e6 / count(lit(1))).as("m"))
      .groupBy($"cluster")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select(
        $"cluster".as("cent_id"),
        transform($"pm", p => p.getField("m").cast("float")).as("cvec")
      )
      .withColumn("cnrm", Similarity.norm($"cvec"))
  }

  /** Assign every vector to its nearest centroid by cosine (broadcast the
    * k-row centroid table; deterministic cent_id tiebreak). Keeps the
    * winning cosine for the audit output. */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    // kernel argmax over the broadcast centroid row (identical pick to the
    // old crossJoin+window — see Similarity.assignCents), then one k-row
    // broadcast join back to the winning centroid to recompute the audit
    // ccos with the SAME sequential-IEEE dot.
    Similarity.assignCents(e, cents)
      .join(broadcast(cents), Seq("cent_id"))
      .withColumn("ccos", Similarity.cosine($"embedding", $"nrm", $"cvec", $"cnrm"))
      .select($"vec_id", $"embedding", $"nrm", $"cent_id".as("cluster"), $"ccos")
  }

  /** Two Lloyd iterations of k-means (k = 8, seed partition = vec_id mod k):
    * seed centroids → assign → recompute → reassign. Output: one audit row
    * per surviving cluster (size, min member, grid-mean cosine to its final
    * centroid). Two iterations keep the oracle replay bounded while
    * exercising the full assign/update cycle; production runs loop the same
    * two operators to convergence. */
  /** Lineage-truncation cadence for the iterative loops below: every
    * CheckpointEvery rounds the loop state is localCheckpointed — without
    * it an adaptive-round caller rebuilds a plan tree that grows by one
    * join+agg PER ROUND and eventually stalls the optimizer (the lineage
    * bomb). The final round is exempt (the consumer's action materializes
    * it anyway). At the default fixed round counts (2 and 3) the cadence
    * never fires, so the oracle-replayed plans are unchanged. */
  private val CheckpointEvery = 3
  private def truncate(df: DataFrame, round: Int, last: Int): DataFrame =
    if (round % CheckpointEvery == 0 && round < last) df.localCheckpoint() else df

  /** The TRAINED coarse quantizer for [[Similarity.ivfTrainedTopK]] (q154):
    * the centroid table after the declared two-iteration Lloyd loop — seed
    * by vec_id mod k, assign, recompute. Returns (cent_id, cvec, cnrm),
    * the contract [[Similarity.ivfQuery]] consumes; bit-replayable because
    * every stage is the same grid-exact arithmetic q107's oracle unrolls. */
  private[graft] def trainedCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Tables
      .spread(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    val c0 = gridCentroids(e.select(($"vec_id" % K).cast("int").as("cluster"), $"embedding"))
    val a1 = assign(e, c0)
    gridCentroids(a1.select($"cluster", $"embedding"))
  }

  def kmeansClusters(spark: SparkSession, sfDir: String): DataFrame =
    kmeansClusters(spark, sfDir, iterations = 2)

  /** Lloyd loop with an adaptive-capable round count; see
    * [[kmeansClusters(spark,sfDir)*]] for the declared 2-iteration form. */
  def kmeansClusters(spark: SparkSession, sfDir: String, iterations: Int): DataFrame = {
    import spark.implicits._
    val e = Tables
      .spread(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"embedding", Similarity.norm($"embedding").as("nrm"))
    var cents    = gridCentroids(e.select(($"vec_id" % K).cast("int").as("cluster"), $"embedding"))
    var assigned = assign(e, cents)
    for (i <- 2 to iterations) {
      cents    = gridCentroids(assigned.select($"cluster", $"embedding"))
      assigned = truncate(assign(e, cents), i, iterations)
    }
    assigned.groupBy($"cluster")
      .agg(
        count(lit(1)).as("n_vecs"),
        min($"vec_id").as("min_vec"),
        (sum(Kernels.roundLong($"ccos" * 1e6)) / 1e6 / count(lit(1))).as("mc")
      )
      .select($"cluster", $"n_vecs", $"min_vec", round($"mc", 6).as("mean_cos"))
      .orderBy($"cluster")
  }

  /** Three PageRank iterations (d = 0.85) over the deterministic document
    * link graph from [[Graph.edges]]. All rank mass flows on a 1e6
    * integer grid with floor division, so every iteration is exactly
    * replayable: contrib = (85 · (rank6 div outdeg)) div 100 per edge,
    * next rank6 = base6 + Σ contrib. Dangling-node mass is dropped (ranks
    * need not sum to 1 — standard for fixed-iteration scoring). */
  def pagerankDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.documents(spark, sfDir).select($"doc_id".as("node"))
    val e     = Graph.edges(spark, sfDir)
    val deg   = e.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    // n is a plan literal: the node count is the one scalar the iteration
    // formula needs (same driver-side fold as Sharding.domainMixture's cap)
    val n     = nodes.count()
    val base6 = math.round(0.15 * 1e6 / n)
    val init6 = math.round(1e6 / n.toDouble)
    val iterations = 3
    var rank = nodes.withColumn("rank6", lit(init6))
    for (i <- 1 to iterations) {
      val contrib = e
        .join(rank, $"src" === $"node")
        .join(deg, "src")
        .select($"dst", expr("(85 * (rank6 div outdeg)) div 100").as("c6"))
        .groupBy($"dst")
        .agg(sum($"c6").as("in6"))
      rank = truncate(
        nodes
          .join(contrib, $"node" === $"dst", "left")
          .select($"node", (lit(base6) + coalesce($"in6", lit(0L))).as("rank6")),
        i,
        iterations
      )
    }
    rank
      .select($"node", round($"rank6" / 1e6, 6).as("pagerank"))
      .orderBy($"node")
  }
}
