package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components — the clustering step a dedup pipeline runs AFTER
  * pair generation: near-dup pairs form edges, components are the duplicate
  * clusters, and one survivor is kept per component. Implemented as
  * iterative min-label propagation over DataFrames (the Pregel pattern
  * without GraphX): every node starts labelled with itself; each round a
  * node takes the minimum label in its neighborhood; fixpoint in
  * O(component diameter) rounds.
  *
  * Scale shape: each round is ONE shuffle (edge⋈label join + min
  * aggregation on the node key) — the same plan GraphX/Pregel executes; the
  * driver only coordinates the loop and sees one changed-row count per
  * round. Labels are cached per round and the loop is diameter-bounded; at
  * 100 TB add `localCheckpoint` every few rounds to truncate lineage, and
  * switch to the large-star/small-star variant if diameters are unbounded.
  */
object Graph {

  /** Thrown when an iterative components loop exits its round budget with
    * labels still changing. Typed so [[autoComponents]] can route the
    * fallback without matching on message text. */
  final class ConvergenceException(msg: String) extends IllegalStateException(msg)

  /** The CC loops run under size-first AQE coalescing — see
    * [[graft.Session.withSizeFirstCoalescing]] for the rationale and the
    * measured numbers (q179 18.3 → 12.8 s at sf0.1; the q67 3× regression
    * that keeps the flip scoped rather than session-wide). */
  private def withSizeFirstCoalescing[T](spark: SparkSession)(body: => T): T =
    graft.Session.withSizeFirstCoalescing(spark)(body)

  /** Deterministic test graph over `documents`: chain edges (i, i+1) where
    * i % 7 < 2 and jump edges (i, i+10) where i % 13 == 0 — small
    * multi-node components with nontrivial shapes, replayable in SQL. */
  private[graft] def edges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val e1 = docs.filter($"doc_id" % 7 < 2).select($"doc_id".as("src"), ($"doc_id" + 1).as("dst"))
    val e2 = docs.filter($"doc_id" % 13 === 0).select($"doc_id".as("src"), ($"doc_id" + 10).as("dst"))
    // keep only edges whose destination exists in the node set
    e1.unionByName(e2)
      .join(docs.select($"doc_id".as("dst")), Seq("dst"))
      .select($"src", $"dst")
  }

  /** Min-label propagation over an undirected edge list; returns
    * (node, comp) with comp = min node id reachable.
    *
    * `roundsPerAction` propagation rounds per ACTION (default 2): each
    * driver action evaluates the label-update plan that many times
    * back-to-back — same shuffles per round, fewer job-launch / cache /
    * convergence-check barriers (at 1000 executors every action is a full
    * cluster sync). Size it to the expected component diameter: near-dup
    * clusters are diameter-≤2 almost always, so 3 rounds converge AND
    * prove the fixpoint in a single action. The convergence metric rides
    * the cache-populating count via `observe` (one `CollectMetrics` node,
    * on the action's last round, no separate filtered-count job); a
    * zero-change round is a fixpoint, so stopping on the last round's
    * counter is exact. Every `checkpointEvery` actions the cached labels
    * are `localCheckpoint`ed to truncate the join-on-join lineage — at
    * 100 TB a deep cached-plan chain is a recompute bomb if an executor
    * loses a cache block. */
  def minLabelComponents(
      nodes: DataFrame,
      edgeList: DataFrame,
      maxIter: Int = 20,
      checkpointEvery: Int = 3,
      roundsPerAction: Int = 2,
      onDone: Int => Unit = _ => () // reports rounds executed (scaling probe)
  ): DataFrame = {
    import nodes.sparkSession.implicits._
    // cache the DIRECTED edges, not the symmetrized union: the edge list
    // may itself be an expensive plan (the dedup endgame feeds the minhash
    // pair pipeline in here), and a cache placed above the union would
    // evaluate that plan once per union branch during fill — both branches
    // below share ONE InMemoryRelation, so the plan runs once and every
    // round's symmetrize is two cheap cached scans. Respect a cache the
    // CALLER already established: cache()/unpersist() is not
    // reference-counted, so unpersisting a caller-cached edge list at the
    // end would silently drop data the caller still relies on.
    val callerCached = edgeList.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val e            = if (callerCached) edgeList else edgeList.cache()
    val sym = e.unionByName(e.select($"dst".as("src"), $"src".as("dst")))
    // one min-label round: neighborhood-min join + label update; the last
    // round of an action also observes its changed-row count in-pass
    def step(lbl: DataFrame, obs: Option[Observation]): DataFrame = {
      // deliberately UNHINTED joins: both sides are cached, so AQE plans
      // each round from ACCURATE runtime sizes — broadcast while the label
      // table provably fits (fast on fixtures), shuffle-on-key once it
      // doesn't (the 100 TB shape). This differs from the dedup self-joins,
      // whose shuffle_hash hints guard against a STATIC misestimate of an
      // exploded side; here there is nothing to misestimate. (Forcing
      // shuffle_hash was measured 3x slower at sf0.1: it trades one
      // broadcast for two exchanges of tiny tasks per round.)
      val nbrMin = sym
        .join(lbl, $"dst" === $"node")
        .groupBy($"src")
        .agg(min($"comp").as("nbr_comp"))
      val next = lbl
        .join(nbrMin, $"node" === $"src", "left")
        .select(
          $"node",
          least($"comp", coalesce($"nbr_comp", $"comp")).as("comp"),
          when($"nbr_comp" < $"comp", 1L).otherwise(0L).as("ch")
        )
      obs.fold(next)(o => next.observe(o, sum($"ch").as("changed"))).select($"node", $"comp")
    }
    def metric(obs: Observation): Long = obs.get("changed") match {
      case n: Number => n.longValue()
      case _         => 0L
    }
    withSizeFirstCoalescing(nodes.sparkSession) {
    var labels     = nodes.select($"node", $"node".as("comp")).cache()
    var changed    = 1L
    var action     = 0
    val rounds     = math.max(roundsPerAction, 1)
    val maxActions = (maxIter + rounds - 1) / rounds
    while (changed > 0 && action < maxActions) {
      val obs  = Observation(s"cc_a$action")
      val next = (1 to rounds)
        .foldLeft(labels)((lbl, r) => step(lbl, if (r == rounds) Some(obs) else None))
        .cache()
      next.count() // the action: fills the cache + the last round's observation
      changed = metric(obs)
      val prev = labels
      labels = next
      prev.unpersist()
      if (changed > 0 && (action + 1) % checkpointEvery == 0) {
        val chk = labels.localCheckpoint(true)
        labels.unpersist()
        labels = chk
      }
      action += 1
    }
    // Same fail-loudly contract as twoPhaseComponents: a silent exit with
    // labels still changing would return WRONG components (a diameter-
    // > maxIter chain keeps propagating), and downstream survivor election
    // would quietly pick wrong survivors. Callers that can tolerate long
    // chains should route to twoPhaseComponents (O(log² n) rounds).
    if (changed > 0) {
      labels.unpersist()
      if (!callerCached) e.unpersist()
      throw new Graph.ConvergenceException(
        s"minLabelComponents did not converge after $maxIter rounds " +
          s"($changed labels still changing) — component diameter exceeds " +
          "the round budget; raise maxIter or use twoPhaseComponents")
    }
    // Break the result's lineage from the loop caches BEFORE dropping
    // them: uncaching a parent INVALIDATES dependent cached data (Spark's
    // non-cascading uncache clears dependents for lazy rebuild), so
    // returning the cached `labels` directly would silently replay the
    // whole loop lineage — including a possibly-expensive edge plan like
    // the dedup endgame's minhash pairs — on the caller's next action.
    // The checkpoint copies only the tiny (node, comp) table out of the
    // cache, after which every loop cache can be dropped for real.
    val result = labels.localCheckpoint(true)
    labels.unpersist()
    if (!callerCached) e.unpersist()
    onDone(action * rounds)
    result
    }
  }

  /** Driver fast-path budget for [[autoComponents]] (r20): a MATERIALIZED
    * pair table at or under this many edges is solved with an in-memory
    * union-find instead of the iterative DataFrame loop. Why: each loop
    * ACTION costs 1.5–2 s of driver planning + AQE stage-pipeline latency
    * at fixture scale (measured r20 on a 325-edge rep graph — the cost is
    * per-action machinery, not data), and at cluster scale every action is
    * a full cluster sync. 2e6 edges collect to ~32 MB of (long, long)
    * pairs — the same order as a routine broadcast-join build side and far
    * under the 8 GB broadcast-relation cap, with union-find state ~3× the
    * collected size. This is the decontamDecision dispatch discipline: the
    * budget is measured per run, the over-budget route is the distributed
    * loop unchanged, and the fast path can never be taken on a plan whose
    * size the driver has not already paid to know (the edge table must be
    * cached/checkpointed, so the count is one metadata-cheap job). */
  private[graft] val CcDriverEdgeBudget = 2000000L

  /** Diameter-adaptive components: probe with [[minLabelComponents]] for a
    * fixed round budget (near-dup clusters are diameter-≤2 almost always,
    * so the probe both converges and proves the fixpoint in one or two
    * actions), and on non-convergence — a pathological corpus such as a
    * chain of paraphrase edits — switch to [[twoPhaseComponents]], whose
    * O(log² n) rounds are diameter-free. The probe's wasted work is
    * bounded by `probeRounds` cheap passes over the (small) pair subgraph;
    * the alternative — always running two-phase — pays its higher
    * per-round constant (two half-rounds, distinct()) on the 99% case.
    * Callers should cache `edgeList` when it is an expensive plan: both
    * attempts then share the one materialization. */
  def autoComponents(
      nodes: DataFrame,
      edgeList: DataFrame,
      probeRounds: Int = 9,
      roundsPerAction: Int = 3
  ): DataFrame = {
    import nodes.sparkSession.implicits._
    // Scale dispatch (r20): every production caller (the dedup endgames)
    // hands this an eagerly-checkpointed, minimally-projected (src, dst)
    // table, so the edge count is one cheap job over a LogicalRDD scan.
    // In-budget graphs skip the loop entirely; union-find with smaller-
    // root-wins linking IS min-label semantics (comp = min reachable id),
    // so the result is bit-identical to the loop's. Non-materialized edge
    // plans never take the fast path — counting would re-run an arbitrary
    // (possibly expensive) plan that the loop would have cached anyway.
    val materialized =
      edgeList.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        edgeList.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    if (materialized && edgeList.count() <= CcDriverEdgeBudget) {
      val edges = edgeList
        .select($"src".cast("long"), $"dst".cast("long"))
        .as[(Long, Long)]
        .collect()
      // union-find, roots elected by MIN id: linking the larger root under
      // the smaller keeps every root the component minimum at all times,
      // so no second min pass is needed; path compression keeps the
      // amortized cost near-linear despite the min-biased linking
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      val ids = new scala.collection.mutable.LongMap[Boolean]()
      edges.foreach { case (a, b) =>
        ids(a) = true; ids(b) = true
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val lbl = ids.keysIterator
        .map(x => (x, find(x)))
        .toSeq
        .toDF("node", "comp")
      // isolated nodes (callers may pass a superset of the endpoints) are
      // their own singleton component — same contract as the loop
      nodes
        .join(lbl, Seq("node"), "left")
        .select($"node", coalesce($"comp", $"node").as("comp"))
        .localCheckpoint(true) // lineage-free contract, as the loop paths
    } else
      try minLabelComponents(nodes, edgeList, maxIter = probeRounds, roundsPerAction = roundsPerAction)
      catch {
        // typed, not message-matched: a reworded message must not silently
        // turn the fallback off (dedupEndgame relies on this route)
        case _: Graph.ConvergenceException => twoPhaseComponents(nodes, edgeList)
      }
  }

  /** Large-star/small-star connected components — the two-phase MapReduce
    * CC algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): alternating rounds where every node hooks its
    * neighbors onto its minimum neighborhood member. Converges in
    * O(log² n) ROUNDS REGARDLESS OF COMPONENT DIAMETER — the at-scale
    * replacement for [[minLabelComponents]] when components can be long
    * chains (min-label propagation needs O(diameter) rounds: a 97-node
    * chain costs ~96 min-label rounds but ~6 two-phase rounds, and at
    * corpus scale every round is a cluster-wide barrier).
    *
    * Each half-round is one shuffle: a groupBy on the node key for the
    * neighborhood minimum plus an equi-join back — no broadcast of
    * anything unbounded (AQE decides from runtime cache sizes, as in
    * [[minLabelComponents]]). Convergence is detected by an order-free
    * edge-set fingerprint (count + xor of a 64-bit edge hash) computed in
    * the same action that materializes the round's cache; the returned
    * labels are localCheckpointed so the caller never re-executes the
    * loop lineage. */
  def twoPhaseComponents(
      nodes: DataFrame,
      edgeList: DataFrame,
      maxRounds: Int = 30,
      onDone: Int => Unit = _ => () // reports rounds executed (scaling probe)
  ): DataFrame = {
    import nodes.sparkSession.implicits._
    // large-star: every node u hooks each LARGER neighbor v onto
    // m(u) = min(Γ(u) ∪ {u}) — long chains halve in one round
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select($"v".as("u"), $"u".as("v")))
      val m = sym
        .groupBy($"u")
        .agg(min($"v").as("mv"))
        .select($"u", least($"u", $"mv").as("m"))
      sym.join(m, "u").filter($"v" > $"u").select($"v".as("u"), $"m".as("v")).distinct()
    }
    // small-star: orient edges toward the smaller endpoint; every node
    // hooks its smaller neighbors (and itself) onto their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val d = e
        .select(greatest($"u", $"v").as("u"), least($"u", $"v").as("v"))
        .filter($"u" =!= $"v")
      val m = d.groupBy($"u").agg(min($"v").as("m"))
      d.join(m, "u")
        .select($"v".as("u"), $"m".as("v"))
        .unionByName(m.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }
    // The edge-set fingerprint rides each round's MATERIALIZING action as
    // an observe() metric (one action per round, as minLabelComponents'
    // convergence count does — at 1000 executors every extra action is a
    // full cluster sync). localCheckpoint EVERY round, not every few: each
    // round's plan embeds the previous round's plan ~8 times (symmetrize +
    // two min-joins per half-round), so without the per-round plan CUT the
    // logical tree grows 8^k — analysis alone becomes exponential long
    // before execution (caching breaks execution lineage but not
    // logical-plan growth, which is why minLabelComponents'
    // every-few-rounds discipline is not enough here). The checkpointed
    // state is tiny: at most one star edge per non-root node. Old rounds'
    // checkpoint blocks are released by the context cleaner once
    // unreferenced.
    def observedCheckpoint(df: DataFrame, obs: Observation): DataFrame =
      df.observe(obs, count(lit(1)).as("cnt"), bit_xor(xxhash64($"u", $"v")).as("cxor"))
        .localCheckpoint(true)
    def fp(obs: Observation): (Long, Long) = {
      def l(k: String): Long = obs.get(k) match {
        case n: Number => n.longValue()
        case _         => 0L
      }
      (l("cnt"), l("cxor"))
    }
    withSizeFirstCoalescing(nodes.sparkSession) {
    val obs0 = Observation("cc2_r0")
    var e = observedCheckpoint(
      edgeList.select($"src".as("u"), $"dst".as("v")).filter($"u" =!= $"v").distinct(),
      obs0
    )
    var cur   = fp(obs0)
    var prev  = (-1L, 0L)
    var round = 0
    while (cur != prev && round < maxRounds) {
      val obs = Observation(s"cc2_r${round + 1}")
      e = observedCheckpoint(smallStar(largeStar(e)), obs)
      prev = cur
      cur = fp(obs)
      round += 1
    }
    // a silent exit with an unconverged edge set would label components
    // WRONG (the star extraction below assumes the fixpoint) — fail loudly
    if (cur != prev)
      throw new Graph.ConvergenceException(
        s"twoPhaseComponents did not converge in $maxRounds rounds (edges=${cur._1}); " +
          "raise maxRounds — convergence needs O(log^2 n) rounds"
      )
    onDone(round)
    // at the fixpoint the edge set is a star per component: (x, root)
    val lbl = e.groupBy($"u".as("node")).agg(min($"v").as("comp"))
    nodes
      .join(lbl, Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("comp"))
      .localCheckpoint(true) // lineage-free contract, as minLabelComponents
    }
  }

  /** Declared query: components of the deterministic doc graph — one row
    * per node with its component id (min member) and component size. */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.documents(spark, sfDir).select($"doc_id".as("node"))
    val comp  = minLabelComponents(nodes, edges(spark, sfDir))
    val sizes = comp.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
    comp
      .join(sizes, "comp")
      .select($"node", $"comp", $"comp_size")
      .orderBy($"node")
  }

  /** Declared query: components of a deliberately HIGH-DIAMETER graph —
    * consecutive doc_ids chained except across multiples of 97, giving
    * 97-node path components (diameter 96). Min-label propagation would
    * need ~96 rounds here; [[twoPhaseComponents]] finishes in ~6 — this
    * query exists to keep the logarithmic-round algorithm oracle-checked,
    * not just unit-tested. Output: (node, comp, comp_size) with comp =
    * the chain segment's first id, exactly (doc_id div 97) * 97. */
  def chainComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select($"doc_id")
    val e = docs
      .filter(($"doc_id" + 1) % 97 =!= 0)
      .select($"doc_id".as("src"), ($"doc_id" + 1).as("dst"))
      .join(docs.select($"doc_id".as("dst")), Seq("dst")) // last id has no successor
      .select($"src", $"dst")
    val comp  = twoPhaseComponents(docs.select($"doc_id".as("node")), e)
    val sizes = comp.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
    comp
      .join(sizes, "comp")
      .select($"node", $"comp", $"comp_size")
      .orderBy($"node")
  }

  /** Transitive reachability through the SQL entry point's RECURSIVE CTE
    * (Spark 4's UnionLoop execution): hop-bounded BFS from hub seeds
    * (src % 91 == 0) over the directed doc graph, returning each reachable
    * node with its minimum hop distance and path multiplicity. The edge set
    * is a DAG (dst > src always), so the UNION ALL recursion terminates
    * without the hop guard; the guard documents the bound and protects
    * arbitrary user graphs. Each recursion level is one equi-join shuffle —
    * the same per-level plan the hand-rolled [[minLabelComponents]] loop
    * executes, but declared in SQL and planned by Catalyst. */
  def recursiveReachability(spark: SparkSession, sfDir: String): DataFrame = {
    // Unique per-call view name: createOrReplaceTempView is session-global
    // mutable state, and a fixed name would race if two queries ran
    // concurrently in one SparkSession. sql() resolves the view eagerly, so
    // it can be dropped before returning.
    val v = s"doc_edges_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    edges(spark, sfDir).createOrReplaceTempView(v)
    try
      spark.sql(s"""
        WITH RECURSIVE reach(node, hop) AS (
          SELECT DISTINCT src AS node, 0 AS hop FROM $v WHERE src % 91 = 0
          UNION ALL
          SELECT e.dst, r.hop + 1
          FROM reach r JOIN $v e ON e.src = r.node
          WHERE r.hop < 10
        )
        SELECT node, CAST(MIN(hop) AS INT) AS min_hop, COUNT(*) AS n_paths
        FROM reach GROUP BY node ORDER BY node
      """)
    finally spark.catalog.dropTempView(v)
  }
}
