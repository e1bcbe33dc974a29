package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components — the clustering step a dedup pipeline runs AFTER
  * pair generation: near-dup pairs form edges, components are the duplicate
  * clusters, and one survivor is kept per component (comp = the minimum
  * node id reachable). Two algorithms, one dispatch ([[autoComponents]]):
  *
  *  - driver union-find, for a materialized edge table of at most
  *    [[CcDriverEdgeBudget]] edges: one collect, no per-round jobs;
  *  - two-phase large-star/small-star ([[twoPhaseComponents]], Kiveris et
  *    al., SoCC'14) for everything else: O(log² n) distributed rounds
  *    regardless of component diameter, one shuffle per half-round.
  */
object Graph {

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

  /** Driver fast-path budget for [[autoComponents]] (r20): a MATERIALIZED
    * pair table at or under this many edges is solved with an in-memory
    * union-find instead of the distributed rounds. Why: each round's
    * ACTION costs driver planning + AQE stage-pipeline latency that at
    * fixture scale dwarfs the data (measured r20 on a 325-edge rep graph —
    * the cost is per-action machinery), and at cluster scale every action
    * is a full cluster sync. 2e6 edges collect to ~32 MB of (long, long)
    * pairs — the same order as a routine broadcast-join build side and far
    * under the 8 GB broadcast-relation cap, with union-find state ~3× the
    * collected size. This is the decontamDecision dispatch discipline: the
    * budget is measured per run, the over-budget route is
    * [[twoPhaseComponents]] unchanged, and the fast path can never be taken
    * on a plan whose size the driver has not already paid to know (the
    * edge table must be cached/checkpointed, so the count is one
    * metadata-cheap job). */
  private[graft] val CcDriverEdgeBudget = 2000000L

  /** Connected components of the undirected `edgeList` (src, dst),
    * returned as (node, comp) with comp = the minimum node id reachable.
    *
    * Node-subset contract: components are taken over the EDGE LIST, and
    * `nodes` (one `node` column) only picks which rows come back. Paths
    * run through every edge endpoint, listed in `nodes` or not — nodes
    * {1, 3} with edges (1,2), (2,3) give {1→1, 3→1} — and a node that
    * touches no edge comes back as its own singleton component.
    *
    * Dispatch: a materialized edge table (cached or checkpointed) of at
    * most [[CcDriverEdgeBudget]] edges is collected and solved by driver
    * union-find; anything else — over budget, or a plan whose count the
    * driver would have to run — goes to [[twoPhaseComponents]]. Both give
    * the same labels. Callers should checkpoint an expensive edge plan
    * first: that both enables the fast path and keeps its lineage out of
    * every distributed round. The result is lineage-free on either path. */
  def autoComponents(nodes: DataFrame, edgeList: DataFrame): DataFrame = {
    val materialized =
      edgeList.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        edgeList.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    if (materialized && edgeList.count() <= CcDriverEdgeBudget) labelNodes(nodes, unionFind(edgeList))
    else twoPhaseComponents(nodes, edgeList)
  }

  /** (node, comp) for every edge endpoint, by union-find over the
    * collected edges. */
  private def unionFind(edgeList: DataFrame): DataFrame = {
    import edgeList.sparkSession.implicits._
    val edges = edgeList
      .select($"src".cast("long"), $"dst".cast("long"))
      .as[(Long, Long)]
      .collect()
    // roots elected by MIN id: linking the larger root under the smaller
    // keeps every root the component minimum at all times, so no second
    // min pass is needed; path compression keeps the amortized cost
    // near-linear despite the min-biased linking
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
    ids.keysIterator.map(x => (x, find(x))).toSeq.toDF("node", "comp")
  }

  /** (node, comp) for every row of `nodes` from a label table covering
    * the edge endpoints; a node without a label is a singleton. */
  private def labelNodes(nodes: DataFrame, lbl: DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    nodes
      .join(lbl, Seq("node"), "left")
      .select($"node", coalesce($"comp", $"node").as("comp"))
      .localCheckpoint(true) // lineage-free: the caller never replays the rounds
  }

  /** Large-star/small-star connected components — the two-phase MapReduce
    * CC algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): alternating rounds where every node hooks its
    * neighbors onto its minimum neighborhood member. Converges in
    * O(log² n) ROUNDS REGARDLESS OF COMPONENT DIAMETER (a 97-node chain
    * takes ~6 rounds, where propagating the minimum label along it would
    * take ~96, and at corpus scale every round is a cluster-wide barrier).
    * Same node-subset contract as [[autoComponents]].
    *
    * Each half-round is one shuffle: a groupBy on the node key for the
    * neighborhood minimum plus an equi-join back — no broadcast of
    * anything unbounded (the joins are unhinted, so AQE decides from the
    * checkpointed rounds' runtime sizes). Convergence is detected by an
    * order-free edge-set fingerprint (count + xor of a 64-bit edge hash)
    * computed in the same action that materializes the round's
    * checkpoint; the returned labels are localCheckpointed so the caller
    * never re-executes the loop lineage. */
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
    // an observe() metric (one action per round — at 1000 executors every
    // extra action is a full cluster sync). localCheckpoint EVERY round,
    // not every few: each round's plan embeds the previous round's plan ~8
    // times (symmetrize + two min-joins per half-round), so without the
    // per-round plan CUT the logical tree grows 8^k — analysis alone
    // becomes exponential long before execution (caching breaks execution
    // lineage but not logical-plan growth). The checkpointed state is
    // tiny: at most one star edge per non-root node. A round's checkpoint
    // is released as soon as the next round has materialized from it (that
    // round's own checkpoint cut the lineage), not left to the context
    // cleaner, which unpersists only after a GC happens to collect the
    // round's Dataset.
    def observedCheckpoint(df: DataFrame, obs: Observation): DataFrame =
      df.observe(obs, count(lit(1)).as("cnt"), bit_xor(xxhash64($"u", $"v")).as("cxor"))
        .localCheckpoint(true)
    def release(checkpointed: DataFrame): Unit =
      checkpointed.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = false))
    def fp(obs: Observation): (Long, Long) = {
      def l(k: String): Long = obs.get(k) match {
        case n: Number => n.longValue()
        case _         => 0L
      }
      (l("cnt"), l("cxor"))
    }
    graft.Session.withSizeFirstCoalescing(nodes.sparkSession) {
    val obs0 = Observation("cc2_r0")
    var e = observedCheckpoint(
      edgeList.select($"src".as("u"), $"dst".as("v")).filter($"u" =!= $"v").distinct(),
      obs0
    )
    var cur   = fp(obs0)
    var prev  = (-1L, 0L)
    var round = 0
    while (cur != prev && round < maxRounds) {
      val obs  = Observation(s"cc2_r${round + 1}")
      val next = observedCheckpoint(smallStar(largeStar(e)), obs)
      release(e)
      e = next
      prev = cur
      cur = fp(obs)
      round += 1
    }
    // a silent exit with an unconverged edge set would label components
    // WRONG (the star extraction below assumes the fixpoint) — fail loudly
    if (cur != prev)
      throw new IllegalStateException(
        s"twoPhaseComponents did not converge in $maxRounds rounds (edges=${cur._1}); " +
          "raise maxRounds — convergence needs O(log^2 n) rounds"
      )
    onDone(round)
    // at the fixpoint the edge set is a star per component: (x, root)
    labelNodes(nodes, e.groupBy($"u".as("node")).agg(min($"v").as("comp")))
    }
  }

  /** Declared query: components of the deterministic doc graph — one row
    * per node with its component id (min member) and component size. */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nodes = Tables.documents(spark, sfDir).select($"doc_id".as("node"))
    val comp  = autoComponents(nodes, edges(spark, sfDir).localCheckpoint(true))
    val sizes = comp.groupBy($"comp").agg(count(lit(1)).as("comp_size"))
    comp
      .join(sizes, "comp")
      .select($"node", $"comp", $"comp_size")
      .orderBy($"node")
  }

  /** Declared query: components of a deliberately HIGH-DIAMETER graph —
    * consecutive doc_ids chained except across multiples of 97, giving
    * 97-node path components (diameter 96), which [[twoPhaseComponents]]
    * labels in ~6 rounds. Called directly, not through [[autoComponents]]:
    * this query keeps the distributed algorithm oracle-checked at fixture
    * scale, where the dispatch would take the driver union-find. Output:
    * (node, comp, comp_size) with comp = the chain segment's first id,
    * exactly (doc_id div 97) * 97. */
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
    * declared in SQL and planned by Catalyst. */
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
