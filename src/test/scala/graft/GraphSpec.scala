package graft

import graft.operators.{Dedup, Graph}

/** Min-label connected components: exact clusters on a known graph, and the
  * real dedup integration (near-dup pairs → duplicate clusters → survivor). */
class GraphSpec extends SparkSpec {

  test("exact components on a hand-built graph") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val comp = Graph
      .minLabelComponents(nodes, edges)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("label loop runs at most one job per two rounds and cleans its caches") {
    import spark.implicits._
    // long chain 1-2-3-...-10: min label needs 9 propagation rounds to
    // reach the tail, so the loop genuinely iterates (5 two-round actions
    // + the zero-change detection ride along in the 5th)
    val nodes = (1L to 10L).toDF("node")
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst")

    // count driver ACTIONS (SQL executions), not raw jobs: under AQE every
    // shuffle-stage materialization is its own job, so job count measures
    // AQE granularity, not loop round trips
    val jobs  = new java.util.concurrent.atomic.AtomicInteger(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          jobs.incrementAndGet(); plans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val before = spark.sparkContext.getPersistentRDDs.size
    try {
      val comp = Graph.minLabelComponents(nodes, edges).as[(Long, Long)].collect().toMap
      assert(comp === (1L to 10L).map(_ -> 1L).toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
    // 9 rounds of propagation + 1 zero-change detection round = 5 actions;
    // each action is ONE count execution (convergence metric observed
    // in-pass), plus the final collect = 6. The old shape ran a cache-fill
    // count AND a filter().count() per round (= 20+). Assert well under
    // that with slack, failing loudly if a per-round action ever returns.
    // listener events are delivered async; poll briefly before asserting
    val deadline = System.nanoTime() + 5_000_000_000L
    while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(jobs.get() <= 9, s"expected <=9 SQL executions for the 9-round loop, saw ${jobs.get()}")
    // cache hygiene: everything the loop pinned is released except the
    // final labels (one RDD; a localCheckpoint can pin one more)
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 2, s"expected <=2 persistent RDDs after the loop, saw $leaked extra")
    // plan shape: the loop's joins are deliberately unhinted — AQE plans
    // each round from accurate runtime cache stats (broadcast while the
    // label table provably fits, shuffle-on-key beyond). Any broadcast in
    // these plans must therefore be AQE-chosen (runtime), never a static
    // estimate: assert the plans went through AdaptiveSparkPlan
    val loopPlans = plans.toArray.map(_.toString).filter(_.contains("hashpartitioning"))
    // guard the guard: an empty filter result would make the forall
    // vacuously true and silently stop testing anything
    assert(loopPlans.nonEmpty, "expected at least one shuffling loop plan to inspect")
    assert(loopPlans.forall(_.contains("AdaptiveSparkPlan")),
      "CC loop joins must be planned adaptively (runtime sizes), not statically")
  }

  test("each label-loop action observes only its last round: one CollectMetrics per action") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import spark.implicits._
    val nodes = (1L to 10L).toDF("node")
    val edges = (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val marker = s"graph_spec_marker_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val seen   = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) seen.countDown()
        else if (f == "count") { counts.add(qe.executedPlan); () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val comp = Graph.minLabelComponents(nodes, edges, roundsPerAction = 3).as[(Long, Long)].collect().toMap
      assert(comp === (1L to 10L).map(_ -> 1L).toMap)
      spark.range(1).toDF(marker).collect()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "the marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    // each count fills the cache of the action's labels: the plan it runs
    // is that cached relation's plan, whose cached inputs (the previous
    // labels) were computed by earlier actions
    object Plans extends AdaptiveSparkPlanHelper
    val actions = counts.toArray(Array.empty[SparkPlan]).toSeq.map { p =>
      Plans.collect(p) { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .map(Plans.collect(_) { case m: CollectMetricsExec => m }.size).sum
    }
    // 9 rounds to reach the tail + 1 zero-change round at 3 per action
    assert(actions.size === 4, s"count actions: $actions")
    assert(actions.forall(_ == 1), s"CollectMetrics nodes per action: $actions")
  }

  test("two-phase components equal min-label components on the hand graph") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val two = Graph
      .twoPhaseComponents(nodes, edges)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(two === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("two-phase components converge logarithmically on a 200-node chain") {
    import spark.implicits._
    // diameter 199: min-label would need 199 propagation rounds; the
    // two-phase algorithm must finish inside 12 (~log^2) — passing a hard
    // maxRounds cap means a slow convergence shows up as WRONG labels
    val nodes = (1L to 200L).toDF("node")
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Graph
      .twoPhaseComponents(nodes, edges, maxRounds = 12)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(comp === (1L to 200L).map(_ -> 1L).toMap,
      "12 rounds must suffice for a 200-chain (logarithmic convergence)")
  }

  test("two-phase and min-label components agree on random graphs (property check)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // seeded random graphs: 40 nodes, raw edge count drawn from 0..80 per
    // seed (so sparse near-empty and dense regimes both occur) — mixes
    // singletons, small clusters, cycles, and chain-ish shapes; the two
    // independent algorithms must produce identical labelings on every one
    val nNodes  = 40L
    val pairGen = for { a <- Gen.choose(1L, nNodes); b <- Gen.choose(1L, nNodes) } yield (a, b)
    val edgeGen = Gen.choose(0, 80).flatMap(n => Gen.listOfN(n, pairGen))
    (0 until 4).foreach { i =>
      val raw = edgeGen.apply(Gen.Parameters.default, Seed(1000L + i)).get
      val es  = raw.filter { case (a, b) => a != b }.distinct
      val nodes = (1L to nNodes).toDF("node")
      val edges = es.toDF("src", "dst")
      val a = Graph.minLabelComponents(nodes, edges, maxIter = 80).as[(Long, Long)].collect().toMap
      val b = Graph.twoPhaseComponents(nodes, edges).as[(Long, Long)].collect().toMap
      assert(a === b, s"seed ${1000 + i}: algorithms disagree on ${es.size} edges")
    }
  }

  test("min-label fails loudly when the diameter exceeds the round budget") {
    import spark.implicits._
    // 30-chain, 8-round budget: propagation cannot finish; a silent return
    // here would hand wrong labels to survivor election downstream
    val nodes = (1L to 30L).toDF("node")
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.minLabelComponents(nodes, edges, maxIter = 8)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("autoComponents reroutes a long chain through the two-phase path") {
    import spark.implicits._
    // diameter 59 >> probeRounds = 6: the min-label probe MUST trip its
    // convergence guard (previous test pins that), so a correct labeling
    // here can only have come from the two-phase fallback
    val nodes = (1L to 60L).toDF("node")
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Graph.autoComponents(nodes, edges, probeRounds = 6).as[(Long, Long)].collect().toMap
    assert(comp === (1L to 60L).map(_ -> 1L).toMap)
  }

  test("autoComponents stays on min-label for shallow graphs") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val comp  = Graph.autoComponents(nodes, edges).as[(Long, Long)].collect().toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("autoComponents driver fast path matches the loop on materialized edges (r20)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the production call sites hand autoComponents an eagerly-
    // localCheckpointed pair table — exactly the materialized shape that
    // takes the in-budget union-find fast path. The fast path must agree
    // with the independent two-phase algorithm on every random graph,
    // including min-id root election, long chains past any probe budget
    // (the loop path would have rerouted), and superset node lists with
    // isolated nodes (singleton components via the left join).
    val nNodes  = 40L
    val pairGen = for { a <- Gen.choose(1L, nNodes); b <- Gen.choose(1L, nNodes) } yield (a, b)
    val edgeGen = Gen.choose(0, 80).flatMap(n => Gen.listOfN(n, pairGen))
    (0 until 4).foreach { i =>
      val raw   = edgeGen.apply(Gen.Parameters.default, Seed(2000L + i)).get
      val es    = raw.filter { case (a, b) => a != b }.distinct
      val nodes = (1L to nNodes).toDF("node")
      val mat   = es.toDF("src", "dst").localCheckpoint(true)
      val fast  = Graph.autoComponents(nodes, mat).as[(Long, Long)].collect().toMap
      val ref   = Graph.twoPhaseComponents(nodes, es.toDF("src", "dst")).as[(Long, Long)].collect().toMap
      assert(fast === ref, s"seed ${2000 + i}: fast path disagrees on ${es.size} edges")
    }
    // a 60-chain (diameter 59): the fast path needs no probe/reroute and
    // must still label the whole chain with its minimum
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst").localCheckpoint(true)
    val comp  = Graph.autoComponents((1L to 60L).toDF("node"), chain).as[(Long, Long)].collect().toMap
    assert(comp === (1L to 60L).map(_ -> 1L).toMap)
  }

  test("minhash pairs cluster into duplicate components with the source as survivor") {
    import spark.implicits._
    val pairs = Dedup.minhashLshPairs(spark, sf)
    val nodes = Dedup
      .docsWithDups(spark, sf)
      .select($"doc_id".as("node"))
    val comp = Graph.minLabelComponents(
      nodes,
      pairs.select($"id1".as("src"), $"id2".as("dst"))
    )
    // every injected copy (id + 1_000_000) must share a component with its
    // source doc (clusters may legitimately merge further via natural
    // near-dup pairs between different sources)
    val byNode = comp.select($"node", $"comp")
    val copies = byNode
      .filter($"node" >= 1000000L)
      .select(($"node" - 1000000L).as("src_node"), $"comp".as("copy_comp"))
    val misplaced = copies
      .join(byNode.select($"node".as("src_node"), $"comp".as("src_comp")), "src_node")
      .filter($"copy_comp" =!= $"src_comp")
      .count()
    assert(misplaced === 0, "each injected duplicate clusters with its source doc")
  }
}
