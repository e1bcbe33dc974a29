package graft

import graft.operators.{Dedup, Graph}

/** Connected components: driver union-find and two-phase large-star/
  * small-star behind [[Graph.autoComponents]] — exact clusters on known
  * graphs, the node-subset contract on both dispatch paths, and the real
  * dedup integration (near-dup pairs → duplicate clusters → survivor). */
class GraphSpec extends SparkSpec {

  test("exact components on a hand-built graph") {
    import spark.implicits._
    val nodes  = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("node")
    val edges  = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L)
    // a plan edge list runs two-phase; checkpointed edges take union-find
    assert(Graph.autoComponents(nodes, edges).as[(Long, Long)].collect().toMap === expect)
    assert(Graph.autoComponents(nodes, edges.localCheckpoint(true)).as[(Long, Long)].collect().toMap === expect)
  }

  test("components follow edges through endpoints missing from the node list, on both paths") {
    import spark.implicits._
    // nodes {1, 3} over the path 1-2-3: 2 is not asked for, but 1 and 3
    // are connected through it; 9 touches no edge and is a singleton
    val nodes  = Seq(1L, 3L, 9L).toDF("node")
    val edges  = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val expect = Map(1L -> 1L, 3L -> 1L, 9L -> 9L)
    val twoPhase  = Graph.autoComponents(nodes, edges).as[(Long, Long)].collect().toMap
    val unionFind = Graph.autoComponents(nodes, edges.localCheckpoint(true)).as[(Long, Long)].collect().toMap
    assert(twoPhase === expect, "plan edge list (two-phase)")
    assert(unionFind === expect, "checkpointed edge list (union-find)")
  }

  test("two-phase components leave at most two persistent RDDs behind") {
    import spark.implicits._
    // a 10-chain takes several rounds, each checkpointed; everything the
    // rounds pinned is released except the returned labels (one
    // localCheckpoint, plus at most one more)
    val nodes  = (1L to 10L).toDF("node")
    val edges  = (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val comp   = Graph.twoPhaseComponents(nodes, edges).as[(Long, Long)].collect().toMap
    assert(comp === (1L to 10L).map(_ -> 1L).toMap)
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 2, s"expected <=2 persistent RDDs after the call, saw $leaked extra")
  }

  test("two-phase components converge logarithmically on a 200-node chain") {
    import spark.implicits._
    // diameter 199: propagating the minimum label takes 199 rounds; the
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

  test("two-phase and union-find components agree on random graphs (property check)") {
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
      val a = Graph.twoPhaseComponents(nodes, edges).as[(Long, Long)].collect().toMap
      val b = Graph.autoComponents(nodes, edges.localCheckpoint(true)).as[(Long, Long)].collect().toMap
      assert(a === b, s"seed ${1000 + i}: algorithms disagree on ${es.size} edges")
    }
  }

  test("two-phase fails loudly when the chain exceeds the round budget") {
    import spark.implicits._
    // 60-chain, 1 round: the edge set cannot reach its fixpoint; a silent
    // return here would hand wrong labels to survivor election downstream
    val nodes = (1L to 60L).toDF("node")
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.twoPhaseComponents(nodes, edges, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("autoComponents reroutes a long chain through the two-phase path") {
    import spark.implicits._
    // a plan edge list (not materialized) never takes the driver path:
    // the 60-chain (diameter 59) must come back whole from two-phase
    val nodes = (1L to 60L).toDF("node")
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp  = Graph.autoComponents(nodes, edges).as[(Long, Long)].collect().toMap
    assert(comp === (1L to 60L).map(_ -> 1L).toMap)
  }

  test("autoComponents driver fast path matches the loop on materialized edges (r20)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the production call sites hand autoComponents an eagerly-
    // localCheckpointed pair table — exactly the materialized shape that
    // takes the in-budget union-find fast path. The fast path must agree
    // with the independent two-phase algorithm on every random graph,
    // including min-id root election, long chains, and superset node
    // lists with isolated nodes (singleton components via the left join).
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
    // a 60-chain (diameter 59): the fast path must label the whole chain
    // with its minimum
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
    val comp = Graph.autoComponents(
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
