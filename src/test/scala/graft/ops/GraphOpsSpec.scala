package graft.ops

import graft.SparkSuite

class GraphOpsSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents: chains collapse transitively, disjoint parts stay apart") {
    // 1-2-3-...-8 (a 7-hop chain: exercises multi-round propagation),
    // 20-21 (separate pair), 30-31-32 (triangle-free V shape)
    val edges = ((1L to 7L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (30L, 31L), (31L, 32L))).toDF("s", "d")
    val comp = GraphOps.connectedComponents(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 8L).foreach(n => assert(comp(n) == 1L, s"node $n"))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    Seq(30L, 31L, 32L).foreach(n => assert(comp(n) == 30L))
    assert(comp.size == 13) // only nodes that appear in edges
  }

  test("connectedComponents: edge direction does not matter") {
    val forward = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val backward = Seq((2L, 1L), (3L, 2L)).toDF("s", "d")
    val a = GraphOps.connectedComponents(forward, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.connectedComponents(backward, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b && a.values.toSet == Set(1L))
  }

  test("connectedComponents fails loudly instead of returning split components") {
    // diameter 4 with maxRounds 2 -> must throw, never silently truncate
    val edges = (1L to 5L).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("s", "d")
    spark.catalog.clearCache()
    intercept[IllegalArgumentException] {
      GraphOps.connectedComponents(edges, "s", "d", maxRounds = 2)
    }
    // the failure path must unpersist both the edge list and the last
    // label frame — a long-running session (Bench, `graft.Dev prof`)
    // would otherwise accumulate dead cache entries on every failed
    // invocation
    assert(spark.sharedState.cacheManager.isEmpty,
      "non-convergence leaked persisted frames in the cache manager")
  }

  test("connectedComponentsStar matches min-label propagation on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2).toDF("s", "d")
      val byProp = GraphOps.connectedComponents(edges, "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byStar = GraphOps.connectedComponentsStar(edges, "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byStar == byProp, s"trial $trial: star labels diverge from propagation")
      spark.catalog.clearCache()
    }
  }

  test("connectedComponentsStar: a 200-node chain converges in log²-ish rounds") {
    // diameter 199: min-label propagation would need ~199 rounds; the
    // star rewrites must finish far inside 12 — this bound IS the test
    // of the O(log²n) claim on the worst-case (chain) topology
    val edges = (1L to 200L).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("s", "d")
    val comp = GraphOps.connectedComponentsStar(edges, "s", "d", maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 200 && comp.values.forall(_ == 1L))
  }

  test("connectedComponentsStar: self-loops and singletons label themselves") {
    val edges = Seq((5L, 5L), (7L, 8L)).toDF("s", "d")
    val comp = GraphOps.connectedComponentsStar(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(5L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponentsStar non-convergence leaves the cache manager empty") {
    val edges = (1L to 50L).sliding(2).map(p => (p.head, p.last)).toSeq.toDF("s", "d")
    spark.catalog.clearCache()
    intercept[IllegalArgumentException] {
      GraphOps.connectedComponentsStar(edges, "s", "d", maxRounds = 1)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "non-convergence leaked persisted frames in the cache manager")
    // success keeps ONLY the returned labels cached (documented contract)
    val labels = GraphOps.connectedComponentsStar(edges, "s", "d")
    assert(!spark.sharedState.cacheManager.isEmpty)
    labels.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "one unpersist must release everything the call left behind")
  }
}
