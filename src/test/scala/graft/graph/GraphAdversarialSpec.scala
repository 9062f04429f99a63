package graft.graph

import graft.SparkSpec

/** Adversarial-topology pins for the iterative-graph fixpoint family.
  *
  * Lesson generalized from the round-7 connected-components bug: the
  * sf0.1 catalog oracle never produced the shared-child/two-parent shape
  * that broke the CC convergence probe — only a targeted unit test
  * caught it. So every fixpoint operator here is driven over at least
  * one topology the catalog data does NOT contain (self-loop cycles,
  * two-parent merges, zero-in-degree nodes, duplicate multigraph edges,
  * disconnected islands, tie storms) and asserted against an
  * INDEPENDENTLY computed sequential reference that mirrors the
  * documented semantics (Jacobi updates, integer trunc-div, multiset
  * degrees) in plain Scala collections.
  */
class GraphAdversarialSpec extends SparkSpec {
  import spark.implicits._

  // ---------- sequential references (plain Scala, no Spark) ----------

  /** Jacobi label propagation: label0(v)=v; label_{i+1}(v) = most
    * frequent label among v's in-neighbors (multiset, per edge row),
    * ties to the smallest label; no in-edges → keep previous label. */
  private def seqLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var lab = nodes.map(n => n -> n).toMap
    (1 to iters).foreach { _ =>
      lab = nodes.map { v =>
        val inLabels = edges.filter(_._2 == v).map(e => lab(e._1))
        if (inLabels.isEmpty) v -> lab(v)
        // toSeq first: mapping a Map to (cnt, -l) pairs would collapse
        // equal counts into one entry and break the tie set
        else v -> inLabels.groupBy(identity).toSeq
          .map { case (l, xs) => (xs.size, -l) }.max._2.unary_-
      }.toMap
    }
    lab
  }

  /** R-round peel on the edge list AS GIVEN (multigraph: duplicate rows
    * and self-loops count toward degree, mirroring kCorePeel's contract
    * — q216 normalizes its edges upstream). */
  private def seqPeel(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    var e = edges
    (1 to rounds).foreach { _ =>
      val deg = (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      e = e.filter(x => keep(x._1) && keep(x._2))
    }
    (e.map(_._1) ++ e.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  /** Integer PPR: rank0 = 1e6 on seeds∩nodes else 0; per round
    * inbox(d) += rank(s) div outdeg(s) per edge row;
    * rank'(v) = (150000 if seed) + inbox·85 div 100. */
  private def seqPpr(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val live = seeds.intersect(nodes.toSet)
    var rank = nodes.map(n => n -> (if (live(n)) 1000000L else 0L)).toMap
    (1 to iters).foreach { _ =>
      val inbox = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => inbox(d) += rank(s) / outdeg(s) }
      rank = nodes.map(n =>
        n -> ((if (live(n)) 150000L else 0L) + inbox(n) * 85 / 100)).toMap
    }
    rank
  }

  /** Level-synchronous multi-source BFS with min-hop semantics. */
  private def seqBfs(edges: Seq[(Long, Long)], sources: Set[Long], maxHops: Int): Map[Long, Long] = {
    var dist = sources.map(_ -> 0L).toMap
    var frontier = sources
    var h = 1L
    while (h <= maxHops && frontier.nonEmpty) {
      val next = edges.filter(e => frontier(e._1)).map(_._2).toSet -- dist.keySet
      dist ++= next.map(_ -> h)
      frontier = next
      h += 1
    }
    dist
  }

  /** Two unrolled HITS rounds over distinct (c, p): exact integer
    * micro-units with trunc-div max normalization after each half-step. */
  private def seqHits(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000L / mx }
    }
    val a1 = norm(edges.groupBy(_._2).map { case (p, xs) => p -> xs.size * 1000000L })
    val h1 = norm(edges.groupBy(_._1).map { case (c, xs) => c -> xs.map(x => a1(x._2)).sum })
    norm(edges.groupBy(_._2).map { case (p, xs) => p -> xs.map(x => h1(x._1)).sum })
  }

  private def collectMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // ---------- label propagation (q145 path) ----------

  test("labelPropagation: self-loops, tie storms, zero-in-degree sources, disconnected islands") {
    // node 3 has a 3-way first-round tie {1,2,3} (two parents + its own
    // self-loop) → smallest label 1 must win; node 1 has NO in-edges and
    // must keep its own label through every round; nodes 10/11 are a
    // disconnected 2-cycle (labels swap each Jacobi round — iteration-
    // count parity matters and the reference must reproduce it); node 20
    // is a pure self-loop island.
    val edges = Seq(
      (1L, 3L), (2L, 3L), (3L, 3L), // two-parent merge + self-loop tie
      (3L, 2L),                     // back-edge: 2's label tracks 3's
      (10L, 11L), (11L, 10L),       // disconnected swap cycle
      (20L, 20L)                    // self-loop island
    )
    (1 to 4).foreach { iters =>
      val got = collectMap(Graph.labelPropagation(edges.toDF("src", "dst"), iters))
      assert(got == seqLpa(edges, iters),
        s"iters=$iters: engine $got != reference ${seqLpa(edges, iters)}")
    }
    // the specific adversarial claims, hand-checked:
    val r1 = collectMap(Graph.labelPropagation(edges.toDF("src", "dst"), 1))
    assert(r1(3L) == 1L, "3-way tie must break to the smallest in-label")
    assert(r1(1L) == 1L && r1(20L) == 20L, "no-in-edge and self-loop islands keep labels")
    assert(r1(10L) == 11L && r1(11L) == 10L, "Jacobi swap cycle after one round")
    // duplicate edges weight the vote (multiset semantics): two 2→4 rows
    // outvote one 1→4 row, flipping the no-duplicate outcome (tie → 1)
    val dup = Seq((1L, 4L), (2L, 4L), (2L, 4L))
    val gotDup = collectMap(Graph.labelPropagation(dup.toDF("src", "dst"), 1))
    assert(gotDup(4L) == 2L && gotDup == seqLpa(dup, 1))
  }

  // ---------- k-core peel (q216 path) ----------

  test("kCorePeel: multigraph duplicates, self-loops, pendant chain onto a clique") {
    // K4 clique {1..4} with a pendant chain 4-5-6 hanging off it, a
    // self-loop at 7 (degree 2 from one row), and a DUPLICATED edge
    // (8,9)×2 (degree 2 each from two rows): k=2 peeling must keep the
    // clique forever, shed the chain one link per round, and keep the
    // self-loop and duplicate-edge pairs alive (multiset degrees).
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L), (7L, 7L), (8L, 9L), (8L, 9L))
    (1 to 3).foreach { rounds =>
      val got = collectMap(Graph.kCorePeel(edges.toDF("u", "v"), k = 2, rounds = rounds))
      assert(got == seqPeel(edges, 2, rounds),
        s"rounds=$rounds: engine $got != reference ${seqPeel(edges, 2, rounds)}")
    }
    val r2 = collectMap(Graph.kCorePeel(edges.toDF("u", "v"), k = 2, rounds = 2))
    assert(!r2.contains(6L) && !r2.contains(5L), "chain must be fully peeled by round 2")
    assert(r2.contains(7L) && r2(7L) == 2L, "self-loop contributes multiset degree 2")
    assert(r2.contains(8L) && r2.contains(9L), "duplicate edges keep the pair at degree 2")
    assert((1L to 4L).forall(r2.contains), "the 2-core clique survives")
  }

  // ---------- HITS (q233 path) ----------

  test("hitsAuthMicro: disconnected bipartite blocks and degree ties match the sequential iterate") {
    // block A: dense 3-customers × 2-parts biclique; block B: a single
    // isolated (c,p) pair — global max normalization couples the blocks
    // (B's authority is scaled by A's max), which no catalog topology
    // exercises; parts 102/103 tie exactly by symmetry.
    val edges = Seq(
      (1L, 100L), (1L, 102L), (1L, 103L),
      (2L, 102L), (2L, 103L),
      (3L, 102L), (3L, 103L),
      (50L, 200L) // isolated pair
    )
    val got = collectMap(Graph.hitsAuthMicro(edges.toDF("c", "p")))
    assert(got == seqHits(edges), s"engine $got != reference ${seqHits(edges)}")
    assert(got(102L) == got(103L) && got(102L) == 1000000L,
      "symmetric top parts must tie at the normalization ceiling")
    assert(got(200L) > 0 && got(200L) < got(100L),
      "isolated block scores positive but below the dense block's weakest part")
    // determinism across partitionings (integer arithmetic end-to-end)
    assert(collectMap(Graph.hitsAuthMicro(edges.toDF("c", "p").repartition(5))) == got)
  }

  // ---------- personalized PageRank (q255 path) ----------

  // seed 99 is NOT in the graph (must be ignored, not crash or inject
  // mass); seed 1 is DANGLING (no out-edges: its mass leaks, never
  // redistributes); seed 2 carries a self-loop; node 4 merges inflow
  // from two seed-fed parents; 10→11 is unreachable from any seed.
  private val pprEdges = Seq(
    (2L, 2L),           // self-loop on a seed
    (2L, 4L), (3L, 4L), // two-parent merge (3 fed by 2)
    (2L, 3L),
    (5L, 1L),           // dangling seed 1 still RECEIVES
    (10L, 11L)          // island, no seed mass ever
  )
  private val pprSeeds = Set(1L, 2L, 99L)

  test("personalizedPageRankMicro: absent seeds, dangling seeds, self-loops, two-seed merge") {
    // rounds 1–7 against seqPpr: the round-5 pin test below
    val r = collectMap(Graph.personalizedPageRankMicro(
      pprEdges.toDF("src", "dst"), pprSeeds.toSeq.toDF("id"), 3))
    assert(!r.contains(99L), "a seed absent from the graph must not appear")
    assert(r(10L) == 0L && r(11L) == 0L, "mass can only originate at seeds")
    assert(r(1L) == 150000L, "a dangling seed with no seed-fed in-edges holds teleport mass only")
    assert(r(4L) > 0L, "two-parent merge node accumulates from both paths")
  }

  test("pageRankMicro == PPR seeded with every node, through the round-5 pin") {
    // plain PageRank is the personalized core with every node a seed;
    // 7 rounds cross the checkpoint after round 5, so the pinned state
    // must carry the same ranks onward. A star (hub 0, both ways) gives
    // the hub every leaf's mass; the adversarial set adds self-loops, a
    // dangling node and an island.
    val star = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L)))
    val cases = Seq(("adversarial", pprEdges, pprSeeds), ("star", star, Set(0L, 3L)))
    for ((name, edges, seeds) <- cases; n <- 1 to 7) {
      val e = edges.toDF("src", "dst")
      val every = (edges.map(_._1) ++ edges.map(_._2)).toSet
      assert(collectMap(Graph.pageRankMicro(e, n)) == seqPpr(edges, every, n),
        s"$name pageRank n=$n")
      assert(collectMap(Graph.personalizedPageRankMicro(e, seeds.toSeq.toDF("id"), n)) ==
        seqPpr(edges, seeds, n), s"$name PPR n=$n")
    }
  }

  // ---------- bounded-hop BFS (q168 path) ----------

  test("boundedHops: self-loop cycles, diamond two-parent merges, late bridges, islands") {
    // self-loop at the source (must not re-enqueue), a 2-cycle back to
    // the source (visited-set check), a diamond where node 5 is reachable
    // in 2 hops via one arm and 3 via the other (min wins), a bridge into
    // a second component crossed exactly at the hop budget, and an
    // unreachable island {20,21}.
    val edges = Seq(
      (0L, 0L),           // self-loop at source
      (0L, 1L), (1L, 0L), // cycle back to source
      (0L, 2L), (2L, 5L),           // short diamond arm (2 hops)
      (0L, 3L), (3L, 4L), (4L, 5L), // long diamond arm (3 hops)
      (5L, 6L),           // bridge crossed at hop 3
      (20L, 21L)          // island
    )
    val sources = Set(0L)
    (1 to 4).foreach { mh =>
      val got = collectMap(
        Graph.boundedHops(edges.toDF("src", "dst"), sources.toSeq.toDF("id"), mh))
      assert(got == seqBfs(edges, sources, mh),
        s"maxHops=$mh: engine $got != reference ${seqBfs(edges, sources, mh)}")
    }
    val r3 = collectMap(
      Graph.boundedHops(edges.toDF("src", "dst"), sources.toSeq.toDF("id"), 3))
    assert(r3(5L) == 2L, "diamond merge must take the MIN hop count")
    assert(r3(6L) == 3L, "bridge is crossed exactly at the budget")
    assert(!r3.contains(20L) && !r3.contains(21L), "islands stay absent")
    assert(r3(0L) == 0L && r3(1L) == 1L, "cycles never relabel a visited node")
    // two sources, one inside the island: per-source wavefronts merge
    val r2src = collectMap(Graph.boundedHops(
      edges.toDF("src", "dst"), Seq(0L, 20L).toDF("id"), 2))
    assert(r2src == seqBfs(edges, Set(0L, 20L), 2) && r2src(21L) == 1L)
  }
}
