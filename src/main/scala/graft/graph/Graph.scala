package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph operators over (src, dst) edge DataFrames.
  *
  * Complements Dedup.connectedComponents (min-label propagation): here
  * live the rank/centrality-style iterative operators. Everything is
  * expressed as per-iteration join + aggregate — the shape that scales
  * to billions of edges because each round is one shuffle on the edge
  * key, with `localCheckpoint` truncating the otherwise
  * doubling-per-round lineage (same reasoning as Spark ML's iterative
  * checkpointing).
  */
object Graph {

  /** Rounds between the `localCheckpoint`s of an iteration's state.
    * Each round's plan references the previous state once, so lineage
    * grows LINEARLY — truncating it every round paid an eager job per
    * iteration for nothing. Checkpointing on the Spark ML cadence keeps
    * short catalog runs one fully-lazy job while long runs still bound
    * plan depth and recompute-on-failure cost.
    */
  private val CheckpointInterval = 5

  /** PageRank with damping 0.85 over integer micro-units — ranks are
    * BIGINT millionths, all arithmetic is integer (floor division,
    * integer sums), so results are bit-identical on any engine and any
    * partitioning/summation order (a double-summed PageRank is NOT
    * reproducible across engines: float addition is order-dependent).
    *
    * rank_0 = 1_000_000 per node;
    * contrib(e) = floor(rank(src) / outdeg(src));
    * rank'(v) = 150_000 + floor(85 · Σ contrib / 100).
    *
    * That is [[personalizedPageRankMicro]] with every node a seed, and it
    * runs the same rounds.
    *
    * Nodes appear in the output iff they occur in an edge. Dangling
    * nodes (no out-edges) simply leak their mass — callers wanting the
    * standard redistribute semantics should add reverse edges or a sink
    * edge per dangling node up front (the q92 catalog query feeds a
    * bidirectional graph, so every node has out-degree ≥ 1).
    */
  def pageRankMicro(edges: DataFrame, iterations: Int = 3): DataFrame =
    rankRounds(edges, iterations)(_.withColumn("is_seed", lit(true)))

  /** Personalized PageRank ([[pageRankMicro]] with the teleport mass
    * restricted to a SEED set) — "expand these known-good nodes through
    * the link structure": the seed-set expansion primitive behind
    * curated-domain growth and related-entity retrieval. The per-round
    * teleport term (150 000 micro) lands only on seeds, and the start
    * vector is 1e6 on seeds / 0 elsewhere — so mass can ONLY originate
    * at seeds and flow outward. Seeds not present in the graph are
    * ignored (left join from the node set).
    */
  def personalizedPageRankMicro(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int = 3): DataFrame =
    rankRounds(edges, iterations)(nodes => nodes
      .join(seeds.select(col("id")).distinct()
        .withColumn("is_seed", lit(true)), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed")))

  /** The integer rank iteration behind both PageRanks: `flag` turns the
    * graph's node set into the per-node (id, is_seed) base, pinned once
    * and read by every round. Per iteration: one join of ranks onto
    * edges (shuffle on src) and one aggregate onto dst — no driver-side
    * state, no collect.
    */
  private def rankRounds(edges: DataFrame, iterations: Int)(
      flag: DataFrame => DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val base = flag(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
      .localCheckpoint()
    var ranks = base.select(col("id"),
      when(col("is_seed"), lit(1000000L)).otherwise(lit(0L)).as("rank_micro"))
    (1 to iterations).foreach { i =>
      val contribs = e
        .join(outdeg, "src")
        .join(ranks.withColumnRenamed("id", "src"), "src")
        // `div` keeps the whole computation in 64-bit integers — a
        // floor(double) would lose exactness past 2^53 at hub nodes
        .select(col("dst").as("id"),
          expr("rank_micro div outdeg").as("contrib"))
        .groupBy("id").agg(sum("contrib").as("inbox"))
      ranks = base
        .join(contribs, Seq("id"), "left_outer")
        .select(col("id"),
          (when(col("is_seed"), lit(150000L)).otherwise(lit(0L)) +
            expr("coalesce(inbox, 0L) * 85 div 100"))
            .cast("long").as("rank_micro"))
      if (i % CheckpointInterval == 0) ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over the same (src, dst) edge frame. Differs from
    * Dedup.connectedComponents in WHAT it finds: components merge
    * through any single bridge edge, communities only where the
    * neighbor MAJORITY agrees — the structure used for domain/topic
    * grouping of near-dup graphs and link graphs.
    *
    * Classic LPA is nondeterministic (random visit order, random tie
    * break); this variant is fully deterministic so it can be
    * oracle-gated: all nodes update simultaneously from the previous
    * round's labels (Jacobi, not Gauss-Seidel), label_0(v) = v, and
    * label_{i+1}(v) = the most frequent label among v's in-neighbors,
    * ties broken toward the SMALLEST label. The argmax is one
    * `max(struct(cnt, -label))` partial+final aggregate — map-side
    * combines on hot nodes, no per-node window, no driver state.
    *
    * Per iteration: one shuffle joining labels onto edges (on src) and
    * one two-key aggregate — linear in |E| at any scale, lineage cut
    * per round like [[pageRankMicro]]. Nodes with no in-edges keep
    * their own label (left join + coalesce). A fixed small iteration
    * count is the standard large-graph practice (labels stabilize
    * locally long before global convergence).
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    var labels = nodes.withColumn("label", col("id"))
    (1 to iterations).foreach { i =>
      val counts = e
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = counts
        .groupBy("id")
        // lexicographic max over (cnt, -label) = highest count, ties to
        // the smallest label — deterministic on any partitioning
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("new_label"))
      labels = labels
        .join(best, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
      // linear lineage (labels referenced once per round)
      if (i % CheckpointInterval == 0) labels = labels.localCheckpoint()
    }
    labels
  }

  /** The degree orientation [[triangleCount]] and [[localClustering]]
    * share: `und` holds each undirected edge once as (a < b by id),
    * self-loops and duplicates dropped; `deg` is (n, d); `o` orients each
    * edge (src, dst) from its lower-(degree, id) endpoint to the higher.
    * `und` feeds the degrees, the orientation and the callers'
    * closing-edge probe as the SAME subtree, so ReuseExchange computes its
    * shuffle once — no localCheckpoint, no O(E) pinned executor storage
    * (PlanSpec pins the reuse).
    */
  private def degreeOriented(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val und = edges
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val lower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val o = und
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("src"),
        when(lower, col("b")).otherwise(col("a")).as("dst"))
    (und, deg, o)
  }

  /** Exact triangle count by degree ordering (the MapReduce-era cure for
    * the "curse of the last reducer", Suri & Vassilvitskii WWW 2011):
    * orient every undirected edge from its lower-(degree, id) endpoint
    * to the higher, so each node's OUT-neighborhood is bounded by
    * O(√E) even when a celebrity node has millions of neighbors — the
    * wedge join then materializes Σ outdeg² = O(E^1.5) candidate wedges
    * instead of Σ deg² (quadratic in the hottest node). The orientation
    * is acyclic and total-order consistent, so each triangle is counted
    * exactly once at its smallest vertex.
    *
    * `edges`: undirected, one row per edge as (u, v); duplicates and
    * direction are normalized away here. Returns one row
    * (n_nodes, n_edges, n_triangles). Three shuffles total: degree
    * count, wedge self-join on the oriented source, closing-edge join.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val (und, deg, o) = degreeOriented(edges)
    // wedge endpoints ordered by ID (not by the degree order), because
    // the closing edge is looked up in `und`, which stores every
    // undirected edge exactly once as (a < b by id) — so the lookup is
    // a pure equi-join, never an either-direction OR (which would plan
    // as a nested-loop product)
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("w1"), col("e2.dst").as("w2"))
    val closed = wedges.join(und,
      col("a") === col("w1") && col("b") === col("w2"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nTris = closed.agg(count(lit(1)).as("n_triangles"))
    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTris))
  }

  /** Per-node triangle participation and local clustering coefficient:
    * lcc(n) = 2·tri(n) / (d(n)·(d(n)−1)) in basis points — "how much of
    * a clique is each node's neighborhood" (spam rings and botnets sit
    * at high lcc; organic hubs at low). Same degree-ordered wedge
    * machinery as [[triangleCount]] (each triangle found ONCE at its
    * lowest-degree vertex), then each found triangle credits its three
    * vertices — one extra explode+agg over the found-triangle set, which
    * is tiny next to the wedge volume. Degree-1 nodes report NULL (no
    * pair of neighbors exists). Returns (n, d, n_tri, lcc_bp).
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val (und, deg, o) = degreeOriented(edges)
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("s"), col("e1.dst").as("w1"),
        col("e2.dst").as("w2"))
    val tri = wedges.join(und,
        col("a") === col("w1") && col("b") === col("w2"))
      .select(explode(array(col("s"), col("w1"), col("w2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("n"), "left_outer")
      .select(col("n"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("d") >= 2,
          expr("10000 * 2 * coalesce(n_tri, 0) div (d * (d - 1))"))
          .as("lcc_bp"))
  }

  /** Multi-source bounded-hop BFS: minimum hop count from any source to
    * every node reachable within `maxHops` directed hops. Exact and
    * deterministic (hop distance is a well-defined integer; no float, no
    * tie to break). The neighborhood primitive behind "entities within k
    * hops of a flagged account" sweeps and collaborative-filtering
    * candidate pools.
    *
    * Per round: frontier ⋈ edges on src (one shuffle), distinct on the
    * new frontier, anti-join against the visited set — level-synchronous
    * BFS, the standard scalable form (work per round ∝ edges incident to
    * the frontier, never nodes²). The visited set is localCheckpointed
    * per round to truncate the otherwise doubling lineage; frontiers
    * shrink as the wavefront saturates, and a drained frontier
    * short-circuits the remaining rounds entirely (an empty-frontier
    * count is O(1) against the checkpointed block).
    */
  def boundedHops(
      edges: DataFrame,
      sources: DataFrame,
      maxHops: Int): DataFrame = {
    // the STATIC edge list is consumed once per round — pin it, or its
    // upstream derivation (typically a join+distinct) re-runs every hop
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // each round's frontier is localCheckpointed (it is re-read by the
    // next round's expansion, the anti-join, AND the drain check); the
    // visited set is just the UNION of those checkpointed frontiers —
    // materializing it again per round would pay a second eager pass
    // over data that is already pinned
    var frontiers = List(
      sources.select(col("id").cast("long").as("id"))
        .distinct()
        .withColumn("hops", lit(0L))
        .localCheckpoint())
    var h = 1
    var drained = false
    while (h <= maxHops && !drained) {
      val visitedIds = frontiers.map(_.select("id")).reduce(_ union _)
      val next = e
        .join(frontiers.head.select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
        .join(visitedIds, Seq("id"), "left_anti")
        .withColumn("hops", lit(h.toLong))
        .localCheckpoint()
      drained = next.isEmpty
      if (!drained) frontiers = next :: frontiers
      h += 1
    }
    frontiers.reduce(_ unionByName _)
  }

  /** Bounded-round k-core peel: `rounds` iterations of "drop every node
    * with degree < k, and its edges" over an undirected edge list
    * (u < v, distinct). Peeling is monotone — each round only removes —
    * so R rounds give the exact R-step prefix of the peel toward the
    * k-core (the spam/community-core primitive); the caller picks R the
    * way PageRank/LPA pick their round counts, and the oracle unrolls
    * the SAME R rounds. Returns surviving (n, degree).
    *
    * Scale shape: each round is one degree aggregate + two semi-join
    * filters on the shrinking edge list — work ∝ surviving edges, one
    * shuffle family per round. UNLIKE the single-chain iterations
    * (PageRank/LPA, interval checkpointing), every peel round consumes
    * the previous edge list TWICE (degree count + filter join), so an
    * uncheckpointed lineage recomputes upstream rounds 2^R times —
    * measured 17 s vs 2 s on the sf0.1 co-purchase graph. The shrinking
    * edge list is therefore localCheckpointed every round.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"degenerate peel k=$k rounds=$rounds")
    var e = edges.select(col("u"), col("v"))
    var r = 1
    while (r <= rounds) {
      val deg = e.select(col("u").as("n"))
        .union(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      e = e
        .join(keep.select(col("n").as("u")), "u")
        .join(keep.select(col("n").as("v")), "v")
        .select("u", "v")
        .localCheckpoint() // read twice next round; see scaladoc
      r += 1
    }
    e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("degree"))
  }

  /** Two unrolled HITS rounds (Kleinberg 1999) over a bipartite (c, p)
    * edge list, in exact integer micro-units: authority seeds at
    * 1e6·indegree, each half-step is one edge-keyed join + grouped sum,
    * and scores are max-normalized to ≤1e6 after every half-step via a
    * broadcast 1-row global max — so every score is engine- and
    * partition-exact (trunc vs floor div agree: all quantities are
    * non-negative). Returns per-p authority scores (p, a).
    *
    * PRECONDITION: `edges` is distinct (c, p) pairs — duplicates would
    * multiply-count a neighbor's score. q233 is the catalog user;
    * factored here so adversarial topologies (disconnected blocks,
    * degree ties) are spec-pinned against a sequential reference
    * (GraphAdversarialSpec).
    *
    * `pin` cuts lineage at the edge list and each half-step (the
    * production default is `localCheckpoint`); PlanSpec passes
    * `identity` to assert the COMPOSED plan's shape (map-side combine
    * per half-step, broadcast-only normalization), which the pinned
    * plan truncates at the checkpoint cuts.
    */
  def hitsAuthMicro(
      edges: DataFrame,
      pin: DataFrame => DataFrame = _.localCheckpoint()): DataFrame = {
    // Pin the edge list once and each half-step's UN-normalized scores:
    // every maxNorm references its input twice (rows + the 1-row max)
    // and every half-step joins the edge list again, so the fully-lazy
    // unrolled plan doubles per half-step — q233's initial plan carried
    // 124 Exchange nodes including 14 copies of the caller's edge
    // derivation (a fact⋈fact join + distinct), all replanned by AQE
    // every run. Pinned, the plan is linear: three node-sized
    // checkpoints plus one edge-list job, each half-step one join + one
    // grouped sum over pinned blocks.
    val e = pin(edges.select(col("c"), col("p")))
    def maxNorm(df: DataFrame, vCol: String) = {
      val pinned = pin(df)
      pinned.crossJoin(broadcast(pinned.agg(max(vCol).as("_mx"))))
        .select(pinned.columns.filter(_ != vCol).map(col) :+
          expr(s"($vCol * 1000000) div _mx").as(vCol): _*)
    }
    val a1 = maxNorm(e.groupBy("p").agg((count(lit(1)) * 1000000L).as("a")), "a")
    val h1 = maxNorm(e.join(a1, "p").groupBy("c").agg(sum("a").as("h")), "h")
    maxNorm(e.join(h1, "c").groupBy("p").agg(sum("h").as("a")), "a")
  }

  /** Newman modularity Q of a community assignment — the standard "are
    * these communities real" score that pairs with [[labelPropagation]]
    * the way ARI (q194) pairs with k-means: Q = Σ_c [e_c/m − (d_c/2m)²],
    * the intra-community edge fraction minus what a degree-preserving
    * random rewiring would put there. Q ≈ 0 means the partition is no
    * better than chance; 0.3+ means real structure.
    *
    * `edges`: directed-both-ways (src, dst), no self-loops — the same
    * relation [[labelPropagation]] consumes, so callers pass one edge
    * list to both. `labels`: (id, label). Returns ONE row
    * (n_nodes, n_communities, m_edges, intra_edges, q_bp).
    *
    * Exactness at scale: with S = Σ_c d_c² and E = Σ_c e_c, Q is the
    * rational (4mE − S)/(4m²) — all three terms are exact Longs
    * (S ≤ (2m)² needs ~2·log₂m bits; 10⁷ edges → 2·10¹⁴, well inside
    * Long), so q_bp = ⌊10⁴·(4mE−S)/(4m²)⌋ is computed in integer
    * arithmetic with an EXPLICIT floor (num − pmod(num, den), since
    * integer `div` truncates toward zero and Q can be negative for
    * adversarial partitions). Cost: two keyed aggs (degree, d_c) plus
    * one labels-join to classify edges as intra/inter — everything
    * downstream of the edge list is community-count sized, and the
    * 1-row aggregates combine via broadcast crossJoins.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val lab = labels.select(col("id"), col("label"))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val dc = deg.join(lab, "id").groupBy("label").agg(sum("d").as("dsum"))
    val comm = dc.agg(
      count(lit(1)).as("n_communities"),
      // square in DECIMAL: a single giant community's dsum² passes 2⁶³
      // at ~3·10⁹ total degree
      sum(col("dsum").cast("decimal(38,0)") * col("dsum").cast("decimal(38,0)"))
        .as("sd2"),
      // Σ_c d_c = Σ deg = 2m exactly, and it's even — shiftright keeps
      // the halving in Long arithmetic (no double round-trip)
      shiftright(sum("dsum"), 1).as("m_edges"))
    val intra2 = e
      .join(lab.select(col("id").as("src"), col("label").as("ls")), "src")
      .join(lab.select(col("id").as("dst"), col("label").as("ld")), "dst")
      .agg(sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).as("intra2"))
    val nn = lab.agg(count(lit(1)).as("n_nodes"))
    nn.crossJoin(broadcast(comm)).crossJoin(broadcast(intra2))
      .select(col("n_nodes"), col("n_communities"), col("m_edges"),
        shiftright(col("intra2"), 1).as("intra_edges"),
        col("sd2"))
      // DECIMAL(38,0) for the products: 10⁴·4·m·e is ~2·log₂m + 16 bits
      // and overflows Long silently for m ≳ 1.5·10⁷ edges — far below
      // the engine's scale target. 38 decimal digits carry m up to
      // ~10¹⁶ edges exactly. The quotient is a basis-point value, so
      // the final `div` result fits Long trivially.
      .withColumn("num",
        lit(10000L).cast("decimal(38,0)") *
          (lit(4L) * col("m_edges").cast("decimal(38,0)") *
            col("intra_edges").cast("decimal(38,0)") -
            col("sd2").cast("decimal(38,0)")))
      .withColumn("den",
        lit(4L) * col("m_edges").cast("decimal(38,0)") *
          col("m_edges").cast("decimal(38,0)"))
      .select(col("n_nodes"), col("n_communities"), col("m_edges"),
        col("intra_edges"),
        // num − pmod(num, den) is exactly divisible, so truncating `div`
        // IS the floor quotient (Q can be negative; plain div truncates
        // toward zero) — exact in DECIMAL, returned as Long
        expr("(num - pmod(num, den)) div den").as("q_bp"))
  }
}
