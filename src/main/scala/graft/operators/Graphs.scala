package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import graft.core.Lineage

/** Distributed graph scoring over edge lists — the shuffle-on-edge
  * shape that scales: per-iteration state is one (node, rank) frame,
  * each round is one equi-join on the edge source + one groupBy on the
  * destination. No adjacency materialization, no driver-side graph.
  * Complements Dedup.connectedComponents (pointer-doubling min-label).
  */
object Graphs {

  /** PageRank with a fixed iteration count (the batch form: unrollable,
    * deterministic, ORACLE-mirrorable — a convergence loop would be
    * data-dependent). Contract: every node must have at least one
    * out-edge (feed symmetric edges for bipartite/undirected graphs;
    * checked). Dangling-mass redistribution is deliberately out of
    * scope — symmetric edges make it unreachable. Returns the |V|-row
    * (id, rank) frame as a leaf; the graph leaves it iterated over are
    * released before returning.
    *
    * Each iteration: contributions = edges ⋈ per-node shares
    * (rank / out_deg) on src (one shuffle on src, which stays stable
    * across iterations so AQE/exchange reuse applies), then sum per
    * dst (one shuffle on dst). At any
    * scale the state frame is |V| rows — never collected.
    *
    * @param edges (srcCol, dstCol) directed edge list; duplicates are
    *              dropped (distinct) so parallel edges don't double-count.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 2, damping: Double = 0.85): DataFrame = {
    val (distinctEdges, nodes) = degreeLeaves(edges, srcCol, dstCol)
    val result = pageRankOn(distinctEdges, nodes, iters, damping)
    DatasetBridge.release(nodes)
    DatasetBridge.release(distinctEdges)
    result
  }

  /** The two leaves the pageRank family iterates over, each at its own
    * grain: the DISTINCT edge list `(src, dst)`, the one edge-scale
    * leaf, and the node leaf `(id, out_deg)` — every node of either
    * side, with its out-degree, NULL for a node with no out-edge (which
    * the loops' prechecks reject). Degree is a per-node fact, so it is
    * stored |V| times, not joined onto every edge. */
  private def degreeLeaves(edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) = {
    // hash(src) layout at the configured shuffle width: the dedup AND
    // every iteration's edges⋈shares equi-join are src-keyed, so one
    // exchange here replaces one per round (guide §2.4);
    // dropDuplicates over the src-clustered frame needs no second
    // exchange (src ⊆ dedup keys)
    val e = Lineage.truncate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src")).dropDuplicates())
    // one groupBy over both endpoints: a dst-only node sums no 1s
    val nodes = Lineage.truncate(
      e.select(col("src").as("id"), lit(1L).as("one"))
        .union(e.select(col("dst").as("id"), lit(null).cast("long").as("one")))
        .groupBy(col("id")).agg(sum(col("one")).as("out_deg")))
    (e, nodes)
  }

  /** Each node's share of its rank, `rank / out_deg`, keyed as the
    * edge source: divided once per node, then joined onto the edges. */
  private def rankShares(ranks: DataFrame, nodes: DataFrame): DataFrame =
    ranks.join(nodes, "id").select(col("id").as("src"), (col("rank") / col("out_deg")).as("c"))

  /** Cut a round's rank frame to a leaf; free the previous round's. */
  private def nextRound(prev: DataFrame, next: DataFrame): DataFrame = {
    val leaf = Lineage.truncate(next)
    DatasetBridge.release(prev)
    leaf
  }

  /** PageRank core loop over a PREPARED graph: `edges` must be the
    * DISTINCT `(src, dst)` frame and `nodes` the node leaf
    * `(id, out_deg)` ([[degreeLeaves]]' shapes), both leaves
    * (SharedFrames leaves, or [[pageRank]]'s own). Runs the same
    * contract check as [[pageRank]]; does NOT release the input leaves
    * (the caller owns them). Each round's rank leaf is freed once the
    * next one is cut. */
  def pageRankOn(edges: DataFrame, nodes: DataFrame,
                 iters: Int = 2, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE action over the |V|-row node leaf answers both prechecks:
    // node count + dangling count (every node needs out-degree >= 1, or
    // rank mass silently leaks)
    val Array(nl, dangling) = nodes
      .agg(count(lit(1)), count(when(col("out_deg").isNull, 1))).head().toSeq.toArray
      .map(_.asInstanceOf[Long])
    require(dangling == 0L,
      "pageRank contract: every node needs an out-edge (feed symmetric edges for undirected graphs)")
    val n = nl.toDouble
    // No explicit repartition: the |V|-row share frame broadcasts (AQE)
    // into the edge leaf each round, so edges are never re-shuffled;
    // the only per-iteration edge-scale shuffle is the groupBy(dst) of
    // contributions
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      val contribs = edges.join(rankShares(ranks, nodes), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("inflow"))
      // nodes with no in-edges keep only the teleport term.
      // EVERY round ends as an exact-stats |V|-row leaf (one small job):
      // a lazy multi-round plan lets the size-only estimator inflate
      // (join size = product of child sizes), which locks the next
      // round's edges⋈shares into a sort-merge join that re-SORTS the
      // co-partitioned edge leaf per round — AQE cannot convert it at
      // runtime because the leaf side has no shuffle stage. With exact
      // leaf stats the planner picks broadcast/shuffled-hash correctly
      // at ANY scale, and plan depth is bounded as a side effect.
      ranks = nextRound(ranks, nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("inflow"), lit(0.0)))
            .as("rank")))
    }
    ranks
  }

  /** Synchronous label propagation (community detection): every node
    * starts as its own label; each round every node adopts the most
    * frequent label among its neighbors, ties broken toward the
    * SMALLEST label — the deterministic variant (asynchronous LPA is
    * order-dependent and irreproducible, useless under a hash gate).
    * Fixed `iters` so batch runs are unrollable for the oracle, exactly
    * like [[pageRank]].
    *
    * Per round: one edge⋈label equi-join + one (node, label) count +
    * one per-node argmax folded into `max(struct(count, -label))` — no
    * window sort, all shuffles keyed by node id. Nodes are drawn from
    * the edge list (an isolated node has no neighbor vote and keeps its
    * own label trivially).
    *
    * Returns the |V|-row (id, label) frame as a leaf; the edge-scale
    * leaf is released before returning. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    // a leaf: every iteration reads und, and a lazy frame would let
    // the rounds' stages race to compute the (often expensive — e.g.
    // LSH kNN) edge derivation once each
    val und = Lineage.truncate(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      // dst-keyed layout: every round's und⋈labels equi-join is on dst,
      // so the leaf (which keeps its plan's partitioning) is never
      // re-shuffled by the loop (guide §2.4)
      .repartition(col("dst"))
      .dropDuplicates())
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    for (i <- 1 to iters) {
      labels = und
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("src"))
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("src").as("id"), (-col("__m.__nl")).as("label"))
      // exact-stats leaf per round — see pageRankOn's loop note
      labels = Lineage.truncate(labels)
    }
    DatasetBridge.release(und)
    labels
  }

  /** Triangle census over an undirected edge list via wedge-closing:
    * canonicalize every edge to (u < v), build wedges a<b<c with two
    * id-oriented passes (ab ⋈ bc on the middle node), then LEFT-join
    * the closing (a,c) edge — `n_wedges` = open+closed paths,
    * `n_triangles` = closed ones (each triangle counted exactly once
    * under the a<b<c convention). Single (n_nodes, n_edges, n_wedges,
    * n_triangles) row; global clustering coefficient =
    * 3·triangles / wedges.
    *
    * Shuffle budget: one distinct on the canonical edge, one equi-join
    * per pass — wedge volume is Σ deg², so feed SPARSE graphs (a kNN
    * graph from [[Similarity.knnGraph]] is ≤ k·|V| edges by
    * construction). For skewed graphs use
    * [[triangleStatsOriented]] — identical `n_triangles`, wedge work
    * bounded by degree orientation. */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // a leaf: 5 subtrees (counts×2, ab, bc, closing) read e inside one
    // job — left lazy, their stages race to compute the edge
    // derivation (an LSH kNN build for q_knn_triangles) up to 5×
    val e = Lineage.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val counts = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(
        e.select(col("u").as("id")).union(e.select(col("v").as("id"))).distinct()
          .agg(count(lit(1)).as("n_nodes")))
    val ab = e.select(col("u").as("a"), col("v").as("b"))
    val bc = e.select(col("u").as("wb"), col("v").as("c"))
    val closing = e.select(col("u").as("ca"), col("v").as("cc"), lit(1).as("closed"))
    val wedgeAgg = ab.join(bc, col("b") === col("wb"))
      .join(closing, col("a") === col("ca") && col("c") === col("cc"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("closed")).as("n_triangles"))
    val result = Lineage.truncate(counts.crossJoin(wedgeAgg)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles")))
    DatasetBridge.release(e)
    result
  }

  /** Degree-oriented triangle census — the skew-proof variant of
    * [[triangleStats]]. Every edge is oriented toward its
    * higher-(degree, id) endpoint, wedges form only between a node's
    * ORIENTED out-edges, and the closing edge is probed in oriented
    * form. `n_triangles` is identical to the id-oriented census (each
    * triangle is counted exactly once, at its ≺-smallest corner);
    * `n_wedges` is the oriented wedge count, which is the point: a
    * star-graph hub with degree d contributes C(d,2) wedges under id
    * orientation but ZERO under degree orientation (all hub edges
    * point AT the hub), so per-node wedge work is bounded O(m^1.5)
    * total instead of Σ deg² — the difference between a skewed social
    * graph finishing and one straggling on its celebrity nodes.
    *
    * Same shuffle shape as [[triangleStats]] plus one degree
    * aggregate + two broadcast-able degree joins. */
  def triangleStatsOriented(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // a leaf, for the same reason as in triangleStats
    val e = Lineage.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    // deg doubles as the node list — n_nodes counts it, both
    // orientation joins probe it (one |V|-row frame, one shuffle,
    // instead of a separate union+distinct chain just for the count)
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val counts = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
    // orient (u,v) from the ≺-smaller endpoint to the ≺-larger, where
    // x ≺ y iff (deg(x), x) < (deg(y), y) — a total order, so the
    // orientation is unique and acyclic
    val uLess = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    // a leaf: read by x, y, AND the closing probe — conserve the joins
    val oriented = Lineage.truncate(e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uLess, col("u")).otherwise(col("v")).as("s"),
        when(uLess, col("v")).otherwise(col("u")).as("d"),
        when(uLess, col("dv")).otherwise(col("du")).as("dd")))
    // wedges pair two out-edges of the same source, ordered by the
    // dst's (deg, id) so each unordered pair forms once; the pair
    // (p ≺ q) closes iff oriented edge p→q exists (p ≺ q makes p→q
    // the only possible orientation of {p, q})
    val x = oriented.select(col("s"), col("d").as("p"), col("dd").as("dp"))
    val y = oriented.select(col("s"), col("d").as("q"), col("dd").as("dq"))
    val wedges = x.join(y, Seq("s"))
      .filter(col("dp") < col("dq") || (col("dp") === col("dq") && col("p") < col("q")))
    val closing = oriented.select(col("s").as("p"), col("d").as("q"), lit(1).as("closed"))
    val wedgeAgg = wedges.join(closing, Seq("p", "q"), "left")
      .agg(count(lit(1)).as("n_wedges"), count(col("closed")).as("n_triangles"))
    val result = Lineage.truncate(counts.crossJoin(wedgeAgg)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles")))
    DatasetBridge.release(e)
    DatasetBridge.release(oriented)
    result
  }

  /** k-core peeling, `rounds` synchronized rounds: each round keeps the
    * nodes whose CURRENT degree is ≥ k, then drops every edge touching
    * a peeled node — the parallel ("peel all at once") form of the
    * classic sequential min-degree peel; after enough rounds the
    * surviving subgraph IS the k-core (every node has degree ≥ k
    * within it). Rounds are fixed, not data-dependent, so the whole
    * trajectory is oracle-unrollable; the returned LEDGER — one row
    * per round with the active-node and surviving-edge counts — is the
    * convergence diagnostic (n_active stops moving ⇒ fixpoint
    * reached). Row `round = 0` is the input graph.
    *
    * Shuffle budget per round: one degree aggregation + two semi-joins
    * on the endpoint keys; per-round state is the (shrinking) edge
    * frame, cut to a leaf every round like the pageRank loop. At any scale nothing but per-round 1-row summaries leaves
    * the executors. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // Cut to leaves: each round's frame would otherwise nest
    // the (often huge) upstream edge-derivation lineage, and Catalyst
    // re-plans that whole tree on every round's action — measured 27 s
    // of mostly driver-side planning for 3 rounds over an LSH kNN graph
    // at sf0.1 vs ~3 s with leaf-reset lineage. Truncation is eager, so
    // each leaf is also the materialization barrier the loop needs.
    // src-keyed: the per-round degree aggregate and the first semi-join
    // are both src-keyed (the dst semi-join is the one genuine
    // per-round shuffle left)
    var cur = Lineage.keyedLeaf(
      canon.select(col("u").as("src"), col("v").as("dst"))
        .union(canon.select(col("v").as("src"), col("u").as("dst"))), col("src"))
    def summary(round: Int, active: DataFrame, edgeFrame: DataFrame): DataFrame =
      active.agg(count(lit(1)).as("n_active"))
        .crossJoin(edgeFrame.agg((count(lit(1)) / 2).cast("long").as("n_edges")))
        .select(lit(round).as("round"), col("n_active"), col("n_edges"))
    val allNodes = cur.select(col("src").as("id")).distinct()
    // summaries stay lazy: each is two tiny aggregates over frozen
    // leaves, all computed in the single action the caller runs
    var ledger = Seq(summary(0, allNodes, cur))
    for (r <- 1 to rounds) {
      // |V|-bounded active set as an exact-stats leaf (the agg output's
      // estimate would otherwise bar broadcasting and turn both
      // semi-joins into edge-sorting sort-merge joins)
      val active = Lineage.truncate(
        cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("id")))
      val next = Lineage.truncate(cur
        .join(active.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(active.select(col("id").as("dst")), Seq("dst"), "left_semi"))
      ledger = ledger :+ summary(r, active, next)
      cur = next
    }
    ledger.reduce(_ union _)
  }

  /** Newman modularity Q of a node labeling over an undirected simple
    * graph — the "are these communities real?" score for
    * [[labelPropagation]] (or any clustering):
    *
    *   Q = Σ_c ( e_c/m − (d_c/2m)² )
    *
    * with e_c the intra-community edge count, d_c the community's
    * degree sum, m the total undirected edge count. Q ≈ 0 means the
    * labeling is no better than random wiring; Q → 1 means dense
    * communities with sparse cut edges.
    *
    * Exactness: e_c, d_c, m are exact integers from keyed aggregates;
    * each community's contribution is two IEEE divisions + one
    * multiply, summed in 1e-12 fixed point — tolerance-free, oracle
    * unrolls it directly.
    *
    * Scale shape: edge canonicalization + two label equi-joins + three
    * hash aggregates; windows nowhere. The per-community frame is
    * |labels|-sized; Q is a 1-row reduce broadcast back. Returns one
    * row per community: (label, n_nodes, degree_sum, intra_edges,
    * contrib) with `modularity` and `m` repeated on every row. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, idCol: String = "id",
                 labelCol: String = "label"): DataFrame = {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // a leaf — intra and degree both consume it; released as soon as
    // the per-community leaf below is materialized (no returned plan
    // reads it).
    val el = Lineage.truncate(e
      .join(labels.select(col(idCol).as("u"), col(labelCol).as("lu")), "u")
      .join(labels.select(col(idCol).as("v"), col(labelCol).as("lv")), "v"))
    val m = el.agg(count(lit(1)).as("m"))
    val intra = el.filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("intra_edges"))
    val deg = el.select(col("lu").as("label"))
      .union(el.select(col("lv").as("label")))
      .groupBy(col("label")).agg(count(lit(1)).as("degree_sum"))
    val nodes = labels.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_nodes"))
    // the per-community frame is cut to a |labels|-row checkpoint leaf:
    // both its consumers (the Q reduce and the result rows) previously
    // re-executed the whole nodes⋈deg⋈intra subtree — one as the
    // broadcast input, one as the main branch — doubling every stage
    // over el; the leaf also lets el be released here
    val per = Lineage.truncate(nodes
      .join(deg, Seq("label"), "left")
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
      .crossJoin(broadcast(m))
      .withColumn("contrib",
        col("intra_edges").cast("double") / col("m")
          - (col("degree_sum").cast("double") / (lit(2) * col("m")))
            * (col("degree_sum").cast("double") / (lit(2) * col("m")))))
    DatasetBridge.release(el)
    val q = per.agg(
      (sum(floor(col("contrib") * lit(1e12) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e12)).as("modularity"))
    per.crossJoin(broadcast(q))
  }

  /** Degree assortativity (Newman 2002) of an undirected simple graph —
    * the Pearson correlation of endpoint degrees over edges:
    *
    *   r = [S_jk/m − (S_sum/2m)²] / [S_sq/2m − (S_sum/2m)²]
    *
    * with, summed over the m canonical edges, S_jk = Σ j·k,
    * S_sum = Σ (j+k), S_sq = Σ (j²+k²). r > 0: hubs attach to hubs
    * (social shape); r < 0: hubs attach to leaves (hub-and-spoke —
    * the shape that warns of skew in a kNN/dedup graph). NULL when the
    * graph is degree-regular (zero variance — correlation undefined).
    *
    * Exactness: every sum is an exact integer aggregate (degrees are
    * counts; products of counts), so the two divisions composing r are
    * the only IEEE ops — tolerance-free. Scale shape: degree frame via
    * one hash aggregate, two equi-joins to attach endpoint degrees,
    * one 1-row reduce. The degree-product sums run in decimal(38,0):
    * Σ j·k ≤ m·d_max² can exceed int64 on hub-heavy 100 TB graphs
    * (m ~ 1e12, d_max ~ 1e6 → 1e24), and a wrapped long here would be
    * a silently wrong sign, not an error. */
  def degreeAssortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical edges as a leaf: the degree frame is consumed three
    // times below, and over a leaf those identical aggregate subtrees
    // collapse to one exchange via reuse; the result frame itself stays
    // lazy — it is two 1-row aggregates over the leaf.
    val e = Lineage.truncate(edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val el = e
      .join(deg.select(col("id").as("u"), col("d").as("ju")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("jv")), "v")
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val s = el.agg(
      count(lit(1)).as("m"),
      sum(dec(col("ju")) * dec(col("jv"))).as("__sjk"),
      sum(col("ju") + col("jv")).as("__ssum"),
      sum(dec(col("ju")) * dec(col("ju")) + dec(col("jv")) * dec(col("jv"))).as("__ssq"))
    val mean = col("__ssum").cast("double") / (lit(2) * col("m"))
    val num = col("__sjk").cast("double") / col("m") - mean * mean
    val den = col("__ssq").cast("double") / (lit(2) * col("m")) - mean * mean
    s.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), col("m"),
        when(den =!= 0, num / den).as("assortativity"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) with a fixed round
    * budget, UNNORMALIZED: a_i = Σ_{j→i} h_j then h_j = Σ_{j→i} a_i
    * per round, h⁰ ≡ 1. Dropping the per-round normalization keeps
    * every score an exact INTEGER (sums of products of counts) — for
    * a fixed-round diagnostic ranking that is strictly better than
    * floats: hash-stable on any engine, and the RANKING is identical
    * to normalized HITS (normalization is a positive scalar per
    * round). Overflow headroom: scores grow like (d_max)^{2·iters};
    * at iters = 2 a graph needs d_max ≈ 2¹⁵ average-degree to
    * threaten int64 — far beyond any real bipartite fact graph.
    * The complement to [[pageRank]] on DIRECTED bipartite graphs
    * (customer→supplier): hubs score the pointing side, authorities
    * the pointed-to side; PageRank on the symmetrized graph can't
    * separate the two roles.
    *
    * Per round: two edge⋈score equi-joins + two keyed sums — the
    * pageRank shuffle budget exactly; |V|-row state, lineage-truncated
    * per round. Nodes missing a role score 0 (zero-filled from the
    * node universe). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    // src-keyed: the a-rounds join on src (the h-rounds join on dst —
    // one layout can't serve both; src wins because the a-round's
    // input fan-out is the larger side on bipartite fact graphs)
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")).dropDuplicates().sortWithinPartitions("src"))
    val nodes = Lineage.truncate(
      e.select(col("src").as("id")).union(e.select(col("dst"))).distinct())
    var h = nodes.withColumn("h", lit(1L))
    var a = nodes.withColumn("a", lit(0L))
    for (i <- 1 to iters) {
      // each half-round ends as an exact-stats |V|-row leaf: the next
      // half-round's e⋈score join is then planned from true sizes
      // (broadcast the score frame, stream the edge leaf) instead of a
      // product-inflated estimate that locks a per-round SORT of the
      // edges into a sort-merge join (see pageRankOn's loop note)
      a = Lineage.truncate(
        e.join(h.select(col("id").as("src"), col("h")), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a")))
      h = Lineage.truncate(
        e.join(a.select(col("id").as("dst"), col("a")), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("a")).as("h")))
    }
    nodes
      .join(h, Seq("id"), "left").join(a, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("authority"))
  }

  /** Link prediction over an undirected simple graph: for every
    * NON-edge 2-hop pair, the common-neighbor count and the
    * Adamic-Adar score Σ_{z∈N(a)∩N(b)} 1/ln(deg z) (rare shared
    * neighbors weigh more) — the classic "which edge appears next"
    * features for recommendation / graph densification. A common
    * neighbor has degree ≥ 2 by construction, so 1/ln(deg) is always
    * finite; each term rounds to 1e-9 fixed point and sums in exact
    * longs (engine-exact, the term_mi recipe).
    *
    * Shape: one wedge self-join on the shared endpoint + one anti-join
    * against the existing edges + one keyed aggregate, then a top-k
    * (TakeOrderedAndProject). Wedge count is Σ deg² — built for
    * BOUNDED-DEGREE graphs (kNN graphs: deg ≤ 2k); for power-law
    * graphs cap or orient by degree first (the triangleStatsOriented
    * treatment). */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val canon = Lineage.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    val und = canon.select(col("u").as("z"), col("v").as("nb"))
      .union(canon.select(col("v").as("z"), col("u").as("nb")))
    val deg = und.groupBy(col("z")).agg(count(lit(1)).as("d"))
    val wedges = und.select(col("z"), col("nb").as("a"))
      .join(und.select(col("z"), col("nb").as("b")), "z")
      .filter(col("a") < col("b"))
    val cand = wedges
      .join(canon.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
    cand.join(deg, "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        (sum(floor((lit(1.0) / log(col("d").cast("double"))) * lit(1e9) + lit(0.5))
          .cast("long")).cast("double") / lit(1e9)).as("adamic_adar"))
      .orderBy(col("common_neighbors").desc, col("adamic_adar").desc,
        col("a"), col("b"))
      .limit(topK)
      .select(col("a").as("id_a"), col("b").as("id_b"),
        col("common_neighbors"), col("adamic_adar"))
  }

  /** Multi-source BFS hop distance with a fixed round budget:
    * dist(v) = min #edges from ANY seed, for every node reached within
    * `maxHops` (unreached nodes are absent — the caller left-joins and
    * fills if it wants ∞). The reachability/blast-radius primitive the
    * scoring loops (pageRank/LPA) don't provide.
    *
    * Frontier algorithm, one round per hop: newly-reached nodes =
    * (frontier ⋈ edges on src).dst MINUS already-settled — an
    * equi-join plus a left-anti join, both keyed shuffles; per-round
    * state is the settled (id, dist) frame, |V|-bounded at any scale.
    * A node is assigned its FIRST discovery depth, which is minimal —
    * so no min-merge pass is needed. Lineage is truncated every round
    * (the kCorePeel lesson: per-round planning cost, not data, is what
    * grows otherwise); the final frame is a truncated leaf, no cache
    * lifetime to manage.
    *
    * Determinism: the settled set after round r is exactly
    * {v : dist(v) ≤ r} — set-valued, order-free, engine-independent;
    * the oracle mirrors it with a depth-bounded recursive CTE + GROUP
    * BY min(d). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // src-keyed leaf: every round's frontier⋈e is an equi-join on src,
    // so the edge frame is shuffled ONCE here and consumed
    // co-partitioned per round (guide §2.4); same exchange count as
    // the old bare distinct (src-clustered dedup needs no 2nd shuffle)
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")).dropDuplicates().sortWithinPartitions("src"))
    var frontier = Lineage.truncate(
      seeds.select(col(seedCol).as("id")).distinct())
    // per-round frontiers are collected WITHOUT their dist literal and
    // stamped at the end: a literal inside the loop makes every
    // round's generated code unique (codegen cache miss per round);
    // without it the round plan is source-identical and the compiled
    // stages are reused. settled is a UNION of already-truncated
    // frontier leaves — plan depth stays O(maxHops) trivially, so only
    // the (shrinking) frontier needs a checkpoint per round.
    val rounds = scala.collection.mutable.ArrayBuffer[(DataFrame, Long)]((frontier, 0L))
    var settled = frontier
    var r = 1
    var saturated = false
    while (r <= maxHops && !saturated) {
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
      // saturation early-exit: an empty frontier makes every later
      // round provably empty, so stop — result-identical, and on
      // small-world graphs swept with a generous hop budget (the
      // diameter double sweep runs maxHops=8) it halves the round
      // count. truncateCounted folds the probe into the one
      // materializing job — no second submission per round.
      val (f, n) = Lineage.truncateCounted(next)
      frontier = f
      if (n == 0L) saturated = true
      else { settled = settled.union(frontier); rounds += ((frontier, r.toLong)) }
      r += 1
    }
    rounds.map { case (df, d) => df.withColumn("dist", lit(d)) }.reduce(_.union(_))
  }

  /** Single-source(s) WEIGHTED shortest paths with a fixed round
    * budget — bounded Bellman-Ford: after round r, dist(v) is exactly
    * the cheapest path from any seed using ≤ r edges (so `rounds` is
    * both the iteration count AND the hop bound, which makes the
    * result oracle-mirrorable by a depth-bounded recursive CTE +
    * min(d)). The weighted complement to [[bfsHops]]: hop counts can't
    * rank routes when edges carry a cost.
    *
    * Contract: weights must be NON-NEGATIVE (Bellman-Ford relaxation
    * with a fixed budget is still well-defined for negative weights,
    * but "≤ r edges" then stops being a useful distance) and should
    * live in an exactly-summable domain (integers / integer-valued
    * doubles) if the caller wants engine-stable results. Parallel
    * edges collapse to the cheapest up front — relaxation only ever
    * uses the min, so the rest is dead weight in every join.
    *
    * Per round: one dist⋈edges equi-join on src + one min-groupBy on
    * the reached node — two keyed shuffles, state is the (reached,
    * dist) frame, |V|-bounded. Unreached nodes are absent. Lineage is
    * truncated every other round (dist shrinks to a |V|-row leaf;
    * rounds is small, so plan depth never exceeds ~4 joins between
    * truncations). */
  def sssp(edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
           seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // src-keyed leaf (the per-round relaxation joins on src); the
    // min-merge aggregate runs exchange-free over the src-clustered
    // frame, so this is still one shuffle of the edges — just laid out
    // for the loop (guide §2.4)
    val e = Lineage.truncate(
      edges.repartition(col(srcCol))
        .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
        .agg(min(col(weightCol)).as("w"))
        .sortWithinPartitions("src"))
    var dist = Lineage.truncate(
      seeds.select(col(seedCol).as("id")).distinct()
        .withColumn("dist", lit(0).cast(e.schema("w").dataType)))
    for (r <- 1 to rounds) {
      val relax = dist.join(e, dist("id") === e("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relax).groupBy(col("id")).agg(min(col("dist")).as("dist"))
      if (r % 2 == 0 || r == rounds) dist = Lineage.truncate(dist)
    }
    dist
  }

  /** PERSONALIZED PageRank: teleport lands on the SEED set (uniformly)
    * instead of the whole graph, so rank measures proximity *to the
    * seeds* — the "related to these items/users" recommendation score,
    * where global PageRank can only say "important overall". Same
    * fixed-round/oracle-unrollable stance, same every-node-needs-an-
    * out-edge contract, same per-round shuffle budget as [[pageRank]];
    * r₀ = teleport (mass starts on the seeds and diffuses out).
    * Nodes the seeds can't reach in `iters` hops hold rank 0 — exact
    * zero, not epsilon, which downstream top-k filters rely on. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 2, damping: Double = 0.85): DataFrame = {
    val (distinctEdges, nodes) = degreeLeaves(edges, srcCol, dstCol)
    val result = personalizedPageRankOn(distinctEdges, nodes, seeds, seedCol, iters, damping)
    DatasetBridge.release(nodes)
    DatasetBridge.release(distinctEdges)
    result
  }

  /** Personalized-PageRank core loop over a PREPARED graph — same
    * prepared-frame contract as [[pageRankOn]] (`edges` distinct,
    * `nodes` the `(id, out_deg)` leaf, both leaves the caller owns). */
  def personalizedPageRankOn(edges: DataFrame, nodes: DataFrame,
                             seeds: DataFrame, seedCol: String,
                             iters: Int = 2, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val sd = seeds.select(col(seedCol).as("id")).distinct()
    val Array(dangling, nSeeds) = nodes
      .join(sd.withColumn("is_seed", lit(1)), Seq("id"), "left")
      .agg(count(when(col("out_deg").isNull, 1)), count(col("is_seed")))
      .head().toSeq.toArray.map(_.asInstanceOf[Long])
    require(dangling == 0L,
      "personalizedPageRank contract: every node needs an out-edge " +
        "(feed symmetric edges for undirected graphs)")
    require(nSeeds > 0L, "personalizedPageRank needs at least one seed present in the graph")
    // teleport(v) = 1/|S| on seeds, 0 elsewhere — joined once into a
    // |V|-row leaf, read every round
    val teleport = Lineage.truncate(
      nodes.join(sd.withColumn("t", lit(1.0 / nSeeds)), Seq("id"), "left")
        .select(col("id"), coalesce(col("t"), lit(0.0)).as("t")))
    var ranks = teleport.select(col("id"), col("t").as("rank"))
    for (i <- 1 to iters) {
      val contribs = edges.join(rankShares(ranks, nodes), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("inflow"))
      ranks = nextRound(ranks, teleport.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) * col("t")
            + lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank")))
    }
    DatasetBridge.release(teleport)
    ranks
  }

  /** HyperANF-style neighborhood function: for every node, an
    * HLL-sketch ESTIMATE of |{u : dist(v→u) ≤ h}| for h = 1..maxHops —
    * the per-node reach curve that exact BFS cannot deliver at scale
    * (materializing every reach SET is Θ(Σ|N_h(v)|), quadratic on
    * dense graphs; the sketch state is a fixed few KB per node,
    * mergeable, and each round is ONE edge⋈state join + ONE keyed
    * hll_union_agg — Boldi/Rosa/Vigna, WWW 2011). Round invariant:
    * sketch_{h+1}(v) = sketch_h(v) ∪ ⋃_{v→u} sketch_h(u), state
    * lineage-truncated per round.
    *
    * Determinism: HLL register updates are order-free set unions, so
    * the estimate is identical on any partitioning/engine ingesting the
    * same ids — but it IS an estimate: gate it with a tolerance
    * (relative ~1.04/√2^lgK), never equality, and mirror `lgK` on both
    * sides of any comparison. Returns (id, hop, est_reach) for hop ≥ 1,
    * est includes the node itself. */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
                           maxHops: Int, lgK: Int = 12): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // DST-keyed leaf: this loop's per-round join is e⋈state on dst
    // (sketches flow against edge direction), so dst is the layout key
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("dst")).dropDuplicates().sortWithinPartitions("dst"))
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst"))).distinct()
    var state = Lineage.truncate(
      nodes.groupBy(col("id")).agg(expr(s"hll_sketch_agg(id, $lgK)").as("sk")))
    var out: DataFrame = null
    for (h <- 1 to maxHops) {
      val nbr = e.join(state.select(col("id").as("dst"), col("sk").as("nsk")), "dst")
        .groupBy(col("src").as("id")).agg(expr("hll_union_agg(nsk)").as("usk"))
      state = Lineage.truncate(
        state.join(nbr, Seq("id"), "left")
          .select(col("id"),
            when(col("usk").isNull, col("sk"))
              .otherwise(expr("hll_union(sk, usk)")).as("sk")))
      val est = state.select(col("id"), lit(h).as("hop"),
        expr("hll_sketch_estimate(sk)").as("est_reach"))
      out = if (out == null) est else out.union(est)
    }
    out
  }

  /** PageRank over a WEIGHTED edge list: contributions split
    * proportionally to edge weight (rank·w / Σ_out w) instead of
    * uniformly — the TextRank/co-occurrence-graph form, where an edge
    * seen 50 times should pull 50× the rank of an edge seen once.
    * Same contract and shuffle budget as [[pageRank]] (fixed rounds,
    * every node needs an out-edge, one `(src, dst, w)` edge leaf and
    * an `(id, out_w, min_w)` node leaf, |V|-row rank state, the rank
    * frame AQE-broadcasts into the edge leaf each round); parallel
    * edges SUM their weights (a repeated co-occurrence is signal, not
    * a duplicate — note the deliberate contrast with pageRank's
    * distinct()).
    *
    * Weight contract: every (summed) edge weight must be POSITIVE —
    * w ≤ 0 or an all-zero out-weight makes rank·w/out_w NaN/Infinity
    * and silently poisons every downstream rank. Checked alongside the
    * dangling-node probe in the same single validation action (min
    * edge weight and min out-weight ride the existing aggregate). */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int = 2,
                       damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // src-keyed from the first exchange: the weight-sum and every
    // iteration's edges⋈ranks join are src-keyed — one shuffle of the
    // edge frame
    val e = Lineage.truncate(edges.repartition(col(srcCol))
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(col(weightCol).cast("double")).as("w")))
    // per-node facts at node grain, one groupBy over both endpoints:
    // out_w/min_w NULL = no out-edge
    val nodes = Lineage.truncate(
      e.select(col("src").as("id"), col("w"))
        .union(e.select(col("dst").as("id"), lit(null).cast("double").as("w")))
        .groupBy(col("id")).agg(sum(col("w")).as("out_w"), min(col("w")).as("min_w")))
    val checkRow = nodes
      .agg(count(lit(1)), count(when(col("out_w").isNull, 1)),
        min(col("min_w")), min(col("out_w"))).head()
    val (nl, dangling) = (checkRow.getLong(0), checkRow.getLong(1))
    require(dangling == 0L,
      "weightedPageRank contract: every node needs an out-edge " +
        "(feed symmetric edges for undirected graphs)")
    require(!checkRow.isNullAt(2) && checkRow.getDouble(2) > 0 && checkRow.getDouble(3) > 0,
      "weightedPageRank contract: edge weights must be positive " +
        s"(min summed edge weight = ${checkRow.get(2)}, min out-weight = ${checkRow.get(3)})")
    val n = nl.toDouble
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      // rank·w/out_w per EDGE, in that order: (rank/out_w)·w per node
      // rounds differently and can reorder ties downstream
      val srcRanks = ranks.join(nodes, "id")
        .select(col("id").as("src"), col("rank"), col("out_w"))
      val contribs = e.join(srcRanks, "src")
        .select(col("dst").as("id"), (col("rank") * col("w") / col("out_w")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("inflow"))
      ranks = nextRound(ranks, nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) * coalesce(col("inflow"), lit(0.0)))
            .as("rank")))
    }
    DatasetBridge.release(nodes)
    DatasetBridge.release(e)
    ranks
  }

  /** Multi-source bounded-hop BFS keeping PER-SEED distances: returns
    * (seed, id, dist) where dist = min #edges from that seed, for every
    * node within `maxHops` of it. The per-seed variant of [[bfsHops]]
    * (which collapses to min over ALL seeds) — the primitive behind
    * landmark distance sketches and [[harmonicCentrality]].
    *
    * Scale shape: frontier/settled state is bounded by |seeds|·|reach|
    * rows — seeds are expected to be a SAMPLE (landmarks), not the
    * whole vertex set (all-sources exact BFS is all-pairs; that is
    * what HyperANF's registers approximate instead). Per round: one
    * frontier⋈edges equi-join on src + one left-anti against settled,
    * both keyed shuffles; frontier is lineage-truncated per round so
    * plan depth stays O(1). */
  def multiSourceBfs(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    // src-keyed leaf — same one-shuffle-for-the-whole-loop layout as
    // bfsHops (every round joins frontier⋈e on src)
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")).dropDuplicates().sortWithinPartitions("src"))
    var frontier = Lineage.truncate(
      seeds.select(col(seedCol).as("seed")).distinct()
        .select(col("seed"), col("seed").as("id")))
    // dist literals stamped after the loop (codegen-cache-friendly
    // rounds) — same shape as bfsHops
    val rounds = scala.collection.mutable.ArrayBuffer[(DataFrame, Long)]((frontier, 0L))
    var settled = frontier
    var r = 1
    var saturated = false
    while (r <= maxHops && !saturated) {
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(col("seed"), col("dst").as("id")).distinct()
        .join(settled, Seq("seed", "id"), "left_anti")
      // same one-job saturation early-exit as bfsHops: result-identical
      val (f, n) = Lineage.truncateCounted(next)
      frontier = f
      if (n == 0L) saturated = true
      else { settled = settled.union(frontier); rounds += ((frontier, r.toLong)) }
      r += 1
    }
    rounds.map { case (df, d) => df.withColumn("dist", lit(d)) }.reduce(_.union(_))
  }

  /** Landmark harmonic centrality: C_H(v) = Σ_{s ∈ seeds, s≠v} 1/d(s,v)
    * over the seed (landmark) set, with unreachable-within-`maxHops`
    * terms contributing 0 — harmonic's defining advantage over
    * closeness (1/∞ = 0 needs no connectivity assumption, Boldi &
    * Vigna, "Axioms for Centrality", 2014). Exact all-sources harmonic
    * is all-pairs BFS; the landmark estimate (scale by N/|S| downstream
    * if an absolute estimate is wanted) is the standard corpus-scale
    * form. Deterministic for a fixed seed set, so oracle-mirrorable by
    * a depth-bounded recursive CTE.
    *
    * Sum is computed in ×10⁹ fixed-point over exact integer reciprocals
    * of small integer distances — engine-stable without float-order
    * luck. Returns (id, n_landmarks reached, harmonic). */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame =
    harmonicFromDistances(multiSourceBfs(edges, srcCol, dstCol, seeds, seedCol, maxHops))

  /** The aggregation half of [[harmonicCentrality]], split out so a
    * caller that already holds the per-seed distance frame (a shared
    * [[multiSourceBfs]] leaf serving several queries) doesn't re-run
    * the BFS. Input: (seed, id, dist) rows. */
  def harmonicFromDistances(distances: DataFrame): DataFrame = {
    val d = distances.filter(col("dist") > 0)
    // 1/d in 1e-9 fixed point: floor(1e9/d) is exact integer arithmetic,
    // summed as longs — identical in any engine and any partial-sum order
    d.groupBy(col("id"))
      .agg(count(lit(1)).as("n_landmarks"),
        sum(floor(lit(1000000000L) / col("dist")).cast("long")).as("__fp"))
      .select(col("id"), col("n_landmarks"),
        (col("__fp").cast("double") / 1e9).as("harmonic"))
  }

  /** Charikar greedy densest-subgraph peel (Charikar 2000: repeatedly
    * remove all vertices of degree ≤ average; some round's subgraph is
    * a 2-approximation of the densest). Fixed `rounds` budget so the
    * trajectory is deterministic and oracle-unrollable; returns one row
    * per round r = 0..rounds: (round, n_nodes, n_edges, density) of the
    * subgraph ENTERING that round (round 0 = the full graph).
    *
    * The peel predicate is exact integer math: remove v iff
    * deg(v)·n ≤ 2·m (⟺ deg(v) ≤ avg = 2m/n without a float division),
    * so engines can't disagree on the boundary. Per round: one degree
    * groupBy + two semi-joins to filter the edge list — keyed shuffles
    * only, edge frame truncated per round (it only shrinks). Empty
    * rounds (everything peeled) emit n_nodes = 0 with NULL density. */
  def densestSubgraphPeel(edges: DataFrame, srcCol: String, dstCol: String,
                          rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var e = Lineage.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(col("u")).dropDuplicates().sortWithinPartitions("u"))
    val stats = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 0 to rounds) {
      val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val tot = deg.agg(count(lit(1)).as("n_nodes"),
        (coalesce(sum(col("deg")), lit(0L)) / 2).cast("long").as("n_edges"))
      stats += tot.select(lit(r).as("round"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") > 0, col("n_edges").cast("double") / col("n_nodes"))
          .as("density"))
      if (r < rounds) {
        // |V|-bounded keep-set as an exact-stats leaf: the crossJoin's
        // size-product estimate otherwise marks it unbroadcastable and
        // both semi-joins degrade to edge-sorting sort-merge joins
        val keep = Lineage.truncate(deg.crossJoin(broadcast(tot))
          .filter(col("deg") * col("n_nodes") > lit(2L) * col("n_edges"))
          .select(col("id")))
        e = Lineage.truncate(
          e.join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
            .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
            .select("u", "v"))
      }
    }
    stats.reduce(_.union(_))
  }

  /** Time-respecting (temporal) reachability — earliest arrival from
    * each seed using paths whose edge timestamps never decrease
    * (each hop departs at or after the previous arrival; Holme &
    * Saramäki, "Temporal networks", 2012). Static reachability
    * over-claims on event graphs: an edge that fired BEFORE you
    * arrived can't forward influence — this is the
    * information-diffusion / contamination-window primitive.
    *
    * DP per round: earliest(v) relaxes only from each node's CURRENT
    * minimum arrival — safe because any edge usable from a later
    * arrival is usable from an earlier one, so the min dominates; every
    * produced value is realized by a concrete temporal path (prefix
    * realizing the min + the edge). Exact min over integer epoch-µs —
    * no float, engine-stable, oracle = depth-bounded recursive CTE over
    * ALL temporal paths (provably the same min).
    *
    * Per round: one state⋈edges equi-join on the node (the ts≥arr
    * predicate is a residual filter on the hash join, never a nested
    * loop) + one (seed,id) min-groupBy; state is |seeds|·|reach| rows
    * (seeds are a sample/landmark set), relax frames truncated per
    * round. Returns (seed, id, arr_us) for every node reached in
    * 1..maxHops hops — seeds reappear only if a temporal cycle returns
    * to them. */
  def temporalReach(edges: DataFrame, srcCol: String, dstCol: String,
                    tsCol: String, seeds: DataFrame, seedCol: String,
                    maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = Lineage.truncate(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        // NTZ-tolerant: the session tz is locked UTC (Verify/Bench), so
        // the cast is the identity µs mapping DuckDB's epoch_us uses
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"))
      // src-keyed leaf: the per-round relaxation joins state⋈e on src
      .repartition(col("src")).dropDuplicates().sortWithinPartitions("src"))
    // seed arrival = Long.MinValue: strictly earlier than ANY
    // representable epoch-µs (including pre-1970 negatives — a -1L
    // sentinel would wrongly block edges timestamped before the
    // epoch), so the first hop is always free
    var state = Lineage.truncate(
      seeds.select(col(seedCol).as("seed")).distinct()
        .select(col("seed"), col("seed").as("id"), lit(Long.MinValue).as("arr")))
    val founds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to maxHops) {
      val relax = Lineage.truncate(
        state.join(e, state("id") === e("src") && e("ts_us") >= state("arr"))
          .select(col("seed"), col("dst").as("id"), col("ts_us").as("arr")))
      founds += relax
      state = Lineage.truncate(
        state.union(relax).groupBy(col("seed"), col("id")).agg(min(col("arr")).as("arr")))
    }
    founds.reduce(_.union(_))
      .groupBy(col("seed"), col("id")).agg(min(col("arr")).as("arr_us"))
  }

  /** Hill estimator of the degree-distribution tail exponent
    * (Hill 1975; the "is this graph scale-free?" diagnostic):
    * α̂ = 1 + n_tail / Σ ln(dᵢ/dmin) over degrees ≥ dmin. Returns one
    * row (dmin, n_tail, alpha) — NULL alpha when every tail degree
    * equals dmin (Σ = 0, the estimator is undefined; the
    * NULL-on-undefined convention). Per-term logs are quantized to
    * 1e-9 fixed point before the exact integer sum, so α̂ can't drift
    * with partial-sum order or engine. One degree groupBy + one
    * 1-row aggregate. */
  def degreeTailAlpha(edges: DataFrame, srcCol: String, dstCol: String,
                      dmin: Long): DataFrame = {
    require(dmin >= 1, s"dmin must be >= 1, got $dmin")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= dmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(floor(log(col("deg").cast("double") / lit(dmin).cast("double"))
          * lit(1000000000L) + lit(0.5)).cast("long")).as("__s"))
      .select(lit(dmin).as("dmin"), col("n_tail"),
        when(col("__s") > 0,
          lit(1.0) + col("n_tail").cast("double") / (col("__s").cast("double") / 1e9))
          .as("alpha"))
  }

  /** Seed-label SPREADING — semi-supervised label bootstrapping (Zhu &
    * Ghahramani 2002's label propagation, the hard-clamp majority
    * variant): known labels stay fixed, and each round every still-
    * unlabeled node adopts the MAJORITY label among its labeled
    * neighbors (ties → smaller label). The training-data-pipeline move
    * "label 1% by hand, push labels through the kNN graph" — distinct
    * from [[labelPropagation]], which is UNSUPERVISED community
    * detection by min-label convergence.
    *
    * Determinism: votes are exact integer counts; the winner is
    * min(struct(−count, label)) — a map-side-combinable aggregate, no
    * window over the corpus, no float anywhere; fixed `rounds` keeps
    * the trajectory oracle-unrollable. Per round: one state⋈edges join
    * + one (node, label) count + one node argmin + one anti-join vs
    * labeled. Returns (id, label, round) — round = when the node was
    * labeled (0 = seed); nodes unreached after `rounds` are absent.
    * Seeds must be unique per id (caller contract). Symmetrizes
    * internally. */
  def labelSpread(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, idCol: String, labelCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // src-keyed leaf: every round's vote join is und⋈state on src
    val und = Lineage.keyedLeaf(
      canon.select(col("u").as("src"), col("v").as("dst"))
        .union(canon.select(col("v").as("src"), col("u").as("dst"))), col("src"))
    var state = Lineage.truncate(
      seeds.select(col(idCol).as("id"), col(labelCol).as("label")).distinct()
        .withColumn("round", lit(0)))
    for (r <- 1 to rounds) {
      val votes = und.join(state, und("src") === state("id"))
        .select(und("dst").as("nid"), col("label"))
        .join(state.select(col("id").as("nid")), Seq("nid"), "left_anti")
        .groupBy(col("nid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val winners = votes
        .groupBy(col("nid"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lb"))).as("m"))
        .select(col("nid").as("id"), col("m.lb").as("label"), lit(r).as("round"))
      state = Lineage.truncate(state.union(winners))
    }
    state
  }

  /** Sampled, hop-bounded betweenness centrality — Brandes'
    * dependency accumulation (Brandes 2001) restricted to a SOURCE
    * SAMPLE and a hop radius (Brandes & Pich 2007 show the source-
    * sampled estimator is the standard scale form; exact betweenness
    * is all-pairs). For each seed s: forward BFS levels carry exact
    * shortest-path counts σ_s(v) (integer sums over the shortest-path
    * DAG), then dependencies back-propagate level by level,
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w)), and
    * bc(v) = Σ_s δ_s(v) over non-source rows. Paths longer than
    * `maxHops` are ignored (the hop-bounded estimate; raise maxHops to
    * tighten).
    *
    * Numerics: σ are exact longs; each δ term is one double expression
    * of exact inputs quantized to 1e-9 fixed point BEFORE its level
    * sum, and δ itself stays a fixed-point long between levels — no
    * float-order anywhere, so the whole trajectory is engine-stable
    * and the oracle can unroll it level by level.
    *
    * Shape: forward = per level one frontier⋈edges join + one
    * (seed, node) σ-sum + one anti-join vs settled; backward = per
    * level one edges join + one (seed, node) sum. State is
    * |seeds|·|reach| rows (seeds are a sample); every level frame is a
    * checkpoint leaf. Expects symmetric edges for undirected graphs. */
  def betweennessSampled(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 2, s"maxHops must be >= 2 (no interior nodes below that), got $maxHops")
    // src-keyed leaf: BOTH sweeps join on e's src (forward frontier
    // expansion and backward DAG-edge enumeration) — one shuffle of
    // the edges serves every level of both sweeps (guide §2.4)
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(col("src")).dropDuplicates().sortWithinPartitions("src"))
    // forward sweep: levels(h) = (seed, id, sigma) first reached at hop
    // h, with the SAME one-job saturation exit as bfsHops — an empty
    // level makes every deeper level provably empty, so the backward
    // sweep starts at the last NON-empty level (identical result:
    // deepest-level nodes have no successors, so their delta is 0
    // either way)
    val levels = new Array[DataFrame](maxHops + 1)
    levels(0) = Lineage.truncate(
      seeds.select(col(seedCol).as("seed")).distinct()
        .select(col("seed"), col("seed").as("id"), lit(1L).as("sigma")))
    var settled = levels(0).select("seed", "id")
    var top = 0
    var h0 = 1
    var done = false
    while (h0 <= maxHops && !done) {
      val next = levels(h0 - 1).join(e, levels(h0 - 1)("id") === e("src"))
        .groupBy(col("seed"), col("dst").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(settled, Seq("seed", "id"), "left_anti")
      val (lv, n) = Lineage.truncateCounted(next)
      levels(h0) = lv
      if (n == 0L) done = true
      else {
        settled = settled.union(levels(h0).select("seed", "id"))
        top = h0
      }
      h0 += 1
    }
    // backward sweep: delta_fp(level top) = 0; each inner level sums
    // quantized per-successor terms over the shortest-path DAG edges.
    // deltaNext CARRIES the level's sigma so the successor lookup is
    // ONE equi-join per level, not two (sigma and delta separately).
    // The sweep stays LAZY: every forward level is already a
    // checkpoint leaf, so the backward recurrence is a flat
    // O(top)-join plan over leaves and the closing aggregate
    // materializes the whole sweep in ONE job — the per-level eager
    // truncation this replaces paid `top` extra job submissions +
    // localCheckpoint materializations per query (r9 verdict:
    // level-count job submissions are the betweenness floor). Deep
    // sweeps still truncate every 4th level to bound plan depth.
    var deltaNext = levels(top)
      .select(col("seed"), col("id"), col("sigma"), lit(0L).as("delta_fp"))
    val perLevel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    perLevel += deltaNext.select("seed", "id", "delta_fp")
    for (h <- (top - 1) to 0 by -1) {
      val succ = deltaNext.select(col("seed"), col("id").as("dst"),
        col("sigma").as("__sw"), col("delta_fp").as("__dw"))
      val contribs = levels(h).join(e, levels(h)("id") === e("src"))
        .select(col("seed"), levels(h)("id").as("id"), col("dst"), col("sigma"))
        .join(succ, Seq("seed", "dst")) // keeps only shortest-path DAG edges
        .select(col("seed"), col("id"),
          floor(col("sigma").cast("double") / col("__sw") *
            (lit(1.0) + col("__dw").cast("double") / 1e9) * lit(1000000000L) + lit(0.5))
            .cast("long").as("t"))
        .groupBy(col("seed"), col("id"))
        .agg(sum(col("t")).as("delta_fp"))
      deltaNext =
        levels(h).select(col("seed"), col("id"), col("sigma"))
          .join(contribs, Seq("seed", "id"), "left")
          .select(col("seed"), col("id"), col("sigma"),
            coalesce(col("delta_fp"), lit(0L)).as("delta_fp"))
      // exact-stats leaf per level (h = 0 stays lazy — its delta frame
      // is never consumed, the closing sum uses levels top..1 only):
      // the next level's two joins are then planned from true sizes —
      // a lazy sweep's inflated estimates locked every level's e-join
      // into a sort-merge that re-sorted the edge leaf per level
      if (h > 0) {
        deltaNext = Lineage.truncate(deltaNext)
        perLevel += deltaNext.select("seed", "id", "delta_fp")
      }
    }
    perLevel.reduce(_.union(_))
      .groupBy(col("id"))
      .agg((sum(col("delta_fp")).cast("double") / 1e9).as("bc"))
  }

  /** Newman's categorical (attribute) assortativity — label homophily
    * (Newman 2003, "Mixing patterns in networks"): over the directed
    * view of the undirected graph (each edge counted both ways so the
    * mixing matrix is symmetric),
    *   r = (Σ_x e_xx − Σ_x a_x·b_x) / (1 − Σ_x a_x·b_x),
    * computed ENTIRELY in exact integers — with T = same-label directed
    * edges, 2m = directed edges, ra_x/rb_x = label marginals:
    *   r = (T·2m − Σ ra_x·rb_x) / ((2m)² − Σ ra_x·rb_x)
    * (multiply the float form through by (2m)²) — one closing division,
    * engine-stable. The attribute complement of degreeAssortativity:
    * "do same-label nodes link?" is the cluster-purity signal for a
    * kNN graph over labeled embeddings. NULL when every node shares
    * one label (denominator 0 — r undefined). Edges whose endpoint is
    * missing from `labels` are dropped (inner join; label the nodes
    * first). Shape: two label equi-joins + one groupBy(label pair) +
    * 1-row closing aggregate. Integer-domain bound: the cleared form
    * squares 2m, so it is exact up to ~3·10⁹ directed edges — beyond
    * that, divide through by (2m)² first (the float form; document the
    * rounding). */
  def attributeAssortativity(edges: DataFrame, srcCol: String, dstCol: String,
                             labels: DataFrame, idCol: String,
                             labelCol: String): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val und = canon.select(col("u").as("s"), col("v").as("d"))
      .union(canon.select(col("v").as("s"), col("u").as("d")))
    val lab = labels.select(col(idCol).as("__id"), col(labelCol).as("__l"))
    // the |L|² mixing grid is consumed three times (two marginal
    // aggregates + the closing reduce) — cut it to a leaf so the
    // edge⋈label subtree runs once, not per consumer
    val mix = Lineage.truncate(und
      .join(lab.select(col("__id").as("s"), col("__l").as("lx")), Seq("s"))
      .join(lab.select(col("__id").as("d"), col("__l").as("ly")), Seq("d"))
      .groupBy(col("lx"), col("ly")).agg(count(lit(1)).as("n")))
    val marg = mix.groupBy(col("lx")).agg(sum(col("n")).as("ra"))
      .join(mix.groupBy(col("ly").as("lx")).agg(sum(col("n")).as("rb")), Seq("lx"))
    mix.agg(sum(col("n")).as("m2"),
        sum(when(col("lx") === col("ly"), col("n")).otherwise(lit(0L))).as("t_same"))
      .crossJoin(broadcast(marg.agg(sum(col("ra") * col("rb")).as("sab"))))
      .select(col("m2"), col("t_same"),
        (col("t_same").cast("double") / col("m2")).as("same_frac"),
        when(col("m2") * col("m2") =!= col("sab"),
          (col("t_same") * col("m2") - col("sab")).cast("double") /
            (col("m2") * col("m2") - col("sab")).cast("double")).as("assortativity"))
  }

  /** Graph diameter LOWER BOUND by double sweep (Magnien, Latapy &
    * Habib 2009): BFS from a deterministic start (the minimum node
    * id), then BFS again from the farthest node found (ties to the
    * smaller id); the second eccentricity bounds the diameter from
    * below — in practice tight on real graphs, and TWO sweeps instead
    * of the all-pairs exact computation. Both sweeps are hop-bounded
    * by `maxHops` (an unconverged sweep reports the radius it saw).
    * No collect: the argmax travels as a 1-row broadcast frame into
    * the second sweep's seed. Returns one row
    * (start_id, peripheral_id, ecc_start, diameter_lb). */
  def diameterDoubleSweep(edges: DataFrame, srcCol: String, dstCol: String,
                          maxHops: Int): DataFrame = {
    // src-keyed: both bfsHops sweeps consume this pre-deduped leaf (and
    // re-leaf it src-keyed at zero extra exchanges — dedup + layout
    // both already src-clustered here)
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(col("src")).dropDuplicates().sortWithinPartitions("src"))
    val start = e.select(col("src").as("id")).union(e.select(col("dst")))
      .agg(min(col("id")).as("id"))
    val b1 = bfsHops(e, "src", "dst", start, "id", maxHops)
    // farthest from start, ties to smaller id — stays a 1-row frame
    val far = b1.orderBy(col("dist").desc, col("id")).limit(1)
      .select(col("id").as("peripheral_id"), col("dist").as("ecc_start"))
    val b2 = bfsHops(e, "src", "dst", far.select(col("peripheral_id").as("id")), "id", maxHops)
    b2.agg(max(col("dist")).as("diameter_lb"))
      .crossJoin(broadcast(far))
      .crossJoin(broadcast(start.select(col("id").as("start_id"))))
      .select(col("start_id"), col("peripheral_id"), col("ecc_start"), col("diameter_lb"))
  }

  /** k-truss peel (Cohen 2008): repeatedly drop every edge whose
    * SUPPORT (number of triangles through it, = common neighbors of
    * its endpoints) is below k−2 — the edge-level analog of k-core,
    * and a much stronger cohesion filter (a k-core can be a sparse
    * star; a k-truss is triangle-dense by construction). Fixed
    * `rounds` budget keeps the trajectory deterministic and
    * oracle-unrollable; returns (round, n_edges) for round 0..rounds,
    * where round r is the edge count ENTERING round r.
    *
    * Per round: support is one neighbor-expansion join (edge ⋈
    * undirected adjacency on u) + one existence join on (v, w) + a
    * count per edge — the standard wedge-closing shape, NOT an
    * all-pairs pass; cost is Σ deg(u) over edges, the same budget as
    * triangle counting. Edge frame is truncated per round (it only
    * shrinks). Support counts are exact integers, so the peel
    * boundary is engine-stable. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var e = Lineage.truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("u"), greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      // u-keyed: the per-round support expansion joins e⋈und on u
      .repartition(col("u")).dropDuplicates().sortWithinPartitions("u"))
    val stats = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 0 to rounds) {
      stats += e.agg(count(lit(1)).as("n_edges")).select(lit(r).as("round"), col("n_edges"))
      if (r < rounds) {
        val und = e.select(col("u").as("s"), col("v").as("d"))
          .union(e.select(col("v").as("s"), col("u").as("d")))
        // support(u,v) = |N(u) ∩ N(v)|: expand u's neighbors, close on (v, w)
        val sup = e
          .join(und.select(col("s").as("u"), col("d").as("w")), Seq("u"))
          .join(und.select(col("s").as("v"), col("d").as("w")), Seq("v", "w"))
          .groupBy(col("u"), col("v"))
          .agg(count(lit(1)).as("support"))
        // zero-support edges are absent from `sup`, which is exactly the
        // k>=3 drop semantics (0 < k-2)
        e = Lineage.truncate(
          sup.filter(col("support") >= k - 2).select(col("u"), col("v")))
      }
    }
    stats.reduce(_.union(_))
  }

  /** Deterministic hash-seeded random walks — the graph-sampling
    * primitive behind DeepWalk/node2vec-style embedding corpora
    * (Perozzi et al. 2014), made reproducible: at step t the walk at
    * node u moves to the out-neighbor v minimizing
    * md5(seed:walk:t:u:v). That is a uniform-ish but REPLAYABLE choice
    * — rerunning the job (or another engine) regenerates the identical
    * corpus, which is the property a training-data pipeline actually
    * needs from "random" (same stance as the weightedSample /
    * hashSplit family). One walk starts at each seed node
    * (walk_id = the seed); a walk ENDS early at a node with no
    * out-edge (emit symmetric edges for undirected graphs).
    *
    * Scale shape: per step, one frontier⋈edges equi-join on src fans
    * out to Σ deg(cur) rows, then a map-side-combinable
    * min(struct(hash, dst)) groupBy per walk collapses the choice —
    * no window over the fan-out, no per-walk state beyond one row.
    * Returns (walk_id, step, node), step = 0..steps. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String, steps: Int,
                  seed: String): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(seed.nonEmpty, "randomWalks: seed must be non-empty")
    // Leaf-cut the projection AS GIVEN — no repartition, no dedup, no
    // sort. Duplicate (src,dst) rows cannot change any step: the choice
    // is min(struct(hash,dst)) and min is idempotent, so deduping here
    // was pure cost (a full edge shuffle + aggregate per invocation —
    // and the wired caller passes the already-deduped src-keyed
    // purchaseEdgesSymD leaf, whose layout the truncate bridge
    // preserves for every step's src-equi-join). Callers with unkeyed
    // edge frames still get identical results; pass a
    // Lineage.keyedLeaf(src) shape to keep the per-step joins
    // shuffle-free at scale.
    val e = Lineage.truncate(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    var cur = Lineage.truncate(
      seeds.select(col(seedCol).as("walk_id")).distinct()
        .select(col("walk_id"), col("walk_id").as("node")))
    var out = cur.withColumn("step", lit(0))
    for (t <- 1 to steps) {
      val step = cur.join(e, cur("node") === e("src"))
        .withColumn("__h", md5(concat_ws(":", lit(seed), col("walk_id"),
          lit(t), col("node"), col("dst"))))
        .groupBy(col("walk_id"))
        .agg(min(struct(col("__h"), col("dst"))).as("__m"))
        .select(col("walk_id"), col("__m.dst").as("node"))
      cur = Lineage.truncate(step)
      out = out.union(cur.withColumn("step", lit(t)))
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }
}
