package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph traversal primitives over a plain (src, dst) edge
  * DataFrame — the scale path for the engine's graph reads (the reference
  * traverses client-side; see `GraftEngine.readGraph`).
  */
object GraphOps {

  /** Fixed-iteration PageRank over a (src, dst) edge set:
    * `rank(v) = (1-d) + d * Σ_{u→v} rank(u)/outdeg(u)` (dangling mass
    * dropped — nodes with no out-edges contribute nothing, matching the
    * classic formulation the oracle replays). This is [[iterate]] with
    * teleport mass 1.0 on every node; `x * 1.0 == x`, so ranks are
    * bit-identical to the unweighted recurrence.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst")).distinct()
    val nodes = e.select(col("_src").as("node"))
      .unionByName(e.select(col("_dst").as("node"))).distinct()
      .withColumn("_s", lit(1.0)).localCheckpoint(false)
    iterate(e, nodes, iterations, damping)
  }

  /** PERSONALIZED PageRank (Haveliwala 2002; Page et al.'s §6 biased
    * surfer): the teleport mass returns to the SEED set rather than
    * uniformly — rank becomes "importance as seen from these pages",
    * the crawl-frontier prioritization and topic-conditioned ranking
    * primitive. The same [[iterate]] body as [[pageRank]]; the only
    * change is the teleport vector, a broadcast-joined seed indicator —
    * seeds start with mass 1, everything else 0, so rank stays a sum of
    * seed-rooted walk weights.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, iterations: Int,
                           damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst")).distinct()
    val seedSet = seeds.select(col(seeds.columns.head).as("node"))
      .distinct().withColumn("_s", lit(1.0))
    // node set = edge endpoints ∪ SEEDS: an isolated seed (a fresh
    // frontier URL with no observed links yet) must keep its teleport
    // mass and appear in the output, not silently vanish
    val nodes = e.select(col("_src").as("node"))
      .unionByName(e.select(col("_dst").as("node")))
      .unionByName(seedSet.select(col("node")))
      .distinct()
      .join(broadcast(seedSet), Seq("node"), "left")
      .withColumn("_s", coalesce(col("_s"), lit(0.0)))
      .localCheckpoint(false)
    iterate(e, nodes, iterations, damping)
  }

  /** The one PageRank iteration body over `(node, _s)` teleport mass:
    * `rank(v) = (1-d)·_s(v) + d · Σ_{u→v} rank(u)/outdeg(u)`, starting
    * from `rank = _s`.
    *
    * Shape: the edge set is joined ONCE with out-degrees and checkpointed —
    * every iteration then costs exactly one equi-join (ranks × edges on
    * src, both hash-partitioned on the join key) and one partial-agg
    * groupBy(dst). At cluster scale the edge table dominates; pre-bucketing
    * it by src makes the per-iteration join shuffle-free on the big side,
    * and ranks (one row per node) is the small side. `localCheckpoint`
    * per iteration truncates the otherwise exponentially deep lineage;
    * the checkpoints are lazy (r12), so the fixed-iteration loop pays no
    * driver job barrier per round — everything materializes in one
    * cascaded action at the sink.
    */
  private def iterate(e: DataFrame, nodes: DataFrame, iterations: Int, damping: Double): DataFrame = {
    val deg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    val ed = e.join(deg, "_src").localCheckpoint(false)
    var ranks = nodes.select(col("node"), col("_s").as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = ed
        .join(ranks.withColumnRenamed("node", "_src"), Seq("_src"))
        .groupBy(col("_dst").as("node"))
        .agg(sum(col("rank") / col("_deg")).as("_in"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("_s")
            + lit(damping) * coalesce(col("_in"), lit(0.0))).as("rank"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** Multi-source BFS: (node, depth) for every node within `maxDepth`
    * directed hops of a seed, depth = hop count from the NEAREST seed.
    *
    * Shape: iterative frontier expansion where each level is one semi-join
    * (edges × frontier) + one anti-join (drop already-visited) — the
    * frontier never leaves the cluster, unlike a collect-and-isin BFS, so
    * a hub node with millions of neighbors costs a shuffle, not a driver
    * OOM. `localCheckpoint` per level cuts the growing lineage (the
    * DupClusters pointer-jumping pattern); the per-level `isEmpty` is the
    * convergence probe. For an undirected walk, pass `edges` unioned with
    * its own reversal.
    */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
          seeds: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
    var visited = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .withColumn("depth", lit(0L)).localCheckpoint()
    var frontier = visited.select("node")
    var d = 0L
    var done = false
    while (!done && d < maxDepth) {
      d += 1
      val next = e.join(frontier.withColumnRenamed("node", "_src"), Seq("_src"), "left_semi")
        .select(col("_dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("depth", lit(d))
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        visited = visited.unionByName(next).localCheckpoint()
        frontier = next.select("node")
      }
    }
    visited
  }

  /** SYNCHRONOUS LABEL PROPAGATION (fixed rounds): seeds keep their
    * label; every other node takes each round the MAJORITY label among
    * its labeled neighbors (ties → lexicographically smallest label),
    * keeping its previous label when no neighbor is labeled yet. The
    * semi-supervised companion to [[pageRank]]/[[bfs]]: spread sparse
    * trusted annotations (licenses, topics, source classes) across a
    * similarity graph.
    *
    * Shape: per round, ONE edge×labels equi-join, a partial-aggregated
    * (node, label) vote count, then a max-count argmax resolved with a
    * second tiny agg — no window over a node's whole neighborhood, so a
    * hub node's votes collapse map-side. One checkpoint per round keeps
    * the plan constant-size (the [[graft.dedup.DupClusters]] lineage
    * discipline). Fixed `rounds` (not convergence) keeps cost bounded and
    * the result replayable in any engine.
    *
    * Returns `(node, lbl, is_seed)` for every node of the edge set;
    * `lbl` is null for nodes no label ever reached.
    */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, nodeCol: String, labelCol: String,
                     rounds: Int): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("_src"),
      col(dstCol).cast("long").as("_dst")).distinct().localCheckpoint(false) // lazy — fixed rounds, no probe
    val sym = e0.unionByName(
      e0.select(col("_dst").as("_src"), col("_src").as("_dst"))).distinct()
      .localCheckpoint(false)
    val nodes = sym.select(col("_src").as("node")).distinct()
    var labels = nodes
      .join(seeds.select(col(nodeCol).cast("long").as("node"),
        col(labelCol).cast("string").as("lbl")), Seq("node"), "left")
      .withColumn("is_seed", col("lbl").isNotNull)
      .localCheckpoint(false)
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.filter(col("lbl").isNotNull)
          .select(col("node").as("_dst"), col("lbl")), Seq("_dst"))
        .groupBy(col("_src"), col("lbl")).agg(count(lit(1)).as("_c"))
      val top = votes.groupBy(col("_src")).agg(max(col("_c")).as("_c"))
      val best = votes.join(top, Seq("_src", "_c"))
        .groupBy(col("_src").as("node")).agg(min(col("lbl")).as("_vote"))
      labels = labels.join(best, Seq("node"), "left")
        .select(col("node"),
          when(col("is_seed"), col("lbl"))
            .otherwise(coalesce(col("_vote"), col("lbl"))).as("lbl"),
          col("is_seed"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Exact triangle count by DEGREE-ORDERED orientation (the
    * Chiba–Nishizeki / Schank–Wagner forward discipline): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher,
    * enumerate wedges at each apex over its OUT-neighbors only, and
    * probe the oriented edge set for the closing edge. Every triangle is
    * counted exactly once (its (deg, id)-minimal vertex is the apex),
    * and — the scale point — out-degrees are bounded by O(√m) on any
    * graph, so the wedge self-join never explodes at a hub vertex the
    * way a naive neighbor×neighbor join does: the billion-follower node
    * contributes only the wedges where it is the LARGER endpoint.
    *
    * Returns one row: `(n_nodes, n_edges, n_triangles)`.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(
      least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
      greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(false) // lazy — no probe before the sink
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val keyed = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
    val fwd = (col("du") < col("dv")) || (col("du") === col("dv") && col("u") < col("v"))
    val o = keyed.select(
      when(fwd, col("u")).otherwise(col("v")).as("a"),
      when(fwd, col("v")).otherwise(col("u")).as("b"),
      when(fwd, col("dv")).otherwise(col("du")).as("db"))
      .localCheckpoint(false)
    val x = o.select(col("a"), col("b").as("p"), col("db").as("dp"))
    val y = o.select(col("a"), col("b").as("q"), col("db").as("dq"))
    val wedges = x.join(y, Seq("a"))
      .filter((col("dp") < col("dq")) || (col("dp") === col("dq") && col("p") < col("q")))
    val tri = wedges.join(o.select(col("a").as("p"), col("b").as("q")), Seq("p", "q"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes")).crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
  }
}
