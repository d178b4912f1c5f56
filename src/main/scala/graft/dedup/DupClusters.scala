package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a near-dup pair
  * list (minhash / simhash / jaccard candidates), so a training pipeline can
  * keep one representative per duplicate family ("cluster id = min doc id
  * in the component" — the same convention the oracle's recursive CTE
  * computes, so the fixpoint is engine-independent by construction).
  *
  * Algorithm: min-label propagation with pointer jumping. Each node starts
  * labeled with itself; every round each node takes the min of its own
  * label and its neighbors' labels, then jumps to its label's label. The
  * jump halves chain lengths, so a component of diameter d settles in
  * O(log d) rounds, not d. Convergence (no label changed) is the exact
  * component minimum.
  *
  * Scale shape: per round, one edge join, one groupBy and one label
  * self-join over the EDGE list (not the corpus); edges from LSH banding
  * are sparse by construction. Each round's labels are checkpointed, so
  * the plan doesn't grow with iterations.
  */
object DupClusters {

  /** (node, cluster_id) for every node appearing in `edges`. */
  def components(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // materialize the edge list ONCE up front: the caller's edge pipeline
    // may be expensive (e.g. a brute-force similarity join), and both the
    // symmetrization union branches and every loop iteration would
    // otherwise re-execute its lineage
    val sym0 = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .localCheckpoint(true)
    val sym = sym0.union(sym0.select(col("dst").as("src"), col("src").as("dst"))).persist()

    // localCheckpoint (eager) at every step, NOT persist: persist caches
    // data but keeps the full logical plan, so an iterative loop's plan
    // doubles per round (labels_i is built on labels_{i-1}) until plan
    // stringification/codegen OOMs on long-diameter graphs. Checkpointing
    // truncates lineage — the per-iteration plan stays constant-size, the
    // standard discipline for iterative DataFrame algorithms.
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))

    var changed = true
    while (changed) {
      val neighborLbl = sym
        .join(labels.select(col("node").as("dst"), col("lbl")), Seq("dst"))
        .select(col("src").as("node"), col("lbl"), lit(null).cast("long").as("own"))
      // each node contributes exactly one self row carrying its current
      // label in `own`, so the SAME aggregation yields both the new label
      // (min over self+neighbors) and the old one (max ignores nulls) —
      // no second join to detect convergence
      val selfLbl = labels.select(col("node"), col("lbl"), col("lbl").as("own"))
      val prop = selfLbl.union(neighborLbl)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"), max(col("own")).as("own"))
      // pointer jumping: labels are node ids (component minima propagate
      // as ids), so re-labeling every node through its LABEL's label
      // halves chain lengths each round — O(log diameter) rounds instead
      // of O(diameter), which is what makes long-chain similarity graphs
      // (and a 100 TB corpus's dup families) converge in a handful of
      // passes. The fixpoint is unchanged: min id per component.
      //
      // `prop` appears on BOTH sides of the jump self-join but is NOT
      // materialized separately: its groupBy exchange is identical under
      // both join inputs, so Spark's ReuseExchange runs the expensive
      // part (the edge join + shuffle) once. One eager checkpoint per
      // round (the round result, truncating lineage) + a limit-1
      // convergence probe over the checkpointed blocks = 2 job barriers
      // per round instead of the 5 the 3-checkpoint version paid.
      val jumped = prop
        .join(prop.select(col("node").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
        .select(col("node"), coalesce(col("lbl2"), col("lbl")).as("lbl"), col("own"))
        .localCheckpoint(true)
      changed = !jumped.filter(col("lbl") =!= col("own")).isEmpty
      labels = jumped.select(col("node"), col("lbl"))
    }
    val out = labels.withColumnRenamed("lbl", "cluster_id").localCheckpoint(false) // lazy: lineage is one select over the last (materialized) round
    sym.unpersist()
    out
  }

  /** REPRESENTATIVE ELECTION — per duplicate cluster, keep the member
    * with the highest score (ties → smallest node id). This is the
    * end-step a curation pipeline actually runs after clustering: "keep
    * the most complete copy", not "keep whichever came first".
    *
    * Scale shape: ONE partial-aggregated groupBy on cluster_id taking
    * `max(struct(score, -node))` — a giant boilerplate family collapses
    * map-side; never a window over the cluster (the ParagraphDedup skew
    * lesson applied).
    *
    * `scores` maps `scoreNodeCol` → `scoreCol` (e.g. doc_id → n_chars).
    */
  def representatives(clusters: DataFrame, nodeCol: String, clusterCol: String,
                      scores: DataFrame, scoreNodeCol: String, scoreCol: String): DataFrame =
    clusters
      .join(scores.select(col(scoreNodeCol).cast("long").as(nodeCol),
        col(scoreCol).cast("long").as("_score")), Seq(nodeCol))
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("_score").as("s"), (-col(nodeCol)).as("negId"))).as("_best"))
      .select(col(clusterCol),
        (-col("_best.negId")).as("rep"),
        col("_best.s").as("rep_score"),
        col("n_members"))
}
