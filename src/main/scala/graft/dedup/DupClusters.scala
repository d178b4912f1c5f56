package graft.dedup

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster resolution: connected components over a near-dup pair
  * list (minhash / simhash / jaccard candidates), so a training pipeline can
  * keep one representative per duplicate family ("cluster id = min doc id
  * in the component" — the same convention the oracle's recursive CTE
  * computes, so the fixpoint is engine-independent by construction).
  *
  * Scale shape: two paths, chosen by the edge count alone. The caller's
  * edge lineage is evaluated once either way, into a persisted copy whose
  * materializing job also counts the edges.
  *  - Up to [[MaxHeapShare]] of the driver heap ([[BytesPerEdge]] a pair),
  *    the edges are collected as packed longs and resolved by union-find
  *    with path halving; the result rows are a `LogicalRDD` over the local
  *    rows. Two jobs per call, whatever the diameter. Edges from LSH banding
  *    are sparse by construction, so a corpus's pair list is usually far
  *    smaller than the corpus and takes this path.
  *  - Above it, min-label propagation with pointer jumping runs as Spark
  *    rounds: each node starts labeled with itself; every round each node
  *    takes the min of its own label and its neighbors' labels, then jumps
  *    to its label's label. The jump halves chain lengths, so a component
  *    of diameter d settles in O(log d) rounds, not d. Convergence (no
  *    label changed) is the exact component minimum. Per round: one edge
  *    join, one groupBy and one label self-join over the EDGE list (not the
  *    corpus), and two job barriers. Each round's labels are checkpointed,
  *    so the plan doesn't grow with iterations. The rounds stay because an
  *    edge list that does not fit the driver has no other path, and they
  *    are the parity reference for the driver path (`DupClustersSpec`).
  * Both paths give the same rows and schema, null endpoints included: a
  * null joins no edge, so non-null nodes group as if its edges were absent,
  * and the one null node takes the least cluster id among its neighbors.
  */
object DupClusters {

  /** The share of the driver's max heap an edge list may take to be
    * resolved on the driver, as `SearchSnapshot.MaxHeapShare` bounds a
    * snapshot.
    */
  private val MaxHeapShare = 0.05

  /** Driver bytes per collected edge at the peak: the packed pair (16),
    * its endpoints' sorted ids, indices and parents (up to 48), and up to
    * two result rows of boxed longs (~180).
    */
  private val BytesPerEdge = 256L

  /** Result rows per slice of the driver path's `LogicalRDD`. */
  private val RowsPerSlice = 16384

  /** (node, cluster_id) for every node appearing in `edges`. */
  def components(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    components(edges, srcCol, dstCol, (MaxHeapShare * Runtime.getRuntime.maxMemory / BytesPerEdge).toLong)

  /** As above, resolving on the driver when `edges` has at most
    * `maxDriverEdges` rows: the bound's test override.
    */
  private[graft] def components(edges: DataFrame, srcCol: String, dstCol: String,
                                maxDriverEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    // materialize the edge list ONCE up front: the caller's edge pipeline
    // may be expensive (e.g. a brute-force similarity join), and both
    // paths read it more than once. The materializing job counts it too.
    // A persist, not a checkpoint: nothing reads it after this call (the
    // rounds checkpoint their own copy), so it is released on return.
    val typed = edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val rows = typed.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val out =
      if (rows.count() <= maxDriverEdges) onDriver(spark, rows, typed.schema)
      else rounds(spark.createDataFrame(rows, typed.schema))
    rows.unpersist(blocking = false)
    out
  }

  /** Union-find over the collected edges. Node ids are sorted, so linking
    * the larger root index under the smaller keeps every root its
    * component's minimum id.
    */
  private def onDriver(spark: SparkSession, edges: RDD[Row], edgeSchema: StructType): DataFrame = {
    val sc = spark.sparkContext
    // per partition: both-non-null pairs, the non-null end of each
    // one-null edge, and whether a null-null edge occurs
    val parts = sc.runJob(edges, (it: Iterator[Row]) => {
      val pairs = new ArrayBuilder.ofLong
      val lone = new ArrayBuilder.ofLong
      var nullNull = false
      it.foreach { r =>
        if (r.isNullAt(0) && r.isNullAt(1)) nullNull = true
        else if (r.isNullAt(0)) lone += r.getLong(1)
        else if (r.isNullAt(1)) lone += r.getLong(0)
        else pairs += r.getLong(0) += r.getLong(1)
      }
      (pairs.result(), lone.result(), nullNull)
    })
    val pairs = parts.flatMap(_._1)
    val lone = parts.flatMap(_._2)
    val ids = (pairs ++ lone).sorted.distinct
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < pairs.length) {
      val a = find(index(pairs(k)))
      val b = find(index(pairs(k + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      k += 2
    }
    val nodes = ids.indices.map(i => Row(ids(i), ids(find(i))))
    // the null node: the least cluster id among its neighbors, or null
    // when its only edges are null-null
    val nullNode =
      if (lone.nonEmpty) Seq(Row(null, lone.map(id => ids(find(index(id)))).min))
      else if (parts.exists(_._3)) Seq(Row(null, null))
      else Nil
    val out = nodes ++ nullNode
    val schema = StructType(Seq(
      StructField("node", LongType, edgeSchema.fields.exists(_.nullable)),
      StructField("cluster_id", LongType, nullable = true)))
    spark.createDataFrame(
      sc.parallelize(out, math.min(sc.defaultParallelism, 1 + out.length / RowsPerSlice)), schema)
  }

  /** Min-label propagation with pointer jumping, over materialized edges. */
  private def rounds(sym0: DataFrame): DataFrame = {
    // eager, not a lazy persist: the first round's `distinct` and neighbor
    // join both read `sym`, and two tasks building one cached block make
    // one of them wait on the other's write lock
    val sym = sym0.union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)

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
    // Dataset.unpersist does not release a checkpoint; its RDD's blocks do
    sym.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.unpersist(blocking = false) }
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
