package graft.core

import graft.{SparkEntry, SparkSpec, Profile => PlanDump}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, RDDScanExec, SerializeFromObjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Machine-asserted physical-plan shapes for the load-bearing "want:"
  * properties in PLANS.md — the BucketedJoinSpec pattern generalized.
  *
  * Every gate's ANSWER is protected by the DuckDB oracle; nothing protects
  * its PLAN. A BroadcastHashJoin silently regressing to SortMergeJoin, a
  * pushed filter lost to a refactor, or a TakeOrderedAndProject decaying
  * to a global Sort keeps every gate green while the 100 TB story dies.
  * This suite executes each audited query at sf0.001 (AQE on, the gate
  * environment) and asserts the shape property itself, so a plan
  * regression fails CI instead of waiting for the next human plan audit.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Run the gate, finalize AQE, return the flattened node seq. */
  private def nodes(name: String): Seq[SparkPlan] = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.collect()
    PlanDump.flatten(df.queryExecution.executedPlan)
  }

  private def count[T](ns: Seq[SparkPlan])(pf: PartialFunction[SparkPlan, T]): Int =
    ns.count(pf.isDefinedAt)

  private def shuffles(ns: Seq[SparkPlan]): Int =
    count(ns) { case s: ShuffleExchangeExec => s }

  private def quadratic(ns: Seq[SparkPlan]): Int =
    count(ns) { case _: CartesianProductExec => () } +
      count(ns) { case _: BroadcastNestedLoopJoinExec => () }

  test("q2_join_dim: dims broadcast, fact never sort-merge-joins, one shuffle") {
    val ns = nodes("q2_join_dim")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } >= 3)
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0)
    assert(quadratic(ns) == 0)
    assert(shuffles(ns) <= 1, "only the groupBy may shuffle")
  }

  test("q117_star_join: every dim arm is a BroadcastHashJoin, one shuffle") {
    val ns = nodes("q117_star_join")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } >= 4)
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0)
    assert(shuffles(ns) <= 1)
  }

  test("q161_local_supplier: dims broadcast onto the fact chain") {
    val ns = nodes("q161_local_supplier")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } >= 3)
    assert(quadratic(ns) == 0)
    assert(shuffles(ns) <= 2, "groupBy + presentation sort only")
  }

  test("q3_topk: TakeOrderedAndProject, no global Sort, no shuffle") {
    val ns = nodes("q3_topk")
    assert(count(ns) { case _: TakeOrderedAndProjectExec => () } == 1)
    assert(count(ns) { case _: SortExec => () } == 0)
    assert(shuffles(ns) == 0)
  }

  test("q13_knn_cosine: codegen cosine + TakeOrderedAndProject, zero shuffles") {
    val df = SparkEntry.queries("q13_knn_cosine")(spark, dir)
    df.collect()
    val ns = PlanDump.flatten(df.queryExecution.executedPlan)
    assert(count(ns) { case _: TakeOrderedAndProjectExec => () } == 1)
    assert(shuffles(ns) == 0)
    assert(df.queryExecution.executedPlan.toString.contains("cosine_similarity"),
      "the native CosineSimilarity expression must sit in the plan, not a UDF")
  }

  test("q72_hard_negatives: probes broadcast once, top-k cut before the exchange") {
    val ns = nodes("q72_hard_negatives")
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } == 1,
      "8 probe rows against ONE corpus scan — exactly one BNLJ")
    assert(count(ns) { case _: WindowGroupLimitExec => () } >= 1,
      "rank<=k must compile to WindowGroupLimit (per-partition cut)")
  }

  test("q109_weighted_sample: A-Res rank filter compiles to WindowGroupLimit") {
    val ns = nodes("q109_weighted_sample")
    assert(count(ns) { case _: WindowGroupLimitExec => () } >= 1)
    assert(shuffles(ns) <= 2)
  }

  test("q7_scan_filter: filters pushed to parquet, schema pruned") {
    val ns = nodes("q7_scan_filter")
    val scans = ns.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1)
    assert(scans.head.metadata.get("PushedFilters").exists(s => s != "[]" && s.nonEmpty),
      s"parquet scan must carry pushed filters, got ${scans.head.metadata.get("PushedFilters")}")
    assert(scans.head.requiredSchema.size <= 3,
      s"ReadSchema must prune to <=3 columns, got ${scans.head.requiredSchema.size}")
  }

  test("q19_minhash: signature pipeline materialized once (ExistingRDD output)") {
    val ns = nodes("q19_minhash")
    assert(count(ns) { case _: RDDScanExec => () } == 1)
    assert(count(ns) { case _: BaseJoinExec => () } == 0 && shuffles(ns) == 0,
      "the banded join ran at build time — the gated plan re-reads the checkpoint")
  }

  test("q20_simhash: pigeonhole band pipeline materialized once") {
    val ns = nodes("q20_simhash")
    assert(count(ns) { case _: RDDScanExec => () } == 1)
    assert(count(ns) { case _: BaseJoinExec => () } == 0 && shuffles(ns) == 0)
  }

  test("q43_embed_bucketed: bucket-keyed equi-join, never a cartesian pair scan") {
    val ns = nodes("q43_embed_bucketed")
    assert(quadratic(ns) == 0, "sign-bucket self-join must stay an equi-join")
    val equi = count(ns) { case _: BroadcastHashJoinExec => () } +
      count(ns) { case _: SortMergeJoinExec => () } +
      count(ns) { case _: ShuffledHashJoinExec => () }
    assert(equi >= 1)
  }

  test("q66_rollup_stats: one Expand serves all grouping sets") {
    val ns = nodes("q66_rollup_stats")
    assert(count(ns) { case _: ExpandExec => () } == 1,
      "three grouping sets must share ONE Expand + HashAggregate pair")
    assert(shuffles(ns) <= 2, "agg + presentation sort only — not one scan per set")
  }

  test("q88_winnowing: one JIT'd map pass, zero Exchange anywhere") {
    val ns = nodes("q88_winnowing")
    assert(count(ns) { case _: SerializeFromObjectExec => () } == 1)
    assert(shuffles(ns) == 0)
    assert(count(ns) { case _: BaseJoinExec => () } == 0)
  }

  test("q47_asof_join: ONE window over the tagged union, no probe join") {
    val ns = nodes("q47_asof_join")
    assert(count(ns) { case _: WindowExec => () } == 1)
    assert(count(ns) { case _: UnionExec => () } == 1)
    assert(count(ns) { case _: BaseJoinExec => () } == 0,
      "as-of resolves inside the window — a range-probe join would re-shuffle")
    assert(shuffles(ns) == 1)
  }

  test("q80_salted_join: the hot-key join is keyed on the salt") {
    val ns = nodes("q80_salted_join")
    val salted = ns.collect { case j: BaseJoinExec => j }
      .filter(j => j.leftKeys.mkString(",").contains("_salt") ||
        j.rightKeys.mkString(",").contains("_salt"))
    assert(salted.nonEmpty, "join keys must include the _salt column")
  }

  test("q15_bm25_search: term-df model broadcasts; top-k via TakeOrderedAndProject") {
    val ns = nodes("q15_bm25_search")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } >= 1)
    assert(count(ns) { case _: TakeOrderedAndProjectExec => () } == 1)
  }

  test("q68_lm_quality: unigram model broadcasts onto the token stream") {
    val ns = nodes("q68_lm_quality")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } >= 1)
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0,
      "the big token side must never shuffle for the model join")
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 1,
      "only the 1-row corpus total may BNLJ")
  }

  test("q203_bitext_bucketed: the pair product is an equi-join on the cell") {
    val ns = nodes("q203_bitext_bucketed")
    assert(count(ns) { case _: CartesianProductExec => () } == 0,
      "the corpus halves must never cartesian-product")
    val equi = count(ns) { case _: SortMergeJoinExec => () } +
      count(ns) { case _: ShuffledHashJoinExec => () } +
      count(ns) { case _: BroadcastHashJoinExec => () }
    assert(equi >= 1, "cell-keyed equi-join must carry the candidate product")
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 3,
      "only the 16-row centroid assignment broadcasts may BNLJ")
  }

  test("q214_dim_corr: pairs built in-row (Generate), zero joins, agg+sort shuffles only") {
    val ns = nodes("q214_dim_corr")
    assert(count(ns) { case _: BaseJoinExec => () } == 0,
      "dim pairs come from the row's own array — a vec_id self-join would shuffle the exploded corpus twice")
    assert(count(ns) { case g: org.apache.spark.sql.execution.GenerateExec => g } == 2,
      "two chained posexplodes over the same array")
    assert(shuffles(ns) <= 2, "the bounded (i,j) agg + presentation sort only")
  }

  test("q105_lm_buckets: every model join broadcasts, token side never sort-merges") {
    val ns = nodes("q105_lm_buckets")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } >= 4)
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0)
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 1,
      "only the 1-row corpus total may BNLJ")
    assert(shuffles(ns) <= 9, "the q95 LM pipeline's audited shuffle budget (PLANS.md)")
  }

  test("q108_hll_rollup: ONE tokenize scan feeds the sketch path, one Expand for the sets") {
    val ns = nodes("q108_hll_rollup")
    assert(count(ns) { case _: FileSourceScanExec => () } == 1,
      "the corpus must be tokenized once — the rollup reuses the sketch, not the scan")
    assert(count(ns) { case _: ExpandExec => () } == 1)
    assert(quadratic(ns) <= 3, "only 1-row total broadcasts may BNLJ")
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0)
  }

  test("q126_hits: per-iteration equi-joins only, 1-row norms broadcast") {
    val ns = nodes("q126_hits")
    assert(count(ns) { case _: CartesianProductExec => () } == 0)
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 2,
      "only the two 1-row norm totals may BNLJ")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } +
      count(ns) { case _: SortMergeJoinExec => () } +
      count(ns) { case _: ShuffledHashJoinExec => () } >= 1,
      "the hub/authority propagation is an edge-keyed equi-join")
  }

  test("q147_dup_spans: gram-keyed semi-join, corpus scanned once, no doc×doc") {
    val ns = nodes("q147_dup_spans")
    assert(quadratic(ns) == 0, "span candidates come from the gram bucket join, never pair enumeration")
    assert(count(ns) { case _: FileSourceScanExec => () } == 1)
    assert(count(ns) { case _: BroadcastHashJoinExec => () } +
      count(ns) { case _: SortMergeJoinExec => () } +
      count(ns) { case _: ShuffledHashJoinExec => () } >= 1)
  }

  test("q92_bpe_tokens: the text column is scanned exactly once") {
    val ns = nodes("q92_bpe_tokens")
    val textScans = ns.collect { case f: FileSourceScanExec => f }
      .filter(_.requiredSchema.fieldNames.contains("text"))
    assert(textScans.size == 1,
      s"heavy column must be read once (model fit is pre-materialized), got ${textScans.size}")
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0,
      "the (doc_id, source) attach join must broadcast")
  }

  test("q21_ngram_jaccard: bucket-blocked pipeline materialized once, no live join") {
    val ns = nodes("q21_ngram_jaccard")
    assert(count(ns) { case _: RDDScanExec => () } == 1)
    assert(count(ns) { case _: BaseJoinExec => () } == 0 && shuffles(ns) == 0,
      "candidate blocking + early-abort verify ran at build time — the gate re-reads the checkpoint")
  }

  test("q132_split_leakage: components checkpoint + bounded aggs, zero joins") {
    val ns = nodes("q132_split_leakage")
    assert(count(ns) { case _: RDDScanExec => () } == 1)
    assert(count(ns) { case _: BaseJoinExec => () } == 0)
    assert(shuffles(ns) <= 3, "cluster-key partial aggs only")
  }

  test("q86_minhash_calibration: banded pipeline checkpoint, one presentation shuffle") {
    val ns = nodes("q86_minhash_calibration")
    assert(count(ns) { case _: BaseJoinExec => () } == 0)
    assert(shuffles(ns) <= 1)
  }

  test("q36_dup_clusters: one window over the checkpointed components, zero joins") {
    val ns = nodes("q36_dup_clusters")
    assert(count(ns) { case _: WindowExec => () } == 1)
    assert(count(ns) { case _: BaseJoinExec => () } == 0)
    assert(shuffles(ns) <= 1)
  }

  test("q225_power_iter: corpus scanned once for the covariance; iterations broadcast") {
    val ns = nodes("q225_power_iter")
    assert(count(ns) { case _: FileSourceScanExec => () } <= 1,
      "the d2 covariance cells are checkpointed — iterations must not rescan the corpus")
    assert(count(ns) { case _: SortMergeJoinExec => () } == 0,
      "the 64-row vector must broadcast onto the 4096-row cell table")
    assert(count(ns) { case _: CartesianProductExec => () } == 0)
    // BNLJ nodes here are the 1-row broadcast norm/sign/lambda attachments
    // (the repo's bounded-total pattern), never corpus-sided: cap, don't ban.
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 8)
  }

  test("q231_session_native: one shuffle on the session key, zero joins") {
    val ns = nodes("q231_session_native")
    assert(count(ns) { case _: BaseJoinExec => () } == 0)
    // user_id agg shuffle + presentation sort; session merge is per-partition
    assert(shuffles(ns) <= 2)
  }

  test("q234_bucketed_join: co-bucketed SMJ with no Exchange under the join") {
    val df = SparkEntry.queries("q234_bucketed_join")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val ns = PlanDump.flatten(plan)
    val smjs = ns.collect { case j: SortMergeJoinExec => j }
    assert(smjs.size == 1, "the layout gate must SMJ, not broadcast")
    // the join's subtree reads the bucketed layout directly: no Exchange,
    // no Sort below it — the on-disk (bucket, sort) order IS the plan
    val under = PlanDump.flatten(smjs.head)
    assert(under.count { case _: ShuffleExchangeExec => true; case _ => false } == 0,
      "co-bucketed join must not shuffle either side")
    assert(count(ns) { case _: BroadcastHashJoinExec => () } == 0)
    // only the 5-row priority agg + presentation sort may shuffle
    assert(shuffles(ns) <= 2)
  }

  test("q238_modularity: label joins are equi-joins, Q from two integer aggs") {
    val ns = nodes("q238_modularity")
    assert(count(ns) { case _: CartesianProductExec => () } == 0,
      "nothing may enumerate node pairs")
    // the only BNLJ nodes are the 1-row total attachments (n_nodes, d2)
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 2)
    assert(count(ns) { case _: SortMergeJoinExec => () } +
      count(ns) { case _: BroadcastHashJoinExec => () } +
      count(ns) { case _: ShuffledHashJoinExec => () } >= 2,
      "community tags must reach the edges via node-keyed equi-joins")
  }

  test("q247_feature_mi: the rule self-join keys on doc_id (bounded 25x fan-out)") {
    val ns = nodes("q247_feature_mi")
    assert(quadratic(ns) == 0, "feature pairing must never cross documents")
  }

  test("q253_capture_recapture: both detectors stay banded — no all-pairs join") {
    val ns = nodes("q253_capture_recapture")
    assert(count(ns) { case _: CartesianProductExec => () } == 0)
    // only the three 1-row count attachments may BNLJ
    assert(count(ns) { case _: BroadcastNestedLoopJoinExec => () } <= 2)
  }

  test("q221_trending_mg: guarantee semi-join is an equi-join, no pair enumeration") {
    val ns = nodes("q221_trending_mg")
    assert(quadratic(ns) == 0)
    assert(count(ns) { case _: BaseJoinExec => () } >= 2,
      "shard-total join + MG-candidate semi-join")
  }

  test("q101_bloom_prune: membership is a codegen predicate, not a probe join") {
    val df = SparkEntry.queries("q101_bloom_prune")(spark, dir)
    df.collect()
    val ns = PlanDump.flatten(df.queryExecution.executedPlan)
    assert(quadratic(ns) == 0)
    assert(df.queryExecution.executedPlan.toString.contains("might_contain"),
      "the 1024-bit mask must evaluate as a literal predicate over the scan")
  }
}
