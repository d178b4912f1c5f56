package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.index.Diff
import graft.streaming.Sessionize

/** Relational engine operators (SURVEY.md §2.4/§2.5 Spark mappings) expressed
  * over the driver testdata tables, each with a DuckDB oracle.
  *
  * Plan-shape notes (verified with .explain("formatted")):
  *  - dimension joins broadcast (nation/region/supplier are tiny; customer at
  *    sf0.1 is 15k rows — still broadcast under the 10 MB default);
  *  - groupBy aggregates are partial (map-side combine) before the single
  *    shuffle;
  *  - top-k goes through TakeOrderedAndProject (no global sort);
  *  - filters and column pruning reach the parquet scan (PushedFilters).
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Previous q234 run's (lineitem table, orders table, temp dir), retired
    * lazily at the NEXT invocation (see the gate for why).
    */
  @volatile private var q234Layout: Option[(String, String, String)] = None
  private val q234Lock = new Object

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** On-disk byte size of a parquet table dir (driver-side metadata walk —
    * no Spark job). Feeds q234's scale-adaptive bucket count.
    */
  private def dirBytes(path: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
      else f.length()
    sz(new java.io.File(path))
  }

  def defs: Map[String, Q] = Map(
    // TPC-H Q5-shaped local-supplier volume: revenue where the customer
    // and supplier sit in the SAME nation. Two independent dim paths onto
    // the fact row (order→customer→nation vs suppkey→supplier); all dims
    // broadcast, lineitem shuffles once for the rollup.
    "q161_local_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .filter(c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // §2.4 broadcast-dim join chain: fact table joins up a snowflake. At
    // 100 TB lineitem shuffles only for the final groupBy; all dims broadcast.
    "q2_join_dim" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
    }),

    // §2.4 top-k: TakeOrderedAndProject — per-partition limit then global
    // merge of k rows; never a full sort at scale. Tie-broken by key.
    "q3_topk" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))),

    // §2.4 window functions (the RRF-fusion primitive): rank + running sum
    // inside one partitioning — single shuffle on o_custkey.
    "q4_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_spend", round(sum(col("o_totalprice")).over(w), 2))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("cum_spend"))
    }),

    // §2.5 semi-join (the CALLS-edge entity-name filter pattern,
    // indexer.py:1212-1247): customers having a big order.
    "q5_semi_join" -> ((s, dir) => {
      val big = Tables.orders(s, dir).filter(col("o_totalprice") > 100000.0)
      val c = Tables.customer(s, dir)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // §2.5 anti-join (content-dedup / orphan pattern): customers with no
    // high-value order. The filter is applied on the right side BEFORE the
    // anti-join so the pushed predicate shrinks the build side.
    "q6_anti_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
      val c = Tables.customer(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),

    // §2.1 scan + pushdown showcase (TPC-H q6 shape): the predicate and the
    // 3-column projection must reach the parquet reader.
    "q7_scan_filter" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24.0)
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("promo_revenue"),
          count(lit(1)).as("cnt"))),

    // §2.6 tumbling-window aggregation over the events stream table (batch
    // form of the Structured Streaming windowed agg).
    "q8_events_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("event_type"), col("cnt"), col("sum_value"))),

    // §2.6 SLIDING window aggregation: 1-hour windows every 30 minutes —
    // each event lands in two windows (window() with a slide interval).
    "q34_sliding_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("w_start"), col("event_type"), col("cnt"))),

    // §2.6 debounce/coalesce analog: gap-based sessionization (30 min quiet
    // period starts a new session), then per-session summaries.
    "q9_sessionize" -> ((s, dir) =>
      Sessionize.sessionSummaries(Tables.events(s, dir), "user_id", "ts", "event_id", 1800L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("sess_start"), col("sess_end"))),

    // §2.5 diff sketch (diff_layers.py:11-77): old/new snapshot full-outer
    // join → added/removed/modified/unchanged. Content compared as exact
    // bigint cents (no float hashing).
    "q10_diff" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val withContent = orders.withColumn(
        "content",
        (round(col("o_totalprice") * 100).cast("long")
          + when(col("o_orderkey") % 3 === 0, 1L).otherwise(0L)))
      val oldSnap = orders
        .filter(col("o_orderkey") % 10 =!= 0)
        .withColumn("content", round(col("o_totalprice") * 100).cast("long"))
      val newSnap = withContent.filter(col("o_orderkey") % 7 =!= 0)
      Diff.diffByKey(oldSnap, newSnap, "o_orderkey", "content")
        .groupBy(col("status")).agg(count(lit(1)).as("cnt"))
    }),

    // §2.5 orphan-relation cleanup (qdrant.py:1937-2323): edges (lineitem)
    // whose endpoints are missing from the surviving node sets — two
    // anti-joins, labeled by reason.
    "q11_orphan" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val liveOrders = Tables.orders(s, dir).filter(col("o_orderstatus") =!= "F")
      val liveParts = Tables.part(s, dir).filter(col("p_size") > 10)
      val noOrder = Diff.orphanEdges(li, liveOrders, "l_orderkey", "o_orderkey")
        .select(lit("missing_order").as("reason"))
      val noPart = Diff.orphanEdges(li, liveParts, "l_partkey", "p_partkey")
        .select(lit("missing_part").as("reason"))
      noOrder.unionByName(noPart).groupBy(col("reason")).agg(count(lit(1)).as("cnt"))
    }),

    // §2.1 JSON payload extraction (the schemaless-payload column of the
    // reference's point store): typed value out of a JSON string column.
    // A malformed payload or a non-integer `k` counts as NULL: under ANSI a
    // plain cast would throw on it and fail the whole job.
    "q31_props_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"),
          sum(col("k")).as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))),

    // Skew-safe two-phase aggregation (salting library path): exact same
    // result as a direct GROUP BY — the salt only reshapes the plan.
    "q33_salted_agg" -> ((s, dir) => {
      val cents = Tables.lineitem(s, dir)
        .withColumn("qty_cents", round(col("l_quantity") * 100).cast("long"))
      graft.functions.Salting.saltedSumLong(cents, Seq("l_returnflag"), "qty_cents", 16)
        .withColumnRenamed("sum", "sum_qty_cents")
    }),

    // Prefix autocomplete (the engine's suggestEntities shape over a
    // testdata table): a prefix predicate is a sargable RANGE — shortest-
    // then-lexicographic suggestions with per-prefix counts.
    "q82_prefix_suggest" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      p.filter(col("p_name").startsWith("bl"))
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
        .orderBy(length(col("p_name")), col("p_name"))
        .limit(15)
    }),

    // Skew-salted JOIN (the join-side twin of q33): events skew onto a
    // handful of event_type keys — the canonical hot-key join. Every big-
    // side row takes a per-row salt and the small dim replicates saltFactor
    // ways, spreading each hot key over saltFactor reducers; the aggregate
    // proves the row multiset is exactly the plain join's.
    "q80_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("type_n"))
      graft.functions.Salting.saltedJoin(ev, dim, Seq("event_type"), 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          max(col("type_n")).as("type_n"),
          sum(col("user_id")).as("sum_users"))
        .orderBy(col("event_type"))
    }),

    // §2.4 read_graph-style 1-hop neighborhood: entities (customers of one
    // nation) + their edge summaries (orders), one broadcast semi-side join
    // + one aggregate.
    "q12_graph_read" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_nationkey") === 1)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spend"),
          max(col("o_orderdate")).as("last_order"))
    }),

    // Z-order layout audit: bucket (user_id, ts_micros) to 8 bits each,
    // interleave to the Morton key, and report the (x, y) rectangle each
    // 1024-z-value "file" covers. Top 6 z-bits fixed per file → every
    // file spans ≤ 32 of 256 buckets in EACH dimension, which is exactly
    // the min/max-stats tightness that lets a 100 TB scan prune on
    // either column. One agg for min/max + one codegen map + one agg.
    "q100_zorder" -> ((s, dir) => {
      import graft.functions.ZOrder
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("x"), unix_micros(col("ts")).as("y"))
      val m = ev.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("y")).as("ymin"), max(col("y")).as("ymax"))
      val b = ev.crossJoin(broadcast(m))
        .select(
          ZOrder.bucket(col("x"), col("xmin"), col("xmax")).as("xb"),
          ZOrder.bucket(col("y"), col("ymin"), col("ymax")).as("yb"))
      b.withColumn("z", ZOrder.zvalue(col("xb"), col("yb")))
        .groupBy(shiftright(col("z"), 10).as("zfile"))
        .agg(count(lit(1)).as("n"),
          min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
          min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
        .orderBy(col("zfile"))
    }),

    // Bloom-filter semi-join pruning: high-value buyers' custkeys →
    // 1024-bit filter (the only driver materialization, bounded by m);
    // every customer probed by a pure codegen predicate — the runtime-
    // filter shape that skips probe rows inside the scan at 100 TB. The
    // gate counts bloom passes vs exact members per nation: n_pass ≥
    // n_true always (no false negatives), n_fp = the collision cost.
    "q101_bloom_prune" -> ((s, dir) => {
      import graft.functions.BloomFilter
      val hot = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 495000).select(col("o_custkey"))
      val probed = BloomFilter.filterColumn(
        hot, "o_custkey", Tables.customer(s, dir), "c_custkey")
      val truth = hot.distinct().withColumn("is_true", lit(1L))
      probed.join(broadcast(truth),
          probed("c_custkey") === truth("o_custkey"), "left")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_pass"),
          sum(coalesce(col("is_true"), lit(0L))).as("n_true"))
        .withColumn("n_fp", col("n_pass") - col("n_true"))
        .orderBy(col("c_nationkey"))
    }),

    // Bloom-filter FPR calibration on the q101 mask: empirical false-
    // positive rate among true NON-members vs the theoretical
    // (1−e^{−kn/m})^k — the check run before sizing a semi-join filter
    // at scale. Counts are integers; the no-false-negative witness
    // (n_member_pass == n_members) rides along in the same row.
    "q246_bloom_fpr" -> ((s, dir) => {
      import graft.functions.BloomFilter
      val hot = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 495000).select(col("o_custkey"))
      val probed = BloomFilter.filterColumn(
        hot, "o_custkey", Tables.customer(s, dir), "c_custkey")
      val truth = hot.distinct().withColumn("is_true", lit(1L))
      val j = probed.join(broadcast(truth),
        probed("c_custkey") === truth("o_custkey"), "left")
      val agg = j.agg(
        sum(when(col("is_true").isNotNull, 1L).otherwise(0L)).as("n_members"),
        sum(when(col("is_true").isNotNull && col("might_contain"), 1L)
          .otherwise(0L)).as("n_member_pass"),
        sum(when(col("is_true").isNull, 1L).otherwise(0L)).as("n_nonmembers"),
        sum(when(col("is_true").isNull && col("might_contain"), 1L)
          .otherwise(0L)).as("n_fp"))
      val k = truth.agg(count(lit(1)).as("n_keys"))
      agg.crossJoin(broadcast(k))
        .select(col("n_keys"), col("n_members"), col("n_member_pass"),
          col("n_nonmembers"), col("n_fp"),
          round(col("n_fp").cast("double") / col("n_nonmembers"), 6)
            .as("fpr_emp"),
          round(pow(lit(1.0) - exp(lit(-4.0) * col("n_keys") / lit(1024.0)),
            lit(4.0)), 6).as("fpr_theory"))
    }),

    // TPC-H Q5 shape: the canonical star-schema revenue rollup — fact
    // table joins region-filtered snowflake dims, with the co-located
    // supplier-nation = customer-nation condition. All dims broadcast
    // (nation/region trivially, supplier/customer under the threshold at
    // gate scale; at 100 TB customer shuffles and everything else still
    // broadcasts); ONE shuffle for the rollup.
    // BUCKETED CO-LOCATED JOIN, end-to-end: lineitem and orders written
    // bucketed+sorted by the order key (Bucketing.writeBucketed → 8
    // buckets, external paths under /tmp), then sort-merge-joined — on
    // co-bucketed tables the SMJ plans with ZERO Exchange and ZERO Sort
    // on either side (BucketedJoinSpec proves the shape; PlanShapeSpec
    // asserts it on this gate). At 100 TB this is the one-time-layout
    // trade: the fact table's recurring join shuffle becomes a write-time
    // cost. The merge hint keeps Catalyst from broadcasting the small
    // sf-test orders side, which would bypass the layout being gated.
    "q234_bucketed_join" -> ((s, dir) => {
      import java.nio.file.Files
      // per-run token: concurrent sessions get distinct metastore names,
      // and each invocation retires the PREVIOUS run's tables + temp dir
      // (the returned DataFrame is lazy, so cleanup can't run after this
      // call — deferring it one invocation keeps at most one layout on
      // disk across repeated bench passes instead of leaking one per run)
      val (liName, ordName, tmp) = q234Lock.synchronized {
        q234Layout.foreach { case (oldLi, oldOrd, oldTmp) =>
          try {
            s.sql(s"DROP TABLE IF EXISTS $oldLi")
            s.sql(s"DROP TABLE IF EXISTS $oldOrd")
            deleteRecursively(new java.io.File(oldTmp))
          } catch { case _: Throwable => }
        }
        val token = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        val t = (s"g234_li_$token", s"g234_ord_$token",
          Files.createTempDirectory("g234").toString)
        q234Layout = Some(t)
        t
      }
      // scale-adaptive bucket count (guide §6, r13): ~128 MB of fact-table
      // input per bucket rather than a constant — a fixed count is either
      // small-file overhead at test SFs or absurd bucket density at 100 TB.
      // Floor 4 keeps the gate a genuinely multi-bucket co-location
      // demonstration; cap 4096 bounds per-table file count at scale. Both
      // tables MUST share the count or the join shuffles.
      val buckets = math.min(4096, math.max(4,
        math.ceil(dirBytes(s"$dir/lineitem.parquet") / (128.0 * (1 << 20))).toInt))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.write.mode("overwrite").option("path", s"$tmp/li")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(liName)
      ord.write.mode("overwrite").option("path", s"$tmp/ord")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(ordName)
      s.table(liName)
        .join(s.table(ordName).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    "q117_star_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir); val r = Tables.region(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey") &&
          su("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          n("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Scale-safe CDF deciles: per-language length percentile WITHOUT a
    // per-row window — the cumulative count lives on the DISTINCT value
    // distribution (the q56 quantile discipline), docs join it back by
    // value. decile = min(9, cum·10 div n), all integer. A naive
    // cume_dist() would sort every row of a language in one task.
    "q118_cdf_decile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dist = docs.groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
      val cum = dist.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("n_chars"))))
      val totals = docs.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
      val d = col("cum") * 10
      docs.select(col("lang"), col("n_chars"))
        .join(cum, Seq("lang", "n_chars"))
        .join(broadcast(totals), Seq("lang"))
        .withColumn("decile",
          least(lit(9L), ((d - d % col("nl")) / col("nl")).cast("long")))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("decile"))
    }),

    // k-anonymity audit over quasi-identifiers — the privacy gate a
    // training-data export runs AFTER PII scrubbing (q49): any
    // (segment, nation) combination shared by fewer than k=10 people
    // re-identifies them by join. Two partial-agg rollups, nothing else;
    // at 100 TB the quasi-id group table is tiny by construction.
    "q119_k_anonymity" -> ((s, dir) => {
      val groups = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("gn"))
      groups.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("gn")).as("min_group"),
          sum(when(col("gn") < 10, 1L).otherwise(0L)).as("n_risky_groups"),
          sum(when(col("gn") < 10, col("gn")).otherwise(0L)).as("n_rows_at_risk"))
        .orderBy(col("c_mktsegment"))
    }),

    // ROLLUP grouping sets with grouping_id — the multi-level report in
    // ONE pass instead of three unions (Spark plans a single Expand +
    // partial agg; at 100 TB that's one corpus scan for all levels).
    // sum_qty is a sum of integer-valued doubles (< 2^53 — exact, so
    // order-free); gid disambiguates the NULL-filled supertotal rows.
    "q283_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    // CUBE completes q283's ROLLUP: all four grouping sets (including
    // the linestatus-only marginal ROLLUP can't express) from the same
    // single Expand + partial agg — still one corpus scan.
    "q303_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")))
  )

  def oracles: Map[String, String] = Map(
    "q161_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q2_join_dim" ->
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q3_topk" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q4_window" ->
      """SELECT o_custkey, o_orderkey, rn, cum_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER w AS rn,
        |         round(sum(o_totalprice) OVER w, 2) AS cum_spend
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) WHERE rn <= 3""".stripMargin,

    "q5_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""".stripMargin,

    "q6_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,

    "q7_scan_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS promo_revenue,
        |       count(*) AS cnt
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0""".stripMargin,

    "q8_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q34_sliding_window" ->
      """WITH slotted AS (
        |  SELECT event_type,
        |         date_trunc('hour', ts)
        |           + CASE WHEN extract(minute FROM ts) >= 30
        |                  THEN INTERVAL '30 minutes' ELSE INTERVAL '0 minutes' END AS slot
        |  FROM events
        |), assigned AS (
        |  SELECT event_type,
        |         unnest([slot - INTERVAL '30 minutes', slot]) AS w_start
        |  FROM slotted
        |)
        |SELECT w_start, event_type, count(*) AS cnt
        |FROM assigned GROUP BY 1, 2""".stripMargin,

    "q9_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS sess_start, max(ts) AS sess_end
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q10_diff" ->
      """WITH old_snap AS (
        |  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |), new_snap AS (
        |  SELECT o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT)
        |           + CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS c
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |)
        |SELECT CASE WHEN o.k IS NULL THEN 'added'
        |            WHEN n.k IS NULL THEN 'removed'
        |            WHEN o.c = n.c THEN 'unchanged'
        |            ELSE 'modified' END AS status,
        |       count(*) AS cnt
        |FROM old_snap o FULL OUTER JOIN new_snap n ON o.k = n.k
        |GROUP BY 1""".stripMargin,

    "q11_orphan" ->
      """SELECT reason, count(*) AS cnt FROM (
        |  SELECT 'missing_order' AS reason FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_orderkey = l_orderkey AND o_orderstatus <> 'F')
        |  UNION ALL
        |  SELECT 'missing_part' AS reason FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM part
        |                    WHERE p_partkey = l_partkey AND p_size > 10)
        |) GROUP BY reason""".stripMargin,

    // json_extract_string throws on malformed JSON, and TRY_CAST rounds
    // '1.5' to 2 where Spark's try_cast gives NULL: guard both
    "q31_props_extract" ->
      """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 4) AS avg_k
        |FROM (SELECT event_type,
        |             CASE WHEN regexp_full_match(ks, '\s*[+-]?[0-9]+\s*') THEN TRY_CAST(ks AS BIGINT) END AS k
        |      FROM (SELECT event_type,
        |                   json_extract_string(CASE WHEN json_valid(props) THEN props END, '$.k') AS ks
        |            FROM events))
        |GROUP BY event_type""".stripMargin,

    "q33_salted_agg" ->
      """SELECT l_returnflag, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q82_prefix_suggest" ->
      """SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
        |FROM part WHERE p_name LIKE 'bl%'
        |GROUP BY p_name
        |ORDER BY length(p_name), p_name LIMIT 15""".stripMargin,

    "q80_salted_join" ->
      """WITH dim AS (SELECT event_type, count(*) AS type_n FROM events GROUP BY event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(max(d.type_n) AS BIGINT) AS type_n,
        |       CAST(sum(e.user_id) AS BIGINT) AS sum_users
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q12_graph_read" ->
      """SELECT c_custkey, c_name,
        |       count(o_orderkey) AS n_orders,
        |       round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend,
        |       max(o_orderdate) AS last_order
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE c_nationkey = 1
        |GROUP BY c_custkey, c_name""".stripMargin,

    "q100_zorder" ->
      s"""WITH e AS (SELECT user_id AS x, epoch_us(ts) AS y FROM events),
         |m AS (SELECT min(x) AS xmin, max(x) AS xmax,
         |             min(y) AS ymin, max(y) AS ymax FROM e),
         |b AS (SELECT ((x - xmin) * 256) // (xmax - xmin + 1) AS xb,
         |             ((y - ymin) * 256) // (ymax - ymin + 1) AS yb
         |      FROM e, m),
         |z AS (SELECT xb, yb, ${graft.functions.ZOrder.zvalueSql} AS z FROM b)
         |SELECT z // 1024 AS zfile, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(xb) AS BIGINT) AS x_min, CAST(max(xb) AS BIGINT) AS x_max,
         |       CAST(min(yb) AS BIGINT) AS y_min, CAST(max(yb) AS BIGINT) AS y_max
         |FROM z GROUP BY zfile ORDER BY zfile""".stripMargin,

    "q101_bloom_prune" ->
      """WITH hv AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 495000),
        |i AS (SELECT unnest(generate_series(0, 3)) AS i),
        |bits AS (SELECT DISTINCT
        |           CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||CAST(o_custkey AS VARCHAR)),1,15)) AS BIGINT)
        |           % 2147483647 % 1024 AS pos
        |         FROM hv, i),
        |pp AS (SELECT c_custkey, c_nationkey,
        |           CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||CAST(c_custkey AS VARCHAR)),1,15)) AS BIGINT)
        |           % 2147483647 % 1024 AS pos
        |        FROM customer, i),
        |pv AS (SELECT c_custkey, max(c_nationkey) AS c_nationkey,
        |              min(CASE WHEN pos IN (SELECT pos FROM bits) THEN 1 ELSE 0 END) AS mc
        |       FROM pp GROUP BY c_custkey)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(mc) AS BIGINT) AS n_pass,
        |       CAST(sum(CASE WHEN c_custkey IN (SELECT o_custkey FROM hv) THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |       CAST(sum(mc) - sum(CASE WHEN c_custkey IN (SELECT o_custkey FROM hv) THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
        |FROM pv GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // q101's mask CTEs + the single-row FPR calibration tail
    "q246_bloom_fpr" ->
      """WITH hv AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 495000),
        |i AS (SELECT unnest(generate_series(0, 3)) AS i),
        |bits AS (SELECT DISTINCT
        |           CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||CAST(o_custkey AS VARCHAR)),1,15)) AS BIGINT)
        |           % 2147483647 % 1024 AS pos
        |         FROM hv, i),
        |pp AS (SELECT c_custkey,
        |           CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||CAST(c_custkey AS VARCHAR)),1,15)) AS BIGINT)
        |           % 2147483647 % 1024 AS pos
        |        FROM customer, i),
        |pv AS (SELECT c_custkey,
        |              min(CASE WHEN pos IN (SELECT pos FROM bits) THEN 1 ELSE 0 END) AS mc
        |       FROM pp GROUP BY c_custkey),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM hv),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN c_custkey IN (SELECT o_custkey FROM hv) THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
        |  CAST(sum(CASE WHEN c_custkey IN (SELECT o_custkey FROM hv) AND mc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_member_pass,
        |  CAST(sum(CASE WHEN c_custkey NOT IN (SELECT o_custkey FROM hv) THEN 1 ELSE 0 END) AS BIGINT) AS n_nonmembers,
        |  CAST(sum(CASE WHEN c_custkey NOT IN (SELECT o_custkey FROM hv) AND mc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
        | FROM pv)
        |SELECT n_keys, n_members, n_member_pass, n_nonmembers, n_fp,
        |       round(CAST(n_fp AS DOUBLE) / n_nonmembers, 6) AS fpr_emp,
        |       round(pow(1.0 - exp(-4.0 * n_keys / 1024.0), 4.0), 6) AS fpr_theory
        |FROM a, k""".stripMargin,

    "q234_bucketed_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q117_star_join" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q118_cdf_decile" ->
      """WITH dist AS (SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY lang, n_chars),
        |cum AS (SELECT lang, n_chars,
        |               sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
        |        FROM dist),
        |tot AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
        |d AS (SELECT doc.lang, doc.n_chars,
        |             least(9, (cum * 10) // nl) AS decile
        |      FROM documents doc JOIN cum ON doc.lang = cum.lang AND doc.n_chars = cum.n_chars
        |      JOIN tot ON doc.lang = tot.lang)
        |SELECT lang, CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars, CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin,

    "q119_k_anonymity" ->
      """WITH g AS (SELECT c_mktsegment, c_nationkey, count(*) AS gn
        |           FROM customer GROUP BY 1, 2)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(min(gn) AS BIGINT) AS min_group,
        |       CAST(sum(CASE WHEN gn < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
        |       CAST(sum(CASE WHEN gn < 10 THEN gn ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // GROUPING() bit order matches Spark's grouping_id (first col = MSB)
    "q283_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q303_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin
  )
}
