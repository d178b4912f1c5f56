package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Analytics-pipeline operators gated round 8: TextRank keyphrases
  * (q184), readability (q185), fill-in-the-middle augmentation (q187),
  * l-diversity (q189), Kneser-Ney LM (q191), quantile normalization (q194)
  * and Jaro-Winkler linkage (q196), plus later gates over the same tables.
  *
  * Numeric discipline throughout: counts stay integer, distinct counts
  * are exact, float formulas are written in the SAME shape on both
  * engines and rounded once at the output edge.
  */
object AnalyticsQueries {

  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q] = Map(
    // TextRank: top-25 corpus keyphrases by 3-iteration PageRank over
    // the adjacent-token co-occurrence graph of documents.
    "q184_textrank" -> ((s, dir) =>
      graft.operators.TextRank.keywords(
        Tables.documents(s, dir), "text", k = 25, iterations = 3)),

    // Flesch / Flesch-Kincaid per document — one codegen projection.
    "q185_readability" -> ((s, dir) =>
      graft.functions.Readability.score(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), col("flesch"), col("fk_grade"))
        .orderBy(col("doc_id"))),

    // Deterministic PSM fill-in-the-middle transform per document.
    "q187_fim" -> ((s, dir) =>
      graft.functions.Augment.fim(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // l-diversity over the q119 quasi-identifier groups: the sensitive
    // attribute is the account-balance thousand-bucket; a group is weak
    // when it carries fewer than 3 distinct sensitive values (exact
    // distinct — the partial-agg two-level rollup as q119).
    "q189_ldiversity" -> ((s, dir) => {
      val g = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("k"),
          countDistinct(floor(col("c_acctbal") / 1000).cast("long")).as("l"))
      g.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("l")).as("min_l"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_weak_groups"),
          sum(when(col("l") < 3, col("k")).otherwise(0L)).as("n_rows_weak"))
        .orderBy(col("c_mktsegment"))
    }),

    // Kneser-Ney smoothed bigram LM: top-25 bigrams with interpolated
    // continuation-count probabilities.
    "q191_kneser_ney" -> ((s, dir) =>
      graft.functions.KneserNey.bigramProbs(
        Tables.documents(s, dir), "text", k = 25)),

    // Cross-source quantile normalization of document length onto the
    // pooled corpus distribution, integer-exact positions.
    "q194_quantile_norm" -> ((s, dir) =>
      graft.operators.QuantileNorm.normalize(Tables.documents(s, dir),
          "source", "doc_id", "n_chars")
        .orderBy(col("doc_id"))),

    // Jaro-Winkler record linkage over part names blocked by brand —
    // the native codegen comparator vs DuckDB's built-in.
    "q196_jaro_linkage" -> ((s, dir) =>
      graft.dedup.JaroLinkage.report(Tables.part(s, dir),
          "p_partkey", "p_name", col("p_brand"))
        .orderBy(col("block"))),

    // Embedding dimension-correlation audit — the redundancy report a
    // vector pipeline reads before whitening or Matryoshka truncation
    // (q151): Pearson r for every dim pair. The d²/2 fan-out is built
    // INSIDE each row (two chained posexplodes over the same array — a
    // Generate, not a join), so nothing shuffles until the ONE bounded
    // (i, j)-keyed partial agg (64 dims → 2016 cells; map-side combine
    // collapses each partition to ≤2016 rows before the exchange). The
    // r8 draft self-joined the exploded corpus on vec_id — two full
    // Exchanges to rebuild pairs already present in the row (r9 verdict).
    // ALL 2016 pairs are emitted (no |r| threshold): the row SET is now
    // float-independent, and a 1-ulp sum-order wobble can only nudge a
    // rounded VALUE, never flip rows in or out (r9 advice).
    "q214_dim_corr" -> ((s, dir) => {
      val v = Tables.embeddings(s, dir)
        .select(col("embedding").cast("array<double>").as("v"))
      val pairs = v
        .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
        .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
        .filter(col("i") < col("j"))
      pairs.groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n"),
          sum(col("xi")).as("si"), sum(col("xj")).as("sj"),
          sum(col("xi") * col("xi")).as("sii"),
          sum(col("xj") * col("xj")).as("sjj"),
          sum(col("xi") * col("xj")).as("sij"))
        .withColumn("r",
          // `+ 0.0` pins a cancellation-zero numerator to +0.0 (q176 class)
          round((col("n") * col("sij") - col("si") * col("sj"))
            / (sqrt(col("n") * col("sii") - col("si") * col("si"))
              * sqrt(col("n") * col("sjj") - col("sj") * col("sj"))), 6) + lit(0.0))
        .select((col("i") + 1).cast("long").as("dim_i"),
          (col("j") + 1).cast("long").as("dim_j"), col("r"))
        .orderBy(col("dim_i"), col("dim_j"))
    }),

    // STREAM-STATIC ENRICHMENT REPLAY: the events feed split into 3
    // single-file micro-batches (shard = event_id mod 3), streamed
    // through a real file source with maxFilesPerTrigger=1, each
    // micro-batch broadcast-joined against a STATIC dim (per-type global
    // counts MINUS the single most frequent type, so the inner join
    // provably drops rows). foreachBatch stamps batchId; the gate proves
    // every surviving type crossed 3 distinct micro-batches — the oracle
    // mirrors batch identity as event_id % 3 — and that dim values
    // flowed through the join. No stream state, no watermark: the static
    // side is the state, exactly as it would be at 100 TB.
    "q232_enrich_replay" -> ((s, dir) => {
      import java.nio.file.{Files, StandardCopyOption}
      val evAll = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          pmod(col("event_id"), lit(3)).cast("int").as("shard"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("type_n").desc, col("event_type"))
      val dim = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("type_n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") > 1).drop("rk")
      val feedDir = Files.createTempDirectory("g232feed")
      val outDir = Files.createTempDirectory("g232out").toString
      // ONE partitioned write instead of three filter+coalesce(1) jobs
      // that each re-scanned events (r12; guide §1.2). repartition(3,
      // shard) puts each shard in exactly one task → one file per shard
      // dir; batch membership is unchanged (same rows per shard file,
      // row order within a shard is irrelevant to the gate's aggregates
      // and the oracle mirrors shards as event_id % 3).
      val part = Files.createTempDirectory("g232part").toString
      evAll.repartition(3, col("shard"))
        .write.mode("overwrite").partitionBy("shard").parquet(part)
      (0 until 3).foreach { i =>
        val f = new java.io.File(s"$part/shard=$i").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.move(f.toPath, feedDir.resolve(s"shard-$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val feed = s.readStream.schema(evAll.drop("shard").schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir.toString)
      val q = feed.join(broadcast(dim), "event_type")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("g232ckpt").toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("batch_id")).as("n_batches"),
          max(col("type_n")).as("type_n"))
        .orderBy(col("event_type"))
    }),

    // The StreamDedup keep-first fold gated end-to-end: the distributed
    // batch replay shares the streaming closure's sort + verdict, so per
    // event-type bucket the earliest event (by millisecond, then id —
    // getTime precision mirrored as epoch_us // 1000 in the oracle) is the
    // keeper and every later arrival is flagged with its id. One
    // bucket-keyed shuffle; state in the streaming form is ONE long per
    // bucket.
    "q220_keepfirst_replay" -> ((s, dir) => {
      import s.implicits._
      val feed = Tables.events(s, dir)
        .select(col("event_id").cast("long").as("docId"),
          col("event_type").as("bucket"),
          col("ts").cast("timestamp").as("ts"),
          lit("").as("content"))
        .as[graft.streaming.StreamDedup.DocEvent]
      graft.streaming.StreamDedup.batchKeepFirstDs(feed).toDF()
        .select(col("docId").as("doc_id"), col("bucket"), col("kept"),
          col("firstDocId").as("first_doc_id"))
        .orderBy(col("bucket"), col("doc_id"))
    }),

    // The StreamTrending sharded Misra-Gries state gated by its
    // GUARANTEE, not its values (the MG fold is order-dependent and not
    // SQL-replayable per event, so the gate emits only what the bound
    // promises and both engines compute exactly): every token
    // whose exact count exceeds n_shard/(k+1) MUST survive its shard's
    // summary, so the gate emits guarantee-set tokens semi-joined
    // against the fold's candidates — a dropped heavy hitter loses a row
    // and breaks the hash. Thresholding is the INTEGER comparison
    // n·(k+1) > n_shard (no division). Exact counts come from one
    // (token)-keyed partial agg; the fold is one flatMapGroups per shard.
    "q221_trending_mg" -> ((s, dir) => {
      import s.implicits._
      val k = 30
      val shards = 8
      val toks = Tables.documents(s, dir)
        .select(explode(graft.search.Bm25.tokens(col("text"))).as("token"))
      val events = toks
        .select(col("token"), lit(new java.sql.Timestamp(0L)).as("ts"))
        .as[graft.streaming.StreamTrending.TokenEvent]
      val cands = graft.streaming.StreamTrending
        .batchSummariesDs(events, k, shards).toDF()
        .select(col("shard").cast("long").as("shard"),
          explode(col("tokens")).as("token"))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .withColumn("shard",
          expr("cast(conv(substring(md5(token), 1, 15), 16, 10) as bigint)" +
            s" % 2147483647 % $shards"))
      val shardTot = exact.groupBy(col("shard")).agg(sum(col("n")).as("n_shard"))
      exact.join(shardTot, Seq("shard"))
        .filter(col("n") * (k + 1) > col("n_shard"))
        .join(cands, Seq("shard", "token"), "left_semi")
        .select(col("shard"), col("token"), col("n"), col("n_shard"))
        .orderBy(col("shard"), col("token"))
    }),

    // Leading principal component of the embedding corpus (power
    // iteration, 3 unrolled steps) — the all-but-the-top / whitening
    // direction (Mu-Viswanath 2018). Corpus touched ONCE for the d²
    // covariance cells (in-row pair fan-out, q214 shape); iterations are
    // bounded-grid joins.
    "q225_power_iter" -> ((s, dir) =>
      graft.operators.PowerIteration.leadingComponent(
        s, Tables.embeddings(s, dir), "embedding", iters = 3)),

    // Effective sample size of length-weighted sampling per source
    // (Kish 1965): ESS = (Σw)²/Σw² — how many "real" docs a weighted
    // mixture is worth; the diagnostic read before trusting a reweighted
    // corpus. Integer sums, two divisions at the edge.
    "q227_ess_weights" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sww"))
        .select(col("source"), col("n"),
          round(col("sw").cast("double") * col("sw") / col("sww"), 4).as("ess"),
          round(col("sw").cast("double") * col("sw") / col("sww") / col("n"), 6)
            .as("ess_ratio"))
        .orderBy(col("source"))),

    // Class-balanced loss weights per language (Cui et al. 2019
    // "effective number of samples"): w_c = (1−β)/(1−β^{n_c}), β=0.999,
    // normalized to mean 1 over classes — the reweighting a skewed
    // multilingual corpus trains with. One count agg; pow at the edge.
    "q230_cb_weights" -> ((s, dir) => {
      val g = Tables.documents(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("w", (lit(1.0) - lit(0.999)) / (lit(1.0) - pow(lit(0.999), col("n"))))
      val tot = g.agg(sum(col("w")).as("sw"), count(lit(1)).as("c"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("n"),
          round(col("w"), 6).as("w_raw"),
          round(col("w") * col("c") / col("sw"), 6).as("w_norm"))
        .orderBy(col("lang"))
    }),

    // Pairwise mutual information between five quality heuristics — the
    // rule-REDUNDANCY audit (which rules duplicate each other). 10
    // bounded pairs via a doc-keyed self-join of the stacked rules
    // (fan-out 25 per doc);
    // MI = Σ p·ln(p·n/(rt·ct)) computed IN-ROW from the 2×2 integers.
    "q247_feature_mi" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val feats = Seq(
        "the_rule" -> lower(col("text")).contains(" the "),
        "ascii_rule" -> (length(regexp_replace(col("text"),
          "[^\\x00-\\x7F]", "")) * 20 >= length(col("text")) * 19),
        "len800" -> (col("n_chars") >= 800),
        "http_rule" -> col("text").contains("http"),
        "de_rule" -> lower(col("text")).contains(" de "))
      val stacked = feats.map { case (name, f) =>
        d.select(col("doc_id"), lit(name).as("feature"), f.as("f"))
      }.reduce(_ unionAll _)
      val pairs = stacked.select(col("doc_id"), col("feature").as("fa"),
          col("f").as("va"))
        .join(stacked.select(col("doc_id"), col("feature").as("fb"),
          col("f").as("vb")), Seq("doc_id"))
        .filter(col("fa") < col("fb"))
      val cells = pairs.groupBy(col("fa"), col("fb")).agg(
        sum(when(col("va") && col("vb"), 1L).otherwise(0L)).as("a"),
        sum(when(col("va") && !col("vb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("va") && col("vb"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("va") && !col("vb"), 1L).otherwise(0L)).as("d"))
      val n = col("a") + col("b") + col("c") + col("d")
      def term(k: org.apache.spark.sql.Column, rt: org.apache.spark.sql.Column,
               ct: org.apache.spark.sql.Column) =
        when(k > 0, (k.cast("double") / n)
          * log(k.cast("double") * n / (rt * ct))).otherwise(lit(0.0))
      val mi = term(col("a"), col("a") + col("b"), col("a") + col("c")) +
        term(col("b"), col("a") + col("b"), col("b") + col("d")) +
        term(col("c"), col("c") + col("d"), col("a") + col("c")) +
        term(col("d"), col("c") + col("d"), col("b") + col("d"))
      cells.select(col("fa"), col("fb"), col("a"), col("b"), col("c"),
          col("d"), round(mi, 6).as("mi"))
        .orderBy(col("fa"), col("fb"))
    }),

    // Source-concentration audit: HHI and the effective number of
    // sources. HHI = Σn_h²/N² keeps the cross-strata sum INTEGER (a
    // float share sum would be partition-order dependent).
    "q251_hhi" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_h"))
        .agg(count(lit(1)).as("n_sources"), sum(col("n_h")).as("n_docs"),
          sum(col("n_h") * col("n_h")).as("sum_sq"))
        .select(col("n_sources"), col("n_docs"), col("sum_sq"),
          round(col("sum_sq").cast("double") / (col("n_docs") * col("n_docs")), 6)
            .as("hhi"),
          round((col("n_docs") * col("n_docs")).cast("double") / col("sum_sq"), 6)
            .as("eff_sources"))),

    // Embedding-space drift via MMD with random Fourier features
    // (Gretton 2012 / Rahimi-Recht 2007): did the label-0 embedding
    // population move relative to the rest — a distributional two-sample
    // test for the VECTOR space, O(n·D·d) with no pairwise kernel. The frozen
    // (w, b) bank is injected as identical decimal literals into both
    // engines; features are rounded to 6dp before the group sums, which
    // makes those sums exact in double and partition-order-independent.
    "q259_mmd_rff" -> ((s, dir) =>
      graft.search.MmdRff.twoSample(
        Tables.embeddings(s, dir), "embedding", col("label") === 0)),

    // Decile lift/gain table for a ranking score (here n_chars ranking
    // lang='en'): the eval every curation-classifier ships with. Decile
    // membership is an exact integer order statistic (rank·10 div n);
    // lift/gain divide integer counts once at the edge.
    "q258_decile_lift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("doc_id"),
        col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val w = Window.orderBy(col("score").desc, col("doc_id"))
      val ranked = d.withColumn("rk", row_number().over(w).cast("long"))
      val n = ranked.agg(count(lit(1)).as("n"), sum(col("y")).as("kk"))
      val deciles = ranked.crossJoin(broadcast(n))
        .withColumn("decile", expr("((rk - 1) * 10) div n") + 1)
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_d"), sum(col("y")).as("k_d"),
          max(col("n")).as("n"), max(col("kk")).as("kk"))
      // unpartitioned, so one task: bounded by the ten decile rows
      val cw = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deciles
        .withColumn("cum_k", sum(col("k_d")).over(cw))
        .select(col("decile"), col("n_d"), col("k_d"),
          round(col("k_d").cast("double") * col("n") / (col("n_d") * col("kk")), 4)
            .as("lift"),
          col("cum_k"),
          round(col("cum_k").cast("double") / col("kk"), 4).as("cum_gain"))
        .orderBy(col("decile"))
    }),

    // ===== r11 wave: mixture temperature =====

    // Temperature-scaled source mixing weights p_s^α / Σ p_s^α (α = 0.7,
    // the mT5/multilingual sampling rule): the knob between proportional
    // (α=1) and uniform (α=0) corpus mixing. Bounded source grid; the
    // normalizer folds on the ordered window; p^α = exp(α·ln p) with the
    // identical literal shape in the oracle.
    "q272_mixture_temperature" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = g.agg(sum(col("n_docs")).as("nn"))
      // both windows unpartitioned, so one task: bounded by one row per source
      val w = Window.orderBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val allW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.crossJoin(broadcast(tot))
        .withColumn("p", col("n_docs").cast("double") / col("nn"))
        .withColumn("w", exp(lit(0.7) * log(col("p"))))
        .withColumn("z", sum(col("w")).over(w))
        .withColumn("z_all", max(col("z")).over(allW)) // max of increasing cumsum
        .select(col("source"), col("n_docs"), round(col("p"), 6).as("p_raw"),
          round(col("w") / col("z_all"), 6).as("p_temp"))
        .orderBy(col("source"))
    }),

    // ===== r11 wave 7: ranking evaluation =====

    // Average precision + best-F1 of the binned token count ranking the
    // "long doc" label (n_chars ≥ 400, the upper ~30% of the corpus) — a
    // genuinely graded, imperfect predictor (the synthetic lang labels
    // carry no text signal, so a lang target would only measure
    // prevalence). The threshold-free PR-curve eval completing the
    // classifier family (q25/q29 fixed-threshold confusions, q174
    // lang-ID eval). Integer cumsums on the ordered score grid; AP folds
    // on the same grid.
    "q304_avg_precision" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(
          (graft.functions.TextOps.wsTokenCount(col("text")).cast("long"))
            .as("tc"),
          when(col("n_chars") >= 400, 1L).otherwise(0L).as("y"))
        .select(expr("tc div 16").as("score"), col("y"))
      graft.operators.ClassifierEval.averagePrecision(d, "score", "y")
    })
  )

  def oracles: Map[String, String] = Map(
    "q184_textrank" -> {
      // 3 unrolled PageRank iterations over the adjacent-token graph —
      // the q67 unrolling discipline applied to a text-derived edge set.
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |                     t -> length(t) >= 3) AS t
        |  FROM documents
        |), pr AS (
        |  SELECT z[1] AS w1, z[2] AS w2 FROM (
        |    SELECT unnest(list_zip(t[1:length(t)-1], t[2:length(t)])) AS z
        |    FROM toks WHERE length(t) >= 2)
        |  WHERE z[1] <> z[2]
        |), e AS (
        |  SELECT DISTINCT w1, w2 FROM pr
        |  UNION SELECT DISTINCT w2, w1 FROM pr
        |), deg AS (SELECT w1, count(*) AS d FROM e GROUP BY w1),
        |n AS (SELECT w1 AS node FROM e UNION SELECT w2 FROM e),
        |p0 AS (SELECT node, 1.0 AS r FROM n),
        |c1 AS (SELECT e.w2 AS node, sum(p0.r / deg.d) AS s
        |       FROM e JOIN deg USING (w1) JOIN p0 ON p0.node = e.w1 GROUP BY e.w2),
        |p1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c1.s, 0) AS r
        |       FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.w2 AS node, sum(p1.r / deg.d) AS s
        |       FROM e JOIN deg USING (w1) JOIN p1 ON p1.node = e.w1 GROUP BY e.w2),
        |p2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c2.s, 0) AS r
        |       FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.w2 AS node, sum(p2.r / deg.d) AS s
        |       FROM e JOIN deg USING (w1) JOIN p2 ON p2.node = e.w1 GROUP BY e.w2),
        |p3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c3.s, 0) AS r
        |       FROM n LEFT JOIN c3 USING (node))
        |SELECT node AS term, round(r, 6) AS rank FROM p3
        |ORDER BY rank DESC, term LIMIT 25""".stripMargin
    },

    "q185_readability" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |       w -> length(w) > 0)) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |       x -> length(trim(x)) > 0)) AS BIGINT) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
        |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    round(206.835 - 1.015 * n_words / n_sentences
        |          - 84.6 * n_syllables / n_words, 4) END AS flesch,
        |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
        |    round(0.39 * n_words / n_sentences
        |          + 11.8 * n_syllables / n_words - 15.59, 4) END AS fk_grade
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q187_fim" ->
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS L,
        |         greatest(length(text) // 3, 1) AS t3
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, text, L,
        |         t3 + 1 + (doc_id * 37) % t3 AS sp1,
        |         2 * t3 + 1 + (doc_id * 53) % t3 AS sp2
        |  FROM b
        |)
        |SELECT doc_id, CAST(L AS BIGINT) AS n_chars,
        |       CAST(sp1 AS BIGINT) AS sp1, CAST(sp2 AS BIGINT) AS sp2,
        |       '<PRE>' || substr(text, 1, sp1 - 1) ||
        |       '<SUF>' || substr(text, sp2, L) ||
        |       '<MID>' || substr(text, sp1, sp2 - sp1) AS fim
        |FROM p ORDER BY doc_id""".stripMargin,

    "q189_ldiversity" ->
      """WITH g AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS k,
        |         count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(min(l) AS BIGINT) AS min_l,
        |       CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_groups,
        |       CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS n_rows_weak
        |FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q191_kneser_ney" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), bg AS (
        |  SELECT u['a'] AS a, u['b'] AS b FROM (
        |    SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |           i -> {'a': t[i], 'b': t[i+1]})) AS u
        |    FROM toks)
        |), cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
        |ctx AS (SELECT a, sum(cab) AS ca, count(*) AS n1r FROM cab GROUP BY a),
        |cont AS (SELECT b, count(*) AS n1l FROM cab GROUP BY b),
        |ty AS (SELECT count(*) AS tt FROM cab)
        |SELECT cab.a, cab.b, CAST(cab.cab AS BIGINT) AS cab,
        |       round(greatest(cab.cab - 0.75, 0.0) / ctx.ca
        |             + 0.75 * ctx.n1r / ctx.ca * (CAST(cont.n1l AS DOUBLE) / ty.tt), 6) AS pkn
        |FROM cab JOIN ctx USING (a) JOIN cont USING (b) CROSS JOIN ty
        |ORDER BY cab DESC, a, b LIMIT 25""".stripMargin,

    "q194_quantile_norm" ->
      """WITH rws AS (SELECT source, doc_id, n_chars FROM documents),
        |tot AS (SELECT count(*) AS n_all FROM rws),
        |sn AS (SELECT source, count(*) AS n_src FROM rws GROUP BY 1),
        |rk AS (SELECT source, doc_id, n_chars,
        |       row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rank_src
        |       FROM rws),
        |grid AS (SELECT n_chars AS v, count(*) AS c FROM rws GROUP BY 1),
        |g2 AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum_hi,
        |       sum(c) OVER (ORDER BY v) - c + 1 AS cum_lo FROM grid),
        |p AS (SELECT rk.source, rk.doc_id, rk.n_chars, rk.rank_src, sn.n_src,
        |      CASE WHEN sn.n_src = 1 THEN (tot.n_all + 1) // 2
        |           ELSE ((rk.rank_src - 1) * (tot.n_all - 1)) // (sn.n_src - 1) + 1 END AS p
        |      FROM rk JOIN sn USING (source) CROSS JOIN tot)
        |SELECT p.source, p.doc_id, p.n_chars, CAST(p.rank_src AS BIGINT) AS rank_src,
        |       CAST(p.n_src AS BIGINT) AS n_src, g2.v AS norm_value
        |FROM p JOIN g2 ON p.p >= g2.cum_lo AND p.p <= g2.cum_hi
        |ORDER BY doc_id""".stripMargin,

    "q196_jaro_linkage" ->
      """WITH x AS (
        |  SELECT p_brand AS block, p_partkey, p_name,
        |         lag(p_name) OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS prev
        |  FROM part
        |), s AS (
        |  SELECT block,
        |         CASE WHEN prev IS NOT NULL
        |              THEN round(jaro_winkler_similarity(p_name, prev), 6) END AS jw
        |  FROM x
        |)
        |SELECT block, CAST(count(*) AS BIGINT) AS n_recs,
        |       CAST(count(jw) AS BIGINT) AS n_pairs,
        |       CAST(sum(CASE WHEN jw >= 0.85 THEN 1 ELSE 0 END) AS BIGINT) AS n_match_lo,
        |       CAST(sum(CASE WHEN jw >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_match_hi,
        |       max(jw) AS max_jw
        |FROM s GROUP BY block ORDER BY block""".stripMargin,

    // same (i, j)-keyed sufficient statistics, pairs built in-row from the
    // doubly-unnested array (dims 1-based); ALL 2016 pairs emitted
    "q214_dim_corr" ->
      """WITH p AS (
        |  SELECT di.i AS di, dj.i AS dj,
        |         CAST(embedding AS DOUBLE[])[di.i] AS xi,
        |         CAST(embedding AS DOUBLE[])[dj.i] AS xj
        |  FROM embeddings,
        |       (SELECT unnest(generate_series(1, 64)) AS i) di,
        |       (SELECT unnest(generate_series(1, 64)) AS i) dj
        |  WHERE di.i < dj.i),
        |s AS (
        |  SELECT di, dj, CAST(count(*) AS BIGINT) AS n,
        |         sum(xi) AS si, sum(xj) AS sj,
        |         sum(xi * xi) AS sii, sum(xj * xj) AS sjj,
        |         sum(xi * xj) AS sij
        |  FROM p GROUP BY di, dj)
        |SELECT CAST(di AS BIGINT) AS dim_i, CAST(dj AS BIGINT) AS dim_j,
        |       round((n * sij - si * sj)
        |             / (sqrt(n * sii - si * si) * sqrt(n * sjj - sj * sj)), 6) + 0.0 AS r
        |FROM s
        |ORDER BY dim_i, dim_j""".stripMargin,

    // batch identity = event_id % 3 (the shard rule that built the three
    // feed files); the dim drops the most frequent type on both sides
    "q232_enrich_replay" ->
      """WITH dim AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS type_n
        |  FROM events GROUP BY 1
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, event_type) > 1
        |)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT e.event_id % 3) AS BIGINT) AS n_batches,
        |       CAST(max(d.type_n) AS BIGINT) AS type_n
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // first-by-(ms, id) per bucket — epoch_us // 1000 mirrors
    // java.sql.Timestamp.getTime's millisecond floor exactly
    "q220_keepfirst_replay" ->
      """WITH e AS (
        |  SELECT CAST(event_id AS BIGINT) AS doc_id, event_type AS bucket,
        |         epoch_us(ts) // 1000 AS ms
        |  FROM events),
        |w AS (
        |  SELECT doc_id, bucket,
        |         first_value(doc_id) OVER (PARTITION BY bucket
        |           ORDER BY ms, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_doc_id
        |  FROM e)
        |SELECT doc_id, bucket, doc_id = first_doc_id AS kept, first_doc_id
        |FROM w ORDER BY bucket, doc_id""".stripMargin,

    // the guarantee set computed exactly: hash31-sharded token counts
    // with the integer threshold n*(k+1) > n_shard (k=30, 8 shards);
    // the Spark side's MG-candidate semi-join must keep every row
    "q221_trending_mg" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 1)) AS token
        |  FROM documents),
        |exact AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS n,
        |         CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT)
        |           % 2147483647 % 8 AS shard
        |  FROM toks GROUP BY token),
        |tot AS (SELECT shard, sum(n) AS n_shard FROM exact GROUP BY shard)
        |SELECT e.shard, e.token, e.n, CAST(t.n_shard AS BIGINT) AS n_shard
        |FROM exact e JOIN tot t USING (shard)
        |WHERE e.n * 31 > t.n_shard
        |ORDER BY e.shard, e.token""".stripMargin,

    // covariance cells via the q214 in-row fan-out; 3 power steps
    // unrolled CTE-for-CTE; sign fixed on dim 1; Rayleigh λ at the edge
    "q225_power_iter" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (
        |  SELECT di.i AS i, dj.i AS j, v[di.i] AS xi, v[dj.i] AS xj
        |  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) di,
        |         (SELECT unnest(generate_series(1, 64)) AS i) dj),
        |cov AS (
        |  SELECT i, j, sij / n - (si / n) * (sj / n) AS c
        |  FROM (SELECT i, j, CAST(count(*) AS BIGINT) AS n, sum(xi) AS si,
        |               sum(xj) AS sj, sum(xi * xj) AS sij
        |        FROM x GROUP BY i, j)),
        |v0 AS (SELECT unnest(generate_series(1, 64)) AS j, 1.0 / sqrt(64.0) AS vj),
        |w1 AS (SELECT cov.i, sum(cov.c * v0.vj) AS wi FROM cov JOIN v0 USING (j) GROUP BY 1),
        |n1 AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w1),
        |v1 AS (SELECT i AS j, wi / nrm AS vj FROM w1, n1),
        |w2 AS (SELECT cov.i, sum(cov.c * v1.vj) AS wi FROM cov JOIN v1 USING (j) GROUP BY 1),
        |n2 AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w2),
        |v2 AS (SELECT i AS j, wi / nrm AS vj FROM w2, n2),
        |w3 AS (SELECT cov.i, sum(cov.c * v2.vj) AS wi FROM cov JOIN v2 USING (j) GROUP BY 1),
        |n3 AS (SELECT sqrt(sum(wi * wi)) AS nrm FROM w3),
        |v3 AS (SELECT i AS j, wi / nrm AS vj FROM w3, n3),
        |lam AS (
        |  SELECT sum(cov.c * a.vj * b.vj) AS lambda
        |  FROM cov JOIN v3 a ON cov.j = a.j JOIN v3 b ON cov.i = b.j),
        |sgn AS (SELECT CASE WHEN vj < 0 THEN -1.0 ELSE 1.0 END AS sgn FROM v3 WHERE j = 1)
        |SELECT CAST(v3.j AS BIGINT) AS dim, round(v3.vj * sgn, 6) + 0.0 AS v,
        |       round(lambda, 6) + 0.0 AS lambda
        |FROM v3, sgn, lam ORDER BY dim""".stripMargin,

    "q227_ess_weights" ->
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(n_chars AS BIGINT)) AS sw,
        |         sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS sww
        |  FROM documents GROUP BY 1)
        |SELECT source, n,
        |       round(CAST(sw AS DOUBLE) * sw / sww, 4) AS ess,
        |       round(CAST(sw AS DOUBLE) * sw / sww / n, 6) AS ess_ratio
        |FROM g ORDER BY source""".stripMargin,

    // pow at the edge; normalization to mean 1 over classes
    "q230_cb_weights" ->
      """WITH g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         (1.0 - 0.999) / (1.0 - pow(0.999, count(*))) AS w
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(w) AS sw, CAST(count(*) AS BIGINT) AS c FROM g)
        |SELECT lang, n, round(w, 6) AS w_raw,
        |       round(w * c / sw, 6) AS w_norm
        |FROM g, t ORDER BY lang""".stripMargin,

    // MI terms in the same in-row order as the gate: a, b, c, d
    "q247_feature_mi" ->
      """WITH f AS (
        |  SELECT doc_id, 'the_rule' AS feature, contains(lower(text), ' the ') AS f FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'ascii_rule', length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) * 20 >= length(text) * 19 FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'len800', n_chars >= 800 FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'http_rule', contains(text, 'http') FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'de_rule', contains(lower(text), ' de ') FROM documents),
        |p AS (SELECT l.feature AS fa, r.feature AS fb, l.f AS va, r.f AS vb
        |      FROM f l JOIN f r ON l.doc_id = r.doc_id AND l.feature < r.feature),
        |cc AS (SELECT fa, fb,
        |              CAST(sum(CASE WHEN va AND vb THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |              CAST(sum(CASE WHEN va AND NOT vb THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |              CAST(sum(CASE WHEN NOT va AND vb THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |              CAST(sum(CASE WHEN NOT va AND NOT vb THEN 1 ELSE 0 END) AS BIGINT) AS d
        |       FROM p GROUP BY 1, 2),
        |e AS (SELECT *, a + b + c + d AS n FROM cc)
        |SELECT fa, fb, a, b, c, d,
        |  round(
        |    CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / n) * ln(CAST(a AS DOUBLE) * n / ((a + b) * (a + c))) ELSE 0.0 END
        |  + CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / n) * ln(CAST(b AS DOUBLE) * n / ((a + b) * (b + d))) ELSE 0.0 END
        |  + CASE WHEN c > 0 THEN (CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) * n / ((c + d) * (a + c))) ELSE 0.0 END
        |  + CASE WHEN d > 0 THEN (CAST(d AS DOUBLE) / n) * ln(CAST(d AS DOUBLE) * n / ((c + d) * (b + d))) ELSE 0.0 END, 6) AS mi
        |FROM e ORDER BY fa, fb""".stripMargin,

    "q251_hhi" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_h FROM documents GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |             CAST(sum(n_h) AS BIGINT) AS n_docs,
        |             CAST(sum(n_h * n_h) AS BIGINT) AS sum_sq
        |      FROM g)
        |SELECT n_sources, n_docs, sum_sq,
        |       round(CAST(sum_sq AS DOUBLE) / (n_docs * n_docs), 6) AS hhi,
        |       round(CAST(n_docs * n_docs AS DOUBLE) / sum_sq, 6) AS eff_sources
        |FROM s""".stripMargin,

    // rendered from the SAME frozen (w, b) Scala doubles the gate uses
    "q259_mmd_rff" -> graft.search.MmdRff.oracleSql("label = 0"),

    // p^α = exp(α·ln p), identical literal shape; normalizer on the
    // ordered source window
    "q272_mixture_temperature" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS nn FROM g),
        |a0 AS (SELECT source, n_docs, CAST(n_docs AS DOUBLE) / nn AS p FROM g, t),
        |a AS (SELECT *, exp(0.7 * ln(p)) AS w FROM a0),
        |b AS (SELECT *, sum(w) OVER (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM a),
        |c AS (SELECT *, max(z) OVER () AS z_all FROM b)
        |SELECT source, n_docs, round(p, 6) AS p_raw, round(w / z_all, 6) AS p_temp
        |FROM c ORDER BY source""".stripMargin,

    // integer cumsums on the ordered distinct-score grid; F1 is one
    // integer ratio per row (argmax ties break to the highest score)
    "q304_avg_precision" ->
      """WITH d AS (
        |  SELECT len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) // 16 AS score,
        |         CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |cells AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos, count(*) AS tot
        |          FROM d GROUP BY 1),
        |g AS (SELECT *, sum(pos) OVER w AS tp, sum(tot) OVER w AS np FROM cells
        |      WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT max(tp) AS p_tot, max(np) AS n FROM g),
        |acc AS (SELECT *, round(2.0 * tp / (np + p_tot), 6) AS f1,
        |               sum(pos * (CAST(tp AS DOUBLE) / np))
        |                 OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS apacc
        |        FROM g, t),
        |bf AS (SELECT max(f1) AS best_f1 FROM acc),
        |bt AS (SELECT CAST(max(score) AS BIGINT) AS best_f1_score,
        |              CAST(max(best_f1) AS DOUBLE) AS best_f1
        |       FROM acc, bf WHERE f1 = best_f1),
        |fin AS (SELECT * FROM acc ORDER BY score ASC LIMIT 1)
        |SELECT CAST(n AS BIGINT) AS n, CAST(p_tot AS BIGINT) AS n_pos,
        |       CASE WHEN p_tot > 0 THEN round(apacc / p_tot, 6) END AS ap,
        |       best_f1, best_f1_score
        |FROM fin, bt""".stripMargin,

    // decile = exact integer order statistic ((rk-1)*10 div n);
    // lift/gain divide integer counts once at the edge
    "q258_decile_lift" ->
      """WITH d AS (SELECT doc_id, n_chars AS score,
        |                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |           FROM documents),
        |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS kk FROM d),
        |dd AS (SELECT ((rk - 1) * 10) // n + 1 AS decile, y, n, kk FROM r, t),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_d,
        |             CAST(sum(y) AS BIGINT) AS k_d,
        |             max(n) AS n, max(kk) AS kk
        |      FROM dd GROUP BY 1),
        |cw AS (SELECT *, sum(k_d) OVER (ORDER BY decile
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_k
        |       FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, n_d, k_d,
        |       round(CAST(k_d AS DOUBLE) * n / (n_d * kk), 4) AS lift,
        |       CAST(cum_k AS BIGINT) AS cum_k,
        |       round(CAST(cum_k AS DOUBLE) / kk, 4) AS cum_gain
        |FROM cw ORDER BY decile""".stripMargin,
  )
}
