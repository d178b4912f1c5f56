package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.{DupClusters, MinHashLsh}
import graft.functions.{Splits, TextOps}
import graft.search.{Bm25, IvfAnn, KMeans}

/** Training-data pipeline operators beyond the reference's surface
  * (BASELINE.json north star: "add the LLM-data-pipeline operators ...
  * design every operator for 100 TB scale"): deterministic dataset
  * splitting, duplicate-cluster resolution, k-means corpus clustering,
  * tf-idf corpus summarization, stratified sampling.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q] = Map(
    // DSIR importance resampling (Xie et al. 2023): pick the 20 non-English
    // documents whose hashed-bigram profile is most English-like. Both
    // feature models are CLOSED 4096-cell tables — partial-agg then
    // broadcast — so scoring 100 TB of raw text is one map-side join and
    // one per-doc partial-agg sum; no vocabulary-keyed shuffle anywhere.
    "q130_dsir" -> ((s, dir) =>
      graft.operators.Dsir.select(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", topN = 20)),

    // Distribution-matched downsampling: reshape the non-English pool's
    // length histogram to the English one — per-bucket keep rates in
    // integer basis points (ppm quotient, max-normalized), keep decision
    // by content-hash coin. The marginal-distribution companion to
    // q130's content-matching DSIR; two bounded histograms broadcast into
    // one map pass.
    "q138_dist_match" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        ((col("n_chars") - pmod(col("n_chars"), lit(50))) / 50).cast("long").as("bucket"))
      graft.operators.DistMatch.matchedSample(d, "doc_id", col("lang") === "en")
        .orderBy(col("bucket"))
    }),

    // Split-leakage audit: near-dup clusters (LSH band candidates ≥ 0.5
    // est. Jaccard → connected components) that STRADDLE the deterministic
    // train/val/test hash split — the "dedup before you split" check every
    // eval pipeline needs. Cluster membership is the q36 pointer-jumping
    // fixpoint; the split label is a pure hash map — one extra partial agg
    // on cluster_id, no new shuffle surface.
    "q132_split_leakage" -> ((s, dir) => {
      val edges = MinHashLsh.candidatePairs(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      DupClusters.components(edges, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster_id"))
        .withColumn("split", Splits.splitLabel(col("doc_id"), 80, 10))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("csize"),
          countDistinct(col("split")).as("n_splits"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .filter(col("n_splits") > 1)
        .orderBy(col("cluster_id"))
    }),

    // Training-sequence packing (concat-then-chunk): shard by doc_id mod 8,
    // pack each shard's id-ordered token stream into 2048-token sequences,
    // report per-sequence fill. Per-shard windows — no global sort at any
    // scale; the oracle replays the identical cumulative-sum arithmetic.
    "q53_seq_packing" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.bpeishTokenCount(col("text")).as("toks"))
      val assigned = graft.operators.SequencePacking
        .assign(toks, "doc_id", "toks", budget = 2048L, nShards = 8)
      graft.operators.SequencePacking.packStats(assigned, "toks", 2048L)
        .select(col("shard").cast("long").as("shard"), col("seq_id"),
          col("n_docs"), col("sum_tokens").cast("long").as("sum_tokens"),
          col("fill_ratio"))
    }),

    // Hash-based train/val/test split (80/10/10): reproducible across
    // engines, clusters and re-runs — no RNG, a pure map pass at any scale.
    "q35_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("split", Splits.splitLabel(col("doc_id"), 80, 10))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"))),

    // Benchmark decontamination: per eval split, how many documents share
    // a word 8-gram with any train document. Gram-keyed semi-join — one
    // shuffle on the gram hash, no doc-pair enumeration anywhere.
    "q45_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cont = graft.dedup.Decontamination
        .contaminated(docs, "doc_id", "text", 8, 80, 10)
        .select(col("doc_id").as("cid"))
      docs.select(col("doc_id"), Splits.splitLabel(col("doc_id"), 80, 10).as("split"))
        .filter(col("split") =!= "train")
        .join(cont, col("doc_id") === col("cid"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), count(col("cid")).as("n_contaminated"))
    }),

    // Graded decontamination: containment-scored (eval, train) pairs over
    // 5-grams (shared / eval-total, Broder), train-df-capped at 50 so no
    // boilerplate gram can fan out unboundedly. Still gram-keyed joins
    // end-to-end — the pair table EXISTS only where overlap does.
    "q104_containment" -> ((s, dir) => {
      graft.dedup.Decontamination
        .containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 5, trainPct = 80, valPct = 10, maxDf = 50, minContainment = 0.2)
        .select(col("eval_id"), col("train_id"), col("n_shared"),
          col("n_eval_grams"), col("containment"))
        .orderBy(col("eval_id"), col("train_id"))
    }),

    // Duplicate families: connected components (min-label fixpoint) over
    // the minhash candidate pairs with estimated jaccard ≥ 0.5 (≥ 6 of 12
    // signature components equal — an exact integer predicate, no float
    // threshold). cluster_id = min doc_id of the component.
    "q36_dup_clusters" -> ((s, dir) => {
      val edges = MinHashLsh.candidatePairs(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      DupClusters.components(edges, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("cluster_id"))
        .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    }),

    // Soft-dedup training weights: w(doc) = 1/|near-dup cluster| from the
    // q36 components (singletons weigh 1) — the reweighting that keeps
    // duplicate families from dominating a training mix without hard
    // deletion (near-dedup survivorship's soft twin). Per-source ESS of
    // the weights = (Σw)²/Σw²; the 1/size ratio terms fold per (source,
    // size) on the bounded ordered size grid.
    "q271_dedup_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val sizes = DupClusters.components(edges, "doc_a", "doc_b")
        .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .select(col("node").as("doc_id"), col("csize"))
      val perDoc = docs.select(col("doc_id"), col("source"))
        .join(sizes, Seq("doc_id"), "left")
        .withColumn("size", coalesce(col("csize"), lit(1L)))
      val grid = perDoc.groupBy(col("source"), col("size")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("source")).orderBy(col("size"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .withColumn("n_docs", sum(col("cnt")).over(w))
        .withColumn("n_dup", sum(when(col("size") > 1, col("cnt")).otherwise(0L)).over(w))
        .withColumn("sum_w", sum(col("cnt").cast("double") / col("size")).over(w))
        .withColumn("sum_w2", sum(col("cnt").cast("double") / (col("size") * col("size"))).over(w))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("size").desc)))
        .filter(col("rn") === 1)
        .select(col("source"), col("n_docs"), col("n_dup").as("n_dup_docs"),
          round(col("sum_w"), 6).as("sum_w"),
          round(col("sum_w") * col("sum_w") / col("sum_w2"), 4).as("ess"))
        .orderBy(col("source"))
    }),

    // Exact triangle count over the near-dup similarity graph by
    // degree-ordered orientation — wedges enumerate only at each
    // triangle's (deg, id)-minimal vertex, so hub nodes never explode
    // the self-join. Triangle density is the transitivity check on an
    // LSH graph: near-dup clusters should close their triangles.
    "q113_triangles" -> ((s, dir) => {
      val edges = MinHashLsh.candidatePairs(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      graft.operators.GraphOps.triangles(edges, "doc_a", "doc_b")
    }),

    // Semi-supervised label propagation: every 5th doc seeds its source
    // label; 2 synchronous majority rounds over the minhash similarity
    // graph (ties → smallest label). Vote counts partial-agg per
    // (node, label) — no neighborhood window.
    "q91_label_prop" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val seeds = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"))
      graft.operators.GraphOps.labelPropagate(edges, "doc_a", "doc_b",
        seeds, "doc_id", "source", 2)
        .select(col("node"), coalesce(col("lbl"), lit("unlabeled")).as("lbl"),
          col("is_seed").cast("long").as("is_seed"))
        .orderBy(col("node"))
    }),

    // Newman modularity of q91's label-prop communities over the same
    // near-dup graph — the quality audit run AFTER community detection.
    // Unlabeled nodes stay singleton communities ('n#'||node) so the
    // score never credits the accidental "everything unlabeled" blob.
    // Q reduces to two INTEGER sums (E_in, Σd_c²); division at the edge.
    "q238_modularity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val seeds = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("source"))
      val comm = graft.operators.GraphOps.labelPropagate(edges, "doc_a",
          "doc_b", seeds, "doc_id", "source", 2)
        .select(col("node"),
          coalesce(col("lbl"), concat(lit("n#"), col("node"))).as("comm"))
      graft.operators.Modularity.partitionQuality(
        edges.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b",
        comm, "node", "comm")
    }),

    // Keep-best dedup: elect each duplicate cluster's most complete
    // member (max n_chars, tie → min doc_id) via one partial-agg
    // max(struct) — the curation end-step after q36's clustering.
    "q89_cluster_rep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
      val clusters = DupClusters.components(edges, "doc_a", "doc_b")
      DupClusters.representatives(clusters, "node", "cluster_id",
        docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
        .orderBy(col("cluster_id"))
    }),

    // Deterministic Lloyd k-means (k=8, 2 iterations) over the embedding
    // corpus; output = cluster populations + first centroid component as a
    // fit witness. The same recipe unrolls into the DuckDB oracle.
    // External cluster validation: purity per k-means cluster + corpus
    // NMI vs the ground-truth label. Same deterministic 2-iteration fit
    // as q37 (the oracle replays it CTE-for-CTE), then everything runs
    // on the k×|labels| contingency grid.
    "q156_cluster_purity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = KMeans.fit(emb, "vec_id", "embedding", 8, 2)
      val asn = KMeans.assignments(emb, "vec_id", "embedding", cents)
        .select(col("vid").as("vec_id"), col("cluster"))
      val lab = asn.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      graft.search.ClusterEval.purityReport(lab, "cluster", "label")
        .orderBy(col("cluster"))
    }),

    "q37_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = KMeans.fit(emb, "vec_id", "embedding", 8, 2)
      KMeans.assignments(emb, "vec_id", "embedding", cents)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_points"))
        .join(cents, Seq("cluster"))
        .withColumn("c0", element_at(col("centroid"), 1))
        .select(col("cluster"), col("n_points"), col("c0"))
    }),

    // Corpus summarization: top-3 tf-idf terms per source (idf = ln(N/df)).
    // ONE tokenize scan: the per-(source, term, doc) counts feed both the
    // tf aggregate and the doc-frequency aggregate (a doc has exactly one
    // source, so (term, doc) rows count df exactly). N arrives as a lazy
    // 1-row broadcast cross join — no eager driver count() job. The df
    // table is vocabulary-sized (broadcast side); ranks are per-source
    // windows — no global sort.
    "q38_tfidf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n1 = docs.agg(count(lit(1)).cast("double").as("n"))
      val perDoc = docs.select(col("doc_id"), col("source"),
        explode(Bm25.tokens(col("text"))).as("term"))
        .groupBy(col("source"), col("term"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      val tf = perDoc.groupBy(col("source"), col("term")).agg(sum(col("c")).as("tf"))
      val dfT = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("source")).orderBy(col("raw").desc, col("term").asc)
      tf.join(dfT, Seq("term"))
        .crossJoin(broadcast(n1))
        .withColumn("raw", col("tf") * log(col("n") / col("df")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("term"), round(col("raw"), 6).as("tfidf"))
    }),

    // Stratified deterministic 10% sample: per-language totals vs sampled
    // counts; the sample membership is a salted content hash, so it is
    // stable under re-runs and independent of the split in q35.
    "q39_stratified" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(Splits.sampled(col("doc_id"), 10), 1)).as("n_sampled"))),

    // Within-doc word-3-gram repetition (Gopher-style repetition signal):
    // per-source average and the count of docs above the 0.2 flag line.
    // A narrow JIT'd map pass + one aggregation — scan-bound at any scale.
    // (Typed map, not the HOF column form: interpreted lambda evaluation
    // made the expression O(tokens²) per doc — 29s vs <1s at sf0.1.)
    "q40_repetition" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("source"), col("text")).as[(String, String)]
        .map { case (src, text) => (src, graft.functions.TextOps.trigramRepetitionScala(text)) }
        .toDF("source", "rep")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("rep")), 6).as("avg_rep"),
          count(when(col("rep") > 0.2, 1)).as("n_flagged"))
    }),

    // Semantic near-dup FAMILIES: connected components over the q43
    // LSH-bucketed embedding-cosine pairs — "keep one doc per semantic
    // duplicate cluster". The bucketed pair join is the 100 TB path (the
    // bucket bounds the quadratic term and is the partition key at scale).
    // Recall caveat of 1-band sign-bit LSH: a cross-bucket near-dup pair
    // with no shared neighbor stays split (components only merge what some
    // edge connects); more bands / Hamming-probe buckets buy recall back,
    // and q22's exact pair join is the bounded-input baseline.
    "q42_embed_clusters" -> ((s, dir) => {
      val edges = graft.dedup.EmbeddingDedup
        .pairsBucketed(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4, 8)
      DupClusters.components(edges, "id_a", "id_b")
        .select(col("node").as("vec_id"), col("cluster_id"))
        .withColumn("csize", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    }),

    // Gopher-style quality-rule composition: per-source keep counts and a
    // per-rule failure breakdown (length / mean-word-length / symbol ratio
    // / stopword evidence). Each rule is built from the TextOps columns
    // shared with the q24 metrics, so the filter is a single map pass.
    // End-to-end curation funnel: lang → quality → exact dedup → novelty,
    // each stage feeding the next, with survivor counts and input share —
    // the LLM-data analog of q32's code-memory e2e.
    "q87_curation_funnel" -> ((s, dir) =>
      graft.operators.CurationFunnel.report(Tables.documents(s, dir),
        "doc_id", "text", "en", TextQueries.Stopwords, 0.5)
        .orderBy(col("stage"))),

    "q41_quality" -> ((s, dir) => {
      import graft.functions.TextOps
      val w = TextOps.words(col("text"))
      val wc = size(w)
      val awl = TextOps.avgWordLen(col("text"))
      val pr = TextOps.punctRatio(col("text"))
      val nstop = size(array_intersect(array_distinct(w),
        array(TextQueries.Stopwords.map(lit(_)): _*)))
      val okLen = wc.between(20, 100000)
      val okAwl = awl.between(3.0, 10.0)
      val okSym = pr < 0.1
      val okStop = nstop >= 2
      Tables.documents(s, dir)
        .select(col("source"), okLen.as("ok_len"), okAwl.as("ok_awl"),
          okSym.as("ok_sym"), okStop.as("ok_stop"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("ok_len") && col("ok_awl") && col("ok_sym") && col("ok_stop"), 1)).as("n_keep"),
          count(when(!col("ok_len"), 1)).as("n_bad_len"),
          count(when(!col("ok_awl"), 1)).as("n_bad_awl"),
          count(when(!col("ok_sym"), 1)).as("n_bad_sym"),
          count(when(!col("ok_stop"), 1)).as("n_bad_stop"))
    })
  )

  private val bucketSql = "CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100"
  private val sampleSql = "CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':s'),1,15)) AS BIGINT) % 10"

  def oracles: Map[String, String] = Map(
    "q130_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, lang,
        |         CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) % 4096 AS bucket
        |  FROM (SELECT doc_id, lang, unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
        |        i -> t[i] || ' ' || t[i+1])) AS g FROM toks)
        |), tm AS (SELECT bucket, count(*) AS ct FROM bg WHERE lang = 'en' GROUP BY bucket),
        |rm AS (SELECT bucket, count(*) AS cr FROM bg WHERE lang <> 'en' GROUP BY bucket),
        |tt AS (SELECT sum(ct) AS nt FROM tm), rt AS (SELECT sum(cr) AS nr FROM rm)
        |SELECT r.doc_id, CAST(count(*) AS BIGINT) AS n_big,
        |       round(sum(ln((coalesce(tm.ct, 0) + 1.0) / (nt + 4096))
        |               - ln((coalesce(rm.cr, 0) + 1.0) / (nr + 4096))), 6) AS lwr
        |FROM bg r LEFT JOIN tm USING (bucket) LEFT JOIN rm USING (bucket), tt, rt
        |WHERE r.lang <> 'en'
        |GROUP BY r.doc_id
        |ORDER BY lwr DESC, r.doc_id LIMIT 20""".stripMargin,

    "q138_dist_match" ->
      """WITH d AS (
        |  SELECT doc_id, lang, CAST((n_chars - (n_chars % 50)) / 50 AS BIGINT) AS bucket
        |  FROM documents
        |), t AS (SELECT bucket, count(*) AS tc FROM d WHERE lang = 'en' GROUP BY bucket),
        |r AS (SELECT bucket, count(*) AS rc FROM d WHERE lang <> 'en' GROUP BY bucket),
        |q AS (SELECT bucket, rc, (coalesce(tc, 0) * 1000000) // rc AS q
        |      FROM r LEFT JOIN t USING (bucket)),
        |m AS (SELECT max(q) AS m FROM q),
        |bp AS (SELECT bucket, rc AS n_raw, (q * 10000) // m AS bp FROM q, m)
        |SELECT bucket, CAST(max(n_raw) AS BIGINT) AS n_raw, CAST(max(bp) AS BIGINT) AS bp,
        |       CAST(count(CASE WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':dm'),1,15)) AS BIGINT) % 10000 < bp
        |                  THEN 1 END) AS BIGINT) AS n_kept
        |FROM d JOIN bp USING (bucket) WHERE lang <> 'en'
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q132_split_leakage" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), reach(node, m) AS (
         |  SELECT DISTINCT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e.dst AS m FROM reach r JOIN edges e ON r.m = e.src
         |), lab AS (
         |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
         |), labsplit AS (
         |  SELECT cluster_id,
         |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT cluster_id, $bucketSql AS b FROM lab)
         |)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize,
         |       CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
         |       CAST(count(CASE WHEN split = 'train' THEN 1 END) AS BIGINT) AS n_train,
         |       CAST(count(CASE WHEN split = 'val' THEN 1 END) AS BIGINT) AS n_val,
         |       CAST(count(CASE WHEN split = 'test' THEN 1 END) AS BIGINT) AS n_test
         |FROM labsplit GROUP BY cluster_id
         |HAVING count(DISTINCT split) > 1 ORDER BY cluster_id""".stripMargin,

    // identical shard/cumsum/quotient arithmetic, integer end to end
    "q53_seq_packing" ->
      """WITH d AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |         len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT shard, toks,
        |         sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |                         ROWS UNBOUNDED PRECEDING) - toks AS before_toks
        |  FROM d
        |)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |       CAST(before_toks // 2048 AS BIGINT) AS seq_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS sum_tokens,
        |       round(sum(toks) / 2048.0, 6) AS fill_ratio
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q35_split" ->
      s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, count(DISTINCT lang) AS n_langs
         |FROM (SELECT lang, $bucketSql AS b FROM documents)
         |GROUP BY 1""".stripMargin,

    "q45_decontaminate" ->
      s"""WITH labeled AS (
         |  SELECT doc_id, text,
         |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text, $bucketSql AS b FROM documents)
         |), toks AS (
         |  SELECT doc_id, split,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
         |  FROM labeled
         |), grams AS (
         |  SELECT DISTINCT doc_id, split,
         |         CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) % 2147483647 AS gram
         |  FROM (SELECT doc_id, split, unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
         |        i -> array_to_string(t[i:i+7], ' '))) AS g FROM toks)
         |), tg AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
         |cont AS (
         |  SELECT DISTINCT gr.doc_id FROM grams gr JOIN tg ON gr.gram = tg.gram
         |  WHERE gr.split <> 'train'
         |)
         |SELECT split, count(*) AS n_docs, count(c.doc_id) AS n_contaminated
         |FROM labeled l LEFT JOIN cont c ON l.doc_id = c.doc_id
         |WHERE split <> 'train' GROUP BY split""".stripMargin,

    "q104_containment" ->
      s"""WITH labeled AS (
         |  SELECT doc_id, text,
         |         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text, $bucketSql AS b FROM documents)
         |), toks AS (
         |  SELECT doc_id, split,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
         |  FROM labeled
         |), grams AS (
         |  SELECT DISTINCT doc_id, split,
         |         CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) % 2147483647 AS gram
         |  FROM (SELECT doc_id, split, unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
         |        i -> array_to_string(t[i:i+4], ' '))) AS g FROM toks)
         |), tr AS (SELECT doc_id AS train_id, gram FROM grams WHERE split = 'train'),
         |keep AS (SELECT gram FROM tr GROUP BY gram HAVING count(*) <= 50),
         |ev AS (SELECT doc_id AS eval_id, gram FROM grams WHERE split <> 'train'),
         |sz AS (SELECT eval_id, count(*) AS n_eval_grams FROM ev GROUP BY eval_id),
         |pairs AS (
         |  SELECT eval_id, train_id, count(*) AS n_shared
         |  FROM ev JOIN keep USING (gram) JOIN tr USING (gram)
         |  GROUP BY eval_id, train_id)
         |SELECT eval_id, train_id, CAST(n_shared AS BIGINT) AS n_shared,
         |       CAST(n_eval_grams AS BIGINT) AS n_eval_grams,
         |       round(n_shared * 1.0 / n_eval_grams, 6) AS containment
         |FROM pairs JOIN sz USING (eval_id)
         |WHERE n_shared * 1.0 / n_eval_grams >= 0.2
         |ORDER BY eval_id, train_id""".stripMargin,

    "q36_dup_clusters" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), reach(node, m) AS (
         |  SELECT DISTINCT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e.dst AS m FROM reach r JOIN edges e ON r.m = e.src
         |), lab AS (
         |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS csize
         |FROM lab""".stripMargin,

    "q271_dedup_weights" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), reach(node, m) AS (
         |  SELECT DISTINCT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e.dst AS m FROM reach r JOIN edges e ON r.m = e.src
         |), lab AS (
         |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
         |), siz AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY cluster_id) AS csize FROM lab
         |), perdoc AS (
         |  SELECT d.source, coalesce(s.csize, 1) AS size
         |  FROM documents d LEFT JOIN siz s ON d.doc_id = s.doc_id
         |), grid AS (SELECT source, size, count(*) AS cnt FROM perdoc GROUP BY 1, 2),
         |acc AS (SELECT source, size,
         |          sum(cnt) OVER w AS n_docs,
         |          sum(CASE WHEN size > 1 THEN cnt ELSE 0 END) OVER w AS n_dup,
         |          sum(CAST(cnt AS DOUBLE) / size) OVER w AS sum_w,
         |          sum(CAST(cnt AS DOUBLE) / (size * size)) OVER w AS sum_w2,
         |          row_number() OVER (PARTITION BY source ORDER BY size DESC) AS rn
         |        FROM grid
         |        WINDOW w AS (PARTITION BY source ORDER BY size
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_dup AS BIGINT) AS n_dup_docs,
         |       round(sum_w, 6) AS sum_w, round(sum_w * sum_w / sum_w2, 4) AS ess
         |FROM acc WHERE rn = 1 ORDER BY source""".stripMargin,

    "q113_triangles" ->
      s"""WITH ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6),
         |e AS (SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v FROM pairs),
         |deg AS (SELECT x, count(*) AS d
         |        FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x),
         |o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
         |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b,
         |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN dv.d ELSE du.d END AS db
         |      FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
         |w AS (SELECT x.b AS p, y.b AS q FROM o x JOIN o y ON x.a = y.a
         |      WHERE x.db < y.db OR (x.db = y.db AND x.b < y.b)),
         |t AS (SELECT count(*) AS n_triangles FROM w JOIN o z ON w.p = z.a AND w.q = z.b)
         |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
         |       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
         |       CAST((SELECT n_triangles FROM t) AS BIGINT) AS n_triangles""".stripMargin,

    "q91_label_prop" ->
      s"""WITH ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), n AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS (
         |  SELECT n.node, CASE WHEN n.node % 5 = 0 THEN d.source END AS lbl,
         |         n.node % 5 = 0 AS is_seed
         |  FROM n JOIN documents d ON d.doc_id = n.node),
         |v1 AS (SELECT e.src, l.lbl, count(*) AS c FROM edges e
         |       JOIN l0 l ON l.node = e.dst WHERE l.lbl IS NOT NULL
         |       GROUP BY e.src, l.lbl),
         |b1 AS (SELECT src, lbl FROM (
         |         SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |         FROM v1) WHERE rn = 1),
         |l1 AS (SELECT l0.node,
         |              CASE WHEN l0.is_seed THEN l0.lbl ELSE coalesce(b1.lbl, l0.lbl) END AS lbl,
         |              l0.is_seed
         |       FROM l0 LEFT JOIN b1 ON b1.src = l0.node),
         |v2 AS (SELECT e.src, l.lbl, count(*) AS c FROM edges e
         |       JOIN l1 l ON l.node = e.dst WHERE l.lbl IS NOT NULL
         |       GROUP BY e.src, l.lbl),
         |b2 AS (SELECT src, lbl FROM (
         |         SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |         FROM v2) WHERE rn = 1),
         |l2 AS (SELECT l1.node,
         |              CASE WHEN l1.is_seed THEN l1.lbl ELSE coalesce(b2.lbl, l1.lbl) END AS lbl,
         |              l1.is_seed
         |       FROM l1 LEFT JOIN b2 ON b2.src = l1.node)
         |SELECT node, coalesce(lbl, 'unlabeled') AS lbl,
         |       CAST(is_seed AS BIGINT) AS is_seed
         |FROM l2 ORDER BY node""".stripMargin,

    // q91's propagation CTEs verbatim + the modularity tail: Q from the
    // two integer sums, one float expression at the edge
    "q238_modularity" ->
      s"""WITH ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), n AS (SELECT DISTINCT src AS node FROM edges),
         |l0 AS (
         |  SELECT n.node, CASE WHEN n.node % 5 = 0 THEN d.source END AS lbl,
         |         n.node % 5 = 0 AS is_seed
         |  FROM n JOIN documents d ON d.doc_id = n.node),
         |v1 AS (SELECT e.src, l.lbl, count(*) AS c FROM edges e
         |       JOIN l0 l ON l.node = e.dst WHERE l.lbl IS NOT NULL
         |       GROUP BY e.src, l.lbl),
         |b1 AS (SELECT src, lbl FROM (
         |         SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |         FROM v1) WHERE rn = 1),
         |l1 AS (SELECT l0.node,
         |              CASE WHEN l0.is_seed THEN l0.lbl ELSE coalesce(b1.lbl, l0.lbl) END AS lbl,
         |              l0.is_seed
         |       FROM l0 LEFT JOIN b1 ON b1.src = l0.node),
         |v2 AS (SELECT e.src, l.lbl, count(*) AS c FROM edges e
         |       JOIN l1 l ON l.node = e.dst WHERE l.lbl IS NOT NULL
         |       GROUP BY e.src, l.lbl),
         |b2 AS (SELECT src, lbl FROM (
         |         SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |         FROM v2) WHERE rn = 1),
         |l2 AS (SELECT l1.node,
         |              CASE WHEN l1.is_seed THEN l1.lbl ELSE coalesce(b2.lbl, l1.lbl) END AS lbl,
         |              l1.is_seed
         |       FROM l1 LEFT JOIN b2 ON b2.src = l1.node),
         |comm AS (SELECT node, coalesce(lbl, 'n#' || node) AS c FROM l2),
         |tag AS (SELECT p.doc_a, p.doc_b, ca.c AS ca, cb.c AS cb
         |        FROM pairs p JOIN comm ca ON ca.node = p.doc_a
         |                     JOIN comm cb ON cb.node = p.doc_b),
         |es AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |              CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS e_in
         |       FROM tag),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
         |        (SELECT doc_a AS node FROM pairs
         |         UNION ALL SELECT doc_b AS node FROM pairs) GROUP BY 1),
         |dc AS (SELECT c.c, sum(d.deg) AS d_c
         |       FROM deg d JOIN comm c ON c.node = d.node GROUP BY 1),
         |d2t AS (SELECT CAST(count(*) AS BIGINT) AS n_comm,
         |               CAST(sum(d_c * d_c) AS BIGINT) AS d2 FROM dc),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
         |SELECT m, n_nodes, n_comm, e_in, d2,
         |       round(CAST(e_in AS DOUBLE) / m
         |             - CAST(d2 AS DOUBLE) / (4.0 * m * m), 6) AS q
         |FROM es, nn, d2t""".stripMargin,

    "q89_cluster_rep" ->
      s"""WITH RECURSIVE ${DedupQueries.minhashCtes},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), reach(node, m) AS (
         |  SELECT DISTINCT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e.dst AS m FROM reach r JOIN edges e ON r.m = e.src
         |), lab AS (
         |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
         |), r AS (
         |  SELECT l.cluster_id, l.doc_id, d.n_chars,
         |         row_number() OVER (PARTITION BY l.cluster_id
         |                            ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY l.cluster_id) AS n_members
         |  FROM lab l JOIN documents d USING (doc_id))
         |SELECT cluster_id, doc_id AS rep, CAST(n_chars AS BIGINT) AS rep_score,
         |       CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "q156_cluster_purity" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |c0 AS (SELECT vec_id AS cluster, v AS cent FROM e ORDER BY vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, v, cluster FROM (
        |  SELECT e.vec_id, e.v, c.cluster,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_cosine_similarity(e.v, c.cent) DESC, c.cluster ASC) AS rn
        |  FROM e, c0 c) WHERE rn = 1),
        |c1 AS (SELECT cluster, list(m ORDER BY i) AS cent FROM (
        |  SELECT cluster, i, round(avg(v[i]), 6) AS m
        |  FROM a1, (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY cluster, i) GROUP BY cluster),
        |a2 AS (SELECT vec_id, v, cluster FROM (
        |  SELECT e.vec_id, e.v, c.cluster,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_cosine_similarity(e.v, c.cent) DESC, c.cluster ASC) AS rn
        |  FROM e, c1 c) WHERE rn = 1),
        |c2 AS (SELECT cluster, list(m ORDER BY i) AS cent FROM (
        |  SELECT cluster, i, round(avg(v[i]), 6) AS m
        |  FROM a2, (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY cluster, i) GROUP BY cluster),
        |a3 AS (SELECT vec_id, cluster FROM (
        |  SELECT e.vec_id, c.cluster,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_cosine_similarity(e.v, c.cent) DESC, c.cluster ASC) AS rn
        |  FROM e, c2 c) WHERE rn = 1),
        |cont AS (
        |  SELECT a3.cluster, e2.label, count(*) AS n_cl
        |  FROM a3 JOIN e e2 ON a3.vec_id = e2.vec_id GROUP BY 1, 2),
        |tot AS (SELECT sum(n_cl) AS n FROM cont),
        |hc AS (SELECT sum(-(nc / n) * ln(nc / n)) AS h_c
        |       FROM (SELECT cluster, sum(n_cl) AS nc FROM cont GROUP BY 1), tot),
        |hl AS (SELECT sum(-(nl / n) * ln(nl / n)) AS h_l
        |       FROM (SELECT label, sum(n_cl) AS nl FROM cont GROUP BY 1), tot),
        |hcl AS (SELECT sum(-(n_cl / n) * ln(n_cl / n)) AS h_cl FROM cont, tot),
        |nmi AS (SELECT (h_c + h_l - h_cl) / sqrt(h_c * h_l) AS nmi FROM hc, hl, hcl),
        |top AS (SELECT cluster, label AS top_label, n_cl AS n_top FROM (
        |  SELECT cluster, label, n_cl,
        |         row_number() OVER (PARTITION BY cluster ORDER BY n_cl DESC, label) AS rn
        |  FROM cont) WHERE rn = 1),
        |per AS (SELECT cluster, sum(n_cl) AS n_points FROM cont GROUP BY 1)
        |SELECT per.cluster, CAST(n_points AS BIGINT) AS n_points, top_label,
        |       CAST(n_top AS BIGINT) AS n_top,
        |       round(n_top / n_points, 6) AS purity, round(nmi, 6) AS nmi
        |FROM per JOIN top USING (cluster), nmi ORDER BY per.cluster""".stripMargin,

    "q37_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cluster, v AS cent FROM e ORDER BY vec_id LIMIT 8),
        |a1 AS (SELECT vec_id, v, cluster FROM (
        |  SELECT e.vec_id, e.v, c.cluster,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_cosine_similarity(e.v, c.cent) DESC, c.cluster ASC) AS rn
        |  FROM e, c0 c) WHERE rn = 1),
        |c1 AS (SELECT cluster, list(m ORDER BY i) AS cent FROM (
        |  SELECT cluster, i, round(avg(v[i]), 6) AS m
        |  FROM a1, (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY cluster, i) GROUP BY cluster),
        |a2 AS (SELECT vec_id, v, cluster FROM (
        |  SELECT e.vec_id, e.v, c.cluster,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_cosine_similarity(e.v, c.cent) DESC, c.cluster ASC) AS rn
        |  FROM e, c1 c) WHERE rn = 1),
        |c2 AS (SELECT cluster, list(m ORDER BY i) AS cent FROM (
        |  SELECT cluster, i, round(avg(v[i]), 6) AS m
        |  FROM a2, (SELECT unnest(generate_series(1, 64)) AS i) dims
        |  GROUP BY cluster, i) GROUP BY cluster),
        |a3 AS (SELECT vec_id, cluster FROM (
        |  SELECT e.vec_id, c.cluster,
        |         row_number() OVER (PARTITION BY e.vec_id
        |                            ORDER BY list_cosine_similarity(e.v, c.cent) DESC, c.cluster ASC) AS rn
        |  FROM e, c2 c) WHERE rn = 1)
        |SELECT a.cluster AS cluster, count(*) AS n_points, max(c.cent[1]) AS c0
        |FROM a3 a JOIN c2 c ON a.cluster = c.cluster
        |GROUP BY a.cluster""".stripMargin,

    "q38_tfidf" ->
      """WITH dt AS (
        |  SELECT doc_id, source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 1)) AS term
        |  FROM documents
        |), tf AS (SELECT source, term, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM dt) GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT source, term, tf * ln(n.n * 1.0 / df) AS raw
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n
        |)
        |SELECT source, term, round(raw, 6) AS tfidf FROM (
        |  SELECT source, term, raw,
        |         row_number() OVER (PARTITION BY source ORDER BY raw DESC, term ASC) AS rn
        |  FROM scored) WHERE rn <= 3""".stripMargin,

    "q39_stratified" ->
      s"""SELECT lang, count(*) AS n_total,
         |       count(CASE WHEN smp = 0 THEN 1 END) AS n_sampled
         |FROM (SELECT lang, $sampleSql AS smp FROM documents)
         |GROUP BY lang""".stripMargin,

    "q40_repetition" ->
      """WITH d AS (
        |  SELECT source,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), g AS (
        |  SELECT source,
        |         CASE WHEN len(t) < 3 THEN CAST('[]' AS VARCHAR[])
        |              ELSE list_transform(generate_series(1, len(t) - 2),
        |                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) END AS tg
        |  FROM d
        |), r AS (
        |  SELECT source,
        |         CASE WHEN len(tg) = 0 THEN 0.0
        |              ELSE 1.0 - len(list_distinct(tg)) * 1.0 / len(tg) END AS rep
        |  FROM g
        |)
        |SELECT source, count(*) AS n_docs, round(avg(rep), 6) AS avg_rep,
        |       count(CASE WHEN rep > 0.2 THEN 1 END) AS n_flagged
        |FROM r GROUP BY source""".stripMargin,

    "q42_embed_clusters" ->
      s"""WITH RECURSIVE ${DedupQueries.embedBucketedPairCtes},
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM bpairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM bpairs
         |), reach(node, m) AS (
         |  SELECT DISTINCT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e2.dst AS m FROM reach r JOIN edges e2 ON r.m = e2.src
         |), lab AS (
         |  SELECT node AS vec_id, min(m) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT vec_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS csize
         |FROM lab""".stripMargin,

    "q87_curation_funnel" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS w
         |  FROM documents),
         |s1 AS (SELECT * FROM d WHERE ${TextQueries.langGuessSql} = 'en'),
         |s2 AS (SELECT doc_id, text FROM s1 WHERE
         |         len(w) BETWEEN 20 AND 100000
         |         AND (CASE WHEN len(w) = 0 THEN 0.0
         |              ELSE list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w) END) BETWEEN 3.0 AND 10.0
         |         AND (CASE WHEN len(text) = 0 THEN 0.0
         |              ELSE (len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) * 1.0 / len(text) END) < 0.1
         |         AND len(list_intersect(list_distinct(w),
         |             [${TextQueries.Stopwords.map(s => s"'$s'").mkString(", ")}])) >= 2),
         |s3 AS (SELECT s2.doc_id, s2.text FROM s2
         |       JOIN (SELECT md5(text) AS h, min(doc_id) AS k FROM s2 GROUP BY 1) f
         |         ON md5(s2.text) = f.h AND s2.doc_id = f.k),
         |t3 AS (SELECT doc_id,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
         |       FROM s3),
         |g3 AS (SELECT DISTINCT doc_id,
         |         CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) % 2147483647 AS gram
         |       FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
         |             i -> array_to_string(t[i:i+2], ' '))) AS g FROM t3)),
         |df3 AS (SELECT gram, count(*) AS df FROM g3 GROUP BY gram),
         |nov AS (SELECT doc_id, count(CASE WHEN df = 1 THEN 1 END) / count(*) AS novelty
         |        FROM g3 JOIN df3 USING (gram) GROUP BY doc_id),
         |s4 AS (SELECT s3.doc_id FROM s3 JOIN nov USING (doc_id) WHERE novelty > 0.5),
         |funnel AS (
         |  SELECT 0 AS stage, 'all' AS filter, count(*) AS n_docs FROM d
         |  UNION ALL SELECT 1, 'lang', count(*) FROM s1
         |  UNION ALL SELECT 2, 'quality', count(*) FROM s2
         |  UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s3
         |  UNION ALL SELECT 4, 'novelty', count(*) FROM s4)
         |SELECT CAST(stage AS BIGINT) AS stage, filter,
         |       CAST(n_docs AS BIGINT) AS n_docs,
         |       n_docs / (SELECT count(*) FROM d) AS share
         |FROM funnel ORDER BY stage""".stripMargin,

    "q41_quality" ->
      s"""WITH m AS (
         |  SELECT source,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS w,
         |         len(text) AS nc,
         |         len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS nclean
         |  FROM documents
         |), q AS (
         |  SELECT source,
         |         len(w) BETWEEN 20 AND 100000 AS ok_len,
         |         (CASE WHEN len(w) = 0 THEN 0.0
         |               ELSE list_sum(list_transform(w, t -> len(t))) * 1.0 / len(w) END)
         |           BETWEEN 3.0 AND 10.0 AS ok_awl,
         |         (CASE WHEN nc = 0 THEN 0.0 ELSE (nc - nclean) * 1.0 / nc END) < 0.1 AS ok_sym,
         |         len(list_intersect(list_distinct(w),
         |             [${TextQueries.Stopwords.map(s => s"'$s'").mkString(", ")}])) >= 2 AS ok_stop
         |  FROM m
         |)
         |SELECT source, count(*) AS n_docs,
         |       count(CASE WHEN ok_len AND ok_awl AND ok_sym AND ok_stop THEN 1 END) AS n_keep,
         |       count(CASE WHEN NOT ok_len THEN 1 END) AS n_bad_len,
         |       count(CASE WHEN NOT ok_awl THEN 1 END) AS n_bad_awl,
         |       count(CASE WHEN NOT ok_sym THEN 1 END) AS n_bad_sym,
         |       count(CASE WHEN NOT ok_stop THEN 1 END) AS n_bad_stop
         |FROM q GROUP BY source""".stripMargin
  )
}
