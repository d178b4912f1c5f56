package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.{EmbeddingDedup, ExactDedup, MinHashLsh, NgramJaccard, NgramNovelty, ParagraphDedup, SimHash}

/** Deduplication operators over the documents/embeddings corpus — the
  * LLM-training-pipeline family: exact hash, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q] = Map(
    // Sorted-neighborhood blocking (Hernández & Stolfo SNM): block by
    // first token, sort within block, Jaccard each doc against its sort
    // predecessor only — n-1 comparisons per block instead of the B²
    // candidate products of the MinHash/PPJoin family. Micro-averaged
    // with integer sufficient statistics so no float sum crosses engines.
    "q172_sorted_neighbors" -> ((s, dir) =>
      graft.dedup.SortedNeighbors.report(Tables.documents(s, dir),
          "doc_id", "text",
          lower(split(col("text"), "\\s+")(0)), threshold = 0.5)
        .orderBy(col("block"))),

    // Exact-substring dedup signal (Lee et al. 2022): per-doc fraction of
    // token positions covered by cross-doc duplicated 8-grams. Gram-hash
    // partial agg + semi-join back; bounded 8× position fan-out; never
    // doc×doc.
    "q147_dup_spans" -> ((s, dir) =>
      graft.dedup.DupSpans.coverage(Tables.documents(s, dir), "doc_id", "text", 8)
        .orderBy(col("doc_id"))),

    // Directed source-level 5-gram containment matrix ("which sources
    // copy from which"): distinct gram-hash sets per source, hub-capped
    // at 10 sources per gram before the gram-keyed pair join. Top-25
    // directed pairs by containment.
    "q153_source_overlap" -> ((s, dir) =>
      graft.dedup.SourceOverlap.containment(Tables.documents(s, dir),
        "source", "text", n = 5, maxSources = 10, limit = 25)),

    // Dedup survivorship matrix — the capstone Venn over three dedup
    // families: exact content hash, MinHash-LSH candidacy (q19's bands),
    // embedding near-dup (q22's pairs). Answers "which docs would each
    // stage cut, and how much do the stages overlap" — the number that
    // decides whether running the expensive stage after the cheap one is
    // worth it. Flag sets are id-keyed semi/left joins; the contingency
    // is one partial agg over 8 combinations.
    "q163_dedup_survivorship" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dg = docs.select(col("doc_id"), md5(col("text")).as("dg"))
      val exactIds = dg.join(
        dg.groupBy(col("dg")).agg(count(lit(1)).as("nd")).filter(col("nd") > 1)
          .select("dg"),
        Seq("dg"), "left_semi").select("doc_id")
      val lshIds = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val embIds = EmbeddingDedup.pairsBrute(
          Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      // no broadcast hints: on a real crawl the flagged-id sets are a
      // constant FRACTION of the corpus, not a bounded table — the joins
      // stay doc_id-keyed shuffles and AQE may still broadcast small ones
      docs.select(col("doc_id"))
        .join(exactIds.withColumn("in_exact", lit(true)), Seq("doc_id"), "left")
        .join(lshIds.withColumn("in_lsh", lit(true)), Seq("doc_id"), "left")
        .join(embIds.withColumn("in_emb", lit(true)), Seq("doc_id"), "left")
        .select(coalesce(col("in_exact"), lit(false)).as("in_exact"),
          coalesce(col("in_lsh"), lit(false)).as("in_lsh"),
          coalesce(col("in_emb"), lit(false)).as("in_emb"))
        .groupBy(col("in_exact"), col("in_lsh"), col("in_emb"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("in_exact"), col("in_lsh"), col("in_emb"))
    }),

    // Per-source boilerplate strip (CCNet/RefinedWeb template-chrome
    // rule): 10-word blocks repeating across ≥3 DISTINCT docs of the same
    // source are dropped in ALL occurrences — the complement of q50's
    // keep-first dedup. Digest-keyed distinct-doc counts partial-agg
    // before the shuffle; no window, no pairwise compare.
    "q133_boilerplate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val blocks = ParagraphDedup.wordBlocks(docs, "doc_id", "text", 10)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      ParagraphDedup.boilerplate(blocks, "doc_id", "source", 3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
          countDistinct(when(col("boiler"), col("doc_id"))).as("n_docs_hit"))
        .orderBy(col("source"))
    }),

    // Exact + bag-of-words duplicate stats per source.
    "q18_dedup_exact" -> ((s, dir) =>
      ExactDedup.dupStats(Tables.documents(s, dir), "source", "text")),

    // MinHash(12 perms) + LSH(4 bands × 3 rows) candidate pairs.
    "q19_minhash" -> ((s, dir) =>
      MinHashLsh.candidatePairs(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 6).as("est_jaccard"))),

    // Capture-recapture duplicate-mass estimation (Lincoln-Petersen /
    // Chapman): at 100 TB you cannot run exact dedup, so estimate the
    // TRUE duplicate-pair count from two cheap independent detectors —
    // MinHash candidates (≥0.5 est) and SimHash close pairs — via their
    // overlap. N̂_Chapman = (n_A+1)(n_B+1)/(m+1) − 1: three integer pair
    // counts (each detector's pipeline is the one already gated by
    // q19/q20), one division at the edge.
    "q253_capture_recapture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .filter(col("est_jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      val b = SimHash.closePairs(docs, "doc_id", "text", "source", 3)
        .select(col("doc_a"), col("doc_b"))
      val na = a.agg(count(lit(1)).as("n_a"))
      val nb = b.agg(count(lit(1)).as("n_b"))
      val m = a.join(b, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("overlap"))
      na.crossJoin(broadcast(nb)).crossJoin(broadcast(m))
        .select(col("n_a"), col("n_b"), col("overlap"),
          round(((col("n_a") + 1) * (col("n_b") + 1)).cast("double")
            / (col("overlap") + 1) - lit(1.0), 4).as("chapman_n"))
    }),

    // LSH banding planner ranked over the feasible (b, r) grid — the
    // design step that justifies q19's 4×3 layout. Bounded grid, in-row
    // midpoint integral, integer-index branch selection.
    "q255_lsh_planner" -> ((s, _) =>
      graft.dedup.LshPlanner.plan(s, totalPerms = 128, thresholdPct = 70,
        topK = 10)),

    // Incremental near-dup: treat src0 as today's ingest batch and the
    // rest as the already-indexed corpus — each new doc probes the corpus
    // band table with one batch-sized equi-join (never re-pairing the
    // corpus with itself, never pairing batch docs together).
    "q73_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      MinHashLsh.newVsCorpus(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text")
        .select(col("new_doc"), round(col("best_est"), 6).as("best_est"),
          col("n_cand"), col("best_match"))
        .orderBy(col("new_doc"))
    }),

    // The STREAMING near-dup probe replayed as micro-batches (a stateless
    // stream-static op): the corpus band table — the state a streaming
    // deployment keeps materialized — is built ONCE, then three disjoint
    // ts-sliced micro-batches probe it independently through the same
    // per-trigger body the stream runs (MinHashLsh.newVsCorpusBands) and
    // union. Because the probe is
    // stateless in the batch, the union must equal one probe of the
    // whole feed — which is exactly what the oracle computes; any hidden
    // cross-batch dependence breaks the hash.
    "q222_neardup_probe_batches" -> ((s, dir) => {
      import graft.dedup.MinHashLsh
      val docs = Tables.documents(s, dir)
      val cb = MinHashLsh.corpusBands(
        docs.filter(col("source") =!= "src0"), "doc_id", "text")
        .localCheckpoint(false) // the static state: computed once (lazily, r13), probed thrice
      val feed = docs.filter(col("source") === "src0")
      (0 until 3).map { mb =>
        MinHashLsh.newVsCorpusBands(cb, feed.filter(col("doc_id") % 3 === mb),
          "doc_id", "text")
      }.reduce(_ unionByName _)
        .select(col("new_doc"), round(col("best_est"), 6).as("best_est"),
          col("n_cand"), col("best_match"))
        .orderBy(col("new_doc"))
    }),

    // MinHash candidates confirmed by exact (banded) Levenshtein — the
    // fuzzy-dedup verify for when token-set overlap is too coarse. Only
    // the LSH candidate set is ever distanced; the levenshtein carries
    // Spark's O(k·len) threshold bound derived from minSim.
    "q127_edit_dedup" -> ((s, dir) =>
      graft.dedup.EditDistanceDedup.verifiedPairs(
        Tables.documents(s, dir), "doc_id", "text", 0.3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // SimHash(24-bit) near-dup pairs within source, Hamming ≤ 3.
    "q20_simhash" -> ((s, dir) =>
      SimHash.closePairs(Tables.documents(s, dir), "doc_id", "text", "source", 3)
        .select(col("grp"), col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))),

    // Exact char-3-gram jaccard pairs within source, ≥ 0.6.
    "q21_ngram_jaccard" -> ((s, dir) =>
      NgramJaccard.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", "source", 3, 0.6)
        .select(col("grp"), col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))),

    // Embedding-cosine near-dup pairs (exact baseline — bounded inputs only;
    // q43 gates the scale path).
    "q22_embed_neardup" -> ((s, dir) =>
      EmbeddingDedup.pairsBrute(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))),

    // Embedding-cosine near-dup via sign-bit LSH buckets — the 100 TB path:
    // the bucket column bounds the quadratic pair term and doubles as the
    // table's partition key at scale, so the self-join is co-located.
    "q43_embed_bucketed" -> ((s, dir) =>
      EmbeddingDedup.pairsBucketed(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4, 8)
        .select(col("bucket"), col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))),

    // Paragraph-grain keep-first dedup (ParagraphDedup): boilerplate that
    // repeats across documents survives document-level dedup; this gate
    // counts, per source, the 20-token blocks and how many are the
    // corpus-first occurrence of their content. One shuffle keyed by block
    // digest — no pair enumeration.
    "q50_paragraph_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val blocks = ParagraphDedup.wordBlocks(docs, "doc_id", "text", 20)
      ParagraphDedup.keepFirst(blocks, "doc_id")
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_blocks"),
          count(when(col("kept"), 1)).as("n_kept"))
    }),

    // Per-source n-gram novelty profile: share of each doc's word
    // 3-grams unique to it in the corpus; docs at ≤ 0.5 flagged as
    // boilerplate-assembled. Gram-keyed df join — no doc pairing.
    "q83_ngram_novelty" -> ((s, dir) =>
      NgramNovelty.noveltyProfile(Tables.documents(s, dir), "doc_id", "text",
        "source", 3, 0.5)
        .orderBy(col("source"))),

    // MinHash estimator calibration: per signature-agreement level, the
    // candidate count and mean estimated vs TRUE shingle-set jaccard —
    // exact jaccard computed only for the sparse LSH candidate set via
    // gram-keyed joins.
    "q86_minhash_calibration" -> ((s, dir) =>
      MinHashLsh.calibration(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("n_agree"))),

    // Prefix-filtered EXACT set-similarity join (PPJoin candidates over
    // word 3-shingles): the oracle brute-forces ALL pairs sharing any
    // gram, so a hash-match PROVES the prefix filter's no-false-negative
    // guarantee on real data — the candidate join only ever touches each
    // doc's rarest tokens.
    "q112_prefix_join" -> ((s, dir) =>
      graft.dedup.PrefixJoin.similarPairs(
        Tables.documents(s, dir), "doc_id", "text", 3, 0.5)
        .orderBy(col("doc_a"), col("doc_b")))
  )

  private val hash31 = "CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647"

  /** The minhash signature + banding CTE chain (tokens → 3-shingles →
    * 31-bit hashes → 12 affine minima → 4 band keys), shared by the q19
    * oracle and the duplicate-cluster oracle in [[PipelineQueries]].
    */
  private[queries] val minhashCtes: String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
       |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sl
       |  FROM toks
       |), hashes AS (
       |  SELECT doc_id, list_transform(sl, s -> $hash31) AS hs FROM sh
       |  WHERE len(sl) > 0
       |), sigs AS (
       |  SELECT doc_id, list_transform(generate_series(0, 11), i ->
       |    list_min(list_transform(hs, h -> ((2*i + 1) * h + 7*i + 1) % 2147483647))) AS sig
       |  FROM hashes
       |), bands AS (
       |  SELECT doc_id, sig, b.band,
       |         md5(concat_ws(',', sig[band*3 + 1], sig[band*3 + 2], sig[band*3 + 3])) AS band_key
       |  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band) b
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    // detector A = the q19 band pipeline at >=6/12 matches (est >= 0.5);
    // detector B = the q20 simhash pipeline; Chapman at the edge
    "q253_capture_recapture" ->
      s"""WITH $minhashCtes,
         |pa AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE list_sum(list_transform(generate_series(1, 12),
         |          i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) >= 6
         |),
         |hs2 AS (
         |  SELECT doc_id, source,
         |         list_transform(t2, s -> CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647) AS h
         |  FROM (SELECT doc_id, source,
         |               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t2
         |        FROM documents)),
         |fp2 AS (
         |  SELECT doc_id, source,
         |    list_sum(list_transform(generate_series(0, 23), j ->
         |      CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |           THEN 1 << j ELSE 0 END)) AS fp
         |  FROM hs2),
         |pb AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fp2 a JOIN fp2 b ON a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.fp::BIGINT, b.fp::BIGINT)) <= 3),
         |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pa) AS n_a,
         |              (SELECT CAST(count(*) AS BIGINT) FROM pb) AS n_b,
         |              (SELECT CAST(count(*) AS BIGINT)
         |               FROM pa JOIN pb USING (doc_a, doc_b)) AS overlap)
         |SELECT n_a, n_b, overlap,
         |       round(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) / (overlap + 1) - 1.0, 4) AS chapman_n
         |FROM st""".stripMargin,

    // the S-curve tree mirrored LITERALLY (1.0 - (1.0 - pow(...)) for
    // the fn branch, never simplified) so both engines fold the same
    // doubles left-to-right; the threshold branch is the integer k <= 69
    "q255_lsh_planner" ->
      """WITH grid AS (
        |  SELECT b, r FROM (SELECT unnest(generate_series(1, 64)) AS b),
        |                   (SELECT unnest(generate_series(1, 16)) AS r)
        |  WHERE b * r <= 128),
        |sc AS (
        |  SELECT b, r, b * r AS perms,
        |    list_sum(list_transform(generate_series(0, 99), k ->
        |      CASE WHEN k <= 69
        |           THEN 1.0 - pow(1.0 - pow((k + 0.5) / 100.0, CAST(r AS DOUBLE)), CAST(b AS DOUBLE))
        |           ELSE 0.0 END)) AS fp_raw,
        |    list_sum(list_transform(generate_series(0, 99), k ->
        |      CASE WHEN k > 69
        |           THEN 1.0 - (1.0 - pow(1.0 - pow((k + 0.5) / 100.0, CAST(r AS DOUBLE)), CAST(b AS DOUBLE)))
        |           ELSE 0.0 END)) AS fn_raw
        |  FROM grid),
        |r2 AS (SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
        |              CAST(b * r AS BIGINT) AS perms,
        |              round(fp_raw / 100.0, 6) AS fp, round(fn_raw / 100.0, 6) AS fn,
        |              round((fp_raw + fn_raw) / 100.0, 6) AS score
        |       FROM sc),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY score, b, r) AS BIGINT) AS rank
        |       FROM r2)
        |SELECT b, r, perms, fp, fn, score, rank FROM rk WHERE rank <= 10
        |ORDER BY rank""".stripMargin,

    "q172_sorted_neighbors" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         lower(string_split_regex(text, '\s+')[1]) AS block,
        |         list_sort(list_distinct(list_filter(
        |           string_split_regex(lower(text), '[^a-z0-9]+'),
        |           x -> len(x) > 1))) AS t
        |  FROM documents
        |), lagged AS (
        |  SELECT block, t,
        |         lag(t) OVER (PARTITION BY block ORDER BY text, doc_id) AS pt
        |  FROM d
        |), j AS (
        |  SELECT block,
        |         CASE WHEN pt IS NOT NULL THEN len(list_intersect(t, pt)) END AS n_inter,
        |         CASE WHEN pt IS NOT NULL
        |              THEN len(t) + len(pt) - len(list_intersect(t, pt)) END AS n_union
        |  FROM lagged
        |)
        |SELECT block, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(n_inter) AS BIGINT) AS n_pairs,
        |       CAST(sum(CASE WHEN CAST(n_inter AS DOUBLE) / n_union >= 0.5
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        |       round(CAST(sum(n_inter) AS DOUBLE) / sum(n_union), 6) AS micro_jaccard,
        |       round(max(CAST(n_inter AS DOUBLE) / n_union), 6) AS max_jaccard
        |FROM j GROUP BY block ORDER BY block""".stripMargin,

    "q163_dedup_survivorship" ->
      s"""WITH $minhashCtes,
         |lpairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |), lids AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM lpairs UNION ALL SELECT doc_b FROM lpairs)
         |), $embedPairCtes,
         |eids AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT id_a AS doc_id FROM epairs UNION ALL SELECT id_b FROM epairs)
         |), ex AS (
         |  SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) > 1 AS in_exact
         |  FROM documents
         |), f AS (
         |  SELECT ex.in_exact,
         |         ex.doc_id IN (SELECT doc_id FROM lids) AS in_lsh,
         |         ex.doc_id IN (SELECT doc_id FROM eids) AS in_emb
         |  FROM ex
         |)
         |SELECT in_exact, in_lsh, in_emb, CAST(count(*) AS BIGINT) AS n_docs
         |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q153_source_overlap" ->
      """WITH toks AS (
        |  SELECT source AS src,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), g0 AS (
        |  SELECT DISTINCT src,
        |         CAST(('0x'||substr(md5(array_to_string(t[i:i+4], ' ')),1,15)) AS BIGINT) AS g
        |  FROM (SELECT src, t, unnest(generate_series(1, len(t) - 4)) AS i
        |        FROM toks WHERE len(t) >= 5)
        |), band AS (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 10),
        |g2 AS (SELECT g0.src, g0.g FROM g0 JOIN band USING (g)),
        |tot AS (SELECT src, count(*) AS n_grams FROM g2 GROUP BY src),
        |pairs AS (
        |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
        |  FROM g2 a JOIN g2 b ON a.g = b.g AND a.src <> b.src
        |  GROUP BY 1, 2
        |)
        |SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
        |       round(n_shared / n_grams, 6) AS containment
        |FROM pairs JOIN tot ON tot.src = pairs.src_a
        |ORDER BY containment DESC, src_a, src_b LIMIT 25""".stripMargin,

    "q147_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), grams AS (
        |  SELECT doc_id, i,
        |         CAST(('0x'||substr(md5(array_to_string(t[i:i+7], ' ')),1,15)) AS BIGINT) AS g
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
        |        FROM toks)
        |), dup AS (
        |  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) > 1
        |), inst AS (
        |  SELECT grams.doc_id, grams.i FROM grams JOIN dup USING (g)
        |), per AS (
        |  SELECT doc_id, count(*) AS dup_grams FROM inst GROUP BY doc_id
        |), cov AS (
        |  SELECT doc_id, count(DISTINCT p) AS covered
        |  FROM (SELECT doc_id, unnest(generate_series(i, i + 7)) AS p FROM inst)
        |  GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_toks,
        |       CAST(coalesce(per.dup_grams, 0) AS BIGINT) AS dup_grams,
        |       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered,
        |       round(coalesce(cov.covered, 0) / len(t.t), 6) AS dup_ratio
        |FROM toks t LEFT JOIN per USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q133_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), blocks AS (
        |  SELECT doc_id, source, u AS para FROM (
        |    SELECT doc_id, source,
        |           unnest(list_transform(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT)),
        |             i -> array_to_string(t[(i-1)*10+1:(i-1)*10+10], ' '))) AS u
        |    FROM toks WHERE len(t) > 0)
        |), dfs AS (
        |  SELECT source, para, count(DISTINCT doc_id) AS df
        |  FROM blocks GROUP BY source, para
        |), b2 AS (
        |  SELECT b.source, b.doc_id, (df >= 3) AS boiler
        |  FROM blocks b JOIN dfs USING (source, para)
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(count(CASE WHEN boiler THEN 1 END) AS BIGINT) AS n_boiler,
        |       CAST(count(DISTINCT CASE WHEN boiler THEN doc_id END) AS BIGINT) AS n_docs_hit
        |FROM b2 GROUP BY source ORDER BY source""".stripMargin,

    "q18_dedup_exact" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_exact,
        |       count(DISTINCT md5(array_to_string(list_sort(list_distinct(
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1))), ' '))) AS n_wordset
        |FROM documents GROUP BY source""".stripMargin,

    "q73_incremental_dedup" ->
      s"""WITH $minhashCtes,
         |src AS (SELECT doc_id, source FROM documents),
         |nb AS (SELECT b.* FROM bands b JOIN src USING (doc_id) WHERE source = 'src0'),
         |cb AS (SELECT b.* FROM bands b JOIN src USING (doc_id) WHERE source <> 'src0'),
         |cand AS (
         |  SELECT DISTINCT nb.doc_id AS new_doc, cb.doc_id AS corpus_doc,
         |         list_sum(list_transform(generate_series(1, 12),
         |           i -> CASE WHEN nb.sig[i] = cb.sig[i] THEN 1 ELSE 0 END)) / 12.0 AS est
         |  FROM nb JOIN cb ON nb.band = cb.band AND nb.band_key = cb.band_key),
         |best AS (SELECT new_doc, max(est) AS best_est, count(*) AS n_cand
         |         FROM cand GROUP BY new_doc)
         |SELECT b.new_doc, round(b.best_est, 6) AS best_est,
         |       CAST(b.n_cand AS BIGINT) AS n_cand,
         |       CAST(min(c.corpus_doc) AS BIGINT) AS best_match
         |FROM best b JOIN cand c ON c.new_doc = b.new_doc AND c.est = b.best_est
         |GROUP BY b.new_doc, b.best_est, b.n_cand
         |ORDER BY b.new_doc""".stripMargin,

    // identical to q73's single-probe oracle: the micro-batch union must
    // collapse to the one-shot probe (statelessness is the property)
    "q222_neardup_probe_batches" ->
      s"""WITH $minhashCtes,
         |src AS (SELECT doc_id, source FROM documents),
         |nb AS (SELECT b.* FROM bands b JOIN src USING (doc_id) WHERE source = 'src0'),
         |cb AS (SELECT b.* FROM bands b JOIN src USING (doc_id) WHERE source <> 'src0'),
         |cand AS (
         |  SELECT DISTINCT nb.doc_id AS new_doc, cb.doc_id AS corpus_doc,
         |         list_sum(list_transform(generate_series(1, 12),
         |           i -> CASE WHEN nb.sig[i] = cb.sig[i] THEN 1 ELSE 0 END)) / 12.0 AS est
         |  FROM nb JOIN cb ON nb.band = cb.band AND nb.band_key = cb.band_key),
         |best AS (SELECT new_doc, max(est) AS best_est, count(*) AS n_cand
         |         FROM cand GROUP BY new_doc)
         |SELECT b.new_doc, round(b.best_est, 6) AS best_est,
         |       CAST(b.n_cand AS BIGINT) AS n_cand,
         |       CAST(min(c.corpus_doc) AS BIGINT) AS best_match
         |FROM best b JOIN cand c ON c.new_doc = b.new_doc AND c.est = b.best_est
         |GROUP BY b.new_doc, b.best_est, b.n_cand
         |ORDER BY b.new_doc""".stripMargin,

    "q19_minhash" ->
      s"""WITH $minhashCtes
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(list_sum(list_transform(generate_series(1, 12),
         |    i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) / 12.0, 6) AS est_jaccard
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id""".stripMargin,

    "q127_edit_dedup" ->
      s"""WITH $minhashCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |), lv AS (
         |  SELECT doc_a, doc_b, levenshtein(ta.text, tb.text) AS lev,
         |         greatest(length(ta.text), length(tb.text)) AS mx
         |  FROM cand JOIN documents ta ON ta.doc_id = cand.doc_a
         |            JOIN documents tb ON tb.doc_id = cand.doc_b
         |)
         |SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev,
         |       round(1.0 - lev / mx, 6) AS edit_sim
         |FROM lv WHERE 1.0 - lev / mx >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q20_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
         |  FROM documents
         |), hs AS (
         |  SELECT doc_id, source, list_transform(t, s -> $hash31) AS h FROM toks
         |), fp AS (
         |  SELECT doc_id, source,
         |    list_sum(list_transform(generate_series(0, 23), j ->
         |      CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |           THEN 1 << j ELSE 0 END)) AS fp
         |  FROM hs
         |)
         |SELECT a.source AS grp, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.fp::BIGINT, b.fp::BIGINT)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp::BIGINT, b.fp::BIGINT)) <= 3""".stripMargin,

    "q21_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, greatest(len(text) - 2, 0)),
        |      i -> substr(text, i, 3))) AS gr
        |  FROM documents
        |)
        |SELECT grp, doc_a, doc_b, round(j, 6) AS jaccard FROM (
        |  SELECT a.source AS grp, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.gr, b.gr)) * 1.0
        |           / (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) AS j
        |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        |) WHERE j >= 0.6""".stripMargin,

    "q22_embed_neardup" ->
      s"""WITH $embedPairCtes
         |SELECT id_a, id_b, round(c, 6) AS cos FROM epairs""".stripMargin,

    "q43_embed_bucketed" ->
      s"""WITH $embedBucketedPairCtes
         |SELECT bucket, id_a, id_b, round(c, 6) AS cos FROM bpairs""".stripMargin,

    "q50_paragraph_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents
        |), blocks AS (
        |  SELECT doc_id, source, u['i'] AS idx, u['b'] AS para FROM (
        |    SELECT doc_id, source,
        |           unnest(list_transform(generate_series(1, CAST(ceil(len(t) / 20.0) AS BIGINT)),
        |             i -> {'i': i, 'b': array_to_string(t[(i-1)*20+1:(i-1)*20+20], ' ')})) AS u
        |    FROM toks WHERE len(t) > 0)
        |), marked AS (
        |  SELECT source, row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |  FROM blocks
        |)
        |SELECT source, count(*) AS n_blocks, count(CASE WHEN rn = 1 THEN 1 END) AS n_kept
        |FROM marked GROUP BY source""".stripMargin,

    "q83_ngram_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
         |  FROM documents
         |), grams AS (
         |  SELECT DISTINCT doc_id,
         |         CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) % 2147483647 AS gram
         |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
         |        i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks)
         |), df AS (SELECT gram, count(*) AS df FROM grams GROUP BY gram),
         |nov AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |         count(CASE WHEN df = 1 THEN 1 END) AS n_unique,
         |         count(CASE WHEN df = 1 THEN 1 END) / count(*) AS novelty
         |  FROM grams JOIN df USING (gram) GROUP BY doc_id
         |)
         |SELECT source, count(*) AS n_docs,
         |       round(avg(novelty), 6) AS avg_novelty,
         |       round(min(novelty), 6) AS min_novelty,
         |       count(CASE WHEN novelty <= 0.5 THEN 1 END) AS n_boilerplate
         |FROM nov JOIN documents USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q86_minhash_calibration" ->
      s"""WITH $minhashCtes,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT doc_a, doc_b,
         |         list_sum(list_transform(generate_series(1, 12),
         |           i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS n_agree
         |  FROM pairs),
         |hs2 AS (SELECT doc_id, list_distinct(hs) AS hs FROM hashes),
         |ex AS (
         |  SELECT e.doc_a, e.doc_b, e.n_agree, e.n_agree / 12.0 AS est,
         |         len(list_intersect(ha.hs, hb.hs))
         |           / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) AS exact
         |  FROM est e JOIN hs2 ha ON ha.doc_id = e.doc_a
         |              JOIN hs2 hb ON hb.doc_id = e.doc_b)
         |SELECT CAST(n_agree AS BIGINT) AS n_agree,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       round(avg(est), 6) AS avg_est,
         |       round(avg(exact), 6) AS avg_exact,
         |       round(avg(est - exact), 6) AS bias
         |FROM ex GROUP BY n_agree ORDER BY n_agree""".stripMargin,

    // brute force over ALL gram-sharing pairs: agreement proves the
    // prefix filter dropped nothing
    "q112_prefix_join" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1) AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
        |       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sl FROM toks),
        |g AS (SELECT DISTINCT doc_id, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) % 2147483647 AS gram
        |      FROM (SELECT doc_id, unnest(sl) AS s FROM sh)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_int
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_int AS BIGINT) AS n_int,
        |       round(n_int * 1.0 / (sa.n + sb.n - n_int), 6) AS jacc
        |FROM i JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id
        |WHERE n_int * 1.0 / (sa.n + sb.n - n_int) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin
  )

  /** Embedding cosine near-dup pair CTEs, shared by the q22 oracle and the
    * embed-cluster oracle in [[PipelineQueries]].
    */
  private[queries] val embedPairCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |epairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_cosine_similarity(a.v, b.v) AS c
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
      |)""".stripMargin

  /** Sign-bit bucket of dims [1..nBits] — the SQL twin of
    * [[graft.search.LshAnn.bucketOf]] (same rule as the q17 oracle).
    */
  private def signBucketSql(vec: String, nBits: Int): String =
    (1 to nBits).map(i =>
      s"(CASE WHEN $vec[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END)").mkString(" + ")

  /** LSH-bucketed embedding near-dup pair CTEs (same-bucket pairs only),
    * shared by the q43 oracle and the q42 semantic-cluster oracle.
    */
  private[queries] val embedBucketedPairCtes: String =
    s"""eb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         ${signBucketSql("embedding", 8)} AS bucket
       |  FROM embeddings
       |),
       |bpairs AS (
       |  SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
       |         list_cosine_similarity(a.v, b.v) AS c
       |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
       |)""".stripMargin
}
