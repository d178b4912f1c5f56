package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.search.Bm25

/** MinHash + LSH banding near-dup detection: word 3-shingles → md5-based
  * 31-bit hashes → affine-permutation minima → banded bucket join.
  *
  * Portable deterministic hashing: shingles hash via
  * `conv(substring(md5(s),1,15),16,10) % p`, permutations are the affine
  * family `h -> ((2i+1)*h + 7i+1) mod p` over p = 2^31-1, so the identical
  * signature is computable in any engine with md5 (the DuckDB oracle
  * reproduces it exactly). All products stay < 2^36 — no 64-bit overflow.
  *
  * Scale shape: signatures are one narrow map pass (no shuffle). Banding
  * explodes to NumBands rows/doc; the candidate join shuffles on the band
  * key, whose buckets are the (rare) near-dup groups — the whole point of
  * LSH is that this join is sparse. Estimated jaccard verifies candidates
  * from the signatures alone, never re-reading the text.
  */
object MinHashLsh {
  val P: Long = 2147483647L // 2^31 - 1, prime
  val NumPerm = 12
  val RowsPerBand = 3
  val NumBands: Int = NumPerm / RowsPerBand

  /** (doc_id, sig) — MinHash signatures from word 3-shingles.
    *
    * Computed in a typed map rather than nested higher-order functions:
    * HOF lambdas evaluate interpreted per element (they have no codegen),
    * and the signature loop is shingles × NumPerm — the one place where a
    * JIT'd Scala inner loop is an order of magnitude faster. The formula
    * is identical to the SQL derivation the oracle replays
    * (conv(substring(md5(s),1,15),16,10) % p; affine minima).
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    sigsFromGramSets(gramSets(docs, idCol, textCol))

  /** (doc_id, grams) — each doc's distinct word-3-shingle 31-bit hash set
    * in ONE tokenize+md5 pass. [[calibration]] shares this between the
    * signature pipeline and the exact-jaccard side, which previously each
    * re-tokenized and re-hashed the corpus (r12; guide §1.2 "don't compute
    * things twice").
    */
  private[dedup] def gramSets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val toks = Bm25.tokenizeScala(text)
        val shingles = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toArray.distinct
        (id, shingles.map(graft.core.Ids.hash31))
      }
      .toDF("doc_id", "grams")
  }

  /** Affine-minima signatures from the gram-hash sets. Minima over the
    * hash multiset are unchanged by string-vs-hash-level dedup, so this is
    * value-identical to hashing inside the signature pass.
    */
  private[dedup] def sigsFromGramSets(gs: DataFrame): DataFrame = {
    import gs.sparkSession.implicits._
    gs.as[(Long, Array[Long])]
      .flatMap { case (id, hs) =>
        // docs with no shingles (under 3 qualifying tokens) have no minhash
        // evidence at all — emitting a degenerate all-P signature would
        // bucket EVERY short doc together as est_jaccard-1.0 "duplicates"
        if (hs.isEmpty) None
        else {
          val sig = Array.tabulate(NumPerm) { i =>
            var m = P
            var k = 0
            while (k < hs.length) {
              val v = ((2 * i + 1) * hs(k) + 7 * i + 1) % P
              if (v < m) m = v
              k += 1
            }
            m
          }
          Some((id, sig.toSeq))
        }
      }
      .toDF("doc_id", "sig")
  }

  /** (doc_id, sig, band, band_key) — band key is md5 of the band's minhashes. */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandKeysFromSigs(signatures(docs, idCol, textCol))

  private[dedup] def bandKeysFromSigs(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(NumBands - 1))).as("band"))
      .withColumn("band_key", expr(
        s"md5(concat_ws(',', ${(1 to RowsPerBand).map(r => s"element_at(sig, band * $RowsPerBand + $r)").mkString(", ")}))"))

  /** Candidate pairs sharing ≥1 band, with estimated jaccard = fraction of
    * equal signature components.
    */
  /** Incremental near-dup probe: candidates of a NEW batch against an
    * EXISTING corpus — the operator a production pipeline runs per ingest,
    * where re-pairing the corpus with itself (candidatePairs) would redo
    * quadratic work for data that hasn't changed. The corpus band table is
    * exactly what the pipeline keeps materialized (partitioned by band_key
    * at scale), so each batch costs: its own signatures + ONE equi-join
    * whose left side is batch-sized. Batch docs are never paired with each
    * other — only against the corpus.
    *
    * Returns per new doc (that has any candidate): the candidate count,
    * the best match's estimated jaccard, and the best matching corpus doc
    * (ties on est → smallest corpus id, deterministic both engines).
    */
  def newVsCorpus(corpus: DataFrame, batch: DataFrame,
                  idCol: String, textCol: String): DataFrame =
    newVsCorpusBands(corpusBands(corpus, idCol, textCol), batch, idCol, textCol)

  /** The corpus band table in probe-ready shape — what a stream-static
    * near-dup pipeline keeps MATERIALIZED between micro-batches (the
    * bands ARE the state; partitioned by band_key at scale). Computing it
    * once and probing many batches via [[newVsCorpusBands]] is the
    * steady-state shape; [[newVsCorpus]] is the one-shot convenience.
    */
  def corpusBands(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    bandKeys(corpus, idCol, textCol)
      .select(col("band"), col("band_key"), col("doc_id").as("corpus_doc"), col("sig").as("sig_c"))

  /** Probe ONE batch against a prebuilt corpus band table — the per-
    * trigger body of the streaming near-dup probe. Stateless in the
    * batch: probing micro-batches independently and unioning equals one
    * probe of their union (gated as q222).
    */
  def newVsCorpusBands(cb: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val nb = bandKeys(batch, idCol, textCol)
      .select(col("band"), col("band_key"), col("doc_id").as("new_doc"), col("sig").as("sig_n"))
    val cand = nb.join(cb, Seq("band", "band_key"))
      .withColumn("est", expr(
        s"aggregate(zip_with(sig_n, sig_c, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, e) -> acc + e) / cast($NumPerm as double)"))
      .select(col("new_doc"), col("corpus_doc"), col("est"))
      .distinct()
      .persist()
    // argmax with a deterministic tie-break: max(est) first, then the
    // smallest corpus_doc achieving it. The est-equality join is safe:
    // est is an exact small rational (k/12) computed identically per pair.
    val best = cand.groupBy(col("new_doc"))
      .agg(max(col("est")).as("best_est"), count(lit(1)).as("n_cand"))
    val out = best.join(
        cand.select(col("new_doc").as("_nd"), col("corpus_doc"), col("est")),
        col("_nd") === col("new_doc") && col("est") === col("best_est"))
      .groupBy(col("new_doc"), col("best_est"), col("n_cand"))
      .agg(min(col("corpus_doc")).as("best_match"))
      .localCheckpoint(true)
    cand.unpersist()
    out
  }

  def candidatePairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    candidatePairsFromSigs(signatures(docs, idCol, textCol))

  private[dedup] def candidatePairsFromSigs(sigs: DataFrame): DataFrame = {
    // materialized eagerly, before the band self-join reads it twice: a
    // lazy persist() let AQE start both sides' stages at once, and one
    // side's task then held a slot, blocked on the other's cache block,
    // for the whole shingle->md5->minhash pass. The (small) pair output is
    // checkpointed eagerly too, so the band table's blocks can be released
    // before returning.
    val bk = bandKeysFromSigs(sigs).localCheckpoint(true)
    val a = bk.select(col("band"), col("band_key"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = bk.select(col("band"), col("band_key"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val pairs = a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("est_jaccard", expr(
        s"aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, e) -> acc + e) / cast($NumPerm as double)"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .distinct()
      .localCheckpoint(true)
    // Dataset.unpersist does not release a checkpoint; its RDD's blocks do
    bk.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.unpersist(blocking = false) }
    pairs
  }

  /** CALIBRATION REPORT — estimated vs EXACT jaccard for every LSH
    * candidate pair, bucketed by signature agreement count. This is how
    * the NumPerm/RowsPerBand knobs get tuned with evidence instead of
    * folklore: per agreement level it reports the pair count, the mean
    * estimate, the mean true jaccard over the word-3-shingle sets, and
    * the estimator's signed bias.
    *
    * Scale shape: true jaccard is computed ONLY for the (sparse) LSH
    * candidate set and via GRAM-KEYED equi-joins — pair × gram fan-out
    * bounded by candidate shingle counts, never a text re-read or a
    * doc×doc scan. Gram sets dedup on the 31-bit hash value on BOTH
    * engines, so a (vanishingly rare) in-doc hash collision cannot skew
    * the set sizes differently per engine.
    */
  def calibration(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE tokenize+md5 gram pass feeds BOTH the signature/banding pipeline
    // and the exact-jaccard gram joins (pre-r12 each side re-derived the
    // grams from text — two full corpus tokenizations)
    val gs = gramSets(docs, idCol, textCol).persist()
    val pairs = candidatePairsFromSigs(sigsFromGramSets(gs))
    val grams = gs.select(col("doc_id"), explode(col("grams")).as("gram"))
      .distinct() // set semantics on the HASH value (see scaladoc)
      .persist()
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = pairs.select(col("doc_a"), col("doc_b"))
      .join(grams.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    val scored = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left") // band-collision pairs can share 0 grams
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("_sa")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("_sb")), Seq("doc_b"))
      .withColumn("_ni", coalesce(col("n_inter"), lit(0L)))
      .withColumn("_exact", col("_ni") / (col("_sa") + col("_sb") - col("_ni")))
    val out = scored
      .withColumn("n_agree", round(col("est_jaccard") * NumPerm, 0).cast("long"))
      .groupBy(col("n_agree"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("est_jaccard")), 6).as("avg_est"),
        round(avg(col("_exact")), 6).as("avg_exact"),
        round(avg(col("est_jaccard") - col("_exact")), 6).as("bias"))
      .localCheckpoint(true)
    grams.unpersist()
    gs.unpersist()
    out
  }
}
