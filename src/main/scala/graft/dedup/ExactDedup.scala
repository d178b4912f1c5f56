package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.search.Bm25

/** Exact deduplication (the hash-groupBy family a training-data pipeline
  * runs first, and the reference's content-hash dedup,
  * processing/content_processor.py:45-67, re-expressed set-at-a-time).
  *
  * Two fingerprints:
  *  - `contentHash`: md5 of the verbatim text — byte-identical dups;
  *  - `wordSetFingerprint`: md5 of the sorted distinct token set — catches
  *    reordered/repeated-word dups (bag-of-words duplicates).
  *
  * Scale shape: one groupBy per fingerprint — a single shuffle each, with
  * map-side partial aggregation. Keep-first elects with the same shape,
  * `groupBy(hash).agg(min(id))` plus a semi-join back ([[firstIds]]) — NOT
  * a ranking window over the hash, which would put every copy of a hot
  * boilerplate document in one task with no partial aggregation.
  */
object ExactDedup {

  def contentHash(text: Column): Column = md5(text)

  def wordSetFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(Bm25.tokens(text))), " "))

  /** Per-group dup stats: docs vs distinct exact hashes vs distinct word
    * sets.
    */
  def dupStats(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs
      .select(col(groupCol),
        contentHash(col(textCol)).as("h_exact"),
        wordSetFingerprint(col(textCol)).as("h_wordset"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h_exact")).as("n_exact"),
        countDistinct(col("h_wordset")).as("n_wordset"))

  /** The keep-first election: one `idCol` row per exact content hash,
    * the lowest id among that hash's documents.
    */
  def firstIds(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(contentHash(col(textCol)).as("_h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))

  /** Keep the first row (lowest `idCol`) per exact content hash: a
    * left-semi join on the [[firstIds]] election. Requires `idCol` to be
    * unique and non-null — a duplicated elected id keeps every row that
    * carries it, and a hash whose ids are all null keeps none.
    */
  def dedupKeepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(firstIds(docs, idCol, textCol), Seq(idCol), "left_semi")
}
