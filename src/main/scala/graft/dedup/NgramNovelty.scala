package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** N-GRAM NOVELTY — per-document share of word n-grams that occur in NO
  * other document. The curation signal behind boilerplate and template
  * detection: a near-zero novelty doc is assembled from corpus-common
  * phrasing (nav chrome, license text, generated pages); a high-novelty
  * doc contributes content the model hasn't seen elsewhere. The same
  * document-frequency table doubles as the memorization-risk profile
  * (grams repeated across thousands of docs are what models memorize).
  *
  * Scale shape: the grams are derived once and shuffled once, on the
  * 31-bit gram hash; a count over each gram's partition tags every (doc,
  * gram) row with the gram's document frequency, and the per-doc roll-up
  * is one partial-aggregated groupBy on doc_id — never a doc×doc
  * comparison and no join back. The gram shuffle partitions by gram hash
  * at 100 TB (uniform by construction); a hot gram's rows meet in one
  * window partition, as they met on the gram side of a join back, and the
  * window buffer spills. The roll-up keys on doc_id, which no gram skew
  * touches.
  *
  * Gram derivation is [[Decontamination.docGrams]] (tokenize → distinct
  * word n-gram md5-31 hashes), so the DuckDB oracle replays it exactly.
  */
object NgramNovelty {

  /** (doc_id, n_grams, n_unique, novelty) — distinct n-gram count, how
    * many of them appear in no other document, and the unique share.
    * Documents with fewer than n tokens carry no grams and are absent.
    */
  def docNovelty(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // df counts DOCUMENTS per gram; docGrams already emits each (doc, gram)
    // once, so a plain count is the document frequency. Counting over the
    // gram's window keeps the doc ids a df aggregate would drop, so the
    // grams (tokenize, slide, md5 per gram) are derived once; a df table
    // joined back to them would derive them once per branch.
    Decontamination.docGrams(docs, idCol, textCol, n)
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_df") === 1, 1)).as("n_unique"))
      .withColumn("novelty", col("n_unique") / col("n_grams"))

  /** Per-group novelty profile: document count, mean/min novelty, and how
    * many documents fall at or under `flagBelow` (the boilerplate flag).
    * `groupCol` is joined back from `docs` (source, lang, shard, ...).
    */
  def noveltyProfile(docs: DataFrame, idCol: String, textCol: String,
                     groupCol: String, n: Int, flagBelow: Double): DataFrame =
    docNovelty(docs, idCol, textCol, n)
      .join(docs.select(col(idCol).cast("long").as("doc_id"), col(groupCol)), Seq("doc_id"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("novelty")), 6).as("avg_novelty"),
        round(min(col("novelty")), 6).as("min_novelty"),
        // novelty is an exact integer ratio (both engines divide the same
        // longs in double), so the unrounded comparison is reproducible
        count(when(col("novelty") <= flagBelow, 1)).as("n_boilerplate"))
}
