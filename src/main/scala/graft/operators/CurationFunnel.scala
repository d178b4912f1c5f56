package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import graft.dedup.{ExactDedup, NgramNovelty}
import graft.functions.TextOps

/** TRAINING-DATA CURATION FUNNEL — the standard filter chain a corpus
  * passes through before pre-training, with per-stage survivor counts:
  *
  *   all → language-ID → quality rules → exact dedup (keep-first) →
  *   novelty (boilerplate) gate
  *
  * Each stage consumes the previous stage's SURVIVORS (the novelty df is
  * recomputed on the deduplicated set — removing duplicates changes what
  * counts as corpus-common), and the report is the funnel table every
  * curation run publishes: how much each rule costs, end to end.
  *
  * Scale shape: stages 1–2 are narrow per-document predicates, each one
  * JIT'd Scala pass over the document's words inside a UDF;
  * dedup elects survivors with `groupBy(hash).agg(min(id))` + semi-join —
  * the partial-agg shape that collapses a hot identical document map-side
  * (NOT a row_number window over the hash, which would put every copy of
  * one boilerplate doc in a single task); the novelty stage is gram-keyed
  * ([[NgramNovelty]]). Stage counts are 1-row aggregates and the input
  * total joins back as a 1-row broadcast.
  */
object CurationFunnel {

  /** The q41 quality composite as one reusable predicate: 20–100,000
    * words, a mean word length in [3, 10], punctuation under 10% and at
    * least two distinct stopwords. Everything but the punctuation share
    * (a codegen'd `regexp_replace`) is one JIT'd pass over the words.
    */
  def qualityKeep(text: Column, stopwords: Seq[String]): Column = {
    val stop = stopwords.toSet
    TextOps.perDoc(BooleanType) { w =>
      val awl = TextOps.avgWordLenScala(w)
      w.length >= 20 && w.length <= 100000 && awl >= 3.0 && awl <= 10.0 &&
        w.iterator.filter(stop).distinct.size >= 2
    }(text) && TextOps.punctRatio(text) < 0.1
  }

  /** Funnel report: `(stage, filter, n_docs, share)` — share is of the
    * unfiltered input (an exact integer ratio; identical doubles in any
    * engine).
    *
    * Cost shape: rather than materializing five DataFrames and counting
    * each (which would re-evaluate the shared filter chain once per
    * stage), ONE pass tags every doc with its stage-1/2 verdicts and the
    * dedup election, is checkpointed, and a single aggregate sums the
    * cumulative survivor flags; only the novelty stage (which must see
    * exactly the stage-3 survivor corpus) adds its gram-keyed pass on
    * top.
    */
  def report(docs: DataFrame, idCol: String, textCol: String,
             keepLang: String, stopwords: Seq[String],
             noveltyFloor: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
      .withColumn("_ok1", TextOps.langGuess(col("text")) === keepLang)
      .withColumn("_ok2", col("_ok1") && qualityKeep(col("text"), stopwords))
      // lazy-checkpointed: base feeds BOTH the dedup election subtree and
      // the tagged join's probe side — unchecked, the corpus was
      // file-scanned twice and langGuess/quality (the two per-document
      // UDF predicates) evaluated twice per doc (r13; guide §1.2
      // "don't compute twice"). Lazy: materializes inside the single
      // count action, no extra driver barrier.
      .localCheckpoint(false)
    // keep-first election among stage-2 survivors only (same semantics as
    // filtering first): groupBy(hash).min — partial-agged, no window
    val firsts = ExactDedup.firstIds(base.filter(col("_ok2")), "doc_id", "text")
      .withColumn("_elected", lit(true))
    val tagged = base.join(firsts, Seq("doc_id"), "left")
      .withColumn("_ok3", col("_ok2") && coalesce(col("_elected"), lit(false)))
      .localCheckpoint(false) // lazy: one corpus evaluation, cached at first use inside the single count action (r12)
    val s3 = tagged.filter(col("_ok3")).select(col("doc_id"), col("text"))
    // BOTH count sets in ONE action (1-row × 1-row crossJoin): the old
    // separate .head() calls serialized two full job round-trips over the
    // checkpointed corpus (r12; guide §1.2 — fewer sequential barriers)
    val novAgg = NgramNovelty.docNovelty(s3, "doc_id", "text", 3)
      .filter(col("novelty") > noveltyFloor)
      .agg(count(lit(1)).as("n4"))
    val c = tagged.agg(
      count(lit(1)).as("n0"),
      count(when(col("_ok1"), 1)).as("n1"),
      count(when(col("_ok2"), 1)).as("n2"),
      count(when(col("_ok3"), 1)).as("n3"))
      .crossJoin(novAgg)
      .head()
    val rows = Seq(
      (0L, "all", c.getLong(0)), (1L, "lang", c.getLong(1)),
      (2L, "quality", c.getLong(2)), (3L, "exact_dedup", c.getLong(3)),
      (4L, "novelty", c.getLong(4)))
    rows.toDF("stage", "filter", "n_docs")
      .withColumn("share", col("n_docs") / lit(c.getLong(0)))
  }
}
