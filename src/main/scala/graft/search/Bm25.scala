package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** BM25 sparse retrieval as pure DataFrame jobs (SURVEY.md §2.3: corpus fit →
  * vocab/df/idf model table; §2.4: explode-join-agg scorer). [[search]] is
  * the one scorer: it derives df and the corpus stats inside each query's
  * plan, so there is no persisted model to go stale.
  *
  * Parameters mirror the reference (embeddings/bm25.py:35-38):
  * k1=1.2, b=0.75, robertson IDF ln((N-df+0.5)/(df+0.5)).
  *
  * Scale shape:
  *  - fit: one explode + two aggregations; the term-df table is tiny
  *    relative to the corpus (vocabulary-sized). Corpus N is a 1-row
  *    cross join.
  *  - score: the per-(doc, term) tf table shuffles once on doc; the query
  *    terms are a literal `isin` filter pushed below the join, so at 100 TB
  *    only postings of the query's terms are ever shuffled.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Reference tokenizer (embeddings/bm25.py:163-180): lowercase,
    * `[a-z0-9]` runs, length > 1 — the words of
    * [[graft.functions.TextOps.wordsScala]] longer than one character, so
    * the case mapping is Spark `lower`'s, never the JVM default locale's
    * (under `tr`, `toLowerCase` maps `I` to a dotless `ı`). DuckDB oracles
    * replay it as `lower`, `string_split_regex` and a length filter.
    */
  def tokenizeScala(text: String): Array[String] =
    longWords(graft.functions.TextOps.wordsScala(text))
  private def longWords(w: Array[String]): Array[String] = w.filter(_.length > 1)

  /** [[tokenizeScala]] as a column: an `array<string>` of non-null tokens,
    * null for a null text. One definition serves the driver (query
    * parsing, minhash/simhash signatures) and every column.
    */
  def tokens(text: Column): Column = Tokens(text)
  private val Tokens =
    graft.functions.TextOps.perDoc(ArrayType(StringType, containsNull = false))(longWords)

  /** The BM25 term contribution of one (doc, term) posting. */
  def contrib(idf: Column, tf: Column, dl: Column, avgdl: Column): Column =
    idf * (tf * lit(K1 + 1.0)) /
      (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / avgdl))

  /** THE Scala-side twin of [[contrib]], in its operation order, so a
    * driver-side score equals the column's.
    */
  def contribScala(idf: Double, tf: Double, dl: Double, avgdl: Double): Double =
    idf * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))

  /** Per-(doc, term) term frequencies + per-doc length. */
  def docTerms(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Model fit: (term, df, idf) — the vocab/df/idf table of SURVEY §7.1. */
  def fit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val dt = docTerms(docs, idCol, textCol)
    // N rides the plan as a broadcast 1-row aggregate (not an eager
    // .count() at construction — see search()); integer count consumed as
    // a column is value-identical to the literal
    val n = docs.agg(count(lit(1)).as("_n"))
    // docTerms rows are unique per (doc, term) — its groupBy key — so a
    // plain count IS the document frequency; countDistinct would add a
    // needless distinct expansion before the aggregate
    dt.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("idf", log((col("_n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)))
      .drop("_n")
  }

  /** BM25 score of every matching doc for `queryTerms`; returns
    * (doc_id, score) sorted desc, tie-broken by doc_id, limited to k.
    *
    * Scan shape: corpus stats (N, avgdl) come from one aggregate; the
    * posting lists are FILTERED to the query's terms before the per-term
    * groupBy — at 100 TB only the query's postings are ever shuffled, not
    * the whole vocabulary.
    */
  def search(docs: DataFrame, idCol: String, textCol: String,
             queryTerms: Seq[String], k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    // corpus stats stay IN the plan as a broadcast 1-row aggregate instead
    // of an eager .head() — the old form serialized a full corpus-tokenize
    // job at DataFrame-CONSTRUCTION time before the real query even ran
    // (guide §1/§5: no blocking driver actions on a query path). n is an
    // exact integer and avgdl an exact intSum/count, so consuming them as
    // columns is value-identical to the literal form.
    val stats = toks.agg(count(lit(1)).as("_n"), avg(size(col("toks"))).as("_avgdl"))
    val dt = toks
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val model = dt.groupBy(col("term"))
      // dt rows are unique per (doc, term) — its groupBy key — so plain
      // count is the df (same invariant as fit())
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("_n").cast("double") - col("df") + 0.5) / (col("df") + 0.5)))
      .select(col("term"), col("idf"), col("_avgdl"))
    dt.join(broadcast(model), "term")
      .withColumn("contrib", contrib(col("idf"), col("tf"), col("dl"), col("_avgdl")))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }
}
