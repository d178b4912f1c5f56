package graft.functions

import java.util.Locale

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for the training-data pipeline: token counting,
  * quality metrics, stopword/language profiles, content fingerprinting,
  * each with an exact SQL analog for oracle parity. The word-based ones are
  * UDFs over plain Scala that splits a document once in JIT'd code:
  * `filter`/`aggregate` lambdas run interpreted per element, and no two
  * calls can share one split. The rest are built-in column expressions.
  */
object TextOps {

  /** The words of `text` as Spark's `lower`, `split(_, '[^a-z0-9]+')` and
    * dropping empty strings give them. The case mapping is `lower`'s: an
    * all-ASCII string maps A–Z, any other goes through ICU's
    * `UCharacter.toLowerCase`, the call `lower` makes. Calling ICU here
    * skips `lower`'s one-time cost in a fresh JVM: its first non-ASCII
    * string initializes Spark's `CollationAwareUTF8String`, which
    * title-cases every Unicode code point (~2 s).
    */
  def wordsScala(text: String): Array[String] = {
    val s = if (text.forall(_ < 0x80)) text.toLowerCase(Locale.ROOT) else UCharacter.toLowerCase(text)
    NonWord.split(s).filter(_.nonEmpty)
  }
  private val NonWord = java.util.regex.Pattern.compile("[^a-z0-9]+")

  def avgWordLenScala(w: Array[String]): Double =
    if (w.isEmpty) 0.0 else w.iterator.map(_.length.toLong).sum.toDouble / w.length

  /** A deterministic UDF `f(wordsScala(text))` of result type `dt`.
    * A null text gives null, or `ifNull` (then the column is non-nullable).
    */
  private[graft] def perDoc(dt: DataType, ifNull: Any = null)(f: Array[String] => Any): UserDefinedFunction = {
    val u = udf(new UDF1[String, Any] {
      def call(s: String): Any = if (s == null) ifNull else f(wordsScala(s))
    }, dt)
    if (ifNull == null) u else u.asNonNullable()
  }

  /** All lowercase alnum runs (length ≥ 1 — unlike Bm25.tokens this keeps
    * single-char words, needed for stopword ratios).
    */
  def words(text: Column): Column = Words(text)
  private val Words = perDoc(ArrayType(StringType, containsNull = false))(identity)

  /** Whitespace token count. The splitter is the EXPLICIT class
    * `[ \t\n\r\f]` — Java's `\s` additionally matches vertical tab \x0B
    * while DuckDB's RE2 `\s` does not, so a bare `\\s+` here would make a
    * VT-bearing document count differently in the two engines and break
    * the hash of every gate that bins on this count (r9 advice). RE2's
    * `\s` is exactly [\t\n\f\r ], so the oracles keep their `'\s+'`.
    */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "[ \t\n\r\f]+"), t => length(t) > 0))

  /** BPE-ish subword count: letter runs, digit runs, and single
    * non-alnum-non-space marks each count as one token (a cheap proxy for a
    * byte-pair vocabulary's pre-tokenizer).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))

  /** Mean token length (0.0 for no tokens). */
  def avgWordLen(text: Column): Column = AvgWordLen(text)
  private val AvgWordLen = perDoc(DoubleType)(avgWordLenScala)

  /** Fraction of tokens that are stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val stop = stopwords.toSet
    perDoc(DoubleType)(w => if (w.isEmpty) 0.0 else w.count(stop).toDouble / w.length)(text)
  }

  /** Fraction of characters that are neither alnum nor whitespace. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise((length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\\s]", "")))
        .cast("double") / length(text))

  /** Stopword-profile scores for language identification. Returns one score
    * column per language: the count of tokens in that language's profile.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "is", "to", "in", "it"),
    "es" -> Seq("el", "la", "los", "y", "es", "de", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que"),
    "zh" -> Seq.empty // no latin stopwords; scores 0, never wins a tie
  )

  def langScore(text: Column, profile: Seq[String]): Column =
    if (profile.isEmpty) lit(0L)
    else { val p = profile.toSet; perDoc(LongType)(_.count(p).toLong)(text) }

  private val SortedProfiles = LangProfiles.sortBy(_._1).map { case (l, p) => l -> p.toSet }

  /** Argmax language with deterministic lexicographic tie-break: languages
    * are checked in sorted order and the first one ≥ all others wins.
    * All-zero scores → "unknown" (no profile evidence at all).
    */
  private def langGuessScala(w: Array[String]): String =
    SortedProfiles.foldLeft(("unknown", 0)) { case (best, (l, p)) =>
      val n = w.count(p)
      if (n > best._2) (l, n) else best
    }._1

  /** The profile argmax above as a column; a null text is "unknown". */
  def langGuess(text: Column): Column = LangGuess(text)
  private val LangGuess = perDoc(StringType, "unknown")(langGuessScala)

  /** Within-document word-3-gram repetition ratio (the Gopher-family
    * repetition signal): 1 − distinct/total trigrams; 0 for docs under 3
    * tokens. The `< 3` CASE guard matters — Spark's sequence(1, 0) yields
    * the DESCENDING [1, 0], not an empty list.
    *
    * NB: this column form exists for composability, but HOF lambdas
    * evaluate interpreted per ELEMENT — `element_at(toks, i)` inside the
    * transform re-derives the token array per trigram, O(tokens²) per doc.
    * Hot paths (q40 over the corpus) use [[trigramRepetitionScala]] in a
    * JIT'd typed map instead (same rule as the minhash signature loops).
    */
  def trigramRepetition(textColName: String): Column = {
    // built on the ONE canonical tokenizer (Bm25.tokens) — no string-literal
    // copy that could drift from what the oracles replay
    val toks = graft.search.Bm25.tokens(col(textColName))
    val tgs = transform(sequence(lit(1), size(toks) - 2), i =>
      concat(element_at(toks, i), lit(" "), element_at(toks, i + 1), lit(" "), element_at(toks, i + 2)))
    when(size(toks) < 3, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(tgs)).cast("double") / size(tgs))
  }

  /** The JIT twin of [[trigramRepetition]] — identical tokenization
    * (lowercase alnum runs, length > 1) and identical arithmetic
    * (1.0 − distinct/total from exact ints), so the two can never diverge
    * from the oracle's derivation.
    */
  def trigramRepetitionScala(text: String): Double = {
    val t = graft.search.Bm25.tokenizeScala(text)
    if (t.length < 3) 0.0
    else {
      val n = t.length - 2
      val seen = new java.util.HashSet[String](n * 2)
      var i = 0
      while (i < n) {
        seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
        i += 1
      }
      1.0 - seen.size.toDouble / n
    }
  }

  /** Positional polynomial rolling-hash fingerprint over the token stream:
    * fold `acc = (acc*31 + h31(token)) mod 1e9+7` — order-sensitive, so
    * reordered documents get different fingerprints (unlike the word-set
    * hash in ExactDedup).
    */
  val FpMod = 1000000007L
  def fingerprint(textColName: String): Column =
    expr(
      s"""aggregate(
         |  transform(filter(split(lower($textColName), '[^a-z0-9]+'), t -> length(t) > 0),
         |            s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % 2147483647),
         |  cast(0 as bigint), (acc, h) -> (acc * 31 + h) % $FpMod)""".stripMargin)
}
