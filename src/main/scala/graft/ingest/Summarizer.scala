package graft.ingest

/** Per-session summary produced by a [[Summarizer]]: a prose summary plus
  * key topics (reference: chat/summarizer.py:208-280 — the GPT response is
  * parsed into exactly these two parts).
  */
case class SessionSummary(summary: String, topics: Seq[String])

/** Pluggable conversation-summarization stage (reference:
  * chat/summarizer.py:208-403). The production implementation is an LLM
  * call batched inside `mapPartitions` — the same seam as
  * [[graft.index.RemoteEmbedder]]: swapping in an HTTP client changes only
  * `summarize`, never the pipeline shape. No LLM runs in this zero-egress
  * environment, so the default is [[DeterministicSummarizer]].
  */
trait Summarizer extends Serializable {
  def summarize(sessionId: String, transcript: String): SessionSummary
}

/** Extractive, RNG-free summarizer: the leading `summaryChars` characters
  * of the transcript as the summary, and the `topicCount` most frequent
  * tokens (length > 3, non-stopword) as topics, ordered by count desc then
  * token asc. Every step is SQL-expressible, so the whole stage is
  * oracle-checkable (q44) — the same role DeterministicEmbedder plays for
  * the embed stage.
  */
case class DeterministicSummarizer(summaryChars: Int = 200, topicCount: Int = 3)
    extends Summarizer {

  override def summarize(sessionId: String, transcript: String): SessionSummary = {
    val toks = graft.functions.TextOps.wordsScala(transcript)
      .filter(t => t.length > 3 && !DeterministicSummarizer.Stopwords.contains(t))
    val topics = toks.groupBy(identity).map { case (t, g) => (t, g.length) }.toSeq
      .sortBy { case (t, n) => (-n, t) }
      .take(topicCount).map(_._1)
    SessionSummary(transcript.take(summaryChars), topics)
  }
}

object DeterministicSummarizer {
  /** Shared with the q44 oracle SQL (generated from this list, so the two
    * can't drift).
    */
  val Stopwords: Seq[String] = Seq(
    "this", "that", "with", "from", "have", "will", "your", "what", "when",
    "then", "they", "them", "there", "their", "would", "could", "should",
    "about", "which", "into", "been", "were", "some", "than", "only", "over",
    "such", "other", "more", "most", "also", "after", "before", "because",
    "while", "where")
}
