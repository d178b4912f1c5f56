package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Ids

/** Embedding stage (SURVEY.md §2.3). The trait is the pluggability seam the
  * reference gets from EmbedderRegistry (embeddings/registry.py): production
  * implementations batch HTTP calls inside `mapPartitions`; the default is
  * [[DeterministicEmbedder]] — offline, reproducible, and expressed as a
  * pure column expression so embedding 100 TB of chunks is a narrow
  * codegen'd map pass with NO shuffle and no UDF boxing.
  */
trait Embedder {
  def dim: Int

  /** Adds column `dense: array<double>` computed from `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String = "dense"): DataFrame

  /** Driver-side embedding of a query string (must agree exactly with
    * [[embed]]).
    */
  def embedText(text: String): Seq[Double]
}

/** Token-budgeted request batching for remote embedders (reference:
  * embeddings/voyage.py:176-246 — 30k/120k tokens per request): splits a
  * partition's chunk stream into batches whose estimated token sum stays
  * under budget, also capping batch item count. Runs inside
  * `mapPartitions` in an HTTP embedder implementation.
  */
object EmbedBatching {

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single marks — the
    * same split rule as [[graft.functions.TextOps.bpeishTokenCount]],
    * standing in for the reference's tiktoken (embeddings/base.py:120-140).
    * A real BPE never merges ACROSS these spans; long letter spans split
    * into roughly 4-char pieces, and cl100k groups digits in runs of at
    * most THREE — so letters contribute max(1, len/4), digit runs
    * ceil(len/3), marks 1 each. Divergence vs real cl100k is bounded and
    * measured in EmbedderSpec against [[cl100kPreTokens]]: the estimator
    * tracks or exceeds the pre-token lower bound on prose and code bodies;
    * its one known blind spot is pure-whitespace runs (indentation), which
    * cl100k spends tokens on and this rule skips.
    */
  private val TokenRx = java.util.regex.Pattern.compile("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")

  private def pieceTokens(piece0: Char, len: Int): Long =
    if (piece0.isDigit) (len + 2L) / 3L // cl100k groups digits 1-3 at a time
    else math.max(1L, len / 4L)

  def estimateTokens(text: String): Long = {
    val m = TokenRx.matcher(text)
    var n = 0L
    while (m.find()) n += pieceTokens(text.charAt(m.start()), m.end() - m.start())
    math.max(1L, n)
  }

  /** cl100k_base PRE-tokenizer count (the public split pattern from the
    * tiktoken project). BPE merges never cross pre-token boundaries and
    * every pre-token encodes to >= 1 token, so this is a hard LOWER bound
    * on the true cl100k token count of any text — the yardstick the
    * estimator above is measured against (no tokenizer data needed).
    */
  private val Cl100kRx = java.util.regex.Pattern.compile(
    """(?i:'s|'t|'re|'ve|'m|'ll|'d)|[^\r\n\p{L}\p{N}]?\p{L}+|\p{N}{1,3}| ?[^\s\p{L}\p{N}]+[\r\n]*|\s*[\r\n]+|\s+(?!\S)|\s+""")

  def cl100kPreTokens(text: String): Long = {
    val m = Cl100kRx.matcher(text)
    var n = 0L
    while (m.find()) n += 1L
    n
  }

  /** Truncate at a TOKEN boundary, not a byte offset (reference:
    * embeddings/base.py:142-168): accumulate pre-tokens until the budget is
    * hit and cut at the end of the last one that fits. A text within budget
    * is returned untouched; the first pre-token is always kept so no text
    * truncates to "".
    */
  def truncateToTokens(text: String, maxTokens: Int): String = {
    val m = TokenRx.matcher(text)
    var n = 0L
    var end = 0
    var cut = false
    while (!cut && m.find()) {
      val t = pieceTokens(text.charAt(m.start()), m.end() - m.start())
      if (n + t > maxTokens && end > 0) cut = true
      else { n += t; end = m.end() }
    }
    val kept = if (cut) text.substring(0, end) else text
    // `n` is the kept prefix's estimate; it exceeds the budget only when
    // the FIRST pre-token alone was over it (one unbroken MB-scale run).
    // That case must not bypass the model's context cap: hard-cut at the
    // char equivalent — the only case where a mid-token cut is unavoidable.
    // The cut point is a UTF-16 offset: back off one char if it would land
    // mid-surrogate-pair, else the transport receives a lone surrogate
    // (malformed text after UTF-8 encoding in a real HTTP embedder).
    if (n > maxTokens) {
      var cutPos = math.min(kept.length, maxTokens * 4)
      if (cutPos > 0 && cutPos < kept.length && Character.isHighSurrogate(kept.charAt(cutPos - 1)))
        cutPos -= 1
      kept.substring(0, cutPos)
    } else kept
  }

  /** EXACT replica of the reference's no-tiktoken fallback truncation
    * (`embeddings/base.py:154-168`) — the branch the reference actually
    * runs when the tokenizer data isn't installed (this sandbox's
    * situation, see SURVEY §7.4 descope note): cap at `maxTokens * 4`
    * CHARS, back off to the last space if it lands past 80% of the cap,
    * append `"..."`. Within-cap text returns untouched (no suffix).
    * Golden-pinned in EmbedderSpec against outputs of the reference's
    * own Python code.
    */
  def truncateTextFallback(text: String, maxTokens: Int): String = {
    val maxChars = maxTokens * 4
    if (text.length <= maxChars) text
    else {
      val truncated = text.substring(0, maxChars)
      val lastSpace = truncated.lastIndexOf(' ')
      val kept =
        if (lastSpace > maxChars * 0.8) truncated.substring(0, lastSpace)
        else truncated
      kept + "..."
    }
  }

  def batchByTokenBudget(texts: Iterator[String], tokenBudget: Long,
                         maxItems: Int = 128): Iterator[Seq[String]] =
    new Iterator[Seq[String]] {
      private val it = texts.buffered
      def hasNext: Boolean = it.hasNext
      def next(): Seq[String] = {
        val batch = scala.collection.mutable.ArrayBuffer[String]()
        var tokens = 0L
        // always take at least one item, even if it alone exceeds budget
        while (it.hasNext && (batch.isEmpty ||
          (tokens + estimateTokens(it.head) <= tokenBudget && batch.length < maxItems))) {
          val t = it.next()
          tokens += estimateTokens(t)
          batch += t
        }
        batch.toSeq
      }
    }
}

/** Remote-embedder skeleton (the OpenAI/Voyage shape, SURVEY.md §2.3):
  * batches each partition's texts under a token budget, calls a pluggable
  * `transport` per batch, retries transient failures with exponential
  * backoff (reference: embeddings/base.py:171-240 — 3 retries). The
  * deterministic test transport stands in for HTTPS in this zero-egress
  * environment; swapping in a real client changes only `transport`.
  */
case class RemoteEmbedder(
    dim: Int,
    transport: Seq[String] => Seq[Seq[Double]],
    tokenBudget: Long = 30000L, // voyage-3-lite request budget (voyage.py:183-186)
    maxRetries: Int = 3,
    backoffMs: Long = 50L,
    // per-text model context cap; over-long texts are truncated at a token
    // boundary before transport (embeddings/base.py:142-168) — the STORED
    // content stays full-length, only the embedded text is cut
    maxTextTokens: Int = 8192,
    // per-request item cap alongside the token budget (voyage.py:176-246)
    maxBatchItems: Int = 128) extends Embedder {

  private def callWithRetry(batch: Seq[String]): Seq[Seq[Double]] = {
    var attempt = 0
    while (true) {
      try return transport(batch)
      catch {
        case e: Exception if attempt < maxRetries =>
          Thread.sleep(backoffMs << attempt) // exp backoff
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(outCol, ArrayType(DoubleType)))
    val idx = df.schema.fieldIndex(textCol)
    val rdd = df.rdd.mapPartitions { rows =>
      // stream batch-by-batch: only ONE token-budget batch of rows (and its
      // vectors) is resident at a time — buffering the whole partition would
      // defeat the batching at the 100 TB design point. Each text is
      // boundary-truncated ONCE here; the budget counts the truncated form
      // (what the transport actually sends).
      val src = rows.map { r =>
        (r, EmbedBatching.truncateToTokens(r.getString(idx), maxTextTokens))
      }.buffered // NB: do not name this `buffered` — it would be shadowed by Iterator#buffered inside the anonymous class
      new Iterator[Seq[Row]] {
        def hasNext: Boolean = src.hasNext
        def next(): Seq[Row] = {
          val batch = scala.collection.mutable.ArrayBuffer[Row]()
          val texts = scala.collection.mutable.ArrayBuffer[String]()
          var tokens = 0L
          while (src.hasNext && (batch.isEmpty ||
            (batch.length < maxBatchItems &&
              tokens + EmbedBatching.estimateTokens(src.head._2) <= tokenBudget))) {
            val (r, t) = src.next()
            tokens += EmbedBatching.estimateTokens(t)
            batch += r
            texts += t
          }
          val vs = callWithRetry(texts.toSeq)
          // a silent zip over a short response would DROP rows from the
          // index (reference does post-write count verification,
          // storage/qdrant.py:614-662 — fail loudly instead)
          require(vs.length == batch.length,
            s"embedder transport returned ${vs.length} vectors for ${batch.length} texts")
          batch.zip(vs).map { case (r, v) => Row.fromSeq(r.toSeq :+ v) }.toSeq
        }
      }.flatten
    }
    spark.createDataFrame(rdd, outSchema)
  }

  override def embedText(text: String): Seq[Double] =
    callWithRetry(Seq(EmbedBatching.truncateToTokens(text, maxTextTokens))).head
}

/** Deterministic hash embedder (the engine-native analog of the reference
  * test fixture DummyEmbedder, tests/conftest.py:241-270 — but seeded by a
  * salted md5 instead of Python's salted `hash()`, so values are stable
  * across processes AND reproducible in plain SQL):
  *
  *   v_d(text) = ((md5_31(text || ':' || d) mod 2001) - 1000) / 1000.0
  *
  * Distinct texts give near-orthogonal vectors; identical text gives the
  * identical vector (so content-hash dedup ≡ embedding cache).
  */
case class DeterministicEmbedder(dim: Int = 64) extends Embedder {

  override def embed(df: DataFrame, textCol: String, outCol: String): DataFrame =
    // one incremental-md5 codegen expression instead of the old
    // transform(sequence(...)) HOF, which re-hashed the full text once per
    // dimension through an interpreted lambda (+ hex format / substring /
    // conv parse per element). Bit-identical values — see
    // [[org.apache.spark.sql.graftx.DeterministicEmbed]].
    df.withColumn(outCol,
      org.apache.spark.sql.graftx.DeterministicEmbed.asColumn(col(textCol), dim))

  override def embedText(text: String): Seq[Double] =
    (0 until dim).map { d =>
      ((Ids.hash31(s"$text:$d") % 2001L) - 1000L) / 1000.0
    }
}
