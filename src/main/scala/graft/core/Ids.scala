package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, sha2, substring}

/** Deterministic hashing/IDs (reference: storage/qdrant.py:1423-1430 —
  * `int(sha256(chunk_id)[:16], 16)`; we take 15 hex digits = 60 bits so the
  * value is a positive signed long in every engine, and the same derivation
  * is expressible in SQL as `conv(substring(sha2(x,256),1,15),16,10)`).
  */
object Ids {

  // MessageDigest.getInstance costs an allocation + provider lookup per
  // call, and hex-formatting via String.format costs a format-parse per
  // BYTE — both show up hard in the per-token hashing loops (minhash /
  // simhash / fingerprints hash every shingle of every doc). Thread-local
  // digests + a char-table hex encoder keep the functions pure while
  // making the hot path allocation-light.
  private val md5Local = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val sha256Local = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("SHA-256"))
  private val HexChars = "0123456789abcdef".toCharArray

  private def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(2 * i) = HexChars(b >>> 4)
      out(2 * i + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Top 60 bits of a digest = the value of its first 15 hex digits
    * (16 hex chars of the first 8 big-endian bytes, low nibble dropped).
    */
  private def top60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def sha256Hex(s: String): String =
    toHex(sha256Local.get().digest(s.getBytes(StandardCharsets.UTF_8)))

  def md5Hex(s: String): String =
    toHex(md5Local.get().digest(s.getBytes(StandardCharsets.UTF_8)))

  /** 60-bit positive long from the first 15 hex chars of sha256. */
  def pointId(chunkId: String): Long =
    top60(sha256Local.get().digest(chunkId.getBytes(StandardCharsets.UTF_8)))

  /** [[pointId]] as a column expression — the same 60 bits, computed in SQL. */
  def pointId(chunkId: Column): Column =
    conv(substring(sha2(chunkId, 256), 1, 15), 16, 10).cast("bigint")

  /** 31-bit hash used by the deterministic embedder and dedup family —
    * must stay formula-identical to the SQL side
    * (`conv(substring(md5(s),1,15),16,10) % 2147483647`).
    */
  def hash31(s: String): Long =
    top60(md5Local.get().digest(s.getBytes(StandardCharsets.UTF_8))) % 2147483647L

  /** Chunk-id grammar (reference: analysis/entities.py:81-143,247-262 —
    * minus the `id(relation)` salt, which would break determinism).
    */
  def entityChunkId(filePath: String, name: String, chunkType: String): String =
    s"$filePath::$name::$chunkType"

  def relationChunkId(from: String, relType: String, to: String): String =
    s"$from::$relType::$to"
}
