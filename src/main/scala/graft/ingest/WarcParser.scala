package graft.ingest

import java.util.Locale
import scala.collection.mutable.ArrayBuffer

/** WARC (ISO 28500 / Common Crawl) container parsing — the standard
  * ingestion format for web-crawl training corpora. A WARC file is a
  * sequence of records: a `WARC/1.x` version line, CRLF-separated named
  * headers, a blank line, `Content-Length` bytes of payload, and a
  * trailing blank pair. `response` records wrap a full HTTP response, so
  * the usable document text needs a second header/body split inside the
  * payload.
  *
  * Pure byte walking over in-memory record bytes (the per-file unit Spark
  * hands a `binaryFile` scan or a `mapPartitions` over (path, bytes)); no
  * codec, no dependency. Malformed records are skipped, not thrown — a
  * 100 TB crawl always contains garbage, and one bad record must not kill
  * a partition.
  */
object WarcParser {

  case class WarcRecord(
      recordType: String, // warcinfo | request | response | metadata | ...
      targetUri: String,
      date: String,
      contentType: String,
      payload: Array[Byte])

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Index of the next CRLF at/after `from`, or -1. */
  private def crlfAt(bytes: Array[Byte], from: Int): Int = {
    var i = from
    while (i < bytes.length - 1) {
      if (bytes(i) == Crlf(0) && bytes(i + 1) == Crlf(1)) return i
      i += 1
    }
    -1
  }

  private val Marker = "WARC/".getBytes("US-ASCII")

  /** Index of the next `WARC/` at the start of a line (file start or
    * right after a CRLF), at/after `from`; -1 when none. The resync
    * point after a malformed record: best-effort — a payload that itself
    * contains a line starting `WARC/` can false-trigger, but the header
    * walk then rejects it and the scan moves on.
    */
  private def nextRecordStart(bytes: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    while (i + Marker.length <= bytes.length) {
      if (bytes(i) == Marker(0) &&
        (i == 0 || (i >= 2 && bytes(i - 2) == Crlf(0) && bytes(i - 1) == Crlf(1)))) {
        var j = 1
        while (j < Marker.length && bytes(i + j) == Marker(j)) j += 1
        if (j == Marker.length) return i
      }
      i += 1
    }
    -1
  }

  /** Decompress a `.warc.gz` in Common Crawl's layout: each record is its
    * own gzip MEMBER, concatenated — the property that makes a crawl shard
    * streamable record-by-record without decompressing the whole file.
    * `GZIPInputStream` consumes ALL concatenated members (it resumes on
    * the next member header after each stream end), so one pass yields the
    * plain-WARC byte run that [[parse]] walks. Truncated/garbage tails
    * return the bytes decoded so far — same skip-don't-throw policy as
    * [[parse]].
    */
  def gunzipMembers(gz: Array[Byte]): Array[Byte] = {
    // size hint only — computed in Long and capped so a GB-scale shard
    // (Common Crawl's actual size) can't overflow Int and throw before
    // the keep-prefix try below even starts
    val hint = math.max(64L, math.min(gz.length.toLong * 4, 1L << 26)).toInt
    val out = new java.io.ByteArrayOutputStream(hint)
    val buf = new Array[Byte](64 * 1024)
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gz), buf.length)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      in.close()
    } catch { case _: java.io.IOException => /* truncated tail: keep prefix */ }
    out.toByteArray
  }

  /** Gzip each record as its own member (the Common Crawl shard layout
    * [[gunzipMembers]] expects) — the encoder twin for round-trip tests.
    */
  def encodeGz(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(encode(Seq(r)))
      // close(), not finish(): close ends the member AND releases the
      // native Deflater (finish leaks one per record until finalization);
      // the underlying ByteArrayOutputStream's close is a no-op
      gz.close()
    }
    out.toByteArray
  }

  /** Parse every well-formed record in a WARC payload. A malformed record
    * (bad version line, unterminated headers, missing/oversized
    * Content-Length) is SKIPPED by resyncing to the next line that starts
    * `WARC/` — well-formed records after garbage still parse, so one bad
    * record costs one record, not the partition's whole file tail. Only a
    * truncated final record (declared length past EOF, no later marker)
    * ends the scan.
    */
  def parse(bytes: Array[Byte]): Seq[WarcRecord] = {
    val out = ArrayBuffer[WarcRecord]()
    var pos = 0
    // resync after a malformed record: jump past the bad marker, find the
    // next line-start `WARC/`; -1 (no further marker) ends the scan
    def resync(after: Int): Int = nextRecordStart(bytes, after)
    while (pos >= 0 && pos < bytes.length) {
      // skip inter-record blank lines
      while (pos + 1 < bytes.length && bytes(pos) == Crlf(0) && bytes(pos + 1) == Crlf(1))
        pos += 2
      if (pos >= bytes.length) pos = -1
      else {
        val verEnd = crlfAt(bytes, pos)
        val version =
          if (verEnd < 0) "" else new String(bytes, pos, verEnd - pos, "US-ASCII")
        if (!version.startsWith("WARC/")) pos = resync(pos + 1)
        else {
          // named headers until the blank line
          var hPos = verEnd + 2
          var headers = Map.empty[String, String]
          var blank = false
          var wellFormed = true
          while (wellFormed && !blank) {
            val he = crlfAt(bytes, hPos)
            if (he < 0) wellFormed = false
            else if (he == hPos) { blank = true; hPos += 2 }
            else {
              val line = new String(bytes, hPos, he - hPos, "US-ASCII")
              val ci = line.indexOf(':')
              if (ci > 0)
                headers += (line.substring(0, ci).trim.toLowerCase(Locale.ROOT) ->
                  line.substring(ci + 1).trim)
              hPos = he + 2
            }
          }
          val len = headers.get("content-length").flatMap(_.toLongOption)
          if (!wellFormed || len.isEmpty || hPos + len.get > bytes.length)
            pos = resync(pos + 1)
          else {
            out += WarcRecord(
              headers.getOrElse("warc-type", ""),
              headers.getOrElse("warc-target-uri", ""),
              headers.getOrElse("warc-date", ""),
              headers.getOrElse("content-type", ""),
              java.util.Arrays.copyOfRange(bytes, hPos, hPos + len.get.toInt))
            pos = hPos + len.get.toInt
          }
        }
      }
    }
    out.toSeq
  }

  /** The body of an HTTP response payload (a `response` record's content):
    * everything after the first blank line. None when no header/body split
    * exists (truncated or non-HTTP payload).
    */
  def httpBody(payload: Array[Byte]): Option[Array[Byte]] = {
    var i = 0
    while (i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n')
        return Some(java.util.Arrays.copyOfRange(payload, i + 4, payload.length))
      i += 1
    }
    None
  }

  /** Encode records as a well-formed WARC payload (the inverse of
    * [[parse]]; deterministic bytes — the gate generator).
    */
  def encode(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    records.foreach { r =>
      w("WARC/1.0\r\n")
      w(s"WARC-Type: ${r.recordType}\r\n")
      if (r.targetUri.nonEmpty) w(s"WARC-Target-URI: ${r.targetUri}\r\n")
      if (r.date.nonEmpty) w(s"WARC-Date: ${r.date}\r\n")
      if (r.contentType.nonEmpty) w(s"Content-Type: ${r.contentType}\r\n")
      w(s"Content-Length: ${r.payload.length}\r\n")
      w("\r\n")
      out.write(r.payload)
      w("\r\n\r\n")
    }
    out.toByteArray
  }
}
