package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom Structured Streaming source for DIRECTORY WATCHING — the piece
  * Spark's built-in FileStreamSource cannot express: it only ever emits
  * newly-appeared files, while the reference's watcher (watcher/handler.py
  * on_modified/created/deleted) needs modify and delete events too.
  *
  * Design: each micro-batch, the driver snapshots the directory
  * (path → (sha256, mtime)); the diff of two consecutive snapshots IS the
  * event batch (created / modified / deleted — rename arrives naturally as
  * delete+create, matching watcher/handler.py:80-320). Snapshots persist
  * under the stream's checkpoint location, so offset ranges replay
  * deterministically across restarts — the DSv2 contract.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.streaming.FileWatchSource")
  *     .option("path", dir).load().as[WatchPipeline.FileEvent]
  * }}}
  * Schema matches [[WatchPipeline.FileEvent]]: (relPath, eventType, ts,
  * content). Content is captured at snapshot time so a file deleted before
  * the batch is read still carries its last-seen bytes.
  *
  * Scale note: the listing/diff runs on the driver (inotify-style watching
  * is inherently a driver concern); the parse/embed/merge work the events
  * trigger fans out through the normal batch pipeline. For very large
  * trees, snapshots are O(files) metadata — the same cost class as
  * FileStreamSource's file log.
  */
class FileWatchSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FileWatchSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FileWatchTable(properties.get("path"), FileWatchSource.configFromOptions(properties.get))
}

object FileWatchSource {
  val Schema: StructType = StructType(Seq(
    StructField("relPath", StringType),
    StructField("eventType", StringType),
    StructField("ts", LongType),
    StructField("content", StringType)))

  /** Source options → scan-surface config, so the WATCH surface equals the
    * BATCH scan surface (reference watcher filters events through the same
    * excludes as the indexer, watcher/handler.py:102-147). Options:
    * `includes` / `excludes` (comma-separated globs) and `maxFileSize`;
    * unset options fall back to [[graft.core.GraftConfig]] defaults.
    */
  def configFromOptions(get: String => String): graft.core.GraftConfig = {
    val base = graft.core.GraftConfig()
    def opt(k: String) = Option(get(k)).map(_.trim).filter(_.nonEmpty)
    base.copy(
      includes = opt("includes").map(_.split(",").toSeq.map(_.trim)).getOrElse(base.includes),
      excludes = opt("excludes").map(_.split(",").toSeq.map(_.trim)).getOrElse(base.excludes),
      maxFileSize = opt("maxFileSize").map(_.toLong).getOrElse(base.maxFileSize))
  }

  /** One watched file as captured in a snapshot. */
  case class Entry(relPath: String, hash: String, mtime: Long, size: Long, content: String)

  /** Directory snapshot. `prev` makes the poll O(metadata): a file whose
    * (size, mtime) is unchanged reuses the previous entry's hash+content
    * instead of being re-read — so an idle poll costs one listing, not a
    * full-corpus read+hash (the FileStreamSource file-log cost class).
    *
    * The listing IS the batch scan ([[graft.ingest.SourceScan.listFiles]]
    * with the same config): one walker and one compiled surface, so a
    * watch session sees exactly the files an index of the same tree would
    * list — dot directories included unless the config excludes them. A
    * missing root is an empty snapshot; a file that vanishes between the
    * listing and its read is skipped.
    */
  def snapshot(root: String, prev: Map[String, Entry] = Map.empty,
               config: graft.core.GraftConfig = graft.core.GraftConfig()): Seq[Entry] =
    if (!Files.exists(Paths.get(root))) Seq.empty
    else graft.ingest.SourceScan.listFiles(root, config).flatMap { case (rel, size, mtime) =>
      prev.get(rel) match {
        case Some(e) if e.mtime == mtime && e.size == size => Some(e)
        case _ => scala.util.Try {
          val content = new String(Files.readAllBytes(Paths.get(root, rel)), StandardCharsets.UTF_8)
          Entry(rel, graft.core.Ids.sha256Hex(content), mtime, size, content)
        }.toOption // racing delete: skip
      }
    }

  /** created/modified/deleted events turning `from` into `to`, as METADATA
    * (relPath, eventType, ts, contentHash) — content is resolved from the
    * blob store by the partition reader, so diffing never touches bytes.
    */
  def diff(from: Seq[Entry], to: Seq[Entry]): Seq[(String, String, Long, String)] = {
    val fromMap = from.map(e => e.relPath -> e).toMap
    val toMap = to.map(e => e.relPath -> e).toMap
    val created = to.filterNot(e => fromMap.contains(e.relPath))
      .map(e => (e.relPath, "created", e.mtime, e.hash))
    val modified = to.filter(e => fromMap.get(e.relPath).exists(_.hash != e.hash))
      .map(e => (e.relPath, "modified", e.mtime, e.hash))
    val deleted = from.filterNot(e => toMap.contains(e.relPath))
      .map(e => (e.relPath, "deleted", e.mtime + 1, ""))
    (created ++ modified ++ deleted).sortBy(_._1)
  }
}

class FileWatchTable(path: String, config: graft.core.GraftConfig) extends Table with SupportsRead {
  override def name(): String = s"graft-watch:$path"
  override def schema(): StructType = FileWatchSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = FileWatchSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FileWatchStream(path, checkpointLocation, config)
    }
}

case class FileWatchOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Snapshot-diff micro-batch stream.
  *
  * Persistence layout under `<checkpoint>/graft-snapshots/`:
  *  - `<v>.snap`: one metadata line per file — base64(relPath), hash,
  *    mtime, size. O(files) metadata per version, never contents.
  *  - `blobs/<hash>`: file content, written once per unique content hash
  *    (content-addressed — an edited 1 KB file in a 1 GB tree persists
  *    1 KB, not the corpus). Unreferenced blobs are pruned on commit.
  * planInputPartitions(start, end) replays the exact same diff after a
  * restart; the partition reader resolves event content from the blobs.
  */
class FileWatchStream(path: String, checkpointLocation: String,
                      config: graft.core.GraftConfig = graft.core.GraftConfig())
  extends MicroBatchStream {
  import FileWatchSource._

  // checkpointLocation may arrive as a URI string ("file:/tmp/...") —
  // Paths.get on that would create a literal "file:" directory under CWD
  private val snapDir: Path = {
    val base =
      if (checkpointLocation.contains(":")) Paths.get(new java.net.URI(checkpointLocation))
      else Paths.get(checkpointLocation)
    base.resolve("graft-snapshots")
  }
  private val blobDir: Path = snapDir.resolve("blobs")
  Files.createDirectories(blobDir)

  private def snapFile(v: Long): Path = snapDir.resolve(s"$v.snap")

  private def writeSnap(v: Long, s: Seq[Entry]): Unit = {
    s.foreach { e =>
      val blob = blobDir.resolve(e.hash)
      // content may be "" for entries reused from the previous snapshot —
      // their blob is already on disk from the version that captured them
      if (e.content.nonEmpty && !Files.exists(blob))
        Files.write(blob, e.content.getBytes(StandardCharsets.UTF_8))
    }
    val enc = s.map { e =>
      // relPath is base64-coded: tabs/newlines are legal in file names and
      // would corrupt a delimited record
      val rel = java.util.Base64.getEncoder.encodeToString(e.relPath.getBytes(StandardCharsets.UTF_8))
      s"$rel\t${e.hash}\t${e.mtime}\t${e.size}"
    }.mkString("\n")
    Files.write(snapFile(v), enc.getBytes(StandardCharsets.UTF_8))
  }

  /** Metadata only — content stays in the blob store. */
  private def readSnap(v: Long): Seq[Entry] = {
    val f = snapFile(v)
    if (!Files.exists(f)) return Seq.empty
    new String(Files.readAllBytes(f), StandardCharsets.UTF_8).split("\n", -1).toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(rel, hash, mtime, size) = line.split("\t", 4)
        Entry(new String(java.util.Base64.getDecoder.decode(rel), StandardCharsets.UTF_8),
          hash, mtime.toLong, size.toLong, "")
      }
  }

  private def readBlob(hash: String): String = {
    val f = blobDir.resolve(hash)
    if (Files.exists(f)) new String(Files.readAllBytes(f), StandardCharsets.UTF_8) else ""
  }

  private def latestVersion: Long = {
    val list = Files.list(snapDir)
    try list.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".snap"))
      .map(_.stripSuffix(".snap").toLong).foldLeft(-1L)(math.max)
    finally list.close()
  }

  /** Take the no-event baseline snapshot if none exists yet. Spark may
    * call latestOffset BEFORE initialOffset on a fresh stream, so BOTH
    * entry points establish the baseline — otherwise the first poll would
    * diff against an empty snapshot and emit every pre-existing file as
    * "created".
    */
  private def ensureBaseline(): Unit =
    if (latestVersion < 0) writeSnap(0, snapshot(path, Map.empty, config))

  override def initialOffset(): Offset = {
    ensureBaseline()
    // ALWAYS version 0: initialOffset is only consulted when the offset WAL
    // is empty, and snapshots newer than 0 can then only exist from a crash
    // between snapshot write and WAL write — starting at 0 replays their
    // events instead of silently dropping them
    FileWatchOffset(0)
  }

  override def latestOffset(): Offset = {
    ensureBaseline()
    val v = latestVersion
    val prev = readSnap(v)
    val current = snapshot(path, prev.map(e => e.relPath -> e).toMap, config)
    if (diff(prev, current).nonEmpty) { writeSnap(v + 1, current); FileWatchOffset(v + 1) }
    else {
      // content-identical but metadata moved (touch, rewrite-same-bytes):
      // refresh the snapshot in place — cheap, and without it every later
      // poll would re-read and re-hash the touched file against the stale
      // mtime forever
      val prevMeta = prev.map(e => e.relPath -> (e.mtime, e.size)).toMap
      if (current.exists(e => prevMeta.get(e.relPath).exists(_ != ((e.mtime, e.size)))))
        writeSnap(v, current)
      FileWatchOffset(v)
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val v = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L)
    FileWatchOffset(v)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileWatchOffset].version
    val e = end.asInstanceOf[FileWatchOffset].version
    if (e <= s) return Array.empty
    // coalesce across intermediate versions: diff endpoint snapshots;
    // resolve content from the blob store (deleted events carry none)
    val events = diff(readSnap(s), readSnap(e))
      .map { case (rel, typ, ts, hash) =>
        (rel, typ, ts, if (typ == "deleted") "" else readBlob(hash))
      }.toArray
    if (events.isEmpty) Array.empty else Array(FileWatchPartition(events))
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val events = partition.asInstanceOf[FileWatchPartition].events
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < events.length }
        override def get(): InternalRow = {
          val (rel, typ, ts, content) = events(i)
          InternalRow(UTF8String.fromString(rel), UTF8String.fromString(typ),
            ts, UTF8String.fromString(content))
        }
        override def close(): Unit = ()
      }
    }
  }

  override def commit(end: Offset): Unit = {
    // retain the committed snapshot and newer; older versions are no
    // longer needed for replay. Blobs referenced by no retained snapshot
    // are pruned with them.
    val keep = end.asInstanceOf[FileWatchOffset].version
    val list = Files.list(snapDir)
    val files = try list.iterator().asScala.toSeq finally list.close()
    files.foreach { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".snap") && name.stripSuffix(".snap").toLong < keep)
        try Files.delete(f) catch { case _: Exception => () }
    }
    val retained = {
      val list2 = Files.list(snapDir)
      val names = try list2.iterator().asScala.map(_.getFileName.toString).toSeq finally list2.close()
      names.filter(_.endsWith(".snap")).map(_.stripSuffix(".snap").toLong)
    }
    val live = retained.flatMap(v => readSnap(v).map(_.hash)).toSet
    val blobs = Files.list(blobDir)
    val blobFiles = try blobs.iterator().asScala.toSeq finally blobs.close()
    blobFiles.foreach { b =>
      if (!live.contains(b.getFileName.toString))
        try Files.delete(b) catch { case _: Exception => () }
    }
  }

  override def stop(): Unit = ()
}

case class FileWatchPartition(events: Array[(String, String, Long, String)]) extends InputPartition
