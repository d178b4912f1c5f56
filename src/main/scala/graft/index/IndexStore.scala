package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet-backed chunk store (the Qdrant-collection analog, SURVEY.md
  * §7.1).
  *
  * Layout: `{root}/chunks` partitioned by `chunkType` — the progressive-
  * disclosure partition column (metadata searched first ⇒ partition pruning
  * skips implementation/relation files entirely, the reference's "90% speed
  * boost" re-expressed as storage layout); `{root}/file_state` drives
  * incremental diffs.
  *
  * Versions: data files are immutable once written. A writer stages its
  * files with Spark, moves them into their table directory and [[commit]]s
  * `{root}/_log/<v>`, the store-relative paths of every live file, one per
  * line. Reads resolve the newest entry and read exactly the files it
  * lists, so a crash at any step leaves the whole old version or the whole
  * new one, and a store with no `_log` reads as absent. Writers race
  * optimistically ([[update]]), the shape of the Delta Lake log (Armbrust
  * et al., VLDB 2020); on a cluster deployment the same pipeline writes
  * `MERGE INTO` keyed on the deterministic `pointId` (idempotent upsert,
  * reference storage/qdrant.py:1423-1430).
  */
object IndexStore {

  /** Log entries [[vacuum]] keeps; files only older entries list go. */
  val RetainedVersions = 10
  /** Replays of a writer that keeps losing the commit race. */
  val MaxReplays = 8

  /** One committed version; version 0 with no files is the absent store. */
  case class Snapshot(root: String, version: Long, files: Seq[String]) {
    def chunkFiles: Seq[String] = files.filter(_.startsWith("chunks/"))
    def stateFiles: Seq[String] = files.filter(_.startsWith("file_state/"))
    def partition(pt: String): Seq[String] = files.filter(_.startsWith(s"chunks/chunkType=$pt/"))
    def exists: Boolean = chunkFiles.nonEmpty
    def chunks(spark: SparkSession, fs: Seq[String] = chunkFiles): DataFrame = read(spark, "chunks", fs)
    def state(spark: SparkSession): Option[DataFrame] =
      if (stateFiles.isEmpty) None else Some(read(spark, "file_state", stateFiles))
    /** The table directory narrowed to `fs` by their unique names: one
      * listing, where over 32 paths would start a Spark job to list them.
      * The schema is given, so the read starts no job to infer it.
      */
    private def read(spark: SparkSession, table: String, fs: Seq[String]): DataFrame = {
      val reader = spark.read.option("pathGlobFilter", fs.map(f => f.substring(f.lastIndexOf('/') + 1))
        .mkString("{", ",", "}"))
      fs.headOption.fold(reader)(f => reader.schema(fileSchema(spark, s"$root/$f", table == "chunks")))
        .parquet(s"$root/$table")
    }
  }

  /** Schemas by data file, least recently read out first: a name is never
    * reused, so an entry never goes stale.
    */
  private val schemas = new graft.search.SearchCache[String, StructType](4096)

  /** The schema Spark wrote into `path`'s footer, read on the driver, plus
    * the `chunkType` partition column (last, where inference puts it) for a
    * chunk file.
    */
  private def fileSchema(spark: SparkSession, path: String, chunk: Boolean): StructType =
    schemas.getOrElseUpdate(path) {
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
      val written = try DataType.fromJson(in.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
      finally in.close()
      if (chunk) written.add("chunkType", StringType) else written
    }

  private def logDir(root: String): Path = Paths.get(root, "_log")

  private def versions(root: String): Vector[Long] =
    walk(logDir(root), 1).flatMap(_.getFileName.toString.toLongOption).sorted

  def version(root: String): Long = versions(root).lastOption.getOrElse(0L)

  private def entry(root: String, v: Long): Vector[String] =
    Files.readAllLines(logDir(root).resolve(v.toString), UTF_8).asScala.toVector.filter(_.nonEmpty)

  def snapshot(root: String): Snapshot = {
    val v = version(root)
    // an entry vacuumed between the listing and the read: resolve again
    try Snapshot(root, v, if (v == 0L) Vector.empty else entry(root, v))
    catch { case _: NoSuchFileException => snapshot(root) }
  }

  def readChunks(spark: SparkSession, root: String): DataFrame = snapshot(root).chunks(spark)

  /** `p` and what lies under it, `depth` levels down; empty when absent. */
  private def walk(p: Path, depth: Int = Int.MaxValue): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else {
      val w = Files.walk(p, depth) // must be closed: each walk holds open DirectoryStreams
      try w.iterator().asScala.toVector finally w.close()
    }

  private def deleteRecursive(p: Path): Unit = walk(p).reverse.foreach(f => Files.deleteIfExists(f))

  /** Write `df` into a fresh `_staging/<uuid>` (appending into the table
    * would make concurrent jobs share `_temporary/0`) and move its parquet
    * files into `table` under fresh names: unique across partitions too, as
    * [[Snapshot]] reads filter by name. Returns their store-relative paths.
    */
  private def stage(df: DataFrame, root: String, table: String, partitionCols: String*): Seq[String] = {
    val staging = Paths.get(root, "_staging", UUID.randomUUID().toString)
    df.write.partitionBy(partitionCols: _*).parquet(staging.toString)
    val moved = walk(staging).filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val rel = s"$table/${staging.relativize(f).resolveSibling(s"part-${UUID.randomUUID()}.parquet")}"
      val dst = Paths.get(root, rel)
      Files.createDirectories(dst.getParent)
      Files.move(f, dst)
      val crc = f.resolveSibling(s".${f.getFileName}.crc") // its checksum moves along
      if (Files.exists(crc)) Files.move(crc, dst.resolveSibling(s".${dst.getFileName}.crc"))
      rel
    }
    deleteRecursive(staging)
    moved
  }

  def writeChunks(df: DataFrame, root: String): Seq[String] = stage(df, root, "chunks", "chunkType")

  def writeState(df: DataFrame, root: String): Seq[String] = stage(df, root, "file_state")

  /** The one write to `_log`: publish `files` as version `v`. The list is
    * written whole to a staging file and linked in as `_log/<v>`; the link
    * fails when the entry exists, so exactly one writer wins `v`, and no
    * reader sees a half-written entry (one created in place would be
    * empty between its create and its write). False when `v` was taken.
    */
  private[index] def commit(root: String, v: Long, files: Seq[String]): Boolean = {
    val tmp = Paths.get(root, "_staging", s"${UUID.randomUUID()}.log")
    Files.createDirectories(tmp.getParent)
    Files.createDirectories(logDir(root))
    Files.write(tmp, files.map(_ + "\n").mkString.getBytes(UTF_8), StandardOpenOption.CREATE_NEW)
    try { Files.createLink(logDir(root).resolve(v.toString), tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Optimistic concurrency: run `body` against the newest version and
    * commit the file list it returns (`None` commits nothing) as the next
    * one. A writer that loses the race deletes the files it added and
    * replays against the new newest version, at most [[MaxReplays]] times.
    */
  def update[A](root: String)(body: Snapshot => (Option[Seq[String]], A)): A = {
    @annotation.tailrec def attempt(n: Int): A = {
      val base = snapshot(root)
      body(base) match {
        case (None, out) => out
        // a failed vacuum only leaves garbage for the next one
        case (Some(files), out) if commit(root, base.version + 1, files) => Try(vacuum(root)); out
        case (Some(files), _) =>
          files.diff(base.files).foreach(f => Files.deleteIfExists(Paths.get(root, f)))
          if (n >= MaxReplays) throw new java.util.ConcurrentModificationException(
            s"$root: lost the commit race ${n + 1} times")
          attempt(n + 1)
      }
    }
    attempt(0)
  }

  /** Keep the newest [[RetainedVersions]] entries. A data file or staging
    * directory goes only when no kept entry lists it AND it is older than
    * the oldest kept entry: a writer whose uncommitted files that could
    * touch pinned a base at most newest − K, so its commit conflicts anyway.
    */
  private def vacuum(root: String): Unit = {
    val vs = versions(root)
    val (old, kept) = vs.splitAt(vs.size - RetainedVersions)
    old.foreach(v => Files.deleteIfExists(logDir(root).resolve(v.toString)))
    val cutoff = Files.getLastModifiedTime(logDir(root).resolve(kept.head.toString))
    val live = kept.flatMap(entry(root, _)).toSet
    def stale(p: Path) = walk(p).map(Files.getLastModifiedTime(_)).max.compareTo(cutoff) < 0
    // a data file `<n>`, or its checksum `.<n>.crc`, that no kept entry lists
    def unlisted(f: Path) = !live(Paths.get(root).relativize(
      f.resolveSibling(f.getFileName.toString.stripPrefix(".").stripSuffix(".crc"))).toString)
    Seq("chunks", "file_state").flatMap(t => walk(Paths.get(root, t)))
      .filter(f => Files.isRegularFile(f) && unlisted(f) && stale(f)).foreach(f => Files.deleteIfExists(f))
    walk(Paths.get(root, "_staging"), 1).drop(1).filter(stale).foreach(deleteRecursive)
  }

  /** Small-file compaction — the q69 bin-packing plan EXECUTED: rewrite
    * the live chunk files (task-sized upsert files decay scans into
    * open-file overhead) as ceil(totalBytes / targetBytes) files, each a
    * `repartitionByRange(chunkType, chunkId)` slice of one partition.
    * Returns the live version's chunk-file counts (before, after).
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long = 128L << 20): (Int, Int) =
    update(root) { snap =>
      val before = snap.chunkFiles
      val total = before.map(f => Files.size(Paths.get(root, f))).sum
      val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      // absent store, or already at (or under) the target layout: no rewrite
      if (before.size <= nOut) (None, (before.size, before.size))
      else {
        val after = writeChunks(snap.chunks(spark)
          .repartitionByRange(nOut, col("chunkType"), col("chunkId")), root)
        (Some(after ++ snap.stateFiles), (before.size, after.size))
      }
    }
}
