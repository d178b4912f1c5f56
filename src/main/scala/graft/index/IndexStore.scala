package graft.index

import java.nio.file.{Files, Path, Paths}
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed chunk store (the Qdrant-collection analog, SURVEY.md
  * §7.1).
  *
  * Layout: `{root}/chunks` partitioned by `chunkType` — the progressive-
  * disclosure partition column (metadata searched first ⇒ partition pruning
  * skips implementation/relation files entirely, the reference's "90% speed
  * boost" re-expressed as storage layout); `{root}/file_state` drives
  * incremental diffs.
  *
  * Writes are copy-on-write table swaps (write `_tmp`, atomic dir move) —
  * the parquet stand-in for a Delta MERGE; on a cluster deployment the same
  * pipeline writes `MERGE INTO` keyed on the deterministic `pointId`
  * (idempotent upsert, reference storage/qdrant.py:1423-1430).
  */
object IndexStore {

  def chunksPath(root: String) = s"$root/chunks"
  def statePath(root: String) = s"$root/file_state"

  /** Crash recovery for the two-rename swap: if a crash landed between
    * `move(path -> old)` and `move(tmp -> path)`, the data lives in
    * `<path>_old` — restore it instead of silently treating the store as
    * absent (which would full-reindex and lose manual memories).
    */
  private def recover(path: String): Unit = {
    val p = Paths.get(path); val old = Paths.get(path + "_old")
    if (!Files.exists(p) && Files.exists(old)) Files.move(old, p)
    // partition-level swap leftovers ([[replaceTypePartition]]):
    // <path>_pold_<pt> holds the previous chunkType=<pt> partition when a
    // crash hit the window between its two moves — restore it unless the
    // new partition landed.
    val parent = p.getParent
    if (parent != null && Files.exists(parent)) {
      val prefix = p.getFileName.toString + "_pold_"
      import scala.jdk.CollectionConverters._
      val l = Files.list(parent)
      try l.iterator().asScala.toVector
        .filter(_.getFileName.toString.startsWith(prefix)).foreach { o =>
          val pt = o.getFileName.toString.stripPrefix(prefix)
          val part = p.resolve(s"chunkType=$pt")
          if (!Files.exists(part)) { Files.createDirectories(p); Files.move(o, part) }
          else deleteRecursive(o)
        }
      finally l.close()
    }
  }

  def exists(root: String): Boolean = {
    recover(chunksPath(root))
    Files.exists(Paths.get(chunksPath(root)))
  }

  def readChunks(spark: SparkSession, root: String): DataFrame = {
    recover(chunksPath(root))
    spark.read.parquet(chunksPath(root))
  }

  def readState(spark: SparkSession, root: String): Option[DataFrame] = {
    recover(statePath(root))
    if (Files.exists(Paths.get(statePath(root)))) Some(spark.read.parquet(statePath(root)))
    else None
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }

  /** Copy-on-write overwrite: write to `<path>_tmp`, swap, drop old. */
  def overwrite(df: DataFrame, path: String, partitionCols: Seq[String] = Seq.empty): Unit = {
    recover(path) // heal a half-finished previous swap before reading lineage
    val tmp = path + "_tmp"
    val old = path + "_old"
    deleteRecursive(Paths.get(tmp))
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    deleteRecursive(Paths.get(old))
    if (Files.exists(Paths.get(path))) Files.move(Paths.get(path), Paths.get(old))
    Files.move(Paths.get(tmp), Paths.get(path))
    deleteRecursive(Paths.get(old))
  }

  def writeChunks(df: DataFrame, root: String): Unit = {
    Files.createDirectories(Paths.get(root))
    overwrite(df, chunksPath(root), Seq("chunkType"))
  }

  /** Partition-selective COW rewrite (guide §6): replace ONLY the
    * `chunkType=<pt>` partition of the chunk store with `df` — which must
    * NOT carry the chunkType column (partition values are directory-
    * encoded). A single-partition upsert (addManualMemory's one metadata
    * chunk) rewrites that partition's bytes instead of the whole store,
    * and the read side prunes to the same partition. Staging dirs live
    * OUTSIDE the table directory: a `chunkType=metadata_tmp` sibling
    * would register as a phantom partition value during discovery. Crash
    * recovery mirrors the table-level swap ([[recover]] heals
    * `chunks_pold_<pt>` leftovers).
    */
  def replaceTypePartition(df: DataFrame, root: String, pt: String): Unit = {
    recover(chunksPath(root))
    val part = Paths.get(chunksPath(root), s"chunkType=$pt")
    val tmp = Paths.get(chunksPath(root) + s"_ptmp_$pt")
    val old = Paths.get(chunksPath(root) + s"_pold_$pt")
    deleteRecursive(tmp)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    deleteRecursive(old)
    if (Files.exists(part)) Files.move(part, old)
    Files.createDirectories(part.getParent)
    Files.move(tmp, part)
    deleteRecursive(old)
  }

  def writeState(df: DataFrame, root: String): Unit = {
    Files.createDirectories(Paths.get(root))
    overwrite(df, statePath(root))
  }

  /** Small-file compaction for the chunk store — the q69 bin-packing plan
    * EXECUTED: rewrite the table so data files approach `targetBytes`
    * instead of mirroring upsert history (every incremental merge adds
    * task-sized files; thousands of upserts would otherwise decay scan
    * performance into open-file overhead). Output file count =
    * ceil(totalBytes / targetBytes); `repartitionByRange(chunkType,
    * chunkId)` hands each writer a contiguous slice of one partition, so
    * files land near the target and stay clustered by the progressive-
    * disclosure partition column. Same COW swap as every other write —
    * readers never see a half-compacted table. Returns (filesBefore,
    * filesAfter).
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long = 128L << 20): (Int, Int) = {
    recover(chunksPath(root))
    def parquetFiles(p: Path): Seq[Path] = {
      import scala.jdk.CollectionConverters._
      if (!Files.exists(p)) Seq.empty
      else {
        val walk = Files.walk(p) // must be closed: each walk holds open DirectoryStreams
        try walk.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).toVector
        finally walk.close()
      }
    }
    val dir = Paths.get(chunksPath(root))
    val before = parquetFiles(dir)
    if (before.isEmpty) return (0, 0) // absent/empty store: nothing to rewrite
    val total = before.map(Files.size).sum
    val nOut = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    // steady state of scheduled maintenance: already at (or under) the
    // target layout — skip the full-table rewrite entirely
    if (before.size <= nOut) return (before.size, before.size)
    val df = spark.read.parquet(chunksPath(root))
      .repartitionByRange(nOut, col("chunkType"), col("chunkId"))
    overwrite(df, chunksPath(root), Seq("chunkType"))
    (before.size, parquetFiles(dir).size)
  }

  /** Drop the incremental file_state so the NEXT index is a full pass.
    * Called by clear-collection: leaving stale state behind would make the
    * next index diff against files whose chunks were just deleted and
    * parse nothing.
    */
  def clearState(root: String): Unit = dropTable(statePath(root))

  /** Drop the chunk table: [[exists]] is false afterwards, as for a store
    * that was never written.
    */
  def dropChunks(root: String): Unit = dropTable(chunksPath(root))

  private def dropTable(path: String): Unit =
    Seq("", "_old", "_tmp").foreach(s => deleteRecursive(Paths.get(path + s)))
}
