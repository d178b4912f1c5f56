package graft.index

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Crash states of the copy-on-write swaps, faked on disk: each rename
  * window of the table-level swap (`<path>_old`), the per-partition swap
  * (`chunks_pold_<pt>`) and the `file_state` swap. The next read must heal
  * to the whole old store or the whole new one — never a mix.
  */
class IndexStoreRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val oldRows = Set(
    ("m1", "metadata", "old meta"), ("i1", "implementation", "old impl"))
  private val newMeta = Set(("m2", "metadata", "new meta"))

  private def chunksDf(rows: Set[(String, String, String)]): DataFrame =
    rows.toSeq.toDF("chunkId", "chunkType", "content")

  private def read(root: String): Set[(String, String, String)] =
    IndexStore.readChunks(spark, root).select("chunkId", "chunkType", "content")
      .as[(String, String, String)].collect().toSet

  /** A healthy store holding `oldRows`. */
  private def store(): String = {
    val root = Files.createTempDirectory("graft_recover").toString
    IndexStore.writeChunks(chunksDf(oldRows), root)
    root
  }

  private def chunks(root: String): Path = Paths.get(IndexStore.chunksPath(root))
  private def sibling(root: String, suffix: String): Path =
    Paths.get(IndexStore.chunksPath(root) + suffix)

  test("table swap: crash after chunks -> chunks_old, before chunks_tmp -> chunks") {
    val root = store()
    chunksDf(newMeta).write.partitionBy("chunkType").parquet(sibling(root, "_tmp").toString)
    Files.move(chunks(root), sibling(root, "_old"))
    assert(read(root) == oldRows)
    assert(!Files.exists(sibling(root, "_old")))
  }

  test("partition swap: crash after the partition moved to chunks_pold_<pt>") {
    val root = store()
    val part = chunks(root).resolve("chunkType=metadata")
    chunksDf(newMeta).drop("chunkType").write.parquet(sibling(root, "_ptmp_metadata").toString)
    Files.move(part, sibling(root, "_pold_metadata"))
    assert(read(root) == oldRows, "the old partition is restored")
    assert(!Files.exists(sibling(root, "_pold_metadata")))
  }

  test("partition swap: crash after the new partition landed, before pold was dropped") {
    val root = store()
    val part = chunks(root).resolve("chunkType=metadata")
    Files.move(part, sibling(root, "_pold_metadata"))
    chunksDf(newMeta).drop("chunkType").write.parquet(part.toString)
    val healed = read(root)
    assert(healed == newMeta ++ oldRows.filter(_._2 != "metadata"), "the new partition wins")
    assert(!Files.exists(sibling(root, "_pold_metadata")), "the pold directory is deleted")
  }

  test("file_state swap: crash after file_state -> file_state_old") {
    val root = Files.createTempDirectory("graft_recover_state").toString
    IndexStore.writeState(Seq(("a.py", "h1"), ("b.py", "h2")).toDF("filePath", "hash"), root)
    Files.move(Paths.get(IndexStore.statePath(root)), Paths.get(IndexStore.statePath(root) + "_old"))
    val state = IndexStore.readState(spark, root)
    assert(state.isDefined, "file_state heals instead of reading as absent")
    assert(state.get.as[(String, String)].collect().toSet == Set(("a.py", "h1"), ("b.py", "h2")))
  }
}
