package graft.index

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.api.GraftEngine

/** The versioned commit: its two crash points (data files moved but no
  * log entry; log entry written before the clean-up) must each read as the
  * whole old store or the whole new one, two writers over one base must
  * both land, and vacuum must keep what a kept version or an in-flight
  * writer still needs.
  */
class IndexStoreRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val oldRows = Set(
    ("m1", "metadata", "old meta"), ("i1", "implementation", "old impl"))
  private val newMeta = Set(("m2", "metadata", "new meta"))
  private val oldState = Set(("a.py", "h1"), ("b.py", "h2"))

  private def chunksDf(rows: Set[(String, String, String)]): DataFrame =
    rows.toSeq.toDF("chunkId", "chunkType", "content")

  private def read(root: String): Set[(String, String, String)] =
    IndexStore.readChunks(spark, root).select("chunkId", "chunkType", "content")
      .as[(String, String, String)].collect().toSet

  private def state(root: String): Set[(String, String)] =
    IndexStore.snapshot(root).state(spark).get.as[(String, String)].collect().toSet

  /** A store whose one version holds `oldRows` and `oldState`. */
  private def store(): String = {
    val root = Files.createTempDirectory("graft_commit").toString
    IndexStore.update(root)(_ => (Some(IndexStore.writeChunks(chunksDf(oldRows), root) ++
      IndexStore.writeState(oldState.toSeq.toDF("filePath", "hash"), root)), ()))
    root
  }

  /** Replace the metadata files of the newest version with `rows`. */
  private def replaceMeta(root: String, rows: Set[(String, String, String)]): Unit =
    IndexStore.update(root) { snap =>
      (Some(snap.files.diff(snap.partition("metadata")) ++ IndexStore.writeChunks(chunksDf(rows), root)), ())
    }

  private def tree(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_commit_tree")
    files.foreach { case (rel, src) => Files.writeString(dir.resolve(rel), src) }
    dir.toString
  }

  private def metaNames(root: String): Set[String] =
    IndexStore.readChunks(spark, root).filter(col("chunkType") === "metadata")
      .select("entityName").as[String].collect().toSet

  test("commit crash: data files moved, no log entry -> the whole old store") {
    val root = store()
    val before = IndexStore.snapshot(root)
    val moved = IndexStore.writeChunks(chunksDf(newMeta), root) ++
      IndexStore.writeState(Seq(("c.py", "h3")).toDF("filePath", "hash"), root)
    assert(moved.forall(f => Files.exists(Paths.get(root, f))))
    assert(IndexStore.snapshot(root) == before)
    assert(read(root) == oldRows)
    assert(state(root) == oldState)
  }

  test("commit crash: log entry written, clean-up not run -> the whole new store") {
    val root = store()
    val base = IndexStore.snapshot(root)
    val files = base.files.diff(base.partition("metadata")) ++ IndexStore.writeChunks(chunksDf(newMeta), root)
    // a half-finished write of another writer and a leftover entry source
    Files.createDirectories(Paths.get(root, "_staging", "crashed", "chunkType=metadata"))
    Files.writeString(Paths.get(root, "_staging", "crashed.log"), "chunks/chunkType=metadata/x.parquet\n")
    assert(IndexStore.commit(root, base.version + 1, files))
    assert(IndexStore.snapshot(root).version == base.version + 1)
    assert(read(root) == newMeta ++ oldRows.filter(_._2 != "metadata"))
    assert(state(root) == oldState)
    // the replaced metadata file is still on disk (the base version is kept)
    assert(base.partition("metadata").forall(f => Files.exists(Paths.get(root, f))))
  }

  test("clearCollection is one commit: before it the old store, after it a full re-index") {
    val src = tree("alpha.py" -> "def alpha_fn():\n    return 1\n")
    val root = Files.createTempDirectory("graft_commit_clear").toString
    val engine = GraftEngine(spark, root)
    engine.index(src)
    engine.addManualMemory("keep-note", "a manual note that survives the clear")
    val before = IndexStore.snapshot(root)
    // crash after the clear moved its manual-only chunk files, before its
    // commit: chunks and file_state still agree, so the index has no work
    IndexStore.writeChunks(engine.chunks.filter(col("filePath") === ""), root)
    assert(IndexStore.snapshot(root) == before)
    val noop = engine.index(src)
    assert(noop.mode == "incremental" && noop.filesParsed == 0)
    assert(Set("alpha_fn", "keep-note").subsetOf(metaNames(root)))
    // the commit drops the file chunks and the file_state together
    engine.clearCollection(preserveManual = true)
    assert(IndexStore.snapshot(root).stateFiles.isEmpty)
    assert(metaNames(root) == Set("keep-note"))
    val again = engine.index(src)
    assert(again.mode == "full" && again.filesParsed == 1)
    assert(Set("alpha_fn", "keep-note").subsetOf(metaNames(root)))
  }

  test("two commits over one base: one wins, the other replays against it") {
    val root = store()
    val v0 = IndexStore.snapshot(root).version
    var attempts = Vector.empty[(Long, Seq[String])]
    IndexStore.update(root) { snap =>
      val mine = IndexStore.writeChunks(chunksDf(Set(("a1", "implementation", "A"))), root)
      attempts :+= (snap.version -> mine)
      // first attempt: a second writer commits over the same base first
      if (attempts.size == 1) IndexStore.update(root)(s =>
        (Some(s.files ++ IndexStore.writeChunks(chunksDf(Set(("b1", "implementation", "B"))), root)), ()))
      (Some(snap.files ++ mine), ())
    }
    assert(attempts.map(_._1) == Vector(v0, v0 + 1))
    assert(IndexStore.snapshot(root).version == v0 + 2)
    assert(read(root) == oldRows ++ Set(("a1", "implementation", "A"), ("b1", "implementation", "B")))
    assert(attempts(0)._2.forall(f => !Files.exists(Paths.get(root, f))), "the loser deletes its files")
  }

  test("a writer that keeps losing the race gives up after MaxReplays replays") {
    val root = store()
    var runs = 0
    intercept[java.util.ConcurrentModificationException] {
      IndexStore.update(root) { snap =>
        runs += 1
        IndexStore.update(root)(s => (Some(s.files), ())) // always first
        (Some(snap.files), ())
      }
    }
    assert(runs == IndexStore.MaxReplays + 1)
    assert(read(root) == oldRows)
  }

  test("vacuum keeps K versions; an unlisted file goes only once older than the oldest kept") {
    val root = store()
    val first = IndexStore.snapshot(root).partition("metadata")
    val abandoned = IndexStore.writeChunks(chunksDf(Set(("x1", "metadata", "x"))), root)
    (1 to 5).foreach(i => replaceMeta(root, Set((s"m$i", "metadata", s"meta $i"))))
    // written after versions 2..6: an in-flight writer's files
    val inFlight = IndexStore.writeChunks(chunksDf(Set(("y1", "metadata", "y"))), root)
    (6 to IndexStore.RetainedVersions + 1).foreach(i => replaceMeta(root, Set((s"m$i", "metadata", s"meta $i"))))
    val snap = IndexStore.snapshot(root)
    val log = Files.list(Paths.get(root, "_log"))
    try assert(log.count() == IndexStore.RetainedVersions) finally log.close()
    assert(snap.files.forall(f => Files.exists(Paths.get(root, f))))
    assert((first ++ abandoned).forall(f => !Files.exists(Paths.get(root, f))))
    assert(inFlight.forall(f => Files.exists(Paths.get(root, f))))
    assert(read(root).map(_._1) == Set("i1", s"m${IndexStore.RetainedVersions + 1}"))
  }

  test("one commit per verb: an index and a watch batch add one entry each, a no-op none") {
    val src = tree("one.py" -> "def one_fn():\n    return 1\n")
    val root = Files.createTempDirectory("graft_commit_verbs").toString
    val engine = GraftEngine(spark, root)
    engine.index(src)
    assert(IndexStore.snapshot(root).version == 1L)
    engine.index(src)
    assert(IndexStore.snapshot(root).version == 1L)
    Files.writeString(Paths.get(src, "two.py"), "def two_fn():\n    return 2\n")
    engine.index(src)
    assert(IndexStore.snapshot(root).version == 2L)
    graft.streaming.WatchPipeline.processBatch(spark,
      Seq(graft.streaming.WatchPipeline.FileEvent("three.py", "created", 1L, "def three_fn():\n    return 3\n")).toDS(),
      root)
    assert(IndexStore.snapshot(root).version == 3L)
    assert(Set("one_fn", "two_fn", "three_fn").subsetOf(metaNames(root)))
  }

  test("an index and an addManualMemory racing on one store: both land, every round") {
    val src = tree("base.py" -> "def base_fn():\n    return 0\n")
    val root = Files.createTempDirectory("graft_commit_race").toString
    GraftEngine(spark, root).index(src)
    (1 to 3).foreach { round =>
      Files.writeString(Paths.get(src, s"r$round.py"), s"def round_${round}_fn():\n    return $round\n")
      val v = IndexStore.snapshot(root).version
      val writers = Seq(
        Future(GraftEngine(spark, root).index(src)),
        Future(GraftEngine(spark, root).addManualMemory(s"note-$round", s"round $round note")))
      writers.foreach(Await.result(_, 5.minutes))
      assert(IndexStore.snapshot(root).version == v + 2, s"round $round")
      val names = metaNames(root)
      (1 to round).foreach { r =>
        assert(names.contains(s"round_${r}_fn") && names.contains(s"note-$r"), s"round $round: $names")
      }
    }
  }
}
