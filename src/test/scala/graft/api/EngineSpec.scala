package graft.api

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end engine spec over the temp_repo fixture (FIXTURES.md §1;
  * reference: tests/conftest.py:45-103): index → search → graph reads →
  * incremental → delete cascade.
  */
class EngineSpec extends SparkSpec {
  import EngineSpec.writeFixture

  private val root = Files.createTempDirectory("graft_repo").toString
  private val store = Files.createTempDirectory("graft_store").toString
  private lazy val engine = GraftEngine(spark, store)

  test("full index extracts the expected entities, relations and chunks") {
    writeFixture(root)
    val res = engine.index(root)
    assert(res.mode == "full")
    assert(res.filesScanned == 4)
    assert(res.errors.isEmpty)

    val chunks = engine.chunks
    val names = chunks.filter(col("chunkType") === "metadata")
      .select("entityName").collect().map(_.getString(0)).toSet
    assert(Set("add", "multiply", "main", "format_output", "Calculator", "LOG_LEVEL",
      "foo.py", "bar.py", "utils/helpers.py", "README.md").subsetOf(names))

    // CALLS edges survived the entity-aware filter (add/multiply are known)
    val calls = chunks.filter(col("chunkType") === "relation" && col("relationType") === "calls")
      .select("entityName", "relationTarget").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(calls.contains(("main", "add")))
    assert(calls.contains(("main", "multiply")))

    // import resolution: internal module imports stay (foo resolves to
    // foo.py), the external-library edge (os) is filtered
    val importTargets = chunks
      .filter(col("chunkType") === "relation" && col("relationType") === "imports")
      .select("relationTarget").collect().map(_.getString(0)).toSet
    assert(importTargets.contains("foo"))
    assert(!importTargets.contains("os"), s"external import survived: $importTargets")

    // dense vectors present with the embedder's dim
    val dims = chunks.select(size(col("dense"))).distinct().collect().map(_.getInt(0)).toSet
    assert(dims == Set(64))

    // LOG_LEVEL is a constant; add is a function; Calculator a class
    val types = chunks.filter(col("chunkType") === "metadata")
      .select("entityName", "entityType").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("LOG_LEVEL") == "constant")
    assert(types("add") == "function")
    assert(types("multiply") == "method")
    assert(types("Calculator") == "class")
  }

  test("semantic, keyword and hybrid search find the add function") {
    val sem = engine.searchSimilar("add two numbers", "semantic", limit = 5).collect()
    assert(sem.length == 5)
    val kw = engine.searchSimilar("add numbers sum", "keyword", limit = 5)
      .select("entityName").collect().map(_.getString(0))
    assert(kw.contains("add"))
    val hy = engine.searchSimilar("add two numbers", "hybrid", limit = 5)
      .select("entityName").collect().map(_.getString(0))
    assert(hy.nonEmpty)
    // entityTypes filter restricts results
    val onlyClasses = engine.searchSimilar("calculator", "keyword",
      entityTypes = Seq("class"), limit = 5)
      .select("entityType").collect().map(_.getString(0)).toSet
    assert(onlyClasses.subsetOf(Set("class")))
  }

  test("diversified search: same corpus-work as semantic, redundancy-penalized page") {
    val div = engine.searchSimilar("add two numbers", "diversified", limit = 5).collect()
    assert(div.length == 5)
    // first pick is pure relevance = the semantic top hit
    val sem = engine.searchSimilar("add two numbers", "semantic", limit = 1).collect()
    val firstPick = div.minBy(_.getAs[Int]("pick"))
    assert(firstPick.getAs[String]("chunkId") == sem.head.getAs[String]("chunkId"))
    // picks are distinct and carry monotonically non-increasing mmr scores
    assert(div.map(_.getAs[String]("chunkId")).distinct.length == 5)
    val scores = div.sortBy(_.getAs[Int]("pick")).map(_.getAs[Double]("mmr_score")).toSeq
    assert(scores == scores.sorted.reverse)
    val bad = intercept[IllegalArgumentException] {
      engine.searchSimilar("x", "nope")
    }
    assert(bad.getMessage.contains("nope"))
  }

  test("getImplementation returns the source slice; scopes widen") {
    val impl = engine.getImplementation("add").collect()
    assert(impl.length == 1)
    assert(impl.head.getAs[String]("content").contains("def add(x, y):"))
    val logical = engine.getImplementation("add", "logical").collect()
    assert(logical.map(_.getAs[String]("entityName")).toSet.contains("Calculator"))
    val deps = engine.getImplementation("main", "dependencies").collect()
    assert(deps.map(_.getAs[String]("entityName")).toSet.contains("add"))
  }

  test("readGraph modes") {
    val rels = engine.readGraph("add", "relationships").collect()
    assert(rels.nonEmpty)
    val smart = engine.readGraph("main", "smart").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(smart.contains("calls"))
    val ents = engine.readGraph("add", "entities").collect()
    assert(ents.map(_.getString(0)).contains("main"))
  }

  test("readGraphBfs walks multi-hop neighborhoods with depth labels") {
    // main -> add (calls, depth 1); add -> foo.py (contains, depth 2 via foo.py->add)
    val reach = engine.readGraphBfs("main", maxDepth = 2).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(reach("main") == 0)
    assert(reach("add") == 1)
    assert(reach.contains("foo.py")) // 2 hops: main -> add -> foo.py
    assert(reach("foo.py") == 2)
    // depth 1 cut excludes the 2-hop nodes
    val r1 = engine.readGraphBfs("main", maxDepth = 1).collect()
      .map(_.getString(0)).toSet
    assert(!r1.contains("foo.py"))
  }

  test("entitiesForFile and allEntityNames") {
    val forFile = engine.entitiesForFile("foo.py").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(forFile("metadata").contains("add"))
    assert(forFile("implementation").contains("Calculator"))
    assert(engine.allEntityNames().count() >= 10)
  }

  /** Chunk-store data files (relative name -> mtime): a rewrite renames them all. */
  private def storeFiles(): Map[String, Long] = {
    val dir = Paths.get(store, "chunks")
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
    finally files.close()
  }

  test("incremental: no changes -> nothing re-embedded; edit -> only that file") {
    val before = storeFiles()
    val res1 = engine.index(root)
    assert(res1.mode == "incremental")
    assert(res1.filesParsed == 0)
    assert(res1.chunksWritten == 0)
    assert(storeFiles() == before) // the no-op pass leaves the chunk store untouched

    // edit bar.py: remove the multiply call
    Files.writeString(Paths.get(root, "bar.py"),
      """from foo import add
        |
        |def main():
        |    '''Entry point calling only add now.'''
        |    return add(1, 2)
        |""".stripMargin)
    val res2 = engine.index(root)
    assert(res2.mode == "incremental")
    assert(res2.filesParsed == 1)
    val calls = engine.chunks
      .filter(col("chunkType") === "relation" && col("relationType") === "calls")
      .select("entityName", "relationTarget").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(calls.contains(("main", "add")))
    assert(!calls.contains(("main", "multiply")), s"stale calls edge survived: $calls")
  }

  test("delete cascade: removing a file drops its chunks and orphaned edges") {
    Files.delete(Paths.get(root, "utils/helpers.py"))
    val res = engine.index(root)
    assert(res.mode == "incremental")
    val names = engine.chunks.select("entityName").collect().map(_.getString(0)).toSet
    assert(!names.contains("format_output"))
    assert(!names.contains("LOG_LEVEL"))
  }

  test("cleanup is a no-op on a healthy store") {
    assert(engine.cleanup() == 0L)
  }

  test("cleanupIfDue: interval gate persists across calls") {
    val t0 = 1700000000000L
    assert(engine.cleanupIfDue(t0) == Some(0L)) // first run fires
    assert(engine.cleanupIfDue(t0 + 3600 * 1000L) == None) // 1h later: gated
    assert(engine.cleanupIfDue(t0 + 25 * 3600 * 1000L) == Some(0L)) // 25h: due again
  }

  test("cleanupIfDue: a HELD lock skips; a crashed holder's lock file does not block") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val t0 = 1800000000000L
    val lock = Paths.get(store, "last_cleanup.lock")
    Files.createDirectories(lock.getParent)
    // simulate another process mid-cleanup: actually HOLD the OS lock
    val ch = java.nio.channels.FileChannel.open(lock,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val fl = ch.tryLock()
    assert(fl != null)
    assert(engine.cleanupIfDue(t0 + 50 * 3600 * 1000L) == None)
    // "crashed holder": the OS releases the lock with the process — here,
    // explicit release. The leftover .lock FILE alone must not block: no
    // interval-outlived wait, no delete-then-create stale break (the old
    // TOCTOU scheme), the next due call just runs.
    fl.release(); ch.close()
    assert(Files.exists(lock))
    assert(engine.cleanupIfDue(t0 + 50 * 3600 * 1000L) == Some(0L))
    // the sentinel file deliberately survives (never unlinked)
    assert(Files.exists(lock))
  }

  test("manual memories survive re-index and clear-preserve-manual") {
    engine.addManualMemory("deploy-notes", "Remember to bump the schema version before deploying")
    val hit = engine.searchSimilar("schema version deploying", "keyword", limit = 3)
      .select("entityName").collect().map(_.getString(0))
    assert(hit.contains("deploy-notes"))

    // re-index: manual chunk has no file provenance -> carried untouched
    engine.index(root)
    assert(engine.chunks.filter(col("entityName") === "deploy-notes").count() == 1)

    // clear with preserveManual: only the manual memory remains
    engine.clearCollection(preserveManual = true)
    val remaining = engine.chunks.select("entityName").collect().map(_.getString(0)).toSet
    assert(remaining == Set("deploy-notes"))
  }

  test("entity-level replacement: unchanged entities in an edited file skip the embedder") {
    // fresh store: the clear above left only the manual memory
    val res0 = engine.index(root)
    assert(res0.chunksEmbedded > 0)

    // touch ONLY main's docstring; add/Calculator imports and the file's
    // other chunks are byte-identical and must reuse their stored vectors
    Files.writeString(Paths.get(root, "bar.py"),
      """from foo import add, Calculator
        |
        |def main():
        |    '''Entry point calling add and multiply, now documented better.'''
        |    c = Calculator()
        |    print(add(1, 2))
        |    return c.multiply(3, 4)
        |""".stripMargin)
    val res = engine.index(root)
    assert(res.mode == "incremental")
    assert(res.filesParsed == 1)
    assert(res.chunksWritten > 0)
    // file-level replacement would re-embed every bar.py chunk; entity-level
    // carry embeds strictly fewer (the untouched import/relation chunks hit
    // the reuse pool)
    assert(res.chunksEmbedded > 0)
    assert(res.chunksEmbedded < res.chunksWritten,
      s"expected entity-level carry: embedded=${res.chunksEmbedded} written=${res.chunksWritten}")
  }

  test("relationships mode flags bidirectional edge types") {
    val rels = engine.readGraph("add", "relationships").collect()
    assert(rels.nonEmpty)
    rels.foreach { r =>
      val expected = graft.core.Model.RelationTypes.Bidirectional.contains(r.getAs[String]("type"))
      assert(r.getAs[Boolean]("bidirectional") == expected)
    }
  }

  test("searchWithSnippets: hits carry the first-hit window from their own content") {
    engine.index(root)
    val rows = engine.searchWithSnippets("add numbers sum", "keyword", limit = 5)
      .select("entityName", "snippet").collect()
    assert(rows.nonEmpty)
    val snips = rows.flatMap(r => Option(r.getString(1)))
    assert(snips.nonEmpty)
    // every non-null snippet contains at least one query term
    snips.foreach(sn => assert(
      Seq("add", "numbers", "sum").exists(sn.split(" ").contains(_)), sn))
  }

  test("rankEntities: descending ranks; the much-referenced entity places") {
    engine.index(root)
    val ranked = engine.rankEntities(iterations = 3, limit = 10).collect()
    assert(ranked.nonEmpty && ranked.length <= 10)
    val rs = ranked.map(_.getDouble(1))
    assert(rs.zip(rs.tail).forall { case (a, b) => a >= b })
    // 'add' is a CALLS target from main and an IMPORTS target from bar.py —
    // in-rank must lift it above the (1-d) floor
    val addRank = ranked.collectFirst {
      case r if r.getString(0) == "add" => r.getDouble(1)
    }
    assert(addRank.exists(_ > 0.15), s"add missing or at floor: $addRank")
  }

  test("suggestEntities: prefix-filtered, shortest-first, bounded") {
    engine.index(root)
    val out = engine.suggestEntities("m", limit = 5).collect().map(_.getString(0))
    assert(out.nonEmpty && out.length <= 5)
    assert(out.forall(_.startsWith("m")))
    assert(out.contains("main") || out.contains("multiply"))
    // shortest-then-lexicographic ordering
    val lens = out.map(n => (n.length, n))
    assert(lens.sorted.sameElements(lens))
    assert(engine.suggestEntities("zzz_nothing").collect().isEmpty)
  }

  test("compactStore: repacks files; rows and search results are untouched") {
    engine.index(root)
    def rows() = engine.chunks.select("chunkId", "contentHash").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(identity)
    def hits() = engine.searchSimilar("add numbers sum", "keyword", limit = 5)
      .select("entityName").collect().map(_.getString(0)).toSeq
    val (beforeRows, beforeHits) = (rows(), hits())
    assert(beforeHits.nonEmpty) // guard: the equality check below must not be empty-vs-empty
    // tiny target fragments the store; the default target then packs it down
    val (_, fragmented) = engine.compactStore(targetBytes = 2048)
    val (seen, packed) = engine.compactStore()
    assert(seen == fragmented) // counts are real file counts, not estimates
    assert(packed <= fragmented)
    assert(rows().sameElements(beforeRows))
    assert(hits() == beforeHits)
  }

  test("search-result cache: LRU bound evicts the least recently used entry") {
    val c = new graft.search.SearchCache[Int, Int](3)
    (1 to 3).foreach(i => c.getOrElseUpdate(i)(i * 10))
    c.getOrElseUpdate(1)(-1) // touch 1 so 2 is now eldest
    c.getOrElseUpdate(4)(40) // evicts 2
    assert(c.size == 3)
    assert(c.getOrElseUpdate(2)(99) == 99) // 2 was evicted -> recomputed
    assert(c.getOrElseUpdate(1)(-1) == 10) // 1 survived with its original value
    assert(c.hits == 2 && c.misses == 5)
  }

  test("searchAll: every mode merges regular and chat hits into one page ranked by its own score") {
    engine.addManualMemory("chat-add",
      "we discussed how add returns the sum of two numbers", "chat_history")
    val scoreCol = Map("semantic" -> "score", "keyword" -> "score",
      "hybrid" -> "rrf_score", "diversified" -> "mmr_score")
    scoreCol.foreach { case (mode, sc) =>
      val rows = engine.searchAll("add two numbers", mode, limit = 3).collect()
      assert(rows.nonEmpty && rows.length <= 3, s"$mode: ${rows.length} rows")
      val ids = rows.map(_.getAs[String]("chunkId"))
      assert(ids.distinct.length == ids.length, s"$mode: duplicate chunkIds ${ids.toSeq}")
      val scores = rows.map(_.getAs[Double](sc))
      assert(scores.toSeq == scores.toSeq.sorted(Ordering[Double].reverse),
        s"$mode: not sorted by $sc: ${scores.toSeq}")
    }
  }

  test("addManualMemory on a fresh store: keyword search finds it; the first index keeps it") {
    val tree = Files.createTempDirectory("graft_manual_tree").toString
    Files.writeString(Paths.get(tree, "planted.py"),
      "def numbat_sync(rows):\n    '''Sync the numbat rows.'''\n    return rows\n")
    val e = GraftEngine(spark, Files.createTempDirectory("graft_manual_fresh").toString)
    e.addManualMemory("numbat-notes", "The numbat migration runs before the schema bump")
    val hits = e.searchSimilar("numbat migration", "keyword", limit = 3)
      .select("entityName").collect().map(_.getString(0))
    assert(hits.contains("numbat-notes"), hits.toSeq)
    assert(e.index(tree).mode == "full")
    val names = e.chunks.filter(col("chunkType") === "metadata")
      .select("entityName").collect().map(_.getString(0)).toSet
    assert(Set("numbat-notes", "numbat_sync").subsetOf(names), names)
  }

  test("keyword search lowercases the query by lower's rule, not the default locale's") {
    val prev = java.util.Locale.getDefault
    // under tr, "ID".toLowerCase is "ıd" (dotless ı), which no stored "id" matches
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      assert(graft.search.Bm25.tokenizeScala("WOMBAT ID").toSeq == Seq("wombat", "id"))
      // the stored BM25 text and the parser dispatch map case the same way
      assert(graft.index.ChunkBuilder.splitName("getID") == "get id")
      assert(graft.ingest.ParserRegistry.extensionOf("CONFIG.INI") == "ini")
      val e = GraftEngine(spark, Files.createTempDirectory("graft_locale").toString)
      e.addManualMemory("wombat-keys", "The wombat table keys every row by its id")
      val hits = e.searchSimilar("ID", "keyword", limit = 3)
        .select("entityName").collect().map(_.getString(0))
      assert(hits.contains("wombat-keys"), hits.toSeq)
    } finally java.util.Locale.setDefault(prev)
  }

  test("clearCollection with nothing to keep: the next index rebuilds the store like a fresh one") {
    val tree = Files.createTempDirectory("graft_clear_tree").toString
    Files.writeString(Paths.get(tree, "planted.py"),
      """def quokka_ledger_sync(rows):
        |    '''Reconcile the quokka ledger rows.'''
        |    return len(rows)
        |""".stripMargin)
    val fresh = GraftEngine(spark, Files.createTempDirectory("graft_clear_fresh").toString)
      .index(tree)
    assert(fresh.mode == "full")
    // preserveManual = true with no manual memory keeps nothing either
    for (preserveManual <- Seq(false, true)) {
      val e = GraftEngine(spark, Files.createTempDirectory("graft_clear").toString)
      e.index(tree)
      e.clearCollection(preserveManual)
      assert(e.index(tree) == fresh, s"preserveManual=$preserveManual")
      val hits = e.searchSimilar("quokka ledger", "keyword", limit = 3)
        .select("entityName").collect().map(_.getString(0))
      assert(hits.contains("quokka_ledger_sync"), s"preserveManual=$preserveManual: ${hits.toSeq}")
    }
  }
}

object EngineSpec {
  /** The temp_repo fixture: two Python modules calling each other, a helper
    * module and a README.
    */
  def writeFixture(root: String): Unit = {
    def w(rel: String, content: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    w("foo.py",
      """import os
        |
        |def add(x, y):
        |    '''Add two numbers and return the sum.'''
        |    return x + y
        |
        |class Calculator:
        |    '''A tiny calculator.'''
        |    def multiply(self, a, b):
        |        return a * b
        |""".stripMargin)
    w("bar.py",
      """from foo import add, Calculator
        |
        |def main():
        |    '''Entry point calling add and multiply.'''
        |    c = Calculator()
        |    print(add(1, 2))
        |    return c.multiply(3, 4)
        |""".stripMargin)
    w("utils/helpers.py",
      """LOG_LEVEL = "INFO"
        |
        |def format_output(value):
        |    '''Format a value for printing.'''
        |    return f"[{LOG_LEVEL}] {value}"
        |""".stripMargin)
    w("README.md",
      """# Sample project
        |
        |A tiny fixture project.
        |
        |## Usage
        |
        |Run main() from bar.py.
        |""".stripMargin)
  }
}
