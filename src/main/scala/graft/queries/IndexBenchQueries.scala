package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.GraftEngine

/** End-to-end indexing exercise for the gate: generates a deterministic
  * synthetic source tree (python + markdown + json), runs the FULL
  * pipeline (scan → parse → chunk → dedup → embed → store), then runs one
  * hybrid search and graph read against the fresh store, and reports
  * structural counts. No SQL oracle (the parser isn't SQL-expressible) —
  * the driver records the rows-only check; determinism of every count is
  * what makes the check meaningful.
  */
object IndexBenchQueries {

  type Q = (SparkSession, String) => DataFrame

  val NumPyFiles = 120
  val NumMdFiles = 30

  /** Deterministic synthetic project: functions call functions of the
    * previous file (real CALLS edges), every 10th file re-uses file 0's
    * body (content-hash dedup work), markdown docs reference sections.
    */
  def writeSyntheticRepo(root: String): Unit = {
    (0 until NumPyFiles).foreach { i =>
      val src = if (i % 10 == 0 && i > 0) pySource(0) else pySource(i)
      val p = Paths.get(root, f"mod$i%03d.py")
      Files.createDirectories(p.getParent)
      Files.writeString(p, src)
    }
    (0 until NumMdFiles).foreach { i =>
      Files.writeString(Paths.get(root, f"doc$i%02d.md"),
        s"# Guide $i\n\nIntro for guide $i.\n\n## Usage\n\n" +
          (s"Call helper_${i % NumPyFiles}_a for step. " * 30) +
          s"\n\n## Notes\n\n" + (s"Note body $i. " * 40))
    }
    Files.writeString(Paths.get(root, "package.json"),
      """{"name": "synthetic", "dependencies": {"left-pad": "1.0"}}""")
  }

  private def pySource(i: Int): String = {
    val prev = if (i == 0) 0 else i - 1
    s"""import os
       |from json import loads
       |
       |LIMIT_$i = ${i * 10}
       |
       |def helper_${i}_a(x):
       |    '''Helper A of module $i doing transformation work.'''
       |    y = helper_${prev}_a(x) if x > 0 else x
       |    return y + $i
       |
       |def helper_${i}_b(items):
       |    '''Helper B of module $i aggregating items.'''
       |    total = 0
       |    for it in items:
       |        total += helper_${i}_a(it)
       |    return total
       |
       |class Processor$i:
       |    '''Processes batches for module $i.'''
       |    def run(self, batch):
       |        return helper_${i}_b(batch)
       |""".stripMargin
  }

  /** One shared index of the synthetic repo for the q207-q209 sub-gates:
    * the pipeline is deterministic, so indexing once per JVM and reading
    * the store from three gates changes nothing about what is asserted —
    * q32 keeps its own fresh end-to-end run (it IS the timing gate).
    */
  /** Byte-copy of a store directory — q262 mutates (compaction rewrite)
    * and must not dirty the shared index.
    */
  private def copyStore(src: String): String = {
    val dst = Files.createTempDirectory("graft_store_copy").toString
    val srcP = Paths.get(src)
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(srcP)
    try walk.iterator().asScala.foreach { p =>
      val t = Paths.get(dst).resolve(srcP.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
    dst
  }

  private val shared = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def indexedStore(s: SparkSession): String =
    shared.computeIfAbsent("store", _ => {
      val repo = Files.createTempDirectory("graft_synth_repo_sub").toString
      val store = Files.createTempDirectory("graft_synth_store_sub").toString
      writeSyntheticRepo(repo)
      GraftEngine(s, store).index(repo)
      store
    })

  def defs: Map[String, Q] = Map(
    // q32's deterministic chunk census as a HASH gate (golden-value
    // oracle: the synthetic repo and the whole pipeline are
    // deterministic, so the exact histogram is pinned in SQL literals —
    // any parser/chunker/dedup regression breaks the hash, not just a
    // row count).
    "q207_index_chunks" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      graft.index.IndexStore.readChunks(s, indexedStore(s))
        .groupBy(col("chunkType").as("chunk_type"),
          col("entityType").as("entity_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("chunk_type"), col("entity_type"))
    }),

    // The deterministic sha256-derived point ids, pinned: the 12
    // lexicographically-smallest chunk ids with their type and entity.
    // Catches any drift in id derivation, name normalization, or chunk
    // identity — the reference's idempotent-upsert contract.
    "q208_index_ids" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      graft.index.IndexStore.readChunks(s, indexedStore(s))
        .select(col("pointId").cast("long").as("point_id"),
          col("chunkId").as("chunk_id"),
          col("chunkType").as("chunk_type"),
          col("entityName").as("entity_name"))
        .orderBy(col("point_id")).limit(12)
    }),

    // The top-5 hybrid (RRF) ranking for q32's own search query, with
    // scores — the full dense+sparse+fusion stack pinned end-to-end.
    "q209_index_top5" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      val engine = GraftEngine(s, indexedStore(s))
      engine.searchSimilar("aggregating items total", "hybrid", limit = 5)
        .select(col("entityName").as("entity_name"),
          round(col("rrf_score"), 6).as("score"))
        .orderBy(col("score").desc, col("entity_name"))
    }),

    // The engine's remaining read-API surface, hash-gated over the same
    // shared deterministic store (r9 advisory #8 — these four were
    // spec-only): BFS neighborhood, PageRank entity ranking, prefix
    // autocomplete, and the per-file census. Golden-value oracles, like
    // q207-q209.
    "q216_graph_bfs_api" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      GraftEngine(s, indexedStore(s)).readGraphBfs("helper_5_a", maxDepth = 2)
        .select(col("entityName").as("entity_name"),
          col("depth").cast("long").as("depth"))
        .orderBy(col("depth"), col("entity_name"))
    }),

    "q217_rank_entities_api" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      GraftEngine(s, indexedStore(s)).rankEntities(iterations = 3, limit = 20)
        .select(col("entityName").as("entity_name"), col("rank"))
        .orderBy(col("rank").desc, col("entity_name"))
    }),

    "q218_suggest_entities_api" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      GraftEngine(s, indexedStore(s)).suggestEntities("helper_1", limit = 10)
        .select(col("entityName").as("entity_name"))
    }),

    "q219_entities_for_file_api" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      GraftEngine(s, indexedStore(s)).entitiesForFile("mod007.py")
        .select(col("chunkType").as("chunk_type"),
          explode(col("entities")).as("entity_name"))
        .orderBy(col("chunk_type"), col("entity_name"))
    }),

    // The LAST spec-only engine verbs, hash-gated over the shared
    // deterministic store (r10 advisory #7): snippet search and store
    // compaction. Golden-value oracles like q207-q209/q216-q219. q262
    // mutates, so it works on its own copy of the store.
    "q260_search_snippets" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      GraftEngine(s, indexedStore(s))
        .searchWithSnippets("aggregating items total", "hybrid", limit = 5)
        .select(col("entityName").as("entity_name"),
          round(col("rrf_score"), 6).as("score"), col("snippet"))
        .orderBy(col("score").desc, col("entity_name"))
    }),

    "q262_compact_store" -> ((s, _) => {
      import s.implicits._
      val engine = GraftEngine(s, copyStore(indexedStore(s)))
      val before = engine.chunks.count()
      val (nBefore, nAfter) = engine.compactStore()
      val after = engine.chunks.count()
      Seq(
        // chunk count is pinned; file counts only as layout invariants
        // (the pre-compaction file count varies with writer parallelism)
        ("chunks_total", after),
        ("chunks_preserved", if (after == before) 1L else 0L),
        ("files_after", nAfter.toLong),
        ("files_not_increased", if (nAfter <= nBefore) 1L else 0L)
      ).toDF("metric", "value")
    }),

    "q32_index_e2e" -> ((s, _) => {
      import s.implicits._
      val repo = Files.createTempDirectory("graft_synth_repo").toString
      val store = Files.createTempDirectory("graft_synth_store").toString
      writeSyntheticRepo(repo)
      val engine = GraftEngine(s, store)
      def ms[A](body: => A): (A, Long) = {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1000000L)
      }
      val (res, _) = ms(engine.index(repo))
      val stageRows = graft.index.IndexPipeline.lastStageTimingsMs
        .map { case (k, v) => (s"t_${k}_ms", v) }
      val (searchHits, tSearch) =
        ms(engine.searchSimilar("aggregating items total", "hybrid", limit = 5).collect().length.toLong)
      val (graphRows, tGraph) =
        ms(engine.readGraph("helper_5_a", "relationships", limit = 100).collect().length.toLong)
      val info = engine.collectionInfo().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // structural counts are deterministic (the rows-only check's value);
      // the t_*_ms rows attribute a driver-side wall-time swing to its
      // stage (scan/parse/embed/store-write/state/search) from the
      // artifact alone — r10 verdict task: q32 must be self-explaining
      (Seq(
        ("files_scanned", res.filesScanned),
        ("entities", res.entities),
        ("relation_chunks", res.relations),
        ("metadata_chunks", info.getOrElse("metadata", 0L)),
        ("implementation_chunks", info.getOrElse("implementation", 0L)),
        ("search_hits", searchHits),
        ("graph_edges", graphRows),
        ("parse_errors", res.errors.length.toLong)
      ) ++ stageRows ++ Seq(
        ("t_search_ms", tSearch),
        ("t_graph_read_ms", tGraph)
      )).toDF("metric", "value")
    })
  )

  /** GOLDEN-VALUE oracles for the q207-q209 sub-gates. The synthetic repo
    * and the whole pipeline are deterministic (verified identical across
    * JVMs and scale factors — the inputs don't touch the sf tables at
    * all), so the expected outputs are pinned as SQL literals: DuckDB
    * renders the golden table, the driver hash-compares as usual, and any
    * parser/chunker/id/fusion regression breaks the hash. q32 itself
    * stays rows-only — it is the wall-clock e2e shell.
    */
  def oracles: Map[String, String] = Map(
    "q207_index_chunks" ->
      """SELECT * FROM (VALUES
        |  ('implementation', 'class', CAST(120 AS BIGINT)),
        |  ('implementation', 'documentation', CAST(30 AS BIGINT)),
        |  ('implementation', 'function', CAST(240 AS BIGINT)),
        |  ('implementation', 'method', CAST(120 AS BIGINT)),
        |  ('metadata', 'class', CAST(120 AS BIGINT)),
        |  ('metadata', 'constant', CAST(120 AS BIGINT)),
        |  ('metadata', 'documentation', CAST(120 AS BIGINT)),
        |  ('metadata', 'file', CAST(151 AS BIGINT)),
        |  ('metadata', 'function', CAST(240 AS BIGINT)),
        |  ('metadata', 'import', CAST(240 AS BIGINT)),
        |  ('metadata', 'method', CAST(120 AS BIGINT)),
        |  ('metadata', 'module', CAST(1 AS BIGINT)),
        |  ('relation', 'relation', CAST(1026 AS BIGINT))
        |) t(chunk_type, entity_type, n)
        |ORDER BY chunk_type, entity_type""".stripMargin,

    "q208_index_ids" ->
      """SELECT * FROM (VALUES
        |  (CAST(266155346222042 AS BIGINT), 'mod024.py::helper_24_a::implementation', 'implementation', 'helper_24_a'),
        |  (CAST(625256465206305 AS BIGINT), 'mod067.py::Processor67::metadata', 'metadata', 'Processor67'),
        |  (CAST(777746730319696 AS BIGINT), 'doc22.md::Notes::metadata', 'metadata', 'Notes'),
        |  (CAST(892098438760639 AS BIGINT), 'doc05.md::contains::Guide 5 (+2 more)', 'relation', 'doc05.md'),
        |  (CAST(2400913409433717 AS BIGINT), 'helper_59_a::calls::helper_58_a', 'relation', 'helper_59_a'),
        |  (CAST(2938206401396796 AS BIGINT), 'mod077.py::LIMIT_77::metadata', 'metadata', 'LIMIT_77'),
        |  (CAST(3421972256052454 AS BIGINT), 'mod077.py::mod077.py::metadata', 'metadata', 'mod077.py'),
        |  (CAST(3531084482508865 AS BIGINT), 'mod018.py::os::metadata', 'metadata', 'os'),
        |  (CAST(3917625911134196 AS BIGINT), 'mod002.py::run::metadata', 'metadata', 'run'),
        |  (CAST(3957581275269635 AS BIGINT), 'mod067.py::run::implementation', 'implementation', 'run'),
        |  (CAST(4053954644755425 AS BIGINT), 'mod062.py::helper_62_b::metadata', 'metadata', 'helper_62_b'),
        |  (CAST(4450248684002044 AS BIGINT), 'mod000.py::helper_0_a::implementation', 'implementation', 'helper_0_a')
        |) t(point_id, chunk_id, chunk_type, entity_name)
        |ORDER BY point_id""".stripMargin,

    "q260_search_snippets" ->
      """SELECT * FROM (VALUES
        |  ('helper_18_b', CAST(0.010994 AS DOUBLE), '18 signature def helper 18 items signature def helper 18 items'),
        |  ('helper_39_b', CAST(0.009347 AS DOUBLE), '39 signature def helper 39 items signature def helper 39 items'),
        |  ('Processor102', CAST(0.008197 AS DOUBLE), CAST(NULL AS VARCHAR)),
        |  ('helper_0_b', CAST(0.008197 AS DOUBLE), 'function helper signature def helper items signature def helper items signature'),
        |  ('helper_1_b', CAST(0.008065 AS DOUBLE), 'function helper signature def helper items signature def helper items signature')
        |) t(entity_name, score, snippet)
        |ORDER BY score DESC, entity_name""".stripMargin,

    "q262_compact_store" ->
      """SELECT * FROM (VALUES
        |  ('chunks_total', CAST(2648 AS BIGINT)),
        |  ('chunks_preserved', CAST(1 AS BIGINT)),
        |  ('files_after', CAST(3 AS BIGINT)),
        |  ('files_not_increased', CAST(1 AS BIGINT))
        |) t(metric, value)""".stripMargin,

    "q216_graph_bfs_api" ->
      """SELECT * FROM (VALUES
        |  ('helper_5_a', CAST(0 AS BIGINT)),
        |  ('helper_4_a', CAST(1 AS BIGINT)),
        |  ('helper_5_b', CAST(1 AS BIGINT)),
        |  ('helper_6_a', CAST(1 AS BIGINT)),
        |  ('mod005.py', CAST(1 AS BIGINT)),
        |  ('LIMIT_5', CAST(2 AS BIGINT)),
        |  ('Processor5', CAST(2 AS BIGINT)),
        |  ('helper_3_a', CAST(2 AS BIGINT)),
        |  ('helper_4_b', CAST(2 AS BIGINT)),
        |  ('helper_6_b', CAST(2 AS BIGINT)),
        |  ('helper_7_a', CAST(2 AS BIGINT)),
        |  ('mod004.py', CAST(2 AS BIGINT)),
        |  ('mod006.py', CAST(2 AS BIGINT)),
        |  ('run', CAST(2 AS BIGINT))
        |) t(entity_name, depth)
        |ORDER BY depth, entity_name""".stripMargin,

    "q217_rank_entities_api" ->
      """SELECT * FROM (VALUES
        |  ('run', CAST(17.29875 AS DOUBLE)),
        |  ('helper_0_a', CAST(11.204825 AS DOUBLE)),
        |  ('helper_101_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_102_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_103_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_104_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_105_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_106_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_111_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_112_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_113_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_114_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_115_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_116_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_11_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_12_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_13_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_14_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_15_a', CAST(2.863878 AS DOUBLE)),
        |  ('helper_16_a', CAST(2.863878 AS DOUBLE))
        |) t(entity_name, rank)
        |ORDER BY rank DESC, entity_name""".stripMargin,

    "q218_suggest_entities_api" ->
      """SELECT * FROM (VALUES
        |  ('helper_1_a'), ('helper_1_b'), ('helper_11_a'), ('helper_11_b'),
        |  ('helper_12_a'), ('helper_12_b'), ('helper_13_a'), ('helper_13_b'),
        |  ('helper_14_a'), ('helper_14_b')
        |) t(entity_name)
        |ORDER BY len(entity_name), entity_name""".stripMargin,

    "q219_entities_for_file_api" ->
      """SELECT * FROM (VALUES
        |  ('implementation', 'Processor7'),
        |  ('implementation', 'helper_7_a'),
        |  ('implementation', 'helper_7_b'),
        |  ('implementation', 'run'),
        |  ('metadata', 'LIMIT_7'),
        |  ('metadata', 'Processor7'),
        |  ('metadata', 'helper_7_a'),
        |  ('metadata', 'helper_7_b'),
        |  ('metadata', 'loads'),
        |  ('metadata', 'mod007.py'),
        |  ('metadata', 'os'),
        |  ('metadata', 'run'),
        |  ('relation', 'Processor7'),
        |  ('relation', 'helper_7_a'),
        |  ('relation', 'helper_7_b'),
        |  ('relation', 'mod007.py'),
        |  ('relation', 'run')
        |) t(chunk_type, entity_name)
        |ORDER BY chunk_type, entity_name""".stripMargin,

    "q209_index_top5" ->
      """SELECT * FROM (VALUES
        |  ('helper_18_b', CAST(0.010994 AS DOUBLE)),
        |  ('helper_39_b', CAST(0.009347 AS DOUBLE)),
        |  ('Processor102', CAST(0.008197 AS DOUBLE)),
        |  ('helper_0_b', CAST(0.008197 AS DOUBLE)),
        |  ('helper_1_b', CAST(0.008065 AS DOUBLE))
        |) t(entity_name, score)
        |ORDER BY score DESC, entity_name""".stripMargin
  )
}
