package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.index.{DeterministicEmbedder, Embedder, IndexPipeline, IndexStore}
import graft.search.{Bm25, Hybrid}

/** The user-facing engine API, mirroring the reference's verbs (SURVEY.md
  * §7.1): index, searchSimilar (semantic | keyword | hybrid |
  * diversified), readGraph,
  * getImplementation, entitiesForFile, clearCollection.
  *
  * Query shape: searches, `readGraph`, `getImplementation` and
  * `entitiesForFile` answer from the engine's
  * [[graft.search.SearchSnapshot]] of the newest store version, its chunks
  * held on the driver, loaded by one Spark job per version and served with
  * none. A store too large to hold keeps the Spark path: every search
  * prunes to the `metadata` partition (progressive disclosure as partition
  * pruning), scores inside whole-stage codegen and reduces via
  * TakeOrderedAndProject; graph reads are joins on the relation partition.
  * The multi-hop, ranking and store-wide reads (`readGraphBfs`,
  * `rankEntities`, `suggestEntities`, `collectionInfo`, `allEntityNames`)
  * stay on Spark.
  */
case class GraftEngine(spark: SparkSession, storeDir: String,
                       embedder: Embedder = DeterministicEmbedder(),
                       config: graft.core.GraftConfig = graft.core.GraftConfig()) {

  def index(projectDir: String): IndexPipeline.IndexingResult = {
    IndexPipeline.index(spark, projectDir, storeDir, embedder, config)
  }

  def chunks: DataFrame = IndexStore.readChunks(spark, storeDir)

  private def metadataChunks: DataFrame = chunks.filter(col("chunkType") === "metadata")

  @transient private lazy val snapshots = new graft.search.SearchSnapshot.Holder

  /** The in-process snapshot of the newest version, None for an absent
    * store or one too large to hold.
    */
  private def snapshot: Option[graft.search.SearchSnapshot] =
    snapshots(spark, IndexStore.snapshot(storeDir))

  /** Dense / sparse / hybrid top-k over metadata chunks
    * (reference: storage/qdrant.py:692-1044).
    */
  def searchSimilar(query: String, mode: String = "semantic",
                    entityTypes: Seq[String] = Seq.empty,
                    limit: Int = 10, threshold: Double = Double.NegativeInfinity): DataFrame =
    snapshot.fold(searchSimilarSpark(query, mode, entityTypes, limit, threshold))(
      _.search(spark, embedder, query, mode, entityTypes, limit, threshold))

  /** [[searchSimilar]] as a Spark plan: the path of a store too large to hold. */
  private[graft] def searchSimilarSpark(query: String, mode: String, entityTypes: Seq[String],
                                        limit: Int, threshold: Double): DataFrame = {
    val base0 = metadataChunks
    val base = if (entityTypes.nonEmpty) base0.filter(col("entityType").isin(entityTypes: _*)) else base0

    def dense(k: Int): DataFrame = {
      val qv = VectorOps.vecLit(embedder.embedText(query))
      val scored = base.withColumn("score", VectorOps.cosine(col("dense"), qv))
      val thr = if (threshold.isNegInfinity) scored else scored.filter(col("score") >= threshold)
      thr.orderBy(col("score").desc, col("chunkId").asc).limit(k)
    }

    def sparse(k: Int): DataFrame = {
      val terms = Bm25.tokenizeScala(query).toSeq.distinct
      if (terms.isEmpty)
        // schema-correct empty result (a bare emptyDataFrame has no
        // columns and breaks every downstream select/join)
        base.withColumn("score", lit(0.0)).limit(0)
      else {
        val scores = Bm25.search(base.select(col("chunkId"), col("contentBm25")),
          "chunkId", "contentBm25", terms, k)
          .withColumnRenamed("doc_id", "chunkId")
        base.join(scores, "chunkId").orderBy(col("score").desc, col("chunkId").asc).limit(k)
      }
    }

    mode match {
      case "semantic" => dense(limit).drop("dense")
      case "keyword" => sparse(limit).drop("dense")
      case "hybrid" =>
        val fetch = Hybrid.fetchSize(limit)
        val d = dense(fetch).select(col("chunkId"), col("score"))
        val s = sparse(fetch).select(col("chunkId"), col("score"))
        Hybrid.rrf(d, s, "chunkId", limit)
          .join(base.drop("dense"), "chunkId")
          .orderBy(col("rrf_score").desc, col("chunkId").asc)
      case "diversified" =>
        // MMR over the 3×limit dense candidate page (the reference serves
        // redundant near-dup chunks back-to-back; this is the fix). The
        // page is bounded by construction — the corpus-wide work is the
        // same TakeOrdered as "semantic".
        // rel rounded to 6dp BEFORE the greedy arithmetic (the MmrRerank
        // determinism discipline) — last-ulp float noise must not beat
        // the chunkId tiebreak
        val page = dense(Hybrid.fetchSize(limit))
          .select(col("chunkId"), col("dense"), round(col("score"), 6).as("score"))
          .collect()
          .map(r => (r.getString(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        val picks = graft.search.MmrRerank.greedy(page.toSeq, limit, 0.7)
        import spark.implicits._
        val pickDf = picks.toDF("pick", "chunkId", "mmr_score")
        pickDf.join(base.drop("dense"), "chunkId")
          .orderBy(col("pick").asc)
      case other => throw new IllegalArgumentException(s"unknown search mode: $other")
    }
  }

  /** [[searchSimilar]] plus a display snippet per hit: the first-hit token
    * window of the query terms over the chunk content
    * ([[graft.search.Snippets]]) — rides the result set as a codegen map,
    * no extra shuffle. Chunks whose content matches no query term (e.g.
    * purely dense-ranked hits) carry a null snippet.
    */
  def searchWithSnippets(query: String, mode: String = "semantic",
                         entityTypes: Seq[String] = Seq.empty,
                         limit: Int = 10): DataFrame = {
    val terms = Bm25.tokenizeScala(query).toSeq.distinct
    val hits = searchSimilar(query, mode, entityTypes, limit)
    if (terms.isEmpty) hits.withColumn("snippet", lit(null).cast("string"))
    else hits.withColumn("snippet",
      graft.search.Snippets.extract(col("content"), terms))
  }

  /** The CLI's unified "all" search (reference: cli_full.py:976-1072,
    * 1010-1026): run the regular search AND a chat-history-only search,
    * merge (a chunk in both keeps its regular row), re-sort by the mode's
    * score column, re-limit.
    */
  def searchAll(query: String, mode: String = "semantic", limit: Int = 10): DataFrame = {
    val regular = searchSimilar(query, mode, limit = limit)
    val chat = searchSimilar(query, mode, entityTypes = Seq("chat_history"), limit = limit)
    val scoreCol = mode match {
      case "hybrid" => "rrf_score"
      case "diversified" => "mmr_score"
      case _ => "score"
    }
    // two pages of at most `limit` rows: merged on the driver, where a union
    // plan would start jobs even over two local relations
    val page = (regular.collect() ++ chat.collect()).distinctBy(_.getAs[String]("chunkId"))
      .sorted(graft.search.SearchSnapshot.ranked[Row](_.getAs[java.lang.Double](scoreCol), _.getAs[String]("chunkId")))
    spark.createDataFrame(java.util.Arrays.asList(page.take(limit): _*), regular.schema)
  }

  /** Graph neighborhood read (reference MCP read_graph,
    * CLAUDE.md:159-199): modes `entities` (nodes mentioning the entity),
    * `relationships` (edges touching it), `smart` (both, summarized).
    */
  def readGraph(entity: String, mode: String = "smart", limit: Int = 50): DataFrame =
    snapshot.fold(readGraphSpark(entity, mode, limit))(_.readGraph(spark, entity, mode, limit))

  /** [[readGraph]] as a Spark plan: the path of a store too large to hold. */
  private[graft] def readGraphSpark(entity: String, mode: String, limit: Int): DataFrame = {
    val rel = chunks.filter(col("chunkType") === "relation")
      .filter(col("entityName") === entity || col("relationTarget") === entity)
    mode match {
      case "relationships" | "raw" =>
        // bidirectional flag (reference entities.py:417-437): REFERENCES/USES
        // edges render "a <-> b" in the MCP formatting; derived per row
        rel.select(col("entityName").as("from"), col("relationType").as("type"),
          col("relationTarget").as("to"),
          col("relationType").isin(
            graft.core.Model.RelationTypes.Bidirectional.toSeq: _*).as("bidirectional"))
          .orderBy("from", "type", "to").limit(limit)
      case "entities" =>
        // neighborhood of ONE entity is small by construction: resolve the
        // neighbor-name set driver-side (breaks the self-join lineage too)
        val neighborNames = rel.select(col("entityName")).union(rel.select(col("relationTarget")))
          .distinct().collect().map(_.getString(0)).toSeq
        metadataChunks.filter(col("entityName").isin(neighborNames: _*))
          .select(col("entityName"), col("entityType"), col("filePath"), col("lineNumber"))
          .orderBy("entityName").limit(limit)
      case _ => // smart: edges + 1-hop neighbor summaries
        rel.groupBy(col("relationType").as("type"))
          .agg(count(lit(1)).as("n"),
            sort_array(collect_set(
              when(col("entityName") === entity, col("relationTarget"))
                .otherwise(col("entityName")))).as("neighbors"))
          .orderBy("type")
    }
  }

  /** Multi-hop neighborhood (the read_graph "dependencies" scope as real
    * BFS), delegated to the distributed frontier walk
    * ([[graft.operators.GraphOps.bfs]]): each level is a semi-join +
    * anti-join, the frontier never leaves the cluster (no driver collect —
    * a hub entity with a huge neighborhood costs a shuffle, not a driver
    * OOM). Relations walk both directions. Returns (entityName, depth)
    * for every node within `maxDepth` hops.
    */
  def readGraphBfs(entity: String, maxDepth: Int = 2): DataFrame = {
    import spark.implicits._
    val edges = chunks.filter(col("chunkType") === "relation")
      .select(col("entityName").as("src"), col("relationTarget").as("dst"))
    val undirected = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.GraphOps.bfs(undirected, "src", "dst", Seq(entity).toDF("node"), maxDepth)
      .select(col("node").as("entityName"), col("depth").cast("int").as("depth"))
      .orderBy("depth", "entityName")
  }

  /** Entity-importance ranking: fixed-iteration PageRank over the directed
    * relation graph ([[graft.operators.GraphOps.pageRank]]) — heavily
    * called / imported / contained entities accumulate rank, answering
    * "which entities anchor this codebase". Per iteration: one equi-join +
    * one partial-agg shuffle; the edge set is checkpointed once.
    */
  def rankEntities(iterations: Int = 3, limit: Int = 20): DataFrame = {
    val edges = chunks.filter(col("chunkType") === "relation")
      .select(col("entityName").as("src"), col("relationTarget").as("dst"))
    graft.operators.GraphOps.pageRank(edges, "src", "dst", iterations)
      .orderBy(col("rank").desc, col("node"))
      .limit(limit)
      .select(col("node").as("entityName"), round(col("rank"), 6).as("rank"))
  }

  /** Entity-name autocomplete: distinct metadata entity names with the
    * given prefix, shortest-then-lexicographic (the MCP suggestion
    * surface). A prefix predicate is a RANGE, not a LIKE-scan: on a store
    * sorted/bucketed by name it prunes to the matching range.
    */
  def suggestEntities(prefix: String, limit: Int = 10): DataFrame =
    metadataChunks
      .filter(col("entityName").startsWith(prefix))
      .select(col("entityName")).distinct()
      .orderBy(length(col("entityName")), col("entityName"))
      .limit(limit)

  /** Store maintenance: compact upsert-fragmented chunk files toward
    * `targetBytes` (see [[graft.index.IndexStore.compact]]).
    */
  def compactStore(targetBytes: Long = 128L << 20): (Int, Int) =
    IndexStore.compact(spark, storeDir, targetBytes)

  /** Implementation fetch (reference MCP get_implementation): `minimal` =
    * the entity's impl chunks; `logical` adds same-file siblings;
    * `dependencies` adds direct call/import targets' impls.
    */
  def getImplementation(name: String, scope: String = "minimal"): DataFrame =
    snapshot.fold(getImplementationSpark(name, scope))(_.getImplementation(spark, name, scope))

  /** [[getImplementation]] as a Spark plan: the path of a store too large to hold. */
  private[graft] def getImplementationSpark(name: String, scope: String): DataFrame = {
    val impls = chunks.filter(col("chunkType") === "implementation")
    val own = impls.filter(col("entityName") === name)
    scope match {
      case "minimal" => own.select(col("entityName"), col("filePath"), col("lineNumber"),
        col("endLineNumber"), col("content"))
      case "logical" =>
        val files = own.select(col("filePath")).distinct()
        impls.join(files, Seq("filePath"), "left_semi")
          .select(col("entityName"), col("filePath"), col("lineNumber"),
            col("endLineNumber"), col("content")).orderBy("filePath", "lineNumber")
      case "dependencies" =>
        val deps = chunks.filter(col("chunkType") === "relation" &&
          col("entityName") === name &&
          col("relationType").isin("calls", "imports", "uses"))
          .select(col("relationTarget").as("entityName"))
        own.select(col("entityName"), col("filePath"), col("lineNumber"),
          col("endLineNumber"), col("content"))
          .unionByName(impls.join(deps, Seq("entityName"), "left_semi")
            .select(col("entityName"), col("filePath"), col("lineNumber"),
              col("endLineNumber"), col("content")))
          .dropDuplicates("entityName", "filePath", "lineNumber")
          .orderBy("filePath", "lineNumber")
      case other => throw new IllegalArgumentException(s"unknown scope: $other")
    }
  }

  /** All chunks of a file, grouped by chunk type
    * (reference: storage/qdrant.py:1692-1845).
    */
  def entitiesForFile(path: String): DataFrame =
    snapshot.fold(entitiesForFileSpark(path))(_.entitiesForFile(spark, path))

  /** [[entitiesForFile]] as a Spark plan: the path of a store too large to hold. */
  private[graft] def entitiesForFileSpark(path: String): DataFrame =
    chunks.filter(col("filePath") === path || col("entityName") === path)
      .groupBy(col("chunkType"))
      .agg(sort_array(collect_set(col("entityName"))).as("entities"))
      .orderBy("chunkType")

  /** Collection info (reference: storage/qdrant.py:1046-1158): point
    * counts per chunk type + vector dimensionality.
    */
  def collectionInfo(): DataFrame =
    chunks.groupBy(col("chunkType"))
      .agg(count(lit(1)).as("points"),
        countDistinct(col("entityName")).as("entities"),
        max(size(col("dense"))).as("vector_dim"))
      .orderBy("chunkType")

  /** Distinct entity-name set (reference: storage/qdrant.py:1613-1653). */
  def allEntityNames(): DataFrame =
    chunks.filter(col("chunkType") =!= "relation").select(col("entityName")).distinct()

  /** Store a manual memory (the MCP create_entities/add_observations
    * analog): a metadata chunk with no file provenance — it survives
    * re-indexing (never in a replaced-file set) and
    * `clearCollection(preserveManual = true)`.
    */
  def addManualMemory(name: String, content: String, entityType: String = "documentation"): Unit = {
    import spark.implicits._
    val chunkId = s"manual::$name::metadata"
    val chunk = graft.core.Model.Chunk(chunkId, "metadata", name, entityType, "",
      0, 0, content, s"$name $name $content", graft.core.Ids.sha256Hex(content),
      "", "", hasImplementation = false)
    val df = embedder.embed(Seq(chunk).toDS().toDF(), "content")
      .withColumn("pointId", graft.core.Ids.pointId(col("chunkId")))
    // always a metadata chunk: the commit replaces only the metadata files;
    // implementation and relation files carry over by reference
    IndexStore.update(storeDir) { snap =>
      val old = snap.partition("metadata")
      val meta = if (old.isEmpty) df
        else snap.chunks(spark, old).filter(col("chunkId") =!= chunkId).unionByName(df)
      (Some(snap.files.diff(old) ++ IndexStore.writeChunks(meta, storeDir)), ())
    }
  }

  /** Clear auto-generated points, optionally preserving manual memories
    * (chunks with no filePath and no relation markers —
    * reference: storage/qdrant.py:1303-1401).
    */
  def clearCollection(preserveManual: Boolean = true): Unit = {
    // one commit: the manual chunks (or none) and no file_state, so the next
    // index is a full pass (which carries file-less chunks), not a diff
    // against files whose chunks were just deleted that parses nothing
    IndexStore.update(storeDir) { snap =>
      val manual = if (preserveManual && snap.exists) IndexStore.writeChunks(snap.chunks(spark)
        .filter(col("filePath") === "" && col("chunkType") =!= "relation"), storeDir) else Nil
      (if (snap.files.isEmpty) None else Some(manual), ())
    }
  }

  /** Interval-gated maintenance (the reference's cleanup timer policy,
    * watcher/handler.py — periodic, not per-event): runs [[cleanup]] only
    * if the persisted last-run stamp is older than `intervalHours`.
    * Returns None when the gate skips. The stamp lives beside the store so
    * every process (batch, watch, CLI) shares one schedule; `nowMs` is a
    * parameter so callers and tests stay deterministic.
    */
  def cleanupIfDue(nowMs: Long, intervalHours: Double = 24.0): Option[Long] = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val intervalMs = (intervalHours * 3600 * 1000).toLong
    val stamp = Paths.get(storeDir, "last_cleanup")
    val lock = Paths.get(storeDir, "last_cleanup.lock")
    def lastRun: Long =
      if (Files.exists(stamp)) scala.util.Try(Files.readString(stamp).trim.toLong).getOrElse(0L)
      else 0L
    if (nowMs - lastRun < intervalMs) None
    else {
      // two processes sharing the store (batch CLI + watch) can both read a
      // stale stamp: an OS-level advisory lock (FileChannel.tryLock) makes
      // the loser skip, so no two run the same cleanup (commits need no
      // lock: a loser replays, IndexStore.update). The OS releases the lock
      // with its holder, so a crash leaves nothing stale to break (a
      // delete-then-create break lets two processes each "break" it). The
      // zero-byte .lock file is never deleted: unlinking after release races
      // an acquirer holding the unlinked inode while another creates a new one.
      Files.createDirectories(stamp.getParent)
      val held: Option[java.nio.channels.FileChannel] =
        scala.util.Try(java.nio.channels.FileChannel.open(lock,
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)).toOption.flatMap { ch =>
          val fl =
            try ch.tryLock()
            catch {
              // another thread of THIS JVM holds it (tryLock only returns
              // null for other-process holders)
              case _: java.nio.channels.OverlappingFileLockException => null
              case _: java.io.IOException => null
            }
          if (fl == null) { scala.util.Try(ch.close()); None } else Some(ch)
        }
      held match {
        case None => None
        case Some(ch) =>
          try {
            // re-check the stamp UNDER the lock: the loser of a
            // near-simultaneous race can acquire right after the winner
            // released, and must see the winner's fresh stamp
            if (nowMs - lastRun < intervalMs) None
            else {
              // stamp is written BEFORE the run: a crash mid-cleanup skips
              // until the next interval instead of re-running hot on start
              Files.writeString(stamp, nowMs.toString)
              Some(cleanup())
            }
          } finally scala.util.Try(ch.close()) // close releases the lock
      }
    }
  }

  /** Orphan + phantom maintenance pass (reference: qdrant.py:1937-2381).
    * Uses the SAME well-formedness rule as the index pass, so a
    * freshly-written store is a fixed point (cleanup removes 0).
    */
  def cleanup(): Long = {
    IndexStore.update(storeDir) { snap =>
      val all = snap.chunks(spark).cache()
      val names = all.filter(col("chunkType") =!= "relation")
        .select(col("entityName")).distinct()
      val rel = all.filter(col("chunkType") === "relation")
      val keep = IndexPipeline.keepWellFormedRelations(rel, names)
      // anti-join, not collect+isin: the phantom set is unbounded at scale and
      // an isin literal list would blow up the plan on the driver
      val keepClean = keep.join(IndexPipeline.phantomCalls(all), Seq("chunkId"), "left_anti")
      val removed = rel.count() - keepClean.count()
      // only the relation files are replaced; the others carry over
      val files = if (removed == 0) None else Some(snap.files.diff(snap.partition("relation")) ++
        IndexStore.writeChunks(keepClean.select(all.columns.toIndexedSeq.map(col): _*), storeDir))
      all.unpersist()
      (files, removed)
    }
  }
}
