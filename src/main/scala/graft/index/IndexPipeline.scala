package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ids
import graft.core.Model._
import graft.ingest.SourceScan

/** The batch indexing pipeline (reference lifecycle SURVEY.md §3.1):
  * scan → diff vs file_state → parse changed → chunk build → entity-aware
  * relation filter → content-hash dedup → embed new → merge store →
  * orphan cleanup → state update.
  *
  * Every maintenance step is a join (set-at-a-time), not a per-item RPC:
  *  - changed/deleted detection: full-outer join of scan vs state on path;
  *  - CALLS filter: left-semi join of edges vs the entity-name set
  *    (broadcast — names are small relative to chunks);
  *  - dedup: left-anti join on contentHash (skips re-embedding unchanged
  *    content — the reference's embedding-cache semantics, set-at-a-time);
  *  - orphan cleanup: anti-joins of relation chunks vs entity names.
  */
object IndexPipeline {

  /** Wall-clock stage splits (ms) of the most recent [[index]] call on
    * this thread — scan / parse / embed / store-write / state-write. Read
    * by q32 so a driver-side wall-time doubling is attributable to a
    * stage from the correctness artifact alone (r10 verdict: q32's bench
    * variance was unprovably "contention on the two COW store writes").
    * Thread-local because gates can run concurrently in one JVM.
    */
  private val stageTimes =
    new ThreadLocal[scala.collection.mutable.LinkedHashMap[String, Long]] {
      override def initialValue() = scala.collection.mutable.LinkedHashMap.empty
    }
  def lastStageTimingsMs: Seq[(String, Long)] = stageTimes.get().toSeq
  private def timed[A](stage: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    stageTimes.get().update(stage,
      stageTimes.get().getOrElse(stage, 0L) + (System.nanoTime() - t0) / 1000000L)
    r
  }

  case class IndexingResult(
      mode: String,
      filesScanned: Long,
      filesParsed: Long,
      entities: Long,
      relations: Long,
      chunksWritten: Long,
      chunksCarried: Long,
      errors: Seq[String],
      /** Chunks that actually went through the embedder (chunksWritten minus
        * embeddings reused via content-hash / entity-level carry).
        */
      chunksEmbedded: Long = 0L,
      /** Every parse error of the batch; `errors` is a sample of at most
        * [[ErrorSampleCap]] of them, so `errorsTotal > errors.size` means
        * the sample was truncated.
        */
      errorsTotal: Long = 0L)

  /** Most parse-error messages an [[IndexingResult]] carries. */
  val ErrorSampleCap = 1000

  /** Scan-metadata row joined against the recorded file state — the unit of
    * the mtime/size prefilter. NB `private[index]`, not `private`: encoder
    * codegen (SafeProjection) instantiates these from generated classes,
    * which JVM-private members would break.
    */
  private[index] case class CandidateMeta(relPath: String, size: Long, mtime: Long,
                                          prevHash: Option[String])

  private[index] case class HashedCandidate(row: FileRow, hash: String, prevHash: Option[String])

  /** External-target whitelist for orphan cleanup (reference 25-ext list,
    * storage/qdrant.py:2150-2180): relation targets that look like files or
    * external modules are not orphans even if unresolved.
    */
  private val ExternalExts = Seq(
    ".py", ".js", ".ts", ".tsx", ".json", ".yaml", ".yml", ".md", ".txt",
    ".css", ".html", ".csv", ".ini", ".cfg", ".toml", ".log", ".sh", ".sql")

  private val ExtPattern = ExternalExts.map(e => s".*\\$e$$").mkString("|")

  /** Dotted module names every indexed .py file can answer to — the
    * set-at-a-time form of the reference's `resolve_module_name`
    * (indexer.py:1120-1177): "src/chat/parser.py" explodes into its
    * dotted suffix chains {parser, chat.parser, src.chat.parser}, so
    * import resolution becomes an exact equi-join instead of a per-import
    * endswith scan over the entity set.
    */
  private def internalModuleNames(names: DataFrame): DataFrame =
    names.filter(col("entityName").endsWith(".py"))
      .select(explode(expr(
        """transform(sequence(1, size(split(regexp_replace(entityName, '\\.py$', ''), '/'))),
          |  k -> array_join(slice(split(regexp_replace(entityName, '\\.py$', ''), '/'), -k, k), '.'))"""
          .stripMargin)).as("moduleName"))
      .distinct()

  /** The single well-formedness rule for relation chunks, shared by the
    * index pass and the maintenance pass (so a freshly-written store is a
    * cleanup fixed point):
    *  - non-import edges: target is a known entity, or looks like an
    *    external file;
    *  - IMPORT edges: the target (or its module part, for symbol imports)
    *    resolves to an INTERNAL .py file, or the target looks like a
    *    file — external-library imports are filtered, the reference's
    *    `import_orphan_count` semantics (indexer.py:1196-1205).
    */
  def keepWellFormedRelations(relChunks: DataFrame, names: DataFrame): DataFrame = {
    val nonImports = relChunks.filter(col("relationType") =!= "imports")
    val imports = relChunks.filter(col("relationType") === "imports")
    // candidates: the dotted target with relative-import dots stripped,
    // plus its module part ("chat.parser.parse" -> "chat.parser")
    val stripped = regexp_replace(col("relationTarget"), "^\\.+", "")
    val internalImports = imports
      .withColumn("_cand", explode(array_distinct(array(
        stripped, regexp_replace(stripped, "\\.[^.]+$", "")))))
      .join(broadcast(internalModuleNames(names)),
        col("_cand") === col("moduleName"), "left_semi")
      .drop("_cand")
    nonImports.alias("r")
      .join(broadcast(names).alias("n"), col("r.relationTarget") === col("n.entityName"), "left_semi")
      .unionByName(internalImports)
      .unionByName(relChunks.filter(col("relationTarget").rlike(ExtPattern)))
      .dropDuplicates("chunkId")
  }

  def index(spark: SparkSession, projectDir: String, storeDir: String,
            embedder: Embedder = DeterministicEmbedder(),
            config: graft.core.GraftConfig = graft.core.GraftConfig()): IndexingResult = {
    import spark.implicits._
    stageTimes.get().clear()

    // --- metadata-only walk (no content reads) ---------------------------
    val files = timed("scan")(SourceScan.listFiles(projectDir, config))
    val filesScanned = files.size.toLong
    val curMeta = spark.createDataset(files).toDF("relPath", "size", "mtime")

    // one commit for the chunk files and the file_state files together
    IndexStore.update(storeDir) { snap =>
      val prevState = snap.state(spark)
      val incremental = prevState.isDefined && snap.exists
      // --- incremental diff (reference: indexer.py:886-1021) ---------------
      // mtime/size prefilter (indexer.py:898-987): a file whose recorded
      // size+mtime are unchanged is NOT read or hashed at all — only
      // candidates (new paths, or size/mtime drift) pay the content read,
      // which is the 15x incremental win on a large tree. Deliberate
      // tradeoff (same as the reference): an edit that preserves BOTH byte
      // size and ms-mtime (cp -p of a same-length version) is invisible
      // until the file is touched again. All set logic is joins; no path
      // list round-trips through the driver, so a mass-touch (branch
      // switch) stays distributed.
      val prev = (if (incremental) prevState.get else spark.emptyDataset[FileState].toDF())
        .select(col("relPath"), col("hash").as("prevHash"),
          col("size").as("prevSize"), col("mtime").as("prevMtime"))
      val joined = curMeta.join(prev, Seq("relPath"), "full_outer")
      // an incremental pass probes this join before the merge re-reads it
      if (incremental) joined.cache()
      val removed = joined.filter(col("size").isNull).select(col("relPath"))
      val unchangedState = joined
        .filter(col("size").isNotNull && col("prevHash").isNotNull &&
          col("size") === col("prevSize") && col("mtime") === col("prevMtime"))
        .select(col("relPath"), col("prevHash").as("hash"), col("size"), col("mtime"))
      val candidates = joined
        .filter(col("size").isNotNull &&
          (col("prevHash").isNull || col("size") =!= col("prevSize") || col("mtime") =!= col("prevMtime")))
        .select(col("relPath"), col("size"), col("mtime"), col("prevHash"))
        .as[CandidateMeta]

      // content read + hash, executor-side, candidates only; cached so the
      // parse pass and the state write share one read. A file that vanishes
      // or turns unreadable between the driver walk and this read is SKIPPED
      // (not a job abort): it gets no state row, so the next run re-examines
      // it — deleted files then cascade through the removed path.
      val rootPath = projectDir
      val hashed = candidates.mapPartitions { it =>
        it.flatMap { c =>
          scala.util.Try {
            val content = new String(
              java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(rootPath, c.relPath)),
              java.nio.charset.StandardCharsets.UTF_8)
            HashedCandidate(FileRow(s"$rootPath/${c.relPath}", c.relPath, c.size, c.mtime, content),
              Ids.sha256Hex(content), c.prevHash)
          }.toOption
        }
      }.cache()

      // a touched-but-identical file (mtime drift, same hash) is not
      // re-parsed; its state row still records the new mtime
      val toParse: Dataset[FileRow] = hashed.filter(h => !h.prevHash.contains(h.hash)).map(_.row)

      val newState = unchangedState.unionByName(
        hashed.map(h => FileState(h.row.relPath, h.hash, h.row.size, h.row.mtime)).toDF())
      val replaced = toParse.map(_.relPath).toDF("relPath").union(removed)

      // no-op early exit (reference `should_process=False`, SURVEY.md:608):
      // an incremental pass with nothing to replace (no file removed, no hash
      // changed) leaves the chunk store as it is — a written store is a
      // cleanup fixed point, so the merge would rewrite the same rows — and
      // commits new file_state only if some candidate's size or mtime drifted
      val probe = if (incremental)
        Some(replaced.agg(count(lit(1))).crossJoin(candidates.agg(count(lit(1)))).head()) else None
      if (probe.exists(_.getLong(0) == 0L)) {
        val stateOnly = if (probe.get.getLong(1) == 0L) None
          else Some(snap.chunkFiles ++ timed("state_write")(IndexStore.writeState(newState, storeDir)))
        hashed.unpersist(); joined.unpersist()
        val store = snap.chunks(spark)
          .agg(count(lit(1)), count(when(col("chunkType") === "relation", 1))).head()
        (stateOnly, IndexingResult("incremental", filesScanned, 0L, 0L, store.getLong(1), 0L,
          store.getLong(0), Seq.empty))
      } else {
        // --- parse + merge: filesParsed comes out of applyChanges' single
        // parse-metadata aggregate (one job: content read + hash + parse)
        val results = SourceScan.parseAll(toParse).cache()
        val (res, chunkFiles) = applyChanges(spark, snap, results, replaced, incremental, embedder)
        val stateFiles = timed("state_write")(IndexStore.writeState(newState, storeDir))
        hashed.unpersist(); results.unpersist(); joined.unpersist()
        (Some(chunkFiles ++ stateFiles), res.copy(mode = if (incremental) "incremental" else "full",
          filesScanned = filesScanned))
      }
    }
  }

  /** Merge a batch of parse results into the store: drop replaced/deleted
    * files' chunks, entity-aware relation filter, content-hash dedup,
    * embed what's new, write the new chunk files, whose store-relative paths
    * come back for the caller to commit over `base`. Shared by the batch
    * indexer and the streaming `foreachBatch` path (SURVEY.md §3.3 "same
    * batch pipeline").
    *
    * `replaced` is a single-column (`relPath`) DataFrame of re-parsed +
    * deleted paths — a join input, never a driver-side literal list.
    *
    * Replacement is ENTITY-level, not file-level (reference:
    * processing/processors.py:53-196): a changed file's old chunks are
    * dropped from the store, but their embeddings stay in the dedup pool,
    * so an entity whose content is untouched by the edit reuses its stored
    * vector instead of re-embedding. Only genuinely new/changed entities
    * pay the embedder.
    */
  def applyChanges(spark: SparkSession, base: IndexStore.Snapshot,
                   results: Dataset[ParserResult], replaced: DataFrame,
                   incremental: Boolean, embedder: Embedder): (IndexingResult, Seq[String]) = {
    import spark.implicits._

    // ONE parse-metadata action (guide §5: the driver serialized three
    // jobs here — errors.collect(), entities.count(), and index()'s
    // results.count() — each a full barrier over the same cached batch).
    // The error sample is CAPPED per partition before the aggregate, so a
    // pathological corpus buffers at most ErrorSampleCap messages per
    // partition (a bare collect_list would buffer every one before the
    // slice); the total is counted in full. Below the cap (every gate/test
    // corpus) the sample is the exact list.
    val metaRow = timed("parse")(results
      .select(size(col("entities")).as("_ne"), col("errors"))
      .as[(Int, Seq[String])]
      .mapPartitions { rows =>
        var files, ents, total = 0L
        val sample = Vector.newBuilder[String]
        var kept = 0
        rows.foreach { case (ne, errs) =>
          files += 1; ents += ne; total += errs.size
          errs.iterator.take(ErrorSampleCap - kept).foreach { e => sample += e; kept += 1 }
        }
        Iterator((files, ents, total, sample.result()))
      }
      .toDF("files", "ents", "total", "errs")
      .agg(coalesce(sum(col("files")), lit(0L)),
        coalesce(sum(col("ents")), lit(0L)),
        coalesce(sum(col("total")), lit(0L)),
        slice(flatten(collect_list(col("errs"))), 1, ErrorSampleCap))
      .head())
    val filesParsed = metaRow.getLong(0)
    val errors = metaRow.getSeq[String](3).toSeq
    val entities = results.flatMap(_.entities.map(e => (e.filePath, e.name, e.entityType)))
      .toDF("filePath", "name", "entityType")
    val nEntities = metaRow.getLong(1)

    val newChunksRaw = results.flatMap(r => ChunkBuilder.chunksOf(r)).toDF().cache()

    // --- carry over unchanged chunks, drop replaced/deleted --------------
    val emptyChunks = spark.emptyDataset[Chunk].toDF()
      .withColumn("pointId", lit(0L)).withColumn("dense", lit(null).cast("array<double>"))
    val replacedFiles = replaced.select(col("relPath").as("filePath"))
    val (carried: DataFrame, replacedOld: DataFrame) =
      if (incremental) {
        val existing = base.chunks(spark)
        (existing.join(replacedFiles, Seq("filePath"), "left_anti"),
          existing.join(replacedFiles, Seq("filePath"), "left_semi"))
      } else if (base.exists) {
        // full re-index over an existing store (e.g. after clear-collection):
        // file-derived chunks are all rebuilt, but MANUAL memories have no
        // file provenance and must survive — the reference's upsert-into-
        // existing-collection semantics (storage/qdrant.py:1303-1401)
        val existing = base.chunks(spark)
        (existing.filter(col("filePath") === "" && col("chunkType") =!= "relation"),
          emptyChunks)
      } else (emptyChunks, emptyChunks)

    // global entity-name set: current batch + carried store
    // (reference: indexer.py:1212-1247)
    val carriedNames = carried.filter(col("chunkType") === "metadata").select(col("entityName"))
    val names = entities.select(col("name").as("entityName")).union(carriedNames).distinct().cache()

    // entity-aware CALLS filter + orphan pre-filter
    // (reference: indexer.py:496-520,1132-1210)
    val relChunks = newChunksRaw.filter(col("chunkType") === "relation")
    val keepRelations = keepWellFormedRelations(relChunks, names)
    val nonRelChunks = newChunksRaw.filter(col("chunkType") =!= "relation")
    val newChunks = nonRelChunks.unionByName(keepRelations).dropDuplicates("chunkId")

    // carried relation chunks may now be orphaned by deletions: the FROM
    // side must still exist AND the target must stay well-formed
    val carriedClean =
      if (incremental) {
        val carriedRel = keepWellFormedRelations(
          carried.filter(col("chunkType") === "relation"), names)
          .alias("r")
          .join(broadcast(names).alias("n"), col("r.entityName") === col("n.entityName"), "left_semi")
        carried.filter(col("chunkType") =!= "relation").unionByName(carriedRel)
      } else carried

    // --- content-hash dedup before embedding (the big cost saver) --------
    // the reuse pool includes the replaced files' OLD chunks: that is what
    // makes replacement entity-level — an entity untouched by the edit has
    // the same contentHash as its dropped chunk and reuses its vector
    val reusePool = carriedClean.select(col("contentHash"), col("dense"))
      .unionByName(replacedOld.select(col("contentHash"), col("dense")))
      .dropDuplicates("contentHash")
    val toEmbed = newChunks.alias("nw")
      .join(reusePool.select("contentHash").alias("ex"),
        Seq("contentHash"), "left_anti")
    val reusable = newChunks.alias("nw")
      .join(reusePool.withColumnRenamed("dense", "dense_ex").alias("ex"),
        Seq("contentHash"), "inner")
      .withColumn("dense", col("dense_ex")).drop("dense_ex")

    val embedded = embedder.embed(toEmbed, "content")

    // persist: the embed DAG must run ONCE — the stat counts and the store
    // write would otherwise each re-embed every new chunk (4x the work; with
    // a remote embedder, 4x the HTTP spend)
    val finalNew = embedded.withColumn("_fromEmbedder", lit(true))
      .unionByName(reusable.select(embedded.columns.toIndexedSeq.map(col): _*).withColumn("_fromEmbedder", lit(false)))
      .withColumn("pointId", Ids.pointId(col("chunkId")))
      .persist()
    val storeCols = finalNew.columns.toIndexedSeq.filterNot(_ == "_fromEmbedder").map(col)
    val all = carriedClean.select(storeCols: _*)
      .unionByName(finalNew.drop("_fromEmbedder"))
      .dropDuplicates("chunkId")
      .persist()

    // ONE job for ALL four stat counts (1-row × 1-row crossJoin — the
    // CurationFunnel pattern): written/embedded over finalNew and
    // total/relations over `all` were two serialized .head() barriers.
    // The merged action materializes the persisted embed DAG (and the
    // carried-chunk union on top of it), so its wall IS the embed stage.
    val statRow = timed("embed")(finalNew.agg(
        count(lit(1)).as("total"),
        count(when(col("_fromEmbedder"), 1)).as("emb"))
      .crossJoin(all.agg(
        count(lit(1)).as("all_total"),
        count(when(col("chunkType") === "relation", 1)).as("rel")))
      .head())
    val chunksWritten = statRow.getLong(0)
    val chunksEmbedded = statRow.getLong(1)
    val nRelations = statRow.getLong(3)
    val chunksCarried = statRow.getLong(2) - chunksWritten

    val files = timed("store_write")(IndexStore.writeChunks(all, base.root))
    newChunksRaw.unpersist(); names.unpersist(); all.unpersist(); finalNew.unpersist()
    (IndexingResult(if (incremental) "incremental" else "full",
      0, filesParsed, nEntities, nRelations, chunksWritten, chunksCarried, errors, chunksEmbedded,
      metaRow.getLong(2)), files)
  }

  /** Phantom-CALLS detection (reference: storage/qdrant.py:2325-2381):
    * calls edges whose caller implementation no longer contains
    * `callee(` outside comments. Returns the phantom relation chunkIds.
    */
  def phantomCalls(chunks: DataFrame): DataFrame = {
    val calls = chunks.filter(col("chunkType") === "relation" && col("relationType") === "calls")
      .select(col("chunkId"), col("entityName").as("caller"), col("relationTarget").as("callee"))
    val impls = chunks.filter(col("chunkType") === "implementation")
      .select(col("entityName").as("caller"),
        regexp_replace(col("content"), "(?m)#.*$", "").as("body"))
    calls.join(impls, Seq("caller"), "inner")
      .filter(!col("body").contains(concat(col("callee"), lit("("))))
      .select(col("chunkId"))
  }
}
