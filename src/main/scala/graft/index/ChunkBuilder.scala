package graft.index

import java.util.Locale
import graft.core.Ids
import graft.core.Model._

/** Chunk construction (reference: analysis/entities.py:48-306).
  *
  * Metadata-chunk content uses the reference's observation weighting
  * (entities.py:99-116): high-signal observations repeated 3×
  * (`class:`/`function:`/`signature:`), medium 2×
  * (`purpose:`/`responsibility:`/`description:`), rest 1×. The separate
  * 6-component BM25 document (entities.py:145-221): doubled entity name,
  * split name, first clean description, entity type, file name, key
  * methods.
  */
object ChunkBuilder {

  private val Weight3 = Seq("class:", "function:", "signature:")
  private val Weight2 = Seq("purpose:", "responsibility:", "description:")

  def weightedContent(e: Entity): String = {
    val parts = e.observations.flatMap { obs =>
      val w =
        if (Weight3.exists(obs.startsWith)) 3
        else if (Weight2.exists(obs.startsWith)) 2
        else 1
      Seq.fill(w)(obs)
    }
    s"${e.entityType}: ${e.name} | ${parts.mkString(" ")}"
  }

  /** camelCase / snake_case name split (entities.py:156-170). */
  def splitName(name: String): String =
    name.replaceAll("([a-z0-9])([A-Z])", "$1 $2")
      .replace("_", " ").replace(".", " ").toLowerCase(Locale.ROOT)

  def bm25Content(e: Entity): String = {
    val fileName = e.filePath.split('/').last
    val desc = e.observations
      .find(o => Weight2.exists(o.startsWith))
      .map(_.split(":", 2).last.trim).getOrElse("")
    val keyMethods = e.observations.find(_.startsWith("key methods:"))
      .map(_.split(":", 2).last.trim).getOrElse("")
    Seq(e.name, e.name, splitName(e.name), desc, e.entityType, fileName, keyMethods)
      .filter(_.nonEmpty).mkString(" ")
  }

  /** Entity → metadata chunk. */
  def metadataChunk(e: Entity): Chunk = {
    val cid = Ids.entityChunkId(e.filePath, e.name, "metadata")
    val content = weightedContent(e)
    Chunk(cid, "metadata", e.name, e.entityType, e.filePath,
      e.lineNumber, e.endLineNumber, content, bm25Content(e),
      Ids.sha256Hex(content), "", "", hasImplementation = false)
  }

  /** Relation → relation chunk (entities.py:224-306). `filePath` records
    * the defining file so entity-level replacement can drop stale edges
    * when that file is re-parsed (manual/external edges use "").
    */
  def relationChunk(r: Relation, filePath: String = ""): Chunk = {
    val cid = Ids.relationChunkId(r.fromEntity, r.relationType, r.toEntity) +
      (if (r.importType.nonEmpty) s"::${r.importType}" else "")
    val content = s"Relation: ${r.fromEntity} ${r.relationType} ${r.toEntity}" +
      (if (r.context.nonEmpty) s" | Context: ${r.context}" else "")
    Chunk(cid, "relation", r.fromEntity, "relation", filePath, 0, 0, content, "",
      Ids.sha256Hex(content), r.toEntity, r.relationType, hasImplementation = false)
  }

  /** All chunks of a parse result: metadata per entity + relation chunks +
    * implementation chunks (already built by the parser).
    */
  def chunksOf(pr: ParserResult): Seq[Chunk] =
    pr.entities.map(metadataChunk) ++
      pr.relations.map(relationChunk(_, pr.filePath)) ++
      pr.implementationChunks
}
