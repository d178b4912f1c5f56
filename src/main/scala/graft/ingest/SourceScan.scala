package graft.ingest

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.util.matching.Regex
import org.apache.spark.sql.Dataset
import graft.core.GraftConfig
import graft.core.Model._

/** Project file scan (reference: indexer.py:820-878; patterns
  * config/models.py:40-96): glob includes, exclude patterns (dir-suffix
  * `/`, glob, name, any-path-part), size cap. The one owner of the scan
  * surface and the directory walk: the batch index and the watch source
  * list files through [[listFiles]], and the watch pipeline filters its
  * events through the same [[Surface]].
  *
  * The walk lists paths driver-side (listing is cheap — metadata only),
  * then file CONTENT is read executor-side inside `mapPartitions`, so at
  * scale the I/O fans out across the cluster instead of bottlenecking on
  * the driver. On a real deployment the same shape maps to
  * `spark.read.format("binaryFile")` over an object store.
  */
object SourceScan {

  /** Glob → anchored regex with every literal span regex-quoted, so
    * patterns containing regex metacharacters (`+ ( [ ? |` …) match
    * literally instead of throwing or silently matching the wrong files
    * (e.g. `*.c++`).
    */
  private[ingest] def globRegex(pat: String): Regex =
    ("(?s)^" + pat.split("\\*", -1).map(java.util.regex.Pattern.quote)
      .mkString(".*") + "$").r

  /** The scan surface of a [[GraftConfig]], compiled once per walk or
    * event batch (a 100k-file walk with 5 globs would otherwise pay ~1M
    * `Pattern.compile` calls). A rel path is admitted iff no ancestor is a
    * `dir/` exclude, no part is a bare-name exclude, neither it nor its
    * basename matches a glob exclude, includes are `*` or it or its
    * basename matches one (config/models.py:40-60), the parser registry
    * can parse it, and it fits the size cap.
    */
  final case class Surface(config: GraftConfig) {
    private val prunedDirs = config.excludes.filter(_.endsWith("/")).map(_.stripSuffix("/")).toSet
    private val (exGlobs, exNames) = config.excludes.filterNot(_.endsWith("/")).partition(_.contains("*"))
    private val exRegexes = exGlobs.map(globRegex)
    private val incRegexes = if (config.includes.contains("*")) Nil else config.includes.map(globRegex)

    private def anyMatch(rxs: Seq[Regex], rel: String): Boolean = {
      val base = rel.split('/').last
      rxs.exists(rx => rx.findFirstIn(rel).isDefined || rx.findFirstIn(base).isDefined)
    }

    /** A directory the walk never descends into. */
    def prunes(dirName: String): Boolean = prunedDirs.contains(dirName)

    def included(rel: String): Boolean = incRegexes.isEmpty || anyMatch(incRegexes, rel)

    private def excluded(rel: String): Boolean = {
      val parts = rel.split('/')
      parts.init.exists(prunedDirs) || parts.exists(exNames.contains) || anyMatch(exRegexes, rel)
    }

    def admits(rel: String, size: Long): Boolean =
      size <= config.maxFileSize && included(rel) && !excluded(rel) && ParserRegistry.canParse(rel)
  }

  /** The one directory walk: `dir/` excludes are pruned with SKIP_SUBTREE
    * (a node_modules or .git tree is never descended into), files are
    * admitted through the [[Surface]]. An entry below the root that
    * vanishes or cannot be read mid-walk is skipped; a missing or
    * unreadable ROOT throws — an index of a mistyped path must fail, not
    * diff every stored file as deleted.
    */
  private[ingest] final class Walker(root: Path, surface: Surface) extends SimpleFileVisitor[Path] {
    val listed = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()

    override def preVisitDirectory(dir: Path, attrs: BasicFileAttributes): FileVisitResult =
      if (dir != root && surface.prunes(dir.getFileName.toString)) FileVisitResult.SKIP_SUBTREE
      else FileVisitResult.CONTINUE

    override def visitFile(p: Path, attrs: BasicFileAttributes): FileVisitResult = {
      if (attrs.isRegularFile) {
        val rel = root.relativize(p).toString.replace('\\', '/')
        if (surface.admits(rel, attrs.size)) listed += ((rel, attrs.size, attrs.lastModifiedTime.toMillis))
      }
      FileVisitResult.CONTINUE
    }

    override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
      if (p == root) throw e else FileVisitResult.CONTINUE

    override def postVisitDirectory(dir: Path, e: java.io.IOException): FileVisitResult =
      if (e != null && dir == root) throw e else FileVisitResult.CONTINUE
  }

  /** `(relPath, size, mtimeMs)` of every file on `config`'s scan surface
    * under `root`, sorted by relPath (driver-side metadata walk).
    */
  def listFiles(root: String, config: GraftConfig): Seq[(String, Long, Long)] = {
    val rootPath = Paths.get(root)
    val walker = new Walker(rootPath, Surface(config))
    Files.walkFileTree(rootPath, walker)
    walker.listed.toSeq.sortBy(_._1)
  }

  /** Parse a scanned Dataset into per-file ParserResults. */
  def parseAll(files: Dataset[FileRow]): Dataset[ParserResult] = {
    import files.sparkSession.implicits._
    files.map(f => ParserRegistry.parse(f.relPath, f.content))
  }
}
