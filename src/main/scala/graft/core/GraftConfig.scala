package graft.core

/** User-facing indexing configuration (reference: config/models.py:14-118
  * `IndexerConfig` — include/exclude patterns and the file-size cap): the
  * one definition of the scan surface. One immutable value threaded
  * through scan → pipeline → watch instead of hardcoded constants, so a
  * caller can tune the engine per-project like the reference's settings
  * file.
  */
case class GraftConfig(
    /** Glob include patterns; `*` = any parseable file (models.py:40-60). */
    includes: Seq[String] = Seq("*"),
    /** Exclude patterns: dir-suffix `/`, glob, or bare name (models.py:61-95). */
    excludes: Seq[String] = GraftConfig.DefaultExcludes,
    /** Files larger than this are skipped (models.py:96). */
    maxFileSize: Long = 1024L * 1024L)

object GraftConfig {

  /** Reference default exclude set (config/models.py:61-95). */
  val DefaultExcludes: Seq[String] = Seq(
    ".git/", "__pycache__/", "node_modules/", ".venv/", "venv/", "dist/",
    "build/", ".idea/", ".vscode/", "target/", ".pytest_cache/", ".mypy_cache/")
}
