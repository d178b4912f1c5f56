package graft.core

/** User-facing indexing configuration (reference: config/models.py:14-118
  * `IndexerConfig` — include/exclude patterns, file-size cap, embedding
  * batch budgets). One immutable value threaded through
  * scan → pipeline → watch instead of hardcoded constants, so a caller can
  * tune the engine per-project exactly like the reference's settings file.
  */
case class GraftConfig(
    /** Glob include patterns; `*` = any parseable file (models.py:40-60). */
    includes: Seq[String] = Seq("*"),
    /** Exclude patterns: dir-suffix `/`, glob, or bare name (models.py:61-95). */
    excludes: Seq[String] = GraftConfig.DefaultExcludes,
    /** Files larger than this are skipped (models.py:96). */
    maxFileSize: Long = 1024L * 1024L,
    /** Per-request token budget for remote embedders (voyage.py:183-186). */
    embedTokenBudget: Long = 30000L,
    /** Max texts per embedder request (embeddings/base.py batching cap). */
    embedMaxBatchItems: Int = 128)

object GraftConfig {

  /** Reference default exclude set (config/models.py:61-95). */
  val DefaultExcludes: Seq[String] = Seq(
    ".git/", "__pycache__/", "node_modules/", ".venv/", "venv/", "dist/",
    "build/", ".idea/", ".vscode/", "target/", ".pytest_cache/", ".mypy_cache/")
}
