package graft

import graft.api.GraftEngine

/** Command-line entry point mirroring the reference CLI's verbs
  * (claude-indexer index / search / read-graph / get-implementation /
  * info) so a reference user can drive the Spark engine the same way.
  *
  * Usage:
  *   graft.Cli index <projectDir> <storeDir>
  *   graft.Cli search <storeDir> <query> [semantic|keyword|hybrid] [limit]
  *   graft.Cli search-all <storeDir> <query> [mode] [limit]
  *   graft.Cli graph <storeDir> <entity> [smart|entities|relationships]
  *   graft.Cli bfs <storeDir> <entity> [depth]
  *   graft.Cli impl <storeDir> <entity> [minimal|logical|dependencies]
  *   graft.Cli file <storeDir> <path>
  *   graft.Cli info <storeDir>
  *   graft.Cli rank <storeDir> [limit]
  *   graft.Cli suggest <storeDir> <prefix> [limit]
  *   graft.Cli cleanup <storeDir>
  *   graft.Cli compact <storeDir> [targetBytes]
  *   graft.Cli watch <projectDir> <storeDir> [debounceMs]   (Ctrl-C to stop)
  */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println("usage: see Cli scaladoc"); sys.exit(2) }
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_MASTER", "local[4]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    def engine(store: String) = GraftEngine(spark, store)
    def requireArgs(n: Int, usage: String): Unit =
      if (args.length < n) { System.err.println(s"usage: graft.Cli $usage"); spark.stop(); sys.exit(2) }
    val cmd = args(0)
    try cmd match {
      case "index" =>
        requireArgs(3, "index <projectDir> <storeDir>")
        val (project, store) = (args(1), args(2))
        val r = engine(store).index(project)
        println(s"mode=${r.mode} files=${r.filesScanned} parsed=${r.filesParsed} " +
          s"entities=${r.entities} relations=${r.relations} " +
          s"written=${r.chunksWritten} carried=${r.chunksCarried} errors=${r.errorsTotal}")
      case "search" | "search-all" =>
        requireArgs(3, s"$cmd <storeDir> <query> [mode] [limit]")
        val store = args(1); val query = args(2)
        val mode = if (args.length > 3) args(3) else "semantic"
        val limit = if (args.length > 4) args(4).toInt else 10
        val e = engine(store)
        val df = if (cmd == "search") e.searchSimilar(query, mode, limit = limit)
        else e.searchAll(query, mode, limit)
        df.show(limit, truncate = 60)
      case "graph" =>
        requireArgs(3, "graph <storeDir> <entity> [mode]")
        engine(args(1)).readGraph(args(2),
          if (args.length > 3) args(3) else "smart").show(50, truncate = 80)
      case "bfs" =>
        requireArgs(3, "bfs <storeDir> <entity> [depth]")
        engine(args(1)).readGraphBfs(args(2),
          if (args.length > 3) args(3).toInt else 2).show(100)
      case "impl" =>
        requireArgs(3, "impl <storeDir> <entity> [scope]")
        engine(args(1)).getImplementation(args(2),
          if (args.length > 3) args(3) else "minimal").show(20, truncate = 100)
      case "file" =>
        requireArgs(3, "file <storeDir> <path>")
        engine(args(1)).entitiesForFile(args(2)).show(20, truncate = 100)
      case "info" =>
        engine(args(1)).collectionInfo().show()
      case "rank" =>
        engine(args(1)).rankEntities(
          limit = if (args.length > 2) args(2).toInt else 20).show(50, truncate = 60)
      case "suggest" =>
        requireArgs(3, "suggest <storeDir> <prefix> [limit]")
        engine(args(1)).suggestEntities(args(2),
          if (args.length > 3) args(3).toInt else 10).show(20, truncate = 60)
      case "cleanup" =>
        println(s"removed=${engine(args(1)).cleanup()}")
      case "compact" =>
        val target = if (args.length > 2) args(2).toLong else 128L << 20
        val (before, after) = engine(args(1)).compactStore(target)
        println(s"files: $before -> $after (target ${target}B)")
      case "watch" =>
        // reference `claude-indexer watch start` (watcher/handler.py:478-552):
        // initial full index if needed, then stream directory events through
        // the incremental merge until interrupted
        requireArgs(3, "watch <projectDir> <storeDir> [debounceMs]")
        import spark.implicits._
        val (project, store) = (args(1), args(2))
        val debounce = if (args.length > 3) args(3).toLong
        else graft.streaming.WatchPipeline.DefaultDebounceMs
        val events = spark.readStream
          .format("graft.streaming.FileWatchSource")
          .option("path", project)
          .load()
          .as[graft.streaming.WatchPipeline.FileEvent]
        val ckpt = java.nio.file.Files.createTempDirectory("graft_watch_ckpt").toString
        val q = graft.streaming.WatchPipeline.initialIndexThenWatch(
          spark, project, events, store, ckpt, debounceMs = debounce)
        println(s"watching $project -> $store (debounce ${debounce}ms); Ctrl-C to stop")
        q.awaitTermination()
      case other =>
        System.err.println(s"unknown command: $other"); sys.exit(2)
    } finally spark.stop()
  }
}
