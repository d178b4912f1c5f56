package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.index.{IndexPipeline, IndexStore}

/** Engine-verb benchmark driver: one client thread, closed loop.
  *
  * Usage: Main <workload> <workDir> <seconds> <trace 0|1> <cores> <setupReps> <budgetSeconds>
  *
  * Reads `<workDir>/manifest.json` (written by gen.py through run.py), sets
  * up, runs the workload's operations back to back for `seconds`, checks
  * every result against the manifest, and writes the raw samples to
  * `<workDir>/result.json` (spans to `<workDir>/spans.jsonl` when traced).
  * run.py turns those into the reported metrics.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val TopK = 10

  /** Raw outcome of one run; serialized as result.json. */
  final class Result {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val notes = mutable.ArrayBuffer.empty[String]
    val setup = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    var items = 0L
    def sample(name: String, ms: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
    def fail(what: String): Unit = {
      failed += 1
      if (failures.size < 50) failures += what
    }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, workDir, secondsArg, traceArg, coresArg, repsArg, budgetArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val reps = repsArg.toInt
    val manifest = mapper.readTree(new File(workDir, "manifest.json"))

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$coresArg]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", coresArg)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    res.setup("session_s") = (System.nanoTime() - tSession) / 1e9
    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, manifest, Paths.get(workDir), seconds, traced, tracer, res, reps,
      t0 + (budgetArg.toDouble * 1e9).toLong)
    try {
      workload match {
        case "query-mix" => QueryMix.run(ctx)
        case "curate" => Curate.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      tracer.listener.foreach { l =>
        l.snapshot(spark.sparkContext).foreach { case (verb, c) =>
          val d = c.taskDurations.sorted
          res.counters(s"spark.$verb.jobs") = c.jobs.toDouble
          res.counters(s"spark.$verb.stages") = c.stages.toDouble
          res.counters(s"spark.$verb.task_s") = c.taskMs / 1000.0
          res.counters(s"spark.$verb.task_skew") =
            if (d.isEmpty) 0.0 else d.last.toDouble / math.max(1L, d(d.size / 2))
          res.counters(s"spark.$verb.shuffle_read_mb") = c.shuffleRead / 1e6
          res.counters(s"spark.$verb.shuffle_write_mb") = c.shuffleWrite / 1e6
          res.counters(s"spark.$verb.spill_mb") = c.spill / 1e6
          res.counters(s"spark.$verb.records_read") = c.recordsRead.toDouble
        }
      }
      Jvm.record(res)
    } finally {
      writeResult(ctx)
      spark.stop()
    }
  }

  private def writeResult(ctx: Ctx): Unit = {
    val r = ctx.res
    val out = Map(
      "setup" -> r.setup.toMap,
      "samples" -> r.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "counters" -> r.counters.toMap,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "failures" -> r.failures.toSeq,
      "notes" -> r.notes.toSeq,
      "items" -> r.items)
    Files.writeString(ctx.work.resolve("result.json"), mapper.writeValueAsString(out))
    if (ctx.tracer.enabled) {
      val lines = ctx.tracer.all.map(s => mapper.writeValueAsString(Map(
        "run" -> ctx.work.getFileName.toString, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)))
      Files.write(ctx.work.resolve("spans.jsonl"), lines.asJava, UTF_8)
    }
  }

  case class Ctx(spark: SparkSession, m: JsonNode, work: Path, seconds: Double, traced: Boolean,
                 tracer: Tracer, res: Result, reps: Int, deadlineNs: Long) {
    def str(node: JsonNode, key: String): String = node.get(key).asText()
    def tree: String = work.resolve("tree").toString

    /** Run a traced run's probe only if `needS` seconds are left of the
      * JVM's budget. A skipped probe fails the run: its metrics would read 0.
      */
    def probe(name: String, needS: Double)(body: => Unit): Unit =
      if ((deadlineNs - System.nanoTime()) / 1e9 >= needS) body
      else {
        res.attempted += 1
        res.fail(s"$name probe skipped: under ${needS}s of the run's budget left")
      }

    /** Set by [[loop]] when a traced run interleaves traced and untraced ops. */
    private var interleave = false
    private val occurrences = mutable.HashMap.empty[String, Int]

    /** The measured closed loop: run `op` back to back until `seconds` have
      * passed (at least once; exactly once with `once`). A traced run traces
      * the whole loop, or with `interleaved` only the ops whose occurrence k
      * of their sample name has k mod 4 in {1, 2} (untraced, traced, traced,
      * untraced, ...): the two sets are drawn alike from the whole loop, so
      * JIT warm-up drift falls on both and their latencies give the tracing
      * overhead.
      */
    def loop(interleaved: Boolean, once: Boolean = false)(op: Int => Unit): Unit = {
      var i = 0
      def run(): Unit = {
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        while (i == 0 || (!once && System.nanoTime() < deadline)) { op(i); i += 1 }
      }
      if (!traced) run()
      else {
        tracer.start()
        interleave = interleaved
        try tracer.span("loop")(run())
        finally { interleave = false; tracer.enabled = true }
      }
    }
    /** Time `body` in ms on the client thread (always, traced or not). */
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e6)
    }
    /** One timed operation: `run` is timed (and traced as `verb`), then
      * `check` judges its result untimed; a thrown exception or a check
      * message counts the operation as failed.
      */
    def op[A](verb: String, sample: String)(run: => A)(check: A => Option[String]): Unit = {
      res.attempted += 1
      val prefix = if (!interleave) "" else {
        val k = occurrences.getOrElse(sample, 0)
        occurrences(sample) = k + 1
        tracer.enabled = k % 4 == 1 || k % 4 == 2
        if (tracer.enabled) "" else "untraced."
      }
      try {
        val (a, ms) = timed(tracer.verb(verb)(run))
        res.sample(prefix + sample, ms)
        check(a).foreach(msg => res.fail(s"$sample: $msg"))
      } catch { case e: Exception => res.fail(s"$sample: $e") }
    }
    /** Walls (s) of `reps` repetitions of a set-up step; run.py reports
      * their median.
      */
    def setupReps(name: String)(body: Int => Unit): Unit = {
      val walls = (0 until math.max(1, reps)).map(i => timed(tracer.span(s"setup.$name")(body(i)))._2 / 1000.0)
      res.setup(name) = walls
    }
  }

  /** (size, mtime ms) of every regular file under `p`; empty when absent. */
  def fileStats(p: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally w.close()
    }

  /** Bytes of every regular file under `p` (0 when absent) and the number
    * of its parquet files.
    */
  def du(p: Path): (Long, Long) = {
    val fs = fileStats(p)
    (fs.values.map(_._1).sum, fs.keys.count(_.toString.endsWith(".parquet")).toLong)
  }

  /** Bytes of the files under `p` that are new or changed since `before`
    * (a [[fileStats]] snapshot): what one write to the store wrote.
    */
  def bytesWrittenSince(before: Map[Path, (Long, Long)], p: Path): Long =
    fileStats(p).iterator.collect { case (f, st) if !before.get(f).contains(st) => st._1 }.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  def names(df: DataFrame): Seq[String] = df.select("entityName").collect().map(_.getString(0)).toSeq

  /** Record the index stage walls of the call that just returned. */
  def stageWalls(res: Result, prefix: String): Unit =
    IndexPipeline.lastStageTimingsMs.foreach { case (stage, ms) => res.sample(s"$prefix${stage}_ms", ms.toDouble) }

  /** Chunks an incremental write embedded vs wrote (the rest reused a
    * stored vector).
    */
  def chunkCounts(res: Result, r: IndexPipeline.IndexingResult): Unit = {
    res.add("index.chunks_embedded", r.chunksEmbedded.toDouble)
    res.add("index.chunks_written", r.chunksWritten.toDouble)
  }

  /** Chunk census: rows per chunk type. Every full index of one tree must
    * produce the same one.
    */
  def census(spark: SparkSession, store: String): Map[String, Long] =
    IndexStore.readChunks(spark, store).groupBy("chunkType").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

/** JVM-wide counters, read once at the end of the run. */
object Jvm {
  import java.lang.management.ManagementFactory

  def record(res: Main.Result): Unit = {
    res.counters("jvm.gc_ms") =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
    res.counters("jvm.jit_ms") = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    res.counters("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    // VmHWM: the process's peak resident set (Linux)
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:")).foreach { l =>
        res.counters("peak_rss_mb") = l.split("\\s+")(1).toDouble / 1024.0
      }
  }
}
