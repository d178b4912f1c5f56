package graft
import org.apache.spark.sql.SparkSession
import graft.core.Tables

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Queries are materialized with the `noop` sink — a bare count() would
  * let Catalyst prune away computed columns (fingerprints, scores) and
  * time only the scan.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.session(s"local[$cpus]", cpus)
    // untimed warmup: JIT + codegen + parquet-footer caches, so the first
    // measured query isn't charged for JVM startup
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, sfDir).limit(1000).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    // N timed passes (default 2), min per query: a single mid-suite sample
    // is exposed to GC pauses / context-cleaner bursts from earlier queries
    // (round-3 q33/q34 showed 5-7x one-off spikes with unchanged code).
    // min-of-N is the standard way to report steady-state. EVERY query gets
    // every pass — skipping the re-run when the first sample is slow would
    // lock in exactly the spikes this exists to filter. Local re-pins set
    // SPARK_GRAFT_BENCH_RUNS=5 for a lower-variance aggregate.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val passes = (1 to runs).map { _ =>
      ordered.map { case (name, fn) => name -> timeOne(name, fn) }.toMap
    }
    val results = ordered.map { case (name, _) =>
      // a pass failure may be the very transient (GC-pause OOM,
      // context-cleaner hiccup) min-of-N exists to filter. -1
      // (machine-detectable failure) only if EVERY pass fails.
      val ok = passes.map(_(name)).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // echo the EFFECTIVE parallelism (r12 verdict item 2: the scaling
    // contract must be checkable from the artifact — `cpus` alone can't
    // distinguish "env var ignored" from "overhead-bound at this SF")
    val par = spark.sparkContext.defaultParallelism
    val master = spark.sparkContext.master
    val envJson = f""""cpus":$cpus,"parallelism":$par,"master":"$master""""
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec",$envJson,"queries":$qs,"sf":"$sfDir","runs":$runs,"agg":"min"}"""
    println(json)
    // side-channel: sbt prefixes stdout with [info], which can defeat a
    // strict line parser — the same JSON is always available as a file
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json + "\n")
    catch { case _: Throwable => }
    // The driver records only the LAST ~2 KB of stdout; the full per-query
    // map (~5 KB at 215 queries) overflows that, truncating the line's
    // HEAD and leaving the round artifact unparseable (BENCH_r09.json:
    // `parsed: null`, 78/215 timings). So the FINAL line is a compact
    // summary guaranteed to fit: total + the slowest queries that fit a
    // 1.5 KB budget, plus a pointer to bench_out.json for the full map.
    val slowest = results.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
    val budget = 1500
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    slowest.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec",$envJson,"n_queries":${results.size},"queries":${kept.mkString("{", ",", "}")},"queries_full":"bench_out.json","sf":"$sfDir","runs":$runs,"agg":"min"}"""
    System.out.flush()
    println(compact)
    System.out.flush()
    spark.stop()
  }
}
