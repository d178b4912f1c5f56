package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-gate profiler. Harness-only code — never on a query path.
  *
  * Times with the [[Bench]] method: noop sink (a bare `count()` would let
  * Catalyst prune the computed columns and time only the scan), untimed
  * warm-up, min of N runs. Also counts the Spark jobs each run submits —
  * every eager checkpoint, `.head()` or `.collect()` on a query path is
  * its own job, which no dumped plan shows.
  *
  * Usage (`SPARK_GRAFT_CPUS` sets master and shuffle partitions, default 32):
  * {{{
  * graft.Profile time <sfDir> <reps> <gate...>
  *     per gate: min wall, every run and jobs per run; then one JSON line
  * graft.Profile plan <sfDir> [--out <dir>|<file>.md] <gate...>
  *     per gate: the flattened physical-operator histogram (the node
  *     multiset PlanShapeSpec asserts); --out also writes each formatted
  *     plan to <dir>/<gate>.txt, or all of them to one markdown file
  * graft.Profile rows <gate...>
  *     each gate's rows at the smoke SF as DuckDB VALUES tuples, for
  *     golden-oracle transcription
  * }}}
  */
object Profile {

  /** One gate's timed runs and the Spark jobs each run submitted. */
  final case class Timing(gate: String, runs: Seq[Double], jobs: Seq[Int]) {
    def min: Double = runs.min
  }

  /** One gate's plan: the operator histogram of its final (post-AQE)
    * physical plan, and `explain formatted` of AQE's initial plan. */
  final case class GatePlan(gate: String, histogram: Map[String, Int], formatted: String)

  private val RunTag = "graft.profile.run"

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def time(spark: SparkSession, sfDir: String, reps: Int, gates: Seq[String]): Seq[Timing] = {
    val sc = spark.sparkContext
    // one entry per job: the run tag it was submitted under (a local
    // property, so it also reaches broadcast and subquery threads)
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(RunTag))).foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    // untimed warm-up: JIT, codegen and parquet-footer caches
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      noop(graft.core.Tables.lineitem(spark, sfDir).limit(1000))
    } catch { case _: Throwable => }
    try gates.map { gate =>
      val runs = (1 to reps).map { i =>
        sc.setLocalProperty(RunTag, s"$gate#$i")
        val t0 = System.nanoTime()
        try noop(SparkEntry.queries(gate)(spark, sfDir))
        finally sc.setLocalProperty(RunTag, null)
        (System.nanoTime() - t0) / 1e9
      }
      Thread.sleep(300) // the listener bus is asynchronous: let it deliver
      Timing(gate, runs, (1 to reps).map(i => jobs.asScala.count(_ == s"$gate#$i")))
    } finally sc.removeSparkListener(listener)
  }

  /** Expand AQE wrappers, reused exchanges, and subqueries into one node seq. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case _ => p +: p.children.flatMap(flatten)
    }
    self ++ p.subqueries.flatMap(flatten)
  }

  def histogram(p: SparkPlan): Map[String, Int] =
    flatten(p).groupBy(_.getClass.getSimpleName).map { case (k, v) => k -> v.size }

  /** Explain each gate, then run it to completion so AQE settles. */
  def plan(spark: SparkSession, sfDir: String, gates: Seq[String]): Seq[GatePlan] =
    gates.map { gate =>
      val df = SparkEntry.queries(gate)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      df.collect()
      GatePlan(gate, histogram(df.queryExecution.executedPlan), formatted)
    }

  private def histogramLines(h: Map[String, Int]): String =
    h.toSeq.sorted.map { case (k, c) => f"  $c%3d  $k\n" }.mkString

  private def duckLiteral(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case l: Long => s"CAST($l AS BIGINT)"
    case d: Double => s"CAST($d AS DOUBLE)"
    case b: Boolean => b.toString.toUpperCase(Locale.ROOT)
    case x => String.valueOf(x)
  }

  def main(args: Array[String]): Unit = {
    val minArgs = Map("time" -> 4, "plan" -> 3, "rows" -> 2)
    if (args.isEmpty || args.length < minArgs.getOrElse(args(0), Int.MaxValue)) {
      System.err.println("usage: graft.Profile time <sfDir> <reps> <gate...> | " +
        "plan <sfDir> [--out <dir>|<file>.md] <gate...> | rows <gate...>")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.session(s"local[$cpus]", cpus)
    try args(0) match {
      case "time" =>
        val (sfDir, reps) = (args(1), args(2).toInt)
        val results = time(spark, sfDir, reps, args.drop(3).toSeq)
        def fmt(t: Double) = f"$t%.3f"
        results.foreach { t =>
          println(s"[profile] ${t.gate} min=${fmt(t.min)} s  runs=[${t.runs.map(fmt).mkString(",")}]" +
            s"  jobs=[${t.jobs.mkString(",")}]")
        }
        def byGate(f: Timing => String) =
          results.map(t => "\"" + t.gate + "\":" + f(t)).mkString("{", ",", "}")
        val sc = spark.sparkContext
        println(s"""{"metric":"profile","value":${fmt(results.map(_.min).sum)},"unit":"sec",""" +
          s""""cpus":$cpus,"parallelism":${sc.defaultParallelism},"master":"${sc.master}",""" +
          s""""queries":${byGate(t => fmt(t.min))},"jobs":${byGate(_.jobs.mkString("[", ",", "]"))},""" +
          s""""sf":"${args(1)}","runs":$reps,"agg":"min"}""")
      case "plan" =>
        val (out, gates) =
          if (args(2) == "--out") (Some(args(3)), args.drop(4).toSeq) else (None, args.drop(2).toSeq)
        val plans = plan(spark, args(1), gates)
        plans.foreach(p => print(s"== ${p.gate}\n${histogramLines(p.histogram)}"))
        out.filter(_.endsWith(".md")).foreach { md =>
          Files.writeString(Paths.get(md), plans.map { p =>
            s"\n## ${p.gate}\n\n```\n${histogramLines(p.histogram)}```\n\n```\n${p.formatted}```\n"
          }.mkString("# PLANS — physical plans, generated by `graft.Profile plan`\n\n" +
            s"SF dir: ${args(1)}; $cpus shuffle partitions; AQE on. Per gate: the operator\n" +
            "histogram of the final plan, then `explain formatted` of AQE's initial plan.\n", "", ""))
        }
        out.filterNot(_.endsWith(".md")).foreach { dir =>
          Files.createDirectories(Paths.get(dir))
          plans.foreach(p => Files.writeString(Paths.get(dir, s"${p.gate}.txt"), p.formatted))
        }
      case "rows" =>
        args.drop(1).foreach { gate =>
          val df = SparkEntry.queries(gate)(spark, SparkEntry.SmokeSfDir)
          println(s"== $gate  schema: ${df.schema.simpleString}")
          df.collect().foreach(r => println(r.toSeq.map(duckLiteral).mkString("  (", ", ", "),")))
        }
    } finally spark.stop()
  }
}
