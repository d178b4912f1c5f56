package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name prefixes to run a
    // subset (local iteration only; the driver always passes two args)
    val only: Option[Array[String]] = args.lift(2).map(_.split(','))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkEntry.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // Zero-cancellation scan (r10 q176 flake class): every gate output is
    // re-read and swept for -0.0 cells (hard violation — the driver's hash
    // does not normalize them, so they are cross-engine coin flips) and
    // rounding-boundary cells (warning). Runs on the tiny written parquet,
    // so the sweep costs microseconds per gate.
    val negZero = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        graft.core.NegZeroScan.scan(spark.read.parquet(s"$outDir/$name"))
          .foreach { s =>
            if (s.negZero > 0) {
              negZero += s"$name.${s.column}: ${s.negZero} cell(s)"
              System.err.println(s"[verify] NEGZERO $name.${s.column}: ${s.negZero} -0.0 cell(s) — sign-stabilize with round(...)+0.0 on BOTH engines")
            }
            if (s.nearBoundary > 0)
              System.err.println(s"[verify] boundary-warn $name.${s.column}: ${s.nearBoundary} cell(s) within 1e-9 of a .5e-6 rounding boundary")
          }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Fail AFTER all outputs + oracle json are written, so the driver's
    // compare still sees the full board while the run itself goes loud-red.
    if (negZero.nonEmpty)
      sys.error(s"negative-zero cells in ${negZero.size} gate column(s): " +
        negZero.mkString("; "))
  }
}
