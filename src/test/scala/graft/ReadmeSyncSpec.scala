package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps hand-written docs honest against the code (round-7 verdict:
  * README said 124 queries while 126 were registered). The counts in
  * README.md must equal `SparkEntry.queries.size`, and every query must
  * have either an oracle or a documented rows-only waiver.
  */
class ReadmeSyncSpec extends AnyFunSuite {

  private lazy val readme =
    new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")

  /** Gate numbers deleted with their experiment-statistics operators
    * (bootstrap, seasonality, FDR control, rater agreement, serial
    * correlation, A/B variance reduction, k-sample tests, survival
    * curves, contingency tests, robust location, inequality indices, rank
    * tests and their kin), the events-stream EWMA/DGIM/Welford fold
    * replays, the search-result memo, the clickstream readouts over
    * `events` (A/B and sequential tests, channel attribution, token-bucket
    * replay, retention, funnels, trend and seasonality reports), and the
    * clickstream graph mining, recommender and ledger-audit gates (k-core,
    * link prediction, co-visitation, association rules, SCD2 versions, a
    * first-digit audit and a t-digest); none reached by an engine verb.
    * Gate names key the CORRECTNESS/BENCH artifacts and PLANS.md, so the
    * survivors keep their numbers and these stay retired, never reused.
    */
  private val Retired: Set[Int] = Set(111, 116, 120, 146, 158, 159, 160,
    162, 164, 167, 182, 183, 186, 188, 190, 192, 193, 195, 197, 198, 199,
    200, 201, 202, 204, 205, 206, 210, 212, 215, 223, 224, 228, 233, 235,
    236, 237, 239, 240, 241, 242, 243, 244, 245, 248, 249, 250, 252, 254,
    256, 257, 261, 263, 264, 265, 266, 267, 268, 269, 273, 274, 275, 276,
    277, 278, 279, 280, 284, 285, 286, 287, 288, 289, 290, 291, 292, 293,
    294, 295, 296, 297, 298, 299, 300, 301, 302)

  private lazy val numbers: Seq[Int] =
    SparkEntry.queries.keys.toSeq.map(_.drop(1).takeWhile(_.isDigit).toInt)

  test("README query counts match the registered query map") {
    val n = SparkEntry.queries.size
    val claimed = raw"the (\d+) gated operator queries \(q1-q(\d+)\)".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README no longer states the gated query count"))
    assert(claimed.group(1).toInt == n,
      s"README claims ${claimed.group(1)} queries; SparkEntry registers $n")
    assert(claimed.group(2).toInt == numbers.max,
      s"README claims range q1-q${claimed.group(2)}; the highest registered is q${numbers.max}")
  }

  test("every query has an oracle except the documented rows-only set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // q32 writes a store, not a relation — the one sanctioned waiver
    assert(rowsOnly == Set("q32_index_e2e"), s"rows-only drifted: $rowsOnly")
  }

  // r9 verdict: the "queries green" and "hash-match" PROSE drifted two
  // rounds behind the board while only the count line was guarded.
  test("README correctness prose matches the registered query map") {
    val n = SparkEntry.queries.size
    val green = raw"(\d+)/(\d+)\s+queries green".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README no longer states the green-query count"))
    assert(green.group(1).toInt == n && green.group(2).toInt == n,
      s"README claims ${green.group(1)}/${green.group(2)} green; SparkEntry registers $n")
    val hash = raw"\((\d+) hash-match their oracle".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README no longer states the hash-match count"))
    assert(hash.group(1).toInt == SparkEntry.oracleSql.size,
      s"README claims ${hash.group(1)} hash-match; ${SparkEntry.oracleSql.size} queries have oracles")
  }

  private lazy val planSpec = new String(Files.readAllBytes(
    Paths.get("src/test/scala/graft/core/PlanShapeSpec.scala")), "UTF-8")

  test("README plan-assertion count matches PlanShapeSpec") {
    val actual = raw"""\n  test\("""".r.findAllIn(planSpec).size
    val claimed = raw"plus (\d+) machine-asserted".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README no longer states the machine-asserted plan count"))
    assert(claimed.group(1).toInt == actual,
      s"README claims ${claimed.group(1)} plan assertions; PlanShapeSpec has $actual")
  }

  // a deleted gate's plan section would otherwise outlive its assertion
  test("PLANS.md has one section per gate PlanShapeSpec plans") {
    val plans = new String(Files.readAllBytes(Paths.get("PLANS.md")), "UTF-8")
    val sections = raw"(?m)^## (q\d+_\w+)\s*$$".r.findAllMatchIn(plans).map(_.group(1)).toSet
    val planned = "\"(q\\d+_\\w+)\"".r.findAllMatchIn(planSpec).map(_.group(1)).toSet
    assert(planned.nonEmpty, "PlanShapeSpec names no gate")
    assert(sections == planned,
      s"PLANS.md only: ${(sections -- planned).toSeq.sorted}; PlanShapeSpec only: ${(planned -- sections).toSeq.sorted}")
  }

  // a deleted operator's table row would otherwise outlive its code
  test("README tables name only modules and specs that exist") {
    def sources(root: Path): String = {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => new String(Files.readAllBytes(f), "UTF-8")).mkString("\n")
      finally walk.close()
    }
    val main = Paths.get("src/main/scala/graft")
    val pkgs = {
      val l = Files.list(main)
      try l.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
      finally l.close()
    }
    val pkgSource = pkgs.map(p => p -> sources(main.resolve(p))).toMap
    val rows = readme.linesIterator.filter(_.startsWith("|")).toSeq
    val modules = rows.flatMap(raw"`([a-z]+)\.([A-Z]\w*)".r.findAllMatchIn(_))
      .map(m => (m.group(1), m.group(2))).filter(m => pkgs(m._1)).distinct
    assert(modules.nonEmpty, "README tables name no <pkg>.<Object> modules")
    val noModule = modules.filterNot { case (p, o) =>
      raw"\b(object|class|trait)\s+$o\b".r.findFirstIn(pkgSource(p)).isDefined }
    assert(noModule.isEmpty, s"README names modules absent from src/main: $noModule")
    val testSource = sources(Paths.get("src/test"))
    val specs = rows.flatMap(r =>
      raw"\b[A-Z]\w*Spec\b".r.findAllIn(r.stripSuffix("|").split('|').last)).distinct
    val noSpec = specs.filterNot(s => raw"\bclass\s+$s\b".r.findFirstIn(testSource).isDefined)
    assert(noSpec.isEmpty, s"README names specs absent from src/test: $noSpec")
  }

  // a deleted gate's row would otherwise fail only when BenchScaling runs
  test("every BenchScaling audit entry names a registered query") {
    val audited = BenchScaling.Audit.map(_._1) ++ BenchScaling.SinglePass
    val stale = audited.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"BenchScaling audits unregistered queries: $stale")
  }

  test("README names no retired gate") {
    val named = raw"\bq(\d+)_\w".r.findAllMatchIn(readme).map(_.group(1).toInt).toSet
    assert((named intersect Retired).isEmpty,
      s"README names retired gates: ${(named intersect Retired).toSeq.sorted}")
  }

  // SURVEY.md's §2 tables are what every gate claims to exercise; a
  // retired gate's row would otherwise outlive its operator and spec
  test("SURVEY.md tables name no retired gate") {
    val survey = new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
    val named = survey.linesIterator.filter(_.startsWith("|"))
      .flatMap(raw"\bq(\d+)".r.findAllMatchIn(_)).map(_.group(1).toInt).toSet
    assert(named.nonEmpty, "SURVEY.md tables name no gate")
    assert((named intersect Retired).isEmpty,
      s"SURVEY.md names retired gates: ${(named intersect Retired).toSeq.sorted}")
  }

  test("query names are contiguous q1..qN with no gaps or dupes") {
    val nums = numbers.toSet
    assert(numbers.size == nums.size,
      s"duplicate numbers: ${numbers.diff(numbers.distinct).sorted}")
    assert((nums intersect Retired).isEmpty,
      s"retired numbers registered again: ${(nums intersect Retired).toSeq.sorted}")
    val all = (1 to numbers.max).toSet
    assert((nums union Retired) == all,
      s"missing: ${(all -- nums -- Retired).toSeq.sorted}; extra: ${((nums union Retired) -- all).toSeq.sorted}")
  }
}
