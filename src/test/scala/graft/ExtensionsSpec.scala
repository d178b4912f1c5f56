package graft

import org.apache.spark.sql.functions._
import graft.ingest.PythonParser

/** Extension points and parser extensions. The SQL functions come from
  * [[org.apache.spark.sql.graftx.GraftExtensions]], which the shared
  * session builder installs.
  */
class ExtensionsSpec extends SparkSpec {

  test("injected SQL functions: cosine_similarity and sorted_intersect_size") {
    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val inter = spark.sql(
      "SELECT sorted_intersect_size(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS n").head().getInt(0)
    assert(inter == 2)
    val jw = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS j").head().getDouble(0)
    assert(math.abs(jw - 0.961111) < 1e-6)
  }

  test("sorted_intersect_at_least: interpreted == codegen on abort, exact, and boundary paths") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftx.SortedIntersectAtLeast
    import spark.implicits._
    // (a, b, minKeep) cases spanning: full-walk survivor (inter >= need),
    // early-abort negative (bound unreachable mid-walk), boundary
    // (inter == need exactly), need=0 (never aborts), empty arrays,
    // disjoint arrays with need>0 (aborts on first bound check).
    val cases = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 7L), 2), // survivor: inter=3 >= 2
      (Seq(1L, 2L, 3L, 4L), Seq(10L, 11L, 12L, 13L), 1), // disjoint, aborts
      (Seq(1L, 3L, 5L), Seq(3L, 5L, 9L), 2), // boundary: inter=2 == need
      (Seq(1L, 3L, 5L), Seq(3L, 5L, 9L), 3), // one short: inter=2 < 3 → -1
      (Seq(1L, 2L), Seq(3L, 4L), 0), // need=0: exact count 0
      (Seq.empty[Long], Seq(1L, 2L), 1), // empty side
      ((1L to 200L).toSeq, (150L to 400L).toSeq, 120) // long walk, aborts late
    )
    // interpreted: direct Expression.eval on literals
    val interp = cases.map { case (a, b, k) =>
      SortedIntersectAtLeast(
        Literal.create(a, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        Literal.create(b, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        Literal(k)).eval(null).asInstanceOf[Int]
    }
    // codegen: same rows through a DataFrame projection (whole-stage codegen)
    val df = cases.toDF("a", "b", "k")
    val gen = df.select(SortedIntersectAtLeast.asColumn(col("a"), col("b"), col("k")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(interp == gen)
    // reference semantics: -1 iff true intersection < minKeep, exact otherwise
    val expected = cases.map { case (a, b, k) =>
      val n = a.toSet.intersect(b.toSet).size; if (n < k) -1 else n
    }
    assert(interp == expected)
    // and the SQL registration round-trips
    val viaSql = spark.sql(
      "SELECT sorted_intersect_at_least(array(1L, 3L, 5L), array(3L, 4L, 5L), 2) AS n")
      .head().getInt(0)
    assert(viaSql == 2)
  }

  test("nfc_normalize: SQL function, interpreted == codegen, composes accents") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftx.NfcNormalize
    // decomposed e + U+0301 composes to a single code point (the combining
    // accent is embedded via Scala escape — Spark SQL's char() is ASCII-only)
    val composed = spark.sql("SELECT nfc_normalize('é') AS n")
      .head().getString(0)
    assert(composed == "é") // é, single code point
    assert(composed.codePoints().toArray.length == 1)
    // interpreted matches codegen
    val expr = NfcNormalize(Literal.create("Wórd already-é"))
    assert(expr.eval(null).toString == "Wórd already-é")
    // idempotent on already-composed text
    val again = spark.sql("SELECT nfc_normalize('café') AS n").head().getString(0)
    assert(again == "café")
  }

  test("python file-operation relations typed by op") {
    val src =
      """import json
        |
        |def load_config(path):
        |    with open("config.json") as f:
        |        data = json.load(f)
        |    resp = requests.get("https://api.example.com/items")
        |    return data
        |""".stripMargin
    val r = PythonParser.parse("cfg.py", src)
    val ops = r.relations.filter(_.importType.startsWith("file_op:"))
      .map(x => (x.fromEntity, x.importType, x.toEntity)).toSet
    assert(ops.contains(("load_config", "file_op:file_open", "config.json")))
    assert(ops.exists { case (f, t, _) => f == "load_config" && t == "file_op:json_load" })
    assert(ops.contains(("load_config", "file_op:requests_get", "https://api.example.com/items")))
  }
}
