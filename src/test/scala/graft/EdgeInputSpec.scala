package graft

import org.apache.spark.sql.functions._

/** Adversarial-input sweep: operators must survive nulls, empties,
  * surrogate-pair unicode, and malformed semi-structured fields without
  * throwing — on 100 TB of crawl data every one of these WILL occur,
  * and ANSI mode upgrades silent garbage into job-killing exceptions
  * (e.g. `cast('' AS BIGINT)`).
  */
class EdgeInputSpec extends SparkSpec {
  import spark.implicits._

  private val nastyTexts = Seq[(java.lang.Long, String)](
    (1L, null),
    (2L, ""),
    (3L, " "),
    (4L, "a"),
    (5L, "😀😀 emoji only 🎉"),
    (6L, "no.sentences.or spaces.here"),
    (7L, "x" * 10000),
    (8L, "tabs\tand\nnewlines\r\nand \u0000 controls"))

  private def docs = nastyTexts.toDF("doc_id", "text")

  test("readability survives nulls, empties, and emoji") {
    val out = graft.functions.Readability.score(docs, "text").collect()
    assert(out.length == nastyTexts.length)
  }

  test("fim transform survives nulls and 1-char docs") {
    val out = graft.functions.Augment.fim(docs.filter(col("text").isNotNull),
      "doc_id", "text").collect()
    assert(out.length == nastyTexts.length - 1)
  }

  test("token dropout survives the sweep") {
    val out = graft.functions.Augment.tokenDropout(
      docs.filter(col("text").isNotNull), "doc_id", "text", 10).collect()
    assert(out.nonEmpty)
  }

  test("textrank survives a corpus of junk (possibly returning nothing)") {
    val out = graft.operators.TextRank.keywords(docs, "text", 10).collect()
    assert(out.length >= 0) // just: no throw
  }

  test("kneser-ney survives a corpus of junk") {
    val out = graft.functions.KneserNey.bigramProbs(docs, "text", 10).collect()
    assert(out.length >= 0)
  }

  test("malformed props JSON yields null items, not an ANSI cast error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_props").toString
    Seq(
      (1L, "a", "{\"k\": \"x\"}"),
      (2L, "a", "{\"k\": 1.5}"),
      (3L, "a", "not json at all"),
      (4L, "a", "{\"k\":42}"), // compact serialization, no space after colon
      (5L, "b", "{\"k\": 7}"),
      (6L, "b", "{\"k\": }")
    ).toDF("event_id", "event_type", "props")
      .select(col("event_id"),
        timestamp_micros(col("event_id") * 1000000L).as("ts"),
        col("event_id").as("user_id"), col("event_type"),
        lit(1.0).as("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    // the gate reads the table end to end; only the integer k values count
    val rows = SparkEntry.queries("q31_props_extract")(spark, dir)
      .orderBy(col("event_type")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(("a", 1L, 42L, 42.0), ("b", 1L, 7L, 7.0)))
  }

  test("jaro-winkler expression survives nulls and emoji") {
    val out = Seq((null: String, "abc"), ("", ""), ("😀", "😀x"))
      .toDF("a", "b")
      .select(org.apache.spark.sql.graftx.JaroWinklerSim.asColumn(col("a"), col("b")).as("j"))
      .collect()
    assert(out.head.isNullAt(0)) // null in, null out
  }
}
