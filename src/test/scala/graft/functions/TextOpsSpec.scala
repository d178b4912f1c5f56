package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.operators.CurationFunnel
import graft.queries.TextQueries

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String) =
    Seq(Tuple1(text)).toDF("text").select(c).head()

  /** The higher-order-function forms the word-based columns had before
    * they became UDFs over one JIT'd tokenization: the reference every
    * converted column must equal in value, type and nullability.
    */
  private object Lambda {
    def words(text: Column): Column =
      filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)
    def bm25Tokens(text: Column): Column =
      filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 1)
    def avgWordLen(text: Column): Column = {
      val w = words(text)
      when(size(w) === 0, lit(0.0))
        .otherwise(aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(w))
    }
    def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
      val w = words(text)
      when(size(w) === 0, lit(0.0))
        .otherwise(size(filter(w, t => t.isin(stopwords.map(lit(_)): _*)))
          .cast("double") / size(w))
    }
    def langScore(text: Column, profile: Seq[String]): Column =
      if (profile.isEmpty) lit(0L)
      else size(filter(words(text), t => t.isin(profile.map(lit(_)): _*))).cast("long")
    def langGuess(text: Column): Column = {
      val ordered = TextOps.LangProfiles.map { case (l, p) => l -> langScore(text, p) }.sortBy(_._1)
      val arr = array(ordered.map(_._2): _*)
      val names = array(ordered.map(o => lit(o._1)): _*)
      when(array_max(arr) > 0,
        element_at(names, array_position(arr, array_max(arr)).cast("int")))
        .otherwise(lit("unknown"))
    }
    def qualityKeep(text: Column, stopwords: Seq[String]): Column = {
      val w = words(text)
      size(w).between(20, 100000) &&
        avgWordLen(text).between(3.0, 10.0) &&
        TextOps.punctRatio(text) < 0.1 &&
        size(array_intersect(array_distinct(w), array(stopwords.map(lit(_)): _*))) >= 2
    }
  }

  private val stop = TextQueries.Stopwords

  /** (name, converted column, lambda reference) for every converted function. */
  private def pairs(t: Column): Seq[(String, Column, Column)] =
    Seq(
      ("words", TextOps.words(t), Lambda.words(t)),
      ("bm25_tokens", graft.search.Bm25.tokens(t), Lambda.bm25Tokens(t)),
      ("avg_word_len", TextOps.avgWordLen(t), Lambda.avgWordLen(t)),
      ("stopword_ratio", TextOps.stopwordRatio(t, stop), Lambda.stopwordRatio(t, stop)),
      ("lang_guess", TextOps.langGuess(t), Lambda.langGuess(t)),
      ("quality_keep", CurationFunnel.qualityKeep(t, stop), Lambda.qualityKeep(t, stop))
    ) ++ TextOps.LangProfiles.map { case (l, p) =>
      (s"lang_score_$l", TextOps.langScore(t, p), Lambda.langScore(t, p))
    }

  /** Asserts every converted column equals its lambda reference on every
    * text: same type, same nullability, same value (doubles compared with `==`).
    */
  private def assertParity(texts: Seq[String]): Unit = {
    val df = texts.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "text")
    val ps = pairs(col("text"))
    val out = df.select(col("i") +: ps.flatMap { case (n, c, r) =>
      Seq(c.as(s"new_$n"), r.as(s"ref_$n")) }: _*)
    val fields = out.schema.fields.drop(1).grouped(2).toSeq
    fields.foreach { case Array(n, r) =>
      assert(n.dataType == r.dataType && n.nullable == r.nullable, s"${n.name}: $n vs $r")
    }
    out.collect().foreach { row =>
      ps.indices.foreach { k =>
        val (n, r) = (row.get(1 + 2 * k), row.get(2 + 2 * k))
        assert(n == r, s"${ps(k)._1} of ${texts(row.getInt(0))}: $n vs $r")
      }
    }
  }

  private def ws(n: Int, w: String): String = Seq.fill(n)(w).mkString(" ")

  test("word-based columns equal their lambda forms: nulls, blanks, Unicode, ties, boundaries") {
    val twenty = "the and " + ws(18, "cat") // 20 words, mean length exactly 3.0
    val ten = "the and " + ws(17, "abcdefghij") + " " + "x" * 24 // mean length exactly 10.0
    assertParity(Seq(null, "", " ", " \t\n\r ", "ÄÖß İstanbul 𝔘nicode straße",
      "\u212Aelvin IS ΟΔΟΣ ſt Ǆ ﬀ", "la de que", "de de la la que", "the the the der die", "der die das le les",
      "The AND Of", twenty, twenty.dropRight(4), twenty.dropRight(1),
      ten, ten + "x", "the and  " + ws(18, "cat") + " " + "!" * 9, // punct share 9/90 == 0.1
      "the and  " + ws(18, "cat") + " " + "!" * 8, "1 2 3 a_b-c"))
  }

  test("hand-checked values of the converted columns") {
    val u = "ÄÖß İstanbul 𝔘nicode straße"
    assert(one(TextOps.words(col("text")), u).getSeq[String](0) == Seq("i", "stanbul", "nicode", "stra", "e"))
    assert(one(TextOps.avgWordLen(col("text")), u).getDouble(0) == 3.8)
    assert(math.abs(one(TextOps.punctRatio(col("text")), u).getDouble(0) - 0.2222) < 1e-4)
    assert(one(TextOps.langGuess(col("text")), "la de que").getString(0) == "es") // es/fr tie
    val n = Seq[String](null).toDF("text")
    val r = n.select(TextOps.langGuess(col("text")), TextOps.words(col("text")),
      TextOps.avgWordLen(col("text")), TextOps.stopwordRatio(col("text"), stop),
      CurationFunnel.qualityKeep(col("text"), stop)).head()
    assert(r.getString(0) == "unknown" && (1 to 4).forall(r.isNullAt))
    val twenty = "the and " + ws(18, "cat")
    val keep = Seq(twenty, twenty.dropRight(4), "the and  " + ws(18, "cat") + " " + "!" * 9,
      "the and  " + ws(18, "cat") + " " + "!" * 8).toDF("text")
      .select(CurationFunnel.qualityKeep(col("text"), stop)).collect().map(_.getBoolean(0))
    assert(keep.toSeq == Seq(true, false, false, true))
  }

  test("property: word-based columns equal their lambda forms on random Unicode text") {
    val codePoint = Gen.frequency(
      8 -> Gen.choose('a'.toInt, 'z'.toInt), 3 -> Gen.choose('A'.toInt, 'Z'.toInt),
      2 -> Gen.choose('0'.toInt, '9'.toInt), 2 -> Gen.oneOf(" \t\n.,!-\u000b".map(_.toInt)),
      2 -> Gen.choose(0xA0, 0x24F), 1 -> Gen.oneOf(0x130, 0x3A3, 0x1E9E, 0xFB00, 0x212A, 0x17F),
      1 -> Gen.choose(0x0, 0xFFFF).filter(c => !Character.isSurrogate(c.toChar)),
      1 -> Gen.choose(0x10000, 0x10FFFF))
    val token = Gen.frequency(
      3 -> Gen.oneOf((stop ++ TextOps.LangProfiles.flatMap(_._2)).distinct),
      4 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, codePoint))
        .map(cps => cps.map(c => new String(Character.toChars(c))).mkString))
    val doc = for {
      n <- Gen.frequency(1 -> Gen.choose(0, 5), 3 -> Gen.choose(15, 40))
      ts <- Gen.listOfN(n, token)
      sep <- Gen.oneOf(" ", " ", "  ", ", ", "\u00a0")
    } yield ts.mkString(sep)
    val texts = (1L to 400L).flatMap(i => doc(Gen.Parameters.default, Seed(i)))
    assert(texts.size > 300)
    assertParity(texts)
  }

  test("token counting: whitespace vs bpe-ish") {
    assert(one(TextOps.wsTokenCount(col("text")), "hello world  again").getInt(0) == 3)
    // "don't stop" -> [don]['][t][stop] = 4 bpe-ish, 2 ws
    assert(one(TextOps.bpeishTokenCount(col("text")), "don't stop").getInt(0) == 4)
    assert(one(TextOps.wsTokenCount(col("text")), "don't stop").getInt(0) == 2)
    // digit runs split from letters: "abc123 x" -> [abc][123][x]
    assert(one(TextOps.bpeishTokenCount(col("text")), "abc123 x").getInt(0) == 3)
  }

  test("quality metrics") {
    assert(math.abs(one(TextOps.avgWordLen(col("text")), "ab abcd").getDouble(0) - 3.0) < 1e-12)
    assert(math.abs(one(TextOps.stopwordRatio(col("text"), Seq("the", "a")), "the big a cat")
      .getDouble(0) - 0.5) < 1e-12)
    assert(math.abs(one(TextOps.punctRatio(col("text")), "ab!?").getDouble(0) - 0.5) < 1e-12)
    assert(one(TextOps.punctRatio(col("text")), "").getDouble(0) == 0.0)
  }

  test("language guess: profile argmax with lexicographic tie-break") {
    assert(one(TextOps.langGuess(col("text")), "the cat and the dog is here").getString(0) == "en")
    assert(one(TextOps.langGuess(col("text")), "der hund und die katze ist").getString(0) == "de")
    assert(one(TextOps.langGuess(col("text")), "le chat et la table est").getString(0) == "fr")
    // no stopwords at all -> no signal -> unknown
    assert(one(TextOps.langGuess(col("text")), "xyzzy plugh").getString(0) == "unknown")
  }

  test("unigram LM score: rarer tokens score lower; hand-computed mean logprob") {
    // corpus: doc1 = "aa aa bb", doc2 = "aa zz"
    // unigrams: aa=3, bb=1, zz=1, total=5
    val docs = Seq((1L, "aa aa bb"), (2L, "aa zz")).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      explode(graft.search.Bm25.tokens(col("text"))).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = uni.agg(sum(col("cnt")).as("n"))
    val out = toks.join(uni, Seq("w")).crossJoin(tot)
      .groupBy(col("doc_id"))
      .agg(avg(log(col("cnt") / col("n"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d1 = (2 * math.log(3.0 / 5) + math.log(1.0 / 5)) / 3
    val d2 = (math.log(3.0 / 5) + math.log(1.0 / 5)) / 2
    assert(math.abs(out(1L) - d1) < 1e-12)
    assert(math.abs(out(2L) - d2) < 1e-12)
    assert(out(2L) < out(1L)) // the zz-heavy doc is more OOD
  }

  test("fingerprint: order-sensitive, deterministic, stable") {
    val fp1 = one(TextOps.fingerprint("text"), "alpha beta gamma").getLong(0)
    val fp2 = one(TextOps.fingerprint("text"), "gamma beta alpha").getLong(0)
    val fp1b = one(TextOps.fingerprint("text"), "alpha beta gamma").getLong(0)
    assert(fp1 == fp1b)
    assert(fp1 != fp2) // order matters
    assert(fp1 >= 0 && fp1 < TextOps.FpMod)
    assert(one(TextOps.fingerprint("text"), "").getLong(0) == 0L)
  }
}
