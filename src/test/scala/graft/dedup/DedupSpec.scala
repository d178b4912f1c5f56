package graft.dedup

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.{JobCount, SparkSpec}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "s1", "the quick brown fox jumps over the lazy dog"),
    (2L, "s1", "the quick brown fox jumps over the lazy dog"),          // exact dup of 1
    (3L, "s1", "dog lazy the over jumps fox brown quick the"),          // word-set dup of 1
    (4L, "s1", "completely different tokens appear in this line here"),
    (5L, "s2", "the quick brown fox jumps over the lazy cat today ok")  // near-dup of 1
  ).toDF("doc_id", "source", "text")

  test("exact dedup: content hash catches exact, word-set catches reordered") {
    val stats = ExactDedup.dupStats(docs, "source", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats("s1") == ((4L, 3L, 2L))) // 4 docs, 3 exact, 2 word-sets
    assert(stats("s2") == ((1L, 1L, 1L)))
    val kept = ExactDedup.dedupKeepFirst(docs, "doc_id", "text")
    assert(kept.count() == 4) // doc 2 dropped
    assert(!kept.collect().map(_.getLong(0)).contains(2L))
    // keep-first elects with a partial-agged groupBy, not a window over the hash
    assert(kept.queryExecution.optimizedPlan
      .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]).isEmpty)
  }

  test("minhash: exact dups get identical signatures and est_jaccard 1.0") {
    val sigs = MinHashLsh.signatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs.values.forall(_.length == MinHashLsh.NumPerm))
    val pairs = MinHashLsh.candidatePairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    // doc 4 shares no shingles with doc 1 -> never a candidate
    assert(!pairs.contains((1L, 4L)))
  }

  test("minhash candidate pairs: one stage computes the band table, reading the corpus once") {
    // a lazily persisted band table put both self-join sides' stages on
    // its lineage at once: one computed it while the other held a task
    // slot, blocked on the cache block, and then read the cache
    val n = 3000L
    val dir = java.nio.file.Files.createTempDirectory("minhash_once").resolve("docs").toString
    spark.range(n).select(col("id").as("doc_id"), expr(
        "concat_ws(' ', transform(sequence(1, 40), i -> concat('w', cast((id * 31 + i * i) % 997 as string))))")
        .as("text"))
      .coalesce(1).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    // input records of the tasks of stages that scan a file, in this test's jobs
    val tag = "graft.test.minhash_once"
    val scanStages = ConcurrentHashMap.newKeySet[Int]()
    val read = new AtomicLong
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null) &&
            e.stageInfo.rddInfos.exists(_.name == "FileScanRDD")) scanStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (scanStages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // JobCount returns once the listener bus has delivered every event of the block
      JobCount(spark) {
        sc.setLocalProperty(tag, "1")
        try MinHashLsh.candidatePairs(docs, "doc_id", "text").count()
        finally sc.setLocalProperty(tag, null)
      }
    } finally sc.removeSparkListener(listener)
    assert(scanStages.size == 1)
    assert(read.get == n)
  }

  test("incremental dedup: batch probes corpus only — no batch-batch or corpus-corpus pairs") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"), // corpus-internal dup: must NOT pair
      (12L, "completely different tokens appear in this line here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog"), // dup of 10 and 11
      (21L, "the quick brown fox jumps over the lazy dog"), // batch-internal dup of 20: must NOT pair
      (22L, "nothing like anything stored before at all truly novel")
    ).toDF("doc_id", "text")
    val out = MinHashLsh.newVsCorpus(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("new_doc") ->
        (r.getAs[Double]("best_est"), r.getAs[Long]("n_cand"), r.getAs[Long]("best_match"))).toMap
    // both batch dups match the corpus pair with est 1.0, tie-broken to doc 10
    assert(out(20L) == ((1.0, 2L, 10L)))
    assert(out(21L) == ((1.0, 2L, 10L)))
    // the novel doc has no candidates at all
    assert(!out.contains(22L))
  }

  test("simhash: exact dups have identical fingerprints; hamming 0") {
    val pairs = SimHash.closePairs(docs, "doc_id", "text", "source", 3).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getInt(3)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(!pairs.contains((1L, 4L))) // different text far in hamming
  }

  test("ngram jaccard: exact dup 1.0; near-dup high; unrelated low") {
    val pairs = NgramJaccard.jaccardPairs(docs, "doc_id", "text", "source", 3, 0.0).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.5)  // reordered words share most 3-grams
    assert(pairs((1L, 4L)) < 0.2)
  }

  test("embedding near-dup: brute and bucketed agree inside a bucket") {
    val emb = Seq(
      (1L, Array(1.0, 0.1, 0.2, 0.3)),
      (2L, Array(0.9, 0.12, 0.22, 0.28)), // near-dup of 1
      (3L, Array(-1.0, 0.5, -0.5, 0.1))
    ).toDF("id", "v")
    val brute = EmbeddingDedup.pairsBrute(emb, "id", "v", 0.9).collect()
    assert(brute.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val bucketed = EmbeddingDedup.pairsBucketed(emb, "id", "v", 0.9, 4).collect()
    assert(bucketed.map(r => (r.getLong(1), r.getLong(2))).toSet == Set((1L, 2L)))
  }

  test("decontamination: eval doc sharing an 8-gram with a train doc is flagged") {
    import graft.functions.Splits
    // the split is hash-determined, so discover labels first and plant the
    // shared text on one train id and one eval id
    val ids = (0L until 100L).toDF("doc_id")
      .withColumn("split", Splits.splitLabel(col("doc_id"), 80, 10))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val trainId = ids.collectFirst { case (i, "train") => i }.get
    val evalIds = ids.collect { case (i, s) if s != "train" => i }
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (trainId, shared),
      (evalIds(0), shared),                                     // contaminated copy
      (evalIds(1), "omicron sigma upsilon words with no overlap at all here now")
    ).toDF("doc_id", "text")
    val cont = Decontamination.contaminated(corpus, "doc_id", "text", 8, 80, 10)
      .collect().map(_.getLong(0)).toSet
    assert(cont == Set(evalIds(0)))
  }

  test("minhash calibration: exact dups land in the 12-agree bucket with zero bias") {
    val cal = MinHashLsh.calibration(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // docs 1 and 2 are exact duplicates: full signature agreement, true
    // jaccard 1.0, and therefore zero estimator bias in that bucket
    val (nPairs, avgEst, avgExact, bias) = cal(12L)
    assert(nPairs >= 1L && avgEst == 1.0 && avgExact == 1.0 && bias == 0.0)
    // every bucket's exact jaccard stays in [0, 1]
    cal.values.foreach { case (_, _, ex, _) => assert(ex >= 0.0 && ex <= 1.0) }
  }

  test("ngram novelty: exact dup scores 0, fresh doc scores 1, partial copy in between") {
    val corpus = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta"),
      (2L, "s1", "alpha beta gamma delta epsilon zeta"),       // exact dup → every gram shared
      (3L, "s1", "one two three four five six seven"),         // all grams unique
      (4L, "s2", "alpha beta gamma omicron sigma upsilon tau") // shares 'alpha beta gamma' only
    ).toDF("doc_id", "source", "text")
    val nov = NgramNovelty.docNovelty(corpus, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("novelty")).toMap
    assert(nov(1L) == 0.0 && nov(2L) == 0.0)
    assert(nov(3L) == 1.0)
    assert(nov(4L) > 0.0 && nov(4L) < 1.0) // the one shared gram drags it under 1
    val prof = NgramNovelty.noveltyProfile(corpus, "doc_id", "text", "source", 3, 0.5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(prof("s1") == ((3L, 2L))) // docs 1,2 flagged boilerplate; doc 3 not
    assert(prof("s2")._2 == 0L)
  }

  test("edit-distance verify: exact lev on LSH candidates, sim threshold prunes") {
    // 20 tokens so a 1-word edit leaves most shingles shared — the
    // deterministic minhash banding provably pairs all three variants
    // (single-band collisions on short docs are a coin flip; long docs
    // aren't, and this fixture was checked against the band replay)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lam mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq(
      (1L, base),
      (2L, base.replace("upsilon", "upsilom")),              // 1 substitution
      (3L, base),                                            // exact dup of 1
      (4L, "one two three four five six seven eight nine")   // unrelated
    ).toDF("doc_id", "text")
    val pairs = EditDistanceDedup.verifiedPairs(corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // exact dup: distance 0, sim 1; near dup: exactly the 1-char edit
    assert(pairs((1L, 3L)) == ((0L, 1.0)))
    assert(pairs((1L, 2L))._1 == 1L)
    assert(pairs((2L, 3L))._1 == 1L)
    // the unrelated doc shares no minhash band → never distanced
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // a tight threshold prunes the 1-edit pairs (sim = 1 - 1/102 ≈ 0.990)
    // but keeps the exact dup
    val strict = EditDistanceDedup.verifiedPairs(corpus, "doc_id", "text", 0.995)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 3L)))
  }
}
