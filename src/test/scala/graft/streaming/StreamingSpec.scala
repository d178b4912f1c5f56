package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.index.IndexStore
import graft.streaming.WatchPipeline.FileEvent

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val store = Files.createTempDirectory("graft_stream_store").toString

  test("coalesce: last event per path wins; delete beats same-ts create") {
    val events = Seq(
      FileEvent("a.py", "created", 100L, "def f(): pass"),
      FileEvent("a.py", "modified", 200L, "def f(): return 1"),
      FileEvent("b.py", "created", 100L, "def g(): pass"),
      FileEvent("b.py", "deleted", 100L, "")
    ).toDF
    val out = WatchPipeline.coalesce(events).as[FileEvent].collect()
      .map(e => e.relPath -> e.eventType).toMap
    assert(out("a.py") == "modified")
    assert(out("b.py") == "deleted")
  }

  test("processBatch: upsert then modify then delete, via the batch-merge path") {
    val b1 = Seq(
      FileEvent("m.py", "created", 1L, "def hello():\n    '''Say hi.'''\n    return 'hi'\n"),
      FileEvent("n.py", "created", 1L, "def other():\n    return hello()\n")
    ).toDS
    val r1 = WatchPipeline.processBatch(spark, b1, store)
    assert(r1.chunksWritten > 0)
    val names1 = IndexStore.readChunks(spark, store)
      .filter(col("chunkType") === "metadata").select("entityName")
      .collect().map(_.getString(0)).toSet
    assert(names1.contains("hello") && names1.contains("other"))

    // modify m.py: rename hello -> greet; the calls edge other->hello dies
    val b2 = Seq(FileEvent("m.py", "modified", 2L,
      "def greet():\n    '''Say hi.'''\n    return 'hi'\n")).toDS
    WatchPipeline.processBatch(spark, b2, store)
    val chunks2 = IndexStore.readChunks(spark, store)
    val names2 = chunks2.filter(col("chunkType") === "metadata")
      .select("entityName").collect().map(_.getString(0)).toSet
    assert(names2.contains("greet") && !names2.contains("hello"))
    val calls2 = chunks2.filter(col("relationType") === "calls")
      .select("relationTarget").collect().map(_.getString(0)).toSet
    assert(!calls2.contains("hello"))

    // delete n.py: its chunks cascade away
    val b3 = Seq(FileEvent("n.py", "deleted", 3L, "")).toDS
    WatchPipeline.processBatch(spark, b3, store)
    val names3 = IndexStore.readChunks(spark, store)
      .filter(col("chunkType") === "metadata").select("entityName")
      .collect().map(_.getString(0)).toSet
    assert(!names3.contains("other"))
    assert(names3.contains("greet"))
  }

  test("processBatch filters events to the config scan surface; deletes always pass") {
    val store4 = Files.createTempDirectory("graft_stream_store4").toString
    val cfg = graft.core.GraftConfig(excludes = Seq("vendor/"), maxFileSize = 64L)
    val b1 = Seq(
      FileEvent("app.py", "created", 1L, "def app():\n    return 1\n"),
      FileEvent("keep.py", "created", 1L, "def keep():\n    return 2\n"),
      FileEvent("vendor/lib.py", "created", 1L, "def vendored():\n    return 0\n"),
      FileEvent("huge.py", "created", 1L, "# " + "x" * 200 + "\n")
    ).toDS
    WatchPipeline.processBatch(spark, b1, store4, config = cfg)
    val names1 = IndexStore.readChunks(spark, store4)
      .filter(col("chunkType") === "metadata").select("entityName")
      .collect().map(_.getString(0)).toSet
    assert(names1.contains("app"))
    assert(!names1.contains("vendored") && !names1.contains("huge.py"))

    // a delete for a file now OUTSIDE the surface still cascades
    val b2 = Seq(FileEvent("app.py", "deleted", 2L, "")).toDS
    WatchPipeline.processBatch(spark, b2, store4,
      config = cfg.copy(excludes = cfg.excludes :+ "app.py"))
    val names2 = IndexStore.readChunks(spark, store4)
      .filter(col("chunkType") === "metadata").select("entityName")
      .collect().map(_.getString(0)).toSet
    assert(!names2.contains("app"))
  }

  test("streaming end-to-end: MemoryStream -> foreachBatch -> store") {
    val store2 = Files.createTempDirectory("graft_stream_store2").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FileEvent]
    val q = WatchPipeline.start(mem.toDS(), store2, checkpointDir = ckpt, debounceMs = 100L)
    try {
      mem.addData(FileEvent("s.py", "created", 1L, "def stream_fn():\n    return 42\n"))
      q.processAllAvailable()
      val names = IndexStore.readChunks(spark, store2)
        .filter(col("chunkType") === "metadata").select("entityName")
        .collect().map(_.getString(0)).toSet
      assert(names.contains("stream_fn"))
    } finally q.stop()
  }

  test("initialIndexThenWatch: full index first, then incremental stream") {
    val repo = Files.createTempDirectory("graft_iw_repo")
    java.nio.file.Files.writeString(repo.resolve("base.py"),
      "def base_fn():\n    return 1\n")
    val store3 = Files.createTempDirectory("graft_iw_store").toString
    val ckpt = Files.createTempDirectory("graft_iw_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FileEvent]
    val q = WatchPipeline.initialIndexThenWatch(spark, repo.toString, mem.toDS(), store3,
      checkpointDir = ckpt, debounceMs = 100L)
    try {
      // initial index ran before any event
      val names0 = IndexStore.readChunks(spark, store3)
        .filter(col("chunkType") === "metadata").select("entityName")
        .collect().map(_.getString(0)).toSet
      assert(names0.contains("base_fn"))
      // stream adds incrementally on top
      mem.addData(FileEvent("added.py", "created", 1L, "def added_fn():\n    return 2\n"))
      q.processAllAvailable()
      val names1 = IndexStore.readChunks(spark, store3)
        .filter(col("chunkType") === "metadata").select("entityName")
        .collect().map(_.getString(0)).toSet
      assert(names1.contains("base_fn") && names1.contains("added_fn"))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicate content across micro-batches is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("docId", "ts", "content")
    val out = graft.streaming.StreamDedup.exactDedup(docs, "content", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    try {
      def t(s: Long) = new java.sql.Timestamp(s * 1000)
      mem.addData((1L, t(10), "alpha"), (2L, t(11), "beta"), (3L, t(12), "alpha"))
      q.processAllAvailable()
      mem.addData((4L, t(20), "alpha"), (5L, t(21), "gamma")) // 4 dups doc 1 cross-batch
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("docId").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("streaming keep-first bucket dedup: later bucket arrivals flag the keeper") {
    import graft.streaming.StreamDedup.DocEvent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val out = graft.streaming.StreamDedup.keepFirstPerBucket(mem.toDS(), "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory").queryName("skeep").start()
    try {
      def t(s: Long) = new java.sql.Timestamp(s * 1000)
      mem.addData(
        DocEvent(1L, "bx", t(10), "doc one"),
        DocEvent(2L, "by", t(11), "doc two"),
        DocEvent(3L, "bx", t(12), "doc one v2")) // same bucket, same batch
      q.processAllAvailable()
      mem.addData(DocEvent(4L, "bx", t(20), "doc one v3")) // same bucket, NEXT batch
      q.processAllAvailable()
      val rows = spark.table("skeep")
        .select("docId", "kept", "firstDocId").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
      assert(rows == Set(
        (1L, true, 1L), (2L, true, 2L),
        (3L, false, 1L), // within-batch dup
        (4L, false, 1L)  // cross-batch dup: state remembered the keeper
      ), s"got $rows")
    } finally q.stop()
  }

  test("streaming session windows: gap merge within key, close on watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("user", "ts")
    val out = graft.streaming.Sessionize.streamingSessions(df, "user", "ts",
      gap = "30 seconds", watermark = "10 seconds")
    val q = out.writeStream.outputMode("append").format("memory").queryName("ssess").start()
    try {
      def t(s: Long) = new java.sql.Timestamp(s * 1000)
      // u1: two events 20s apart (one session); u2: one event
      mem.addData(("u1", t(10)), ("u1", t(30)), ("u2", t(15)))
      q.processAllAvailable()
      // advance the watermark far past session end + gap -> sessions close
      mem.addData(("u3", t(1000)))
      q.processAllAvailable()
      val rows = spark.table("ssess")
        .select("user", "sess_start", "sess_end", "n_events").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
          r.getTimestamp(2).getTime / 1000, r.getLong(3))).toSet
      // session end = last event + gap (session_window semantics)
      assert(rows == Set(("u1", 10L, 60L, 2L), ("u2", 15L, 45L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("stream-static enrichment join: each micro-batch joins the dim without restarting") {
    // the standard streaming-ingest shape: events stream in, a STATIC dim
    // (here a quality tier per source) broadcasts onto every micro-batch —
    // no stream-stream state, no watermark needed for an inner equi-join
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(("src0", "high"), ("src1", "low")).toDF("source", "tier")
    val mem = MemoryStream[(Long, String)]
    val joined = mem.toDF().toDF("doc_id", "source")
      .join(org.apache.spark.sql.functions.broadcast(dim), "source")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    try {
      mem.addData((1L, "src0"), (2L, "src1"), (3L, "srcX")) // srcX: no dim row -> dropped
      q.processAllAvailable()
      val out = spark.table("enriched").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("tier")).toMap
      assert(out == Map(1L -> "high", 2L -> "low"))
      mem.addData((4L, "src0")) // second batch joins the same static dim
      q.processAllAvailable()
      assert(spark.table("enriched").count() == 3)
    } finally q.stop()
  }

  test("streaming near-dup: each micro-batch probes the indexed corpus bands") {
    // the production ingest shape: a static already-indexed corpus, a
    // stream of new docs, and per-batch MinHashLsh.newVsCorpus inside
    // foreachBatch (stream-static; no stream state — the corpus band
    // table is the state, exactly as it would be at 100 TB)
    import graft.dedup.MinHashLsh
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "completely unrelated corpus document with other words entirely")
    ).toDF("doc_id", "text")
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val res = MinHashLsh.newVsCorpus(corpus, batch, "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(3)))
        hits.synchronized { hits ++= res }
        ()
      }.start()
    try {
      mem.addData((1L, "the quick brown fox jumps over the lazy dog today"))
      q.processAllAvailable()
      // one changed trailing word: 3 of 4 bands still collide (verified
      // against the same md5/affine math the oracle replays)
      mem.addData((2L, "the quick brown fox jumps over the lazy dog soon"),
        (3L, "nothing like anything indexed before appears in this text"))
      q.processAllAvailable()
      val byDoc = hits.toMap
      assert(byDoc(1L) == 100L)          // exact dup found across batch 1
      assert(byDoc.get(2L).contains(100L)) // near-dup found across batch 2
      assert(!byDoc.contains(3L))        // novel doc produces no candidate
    } finally q.stop()
  }

  test("streaming sketch maintenance: HLL registers merged across micro-batches equal the batch sketch") {
    // the sketch production shape: each micro-batch builds its own tiny
    // register table and MERGES into the running one (register max) —
    // stream state is 16 rows per group forever, and the final registers
    // are bit-identical to a single batch pass over everything
    import graft.functions.HllSketch
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    var state: org.apache.spark.sql.DataFrame =
      Seq.empty[(String, Int, Int)].toDF("grp", "j", "reg")
    val mem = MemoryStream[(String, String)]
    val q = mem.toDF().toDF("grp", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val br = HllSketch.registers(batch, "grp", "v")
        state = HllSketch.merge(state, br).localCheckpoint(true)
        ()
      }.start()
    try {
      val b1 = (1 to 300).map(i => ("g", s"item_$i"))
      val b2 = (200 to 500).map(i => ("g", s"item_$i")) // overlaps b1
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = state.orderBy("grp", "j").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
      val whole = HllSketch.registers((b1 ++ b2).toDF("grp", "v"), "grp", "v")
        .orderBy("grp", "j").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
      assert(streamed == whole)
    } finally q.stop()
  }

  test("stream-stream interval join: impressions match clicks within the window, state watermark-bounded") {
    // the ad-attribution / search-CTR shape: two live streams, joined on
    // key with an EVENT-TIME interval condition — the condition is what
    // lets Spark bound both sides' state by the watermark instead of
    // buffering the streams forever
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val impDf = imps.toDF().toDF("imp_id", "imp_ts").withWatermark("imp_ts", "10 seconds")
    val clkDf = clicks.toDF().toDF("clk_id", "clk_ts").withWatermark("clk_ts", "10 seconds")
    val joined = impDf.join(clkDf,
      col("imp_id") === col("clk_id") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr("INTERVAL 5 SECONDS"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("attrib").start()
    try {
      imps.addData((1L, t(100)), (2L, t(100)), (3L, t(100)))
      clicks.addData((1L, t(103)), (2L, t(109)), (4L, t(101)))
      q.processAllAvailable()
      // 1: click 3 s after impression -> attributed; 2: 9 s -> outside the
      // 5 s window; 4: no matching impression
      val got = spark.table("attrib").select("imp_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L))
      // cross-batch: a click arriving in a LATER batch still joins the
      // buffered impression while inside the watermark horizon
      clicks.addData((3L, t(104)))
      q.processAllAvailable()
      val got2 = spark.table("attrib").select("imp_id").collect().map(_.getLong(0)).toSet
      assert(got2 == Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming trending tokens: MG state stays bounded and keeps the hot token across batches") {
    import graft.streaming.StreamTrending
    import graft.streaming.StreamTrending.TokenEvent
    implicit val sqlCtx = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val k = 8; val shards = 4
    val mem = MemoryStream[TokenEvent]
    val out = StreamTrending.trendingCandidates(mem.toDS(), k, shards)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("strend").start()
    try {
      // batch 1: 30x hot + 20 distinct noise; batch 2: 20x hot + 20 more noise
      mem.addData((1 to 30).map(i => TokenEvent("hot", t(i)))
        ++ (1 to 20).map(i => TokenEvent(s"n1_$i", t(100 + i))): _*)
      q.processAllAvailable()
      mem.addData((1 to 20).map(i => TokenEvent("hot", t(200 + i)))
        ++ (1 to 20).map(i => TokenEvent(s"n2_$i", t(300 + i))): _*)
      q.processAllAvailable()
      // last update per shard
      val rows = spark.table("strend").collect()
      val hotShard = (graft.core.Ids.hash31("hot") % shards).toInt
      val latest = rows.filter(_.getInt(0) == hotShard)
        .maxBy(_.getLong(3)) // highest nSeen = most recent update
      val toks = latest.getSeq[String](1)
      assert(toks.length <= k, s"state exceeded k: ${toks.length}")
      assert(toks.contains("hot"), s"hot token evicted: $toks")
      // cross-batch accumulation: its kept count reflects both batches
      // (MG under-counts by at most nSeen/(k+1))
      val hotCnt = latest.getSeq[Long](2)(toks.indexOf("hot"))
      val nSeen = latest.getLong(3)
      assert(hotCnt >= 50L - nSeen / (k + 1), s"count $hotCnt vs bound")
      // parity with the batch replay of the same fold, per shard
      val allToks = (1 to 30).map(_ => "hot") ++ (1 to 20).map(i => s"n1_$i") ++
        (1 to 20).map(_ => "hot") ++ (1 to 20).map(i => s"n2_$i")
      val batchHot = StreamTrending.batchSummaries(allToks, k, shards)
        .find(_.shard == hotShard).get
      assert(batchHot.tokens.contains("hot"))
    } finally q.stop()
  }
}
