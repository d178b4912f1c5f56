package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Quantiles, Splits, UrlOps}

/** Corpus-preparation operators over the documents table: URL
  * canonicalization (q55), percentile-band quality filtering backed by
  * scale-safe exact quantiles (q56), and deterministic source-mixing
  * sampling (q57).
  *
  * Gate designs: q55 constructs deliberately messy synthetic URLs from
  * doc_id (mixed case, www, default port, tracking params, trailing slash,
  * fragment) and the oracle states the expected canonical form in closed
  * form — agreement proves the normalizer undid every artifact. q56/q57
  * replay the quantile/hash arithmetic directly in SQL.
  */
object CorpusQueries {

  type Q = (SparkSession, String) => DataFrame

  def defs: Map[String, Q] = Map(
    // eTLD+1 registration-domain rollup (the Mozilla PSL longest-match
    // algorithm) over synthetic multi-level hosts that exercise
    // multi-label suffixes (co.uk), private registries (github.io), bare
    // suffixes, and no-match TLDs. The oracle states suffix and etld1 in
    // closed form per doc_id residue (the q55 URL discipline). The suffix
    // list broadcasts; the host table only shuffles for the final rollup.
    "q170_etld" -> ((s, dir) => {
      val hosts = Tables.documents(s, dir).select(
        when(col("doc_id") % 12 === 5, lit("github.io"))
          .when(col("doc_id") % 12 === 11, lit("router.localdomain"))
          .when(col("doc_id") % 6 === 0,
            concat(lit("a"), col("doc_id") % 10, lit(".example.com")))
          .when(col("doc_id") % 6 === 1, lit("b.c.example.co.uk"))
          .when(col("doc_id") % 6 === 2,
            concat(lit("site"), col("doc_id") % 5, lit(".github.io")))
          .when(col("doc_id") % 6 === 3, lit("x.y.ministry.gov"))
          .otherwise(concat(lit("blog"), col("doc_id") % 3, lit(".example.org")))
          .as("host"))
      graft.functions.PublicSuffix.registrableDomain(hosts, "host")
        .groupBy(col("suffix"), col("etld1"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("suffix"), col("etld1"))
    }),

    // Population-Stability-Index drift between two deterministic halves
    // of the corpus over width-50 n_chars bins (the per-bin "where did
    // the distribution move" companion to q134's KS test). Fixed integer
    // bin edges — quantile edges would be engine-unstable floats. One
    // map pass + one partial agg; everything after is bin-table-sized.
    "q150_psi_drift" -> ((s, dir) =>
      graft.functions.PsiDrift.report(Tables.documents(s, dir),
        "doc_id", "n_chars", binWidth = 50, nBins = 12, cutPct = 50)),

    // HTML main-content extraction (boilerpipe/jusText block-density
    // rule): synthetic pages wrap each document's text in nav chrome
    // (link-dense, short → dropped) and promo chrome (short → dropped);
    // every third page carries a second article paragraph. The oracle
    // states block and content counts and extracted char totals in
    // closed form (the q84 discipline).
    "q143_content_extract" -> ((s, dir) => {
      val html = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          lit("<html><body><nav><a href=\"/h\">Home</a> <a href=\"/a\">About us page</a></nav><p>"),
          col("text"), lit("</p>"),
          when(col("doc_id") % 3 === 0,
            concat(lit("<p>"), col("text"), lit(" extra tail</p>")))
            .otherwise(lit("")),
          lit("<div><a href=\"/l\">promo link</a> promo text</div></body></html>"))
          .as("html"))
      graft.ingest.ContentExtract.stats(html, "doc_id", "html")
        .orderBy(col("doc_id"))
    }),

    // robots.txt admission (RFC 9309 subset): synthetic per-host robots
    // bodies exercising UA-group selection (graftbot beats *), prefix
    // rules, nested Allow override, '*' wildcard, and '$' anchor; 7 URL
    // shapes per host stated closed-form by the oracle (the q84
    // discipline). Robots parse ONCE per host then broadcast-join the
    // URL set — admission itself never shuffles.
    "q141_robots" -> ((s, dir) => {
      import s.implicits._
      val urls = Tables.documents(s, dir).select(
        concat(lit("h"), col("doc_id") % 5).as("host"),
        when(col("doc_id") % 7 === 0, concat(lit("/a/p"), col("doc_id")))
          .when(col("doc_id") % 7 === 1, concat(lit("/private/p"), col("doc_id")))
          .when(col("doc_id") % 7 === 2, concat(lit("/private/ok/p"), col("doc_id")))
          .when(col("doc_id") % 7 === 3, concat(lit("/tmp/x"), col("doc_id")))
          .when(col("doc_id") % 7 === 4, concat(lit("/tmpfile"), col("doc_id")))
          .when(col("doc_id") % 7 === 5, concat(lit("/b/q"), col("doc_id"), lit(".html")))
          .otherwise(concat(lit("/a/p"), col("doc_id"), lit(".php"))).as("path"))
      val robots = (0 until 5).map { h =>
        (s"h$h",
          s"""# synthetic robots for h$h
             |User-agent: graftbot
             |Disallow: /private
             |Allow: /private/ok
             |Disallow: /tmp*
             |Disallow: /*.php$$
             |Crawl-delay: ${h + 1}
             |
             |User-agent: *
             |Disallow: /
             |""".stripMargin)
      }.toDF("host", "robots")
      graft.ingest.RobotsTxt
        .admit(urls, "host", "path", robots, "host", "robots", "graftbot-1.0")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          max(col("crawl_delay")).as("crawl_delay"))
        .orderBy(col("host"))
    }),

    // Bucketed two-sample Kolmogorov–Smirnov drift between every language
    // pair's length distribution: histogram counts partial-agg map-side;
    // the CDF windows and the pairwise max-gap run on the bounded
    // groups×buckets grid, never on rows. Each CDF cell is one integer
    // division and max is order-insensitive, so the statistic replays
    // bit-for-bit on any engine.
    "q134_ks_drift" -> ((s, dir) =>
      graft.functions.Drift.ksPairs(
        Tables.documents(s, dir).select(col("lang"), col("n_chars")),
        "lang", "n_chars", 50L)
        .orderBy(col("grp_a"), col("grp_b"))),

    // URL canonicalization + host-level rollup. The messy form exercises
    // every rule at once; per-host counts/min prove per-row correctness.
    "q55_url_normalize" -> ((s, dir) => {
      val messy = concat(
        lit("HTTPS://WWW.Site"), col("doc_id") % 37,
        lit(".example.COM:443/a/b"), col("doc_id") % 5,
        lit("/?utm_source=feed&ref=r"), col("doc_id") % 3,
        lit("&q=x"), col("doc_id") % 11, lit("#sec"))
      Tables.documents(s, dir)
        .select(col("doc_id"), messy.as("url"))
        .select(
          UrlOps.host(col("url")).as("host"),
          UrlOps.normalized(col("url")).as("url_norm"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"), min(col("url_norm")).as("first_url"))
        .orderBy(col("host"))
    }),

    // Percentile-band filter: per-language P05/P95 of n_chars from the
    // distinct-value distribution (never buffers a group), then a
    // broadcast join back to count the kept band.
    "q56_quantile_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val qs = Quantiles.exactQuantiles(docs, "lang", "n_chars",
        Seq("p05" -> 0.05, "p95" -> 0.95))
      docs.join(broadcast(qs), "lang")
        .groupBy(col("lang"))
        .agg(
          max(col("p05")).as("p05"), // per-lang constant; max = the value
          max(col("p95")).as("p95"),
          sum(when(col("n_chars").between(col("p05"), col("p95")), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy(col("lang"))
    }),

    // Tokenizer-training corpus statistics: adjacent character-pair
    // counts within words (the counting step of a BPE vocab fit). Map +
    // double explode + partial-agg count + TakeOrdered top-k — the
    // canonical shape for corpus statistics at any scale.
    "q65_bpe_pairs" -> ((s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(graft.search.Bm25.tokens(col("text"))).as("w"))
      words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(30)
    }),

    // Multi-epoch deterministic shuffle: epoch-salted shard assignment —
    // every epoch a different permutation of the identical corpus. The
    // gate proves (a) both epochs cover every doc (counts per shard sum
    // to the corpus), (b) the permutations actually differ (n_moved > 0
    // rows), and (c) everything replays closed-form from the hash.
    "q76_epoch_shuffle" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("s0", Splits.hashBucket(col("doc_id"), 16, ":shard:e0"))
        .withColumn("s1", Splits.hashBucket(col("doc_id"), 16, ":shard:e1"))
      val e0 = d.groupBy(col("s0").as("shard"))
        .agg(count(lit(1)).as("n_e0"),
          sum(when(col("s1") =!= col("s0"), 1L).otherwise(0L)).as("n_moved"))
      val e1 = d.groupBy(col("s1").as("shard")).agg(count(lit(1)).as("n_e1"))
      e0.join(e1, Seq("shard"), "full")
        .select(col("shard"),
          coalesce(col("n_e0"), lit(0L)).as("n_e0"),
          coalesce(col("n_e1"), lit(0L)).as("n_e1"),
          coalesce(col("n_moved"), lit(0L)).as("n_moved"))
        .orderBy(col("shard"))
    }),

    // Largest-remainder budget allocation: integer per-source doc targets
    // that sum EXACTLY to the budget (q71's rounded targets need not).
    // floor the 6dp-rounded target (rounding first kills the last-ulp
    // normalizer jitter that made raw floor flake on exactly-integral
    // targets), then give the leftover units to the largest remainders.
    // The window is global but runs over the per-source planning table —
    // metadata-sized by construction, like q69's manifest.
    "q77_budget_alloc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 10000
      val counts = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val z = counts.agg(sum(pow(col("n_docs"), 0.7)).as("z"))
      val t = counts.crossJoin(broadcast(z))
        .withColumn("target", round(pow(col("n_docs"), 0.7) / col("z") * B, 6))
        .withColumn("base", floor(col("target")).cast("long"))
        .withColumn("rem", round(col("target") - col("base"), 6))
      val totBase = t.agg(sum(col("base")).as("tb"))
      // unpartitioned, so one task: bounded by one row per source
      val w = Window.orderBy(col("rem").desc, col("source"))
      t.crossJoin(broadcast(totBase))
        .withColumn("rk", row_number().over(w))
        .withColumn("alloc",
          col("base") + when(col("rk") <= lit(B.toLong) - col("tb"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"), col("target"), col("alloc"))
        .orderBy(col("source"))
    }),

    // Temperature-weighted source mixing (the multilingual-corpus sampling
    // rule): w_s ∝ n_s^0.7, targets for a 10k-doc budget, effective epochs
    // per source. One partial-agg shuffle + a broadcast single-row
    // normalizer — the planning half of q57's deterministic sampler.
    "q71_temperature_mix" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val z = counts.agg(sum(pow(col("n_docs"), 0.7)).as("z"))
      counts.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          round(pow(col("n_docs"), 0.7) / col("z"), 6).as("weight"),
          // round, NOT floor: with equal-sized sources w*budget is exactly
          // integral, and floor of an exact integer flips on the last-ulp
          // jitter of the parallel normalizer sum (observed flaking 499/500
          // at sf0.01); round() is stable a half-unit away from the edge
          round(pow(col("n_docs"), 0.7) / col("z") * 10000, 0).cast("long")
            .as("target_docs"),
          round(pow(col("n_docs"), 0.7) / col("z") * 10000 / col("n_docs"), 4)
            .as("epochs"))
        .orderBy(col("source"))
    }),

    // Hard-negative mining for contrastive retrieval training: for each
    // probe vector, the top-3 similar-but-not-near-dup neighbors
    // (cos < 0.95 excludes self + near-dups). Probes broadcast against the
    // corpus scan — one pass, no shuffle of the big side; the per-probe
    // top-k runs through Spark's WindowGroupLimit pushdown so each
    // partition keeps only 3 rows per probe before the final exchange.
    "q72_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      emb.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos",
          org.apache.spark.sql.graftx.CosineSimilarity.asColumn(col("embedding"), col("pv")))
        .filter(col("cos") < 0.95)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("probe_id"), col("vec_id").as("neg_id"),
          round(col("cos"), 6).as("cos"), col("rk").cast("long").as("rk"))
        .orderBy(col("probe_id"), col("rk"))
    }),

    // Compaction planner over a file manifest: pack files into ~64KB bins
    // per source via a running-sum window (bin = floor(bytes-before/target)).
    // The window partitions by source — parallelism = #sources, which is
    // the right shape because compaction plans over FILE METADATA (a
    // manifest ~6 orders of magnitude smaller than the data); the data
    // movement it plans is executed by the engine afterwards, per bin.
    "q69_compaction_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("_before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
        .withColumn("bin", floor(col("_before") / lit(65536)))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_chars")).as("bytes"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("bin"))
    }),

    // Key-skew diagnostic: per-key share of total plus a skew factor
    // (share × #keys — 1.0 means perfectly uniform), top-20 heaviest.
    // One partial-agg shuffle + a broadcast single-row total; the report
    // that decides WHERE salting (q33) is worth applying.
    "q70_skew_report" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val counts = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("n_total"),
        count(lit(1)).as("n_keys"))
      counts.crossJoin(broadcast(tot))
        .select(col("event_type"), col("cnt"),
          round(col("cnt") / col("n_total"), 6).as("share"),
          round(col("cnt") * col("n_keys") / col("n_total"), 4).as("skew_factor"))
        .orderBy(col("cnt").desc, col("event_type"))
        .limit(20)
    }),

    // Multi-granularity corpus stats in ONE pass: rollup(source, lang)
    // computes (source, lang), (source) and grand-total groups with a
    // single shuffle (Spark expands grouping sets map-side), where the
    // naive three-queries-and-union shape would scan the corpus three
    // times. The null-filled super-aggregate rows are named 'ALL'.
    "q66_rollup_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("first_doc"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("chars"), col("first_doc"))
        .orderBy(col("source"), col("lang"))),

    // Personalized PageRank over the q67 follow-graph, teleporting to the
    // node%7==0 seed set — "importance as seen from the seeds", the
    // crawl-frontier / topic-conditioned ranking primitive. Same
    // join+partial-agg iteration plan as q67; the oracle unrolls the
    // seeded recurrence the same way.
    "q136_ppr" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val e1 = ev.select((col("user_id") % 50).as("src"),
        ((col("user_id") * 7 + 3) % 50).as("dst"))
      val e2 = ev.select((col("user_id") % 50).as("src"),
        ((col("user_id") * 13 + 11) % 50).as("dst"))
      val edges = e1.unionByName(e2).distinct()
      val seeds = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node")))
        .distinct().filter(col("node") % 7 === 0)
      graft.operators.GraphOps.personalizedPageRank(
        edges, "src", "dst", seeds, iterations = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(col("node"))
    }),

    // Winsorized per-source robust length stats: exact rank-order p10/p90
    // cut points (row_number per source, doc_id tie-break — integer rank
    // conditions, no float percentile), then mean before/after clipping.
    // The per-group sort IS the exact-order-statistic cost; sources are a
    // bounded dimension, and the sketch alternative for unbounded groups
    // is the q106 histogram-quantile path.
    "q137_winsorized" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val ranked = Tables.documents(s, dir)
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      // rn == ceil(n/10) and rn == ceil(9n/10) as pure integer predicates
      val cuts = ranked.groupBy(col("source")).agg(
        max(when(col("rn") * 10 >= col("n")
          && (col("rn") - 1) * 10 < col("n"), col("n_chars"))).as("p10"),
        max(when(col("rn") * 10 >= col("n") * 9
          && (col("rn") - 1) * 10 < col("n") * 9, col("n_chars"))).as("p90"))
      ranked.join(cuts, Seq("source"))
        .withColumn("clipped",
          least(greatest(col("n_chars"), col("p10")), col("p90")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("p10")).as("p10"), max(col("p90")).as("p90"),
          round(avg(col("n_chars")), 6).as("mean_raw"),
          round(avg(col("clipped")), 6).as("mean_winsor"))
        .orderBy(col("source"))
    }),

    // Fixed-iteration PageRank over a cyclic synthetic follow-graph
    // derived from event users (two hash-successor edges per node, ~50
    // nodes at any sf). 3 iterations, d=0.85; the oracle unrolls the
    // same recurrence closed-form. Rounded to 6dp — both engines sum
    // IEEE doubles over small in-neighbor sets.
    "q67_pagerank" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val e1 = ev.select((col("user_id") % 50).as("src"),
        ((col("user_id") * 7 + 3) % 50).as("dst"))
      val e2 = ev.select((col("user_id") % 50).as("src"),
        ((col("user_id") * 13 + 11) % 50).as("dst"))
      graft.operators.GraphOps.pageRank(
        e1.unionByName(e2).distinct(), "src", "dst", iterations = 3)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(col("node"))
    }),

    // Distributed BFS over the region->nation->customer edge set, seeded
    // at region 0: depth labels from iterative frontier semi-joins (no
    // driver-side frontier), replayed by a recursive-CTE oracle.
    "q62_graph_bfs" -> ((s, dir) => {
      import s.implicits._
      val e1 = Tables.nation(s, dir).select(
        concat(lit("r"), col("n_regionkey")).as("src"),
        concat(lit("n"), col("n_nationkey")).as("dst"))
      val e2 = Tables.customer(s, dir).select(
        concat(lit("n"), col("c_nationkey")).as("src"),
        concat(lit("c"), col("c_custkey")).as("dst"))
      graft.operators.GraphOps.bfs(e1.unionByName(e2), "src", "dst",
        Seq("r0").toDF("node"), maxDepth = 2)
        .select(col("node"), col("depth"))
        .orderBy(col("node"))
    }),

    // Text normalization: NFC canonical composition (native codegen
    // expression — Spark has no builtin) + structure-preserving
    // whitespace/control cleanup. The messy input carries a decomposed
    // accent, a control char, CRLFs, tab/space runs and ragged edges; the
    // oracle states the exact cleaned string (composed accent via chr),
    // so agreement proves every rule fired.
    "q61_text_normalize" -> ((s, dir) => {
      // explicit escapes: decomposed accent (o + U+0301) and a BEL control
      val messy = concat(lit("  Wo\u0301rd\u0007\t x"), col("doc_id"),
        lit("  \r\n\r\n\r\n end  "))
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.TextNorm.clean(messy).as("norm"))
        .orderBy(col("doc_id"))
    }),

    // WebDataset shard ingestion: generate ustar training shards (one
    // .txt + one .cls member per sample, under a directory prefix), parse
    // with the real tar parser, group members into samples by basename
    // key, and report per-sample stats the oracle rebuilds closed-form.
    "q63_webdataset" -> ((s, _) => {
      import s.implicits._
      import graft.ingest.TarWebDataset
      val shards = s.range(8).map { sh =>
        val entries = (0 until 4).flatMap { k =>
          val txt = s"sample $sh:$k text " * (1 + (sh + k) % 3).toInt
          Seq(
            TarWebDataset.TarEntry(f"d$sh/$k%04d.txt", txt.getBytes("UTF-8")),
            TarWebDataset.TarEntry(f"d$sh/$k%04d.cls",
              ((sh * k) % 10).toString.getBytes("UTF-8")))
        }
        (sh, TarWebDataset.encodeTar(entries))
      }
      shards.flatMap { case (sh, tar) =>
        TarWebDataset.groupSamples(TarWebDataset.parseTar(tar)).map { sample =>
          (sh, sample.key,
            sample.parts("txt").length.toLong,
            new String(sample.parts("txt"), "UTF-8"),
            new String(sample.parts("cls"), "UTF-8").toLong)
        }
      }.toDF("shard", "key", "txt_len", "txt", "cls")
        .select(col("shard"), col("key"), col("txt_len"),
          md5(col("txt")).as("txt_md5"), col("cls"))
        .orderBy(col("shard"), col("key"))
    }),

    // WARC crawl ingestion: generate well-formed WARC payloads in the
    // executors, parse with the real container parser, split the HTTP
    // response header/body, and report per-record body stats. The oracle
    // rebuilds every body closed-form and md5s it — agreement requires
    // the Content-Length-driven record walk and the HTTP split to have
    // read the exact bytes.
    "q60_warc_ingest" -> ((s, _) => {
      import s.implicits._
      import graft.ingest.WarcParser
      val files = s.range(16).map { f =>
        WarcParser.encode((0 until 3).map { r =>
          val body = s"body $f:$r " * (1 + (f * 3 + r) % 5).toInt
          WarcParser.WarcRecord("response", s"https://example.com/f$f/r$r",
            "2026-01-01T00:00:00Z", "application/http; msgtype=response",
            ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body)
              .getBytes("UTF-8"))
        })
      }
      files.flatMap { bytes =>
        WarcParser.parse(bytes).flatMap { rec =>
          WarcParser.httpBody(rec.payload)
            .map(b => (rec.targetUri, b.length.toLong, new String(b, "UTF-8")))
        }
      }.toDF("uri", "body_len", "body")
        .select(col("uri"), col("body_len"), md5(col("body")).as("body_md5"))
        .orderBy(col("uri"))
    }),

    // Compressed crawl ingestion (.warc.gz, Common Crawl layout): each
    // record its own gzip member, concatenated per shard. Executors build
    // the gzipped shards, gunzip ALL members in one streaming pass, then
    // walk the plain-WARC bytes — the oracle rebuilds every body closed
    // form, so agreement proves the member-resuming decode fed the
    // Content-Length walk the exact original bytes.
    "q74_warc_gz" -> ((s, _) => {
      import s.implicits._
      import graft.ingest.WarcParser
      val files = s.range(12).map { f =>
        WarcParser.encodeGz((0 until 4).map { r =>
          val body = s"gz body $f:$r " * (1 + (f + 2 * r) % 6).toInt
          WarcParser.WarcRecord("response", s"https://example.org/g$f/r$r",
            "2026-01-01T00:00:00Z", "application/http; msgtype=response",
            ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body)
              .getBytes("UTF-8"))
        })
      }
      files.flatMap { gz =>
        WarcParser.parse(WarcParser.gunzipMembers(gz)).flatMap { rec =>
          WarcParser.httpBody(rec.payload)
            .map(b => (rec.targetUri, b.length.toLong, new String(b, "UTF-8")))
        }
      }.toDF("uri", "body_len", "body")
        .select(col("uri"), col("body_len"), md5(col("body")).as("body_md5"))
        .orderBy(col("uri"))
    }),

    // Sharded-export manifest: the deterministic global shuffle's
    // per-shard row counts, payload sizes, and order-hash spans.
    "q58_shard_export" -> ((s, dir) =>
      graft.operators.ShardedExport.shardStats(
        Tables.documents(s, dir), "doc_id", "n_chars", 16)
        .orderBy(col("shard"))),

    // Deterministic source mixing: srcN keeps (1 + N % 4) * 25% of its
    // docs by hash threshold — idempotent, retry-stable, and exactly
    // replayable (no RNG).
    "q57_domain_mix" -> ((s, dir) => {
      val wbp = (lit(1) + regexp_extract(col("source"), "(\\d+)$", 1)
        .cast("long") % 4) * 2500
      Tables.documents(s, dir)
        .withColumn("_wbp", wbp)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(Splits.weightedKeep(col("doc_id"), col("_wbp")), 1L)
            .otherwise(0L)).as("n_sampled"),
          max(col("_wbp")).as("target_bp"))
        .orderBy(col("source"))
    }),

    // Link-graph extraction: deterministic synthetic HTML (absolute,
    // root-relative, directory-relative, `./`-relative, and `../`-upward
    // hrefs plus mailto/fragment noise) → resolved edge table → per-page
    // degrees. The oracle states every resolved URL in closed form, so
    // agreement proves the extraction AND every resolution rule
    // including dot-segment collapsing (without which `../a.html` and
    // the canonical URL would fragment one page into two graph nodes);
    // the degree rollup rides the same two partial-agg shuffles it
    // would at crawl scale.
    "q84_link_graph" -> ((s, _) => {
      import s.implicits._
      val pages = (0 until 30).map { p =>
        val uri = s"https://ex${p % 3}.com/d${p / 10}/p$p.html"
        val q1 = (p * 7 + 1) % 30; val q2 = (p * 7 + 2) % 30; val q3 = (p * 7 + 3) % 30
        val q4 = (p * 7 + 4) % 30; val q5 = (p * 7 + 5) % 30
        val html =
          s"""<html><body>
             |<a class="x" href="https://ex${q1 % 3}.com/d${q1 / 10}/p$q1.html">abs</a>
             |<a href='/d${q2 / 10}/p$q2.html'>rooted</a>
             |<a href="p$q3.html#sec">rel</a>
             |<a href="./p$q4.html">dot</a>
             |<a href="../d${q5 / 10}/p$q5.html">up</a>
             |<a href="mailto:x@y.z">m</a><a href="#top">top</a>
             |</body></html>""".stripMargin
        (uri, html)
      }
      val edges = graft.operators.LinkGraph.edges(pages.toDF("uri", "html"), "uri", "html")
      graft.operators.LinkGraph.degrees(edges).orderBy(col("page"))
    }),

    // Anchor-text aggregation: q84's synthetic site, now with link inner
    // text — per TARGET page, how many links point at it and what they
    // call it (the crawl-curation signal that titles a page in its
    // neighbors' words). The oracle states every resolved (dst, anchor)
    // in closed form, so extraction, trimming, alignment of href↔text,
    // and the noise filters all check.
    "q103_anchor_text" -> ((s, _) => {
      import s.implicits._
      val pages = (0 until 30).map { p =>
        val uri = s"https://ex${p % 3}.com/d${p / 10}/p$p.html"
        val q1 = (p * 7 + 1) % 30; val q2 = (p * 7 + 2) % 30; val q3 = (p * 7 + 3) % 30
        val html =
          s"""<html><body>
             |<a class="x" href="https://ex${q1 % 3}.com/d${q1 / 10}/p$q1.html"> page $q1 guide </a>
             |<a href='/d${q2 / 10}/p$q2.html'>doc $q2</a>
             |<a href="p$q3.html#sec">ref $q3</a>
             |<a href="mailto:x@y.z">mail</a><a href="#top">top</a>
             |</body></html>""".stripMargin
        (uri, html)
      }
      graft.operators.LinkGraph.anchors(pages.toDF("uri", "html"), "uri", "html")
        .groupBy(col("dst"))
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("anchor")).as("n_texts"),
          min(col("anchor")).as("first_text"))
        .orderBy(col("dst"))
    }),

    // Per-source vocabulary KL divergence vs the corpus unigram
    // distribution — the domain-shift diagnostic a mixing plan reads
    // before weighting sources. Term-keyed partial-agg counts + one
    // broadcast 1-row corpus total; KL sums per source with map-side
    // combine (no windows, no doc pairs).
    "q93_kl_divergence" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.TextOps.words(col("text"))).as("t"))
        .filter(length(col("t")) > 1)
      val st = toks.groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      val ct = toks.groupBy(col("t")).agg(count(lit(1)).as("ct"))
      val ns = st.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val n = toks.agg(count(lit(1)).as("n_corpus"))
      st.join(ct, Seq("t"))
        .join(ns, Seq("source"))
        .crossJoin(broadcast(n)) // 1 row
        .withColumn("_kl", (col("c") / col("n_s")) *
          log((col("c") / col("n_s")) / (col("ct") / col("n_corpus"))))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          round(sum(col("_kl")), 6).as("kl"))
        .orderBy(col("source"))
    }),

    // Portable HLL distinct-count sketch (m=16, md5-31 derived — no RNG,
    // replayed register-exact by the oracle) vs the exact distinct count
    // per source. The mergeable-cardinality structure for 100 TB rollups.
    "q96_hll_distinct" -> ((s, dir) => {
      import graft.functions.HllSketch
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(graft.search.Bm25.tokens(col("text"))).as("w"))
      val est = HllSketch.estimate(HllSketch.registers(toks, "source", "w"))
        .withColumnRenamed("grp", "source")
      val exact = toks.groupBy(col("source")).agg(countDistinct(col("w")).as("n_exact"))
      exact.join(est, Seq("source")).orderBy(col("source"))
    }),

    // Portable count-min sketch (d=4 × w=64, md5-31 derived) probed with
    // the exact top-20 tokens: est ≥ exact always, equal absent
    // collisions. The mergeable FREQUENCY companion to q96's HLL — the
    // pair a 100 TB pipeline keeps per shard for cardinality + heavy
    // hitters without a term dictionary.
    "q99_cms_freq" -> ((s, dir) => {
      import graft.functions.CmsSketch
      val toks = Tables.documents(s, dir)
        .select(explode(graft.search.Bm25.tokens(col("text"))).as("w"))
      val exact = toks.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
      val probes = exact.orderBy(col("n_exact").desc, col("w")).limit(20)
      CmsSketch.estimate(CmsSketch.counters(toks, "w"), probes, "w")
        .withColumnRenamed("v", "w")
        .join(broadcast(probes), Seq("w"))
        .select(col("w"), col("n_exact"), col("est"))
        .orderBy(col("n_exact").desc, col("w"))
    }),

    // Histogram quantile sketch (64 bins, integer arithmetic) vs the
    // exact discrete quantile, per language: the O(b) mergeable
    // distribution sketch a rollup keeps where exact quantiles would
    // need the full value distribution. Estimates land within one bin
    // width — the gate shows both so the error is visible and replayed.
    "q106_hist_quantile" -> ((s, dir) => {
      import graft.functions.{HistSketch, Quantiles}
      val docs = Tables.documents(s, dir)
      val sk = HistSketch.estimate(HistSketch.bins(docs, "lang", "n_chars"),
        "lang", Seq("e50" -> 0.5, "e90" -> 0.9))
      val ex = Quantiles.exactQuantiles(docs, "lang", "n_chars",
        Seq("p50" -> 0.5, "p90" -> 0.9))
      ex.join(sk, Seq("lang")).orderBy(col("lang"))
    }),

    // Sketch ROLLUP — the production shape sketches exist for: ONE corpus
    // pass builds (source, lang) HLL registers; per-source and global
    // estimates derive from the 16-row-per-group register tables by
    // register max alone, never rescanning the corpus. The exact-distinct
    // column (a 3-level rollup recompute) is gate-only validation — at
    // 100 TB you'd HAVE only the sketch path, which is the point.
    "q108_hll_rollup" -> ((s, dir) => {
      import graft.functions.HllSketch
      val toks = Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          explode(graft.search.Bm25.tokens(col("text"))).as("w"))
      // localCheckpoint: the register table (16 rows/group) materializes
      // ONCE; every coarser level re-aggregates it — without this, each
      // level would re-run the corpus tokenize scan (q19/q73 discipline)
      val fine = HllSketch.registers(
        toks.withColumn("grp", concat_ws("|", col("source"), col("lang"))), "grp", "w")
        .localCheckpoint(eager = false) // lazy (r13): materializes inside the gate's one action
      val bySrc = HllSketch.merge(fine.withColumn("grp", substring_index(col("grp"), "|", 1)))
      val global = HllSketch.merge(fine.withColumn("grp", lit("ALL")))
      val est = HllSketch.estimate(fine).withColumn("level", lit("1_source_lang"))
        .unionByName(HllSketch.estimate(bySrc).withColumn("level", lit("2_source")))
        .unionByName(HllSketch.estimate(global).withColumn("level", lit("3_global")))
      val exact = toks.rollup(col("source"), col("lang"))
        .agg(countDistinct(col("w")).as("n_exact"))
        .select(
          when(col("lang").isNotNull, lit("1_source_lang"))
            .when(col("source").isNotNull, lit("2_source"))
            .otherwise(lit("3_global")).as("level"),
          when(col("lang").isNotNull, concat_ws("|", col("source"), col("lang")))
            .when(col("source").isNotNull, col("source"))
            .otherwise(lit("ALL")).as("grp"),
          col("n_exact"))
      exact.join(est, Seq("level", "grp")).orderBy(col("level"), col("grp"))
    }),

    // Export integrity manifest: per shard (q58's deterministic hash
    // assignment), ORDER-COMMUTATIVE content digests — sum and bit_xor
    // of each doc's 60-bit md5. Commutative means partial-aggregable
    // (map-side combine, no per-shard sort or list), so the manifest of
    // a petabyte shard costs one agg; any added / dropped / altered doc
    // flips both digests. The reproducibility artifact a data card pins.
    "q121_manifest" -> ((s, dir) => {
      // 31-bit per-doc hash: a 60-bit sum would overflow Long mid-agg
      // (silent wrap in Spark, HUGEINT in DuckDB — a cross-engine
      // divergence); 31-bit sums stay exact to ~4e9 docs per shard
      val h = (conv(substring(md5(col("text")), 1, 15), 16, 10)
        .cast("long") % 2147483647L)
      Tables.documents(s, dir)
        .withColumn("shard", Splits.hashBucket(col("doc_id"), 16, ":shard"))
        .withColumn("h", h)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("h")).as("sum_h"),
          expr("bit_xor(h)").as("xor_h"))
        .orderBy(col("shard"))
    }),

    // Corpus snapshot diff: v2 derives deterministically in-query (every
    // 11th doc dropped, every 7th edited, every 13th spawning a new id)
    // and the diff is ONE full-outer join on doc_id comparing content
    // hashes — added/removed/changed/unchanged counts, the Delta-style
    // versioning report between crawls. No content ships through the
    // join; only ids and digests.
    "q122_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val v1 = docs.select(col("doc_id"), md5(col("text")).as("h1"))
      val v2base = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h2"))
      val v2new = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(concat(col("text"), lit(" new"))).as("h2"))
      val v2 = v2base.unionByName(v2new)
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") === col("h2"), "unchanged")
            .otherwise("changed"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    // top-3 per source by the deterministic u^(1/n_chars) key — longer
    // docs proportionally likelier, no RNG, identical sample on re-run /
    // another cluster / the oracle. The rank-≤-k window compiles to
    // WindowGroupLimit (per-partition cut BEFORE the exchange).
    "q109_weighted_sample" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"),
          Splits.aresKey(col("doc_id"), col("n_chars")).as("k"))
      val w = Window.partitionBy(col("source")).orderBy(col("k").desc, col("doc_id"))
      keyed.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn").cast("long").as("rn"),
          col("doc_id"), col("n_chars"), round(col("k"), 6).as("key6"))
        .orderBy(col("source"), col("rn"))
    }),

    // Source × language pivot matrix: the reshape every corpus report
    // ends with. Spark pivot with EXPLICIT values (no discovery job);
    // one partial-agg shuffle total — each cell a conditional count.
    "q110_pivot" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("source"))),

    // Budget-constrained corpus resample: per source, greedily keep docs
    // in A-Res priority order (q109's weighted keys — longer docs
    // likelier) until a 2000-token budget fills. The mixture-CONSTRUCTION
    // step after q71 decides weights: deterministic, replayable, no RNG.
    // The cumulative-sum window partitions by source (the q9 sessionize
    // skew class — bounded by source size, and a 100 TB run would
    // pre-prune with q77's integer allocation before this exact pass).
    "q114_budget_resample" -> ((s, dir) => {
      import graft.functions.{Splits, TextOps}
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          TextOps.wsTokenCount(col("text")).cast("long").as("toks"))
        .withColumn("k", Splits.aresKey(col("doc_id"), col("toks")))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("k").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum(col("toks")).over(w))
        .filter(col("cum") <= 2000)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("toks")).as("tokens_kept"),
          max(col("cum")).as("budget_used"))
        .orderBy(col("source"))
    }),

    // KMV k-minimum-values distinct sketch (k=32) vs the exact per-source
    // distinct count — the order-statistics cardinality estimator that is
    // EXACT below k and mergeable above it, completing the sketch family
    // (HLL q96 / CMS q99 / histogram q106). The bounded typed Aggregator
    // ships ≤ 32 longs per group through the shuffle no matter the group's
    // cardinality; the oracle replays every kept hash and the single
    // integer-ratio estimate bit-for-bit.
    "q125_kmv_distinct" -> ((s, dir) => {
      import graft.functions.KmvSketch
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(graft.search.Bm25.tokens(col("text"))).as("w"))
      val est = KmvSketch.estimate(KmvSketch.sketch(toks, "source", "w"))
        .withColumnRenamed("grp", "source")
      val exact = toks.groupBy(col("source")).agg(countDistinct(col("w")).as("n_exact"))
      exact.join(est, Seq("source")).orderBy(col("source"))
    }),

    // HITS hubs & authorities over the q84 synthetic link graph: 5
    // integer-ppm iterations (exact long sums + integer renormalization
    // each half-step — no float anywhere), oracle-unrolled CTE-for-CTE.
    // The second eigenvector ranking next to PageRank q67: endorsement
    // quality, not just endorsement mass.
    "q126_hits" -> ((s, _) => {
      import s.implicits._
      val pages = (0 until 30).map { p =>
        val uri = s"https://ex${p % 3}.com/d${p / 10}/p$p.html"
        val q1 = (p * 7 + 1) % 30; val q2 = (p * 7 + 2) % 30; val q3 = (p * 7 + 3) % 30
        val html =
          s"""<a href="https://ex${q1 % 3}.com/d${q1 / 10}/p$q1.html">a</a>
             |<a href='/d${q2 / 10}/p$q2.html'>b</a>
             |<a href="p$q3.html">c</a>""".stripMargin
        (uri, html)
      }
      val edges = graft.operators.LinkGraph.edges(pages.toDF("uri", "html"), "uri", "html")
      graft.operators.Hits.run(edges, 5).orderBy(col("page"))
    }),

    // HLL SET ALGEBRA — pairwise source vocabulary overlap from the q96
    // registers alone: union = register max per pair, intersection =
    // inclusion-exclusion, Jaccard from the two. The point of mergeable
    // sketches at 100 TB: cross-shard overlap WITHOUT re-scanning either
    // side (the exact columns are gate-only validation). Register tables
    // are 16 rows/source; the pair grid is |sources|² — metadata-sized.
    "q211_hll_overlap" -> ((s, dir) => {
      import graft.functions.HllSketch
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(graft.search.Bm25.tokens(col("text"))).as("w"))
      // one tokenize scan feeds registers AND the exact validation
      val dw = toks.distinct().localCheckpoint(eager = false) // lazy (r13)
      val regs = HllSketch.registers(dw, "source", "w")
        .localCheckpoint(eager = false) // reused 3x (a-side, b-side, singles); lazy (r13)
      val estS = HllSketch.estimate(regs)
      val srcs = regs.select(col("grp")).distinct()
      val pairs = srcs.select(col("grp").as("sa"))
        .crossJoin(srcs.select(col("grp").as("sb")))
        .filter(col("sa") < col("sb")) // bounded: |sources|²
      val tag = concat_ws("|", col("sa"), col("sb"))
      val unionRegs = HllSketch.merge(
        pairs.join(regs.withColumnRenamed("grp", "sa"), Seq("sa"))
          .select(tag.as("grp"), col("j"), col("reg")),
        pairs.join(regs.withColumnRenamed("grp", "sb"), Seq("sb"))
          .select(tag.as("grp"), col("j"), col("reg")))
      val estU = HllSketch.estimate(unionRegs)
        .select(substring_index(col("grp"), "|", 1).as("sa"),
          substring_index(col("grp"), "|", -1).as("sb"),
          col("est").as("est_union"))
      val exactN = dw.groupBy(col("source")).agg(countDistinct(col("w")).as("nx"))
      val exactI = dw.as("x").join(dw.as("y"),
          col("x.w") === col("y.w") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(countDistinct(col("x.w")).as("n_exact_inter"))
      estU
        .join(estS.select(col("grp").as("sa"), col("est").as("est_a")), Seq("sa"))
        .join(estS.select(col("grp").as("sb"), col("est").as("est_b")), Seq("sb"))
        .join(exactI, Seq("sa", "sb"))
        .join(exactN.select(col("source").as("sa"), col("nx").as("na")), Seq("sa"))
        .join(exactN.select(col("source").as("sb"), col("nx").as("nb")), Seq("sb"))
        .withColumn("est_inter", round(col("est_a") + col("est_b") - col("est_union"), 6))
        .select(col("sa"), col("sb"),
          col("n_exact_inter"),
          (col("na") + col("nb") - col("n_exact_inter")).as("n_exact_union"),
          col("est_union"), col("est_inter"),
          when(col("est_union") > 0,
            round(col("est_inter") / col("est_union"), 6)).as("jaccard_est"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Jensen-Shannon divergence of each source's unigram distribution vs
    // the REST of the corpus — the symmetric, bounded cousin of q93's KL
    // (JSD ∈ [0, ln 2], defined even where supports differ, which is
    // exactly the mixing-report case). Distributions live on the term-
    // keyed count tables; the source×vocab densify is |sources|×|vocab|
    // — bounded by the source count, with partial-agg sums per source.
    "q213_js_divergence" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.functions.TextOps.words(col("text"))).as("t"))
        .filter(length(col("t")) > 1)
      val st = toks.groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      val ct = toks.groupBy(col("t")).agg(count(lit(1)).as("ct"))
      val ns = st.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val n = toks.agg(count(lit(1)).as("n_corpus"))
      val dense = ns.crossJoin(broadcast(n)) // |sources| rows
        .crossJoin(ct) // × vocab — the bounded densify
        .join(st, Seq("source", "t"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("p", col("c").cast("double") / col("n_s"))
        .withColumn("q", (col("ct") - col("c")).cast("double")
          / (col("n_corpus") - col("n_s")))
        .withColumn("m", (col("p") + col("q")) / 2)
      dense
        .withColumn("_js",
          when(col("p") > 0, col("p") * log(col("p") / col("m")) / 2).otherwise(0.0)
            + when(col("q") > 0, col("q") * log(col("q") / col("m")) / 2).otherwise(0.0))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          sum(when(col("c") > 0, 1L).otherwise(0L)).as("vocab"),
          round(sum(col("_js")), 6).as("jsd"),
          round(sum(col("_js")) / math.log(2.0), 6).as("jsd_bits"))
        .orderBy(col("source"))
    }),

    // AMS tug-of-war F₂ sketch (16 estimators) vs the exact second
    // frequency moment — the self-join-size/skew estimator joining HLL
    // (F₀, q96) and CMS (point freq, q99) in the sketch family. Signs
    // are md5-derived (portable, no RNG); every sum integer; Y² squared
    // in double (functions/AmsSketch.scala).
    "q282_ams_f2" -> ((s, dir) =>
      graft.functions.AmsSketch.f2(Tables.documents(s, dir), "text", 16))
  )

  private val mixBpSql =
    "(1 + CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) % 4) * 2500"
  private val mixHashSql =
    "CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':mix'),1,15)) AS BIGINT) % 10000"

  def oracles: Map[String, String] = Map(
    "q170_etld" ->
      """WITH e AS (
        |  SELECT CASE
        |           WHEN doc_id % 12 = 5 THEN 'github.io'
        |           WHEN doc_id % 12 = 11 THEN NULL
        |           WHEN doc_id % 6 = 0 THEN 'com'
        |           WHEN doc_id % 6 = 1 THEN 'co.uk'
        |           WHEN doc_id % 6 = 2 THEN 'github.io'
        |           WHEN doc_id % 6 = 3 THEN 'gov'
        |           ELSE 'org' END AS suffix,
        |         CASE
        |           WHEN doc_id % 12 = 5 OR doc_id % 12 = 11 THEN NULL
        |           WHEN doc_id % 6 = 0 THEN 'example.com'
        |           WHEN doc_id % 6 = 1 THEN 'example.co.uk'
        |           WHEN doc_id % 6 = 2 THEN 'site' || CAST(doc_id % 5 AS VARCHAR) || '.github.io'
        |           WHEN doc_id % 6 = 3 THEN 'ministry.gov'
        |           ELSE 'example.org' END AS etld1
        |  FROM documents
        |)
        |SELECT suffix, etld1, CAST(count(*) AS BIGINT) AS n_docs
        |FROM e GROUP BY suffix, etld1
        |ORDER BY suffix NULLS FIRST, etld1 NULLS FIRST""".stripMargin,

    "q150_psi_drift" ->
      """WITH b AS (
        |  SELECT (CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 < 50) AS in_a,
        |         greatest(least(CAST(floor(n_chars / 50) AS BIGINT), 11), 0) AS bin
        |  FROM documents WHERE n_chars IS NOT NULL
        |), c AS (
        |  SELECT bin,
        |         count(CASE WHEN in_a THEN 1 END) AS n_a,
        |         count(CASE WHEN NOT in_a THEN 1 END) AS n_b
        |  FROM b GROUP BY bin
        |), t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c),
        |terms AS (
        |  SELECT bin, n_a, n_b,
        |         ((n_a + 0.5) / (ta + 6.0)) AS pa,
        |         ((n_b + 0.5) / (tb + 6.0)) AS pb
        |  FROM c, t
        |), tot AS (SELECT sum((pa - pb) * ln(pa / pb)) AS psi FROM terms)
        |SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       round((pa - pb) * ln(pa / pb), 6) AS psi_term,
        |       round(psi, 6) AS psi_total
        |FROM terms, tot ORDER BY bin""".stripMargin,

    // closed form: nav ("Home About us page", 18 link-dense chars) and
    // promo ("promo link promo text", 21 chars) both fail the 25-char
    // floor; the article paragraphs pass (n_chars >= 48); " extra tail"
    // adds 11 chars to every third page's second paragraph
    "q143_content_extract" ->
      """SELECT doc_id,
        |       CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_blocks,
        |       CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_content,
        |       CAST(len(text) * (1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |            + CASE WHEN doc_id % 3 = 0 THEN 11 ELSE 0 END AS BIGINT) AS content_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // closed-form restatement of the synthetic rules: shapes 0 (/a/pN),
    // 2 (/private/ok — Allow outranks the shorter Disallow) and
    // 5 (/b/qN.html) are admitted; 1 (/private), 3+4 (/tmp*), and
    // 6 (/*.php$) are blocked; delay = host digit + 1 from the graftbot
    // group (NOT the deny-all * group — that's the UA-selection check)
    "q141_robots" ->
      """WITH u AS (
        |  SELECT 'h' || (doc_id % 5) AS host, doc_id % 7 AS shape FROM documents
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |       CAST(count(CASE WHEN shape IN (0, 2, 5) THEN 1 END) AS BIGINT) AS n_allowed,
        |       CAST(replace(host, 'h', '') AS DOUBLE) + 1 AS crawl_delay
        |FROM u GROUP BY host ORDER BY host""".stripMargin,

    "q134_ks_drift" ->
      """WITH h AS (
        |  SELECT lang AS grp, CAST((n_chars - (n_chars % 50)) / 50 AS BIGINT) AS b, count(*) AS c
        |  FROM documents GROUP BY 1, 2
        |), grid AS (
        |  SELECT g.grp, bb.b
        |  FROM (SELECT DISTINCT grp FROM h) g, (SELECT DISTINCT b FROM h) bb
        |), cum AS (
        |  SELECT grp, b,
        |         CAST(sum(coalesce(c, 0)) OVER (PARTITION BY grp ORDER BY b) AS DOUBLE)
        |           / sum(coalesce(c, 0)) OVER (PARTITION BY grp) AS cdf,
        |         sum(coalesce(c, 0)) OVER (PARTITION BY grp) AS n
        |  FROM grid LEFT JOIN h USING (grp, b)
        |)
        |SELECT x.grp AS grp_a, y.grp AS grp_b,
        |       CAST(max(x.n) AS BIGINT) AS n_a, CAST(max(y.n) AS BIGINT) AS n_b,
        |       round(max(abs(x.cdf - y.cdf)), 6) AS ks
        |FROM cum x JOIN cum y ON x.b = y.b AND x.grp < y.grp
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Closed-form expected canonical URL: lowercase, www/port/fragment/
    // tracking gone, trailing slash trimmed, q= param kept.
    "q55_url_normalize" ->
      """WITH n AS (
        |  SELECT 'site' || (doc_id % 37) || '.example.com' AS host,
        |         'https://site' || (doc_id % 37) || '.example.com/a/b' ||
        |         (doc_id % 5) || '?q=x' || (doc_id % 11) AS url_norm
        |  FROM documents)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs, min(url_norm) AS first_url
        |FROM n GROUP BY host ORDER BY host""".stripMargin,

    "q56_quantile_filter" ->
      """WITH q AS (
        |  SELECT lang, quantile_disc(n_chars, 0.05) AS p05,
        |         quantile_disc(n_chars, 0.95) AS p95
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, CAST(max(q.p05) AS BIGINT) AS p05,
        |       CAST(max(q.p95) AS BIGINT) AS p95,
        |       CAST(count(*) FILTER (WHERE d.n_chars BETWEEN q.p05 AND q.p95)
        |            AS BIGINT) AS n_kept
        |FROM documents d JOIN q USING (lang)
        |GROUP BY d.lang ORDER BY lang""".stripMargin,

    "q65_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            t -> len(t) > 1)) AS w
        |  FROM documents
        |), p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |                               i -> w[i:i+1])) AS pair
        |  FROM w)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin,

    "q76_epoch_shuffle" ->
      """WITH d AS (
        |  SELECT CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':shard:e0'),1,15)) AS BIGINT) % 16 AS s0,
        |         CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':shard:e1'),1,15)) AS BIGINT) % 16 AS s1
        |  FROM documents),
        |e0 AS (SELECT s0 AS shard, count(*) AS n_e0,
        |              count(*) FILTER (WHERE s1 <> s0) AS n_moved
        |       FROM d GROUP BY s0),
        |e1 AS (SELECT s1 AS shard, count(*) AS n_e1 FROM d GROUP BY s1)
        |SELECT shard, CAST(coalesce(n_e0, 0) AS BIGINT) AS n_e0,
        |       CAST(coalesce(n_e1, 0) AS BIGINT) AS n_e1,
        |       CAST(coalesce(n_moved, 0) AS BIGINT) AS n_moved
        |FROM e0 FULL JOIN e1 USING (shard) ORDER BY shard""".stripMargin,

    "q77_budget_alloc" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |z AS (SELECT sum(power(n_docs, 0.7)) AS z FROM c),
        |t AS (SELECT source, n_docs,
        |             round(power(n_docs, 0.7) / z * 10000, 6) AS target
        |      FROM c, z),
        |b AS (SELECT source, n_docs, target,
        |             CAST(floor(target) AS BIGINT) AS base,
        |             round(target - floor(target), 6) AS rem
        |      FROM t),
        |tb AS (SELECT sum(base) AS tb FROM b),
        |r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, target,
        |       CAST(base + CASE WHEN rk <= 10000 - tb THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r, tb ORDER BY source""".stripMargin,

    "q71_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |z AS (SELECT sum(power(n_docs, 0.7)) AS z FROM c)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |       round(power(n_docs, 0.7) / z, 6) AS weight,
        |       CAST(round(power(n_docs, 0.7) / z * 10000, 0) AS BIGINT) AS target_docs,
        |       round(power(n_docs, 0.7) / z * 10000 / n_docs, 4) AS epochs
        |FROM c, z ORDER BY source""".stripMargin,

    "q72_hard_negatives" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |           FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT p.probe_id, e.vec_id,
        |             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv) AS c
        |      FROM embeddings e, p WHERE e.vec_id <> p.probe_id),
        |r AS (SELECT probe_id, vec_id, c,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY c DESC, vec_id) AS rk
        |      FROM s WHERE c < 0.95)
        |SELECT probe_id, vec_id AS neg_id, round(c, 6) AS cos, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin,

    "q69_compaction_plan" ->
      """WITH f AS (
        |  SELECT source, doc_id, n_chars,
        |         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM documents)
        |SELECT source, CAST(floor(before / 65536) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(n_chars) AS BIGINT) AS bytes,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc,
        |       CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM f GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "q70_skew_report" ->
      """WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
        |t AS (SELECT sum(cnt) AS n_total, count(*) AS n_keys FROM c)
        |SELECT event_type, CAST(cnt AS BIGINT) AS cnt,
        |       round(cnt / n_total, 6) AS share,
        |       round(cnt * n_keys / n_total, 4) AS skew_factor
        |FROM c, t ORDER BY cnt DESC, event_type LIMIT 20""".stripMargin,

    "q66_rollup_stats" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY source, lang""".stripMargin,

    "q136_ppr" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id % 50 AS src, (user_id * 7 + 3) % 50 AS dst FROM events
        |  UNION
        |  SELECT DISTINCT user_id % 50, (user_id * 13 + 11) % 50 FROM events
        |), deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |n AS (SELECT node, CASE WHEN node % 7 = 0 THEN 1.0 ELSE 0.0 END AS s
        |      FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |p0 AS (SELECT node, s AS r FROM n),
        |c1 AS (SELECT e.dst AS node, sum(p0.r / deg.d) AS cs
        |       FROM e JOIN deg USING (src) JOIN p0 ON p0.node = e.src GROUP BY e.dst),
        |p1 AS (SELECT n.node, 0.15 * n.s + 0.85 * coalesce(c1.cs, 0) AS r
        |       FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(p1.r / deg.d) AS cs
        |       FROM e JOIN deg USING (src) JOIN p1 ON p1.node = e.src GROUP BY e.dst),
        |p2 AS (SELECT n.node, 0.15 * n.s + 0.85 * coalesce(c2.cs, 0) AS r
        |       FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(p2.r / deg.d) AS cs
        |       FROM e JOIN deg USING (src) JOIN p2 ON p2.node = e.src GROUP BY e.dst),
        |p3 AS (SELECT n.node, 0.15 * n.s + 0.85 * coalesce(c3.cs, 0) AS r
        |       FROM n LEFT JOIN c3 USING (node))
        |SELECT node, round(r, 6) AS rank FROM p3 ORDER BY node""".stripMargin,

    "q137_winsorized" ->
      """WITH ranked AS (
        |  SELECT source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents
        |), cuts AS (
        |  SELECT source,
        |         max(CASE WHEN rn * 10 >= n AND (rn - 1) * 10 < n THEN n_chars END) AS p10,
        |         max(CASE WHEN rn * 10 >= n * 9 AND (rn - 1) * 10 < n * 9 THEN n_chars END) AS p90
        |  FROM ranked GROUP BY source
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       max(p10) AS p10, max(p90) AS p90,
        |       round(avg(n_chars), 6) AS mean_raw,
        |       round(avg(least(greatest(n_chars, p10), p90)), 6) AS mean_winsor
        |FROM ranked JOIN cuts USING (source)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q67_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id % 50 AS src, (user_id * 7 + 3) % 50 AS dst FROM events
        |  UNION
        |  SELECT DISTINCT user_id % 50, (user_id * 13 + 11) % 50 FROM events
        |), deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |p0 AS (SELECT node, 1.0 AS r FROM n),
        |c1 AS (SELECT e.dst AS node, sum(p0.r / deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN p0 ON p0.node = e.src GROUP BY e.dst),
        |p1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c1.s, 0) AS r
        |       FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, sum(p1.r / deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN p1 ON p1.node = e.src GROUP BY e.dst),
        |p2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c2.s, 0) AS r
        |       FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, sum(p2.r / deg.d) AS s
        |       FROM e JOIN deg USING (src) JOIN p2 ON p2.node = e.src GROUP BY e.dst),
        |p3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c3.s, 0) AS r
        |       FROM n LEFT JOIN c3 USING (node))
        |SELECT node, round(r, 6) AS rank FROM p3 ORDER BY node""".stripMargin,

    "q62_graph_bfs" ->
      """WITH RECURSIVE e AS (
        |  SELECT 'r' || n_regionkey AS src, 'n' || n_nationkey AS dst FROM nation
        |  UNION ALL
        |  SELECT 'n' || c_nationkey, 'c' || c_custkey FROM customer
        |), b AS (
        |  SELECT 'r0' AS node, 0 AS depth
        |  UNION ALL
        |  SELECT e.dst, b.depth + 1 FROM b JOIN e ON e.src = b.node WHERE b.depth < 2
        |)
        |SELECT node, CAST(min(depth) AS BIGINT) AS depth
        |FROM b GROUP BY node ORDER BY node""".stripMargin,

    // chr(243) = composed ó — the NFC image of o + U+0301
    "q61_text_normalize" ->
      """SELECT doc_id,
        |       'W' || chr(243) || 'rd x' || doc_id || chr(10) || chr(10) || 'end' AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q63_webdataset" ->
      """WITH g AS (
        |  SELECT sh, k,
        |         repeat('sample ' || sh || ':' || k || ' text ', 1 + (sh + k) % 3) AS txt
        |  FROM generate_series(0, 7) ts(sh), generate_series(0, 3) tk(k))
        |SELECT CAST(sh AS BIGINT) AS shard, lpad(CAST(k AS VARCHAR), 4, '0') AS key,
        |       CAST(length(txt) AS BIGINT) AS txt_len, md5(txt) AS txt_md5,
        |       CAST((sh * k) % 10 AS BIGINT) AS cls
        |FROM g ORDER BY shard, key""".stripMargin,

    "q60_warc_ingest" ->
      """WITH g AS (
        |  SELECT f, r,
        |         repeat('body ' || f || ':' || r || ' ', 1 + (f * 3 + r) % 5) AS body
        |  FROM generate_series(0, 15) tf(f), generate_series(0, 2) tr(r))
        |SELECT 'https://example.com/f' || f || '/r' || r AS uri,
        |       CAST(length(body) AS BIGINT) AS body_len,
        |       md5(body) AS body_md5
        |FROM g ORDER BY uri""".stripMargin,

    "q74_warc_gz" ->
      """WITH g AS (
        |  SELECT f, r,
        |         repeat('gz body ' || f || ':' || r || ' ', 1 + (f + 2 * r) % 6) AS body
        |  FROM generate_series(0, 11) tf(f), generate_series(0, 3) tr(r))
        |SELECT 'https://example.org/g' || f || '/r' || r AS uri,
        |       CAST(length(body) AS BIGINT) AS body_len,
        |       md5(body) AS body_md5
        |FROM g ORDER BY uri""".stripMargin,

    "q58_shard_export" ->
      """WITH t AS (
        |  SELECT CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':shard'),1,15)) AS BIGINT) % 16 AS shard,
        |         CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':ord'),1,15)) AS BIGINT) % 1000000000 AS ord,
        |         n_chars
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(n_chars) AS BIGINT) AS total_size,
        |       min(ord) AS min_ord, max(ord) AS max_ord
        |FROM t GROUP BY shard ORDER BY shard""".stripMargin,

    "q57_domain_mix" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(count(*) FILTER (WHERE $mixHashSql < $mixBpSql) AS BIGINT) AS n_sampled,
         |       CAST($mixBpSql AS BIGINT) AS target_bp
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q84_link_graph" ->
      """WITH pg AS (
        |  SELECT p, (p*7+1)%30 AS q1, (p*7+2)%30 AS q2, (p*7+3)%30 AS q3,
        |         (p*7+4)%30 AS q4, (p*7+5)%30 AS q5,
        |         'https://ex' || (p%3) || '.com/d' || (p//10) || '/p' || p || '.html' AS src
        |  FROM (SELECT unnest(generate_series(0, 29)) AS p)),
        |edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, 'https://ex' || (q1%3) || '.com/d' || (q1//10) || '/p' || q1 || '.html' AS dst FROM pg
        |    UNION ALL
        |    SELECT src, 'https://ex' || (p%3) || '.com/d' || (q2//10) || '/p' || q2 || '.html' FROM pg
        |    UNION ALL
        |    SELECT src, 'https://ex' || (p%3) || '.com/d' || (p//10) || '/p' || q3 || '.html' FROM pg
        |    UNION ALL
        |    SELECT src, 'https://ex' || (p%3) || '.com/d' || (p//10) || '/p' || q4 || '.html' FROM pg
        |    UNION ALL
        |    SELECT src, 'https://ex' || (p%3) || '.com/d' || (q5//10) || '/p' || q5 || '.html' FROM pg)),
        |o AS (SELECT src AS page, count(*) AS out_deg FROM edges GROUP BY src),
        |i AS (SELECT dst AS page, count(*) AS in_deg FROM edges GROUP BY dst)
        |SELECT coalesce(o.page, i.page) AS page,
        |       CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
        |       CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
        |FROM o FULL OUTER JOIN i ON o.page = i.page
        |ORDER BY page""".stripMargin,

    "q103_anchor_text" ->
      """WITH pg AS (
        |  SELECT p, (p*7+1)%30 AS q1, (p*7+2)%30 AS q2, (p*7+3)%30 AS q3
        |  FROM (SELECT unnest(generate_series(0, 29)) AS p)),
        |an AS (
        |  SELECT 'https://ex' || (q1%3) || '.com/d' || (q1//10) || '/p' || q1 || '.html' AS dst,
        |         'page ' || q1 || ' guide' AS anchor FROM pg
        |  UNION ALL
        |  SELECT 'https://ex' || (p%3) || '.com/d' || (q2//10) || '/p' || q2 || '.html',
        |         'doc ' || q2 FROM pg
        |  UNION ALL
        |  SELECT 'https://ex' || (p%3) || '.com/d' || (p//10) || '/p' || q3 || '.html',
        |         'ref ' || q3 FROM pg)
        |SELECT dst, CAST(count(*) AS BIGINT) AS n_anchors,
        |       CAST(count(DISTINCT anchor) AS BIGINT) AS n_texts,
        |       min(anchor) AS first_text
        |FROM an GROUP BY dst ORDER BY dst""".stripMargin,

    "q93_kl_divergence" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            x -> len(x) > 1)) AS t
        |  FROM documents),
        |st AS (SELECT source, t, count(*) AS c FROM t GROUP BY source, t),
        |ct AS (SELECT t, count(*) AS ct FROM t GROUP BY t),
        |ns AS (SELECT source, sum(c) AS n_s FROM st GROUP BY source),
        |n AS (SELECT count(*) AS n_corpus FROM t)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS vocab,
        |       round(sum((c / n_s) * ln((c / n_s) / (ct / (SELECT n_corpus FROM n)))), 6) AS kl
        |FROM st JOIN ct USING (t) JOIN ns USING (source)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q96_hll_distinct" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1)) AS w
        |  FROM documents),
        |d AS (SELECT DISTINCT source, w FROM t),
        |h AS (SELECT source, CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 2147483647 AS h FROM d),
        |r AS (SELECT source, h % 16 AS j,
        |             CASE WHEN h // 16 = 0 THEN 28
        |                  ELSE 27 - (length(bin(h // 16)) - 1) END AS r
        |      FROM h),
        |reg AS (SELECT source, j, max(r) AS reg FROM r GROUP BY source, j),
        |grid AS (SELECT DISTINCT source, g.j FROM reg,
        |         (SELECT unnest(generate_series(0, 15)) AS j) g),
        |f AS (SELECT grid.source, grid.j, coalesce(reg.reg, 0) AS reg
        |      FROM grid LEFT JOIN reg USING (source, j)),
        |e AS (SELECT source, count(CASE WHEN reg = 0 THEN 1 END) AS n_zero_regs,
        |             0.673 * 256 / sum(power(2.0, -reg)) AS raw
        |      FROM f GROUP BY source),
        |x AS (SELECT source, count(DISTINCT w) AS n_exact FROM t GROUP BY source)
        |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
        |       CAST(n_zero_regs AS BIGINT) AS n_zero_regs,
        |       round(CASE WHEN raw <= 40 AND n_zero_regs > 0
        |                  THEN 16 * ln(16.0 / n_zero_regs) ELSE raw END, 6) AS est
        |FROM e JOIN x USING (source) ORDER BY source""".stripMargin,

    "q99_cms_freq" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1)) AS w
        |  FROM documents),
        |x AS (SELECT w, count(*) AS n_exact FROM t GROUP BY w),
        |p AS (SELECT w, n_exact FROM x ORDER BY n_exact DESC, w LIMIT 20),
        |rows_ AS (SELECT unnest(generate_series(0, 3)) AS i),
        |hb AS (SELECT i, CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||w),1,15)) AS BIGINT)
        |                 % 2147483647 % 64 AS b
        |       FROM t, rows_),
        |c AS (SELECT i, b, count(*) AS cnt FROM hb GROUP BY i, b),
        |pb AS (SELECT w, n_exact, i,
        |              CAST(('0x'||substr(md5(CAST(i AS VARCHAR)||'|'||w),1,15)) AS BIGINT)
        |              % 2147483647 % 64 AS b
        |       FROM p, rows_),
        |e AS (SELECT w, n_exact, min(coalesce(c.cnt, 0)) AS est
        |      FROM pb LEFT JOIN c USING (i, b) GROUP BY w, n_exact)
        |SELECT w, CAST(n_exact AS BIGINT) AS n_exact, CAST(est AS BIGINT) AS est
        |FROM e ORDER BY n_exact DESC, w""".stripMargin,

    "q125_kmv_distinct" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1)) AS w
        |  FROM documents),
        |d AS (SELECT DISTINCT source, w FROM t),
        |h AS (SELECT DISTINCT source,
        |             CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 2147483647 AS h
        |      FROM d),
        |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        |sk AS (SELECT source, count(*) AS n_kept, max(CASE WHEN rn = 32 THEN h END) AS hk
        |       FROM r WHERE rn <= 32 GROUP BY source),
        |x AS (SELECT source, count(DISTINCT w) AS n_exact FROM t GROUP BY source)
        |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
        |       CAST(n_kept AS BIGINT) AS n_kept,
        |       round(CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
        |                  ELSE 31.0 * 2147483647 / hk END, 6) AS est
        |FROM x JOIN sk USING (source) ORDER BY source""".stripMargin,

    "q126_hits" -> {
      // integer-ppm HITS unrolled CTE-for-CTE over the q84-style closed-form
      // edge table (3 links per page: absolute, rooted, relative). Auth is
      // renormalized per iteration; hub stays raw until the final renorm —
      // exactly the Spark operator's contract.
      def auth(i: Int, hub: String): String =
        s"""a${i}r AS (SELECT e.dst AS page, sum(h.raw) AS raw
           |           FROM edges e JOIN $hub h ON h.page = e.src GROUP BY e.dst),
           |a$i AS (SELECT n.page,
           |              coalesce(raw, 0) * 1000000 // (SELECT sum(raw) FROM a${i}r) AS auth
           |        FROM nodes n LEFT JOIN a${i}r USING (page))""".stripMargin
      def hub(i: Int, auth: String): String =
        s"""h$i AS (SELECT e.src AS page, sum(a.auth) AS raw
           |        FROM edges e JOIN $auth a ON a.page = e.dst GROUP BY e.src)""".stripMargin
      val iters = (1 to 5).map(i => auth(i, if (i == 1) "h0" else s"h${i - 1}") +
        ",\n" + hub(i, s"a$i")).mkString(",\n")
      s"""WITH pg AS (
         |  SELECT p, (p*7+1)%30 AS q1, (p*7+2)%30 AS q2, (p*7+3)%30 AS q3,
         |         'https://ex' || (p%3) || '.com/d' || (p//10) || '/p' || p || '.html' AS src
         |  FROM (SELECT unnest(generate_series(0, 29)) AS p)),
         |edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, 'https://ex' || (q1%3) || '.com/d' || (q1//10) || '/p' || q1 || '.html' AS dst FROM pg
         |    UNION ALL
         |    SELECT src, 'https://ex' || (p%3) || '.com/d' || (q2//10) || '/p' || q2 || '.html' FROM pg
         |    UNION ALL
         |    SELECT src, 'https://ex' || (p%3) || '.com/d' || (p//10) || '/p' || q3 || '.html' FROM pg)),
         |nodes AS (SELECT DISTINCT page FROM
         |  (SELECT src AS page FROM edges UNION ALL SELECT dst FROM edges)),
         |h0 AS (SELECT page, CAST(1000000 AS BIGINT) AS raw FROM nodes),
         |$iters,
         |hn AS (SELECT n.page,
         |              coalesce(raw, 0) * 1000000 // (SELECT sum(raw) FROM h5) AS hub
         |       FROM nodes n LEFT JOIN h5 USING (page))
         |SELECT hn.page, CAST(hn.hub AS BIGINT) AS hub_ppm,
         |       CAST(a5.auth AS BIGINT) AS auth_ppm
         |FROM hn JOIN a5 USING (page) ORDER BY page""".stripMargin
    },

    "q106_hist_quantile" ->
      """WITH r AS (SELECT lang, min(n_chars) AS xmin, max(n_chars) AS xmax
        |           FROM documents GROUP BY lang),
        |b AS (SELECT d.lang, xmin, xmax,
        |             ((n_chars - xmin) * 64) // (xmax - xmin + 1) AS bin
        |      FROM documents d JOIN r USING (lang)),
        |c AS (SELECT lang, xmin, xmax, bin, count(*) AS cnt
        |      FROM b GROUP BY lang, xmin, xmax, bin),
        |cum AS (SELECT lang, xmin, xmax, bin, cnt,
        |               sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
        |               sum(cnt) OVER (PARTITION BY lang) AS n FROM c),
        |est AS (SELECT lang,
        |          min(CASE WHEN cum >= ceil(0.5 * n) THEN xmin + (bin * (xmax - xmin + 1)) // 64 END) AS e50,
        |          min(CASE WHEN cum >= ceil(0.9 * n) THEN xmin + (bin * (xmax - xmin + 1)) // 64 END) AS e90
        |        FROM cum GROUP BY lang),
        |ex AS (SELECT lang, quantile_disc(n_chars, 0.5) AS p50, quantile_disc(n_chars, 0.9) AS p90
        |       FROM documents GROUP BY lang)
        |SELECT lang, CAST(p50 AS BIGINT) AS p50, CAST(p90 AS BIGINT) AS p90,
        |       CAST(e50 AS BIGINT) AS e50, CAST(e90 AS BIGINT) AS e90
        |FROM ex JOIN est USING (lang) ORDER BY lang""".stripMargin,

    "q108_hll_rollup" ->
      """WITH t AS (
        |  SELECT source, lang,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1)) AS w
        |  FROM documents),
        |d AS (SELECT DISTINCT source, lang, w FROM t),
        |h AS (SELECT source, lang,
        |             CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 2147483647 AS h FROM d),
        |r AS (SELECT source, lang, h % 16 AS j,
        |             CASE WHEN h // 16 = 0 THEN 28
        |                  ELSE 27 - (length(bin(h // 16)) - 1) END AS r
        |      FROM h),
        |reg AS (
        |  SELECT '1_source_lang' AS level, source || '|' || lang AS grp, j, max(r) AS reg FROM r GROUP BY 2, 3
        |  UNION ALL SELECT '2_source', source, j, max(r) FROM r GROUP BY 2, 3
        |  UNION ALL SELECT '3_global', 'ALL', j, max(r) FROM r GROUP BY 2, 3),
        |grid AS (SELECT DISTINCT level, grp, g.j FROM reg,
        |         (SELECT unnest(generate_series(0, 15)) AS j) g),
        |f AS (SELECT grid.level, grid.grp, grid.j, coalesce(reg.reg, 0) AS reg
        |      FROM grid LEFT JOIN reg ON grid.level = reg.level AND grid.grp = reg.grp AND grid.j = reg.j),
        |e AS (SELECT level, grp, count(CASE WHEN reg = 0 THEN 1 END) AS n_zero_regs,
        |             0.673 * 256 / sum(power(2.0, -reg)) AS raw
        |      FROM f GROUP BY 1, 2),
        |x AS (
        |  SELECT '1_source_lang' AS level, source || '|' || lang AS grp, count(DISTINCT w) AS n_exact FROM t GROUP BY 2
        |  UNION ALL SELECT '2_source', source, count(DISTINCT w) FROM t GROUP BY 2
        |  UNION ALL SELECT '3_global', 'ALL', count(DISTINCT w) FROM t)
        |SELECT level, grp, CAST(n_exact AS BIGINT) AS n_exact,
        |       CAST(n_zero_regs AS BIGINT) AS n_zero_regs,
        |       round(CASE WHEN raw <= 40 AND n_zero_regs > 0
        |                  THEN 16 * ln(16.0 / n_zero_regs) ELSE raw END, 6) AS est
        |FROM e JOIN x USING (level, grp) ORDER BY level, grp""".stripMargin,

    "q109_weighted_sample" ->
      """WITH k AS (
        |  SELECT source, doc_id, n_chars,
        |         pow((CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':wrs'),1,15)) AS BIGINT)
        |              % 2147483647 + 1) / 2147483648.0,
        |             1.0 / n_chars) AS k
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_chars, k,
        |             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
        |      FROM k)
        |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id,
        |       CAST(n_chars AS BIGINT) AS n_chars, round(k, 6) AS key6
        |FROM r WHERE rn <= 3 ORDER BY source, rn""".stripMargin,

    "q110_pivot" ->
      """SELECT source,
        |       CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de,
        |       CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en,
        |       CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS es,
        |       CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS fr,
        |       CAST(count(*) FILTER (WHERE lang = 'zh') AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q121_manifest" ->
      """WITH h AS (
        |  SELECT CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':shard'),1,15)) AS BIGINT) % 16 AS shard,
        |         CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) % 2147483647 AS h
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(h) AS BIGINT) AS sum_h,
        |       CAST(bit_xor(h) AS BIGINT) AS xor_h
        |FROM h GROUP BY shard ORDER BY shard""".stripMargin,

    "q122_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5(text || ' new') FROM documents WHERE doc_id % 13 = 0)
        |SELECT CASE WHEN h1 IS NULL THEN 'added'
        |            WHEN h2 IS NULL THEN 'removed'
        |            WHEN h1 = h2 THEN 'unchanged' ELSE 'changed' END AS status,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY status ORDER BY status""".stripMargin,

    "q114_budget_resample" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |         len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS toks
        |  FROM documents),
        |k AS (SELECT source, doc_id, toks,
        |             pow((CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':wrs'),1,15)) AS BIGINT)
        |                  % 2147483647 + 1) / 2147483648.0,
        |                 1.0 / toks) AS k
        |      FROM d),
        |c AS (SELECT source, doc_id, toks,
        |             sum(toks) OVER (PARTITION BY source ORDER BY k DESC, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM k)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(toks) AS BIGINT) AS tokens_kept,
        |       CAST(max(cum) AS BIGINT) AS budget_used
        |FROM c WHERE cum <= 2000
        |GROUP BY source ORDER BY source""".stripMargin,

    // the q96 register replay, paired: union regs = per-pair max, both
    // estimates through the identical bias-corrected formula, then
    // inclusion-exclusion over the ROUNDED estimates (matching Spark)
    "q211_hll_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 1)) AS w
        |  FROM documents),
        |d AS (SELECT DISTINCT source, w FROM t),
        |h AS (SELECT source, CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) % 2147483647 AS h FROM d),
        |r AS (SELECT source, h % 16 AS j,
        |             CASE WHEN h // 16 = 0 THEN 28
        |                  ELSE 27 - (length(bin(h // 16)) - 1) END AS r
        |      FROM h),
        |reg AS (SELECT source, j, max(r) AS reg FROM r GROUP BY source, j),
        |srcs AS (SELECT DISTINCT source FROM reg),
        |jj AS (SELECT unnest(generate_series(0, 15)) AS j),
        |fs AS (SELECT s.source, jj.j, coalesce(reg.reg, 0) AS reg
        |       FROM srcs s CROSS JOIN jj LEFT JOIN reg ON reg.source = s.source AND reg.j = jj.j),
        |es AS (SELECT source,
        |              count(CASE WHEN reg = 0 THEN 1 END) AS nz,
        |              0.673 * 256 / sum(power(2.0, -reg)) AS raw
        |       FROM fs GROUP BY source),
        |e1 AS (SELECT source,
        |              round(CASE WHEN raw <= 40 AND nz > 0 THEN 16 * ln(16.0 / nz) ELSE raw END, 6) AS est
        |       FROM es),
        |prs AS (SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b WHERE a.source < b.source),
        |pu AS (SELECT prs.sa, prs.sb, fs.j, max(fs.reg) AS reg
        |       FROM prs JOIN fs ON fs.source = prs.sa OR fs.source = prs.sb
        |       GROUP BY 1, 2, 3),
        |eu AS (SELECT sa, sb,
        |              count(CASE WHEN reg = 0 THEN 1 END) AS nz,
        |              0.673 * 256 / sum(power(2.0, -reg)) AS raw
        |       FROM pu GROUP BY sa, sb),
        |e2 AS (SELECT sa, sb,
        |              round(CASE WHEN raw <= 40 AND nz > 0 THEN 16 * ln(16.0 / nz) ELSE raw END, 6) AS est_union
        |       FROM eu),
        |nx AS (SELECT source, count(DISTINCT w) AS nx FROM d GROUP BY source),
        |xi AS (SELECT x.source AS sa, y.source AS sb, count(DISTINCT x.w) AS n_exact_inter
        |       FROM d x JOIN d y ON x.w = y.w AND x.source < y.source
        |       GROUP BY 1, 2),
        |fin AS (
        |  SELECT e2.sa, e2.sb, xi.n_exact_inter, na.nx + nb.nx - xi.n_exact_inter AS n_exact_union,
        |         e2.est_union, round(ea.est + eb.est - e2.est_union, 6) AS est_inter
        |  FROM e2
        |  JOIN e1 ea ON ea.source = e2.sa
        |  JOIN e1 eb ON eb.source = e2.sb
        |  JOIN xi ON xi.sa = e2.sa AND xi.sb = e2.sb
        |  JOIN nx na ON na.source = e2.sa
        |  JOIN nx nb ON nb.source = e2.sb)
        |SELECT sa, sb, CAST(n_exact_inter AS BIGINT) AS n_exact_inter,
        |       CAST(n_exact_union AS BIGINT) AS n_exact_union,
        |       est_union, est_inter,
        |       CASE WHEN est_union > 0 THEN round(est_inter / est_union, 6) END AS jaccard_est
        |FROM fin ORDER BY sa, sb""".stripMargin,

    // q93's token tables densified over source×vocab; identical float
    // shape per term: p·ln(p/m)/2 + q·ln(q/m)/2 with m=(p+q)/2. The bits
    // divisor is the exact double of Scala's math.log(2.0).
    "q213_js_divergence" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            x -> len(x) > 1)) AS t
        |  FROM documents),
        |st AS (SELECT source, t, count(*) AS c FROM t GROUP BY source, t),
        |ct AS (SELECT t, count(*) AS ct FROM t GROUP BY t),
        |ns AS (SELECT source, sum(c) AS n_s FROM st GROUP BY source),
        |n AS (SELECT count(*) AS n_corpus FROM t),
        |dense AS (
        |  SELECT ns.source, ct.t, ct.ct, ns.n_s, coalesce(st.c, 0) AS c
        |  FROM ns CROSS JOIN ct LEFT JOIN st ON st.source = ns.source AND st.t = ct.t),
        |j AS (
        |  SELECT source, n_s, c,
        |         CAST(c AS DOUBLE) / n_s AS p,
        |         CAST(ct - c AS DOUBLE) / ((SELECT n_corpus FROM n) - n_s) AS q
        |  FROM dense)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab,
        |       round(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0.0 END
        |               + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) / 2 ELSE 0.0 END), 6) AS jsd,
        |       round(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0.0 END
        |               + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) / 2 ELSE 0.0 END)
        |             / 0.6931471805599453, 6) AS jsd_bits
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // md5-derived ±1 signs per (token, k); Y_k integer, Y² in double;
    // the exact F2 witness is the integer Σf² over the type grid
    "q282_ams_f2" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 1)) AS token
        |  FROM documents),
        |counts AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
        |exact AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM counts),
        |ks AS (SELECT unnest(generate_series(0, 15)) AS k),
        |fanned AS (SELECT c.token, c.f, ks.k,
        |                  1 - 2 * (CAST(('0x' || substr(md5(c.token || '|' || CAST(ks.k AS VARCHAR)), 1, 15)) AS BIGINT) % 2) AS s
        |           FROM counts c CROSS JOIN ks),
        |y AS (SELECT k, CAST(sum(f * s) AS BIGINT) AS y FROM fanned GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS k, y, CAST(y AS DOUBLE) * y AS y_sq, f2_exact,
        |       round(CAST(y AS DOUBLE) * y / f2_exact, 6) AS ratio
        |FROM y, exact ORDER BY k""".stripMargin
  )
}
