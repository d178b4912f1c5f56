package graft.search

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.{Embedder, IndexStore}

/** One store version's chunks held on the driver, so the engine's
  * searches, graph reads, `getImplementation` and `entitiesForFile` run no
  * Spark job: the paper's split, where batch indexing fits Spark and online
  * serving does not. Metadata rows keep every column; implementation and
  * relation rows keep only what those reads use. Loaded by one job per
  * version ([[Holder]]); a store whose parquet would not fit
  * ([[MaxHeapShare]]) stays on the engine's Spark path.
  *
  * Answers equal the Spark path's, column for column: cosine is
  * `CosineSimilarity`'s loop, BM25 is [[Bm25.contribScala]] with N, avgdl
  * and df over the filtered rows (as `Bm25.search` fits on the filtered
  * base), ties break on chunkId in Spark's string order. Spark sums a
  * document's BM25 terms in no fixed order; here they sum in query-term
  * order, so BM25 and RRF scores may differ from it in the last ulps.
  * Results are local relations: collecting them runs no job.
  */
final class SearchSnapshot private (
    baseSchema: StructType, // the chunk schema without `dense`: the result columns
    base: Array[IndexedSeq[Any]], // metadata rows in baseSchema
    dense: Array[Array[Double]],
    toks: Array[Array[String]], // Bm25.tokenizeScala of contentBm25; null for a null text: no length
    rel: Array[(String, String, String)], // relation rows: (entityName, relationType, relationTarget)
    impl: Array[IndexedSeq[Any]], // implementation rows in ImplColumns
    all: Array[(String, String, String)]) { // every chunk: (chunkType, entityName, filePath)
  import SearchSnapshot._

  private def column(n: String) = base.map(_(baseSchema.fieldIndex(n)).asInstanceOf[String])
  private val chunkIds = column("chunkId")
  private val entityNames = column("entityName")
  private val entityTypes = column("entityType")
  // keyed results (keyword, hybrid, diversified) lead with chunkId, as a join on it does
  private val idField = baseSchema(baseSchema.fieldIndex("chunkId"))
  private val restSchema = baseSchema.filterNot(_.name == "chunkId")
  private def rest(i: Int): IndexedSeq[Any] = base(i).patch(baseSchema.fieldIndex("chunkId"), Nil, 1)
  // term -> (doc, tf)
  private val postings: Map[String, Array[(Int, Int)]] = toks.indices
    .flatMap(i => Option(toks(i)).toSeq.flatMap(_.groupBy(identity).map { case (t, ts) => (t, (i, ts.length)) }))
    .groupMap(_._1)(_._2).map { case (t, ps) => t -> ps.toArray }

  /** Row numbers by key; a null key is left out, as `=== null` matches nothing. */
  private def index[A](rows: Array[A])(keys: A => Seq[String]): Map[String, Array[Int]] =
    rows.indices.flatMap(i => keys(rows(i)).filter(_ != null).distinct.map(_ -> i))
      .groupMap(_._1)(_._2).map { case (k, is) => k -> is.toArray }
  private val edgesOf = index(rel) { case (from, _, to) => Seq(from, to) }
  private val implsOf = index(impl)(r => Seq(r(0).asInstanceOf[String]))
  private val implsIn = index(impl)(r => Seq(r(1).asInstanceOf[String]))
  private val chunksOf = index(all) { case (_, name, file) => Seq(name, file) }
  private def at(ix: Map[String, Array[Int]], key: String): Array[Int] = ix.getOrElse(key, Array.emptyIntArray)

  private def local(spark: SparkSession, schema: StructType, out: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(out.map(Row.fromSeq).asJava, schema)

  private val better = ranked[(Int, java.lang.Double)](_._2, p => chunkIds(p._1))

  /** The first `k` of `cands` in [[better]] order, through a `k`-bounded heap. */
  private def top(cands: Iterator[(Int, java.lang.Double)], k: Int): Seq[(Int, java.lang.Double)] = {
    val heap = new java.util.PriorityQueue[(Int, java.lang.Double)](k + 1, better.reverse)
    cands.foreach { c => heap.add(c); if (heap.size > k) heap.poll() }
    heap.asScala.toSeq.sorted(better)
  }

  def search(spark: SparkSession, embedder: Embedder, query: String, mode: String,
             types: Seq[String], limit: Int, threshold: Double): DataFrame = {
    val keep: Int => Boolean =
      if (types.isEmpty) _ => true else { val ts = types.toSet; i => ts(entityTypes(i)) }

    def denseTop(k: Int): Seq[(Int, java.lang.Double)] = {
      val qv = embedder.embedText(query).toArray
      top(base.indices.iterator.filter(keep)
        .map(i => (i, if (dense(i) == null) null else java.lang.Double.valueOf(MmrRerank.cosine(dense(i), qv))))
        .filter { case (_, s) => threshold.isNegInfinity || s != null && compareDoubles(s, threshold) >= 0 }, k)
    }

    // BM25 fit on the filtered docs, as Bm25.search fits on the filtered base
    def sparseTop(terms: Seq[String], k: Int): Seq[(Int, java.lang.Double)] = {
      val n = base.indices.count(keep)
      val (dlSum, dlCount) = base.indices.iterator.filter(i => keep(i) && toks(i) != null)
        .foldLeft((0L, 0L)) { case ((sum, c), i) => (sum + toks(i).length, c + 1) }
      val avgdl = dlSum.toDouble / dlCount
      val score = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
      terms.foreach { t =>
        val ps = postings.getOrElse(t, Array.empty[(Int, Int)]).filter(p => keep(p._1))
        val idf = StrictMath.log((n.toDouble - ps.length + 0.5) / (ps.length + 0.5))
        ps.foreach { case (i, tf) =>
          score(i) = score.getOrElse(i, 0.0) + Bm25.contribScala(idf, tf, toks(i).length, avgdl)
        }
      }
      top(score.iterator.map { case (i, s) => (i, java.lang.Double.valueOf(s)) }, k)
    }

    val score = StructField("score", DoubleType)
    mode match {
      case "semantic" =>
        local(spark, baseSchema.add(score), denseTop(limit).map { case (i, s) => base(i) :+ s })
      case "keyword" =>
        val terms = Bm25.tokenizeScala(query).toSeq.distinct
        if (terms.isEmpty) local(spark, baseSchema.add(score.copy(nullable = false)), Nil)
        else local(spark, StructType(idField +: restSchema :+ score),
          sparseTop(terms, limit).map { case (i, s) => (chunkIds(i) +: rest(i)) :+ s })
      case "hybrid" =>
        val fetch = Hybrid.fetchSize(limit)
        def ranks(page: Seq[(Int, java.lang.Double)]) = page.map(_._1).zipWithIndex.toMap.view.mapValues(_ + 1).toMap
        val rd = ranks(denseTop(fetch))
        val rs = ranks(sparseTop(Bm25.tokenizeScala(query).toSeq.distinct, fetch))
        val fused = (rd.keySet ++ rs.keySet).toSeq.map { i =>
          (i, java.lang.Double.valueOf(rd.get(i).map(r => Hybrid.Alpha / (Hybrid.RrfK + r)).getOrElse(0.0) +
            rs.get(i).map(r => (1.0 - Hybrid.Alpha) / (Hybrid.RrfK + r)).getOrElse(0.0)))
        }
        def rank(m: Map[Int, Int], i: Int): Any = m.get(i).map(Int.box).orNull
        local(spark, StructType(Seq(idField, StructField("rank_dense", IntegerType),
          StructField("rank_sparse", IntegerType), StructField("rrf_score", DoubleType, nullable = false)) ++ restSchema),
          top(fused.iterator, limit).map { case (i, s) => Seq(chunkIds(i), rank(rd, i), rank(rs, i), s) ++ rest(i) })
      case "diversified" =>
        // rel rounded like Spark's round(x, 6) before the greedy arithmetic
        val page = denseTop(Hybrid.fetchSize(limit)).map { case (i, s) =>
          (i, dense(i), if (s.isNaN || s.isInfinite) s.doubleValue else MmrRerank.round6(s))
        }
        local(spark, StructType(Seq(idField, StructField("pick", IntegerType, nullable = false),
          StructField("mmr_score", DoubleType, nullable = false)) ++ restSchema),
          // ties on the default String order, as the Spark path's String ids
          MmrRerank.greedy(page, limit, 0.7)(Ordering.by((i: Int) => chunkIds(i)))
            .map { case (pick, i, s) => Seq(chunkIds(i), pick, s) ++ rest(i) })
      case other => throw new IllegalArgumentException(s"unknown search mode: $other")
    }
  }

  def readGraph(spark: SparkSession, entity: String, mode: String, limit: Int): DataFrame = {
    val edges = at(edgesOf, entity).map(rel(_))
    def str(n: String) = StructField(n, StringType)
    mode match {
      case "relationships" | "raw" =>
        local(spark, StructType(Seq(str("from"), str("type"), str("to"), StructField("bidirectional", BooleanType))),
          edges.sorted(Ordering.Tuple3(SparkStrings, SparkStrings, SparkStrings)).take(limit).toSeq.map {
            case (from, t, to) =>
              Seq(from, t, to, if (t == null) null else graft.core.Model.RelationTypes.Bidirectional(t))
          })
      case "entities" =>
        val names = edges.flatMap { case (from, _, to) => Seq(from, to) }.filter(_ != null).toSet
        val cols = Seq("entityName", "entityType", "filePath", "lineNumber").map(baseSchema.fieldIndex)
        local(spark, StructType(cols.map(baseSchema(_))), base.indices.filter(i => names(entityNames(i)))
          .sortBy(entityNames(_))(SparkStrings).take(limit).map(i => cols.map(base(i))))
      case _ => // smart: edges + 1-hop neighbor summaries
        local(spark, StructType(Seq(str("type"), StructField("n", LongType, nullable = false),
          StructField("neighbors", ArrayType(StringType, containsNull = false), nullable = false))),
          edges.groupBy(_._2).toSeq.sortBy(_._1)(SparkStrings).map { case (t, es) =>
            Seq(t, es.length.toLong, es.map { case (from, _, to) => if (from == entity) to else from }
              .filter(_ != null).distinct.sorted(SparkStrings).toSeq)
          })
    }
  }

  /** `orderBy("filePath", "lineNumber")` over ImplColumns rows: nulls first. */
  private val place = Ordering.by((i: Int) => (impl(i)(1).asInstanceOf[String], Option(impl(i)(2)).map(_.asInstanceOf[Int])))(
    Ordering.Tuple2(SparkStrings, Ordering.Option(Ordering.Int)))

  def getImplementation(spark: SparkSession, name: String, scope: String): DataFrame = {
    val own = at(implsOf, name)
    val rows = scope match {
      case "minimal" => own
      case "logical" => own.map(impl(_)(1).asInstanceOf[String]).distinct.flatMap(at(implsIn, _)).sorted(place)
      case "dependencies" =>
        val deps = at(edgesOf, name).map(rel(_)).collect { case (from, t, to) if from == name && DependencyTypes(t) => to }
        // dropDuplicates("entityName", "filePath", "lineNumber"): ImplColumns' first three
        (own ++ deps.distinct.flatMap(at(implsOf, _))).distinctBy(i => impl(i).take(3)).sorted(place)
      case other => throw new IllegalArgumentException(s"unknown scope: $other")
    }
    local(spark, StructType(ImplColumns.map(baseSchema(_))), rows.toSeq.map(impl(_)))
  }

  def entitiesForFile(spark: SparkSession, path: String): DataFrame =
    local(spark, StructType(Seq(baseSchema("chunkType"),
      StructField("entities", ArrayType(StringType, containsNull = false), nullable = false))),
      at(chunksOf, path).toSeq.map(all(_)).groupBy(_._1).toSeq.sortBy(_._1)(SparkStrings).map { case (t, cs) =>
        Seq(t, cs.map(_._2).filter(_ != null).distinct.sorted(SparkStrings))
      })
}

object SearchSnapshot {

  /** A store whose listed chunk parquet bytes exceed this share of the
    * driver's max heap stays on the Spark path: decoded rows, vectors and
    * postings take several times their compressed bytes.
    */
  val MaxHeapShare = 0.05

  /** getImplementation's result columns. */
  private val ImplColumns = Seq("entityName", "filePath", "lineNumber", "endLineNumber", "content")

  /** The relation types `getImplementation(_, "dependencies")` follows. */
  private val DependencyTypes = Set("calls", "imports", "uses")

  /** The columns kept beyond metadata rows, which keep every column:
    * entitiesForFile's on every chunk, and what each other chunk type's
    * reads use.
    */
  private val Everywhere = Set("chunkType", "entityName", "filePath")
  private val Kept = Map("relation" -> Set("relationType", "relationTarget"),
    "implementation" -> ImplColumns.toSet)

  /** Spark's ascending string order: unsigned UTF-8 bytes, nulls first. */
  val SparkStrings: Ordering[String] = (a: String, b: String) =>
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1
    else java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Spark's `orderBy(score.desc, id.asc)`: NaN highest, -0.0 == 0.0, a
    * null score last.
    */
  def ranked[A](score: A => java.lang.Double, id: A => String): Ordering[A] = (a: A, b: A) => {
    val (sa, sb) = (score(a), score(b))
    val c = if (sa == null || sb == null) java.lang.Boolean.compare(sa == null, sb == null)
      else compareDoubles(sb, sa)
    if (c != 0) c else SparkStrings.compare(id(a), id(b))
  }

  /** One job over every chunk file of the version: every column of its
    * metadata rows with their `Bm25.tokens`, and of the other rows only the
    * columns their reads use (the rest null, `dense` included).
    */
  def load(spark: SparkSession, snap: IndexStore.Snapshot): SearchSnapshot = {
    val df = snap.chunks(spark)
    val schema = StructType(df.schema.filterNot(_.name == "dense"))
    val t = col("chunkType")
    def kept(c: String) = if (Everywhere(c)) col(c)
      else when(t === "metadata" || t.isin(Kept.collect { case (pt, cs) if cs(c) => pt }.toSeq: _*), col(c)).as(c)
    val got = df.select(df.columns.toSeq.map(kept) :+
      when(t === "metadata", Bm25.tokens(col("contentBm25"))).as("_toks"): _*).collect()
    val all = got.map(r => (r.getAs[String]("chunkType"), r.getAs[String]("entityName"), r.getAs[String]("filePath")))
    val rows = got.groupBy(_.getAs[String]("chunkType")).withDefaultValue(Array.empty[Row])
    def in(s: Seq[String], r: Row) = s.toIndexedSeq.map(r.getAs[Any](_))
    val meta = rows("metadata")
    new SearchSnapshot(schema, meta.map(in(schema.fieldNames.toSeq, _)),
      meta.map(r => Option(r.getAs[scala.collection.Seq[Any]]("dense"))
        .map(_.map { case f: Float => f.toDouble; case d: Double => d }.toArray).orNull),
      meta.map(r => Option(r.getAs[scala.collection.Seq[String]]("_toks")).map(_.toArray).orNull),
      rows("relation").map(r => (r.getAs[String]("entityName"), r.getAs[String]("relationType"), r.getAs[String]("relationTarget"))),
      rows("implementation").map(in(ImplColumns, _)), all)
  }

  /** An engine's one snapshot, of the newest version it read. Loaded under
    * the lock, so concurrent readers load a version once; replaced when the
    * version moves. None: the store is absent or too large to hold.
    */
  final class Holder {
    private var held: Option[(IndexStore.Snapshot, Option[SearchSnapshot])] = None

    def apply(spark: SparkSession, snap: IndexStore.Snapshot): Option[SearchSnapshot] = synchronized {
      if (!held.exists(_._1 == snap)) {
        held = None // the old version goes before the new one loads
        val bytes = snap.chunkFiles.map(f => Files.size(Paths.get(snap.root, f))).sum
        held = Some(snap -> Option.when(snap.exists && bytes <= MaxHeapShare * Runtime.getRuntime.maxMemory)(
          load(spark, snap)))
      }
      held.get._2
    }
  }
}
