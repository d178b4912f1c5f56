package graft.search

import java.nio.file.Files
import scala.util.Try
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSpec
import graft.api.{EngineSpec, GraftEngine}
import graft.queries.IndexBenchQueries

/** The in-process snapshot path against the engine's kept Spark path, over
  * EngineSpec's fixture store and q32's synthetic repo: every search mode
  * with no filter, an entityTypes filter and a finite threshold, every
  * readGraph mode, every getImplementation scope and entitiesForFile.
  * Equal schemas and id order; cosine scores `==`; BM25 and RRF scores
  * within 1e-12 relative (Spark sums a document's terms in no fixed order).
  */
class SearchSnapshotSpec extends SparkSpec {

  private def indexed(write: String => Unit): GraftEngine = {
    val repo = Files.createTempDirectory("graft_snap_repo").toString
    write(repo)
    val e = GraftEngine(spark, Files.createTempDirectory("graft_snap_store").toString)
    e.index(repo)
    e
  }
  private lazy val stores = Seq(
    "fixture" -> (indexed(EngineSpec.writeFixture), Seq("add two numbers", "calculator", "add numbers sum"),
      Seq("add", "main", "Calculator", "foo.py")),
    "synthetic" -> (indexed(IndexBenchQueries.writeSyntheticRepo), Seq("aggregating items total", "helper value"),
      Seq("helper_5_a", "helper_1", "mod007.py")))
  // no tokens (a schema-correct empty keyword page) and a term absent from the corpus
  private val edgeQueries = Seq("!!", "zyzzyvaqx")

  private def close(a: Double, b: Double) = a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def same(what: String, fast: DataFrame, slow: DataFrame, score: String, exact: Boolean): Unit = {
    assert(fast.schema == slow.schema, s"$what: schema\n${fast.schema.treeString}\nvs\n${slow.schema.treeString}")
    val (f, s) = (fast.collect(), slow.collect())
    assert(f.map(_.getAs[String]("chunkId")).toSeq == s.map(_.getAs[String]("chunkId")).toSeq, what)
    val at = fast.schema.fieldIndex(score)
    f.zip(s).foreach { case (a, b) =>
      if (exact) assert(a.get(at) == b.get(at), s"$what: ${a.get(at)} vs ${b.get(at)}")
      else assert(close(a.getDouble(at), b.getDouble(at)), s"$what: ${a.get(at)} vs ${b.get(at)}")
      def rest(r: Row) = r.toSeq.patch(at, Nil, 1).map { case s: scala.collection.Seq[_] => s.toSeq; case x => x }
      assert(rest(a) == rest(b), what)
    }
  }

  test("every search mode, filter and threshold: the snapshot answers as the Spark path") {
    for ((store, (e, queries, _)) <- stores; q <- queries ++ edgeQueries;
         types <- Seq(Seq.empty[String], Seq("class")); thr <- Seq(Double.NegativeInfinity, 0.0)) {
      def both(mode: String) = (e.searchSimilar(q, mode, types, 5, thr), e.searchSimilarSpark(q, mode, types, 5, thr))
      val what = s"$store '$q' types=$types thr=$thr"
      val (sf, ss) = both("semantic")
      same(s"semantic $what", sf, ss, "score", exact = true)
      val (kf, ks) = both("keyword")
      same(s"keyword $what", kf, ks, "score", exact = false)
      val (hf, hs) = both("hybrid")
      same(s"hybrid $what", hf, hs, "rrf_score", exact = false)
      val (df, ds) = both("diversified")
      same(s"diversified $what", df, ds, "mmr_score", exact = true)
    }
  }

  test("the edge queries: no tokens is an empty keyword page, an absent term finds nothing") {
    val (e, _, _) = stores.head._2
    assert(e.searchSimilar("!!", "keyword").collect().isEmpty)
    assert(e.searchSimilar("zyzzyvaqx", "keyword").collect().isEmpty)
    assert(e.searchSimilar("!!", "hybrid", limit = 3).collect().length == 3) // the dense side alone
  }

  test("every readGraph mode: the snapshot answers as the Spark path") {
    for ((store, (e, _, entities)) <- stores; entity <- entities :+ "no_such_entity") {
      val what = s"$store $entity"
      for (mode <- Seq("relationships", "smart")) {
        val (f, s) = (e.readGraph(entity, mode), e.readGraphSpark(entity, mode, 50))
        assert(f.schema == s.schema, s"$mode $what")
        assert(f.collect().map(_.toString).toSeq == s.collect().map(_.toString).toSeq, s"$mode $what")
      }
      // entityName ties come back in no fixed order: a bag per name
      val (f, s) = (e.readGraph(entity, "entities", 500), e.readGraphSpark(entity, "entities", 500))
      assert(f.schema == s.schema, s"entities $what")
      val (fr, sr) = (f.collect(), s.collect())
      assert(fr.map(_.getString(0)).toSeq == sr.map(_.getString(0)).toSeq, s"entities $what")
      assert(fr.map(_.toString).sorted.toSeq == sr.map(_.toString).sorted.toSeq, s"entities $what")
    }
  }

  /** Equal schemas, keys in order, and rows as a bag: the Spark order leaves ties. */
  private def sameRows(what: String, fast: DataFrame, slow: DataFrame, key: Row => Any): Unit = {
    assert(fast.schema == slow.schema, s"$what: schema\n${fast.schema.treeString}\nvs\n${slow.schema.treeString}")
    val (f, s) = (fast.collect(), slow.collect())
    assert(f.map(key).toSeq == s.map(key).toSeq, what)
    assert(f.map(_.toString).sorted.toSeq == s.map(_.toString).sorted.toSeq, what)
  }

  test("every getImplementation scope and entitiesForFile: the snapshot answers as the Spark path") {
    for ((store, (e, _, entities)) <- stores) {
      // a manual memory: a metadata chunk with filePath "" and no implementation
      e.addManualMemory(s"$store-notes", "notes kept by hand")
      for (name <- entities ++ Seq("no_such_entity", s"$store-notes")) {
        sameRows(s"$store minimal $name", e.getImplementation(name), e.getImplementationSpark(name, "minimal"), _ => ())
        for (scope <- Seq("logical", "dependencies"))
          sameRows(s"$store $scope $name", e.getImplementation(name, scope), e.getImplementationSpark(name, scope),
            r => (r.getAs[String]("filePath"), r.getAs[Any]("lineNumber")))
      }
      // the file entities (foo.py, mod007.py) are both a filePath and an entityName
      for (path <- entities ++ Seq("no_such_entity", "", s"$store-notes"))
        sameRows(s"$store entitiesForFile '$path'", e.entitiesForFile(path), e.entitiesForFileSpark(path), _.toString)
    }
    val (e, _, _) = stores.head._2
    assert(e.entitiesForFile("").collect().map(_.getSeq[String](1)).exists(_.contains("fixture-notes")))
    assert(e.getImplementation("add", "logical").collect().length > 1)
    assert(e.getImplementation("main", "dependencies").collect().map(_.getString(0)).contains("add"))
  }

  test("an unknown scope throws on both paths") {
    val (e, _, _) = stores.head._2
    assert(intercept[IllegalArgumentException](e.getImplementation("add", "nope")).getMessage.contains("nope"))
    assert(intercept[IllegalArgumentException](e.getImplementationSpark("add", "nope")).getMessage.contains("nope"))
  }

  test("an absent store fails the same way on both paths") {
    val e = GraftEngine(spark, Files.createTempDirectory("graft_snap_absent").toString)
    val fast = Try(e.searchSimilar("add", "hybrid").collect()).failed.toOption.map(_.getClass)
    assert(fast.nonEmpty)
    assert(fast == Try(e.searchSimilarSpark("add", "hybrid", Nil, 10, Double.NegativeInfinity).collect())
      .failed.toOption.map(_.getClass))
    assert(Try(e.readGraph("add").collect()).failed.toOption.map(_.getClass) ==
      Try(e.readGraphSpark("add", "smart", 50).collect()).failed.toOption.map(_.getClass))
    for (scope <- Seq("minimal", "logical", "dependencies"))
      assert(Try(e.getImplementation("add", scope).collect()).failed.toOption.map(_.getClass) ==
        Try(e.getImplementationSpark("add", scope).collect()).failed.toOption.map(_.getClass), scope)
    assert(Try(e.entitiesForFile("foo.py").collect()).failed.toOption.map(_.getClass) ==
      Try(e.entitiesForFileSpark("foo.py").collect()).failed.toOption.map(_.getClass))
  }
}
