package graft.dedup

import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.{JobCount, SparkSpec}

/** `DupClusters.components`' two paths agree: union-find on the driver
  * against the Spark min-label rounds, forced through the bound's test
  * override, on random edge lists. Rows and schema must be equal.
  */
class DupClustersSpec extends SparkSpec {
  import spark.implicits._

  private def onDriver(edges: DataFrame) = DupClusters.components(edges, "a", "b", Long.MaxValue)
  private def inRounds(edges: DataFrame) = DupClusters.components(edges, "a", "b", -1L)

  private def rows(df: DataFrame): Seq[(Option[Long], Option[Long])] =
    df.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .sorted

  private def assertParity(edges: DataFrame): Unit = {
    val (d, s) = (onDriver(edges), inRounds(edges))
    assert(d.schema == s.schema)
    assert(rows(d) == rows(s))
  }

  private val nullable = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))

  private def frame(edges: Seq[(Option[Long], Option[Long])]): DataFrame =
    if (edges.forall { case (a, b) => a.isDefined && b.isDefined }) edges.map { case (a, b) => (a.get, b.get) }.toDF("a", "b")
    else spark.createDataFrame(edges.map { case (a, b) => Row(a.orNull, b.orNull) }.asJava, nullable)

  /** One chain of 200+ nodes (several jump rounds), stars, small random
    * components, bridges between them, duplicate and reversed pairs,
    * self-loops and null endpoints, over ids at zero, negative, or at
    * either end of the long range; edges in random order.
    */
  private val edgeLists: Gen[Seq[(Option[Long], Option[Long])]] = for {
    seed <- Gen.long
    base <- Gen.oneOf(0L, -50000L, Long.MaxValue - 100000L, Long.MinValue)
    chainLen <- Gen.choose(200, 260)
    nStars <- Gen.choose(0, 3)
    nSmall <- Gen.choose(0, 6)
    nBridges <- Gen.choose(0, 2)
    nLoops <- Gen.choose(0, 3)
    nNull <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(1, 3))
    nullNull <- Gen.oneOf(false, true)
  } yield {
    val r = new Random(seed)
    val used = scala.collection.mutable.LinkedHashSet.empty[Long]
    def fresh(): Long = { var x = 0L; while ({ x = base + r.nextInt(100000); !used.add(x) }) (); x }
    def link(x: Long, y: Long): (Long, Long) = if (r.nextBoolean()) (x, y) else (y, x)
    val chain = Seq.fill(chainLen)(fresh())
    var es = chain.sliding(2).map { case Seq(x, y) => link(x, y) }.toVector
    for (_ <- 0 until nStars) {
      val c = fresh()
      es ++= Seq.fill(3 + r.nextInt(28))(link(c, fresh()))
    }
    for (_ <- 0 until nSmall) {
      val ns = Vector.fill(2 + r.nextInt(7))(fresh())
      es ++= Seq.fill(ns.size + r.nextInt(ns.size))(link(ns(r.nextInt(ns.size)), ns(r.nextInt(ns.size))))
    }
    val all = used.toVector
    def any(): Long = all(r.nextInt(all.size))
    es ++= Seq.fill(nBridges)(link(any(), any()))
    es ++= Seq.fill(es.size / 10)(es(r.nextInt(es.size)))
    es ++= Seq.fill(es.size / 10)(es(r.nextInt(es.size))).map(_.swap)
    es ++= Seq.fill(nLoops)(any()).map(x => (x, x)) :+ { val x = fresh(); (x, x) }
    val withNulls = es.map { case (x, y) => (Option(x), Option(y)) } ++
      Seq.fill(nNull)(if (r.nextBoolean()) (Some(any()), None) else (None, Some(fresh()))) ++
      (if (nullNull) Seq((None, None)) else Nil)
    r.shuffle(withNulls)
  }

  test("driver union-find equals the Spark rounds on random edge lists") {
    (1L to 6L).foreach { i =>
      val edges = edgeLists.pureApply(Gen.Parameters.default, Seed(i))
      withClue(s"seed $i, ${edges.size} edges: ") { assertParity(frame(edges)) }
    }
  }

  test("driver union-find equals the Spark rounds on edge cases") {
    assertParity(frame(Nil))
    assertParity(spark.createDataFrame(Seq.empty[Row].asJava, nullable))
    assertParity(frame(Seq((None, None))))
    assertParity(frame(Seq((None, None), (Some(3L), Some(3L)))))
    assertParity(frame(Seq((Some(7L), None))))
    assertParity(frame(Seq((Some(5L), None), (None, Some(2L)), (Some(2L), Some(9L)), (Some(1L), Some(4L)))))
    assertParity(frame(Seq((Some(Long.MaxValue), Some(Long.MinValue)), (Some(-1L), Some(Long.MaxValue)))))
    val ints = StructType(Seq(StructField("a", IntegerType, nullable = false), StructField("b", IntegerType, nullable = false)))
    assertParity(spark.createDataFrame(Seq(Row(3, 1), Row(1, 2), Row(8, 9)).asJava, ints))
  }

  test("the edge count picks the path: at the bound on the driver, over it in Spark rounds") {
    val edges = (1L to 40L).map(i => (i, i + 1)).toDF("a", "b")
    val (atBound, driverJobs) = JobCount(spark)(DupClusters.components(edges, "a", "b", 40L))
    val (overBound, roundJobs) = JobCount(spark)(DupClusters.components(edges, "a", "b", 39L))
    assert(driverJobs <= 2, s"$driverJobs jobs at the bound")
    assert(roundJobs > 4, s"$roundJobs jobs over the bound")
    assert(rows(atBound) == rows(overBound))
    assert(rows(atBound).forall(_._2.contains(1L)))
  }

  test("a few-thousand-edge list resolves in at most 2 jobs") {
    // 3,000 edges: 1,000 three-edge paths 4k..4k+3 in shuffled order
    val edges = new Random(7).shuffle((0L until 1000L).flatMap(k => Seq((4 * k, 4 * k + 1), (4 * k + 2, 4 * k + 1), (4 * k + 2, 4 * k + 3))))
      .toDF("a", "b")
    val (clusters, jobs) = JobCount(spark)(DupClusters.components(edges, "a", "b"))
    assert(jobs <= 2, s"$jobs jobs")
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 4000 && got.forall { case (node, cl) => cl == node - node % 4 })
  }
}
