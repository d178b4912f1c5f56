package graft.index

import java.nio.file.Files
import graft.SparkSpec
import graft.core.Model.ParserResult

/** The parse-error report of `applyChanges`: a capped sample plus the full
  * total, from the one parse-metadata aggregate.
  */
class IndexPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def failing(n: Int, partitions: Int) =
    spark.createDataset((1 to n).map(i =>
      ParserResult(s"f$i.py", s"h$i", Seq.empty, Seq.empty, Seq.empty, Seq(s"err $i"))))
      .repartition(partitions)

  private def apply(results: org.apache.spark.sql.Dataset[ParserResult]) =
    IndexPipeline.applyChanges(spark,
      IndexStore.snapshot(Files.createTempDirectory("graft_errs").toString), results,
      Seq.empty[String].toDF("relPath"), incremental = false, DeterministicEmbedder())._1

  test("1,001 parse errors: the total is exact and the sample stops at the cap") {
    // one partition exercises the per-partition cap, four the final slice
    Seq(1, 4).foreach { p =>
      val res = apply(failing(1001, p))
      assert(res.filesParsed == 1001, s"$p partitions")
      assert(res.errorsTotal == 1001, s"$p partitions")
      assert(res.errors.size == IndexPipeline.ErrorSampleCap, s"$p partitions")
      assert(res.errors.distinct.size == res.errors.size, s"$p partitions")
    }
  }

  test("a batch below the cap reports every error exactly") {
    val res = apply(failing(2, 2))
    assert(res.errorsTotal == 2)
    assert(res.errors.toSet == Set("err 1", "err 2"))
  }
}
