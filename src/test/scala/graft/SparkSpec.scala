package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, from the same builder as every
  * main. Small shuffle-partition count so tiny-data tests don't schedule
  * 200 tasks.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    // managed tables (Bucketing.writeBucketed) go to a per-JVM temp
    // warehouse; SparkConf reads spark.* system properties at build time
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    SparkEntry.session("local[4]", 4)
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }
}
