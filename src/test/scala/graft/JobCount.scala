package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs a block starts, counted by a listener. Jobs are tagged with a
  * local property, which threads the block starts inherit. The listener bus
  * delivers in order, so once a marker job submitted after the block is
  * seen, every job of the block has been.
  */
object JobCount {
  private val Tag = "graft.test.jobs"
  private val seen = new ConcurrentLinkedQueue[String]()
  private var listening = false

  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    synchronized {
      if (!listening) sc.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          Option(js.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(seen.add)
      })
      listening = true
    }
    val id = UUID.randomUUID().toString
    def tagged[B](tag: String)(b: => B): B = {
      sc.setLocalProperty(Tag, tag)
      try b finally sc.setLocalProperty(Tag, null)
    }
    val out = tagged(id)(body)
    tagged(s"$id/end")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!seen.contains(s"$id/end")) {
      assert(System.nanoTime() < deadline, "the marker job never reached the listener")
      Thread.sleep(5)
    }
    (out, seen.asScala.count(_ == id))
  }
}
