package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the traced run. Times are ns on the JVM's
  * monotonic clock, relative to the run's start.
  */
case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Spans are kept in memory and written as JSON lines when the run ends.
  * Until [[start]], `span` only runs its body: no clock reads, no Spark
  * local property, no listener.
  */
final class Tracer(sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var enabled = false
  var listener: Option[VerbListener] = None

  def start(): Unit = {
    val l = new VerbListener
    sc.addSparkListener(l)
    listener = Some(l)
    enabled = true
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime() - t0
      try body
      finally {
        spans += Span(id, name, parent, start, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  /** A verb span: a span whose Spark jobs are attributed to `verb`. */
  def verb[A](verb: String)(body: => A): A =
    if (!enabled) body
    else {
      sc.setLocalProperty(VerbListener.Key, verb)
      try span(verb)(body) finally sc.setLocalProperty(VerbListener.Key, null)
    }

  def all: Seq[Span] = spans.toSeq
}

/** Per-verb Spark counters from one benchmark-installed listener: jobs are
  * tagged with the verb through a local property set on the client thread,
  * and stages and tasks inherit their job's verb.
  */
final class VerbListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var taskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
    val taskDurations = mutable.ArrayBuffer.empty[Long]
  }
  private val stageVerb = mutable.HashMap.empty[Int, String]
  val byVerb = mutable.LinkedHashMap.empty[String, Counters]
  private def of(v: String) = byVerb.getOrElseUpdate(v, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val v = Option(e.properties).flatMap(p => Option(p.getProperty(VerbListener.Key)))
    v.foreach { verb =>
      of(verb).jobs += 1
      e.stageInfos.foreach(s => stageVerb(s.stageId) = verb)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageVerb.get(e.stageInfo.stageId).foreach(v => of(v).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (v <- stageVerb.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(v)
      c.taskMs += m.executorRunTime
      c.taskDurations += e.taskInfo.duration
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }
  def snapshot(sc: SparkContext): Map[String, Counters] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(byVerb.toMap)
  }
}

object VerbListener { val Key = "graftbench.verb" }
