package pipebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator

import graft.sources.PageDecoder

/** Spans recorded from outside the program, around calls into one layer's
  * public functions. Held in memory; written out when the run ends. Every
  * span also tags the Spark jobs it starts with its own job group, so the
  * [[EngineListener]] can attribute stages to it. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var lastId = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): (T, Span) = {
    lastId += 1
    val id = lastId
    val parent = stack.headOption.getOrElse(0)
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(name, name, interruptOnCancel = false)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val out = body
      val s = Span(id, parent, name, t0, System.nanoTime())
      spans += s
      (out, s)
    } finally {
      stack = stack.tail
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  def seconds[T](name: String)(body: => T): Double = span(name)(body)._2.seconds

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** A `PageDecoder` that counts the calls the program makes into it and
  * hands each one to the wrapped decoder unchanged. */
final case class CountingDecoder(inner: PageDecoder, calls: LongAccumulator) extends PageDecoder {
  override def decode(payload: Array[Byte]): Either[String, Seq[String]] = {
    calls.add(1); inner.decode(payload)
  }
  override def drawings(payload: Array[Byte], pageNo: Int): String = inner.drawings(payload, pageNo)
  override def decodeWithDrawings(payload: Array[Byte]): Either[String, Seq[(String, String)]] = {
    calls.add(1); inner.decodeWithDrawings(payload)
  }
  override def decodeWithImages(payload: Array[Byte]): Either[String, Seq[(String, Seq[Array[Byte]])]] = {
    calls.add(1); inner.decodeWithImages(payload)
  }
}

/** Task-level engine counters, attributed to the job group (span name)
  * that started each stage. */
final class EngineListener extends SparkListener {
  final case class Task(group: String, durationMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, spillDisk: Long)
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(g)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(stageGroup.getOrDefault(e.stageId, ""),
      e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  def jobCount(groups: String => Boolean): Int = jobs.asScala.count(groups)
  def tasksOf(groups: String => Boolean): Seq[Task] = tasks.asScala.filter(t => groups(t.group)).toSeq
}
