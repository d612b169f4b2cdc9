package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work charged to one span: every job started while the span's job
  * group was set, and every task of those jobs' stages. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** One timed call into a layer. `layer` names the repo layer the call
  * belongs to; a span's self time is its duration minus its children's. */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val startNs: Long) {
  var endNs: Long = startNs
  val work = new Work
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into the engine. With `sc` set, a listener
  * charges jobs and tasks to the span whose id was the job group when the
  * job started; with `sc` null, spans are only timed (the untraced run
  * still needs the durations for its latencies). */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val byId = new ConcurrentHashMap[String, Span]
  /** Jobs that started while no span of this tracer was open. */
  @volatile var ungroupedJobs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      group.flatMap(g => Option(byId.get(g))) match {
        case Some(s) =>
          s.work.synchronized { s.work.jobs += 1 }
          e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
        case None => ungroupedJobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val w = s.work
        w.synchronized {
          w.tasks += 1
          if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) w.taskFailures += 1
          Option(e.taskMetrics).foreach { m =>
            w.taskMs += m.executorRunTime
            w.inputBytes += m.inputMetrics.bytesRead
            w.outputBytes += m.outputMetrics.bytesWritten
            w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  def attach(): Unit = if (sc != null) sc.addSparkListener(listener)

  /** Waits until every event posted so far reached the listener, then
    * detaches it. */
  def detach(): Unit = if (sc != null) {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.length, parent, name, layer, System.nanoTime())
    spans += s
    open = s :: open
    if (sc != null) {
      byId.put(s.id.toString, s)
      sc.setJobGroup(s.id.toString, name)
    }
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (sc != null) open.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span for work timed elsewhere, starting at `startNs` inside the
    * currently open span; returns its end. */
  def record(name: String, layer: String, startNs: Long, seconds: Double): Long = {
    val parent = open.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.length, parent, name, layer, startNs)
    s.endNs = startNs + (seconds * 1e9).toLong
    spans += s
    s.endNs
  }

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  def selfSeconds(s: Span): Double =
    s.seconds - children(s.id).map(_.seconds).sum

  /** All spans below (and including) `root`. */
  def subtree(root: Span): Seq[Span] = {
    val kids = children(root.id)
    root +: kids.flatMap(subtree)
  }
}
