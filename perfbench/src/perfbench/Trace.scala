package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: jobs, stages and the task
  * metrics of its completed stages. */
final class Work {
  var jobs, stages = 0
  var tasks, runMs, cpuNs, inBytes, shuffleWrite, shuffleRead, spill = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; inBytes += o.inBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    this
  }
}

final case class Span(id: Long, name: String, parent: Long,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus the listener that attributes jobs and stages to
  * the innermost open span. The span id rides on the job through
  * `SparkContext.setLocalProperty`, so Spark's own property capture
  * carries it to the jobs that adaptive execution and broadcasts
  * submit from other threads. Spans stay in memory until [[write]]. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size + 1L, name, open.headOption.map(_.id).getOrElse(0L),
                 System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toLong).getOrElse(0L)

  private def workOf(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val w = workOf(spanOf(e.properties))
    w.synchronized(w.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val w = workOf(stageSpan.getOrDefault(info.stageId, 0L))
    val m = info.taskMetrics
    w.synchronized {
      w.stages += 1
      w.tasks += info.numTasks
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.inBytes += m.inputMetrics.bytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Waits for the listener bus to deliver every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Work of a span and all its descendants; call [[drain]] first. */
  def workUnder(root: Span): Work = {
    val children = spans.groupBy(_.parent)
    def go(id: Long): Work = {
      val w = new Work().add(workOf(id))
      children.getOrElse(id, Nil).foreach(c => w.add(go(c.id)))
      w
    }
    go(root.id)
  }

  /** Jobs no span claimed (submitted outside every span). */
  def unattributedJobs: Int = workOf(0L).jobs

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
