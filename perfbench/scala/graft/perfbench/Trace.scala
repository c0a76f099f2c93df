package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call the benchmark made into a layer. `req` groups the spans
  * of one operation (a request, a pass, a micro-batch). */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    req: Long, start: Long, end: Long)

/** Per-span Spark work, summed from the listener events of the jobs that
  * ran under the span's job group. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var schedDelayMs = 0L
  var shuffleWrite = 0L; var spill = 0L
}

/** Span recorder. Spans stay in memory until [[write]]. When disabled,
  * [[span]] is a plain call, so the untraced run pays nothing. While a
  * span is open the calling thread's Spark job group names it, which is
  * how [[JobListener]] attributes jobs to spans. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[T](layer: String, name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get()
      val (parent, parentReq) = stack.headOption.getOrElse((-1L, -1L))
      val id = ids.incrementAndGet()
      val r = if (req >= 0) req else parentReq
      sc.setJobGroup(Tracer.group(id), name, interruptOnCancel = false)
      open.set((id, r) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, layer, parent, r, t0, System.nanoTime()))
        open.set(stack)
        if (stack.isEmpty) sc.clearJobGroup()
        else sc.setJobGroup(Tracer.group(parent), "", interruptOnCancel = false)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Self time of each span: its duration minus the part its children
    * cover. Children of one span run on its thread, one after another. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val child = all.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    all.map(s => s.id -> math.max(0L, s.end - s.start - child.getOrElse(s.id, 0L))).toMap
  }

  def write(path: java.nio.file.Path, work: Long => Option[Work]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val w = work(s.id)
      sb ++= s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","parent":${s.parent},""" +
        s""""req":${s.req},"start_ns":${s.start},"end_ns":${s.end},"jobs":${w.map(_.jobs).getOrElse(0L)}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val Prefix = "perfbench-span-"
  def group(id: Long): String = Prefix + id
  def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toLong)
}

/** Attributes every job, stage and task to the span whose job group it ran
  * under; jobs under no benchmark group are counted as unattributed. */
final class JobListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val bySpan = mutable.Map.empty[Long, Work]
  var unattributed = 0L

  private def work(span: Long): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(g) match {
      case Some(span) =>
        e.stageIds.foreach(stageSpan(_) = span)
        work(span).jobs += 1
      case None => unattributed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(work(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val w = work(span)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.runMs += m.executorRunTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val i = e.taskInfo
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + i.gettingResultTime
        w.schedDelayMs += math.max(0L, i.duration - overhead)
      }
    }
  }

  def workOf(span: Long): Option[Work] = synchronized(bySpan.get(span))
}
