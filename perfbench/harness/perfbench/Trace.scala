package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Span recording for one pass. The timed pass uses [[Tracer.Off]],
  * which only runs the body; the traced pass uses a [[Tracer.On]], which
  * keeps every span in memory and tags each Spark job with the span
  * that was open when it was submitted (through a local property that
  * Spark copies into the job's properties). */
sealed trait Tracer {
  def span[T](name: String, layer: String)(body: => T): T
}

object Tracer {
  val SpanProperty = "perfbench.span"

  object Off extends Tracer {
    def span[T](name: String, layer: String)(body: => T): T = body
  }

  final case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Long, var end: Long = -1L)

  /** Span ids are indexes into `spans`; -1 is "no span". */
  final class On(sc: SparkContext) extends Tracer {
    val spans = ArrayBuffer[Span]()
    private var current = -1

    def span[T](name: String, layer: String)(body: => T): T = {
      val id = spans.size
      val parent = current
      spans += Span(id, parent, name, layer, System.nanoTime())
      current = id
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        spans(id).end = System.nanoTime()
        current = parent
        sc.setLocalProperty(SpanProperty, if (parent < 0) null else parent.toString)
      }
    }

    def toJson(node: ObjectNode): Unit = {
      val arr = node.putArray("spans")
      spans.foreach { s =>
        arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
          .put("layer", s.layer).put("start_ns", s.start).put("end_ns", s.end)
      }
    }
  }
}

/** Collects the jobs and task metrics of the traced pass. Registered
  * only around the traced pass, so the timed pass runs without it. */
final class JobListener extends SparkListener {
  private final case class Job(id: Int, span: Int, start: Long, var end: Long = -1L)
  private final case class Task(stage: Int, runMs: Long, shuffleRead: Long,
      shuffleWrite: Long, diskSpill: Long, outputBytes: Long)

  private val jobs = ArrayBuffer[Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  private val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs += Job(e.jobId, span, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  /** Jobs with their span, and one entry per stage that ran tasks (its
    * job, task run times and byte totals). */
  def toJson(node: ObjectNode): Unit = synchronized {
    val ja = node.putArray("jobs")
    jobs.foreach { j =>
      ja.addObject().put("id", j.id).put("span", j.span)
        .put("start_ms", j.start).put("end_ms", j.end)
    }
    val sa = node.putArray("stages")
    tasks.groupBy(_.stage).toSeq.sortBy(_._1).foreach { case (stage, ts) =>
      val o = sa.addObject().put("id", stage).put("job", stageJob.getOrElse(stage, -1))
      val run = o.putArray("task_ms")
      ts.foreach(t => run.add(t.runMs))
      o.put("shuffle_read_bytes", ts.map(_.shuffleRead).sum)
        .put("shuffle_write_bytes", ts.map(_.shuffleWrite).sum)
        .put("disk_spill_bytes", ts.map(_.diskSpill).sum)
        .put("output_bytes", ts.map(_.outputBytes).sum)
    }
  }
}
