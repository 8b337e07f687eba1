package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds (the clock
  * Spark stamps its job, stage and task events with), so listener
  * records can be placed inside span windows. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startMs: Long, endMs: Long, window: Boolean)

/** Spark work charged to one span. */
final class Charge {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs = 0L
  var shuffleRead, shuffleWrite, spill, input, output, outputRows = 0L
}

/** Spans recorded by the benchmark around its own calls into the
  * engine, and a listener that charges each Spark job to the span that
  * submitted it.
  *
  * Attribution: a job carries the submitting thread's innermost open
  * span in the `perfbench.span` local property. A span opened with
  * `window = true` instead claims every job submitted while it is open,
  * whatever thread submitted it: `Pipeline.run` submits its writes from
  * Futures on the global ExecutionContext, whose pooled threads carry
  * stale inherited properties. Window spans are only opened where one
  * client runs at a time. Everything is kept in memory and resolved once
  * at the end (`charges`), after the listener bus has drained.
  *
  * Spans are recorded only while attached to a context; with tracing off
  * nothing is attached, so `span` just runs the body. */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: SparkContext = _

  def span[T](name: String, request: Long = -1, window: Boolean = false)(body: => T): T = {
    val ctx = sc
    if (ctx == null) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      ctx.setLocalProperty(Tracer.Prop, id.toString)
      val start = System.currentTimeMillis()
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.getOrElse(0L), request, start,
          System.currentTimeMillis(), window))
        stack.set(outer)
        ctx.setLocalProperty(Tracer.Prop, outer.headOption.map(_.toString).orNull)
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  // ---- listener side -------------------------------------------------
  private final case class JobRec(time: Long, prop: Long, stages: Seq[Int])
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long, shRead: Long,
    shWrite: Long, spill: Long, in: Long, out: Long, outRows: Long)
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
        .map(_.toLong).getOrElse(0L)
      jobs.add(JobRec(e.time, p, e.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten))
    }
  }

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    context.addSparkListener(listener)
  }

  /** Stop charging: drain the bus so every event so far is recorded,
    * then detach (a later session in the same JVM re-attaches). */
  def detach(): Unit = if (enabled && sc != null) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    sc = null
  }

  /** Resolve every recorded job, stage and task to its span. */
  def charges(): Map[Long, Charge] = {
    val windows = all.filter(_.window)
    val out = mutable.Map[Long, Charge]()
    val stageSpan = mutable.Map[Int, Long]()
    jobs.asScala.foreach { j =>
      val owner = windows.find(w => j.time >= w.startMs && j.time <= w.endMs)
        .map(_.id).getOrElse(j.prop)
      val c = out.getOrElseUpdate(owner, new Charge)
      c.jobs += 1
      j.stages.foreach(s => stageSpan.getOrElseUpdate(s, owner))
    }
    val seenStages = mutable.Set[Int]()
    tasks.asScala.foreach { t =>
      val c = out.getOrElseUpdate(stageSpan.getOrElse(t.stage, 0L), new Charge)
      if (seenStages.add(t.stage)) c.stages += 1
      c.tasks += 1; c.runMs += t.runMs; c.cpuNs += t.cpuNs
      c.shuffleRead += t.shRead; c.shuffleWrite += t.shWrite; c.spill += t.spill
      c.input += t.in; c.output += t.out; c.outputRows += t.outRows
    }
    out.toMap
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
