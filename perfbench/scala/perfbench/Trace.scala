package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `id` is the request or query the span belongs to
  * (shared by all its spans); `parent` names the enclosing span, and a
  * Spark job's parent is the job group it ran under. Times are epoch ms. */
final case class Span(id: String, name: String, startMs: Long, endMs: Long, parent: String)

/** Spark work attributed to one job group. */
final class Counts {
  val jobs, stages, tasks, singleTaskStages = new AtomicLong
  val taskMs, shuffleWriteB, spillB, inputB = new AtomicLong

  def add(o: Counts): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get); singleTaskStages.addAndGet(o.singleTaskStages.get)
    taskMs.addAndGet(o.taskMs.get); shuffleWriteB.addAndGet(o.shuffleWriteB.get)
    spillB.addAndGet(o.spillB.get); inputB.addAndGet(o.inputB.get)
  }
}

/** The traced run's recorder: a Spark listener that charges every job,
  * stage and task to the job group (`setJobGroup`) it ran under, plus an
  * in-memory span log. Nothing is attached in an untraced run. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  val spans = new ConcurrentLinkedQueue[Span]()

  @volatile private var attached = false
  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(sc); sc.removeSparkListener(this); attached = false
  }

  def counts(group: String): Counts = groups.computeIfAbsent(group, _ => new Counts)

  /** Counters of every group accepted by `p`, summed. Drains the bus first. */
  def sum(p: String => Boolean): Counts = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val out = new Counts
    groups.forEach((g, c) => if (p(g)) out.add(c))
    out
  }

  def span(id: String, name: String, startMs: Long, endMs: Long, parent: String): Unit =
    spans.add(Span(id, name, startMs, endMs, parent))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    counts(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
      span(g, s"spark.job.${e.jobId}", start, e.time, g)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "ungrouped")
    val c = counts(g)
    c.stages.incrementAndGet()
    c.tasks.addAndGet(e.stageInfo.numTasks)
    if (e.stageInfo.numTasks == 1) c.singleTaskStages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts(stageGroup.getOrDefault(e.stageId, "ungrouped"))
      c.taskMs.addAndGet(m.executorRunTime)
      c.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputB.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Span log as JSON lines, in start order. */
  def writeSpans(path: String): Unit = {
    val lines = new java.util.ArrayList[Span](spans)
    lines.sort((a, b) => java.lang.Long.compare(a.startMs, b.startMs))
    val sb = new StringBuilder
    lines.forEach { s =>
      sb ++= s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"parent":${Json.str(s.parent)}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Runs `body` under a job group so the listener can attribute its jobs. */
object Group {
  def apply[T](sc: SparkContext, id: String)(body: => T): T = {
    sc.setJobGroup(id, id, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
