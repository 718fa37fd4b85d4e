package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder plus a Spark listener that attaches jobs and
  * stages to the span that launched them.
  *
  * A span is opened around a call into one layer of the library. While it
  * is open, the calling thread's Spark local property `perfbench.span`
  * carries its id, so every job (and every stage of it) that call starts
  * is tagged with that id; the job description names the span too. Spans
  * are kept in memory and written once, at the end of the run.
  *
  * With `enabled = false` nothing is tagged or recorded: [[span]] just
  * runs its body. That is the untraced configuration.
  */
final class Trace(sc: SparkContext, clock: () => Double) {
  final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double,
                        attrs: scala.collection.mutable.Map[String, Any])
  final case class Job(id: Int, span: Int)
  final case class Stage(id: Int, attempt: Int, span: Int, tasks: Int, runS: Double,
                         gcS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  private var current = 0 // id of the innermost open span on the client thread; 0 = none
  @volatile var enabled = false

  private val key = "perfbench.span"
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(key))).map(_.toInt).getOrElse(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += Job(e.jobId, spanOf(e.properties))
    }
    private val stageSpan = scala.collection.concurrent.TrieMap.empty[(Int, Int), Int]
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), spanOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = stageSpan.remove((i.stageId, i.attemptNumber())).getOrElse(0)
      val st =
        if (m == null) Stage(i.stageId, i.attemptNumber(), span, i.numTasks, 0, 0, 0, 0, 0)
        else Stage(i.stageId, i.attemptNumber(), span, i.numTasks, m.executorRunTime / 1000.0,
          m.jvmGCTime / 1000.0,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      stages.synchronized { stages += st }
    }
  }

  def start(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }

  def stop(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    enabled = false
  }

  /** Runs `body` inside a span named `name`, a child of the innermost open
    * span. `attrs` receives values the caller learns during the call. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, current, name, clock(), Double.NaN,
        scala.collection.mutable.Map(attrs: _*))
      spans += s
      val outer = current
      val outerDesc = sc.getLocalProperty("spark.job.description")
      current = s.id
      sc.setLocalProperty(key, s.id.toString)
      sc.setJobDescription(s"perfbench ${s.id} $name")
      try body
      finally {
        s.end = clock()
        current = outer
        sc.setLocalProperty(key, if (outer == 0) null else outer.toString)
        sc.setJobDescription(outerDesc)
      }
    }

  /** Attributes of the innermost open span (no-op when untraced). */
  def note(kv: (String, Any)*): Unit =
    if (enabled && current > 0) spans(current - 1).attrs ++= kv

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs.toMap)).toSeq,
    "jobs" -> jobs.synchronized(jobs.map(j => Map("id" -> j.id, "span" -> j.span)).toSeq),
    "stages" -> stages.synchronized(stages.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
      "span" -> s.span, "tasks" -> s.tasks, "run_s" -> s.runS, "gc_s" -> s.gcS,
      "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill)).toSeq))
}
