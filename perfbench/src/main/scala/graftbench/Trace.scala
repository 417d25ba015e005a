package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans recorded by the benchmark around its calls into the program.
  *
  * A span has a name, a start, an end, a parent and a trace id (one trace
  * per job or query). Spans stay in memory and are written out once, at
  * the end. While a span is open its id is the Spark local property
  * [[Tracer.SpanProperty]], so [[StageListener]] can attribute every stage
  * and task to the innermost open span. With tracing off no span is
  * recorded and no property is set.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextTrace = 0

  /** A span that starts a new trace (one job, one query or one probe). */
  def trace[A](name: String)(body: => A): A = {
    nextTrace += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      open(name)
      try body
      finally close()
    }

  /** Open/close for spans whose boundaries are callbacks, not blocks. */
  def open(name: String): Unit = if (on) {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), nextTrace, name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProperty, s.id.toString)
  }

  def close(): Unit = if (on) {
    stack.head.endNs = System.nanoTime()
    stack = stack.tail
    sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
  }

  /** Most recent closed span with this name. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(s => s.name == name && s.endNs >= 0)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** All spans in the subtree rooted at `s`, `s` included. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Duration minus the time the child spans cover. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s).sortBy(_.startNs).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), c) =>
        val from = math.max(c.startNs, reach)
        (sum + math.max(0L, c.endNs - from), math.max(reach, c.endNs))
    }._1
    (s.endNs - s.startNs - covered) / 1e9
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  final case class Span(id: Int, parent: Int, trace: Int, name: String, startNs: Long) {
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Stage and task metrics of one stage attempt, keyed to a span. */
final class StageRec(val span: Int, val stageId: Int) {
  var wallMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
}

/** Reads the span property of each submitted job and attributes the
  * job's stages and their task metrics to that span. Runs on Spark's
  * listener thread; read it only after `GraftbenchBus.drain`. */
final class StageListener extends SparkListener {
  val jobsBySpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val stageSpan = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[(Int, Int), StageRec]

  private def rec(stageId: Int, attempt: Int): Option[StageRec] =
    stageSpan.get(stageId).map(sp => stages.getOrElseUpdate((stageId, attempt), new StageRec(sp, stageId)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { sp =>
      jobsBySpan(sp.toInt) += 1
      e.stageIds.foreach(stageSpan(_) = sp.toInt)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    rec(i.stageId, i.attemptNumber()).foreach { r =>
      r.wallMs = (for (c <- i.completionTime; s <- i.submissionTime) yield c - s).getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) rec(e.stageId, e.stageAttemptId).foreach { r =>
      r.taskMs += e.taskInfo.duration
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.diskBytesSpilled
      r.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Stage attempts that ran at least one task inside the given spans. */
  def stagesOf(spanIds: Set[Int]): Seq[StageRec] = synchronized {
    stages.values.filter(r => spanIds(r.span) && r.taskMs.nonEmpty).toSeq.sortBy(_.stageId)
  }

  def jobsOf(spanIds: Set[Int]): Int = synchronized(spanIds.toSeq.map(jobsBySpan).sum)
}

/** Spark engine totals over a set of stages. */
final case class EngineTotals(jobs: Int, stages: Seq[StageRec], wallSeconds: Double, cores: Int) {
  private def mb(b: Long) = b / 1048576.0
  def tasks: Int = stages.map(_.taskMs.size).sum
  def runSeconds: Double = stages.map(_.runMs).sum / 1000.0
  def gcSeconds: Double = stages.map(_.gcMs).sum / 1000.0
  def shuffleWriteMb: Double = mb(stages.map(_.shuffleWrite).sum)
  def spillMb: Double = mb(stages.map(_.spill).sum)
  def utilization: Double = runSeconds / math.max(1e-9, wallSeconds * cores)

  /** Max over median task time in the stage with the longest wall time. */
  def taskSkew: Double =
    if (stages.isEmpty) 0.0
    else {
      val ts = stages.maxBy(_.wallMs).taskMs.sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
}
