package olapbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Layer spans recorded from outside the engine, around each call into
  * a layer's public functions. Spans live in memory and are written once
  * the run ends. With tracing off nothing is recorded and no Spark local
  * property is touched, so untraced runs pay only the clock reads.
  *
  * Each open span also names itself in the SparkContext local properties
  * of the calling thread; jobs submitted from inside it carry those
  * properties, which is how [[JobCounter]] attributes every job to the
  * layer and window that fired it.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  @volatile var sc: Option[SparkContext] = None
  private var currentOp = -1

  /** Run `body` as operation `op`: the root span every layer span of
    * that operation hangs under.
    */
  def op[T](id: Int, kind: String)(body: => T): T = {
    currentOp = id
    try span(kind)(body) finally currentOp = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, open.headOption.map(_.id).getOrElse(-1),
        currentOp, name, System.nanoTime())
      spans += s
      open.push(s)
      label()
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        label()
      }
    }

  /** A closed span measured by the caller, under the innermost open one
    * (for work whose start is only known after it began).
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans += Span(spans.length,
      open.headOption.map(_.id).getOrElse(-1), currentOp, name, startNs,
      endNs)

  /** Layer and family (the layer directly under the operation root) of
    * the innermost open span, as seen by jobs submitted right now.
    */
  private def label(): Unit = sc.foreach { c =>
    val chain = open.reverse
    c.setLocalProperty(JobCounter.OpKey,
      if (chain.isEmpty) null else currentOp.toString)
    c.setLocalProperty(JobCounter.SpanKey, chain.lastOption.map(_.name).orNull)
    c.setLocalProperty(JobCounter.FamilyKey,
      chain.lift(1).orElse(chain.headOption).map(_.name).orNull)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, var endNs: Long = 0L)
}

/** Spark job, stage and task counters keyed by (operation, family,
  * span), fed by the local properties [[Tracer]] sets. Registered only
  * for traced runs.
  */
final class JobCounter extends SparkListener {
  import JobCounter._

  final class Counts {
    var jobs, stages, tasks = 0L
    var taskRunMs, shuffleRead, shuffleWrite, spill, gcMs = 0L
  }

  val counts = mutable.LinkedHashMap.empty[Key, Counts]
  private val stageKey = mutable.HashMap.empty[Int, Key]

  private def at(k: Key): Counts = counts.getOrElseUpdate(k, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val key = Key(prop(OpKey).map(_.toInt).getOrElse(-1),
      prop(FamilyKey).getOrElse("none"), prop(SpanKey).getOrElse("none"))
    at(key).jobs += 1
    e.stageInfos.foreach(s => stageKey(s.stageId) = key)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(k => at(k).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = at(k)
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }
}

object JobCounter {
  final case class Key(op: Int, family: String, span: String)
  val OpKey = "olapbench.op"
  val FamilyKey = "olapbench.family"
  val SpanKey = "olapbench.span"
}
