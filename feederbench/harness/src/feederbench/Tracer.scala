package feederbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One traced call into a layer. Engine counters are filled in by the
  * listener thread; attributes (rows, bytes) by the caller. */
final class Span(val id: Int, val name: String, val parent: Int, val batch: Int,
                 val start: Long) {
  @volatile var end: Long = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  var jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleBytes, spillBytes = 0L
}

/** Spans kept in memory and written at exit. The driver thread tags the
  * jobs it submits with the open span's id (a SparkContext local
  * property), so the listener attributes every job, stage and task to the
  * span that caused it, whichever thread delivers the event. */
final class Tracer extends SparkListener {
  private val Prop = "feederbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var stack = List.empty[Span]
  private var sc: SparkContext = _
  @volatile var enabled = false
  var batch = -1

  def attach(context: SparkContext): Unit = {
    sc = context
    stageSpan.clear() // stage ids restart with every SparkContext
    sc.addSparkListener(this)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), batch, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach an attribute to the latest span called `name` (no-op untraced). */
  def attr(name: String, key: String, value: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name).foreach(_.attrs(key) = value)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
        s.synchronized(s.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => s.synchronized(s.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def json: String = spans.map { s =>
    val a = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "batch": ${s.batch}, """ +
      s""""start_ns": ${s.start}, "end_ns": ${s.end}, "jobs": ${s.jobs}, "stages": ${s.stages}, """ +
      s""""tasks": ${s.tasks}, "task_cpu_s": ${s.cpuNs / 1e9}, "task_run_s": ${s.runMs / 1e3}, """ +
      s""""gc_s": ${s.gcMs / 1e3}, "shuffle_bytes": ${s.shuffleBytes}, """ +
      s""""spill_bytes": ${s.spillBytes}, "attrs": {$a}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
