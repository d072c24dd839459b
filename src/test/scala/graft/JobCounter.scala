package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. A SparkContext local property
  * tags every job the block's thread starts, and every job of the
  * threads Spark hands its local properties to (broadcasts, subqueries,
  * AQE's stages); the count is read once the listener bus has delivered
  * every event. Register it with `addSparkListener` before use. */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val Tag = "graft.jobCounter"
  private val byTag = new ConcurrentHashMap[String, AtomicInteger]()
  private val seq = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { t =>
      byTag.computeIfAbsent(t, _ => new AtomicInteger()).incrementAndGet()
    }

  /** `body`'s result and the jobs it submitted. */
  def jobsOf[T](body: => T): (T, Int) = {
    val tag = s"t${seq.incrementAndGet()}"
    sc.setLocalProperty(Tag, tag)
    val out = try body finally sc.setLocalProperty(Tag, null)
    ListenerBusAccess.drain(sc)
    (out, Option(byTag.get(tag)).fold(0)(_.get))
  }
}
