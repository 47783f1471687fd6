package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work attributed to one job group (or to no group). */
final case class Work(jobs: Long, taskS: Double, gcS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double) {
  def -(o: Work): Work = Work(jobs - o.jobs, taskS - o.taskS, gcS - o.gcS,
    shuffleReadMb - o.shuffleReadMb, shuffleWriteMb - o.shuffleWriteMb, spillMb - o.spillMb)
  def +(o: Work): Work = Work(jobs + o.jobs, taskS + o.taskS, gcS + o.gcS,
    shuffleReadMb + o.shuffleReadMb, shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb)
}

object Work { val zero: Work = Work(0, 0, 0, 0, 0, 0) }

/** Listener that sums job and task metrics per job group. The benchmark
  * sets the group (`spark.jobGroup.id`) around each call into a layer;
  * jobs started with no group land under [[GroupListener.NoGroup]]. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def add(g: String, w: Work): Unit = synchronized {
    byGroup(g) = byGroup.getOrElse(g, Work.zero) + w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(GroupListener.NoGroup)
    synchronized { e.stageIds.foreach(stageGroup(_) = g) }
    add(g, Work.zero.copy(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = synchronized(stageGroup.getOrElse(e.stageId, GroupListener.NoGroup))
      add(g, Work(0, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6))
    }
  }

  /** Exact totals: drains the listener bus first. */
  def snapshot(sc: SparkContext): Map[String, Work] = {
    PerfbenchBus.drain(sc)
    synchronized(byGroup.toMap)
  }
}

object GroupListener { val NoGroup = "-" }

/** One traced interval: a call into a layer. Spans of one query, request
  * or round share `rid`; `parent` is the enclosing span on the thread. */
final case class Span(id: Long, parent: Long, rid: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off by default: untraced runs pay one
  * boolean test per call. Spans are written out once, at exit. */
object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Add `n` to the counter `name` (rows out of a layer, say). */
  def count(name: String, n: Long): Unit =
    if (on) counts.merge(name, n, (a: java.lang.Long, b: java.lang.Long) => a + b)

  def counted: Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.longValue }.toMap

  /** Time `f` as span `name`; with a Spark context, its jobs run under
    * job group `name@rid` so the listener attributes them to this layer
    * and this query, request or round. */
  def span[T](name: String, rid: String, sc: SparkContext = null)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val prevGroup = if (sc == null) null else sc.getLocalProperty("spark.jobGroup.id")
      if (sc != null) sc.setJobGroup(s"$name@$rid", s"$name@$rid")
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, rid, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        if (sc != null) {
          if (prevGroup == null) sc.clearJobGroup()
          else sc.setJobGroup(prevGroup, prevGroup)
        }
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"rid":"${s.rid}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
