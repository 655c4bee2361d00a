package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one task-metrics listener of the mains: executor CPU, shuffle
  * write, memory/disk spill and peak execution memory, per job group (a
  * watchdogged query runs under its own group, see [[QueryRunner]]) and
  * per [[measure]] body. Install with [[Metrics.install]]. */
final class Metrics private (sc: SparkContext) extends SparkListener {
  import Metrics.{Tag, Totals, bodies}

  private final class Acc {
    val cpuNs, shuffleWrite, memSpill, diskSpill, peakMem = new AtomicLong()
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
    def totals: Totals = Totals(cpuNs.get, shuffleWrite.get, memSpill.get,
      diskSpill.get, peakMem.get)
  }
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroups = new ConcurrentHashMap[Int, Seq[String]]()

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).foreach { p =>
      val gs = Option(p.getProperty("spark.jobGroup.id")).toSeq ++
        Option(p.getProperty(Tag)).toSeq.flatMap(_.split(','))
      if (gs.nonEmpty) js.stageIds.foreach(stageGroups.put(_, gs))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (te.taskMetrics != null)
      Option(stageGroups.get(te.stageId)).foreach(_.foreach(g =>
        groups.computeIfAbsent(g, _ => new Acc).add(te.taskMetrics)))

  /** Everything counted so far under job group `g`, after draining. */
  def group(g: String): Totals = {
    drain(); Option(groups.get(g)).map(_.totals).getOrElse(Totals.Zero)
  }

  /** Run `body` and return its result with the task metrics of the jobs
    * it started, on this thread or on threads it started (a stream's
    * micro-batches too), and of no other thread's jobs. A nested body
    * counts into every enclosing one. Peak memory is the largest single
    * task's peak. The body's jobs carry a local property, not a job group
    * of their own, so a watchdog can still cancel the caller's group. */
  def measure[T](body: => T): (T, Totals) = {
    val outer = Option(sc.getLocalProperty(Tag))
    val id = s"measure-${bodies.incrementAndGet()}"
    sc.setLocalProperty(Tag, (outer.toSeq :+ id).mkString(","))
    try (body, group(id))
    finally {
      sc.setLocalProperty(Tag, outer.orNull)
      groups.remove(id)
    }
  }

  private def drain(): Unit = Metrics.drain(sc)
}

object Metrics {
  /** The local property naming the [[Metrics.measure]] bodies a job
    * runs under, innermost last. */
  private val Tag = "graft.measure"
  private val bodies = new AtomicLong()

  final case class Totals(cpuNs: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long, peakExecMem: Long) {
    def cpuSec: Double = cpuNs / 1e9
  }
  object Totals { val Zero: Totals = Totals(0L, 0L, 0L, 0L, 0L) }

  def install(spark: SparkSession): Metrics = {
    val m = new Metrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Block until every event posted so far has reached the listeners.
    * Listener delivery is async; `LiveListenerBus.waitUntilEmpty` is
    * `private[spark]` in Scala but public in bytecode, hence reflection
    * (with a short sleep should the call ever break). */
  def drain(sc: SparkContext): Unit = try {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch { case _: NoSuchMethodException =>
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
    }
  } catch { case _: Throwable => Thread.sleep(100) }
}
