package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one task-metrics listener and the one timer of the mains: a
  * [[measure]] body's wall seconds, its executor CPU, shuffle write,
  * memory/disk spill and peak execution memory, and one row per stage it
  * ran. Install with [[Metrics.install]]. */
final class Metrics private (sc: SparkContext) extends SparkListener {
  import Metrics.{Stage, Tag, Totals, bodies}

  /** The open bodies' stage rows; a task of a closed body counts nowhere. */
  private val open = new ConcurrentHashMap[String, mutable.LinkedHashMap[Int, Stage]]()
  /** Stage id → the bodies its job ran under and the stage's name. */
  private val stageBodies = new ConcurrentHashMap[Int, (Seq[String], String)]()

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { tag =>
      val ids = tag.split(',').toSeq
      js.stageInfos.foreach(s => stageBodies.put(s.stageId, (ids, s.name.takeWhile(_ != '\n'))))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (te.taskMetrics != null)
      Option(stageBodies.get(te.stageId)).foreach { case (ids, name) =>
        ids.flatMap(id => Option(open.get(id))).foreach(rows => rows.synchronized {
          rows(te.stageId) = rows.getOrElse(te.stageId, Stage(te.stageId, name)).add(te.taskMetrics)
        })
      }

  /** Run `body` and return its result with its wall seconds and the task
    * metrics of the jobs it started, on this thread or on threads it
    * started (a stream's micro-batches too), and of no other thread's
    * jobs. A nested body counts into every enclosing one. Peak memory is
    * the largest single task's peak. The wall covers the body alone, not
    * the wait for the listener bus. The body's jobs carry a local
    * property, not a job group of their own, so a watchdog can still
    * cancel the caller's group. */
  def measure[T](body: => T): (T, Totals) = {
    val outer = Option(sc.getLocalProperty(Tag))
    val id = s"measure-${bodies.incrementAndGet()}"
    val rows = mutable.LinkedHashMap[Int, Stage]()
    open.put(id, rows)
    sc.setLocalProperty(Tag, (outer.toSeq :+ id).mkString(","))
    try {
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      (r, Totals(wall, rows.synchronized(rows.values.toSeq)))
    } finally {
      sc.setLocalProperty(Tag, outer.orNull)
      open.remove(id)
    }
  }

  /** Block until every event posted so far has reached the listeners.
    * Listener delivery is async; `LiveListenerBus.waitUntilEmpty` is
    * `private[spark]` in Scala but public in bytecode, hence reflection
    * (with a short sleep should the call ever break). */
  private def drain(): Unit = try {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch { case _: NoSuchMethodException =>
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
    }
  } catch { case _: Throwable => Thread.sleep(100) }
}

object Metrics {
  /** The local property naming the [[Metrics.measure]] bodies a job
    * runs under, innermost last. */
  private val Tag = "graft.measure"
  private val bodies = new AtomicLong()

  /** One stage a body ran: its id, the first line of its name, and its
    * tasks' count, executor CPU, input and shuffle records, shuffle write
    * bytes, spill and largest single-task peak execution memory. */
  final case class Stage(id: Int, name: String, tasks: Int = 0, cpuNs: Long = 0L,
      recordsIn: Long = 0L, shuffleReadRecords: Long = 0L, shuffleWriteRecords: Long = 0L,
      shuffleWriteBytes: Long = 0L, memSpillBytes: Long = 0L, diskSpillBytes: Long = 0L,
      peakExecMem: Long = 0L) {
    def cpuSec: Double = cpuNs / 1e9
    private[Metrics] def add(m: TaskMetrics): Stage = Stage(id, name, tasks + 1,
      cpuNs + m.executorCpuTime, recordsIn + m.inputMetrics.recordsRead,
      shuffleReadRecords + m.shuffleReadMetrics.recordsRead,
      shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
      shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten, memSpillBytes + m.memoryBytesSpilled,
      diskSpillBytes + m.diskBytesSpilled, math.max(peakExecMem, m.peakExecutionMemory))
  }

  /** What [[Metrics.measure]] saw of a body: its wall seconds and its
    * stages, in first-task order. The task totals are the stages' sums,
    * peak memory their largest. */
  final case class Totals(wallSec: Double, stages: Seq[Stage]) {
    def cpuNs: Long = stages.map(_.cpuNs).sum
    def cpuSec: Double = cpuNs / 1e9
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def memSpillBytes: Long = stages.map(_.memSpillBytes).sum
    def diskSpillBytes: Long = stages.map(_.diskSpillBytes).sum
    def peakExecMem: Long = stages.map(_.peakExecMem).maxOption.getOrElse(0L)
  }

  def install(spark: SparkSession): Metrics = {
    val m = new Metrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
