package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one task-metrics listener of the mains: executor CPU, shuffle
  * write, memory/disk spill and peak execution memory, summed over all
  * tasks and per job group (a watchdogged query runs under its own
  * group, see [[QueryRunner]]). Install with [[Metrics.install]]. */
final class Metrics private (sc: SparkContext) extends SparkListener {
  import Metrics.Totals

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
  private val all = new Acc
  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => js.stageIds.foreach(stageGroup.put(_, g)))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (te.taskMetrics != null) {
      all.add(te.taskMetrics)
      Option(stageGroup.get(te.stageId))
        .foreach(g => groups.computeIfAbsent(g, _ => new Acc).add(te.taskMetrics))
    }

  /** Everything counted so far under job group `g`, after draining. */
  def group(g: String): Totals = {
    drain(); Option(groups.get(g)).map(_.totals).getOrElse(Totals.Zero)
  }

  /** Run `body` and return its result with the task metrics it added
    * (peak memory is the largest single task's peak inside `body`). */
  def measure[T](body: => T): (T, Totals) = {
    drain()
    val before = all.totals
    all.peakMem.set(0L)
    val r = body
    drain()
    (r, all.totals - before)
  }

  private def drain(): Unit = Metrics.drain(sc)
}

object Metrics {
  final case class Totals(cpuNs: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long, peakExecMem: Long) {
    def cpuSec: Double = cpuNs / 1e9
    /** Additive counters as a delta; the peak is kept as measured. */
    def -(o: Totals): Totals = Totals(cpuNs - o.cpuNs,
      shuffleWriteBytes - o.shuffleWriteBytes, memSpillBytes - o.memSpillBytes,
      diskSpillBytes - o.diskSpillBytes, peakExecMem)
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
