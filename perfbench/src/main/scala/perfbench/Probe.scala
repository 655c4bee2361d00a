package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters a timed run always keeps: executor task CPU, summed over the
  * whole application. Read at pass boundaries after draining the bus. */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** Per-span counters of the traced run. Each query runs under a job group
  * equal to its span id; jobs started by threads that carry no such group
  * (streaming micro-batches) are charged to the span that is current. */
final class SpanStats {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecordsRead = 0L
  var fetchWaitMs, spillBytes, peakExecMem = 0L
  var inputBytes, inputRecords, splits = 0L
  // streaming progress
  var batches = 0L
  var triggerMs, addBatchMs, walCommitMs, commitMs, stateCommitMs = 0L
  var stateRows, stateBytes = 0L
  // catalyst, from each QueryExecution the listener reports
  var exchanges, joins, scans, rescans, exchangeRows = 0L
  val intervals = mutable.ArrayBuffer[Interval]()
}

/** One timeline interval reported by Spark: a job, a planning phase or a
  * streaming trigger. Times are epoch milliseconds. */
final case class Interval(kind: String, start: Double, end: Double, build: Boolean = false)

/** The traced run's listeners: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (planning phases and plan shape) and a
  * StreamingQueryListener (micro-batch progress). */
final class Probe extends SparkListener {
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, (String, Double, Boolean)]()
  @volatile var current: String = "none"

  def stats(span: String): SpanStats = spans.computeIfAbsent(span, _ => new SpanStats)
  def take(span: String): SpanStats = Option(spans.remove(span)).getOrElse(new SpanStats)

  private def spanOf(props: java.util.Properties): String = {
    val g = Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("q:")) g else current
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    // a job run from inside Materialize.timedBuild is an index build
    val build = e.stageInfos.exists(_.details.contains("graft.operators.Materialize$.timedBuild"))
    e.stageIds.foreach(stageSpan.put(_, span))
    jobSpan.put(e.jobId, (span, e.time.toDouble, build))
    val s = stats(span)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (span, start, build) =>
      val s = stats(span)
      s.synchronized { s.intervals += Interval("job", start, e.time.toDouble, build) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val s = stats(span)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).getOrElse(current)
    val s = stats(span)
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.tasks += 1
      if (!info.successful) s.failedTasks += 1
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        val duration = info.finishTime - info.launchTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.schedDelayMs += math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleRecordsRead += m.shuffleReadMetrics.recordsRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) s.splits += 1
      }
    }
  }

  /** Planning phases and physical-plan shape of every action. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val seenTrackers = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  /** Phase intervals of a QueryExecution's planning tracker, each tracker
    * counted once (a write command can share its tracker with the
    * Dataset it writes). */
  def phases(span: String, qe: QueryExecution): Unit = {
    val fresh = seenTrackers.synchronized(seenTrackers.add(qe.tracker))
    if (fresh) {
      val s = stats(span)
      s.synchronized {
        qe.tracker.phases.foreach { case (name, p) =>
          s.intervals += Interval(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val span = current
    phases(span, qe)
    val nodes = Probe.walk(qe.executedPlan).toSeq
    val scanKeys = nodes.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.mkString(",")
      case b: BatchScanExec => b.table.name()
      case l: LeafExecNode if l.nodeName.contains("Scan") => l.nodeName + "#" + l.id
    }
    val s = stats(span)
    s.synchronized {
      s.exchanges += nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      s.joins += nodes.count(_.isInstanceOf[BaseJoinExec])
      s.scans += scanKeys.size
      s.rescans += scanKeys.size - scanKeys.distinct.size
      s.exchangeRows += nodes.collect { case x: ShuffleExchangeLike =>
        x.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }.sum
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val s = stats(current)
      s.synchronized {
        s.batches += 1
        val trig = d.getOrElse("triggerExecution", 0L)
        s.triggerMs += trig
        s.addBatchMs += d.getOrElse("addBatch", 0L)
        s.walCommitMs += d.getOrElse("walCommit", 0L)
        s.commitMs += d.getOrElse("commitOffsets", 0L) + d.getOrElse("commitBatch", 0L)
        p.stateOperators.foreach { o =>
          s.stateCommitMs += o.commitTimeMs
          s.stateRows = math.max(s.stateRows, o.numRowsTotal)
          s.stateBytes = math.max(s.stateBytes, o.memoryUsedBytes)
        }
        s.intervals += Interval("trigger", start, start + trig)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  /** Every node of an executed plan, through adaptive query stages and
    * subqueries; a reused exchange is a leaf, so it is not counted twice. */
  def walk(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(walk) ++
        other.subqueries.iterator.flatMap(walk)
  }

  /** Block the caller until every posted listener event is processed. */
  def drain(sc: SparkContext): Unit = try {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  } catch { case _: Throwable => Thread.sleep(200) }
}
