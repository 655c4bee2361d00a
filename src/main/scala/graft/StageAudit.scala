package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level CPU attribution for one registry query (r11 verdict
  * item 3: "is the bm25 family's 7–9 s sf0.1 floor fixed machinery or
  * a hidden corpus-sized stage?"). Runs `SparkEntry.queries(name)`
  * once warm and once audited, printing per-stage executor CPU,
  * record counts, and the stage's name/callsite — the evidence a
  * plan-shape claim needs when per-query totals can't localize cost.
  *
  * Usage: StageAudit <sfDir> <queryName> [queryName...]
  */
object StageAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = Session.build("graft-stage-audit")

    final case class St(id: Int, name: String, cpuSec: Double,
        recordsIn: Long, shuffleReadRec: Long, shuffleWriteRec: Long,
        tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(St(i.stageId, i.name,
          m.executorCpuTime / 1e9,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten,
          i.numTasks))
      }
    }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).collect() // warm: codegen + index builds
      stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).collect().length
      val wall = (System.nanoTime() - t0) / 1e9
      // stage events are posted async: drain the bus before reading
      Metrics.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(-_.cpuSec)
      println(f"== $name: $n rows, wall $wall%.2f s, " +
        f"stage CPU total ${ss.map(_.cpuSec).sum}%.2f s, ${ss.size} stages")
      ss.foreach { s =>
        println(f"  stage ${s.id}%4d cpu=${s.cpuSec}%7.2f s tasks=${s.tasks}%3d " +
          f"in=${s.recordsIn}%10d shufR=${s.shuffleReadRec}%9d " +
          f"shufW=${s.shuffleWriteRec}%9d  ${s.name.linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
