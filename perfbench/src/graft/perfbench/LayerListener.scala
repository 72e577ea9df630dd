package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Records, from outside the program, what Spark did during one traced
  * run: every finished task's metrics, which SQL execution each stage
  * belonged to, each execution's description, plan and time span, and
  * the peak bytes of cached RDD blocks.
  */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachePeak = 0L

  def reset(): Unit = synchronized {
    tasks.clear(); stageExec.clear(); execs.clear(); blocks.clear(); cachePeak = 0L
  }

  def snapshot(): Snapshot = synchronized {
    Snapshot(tasks.toVector, stageExec.toMap, execs.values.toVector, cachePeak)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(s => stageExec(s) = id.toLong))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(
      stage = e.stageId,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (bytes == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = bytes
      cachePeak = math.max(cachePeak, blocks.valuesIterator.sum)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.executionId, s.description, s.physicalPlanDescription,
        s.time, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(x => execs(s.executionId) = x.copy(endMs = s.time))
    }
    case _ =>
  }
}

object LayerListener {

  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, fetchWaitMs: Long, spillBytes: Long)

  final case class Exec(id: Long, description: String, plan: String, startMs: Long,
      endMs: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
    /** True when the execution writes files under `path`. */
    def writes(path: String): Boolean =
      plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(path)
  }

  final case class Snapshot(tasks: Vector[Task], stageExec: Map[Int, Long],
      execs: Vector[Exec], cachePeakBytes: Long) {
    def tasksOf(exec: Exec): Vector[Task] =
      tasks.filter(t => stageExec.get(t.stage).contains(exec.id))
  }

  val MB: Double = 1024.0 * 1024.0
}
