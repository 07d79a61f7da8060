package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._

/** Benchmark-side listener for the traced run. It records one interval per
  * Spark SQL execution (with its physical plan text, so the caller can
  * attribute it by output path), the task metrics of every finished task,
  * and the "size of files read" driver metric of every scan over the
  * benchmark input. Nothing is written until the run ends. */
final class Tracer(inputPath: String) extends SparkListener {

  final class Exec(val id: Long, val startMs: Long, val plan: String) {
    var endMs: Long = -1L
    val inputScanAccs: mutable.Set[Long] = mutable.Set.empty
    var recordsWritten = 0L
  }

  final case class Task(finishMs: Long, cpuNs: Long, gcMs: Long,
                        spillBytes: Long, readBytes: Long)

  val execs: mutable.LinkedHashMap[Long, Exec] = mutable.LinkedHashMap.empty
  val tasks: mutable.ArrayBuffer[Task] = mutable.ArrayBuffer.empty
  private val driverAccs = mutable.Map.empty[Long, Long]
  private val stageExec = mutable.Map.empty[Int, Long]

  private def scanAccs(p: SparkPlanInfo): Seq[Long] = {
    val here =
      if (p.metadata.get("Location").exists(_.contains(inputPath)))
        p.metrics.filter(_.name == "size of files read").map(_.accumulatorId)
      else Nil
    here ++ p.children.flatMap(scanAccs)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        val e = new Exec(s.executionId, s.time, s.physicalPlanDescription)
        e.inputScanAccs ++= scanAccs(s.sparkPlanInfo)
        execs(s.executionId) = e
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(_.inputScanAccs ++= scanAccs(u.sparkPlanInfo))
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.endMs = e.time)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => driverAccs(id) = v }
      case _ =>
    }
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    Option(job.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => job.stageIds.foreach(stageExec(_) = id.toLong))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      tasks += Task(t.taskInfo.finishTime, m.executorCpuTime, m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      stageExec.get(t.stageId).flatMap(execs.get)
        .foreach(_.recordsWritten += m.outputMetrics.recordsWritten)
    }
  }

  /** Bytes of the benchmark input the execution's scans selected. */
  def inputBytes(e: Exec): Long = synchronized(e.inputScanAccs.toSeq.map(driverAccs.getOrElse(_, 0L)).sum)

  /** Executions that started inside [fromMs, toMs]. */
  def execsIn(fromMs: Long, toMs: Long): Seq[Exec] = synchronized {
    execs.values.filter(e => e.startMs >= fromMs && e.startMs <= toMs).toSeq
  }

  def tasksIn(fromMs: Long, toMs: Long): Seq[Task] = synchronized {
    tasks.filter(t => t.finishMs >= fromMs && t.finishMs <= toMs).toSeq
  }

  def clear(): Unit = synchronized {
    execs.clear(); tasks.clear(); driverAccs.clear(); stageExec.clear()
  }
}

object Tracer {
  /** Total length of the union of [start, end] intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
