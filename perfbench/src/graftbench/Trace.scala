package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Task, stage and job counts per benchmark phase. The benchmark thread
  * tags its jobs with the local property [[Phases.Key]]; streaming
  * threads inherit the tag that was set when their query started. */
final class PhaseListener extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskCpuNs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var recordsRead = 0L
  }
  private val accs = mutable.Map.empty[String, Acc]
  private val stagePhase = mutable.Map.empty[Int, String]
  private def acc(p: String) = accs.getOrElseUpdate(p, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(Phases.Key)))
      .getOrElse("untagged")
    acc(p).jobs += 1
    e.stageIds.foreach(stagePhase(_) = p)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stagePhase.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stagePhase.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskCpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Sum over the phases whose tag satisfies `sel`. */
  def sum(sel: String => Boolean)(f: Acc => Long): Long = synchronized {
    accs.collect { case (p, a) if sel(p) => f(a) }.sum
  }
}

object Phases {
  val Key = "graftbench.phase"
  def set(sc: SparkContext, phase: String): Unit = sc.setLocalProperty(Key, phase)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.GraftBenchBus.drain(sc)
}
