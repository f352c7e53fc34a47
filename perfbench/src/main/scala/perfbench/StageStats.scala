package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor-side totals over one measured call, from Spark's own task
  * metrics.
  */
final class StageStats extends SparkListener {
  @volatile var jobs, stages, tasks, lastStageTasks = 0L
  @volatile var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  @volatile var recordsRead, bytesRead, bytesWritten = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    lastStageTasks = e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
      bytesRead += m.inputMetrics.bytesRead
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }
}

object StageStats {
  /** Run `body` with a fresh listener attached; returns its result, the
    * wall seconds, and the listener's totals.
    */
  def measure[A](spark: SparkSession)(body: => A): (A, Double, StageStats) = {
    val sc = spark.sparkContext
    val stats = new StageStats
    sc.addSparkListener(stats)
    try {
      val t0 = System.nanoTime()
      val a = body
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.perfbench.BusDrain(sc)
      (a, wall, stats)
    } finally sc.removeSparkListener(stats)
  }
}
