package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage wall/CPU attribution for one declared lane — the builder's
  * local stand-in for the Spark UI's stage table (guide §1.1/§7.1; the
  * bench host runs with the UI off). Runs the lane `warm` times to reach
  * steady state, then once instrumented, printing every stage's wall
  * time, executor-CPU sum, task count, shuffle read/write and spill,
  * labelled by the stage's callsite.
  *
  * Usage: runMain graft.tools.LaneProfile <sfDir> <lane> [warmRuns]
  */
object LaneProfile {
  final case class StageRow(id: Int, name: String, wallMs: Long,
                            cpuMs: Long, runMs: Long, tasks: Int,
                            shufReadMB: Double, shufWriteMB: Double,
                            spillMB: Double, inMB: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val lane = args(1)
    val warm = if (args.length > 2) args(2).toInt else 2
    val spark = graft.SessionDefaults.local(graft.SessionDefaults.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(lane)

    (1 to warm).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).collect().length
      System.err.println(f"[profile] warm $i: ${(System.nanoTime()-t0)/1e9}%.3f s rows=$n")
    }

    val rows = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(-1L)
        rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
          wall, m.executorCpuTime / 1000000, m.executorRunTime,
          si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
          m.inputMetrics.bytesRead / 1e6)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = fn(spark, sfDir).collect().length
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)  // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)

    System.err.println(f"\n[profile] $lane instrumented run: $total%.3f s rows=$n  (stages=${rows.length})")
    System.err.println(f"${"stage"}%-5s ${"wall_ms"}%8s ${"cpu_ms"}%8s ${"run_ms"}%8s ${"tasks"}%5s ${"shRd_MB"}%8s ${"shWr_MB"}%8s ${"spill"}%6s ${"in_MB"}%7s  name")
    rows.sortBy(-_.wallMs).foreach { r =>
      System.err.println(f"${r.id}%-5d ${r.wallMs}%8d ${r.cpuMs}%8d ${r.runMs}%8d ${r.tasks}%5d ${r.shufReadMB}%8.1f ${r.shufWriteMB}%8.1f ${r.spillMB}%6.1f ${r.inMB}%7.1f  ${r.name.take(90)}")
    }
    val sumWall = rows.map(_.wallMs).sum
    System.err.println(f"[profile] stage wall sum: ${sumWall / 1000.0}%.3f s (overlap possible); driver gap: ${total - sumWall / 1000.0}%.3f s")
    spark.stop()
  }
}
