package graft

import org.apache.spark.sql.SparkSession

/** One shared session across all suites (sbt runs suites in one JVM). */
object SparkTestSession {
  /** FAIR allocation file generated exactly the way a deployment would:
    * [[graft.tools.WorkloadManager.allocationFileXml]] over the
    * canonical workload queues. Running the whole battery under FAIR +
    * this file is itself part of the workload-enforcement story
    * (WorkloadSpec's confinement test needs the weighted pools to exist
    * at context start; every other suite just lands in the default
    * pool). */
  private def allocationFile: String = {
    val wm = new graft.tools.WorkloadManager
    wm.createQueue(graft.tools.ResourceQueue("batch", priority = "MIN"))
    wm.createQueue(graft.tools.ResourceQueue("rt", priority = "MAX"))
    val f = java.nio.file.Files.createTempFile("graft_pools", ".xml")
    java.nio.file.Files.write(f, wm.allocationFileXml.getBytes("UTF-8"))
    f.toString
  }

  lazy val spark: SparkSession = {
    // the shipped engine session; 8 cores keeps the plan goldens'
    // hashpartitioning(8, ...) independent of the host
    val s = SessionDefaults.local(8)
      .appName("graft-test")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", allocationFile)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}
