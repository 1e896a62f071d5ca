package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for declared queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/rNN/`. Driver-side planning only (no job is executed; AQE
  * plans print as isFinalPlan=false, which is the comparable artifact —
  * identical inputs produce identical initial plans).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Default query set: the Bench headline lanes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only = if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
               else None
    val spark = graft.SessionDefaults.local(graft.SessionDefaults.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val names = only.getOrElse(graft.SparkEntry.queries.keySet)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // SPARK_GRAFT_PLANDUMP_EXEC=1: execute first, so the dump is
          // the FINAL adaptive plan (isFinalPlan=true) — the only place
          // AQE runtime rewrites (SMJ->SHJ, coalesced reads) are visible
          if (sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1"))
            df.collect()
          val txt = df.queryExecution.explainString(FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
          try w.println(txt) finally w.close()
          System.err.println(s"[plandump] $name ok (${txt.length} chars)")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
