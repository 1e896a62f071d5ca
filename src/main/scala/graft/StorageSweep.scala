package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Storage-format sweep — the analogue of the reference's perf harness
  * (`/root/reference/src/test/performance/Makefile:9-30`, which sweeps
  * AO-row vs AOCS-columnar x blocksize 8K/32K/512K x zlib on/off and
  * records `test|rows|sec` CSV). Here the axes are Parquet codec
  * (zstd / snappy / uncompressed) x row-group size (8 MB / 128 MB);
  * for each combination we record load (write) and scan+agg (read) times
  * plus the on-disk footprint, as `config|rows|sec` CSV on stdout.
  */
object StorageSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionDefaults.local(SessionDefaults.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val li = Tables.t(spark, sfDir, "lineitem")
    val rows = li.count() // warm source

    def dirSize(p: java.io.File): Long =
      Option(p.listFiles).map(_.map(f =>
        if (f.isDirectory) dirSize(f) else f.length).sum).getOrElse(0L)

    println("config|rows|sec")
    for (codec <- Seq("zstd", "snappy", "uncompressed");
         rg <- Seq(8L * 1024 * 1024, 128L * 1024 * 1024)) {
      val out = Files.createTempDirectory(s"sweep_${codec}_$rg").toFile
      val label = s"${codec}_rg${rg / (1024 * 1024)}m"
      val t0 = System.nanoTime()
      li.write.mode("overwrite")
        .option("compression", codec)
        .option("parquet.block.size", rg.toString)
        .parquet(out.toString)
      val loadSec = (System.nanoTime() - t0) / 1e9
      println(f"load_$label|$rows|$loadSec%.3f")
      // q1-shaped scan+agg on the re-encoded copy (steady state: 2nd run)
      val reread = spark.read.parquet(out.toString)
      def scan(): Unit = reread
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Tables.dsum(col("l_quantity")), count(lit(1))).collect()
      scan()
      val t1 = System.nanoTime()
      scan()
      val scanSec = (System.nanoTime() - t1) / 1e9
      println(f"scan_$label|$rows|$scanSec%.3f")
      println(f"bytes_$label|$rows|${dirSize(out)}")
      out.listFiles.foreach(f => { f.delete() }); out.delete()
    }
    spark.stop()
  }
}
