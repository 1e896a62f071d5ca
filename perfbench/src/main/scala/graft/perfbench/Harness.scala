package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.queries.Dedup
import graft.sources.Ingest
import graft.streaming.Streaming

/** The benchmark's engine side: one JVM, one `local[N]` session, one
  * client calling the engine's public entry points in a closed loop.
  *
  *   Harness oracle  <out_dir>           oracle SQL of every lane, as JSON
  *   Harness replica <src> <dst> <work> <cores>   the 10x input (graft.tools.GenScale)
  *   Harness run key=value ...           one timed run (see [[Conf]])
  *
  * A run writes `<out>/result.json`: the timed phase's wall time and
  * per-operation latencies, process CPU and peak RSS, the traced run's
  * per-layer counters, and where it left the outputs that run.py checks
  * against DuckDB. It checks nothing itself beyond "every repetition of a
  * lane returned the same rows as the first".
  */
object Harness {
  /** The read lane run after every ingest wave. */
  val ReadLane = "q3_shipping_priority"

  /** The ten tables every lane may read. */
  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    val workload: String = this("workload")          // lanes | ingest
    val data: String = this("data")                  // input tables
    val work: String = this("work")                  // scratch for this run
    val out: String = this("out")                    // result + outputs
    val seed: Long = this("seed").toLong
    val seconds: Double = this("seconds").toDouble
    val trace: Boolean = this("trace") == "1"
    val cores: Int = this("cores").toInt
    val lanes: Seq[String] = this("lanes").split(",").toSeq
    val compactEvery: Int = this("compact_every").toInt
  }

  def session(cores: Int, work: String): SparkSession = {
    // the session graft.Bench runs (same confs), with every local file
    // the engine writes kept under this run's work dir
    val spark = graft.SessionDefaults(SparkSession.builder())
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracle") =>
      new File(args(1)).mkdirs()
      graft.Verify.writeOracleJson(args(1))
    case Some("replica") =>
      val spark = session(args(4).toInt, args(3))
      try graft.tools.GenScale.generate(spark, args(1), args(2), 10)
      finally spark.stop()
    case Some("run") =>
      val c = Conf(args.tail.map { a =>
        val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
      run(c)
    case _ =>
      System.err.println("usage: Harness oracle <out> | replica <src> <dst> <work> <cores> | run k=v ...")
      sys.exit(2)
  }

  /** Process CPU nanoseconds, all threads. */
  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Peak resident set of this process, MB (VmHWM). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Sum of the heap pools' peak usage since the last reset, MB. */
  private def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Bytes of all regular files under `p`. */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(Files.isRegularFile(_)).toLong

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { s =>
      val d = dst.resolve(src.relativize(s).toString)
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else Files.copy(s, d, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Run before each timed operation, as graft.Bench does before each
    * lane: let the ContextCleaner drop the previous operation's shuffle
    * and broadcast state (it acts only on GC'd references), so one
    * operation's leftovers do not slow the next. */
  private def settle(): Unit = { System.gc(); Thread.sleep(200) }

  /** What one run measured, written to result.json. The timed phase is
    * the union of its operations: wall and process CPU are summed over
    * them, so the harness's own pauses between operations are not in it. */
  final class Result {
    val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
      mutable.LinkedHashMap.empty
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val notes = mutable.LinkedHashMap.empty[String, Any]
    var rounds = 0
    var startNanos = 0L
    var busyNanos = 0L
    var busyCpuNanos = 0L
    private var cpu0, gc0 = 0.0
    var processCpu, gc = 0.0

    def begin(tr: Trace): Unit = {
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      tr.begin()
      startNanos = System.nanoTime()
      cpu0 = processCpuNanos() / 1e9
      gc0 = gcSeconds()
    }
    def end(tr: Trace): Unit = {
      processCpu = processCpuNanos() / 1e9 - cpu0
      gc = gcSeconds() - gc0
      tr.end()
    }

    /** Run one timed operation; a failure is counted, not thrown. */
    def measure(op: String)(f: => Unit): Unit = {
      attempted += 1
      val (w0, c0) = (System.nanoTime(), processCpuNanos())
      try {
        f
        val w = System.nanoTime() - w0
        latencies.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += w / 1e9
        busyNanos += w
        busyCpuNanos += processCpuNanos() - c0
      } catch { case e: Throwable =>
        failed += 1
        errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
  }

  /** Rows of one lane's first execution, and whether every later
    * execution returned the same multiset of rows. */
  final class Output(val df: DataFrame, val rows: Array[Row]) {
    private val canon = rows.map(_.toString).sorted.toSeq
    var repeatsMatch = true
    def check(again: Array[Row]): Unit =
      if (again.map(_.toString).sorted.toSeq != canon) repeatsMatch = false
  }

  /** One lane execution: build the DataFrame, collect it. */
  private def execute(spark: SparkSession, tr: Trace, lane: String,
                      dir: String, opName: String): (DataFrame, Array[Row]) = {
    val fn = SparkEntry.queries(lane)
    val (cg0, cls0) = tr.codegen()
    var df: DataFrame = null
    var rows: Array[Row] = null
    tr.span("op", op = opName) {
      df = tr.span("queries.build", phase = "build") { fn(spark, dir) }
      rows = tr.span("exec.collect", phase = "collect") { df.collect() }
    }
    if (tr.active) {
      val (cg1, cls1) = tr.codegen()
      tr.add("functions.codegen_compile_s", (cg1 - cg0) / 1e9)
      tr.add("functions.codegen_classes", (cls1 - cls0).toDouble)
      val recent = tr.lastSpans(3)
      tr.planPhases(df, opName, recent.filter(_.name != "op"))
      recent.find(_.name == "op").foreach { op =>
        tr.setAttrs(op.id, Map(
          "codegen_compile_s" -> (cg1 - cg0) / 1e9,
          "codegen_classes" -> (cls1 - cls0).toDouble))
      }
    }
    (df, rows)
  }

  /** Tables.t(...).schema for every table, as a lane calls it. */
  private def loadTables(spark: SparkSession, tr: Trace, dir: String): Unit =
    tr.span("tables.load", op = "tables.load", phase = "load") {
      TableNames.foreach(n => Tables.t(spark, dir, n).schema)
    }

  def run(c: Conf): Unit = {
    val out = Paths.get(c.out)
    Files.createDirectories(Paths.get(c.work))
    Files.createDirectories(out)
    val spark = session(c.cores, c.work)
    val tr = new Trace(spark, c.trace)
    val res = new Result
    // set-up milestones, epoch ms: where set-up time goes
    res.notes("setup.jvm_start") = ManagementFactory.getRuntimeMXBean.getStartTime
    res.notes("setup.session") = System.currentTimeMillis()
    try {
      c.workload match {
        case "lanes" => lanes(spark, tr, c, res)
        case "ingest" => ingest(spark, tr, c, res)
      }
      val rss = peakRssMb()
      val perRound = (v: Double) => v / res.rounds
      val layer = layerCounters(tr, c, perRound)
      layer("jvm.gc_s") = perRound(res.gc)
      layer("jvm.heap_peak_mb") = heapPeakMb()
      layer("trace.wall_s") = perRound(res.busyNanos / 1e9)
      if (c.trace) tr.finish(out.resolve("spans.jsonl"))
      val doc = Json.obj(Seq(
        "timed_start_epoch_ms" -> tr.epochMs(res.startNanos),
        "rounds" -> res.rounds,
        "wall_s" -> perRound(res.busyNanos / 1e9),
        "cpu_s" -> perRound(res.busyCpuNanos / 1e9),
        "process_cpu_s_total" -> res.processCpu,
        "peak_rss_mb" -> rss,
        "attempted" -> res.attempted,
        "failed" -> res.failed,
        "errors" -> res.errors.toSeq,
        "latencies" -> res.latencies.map { case (k, v) => k -> v.toSeq }.toMap,
        "layers" -> layer.toMap,
        "notes" -> res.notes.toMap))
      Files.writeString(out.resolve("result.json"), doc)
    } finally spark.stop()
  }

  /** Per-layer counters of the timed phase, per round. */
  private def layerCounters(tr: Trace, c: Conf, per: Double => Double)
      : mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val bus = tr.busTotals.withDefaultValue(0.0)
    val h = tr.counters
    m("tables.load_s") = per(h("tables.load.s"))
    m("tables.load_jobs") = per(bus("jobs.load"))
    m("queries.build_s") = per(h("queries.build.s"))
    m("queries.build_jobs") = per(bus("jobs.build"))
    m("plans.analyze_s") = per(h("plans.analysis.s"))
    m("plans.optimize_s") = per(h("plans.optimization.s"))
    m("plans.plan_s") = per(h("plans.planning.s"))
    m("functions.codegen_compile_s") = per(h("functions.codegen_compile_s"))
    m("functions.codegen_classes") = per(h("functions.codegen_classes"))
    // exec: every job outside a build or a table load
    m("exec.collect_s") = per(h("exec.collect.s"))
    m("exec.jobs") = per(bus("jobs.collect") + bus("jobs.exec"))
    m("exec.stages") = per(bus("stages.collect") + bus("stages.exec"))
    m("exec.tasks") = per(bus("tasks.collect") + bus("tasks.exec"))
    Seq("executor_cpu_s", "executor_run_s", "gc_s", "deserialize_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "input_bytes").foreach(k => m(s"exec.$k") = per(bus(s"exec.$k")))
    val collect = h("exec.collect.s")
    m("exec.core_busy_ratio") =
      if (collect > 0) bus("collect.executor_run_s") / (collect * c.cores) else 0.0
    m("exec.peak_task_memory_bytes") = bus("exec.peak_task_memory_bytes")
    m("exec.failed_tasks") = per(bus("exec.failed_tasks"))
    m("streaming.drive_s") = per(h("streaming.drive.s"))
    m("streaming.add_batch_s") = per(bus("streaming.add_batch_s"))
    m("streaming.source_s") = per(bus("streaming.source_s"))
    m("streaming.plan_s") = per(bus("streaming.plan_s"))
    m("streaming.commit_s") = per(bus("streaming.commit_s"))
    m("streaming.restart_s") =
      per(h("streaming.drive.s") - bus("streaming.trigger_s"))
    m("streaming.compact_s") = per(h("streaming.compact.s"))
    m("streaming.store_rows") = h("streaming.store_rows")
    m("streaming.ckpt_files") = h("streaming.ckpt_files")
    m("sources.merge_s") = per(h("sources.merge.s"))
    m("sources.partitions_rewritten") = per(h("sources.partitions_rewritten"))
    m("sources.bytes_written") = per(h("sources.bytes_written"))
    m("sources.read_after_write_s") = per(h("sources.read_after_write.s"))
    // for the independent-path check: tasks' CPU cannot exceed the process's
    m("check.task_cpu_s") = bus("exec.executor_cpu_s")
    m
  }

  private def writeRows(spark: SparkSession,
                        schema: org.apache.spark.sql.types.StructType,
                        rows: Array[Row], path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------- lanes

  private def lanes(spark: SparkSession, tr: Trace, c: Conf, res: Result): Unit = {
    val dir = c.data
    val outputs = mutable.LinkedHashMap.empty[String, Output]
    def runLane(lane: String): Unit = {
      val (df, rows) = execute(spark, tr, lane, dir, lane)
      outputs.get(lane) match {
        case Some(o) => o.check(rows)
        case None => outputs(lane) = new Output(df, rows)
      }
    }
    // One untimed pass first, as the warm-up: the JIT, codegen and
    // file-listing state a long-running engine holds is built before
    // timing (its cost is in set-up), and its rows are the ones checked
    // against DuckDB.
    c.lanes.foreach { lane =>
      settle()
      try runLane(lane) catch { case e: Throwable =>
        res.errors += s"$lane: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    res.notes("setup.first_pass") = System.currentTimeMillis()

    val rnd = new java.util.Random(c.seed)
    res.begin(tr)
    while (res.rounds == 0 || (System.nanoTime() - res.startNanos) / 1e9 < c.seconds) {
      val order = c.lanes.toBuffer
      java.util.Collections.shuffle(order.asJava, rnd)
      tr.span("pass", op = s"pass${res.rounds}") {
        if (tr.active) loadTables(spark, tr, dir)
        order.foreach { lane => settle(); res.measure(lane)(runLane(lane)) }
      }
      res.rounds += 1
    }
    res.end(tr)
    // what the run leaves on disk (shuffle, spill and checkpoint files)
    // per byte of input, once the cleaner has dropped all it will
    res.notes("stored_bytes") = Iterator.continually { settle(); du(Paths.get(c.work)) }
      .sliding(2).take(10).dropWhile { case Seq(a, b) => a != b }.nextOption()
      .getOrElse(Seq(du(Paths.get(c.work)))).head
    res.notes("input_bytes") = du(Paths.get(dir))

    // outputs for run.py's DuckDB compare (untimed)
    outputs.foreach { case (lane, o) =>
      writeRows(spark, o.df.schema, o.rows, Paths.get(c.out, "lanes", lane).toString)
    }
    res.notes("repeat_mismatch") =
      outputs.collect { case (k, o) if !o.repeatsMatch => k }.toSeq
  }

  // --------------------------------------------------------------- ingest

  /** Files of each `o_orderpriority=...` partition: name -> (size, mtime). */
  private def partitionFiles(table: Path): Map[String, Set[(String, Long, Long)]] =
    Files.list(table).iterator().asScala.filter(Files.isDirectory(_))
      .filter(_.getFileName.toString.contains("="))
      .map { d =>
        d.getFileName.toString -> Files.list(d).iterator().asScala
          .filter(Files.isRegularFile(_))
          .map(f => (f.getFileName.toString, Files.size(f),
            Files.getLastModifiedTime(f).toMillis)).toSet
      }.toMap

  private def ingest(spark: SparkSession, tr: Trace, c: Conf, res: Result): Unit = {
    val work = Paths.get(c.work)
    val stage = work.resolve("stage")      // wave files written by run.py
    val upserts = work.resolve("upserts")  // upsert files written by run.py
    val waves = Files.list(stage).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted
    val src = work.resolve("src")
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    Files.createDirectories(src)
    // partitioned copy of orders, and the other tables the read lane joins
    val merged = work.resolve("merged")
    val ordersPath = merged.resolve("orders.parquet")
    Ingest.ctasPartitioned(spark, Tables.t(spark, c.data, "orders"),
      ordersPath.toString, "o_orderpriority")
    Seq("customer", "lineitem").foreach { t =>
      copyTree(Paths.get(c.data, s"$t.parquet"), merged.resolve(s"$t.parquet"))
    }
    res.notes("setup.ctas") = System.currentTimeMillis()

    val reads = mutable.ArrayBuffer.empty[(DataFrame, Array[Row])]
    // One wave: the documents arrive and are decided, the store is
    // compacted every few waves, the orders upsert is merged, and the read
    // lane runs over the merged table.
    def wave(w: String, i: Int): Unit = tr.span("op", op = f"wave_${i + 1}%02d") {
      Files.move(stage.resolve(w), src.resolve(w))
      tr.span("streaming.drive") {
        Streaming.streamingMinhashDedup(spark, src.toString, store, ckpt)
      }
      if (i % c.compactEvery == 0)
        tr.span("streaming.compact") { Streaming.compactStore(spark, store) }
      val before =
        if (tr.active) partitionFiles(ordersPath) else Map.empty[String, Set[(String, Long, Long)]]
      tr.span("sources.merge") {
        Ingest.mergeIntoPartitioned(spark, ordersPath.toString,
          "o_orderpriority", spark.read.parquet(upserts.resolve(w).toString),
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice", "o_orderdate"))
      }
      if (tr.active) {
        val after = partitionFiles(ordersPath)
        tr.add("sources.partitions_rewritten",
          after.count { case (p, fs) => !before.get(p).contains(fs) }.toDouble)
        val old = before.values.flatten.toSet
        tr.add("sources.bytes_written", after.values.flatten
          .filterNot(old.contains).map(_._2.toDouble).sum)
      }
      tr.span("sources.read_after_write") {
        reads += execute(spark, tr, ReadLane, merged.toString, f"wave_${i + 1}%02d.read")
      }
    }
    // The first wave is the initial load, and the warm-up: part of set-up.
    // The timed phase is the incremental waves against the store it leaves.
    // The store is compacted after the first wave and every few after.
    wave(waves.head, 0)
    res.notes("setup.first_wave") = System.currentTimeMillis()

    res.begin(tr)
    tr.span("pass", op = "pass0") {
      if (tr.active) loadTables(spark, tr, c.data)
      waves.zipWithIndex.tail.foreach { case (w, i) =>
        settle()
        res.measure(f"wave_${i + 1}%02d")(wave(w, i))
        if (tr.active) tr.span("trace.readback", phase = "readback") {
          // read back after each wave, outside the wave's own time
          tr.counters("streaming.store_rows") = storeRows(spark, store).toDouble
          tr.counters("streaming.ckpt_files") = countFiles(Paths.get(ckpt)).toDouble
        }
      }
    }
    res.rounds = 1
    res.end(tr)

    // outputs for run.py's checks (untimed)
    val outDir = Paths.get(c.out)
    reads.zipWithIndex.foreach { case ((df, rows), i) =>
      writeRows(spark, df.schema, rows, outDir.resolve(f"reads/wave_${i + 1}%02d").toString)
    }
    Streaming.readStore(spark, spark.sparkContext.hadoopConfiguration,
      s"$store/decisions", "doc_id BIGINT, is_dup BOOLEAN, batch BIGINT").foreach(
      _.coalesce(1).write.mode("overwrite").parquet(outDir.resolve("decisions").toString))
    val docs = spark.read.schema("doc_id BIGINT, text STRING").parquet(src.toString)
    Dedup.minhashBands(docs).coalesce(1).write.mode("overwrite")
      .parquet(outDir.resolve("bands").toString)
    res.notes("input_bytes") = du(src) + du(upserts)
    res.notes("stored_bytes") = du(Paths.get(store)) + du(Paths.get(ckpt)) + du(ordersPath)
    res.notes("store_rows") = storeRows(spark, store)
    res.notes("merged_orders") = ordersPath.toString
  }

  private def storeRows(spark: SparkSession, store: String): Long =
    Streaming.readStore(spark, spark.sparkContext.hadoopConfiguration,
      s"$store/bands", "band INT, sig BIGINT, owner_doc BIGINT, pfx INT, batch BIGINT")
      .map(_.count()).getOrElse(0L)
}
