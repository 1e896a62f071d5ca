package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. Times are epoch milliseconds; spans of one
  * operation share `op`, and `parent` is the span that caused this one
  * (0 = none). */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Spans and counters of the traced run, kept in memory and written out
  * when the run ends. Spans are recorded at each layer boundary the
  * harness calls into (pass, operation, build, plan phases, collect,
  * streaming drive, merge) and, from a SparkListener, for every Spark job
  * and stage, parented to the harness span that launched them.
  *
  * When disabled every method is a pass-through: no listener is
  * registered and nothing is recorded, so the untraced run measures the
  * program alone. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // open spans, innermost first: (span id, op, id of the enclosing "op" span)
  private val stack = mutable.Stack[(Long, String, Long)]()
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = if (started) counters(k) += v

  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def epochMs(nanos: Long): Double = baseEpochMs + (nanos - baseNanos) / 1e6

  // ---- listener-side state (bus thread) --------------------------------
  private val SpanProp = "perfbench.span"
  private val OpProp = "perfbench.op"
  private val OpSpanProp = "perfbench.opspan"
  private val PhaseProp = "perfbench.phase"
  private final case class JobInfo(span: Long, parent: Long, op: String,
                                   opSpan: Long, phase: String, start: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, JobInfo]()
  private val busSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val busCounters = new ConcurrentHashMap[String, Double]()
  private def busAdd(k: String, v: Double): Unit = busCounters.merge(k, v, _ + _)
  // task metrics summed per "op" span id
  private val opTask = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Double]]()
  private def opAdd(opSpan: Long, k: String, v: Double): Unit =
    opTask.computeIfAbsent(opSpan, _ => new ConcurrentHashMap[String, Double]())
      .merge(k, v, _ + _)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String, d: String) =
        p.flatMap(x => Option(x.getProperty(k))).getOrElse(d)
      val info = JobInfo(ids.incrementAndGet(), prop(SpanProp, "0").toLong,
        prop(OpProp, ""), prop(OpSpanProp, "0").toLong,
        prop(PhaseProp, "exec"), e.time)
      jobs.put(e.jobId, info)
      e.stageIds.foreach(stageJob.put(_, info))
      busAdd(s"jobs.${info.phase}", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        busSpans.add(Span(j.span, j.parent, j.op, "spark.job", j.start.toDouble,
          e.time.toDouble, Map("job_id" -> e.jobId.toDouble)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val j = stageJob.get(si.stageId)
      if (j != null) {
        busAdd(s"stages.${j.phase}", 1)
        for (a <- si.submissionTime; b <- si.completionTime)
          busSpans.add(Span(ids.incrementAndGet(), j.span, j.op, "spark.stage",
            a.toDouble, b.toDouble, Map("stage_id" -> si.stageId.toDouble,
              "tasks" -> si.numTasks.toDouble)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val phase = if (j == null) "exec" else j.phase
      val opSpan = if (j == null) 0L else j.opSpan
      busAdd(s"tasks.$phase", 1)
      if (!e.taskInfo.successful) busAdd("exec.failed_tasks", 1)
      val m = e.taskMetrics
      // the traced run's own read-backs are not the workload's work
      if (m != null && phase != "readback") {
        val vals = Seq(
          "executor_cpu_s" -> m.executorCpuTime / 1e9,
          "executor_run_s" -> m.executorRunTime / 1e3,
          "gc_s" -> m.jvmGCTime / 1e3,
          "deserialize_s" -> m.executorDeserializeTime / 1e3,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble)
        vals.foreach { case (k, v) =>
          busAdd(s"exec.$k", v); busAdd(s"$phase.$k", v); opAdd(opSpan, k, v) }
        busCounters.merge("exec.peak_task_memory_bytes",
          m.peakExecutionMemory.toDouble, (a, b) => math.max(a, b))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
      def g(k: String) = d.getOrElse(k, 0.0)
      busAdd("streaming.trigger_s", g("triggerExecution"))
      busAdd("streaming.add_batch_s", g("addBatch"))
      busAdd("streaming.source_s", g("latestOffset") + g("getBatch"))
      busAdd("streaming.plan_s", g("queryPlanning"))
      busAdd("streaming.commit_s", g("walCommit") + g("commitOffsets"))
    }
  }

  private var started = false
  /** True once [[begin]] ran on a traced run. */
  def active: Boolean = started

  /** Start recording; spans and counters cover only what runs after. */
  def begin(): Unit = if (enabled) {
    started = true
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  // ---- harness-side spans (main thread) --------------------------------
  private def setProps(id: Long, op: String, opSpan: Long, phase: String): Unit = {
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(OpProp, op)
    sc.setLocalProperty(OpSpanProp, opSpan.toString)
    sc.setLocalProperty(PhaseProp, phase)
  }

  /** Run `f` inside a span named `name`. `phase`, when given, is the
    * counter family the Spark jobs launched inside are charged to
    * (`build`, `load`, `collect`, `readback`); by default they inherit the
    * enclosing span's. */
  def span[T](name: String, op: String = null, phase: String = null)(f: => T): T = {
    if (!started) return f
    val id = ids.incrementAndGet()
    val (parent, parentOp, parentOpSpan) = stack.headOption.getOrElse((0L, "", 0L))
    val theOp = Option(op).getOrElse(parentOp)
    val opSpan = if (name == "op") id else parentOpSpan
    val oldPhase = Option(sc.getLocalProperty(PhaseProp)).getOrElse("exec")
    val thePhase = Option(phase).getOrElse(oldPhase)
    stack.push((id, theOp, opSpan))
    setProps(id, theOp, opSpan, thePhase)
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack.pop()
      val (pid, pop, popSpan) = stack.headOption.getOrElse((0L, "", 0L))
      setProps(pid, pop, popSpan, oldPhase)
      spans += Span(id, parent, theOp, name, epochMs(t0), epochMs(t1))
      counters(s"$name.s") += (t1 - t0) / 1e9
    }
  }

  /** Record the planning phases of `df`'s final query execution as spans
    * under whichever open span their start falls in (analysis runs while
    * the DataFrame is built; optimization and planning run in collect). */
  def planPhases(df: DataFrame, op: String, within: Seq[Span]): Unit =
    if (started) {
      df.queryExecution.tracker.phases.foreach { case (phase, p) =>
        val parent = within.find(s => s.startMs <= p.startTimeMs + 1 &&
          p.startTimeMs <= s.endMs + 1).map(_.id).getOrElse(0L)
        spans += Span(ids.incrementAndGet(), parent, op, s"plans.$phase",
          p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        counters(s"plans.$phase.s") += p.durationMs / 1e3
      }
    }

  /** The `n` spans closed last. */
  def lastSpans(n: Int): Seq[Span] = spans.takeRight(n).toSeq

  def setAttrs(id: Long, attrs: Map[String, Double]): Unit = {
    val i = spans.lastIndexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }

  /** Global codegen counters: (compile nanos, compiled classes). */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private var busTotalsAtEnd = Map.empty[String, Double]

  /** Stop recording: wait for the listener bus to deliver every event
    * posted so far, keep the counters, stop listening. */
  def end(): Unit = if (started) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    busTotalsAtEnd = busCounters.asScala.toMap
    started = false
  }

  /** Counters from the listener bus, as of [[end]]. */
  def busTotals: Map[String, Double] = busTotalsAtEnd

  /** Write every span, as one JSON object a line; each operation span
    * also carries its tasks' summed metrics. */
  def finish(path: java.nio.file.Path): Unit = if (enabled) {
    val all = spans.toSeq ++ busSpans.asScala.toSeq
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startMs).foreach { s =>
      val task = if (s.name != "op") Map.empty[String, Double]
        else Option(opTask.get(s.id)).map(_.asScala.toMap.map {
          case (k, v) => s"task.$k" -> v }).getOrElse(Map.empty)
      w.write(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> (s.attrs ++ task))))
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON rendering for the harness's own outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
