package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ExplainAnalyze

/** Spill-under-pressure regression suite — the `statement_mem` analogue.
  * The reference locks in "operators spill and still answer correctly
  * under constrained memory"
  * (`/root/reference/src/test/regress/sql/statement_mem_for_windowagg.sql`
  * runs window aggregates under a tiny statement_mem and checks both
  * the spill files and the results). At 100 TB everything spills, so
  * the same guarantee matters here.
  *
  * Spark's memory knobs are per-operator row/size thresholds rather
  * than a per-statement budget, so the constrained profile forces every
  * buffered operator onto its spill path:
  *   - window buffers spill past 16 rows,
  *   - sort-merge-join per-key buffers spill past 2 rows,
  *   - hash aggregation falls back to sort-based spilling after 2 keys
  *     (the `testFallbackStartsAt` hook Spark's own suites use),
  *   - broadcast is disabled so joins actually take the buffered paths.
  *
  * For each headline query shape the spec asserts BOTH halves of the
  * reference's check: non-zero spill SQLMetrics (via the
  * [[graft.plans.ExplainAnalyze]] walker) and a result identical to the
  * unconstrained session's — the micros-stable aggregate discipline
  * (Tables.scala) is what makes that an exact, not approximate, equality.
  */
class SpillPressureSpec extends AnyFunSuite {
  private lazy val base = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** Shared buffered-operator pressure: tiny window / session-window /
    * SMJ per-key buffers, broadcast off so joins take the buffered
    * paths. */
  private def buffered(s: SparkSession): Unit = {
    // static plans: under AQE a re-optimized middle stage re-instantiates
    // its operators, so the executed tree's Window/SMJ node can be a
    // fresh copy whose spill accumulator never ran (observed: spill=0 on
    // a window that demonstrably spilled). The spill BEHAVIOR is
    // AQE-independent; reading the metric reliably needs the static plan.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "4")
    s.conf.set("spark.sql.windowExec.buffer.spill.threshold", "4")
    s.conf.set("spark.sql.sessionWindow.buffer.in.memory.threshold", "4")
    s.conf.set("spark.sql.sessionWindow.buffer.spill.threshold", "4")
    s.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "2")
    s.conf.set("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "2")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  /** Aggregation pressure adds the sort-based-fallback hook Spark's own
    * suites use. Kept SEPARATE from the high-cardinality shapes: a
    * 2-key fallback on a many-group aggregate produces thousands of
    * tiny spill files whose merge-time read buffers exhaust the test
    * heap — a pathology of the hook, not of the operators.
    *
    * q18 is the one shape here that hits it: its partial aggregate
    * (1,473 keys over 6,000 lineitem rows, one task) spills about every
    * 3 keys, ≈2,000 spill files, and UnsafeExternalSorter opens all of
    * them at once to merge. Each open UnsafeSorterSpillReader holds a
    * hard-coded 1 MiB heap byte[] and a 1 MiB direct read buffer, plus
    * two 1 MiB heap buffers when read-ahead is on: ≈6 GiB of heap in one
    * task with read-ahead, ≈2 GiB of heap plus ≈2 GiB direct without.
    * Read-ahead is a SparkEnv-level setting, so it cannot be turned off
    * per session; build.sbt runs this suite in its own forked JVM with
    * spark.unsafe.sorter.spill.read.ahead.enabled=false, so an OOM
    * here cannot stop the SparkContext the other suites share. */
  private lazy val aggPressured: SparkSession = {
    val s = base.newSession()
    buffered(s)
    s.conf.set("spark.sql.TungstenAggregate.testFallbackStartsAt", "2, 3")
    s
  }

  private lazy val bufPressured: SparkSession = {
    val s = base.newSession()
    buffered(s)
    s
  }

  /** Lighter buffered profile for the r13 retrieval/dedup lanes: their
    * plans chain several array-carrying SMJ joins and windows, and the
    * 2-row thresholds above drive so many per-group spill cursors at
    * once that the TEST heap dies in read-ahead buffers — the same
    * hook pathology documented on aggPressured. 8-row buffers still
    * force every window partition (>= 100 rows) and most join groups
    * onto the spill path; the assertion stays spill>0 + hash-equal. */
  private lazy val bufLight: SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // window threshold sits BELOW the rank-limit k of these lanes'
    // row_number windows: WindowGroupLimit pre-filters each group to k
    // rows before the window buffers them, so a threshold above k would
    // never trip
    s.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "4")
    s.conf.set("spark.sql.windowExec.buffer.spill.threshold", "4")
    s.conf.set("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "8")
    s.conf.set("spark.sql.sortMergeJoinExec.buffer.spill.threshold", "8")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Tightest profile, for lanes whose only buffered operators are
    * tiny-group windows (the r14 substring rewrite counts duplicates
    * with a window over DIGEST partitions — most groups are 1-2 rows, so
    * the 4-row threshold above never trips) and collect_list object
    * aggregation: 1-row window buffers spill every duplicated-digest
    * group, and the ObjectHashAggregate sort-based fallback after 1 key
    * drives the per-doc array aggregation onto its spill path. The
    * semdedup witness scan builds its cell buffer with the same window
    * thresholds, so 1-row buffers spill every cell of two or more rows. */
  private lazy val bufTight: SparkSession = {
    val s = base.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "1")
    s.conf.set("spark.sql.windowExec.buffer.spill.threshold", "1")
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Queries chosen to cover the buffered-operator families: hash agg
    * (q1), join+agg (q3), window (q_window_running), HAVING semi join
    * (q18), and the LSH dedup's verification sort-merge joins (its
    * capped-bucket stage runs behind matNarrow's checkpoint, at DataFrame
    * build time, so the conf-driven spill comes from the verification
    * joins over the candidate pairs). Second element:
    * which pressure profile drives the spill. q18 is the heap-heavy
    * one: under [[aggPressured]] its merge holds ≈2,000 spill readers
    * open at once (see there for the per-reader cost). */
  private val shapes = Seq(
    "q1_pricing_summary" -> true, "q3_shipping_priority" -> true,
    "q_window_running" -> false, "q18_large_volume_cust" -> true,
    "d_dedup_minhash_lsh" -> false)

  /** r13 retrieval/dedup lanes: candidate ranking windows, shortlist
    * rerank joins — driven by the lighter profile (see [[bufLight]]). */
  private val lightShapes = Seq("s_ann_ivfpq_topk",
    "s_ann_mmr_topk", "q_hybrid_rrf")

  private val tightShapes = Seq("d_dedup_substring")

  (shapes.map { case (n, agg) => (n, if (agg) () => aggPressured
                                     else () => bufPressured) } ++
   lightShapes.map(n => (n, () => bufLight)) ++
   tightShapes.map(n => (n, () => bufTight))).foreach { case (name, prof) =>
    test(s"$name spills under pressure and stays hash-identical") {
      val fn = SparkEntry.queries(name)
      val pressured = prof()
      val analyzed = ExplainAnalyze.analyze(fn(pressured, sf))
      assert(analyzed.contains("spill="),
        s"no operator reported spill under the constrained profile:\n$analyzed")
      assert(rows(fn(pressured, sf)) == rows(fn(base, sf)),
        s"$name: constrained result diverged from unconstrained")
    }
  }

  /** Sum of `diskBytesSpilled` over the tasks of the jobs `body` runs,
    * read with a SparkListener: ExplainAnalyze reads operator SQL
    * metrics, and the semdedup witness scan (a MapPartitions) has none.
    * A job group tells these jobs apart from late events of other tests.
    * Task ends reach the listener bus after the action returns, so this
    * waits up to 30 s for a nonzero sum. */
  private def diskSpilled(body: => Unit): Long = {
    import org.apache.spark.scheduler._
    val group = s"spill-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          spilled.addAndGet(e.taskMetrics.diskBytesSpilled)
    }
    val sc = base.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "semdedup spill check")
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spilled.get == 0 && System.nanoTime() < deadline) Thread.sleep(100)
      spilled.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("d_semdedup_probes stays hash-identical under the constrained profile") {
    val fn = SparkEntry.queries("d_semdedup_probes")
    assert(rows(fn(bufTight, sf)) == rows(fn(base, sf)),
      "d_semdedup_probes: constrained result diverged from unconstrained")
  }

  test("d_semdedup_probes is result-identical with the cell cap forced " +
    "to 1 (every multi-row cell takes the disk-spill fallback)") {
    // the witness scan's cell cap is the window buffer's in-memory
    // threshold: above it the cell leaves the heap buffer for the
    // spilling sorter. cap=1 drives every multi-row cell through the
    // spill path, and every block holds one candidate, so the scan runs
    // the whole block-nested path from disk -- the planted-jumbo-cell
    // case, with the whole fixture as the jumbo corpus.
    val s = base.newSession()
    s.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "1")
    s.conf.set("spark.sql.windowExec.buffer.spill.threshold", "1")
    val fn = SparkEntry.queries("d_semdedup_probes")
    var capped = Seq.empty[String]
    val spilled = diskSpilled { capped = rows(fn(s, sf)) }
    assert(capped == rows(fn(base, sf)),
      "capped+spilled result diverged from the unconstrained run")
    assert(spilled > 0, "d_semdedup_probes: no task spilled to disk")
  }

  test("d_semdedup spills through Spark's row buffer and stays hash-identical") {
    // the same witness scan as d_semdedup_probes, fed by the clustered
    // lane; 1-row window buffers spill every cell of two or more rows
    val fn = SparkEntry.queries("d_semdedup")
    var pressured = Seq.empty[String]
    val spilled = diskSpilled { pressured = rows(fn(bufTight, sf)) }
    assert(pressured == rows(fn(base, sf)),
      "d_semdedup: constrained result diverged from unconstrained")
    assert(spilled > 0, "d_semdedup: no task spilled to disk")
  }

  test("the pressured profile leaves the base session untouched") {
    assert(base.conf.get("spark.sql.windowExec.buffer.spill.threshold",
      "2147483632") == "2147483632")
  }
}
