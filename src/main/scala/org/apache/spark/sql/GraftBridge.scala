package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: build a DataFrame from a custom
  * LogicalPlan (the supported extension surface is SparkSessionExtensions;
  * this is the standard companion trick for programmatic plan injection). */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column <-> catalyst Expression (the private[sql] columnNodeSupport
    * pair) — for native expressions that carry non-expression state
    * (e.g. a hyperplane matrix as a codegen reference object) and so
    * can't go through the function registry. */
  def exprColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def columnExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Run `body` under a fresh SQL execution id for `df`'s OWN
    * queryExecution. Needed by EXPLAIN ANALYZE: a bare
    * `toRdd.foreach` has no execution id and shuffle-map-stage
    * SQLMetric updates are dropped, while Dataset actions that do set
    * one (`collect`, `foreachPartition`) either pull rows to the driver
    * or build a NEW plan tree whose metrics aren't `df`'s. */
  def withExecutionId[T](df: DataFrame)(body: => T): T = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe)(body)
  }

  /** The thresholds WindowExec builds its partition buffer with, read
    * from `spark`'s conf when this is called (on the driver). */
  def windowBufferSpec(spark: SparkSession): RowBufferSpec = {
    val c = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    RowBufferSpec(c.windowExecBufferInMemoryThreshold,
      c.windowExecBufferSpillThreshold, c.windowExecBufferSpillSizeThreshold)
  }

  final case class RowBufferSpec(inMemory: Int, spill: Int, spillBytes: Long) {
    /** In a task: an empty `ExternalAppendOnlyUnsafeRowArray` (private[sql])
      * built as WindowExec builds it. It holds up to `inMemory` rows on
      * the heap, then moves them to an UnsafeExternalSorter that spills
      * through the task's memory manager into spark.local.dir, counted in
      * the task's spill metrics and freed when the task completes. */
    def create(): RowBuffer = new RowBuffer(
      new execution.ExternalAppendOnlyUnsafeRowArray(
        inMemory, spillBytes, spill, spillBytes))
  }

  final class RowBuffer private[sql] (
      rows: execution.ExternalAppendOnlyUnsafeRowArray) {
    def add(row: catalyst.expressions.UnsafeRow): Unit = rows.add(row)
    def length: Int = rows.length
    def clear(): Unit = rows.clear()
    /** All rows in insertion order. A spilled row is a reused object:
      * read it before the next `next()`. */
    def iterator: Iterator[catalyst.expressions.UnsafeRow] =
      rows.generateIterator()

    /** [[iterator]] for a pass the caller reads to the end. An iterator
      * over a spilled buffer opens one reader per spill file at once, and
      * each reader registers a task-completion listener that keeps its
      * 1 MiB buffer reachable until the task ends, even after the reader
      * closed itself at its last row: a scan that re-reads a spilled
      * buffer once per block would pin one buffer per spill file per
      * pass. Readers made here skip that registration, so a pass read to
      * the end leaves nothing behind. */
    def passToEnd: Iterator[catalyst.expressions.UnsafeRow] = {
      val task = org.apache.spark.TaskContext.get()
      org.apache.spark.TaskContext.unset()
      try rows.generateIterator()
      finally if (task != null) org.apache.spark.TaskContext.setTaskContext(task)
    }
  }
}
