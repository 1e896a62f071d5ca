package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the engine session. Every main (graft.Bench,
  * graft.Verify and the measurement tools), the benchmark harness and the
  * test battery build from here, so the benched, verified and tested
  * engines can't drift.
  *
  * Everything in `confs` is SIZE-CONDITIONED, not tuned to one local core
  * count (the optimization-round rule: a conf win that only makes sense at
  * the local core count doesn't count):
  *
  *  - `preferSortMergeJoin=false` lets the planner pick a shuffled-hash
  *    join when its own size conditions hold (the build side's estimate
  *    fits one local hash map); oversized sides still plan sort-merge.
  *    Guide §3.1: SHJ skips both sort passes; measured 1.8x on the q3
  *    x10 shape (min-of-5 interleaved, r19).
  *  - `maxShuffledHashJoinLocalMapThreshold=64MB` lets AQE rewrite a
  *    planned sort-merge into shuffled-hash at runtime when every
  *    post-shuffle partition measured under the threshold — the
  *    scale-adaptive form of the same decision (64MB per-partition build
  *    is executor-memory-safe at any corpus size; partition counts grow
  *    with the data).
  */
object SessionDefaults {
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64MB")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    confs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Cores of a main's local session: SPARK_GRAFT_CPUS, else every core
    * this JVM may use. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The engine session on `local[cores]`: the confs above, the graft
    * planner extensions, one shuffle partition per core, UTC, AQE on and
    * no UI. Callers add only what they alone need. */
  def local(cores: Int): SparkSession.Builder = apply(SparkSession.builder())
    .withExtensions(new graft.plans.GraftExtensions)
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
}
