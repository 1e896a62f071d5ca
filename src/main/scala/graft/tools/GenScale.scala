package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: synthesize sf{N} as `reps` key-shifted
  * replicas of an existing SF directory, preserving every schema and the
  * per-replica workload character, so superlinear plan behavior shows up
  * locally before it shows up on a cluster.
  *
  *  - every key column (orderkey/custkey/suppkey/partkey/doc_id/vec_id/
  *    event_id/user_id) shifts by `replica * (max+1)` consistently across
  *    fact and dimension sides, so join fan-outs are exactly preserved;
  *  - fixed-cardinality dims (region, nation) stay single-copy, like a
  *    real warehouse at any SF;
  *  - document text gets a per-replica PREFIX ON EVERY WORD (a suffix
  *    token is not enough: two replicas of one doc still share ~all
  *    shingles and land at jaccard ~0.95 / hamming ~1, multiplying
  *    near-dup pair outputs by reps^2 — measured 256 -> 249k pairs).
  *    Per-word tagging maps each replica's vocabulary injectively, so
  *    within-replica similarity structure is EXACTLY sf0.1's and
  *    cross-replica similarity is zero: pair outputs scale by `reps`,
  *    like a real corpus would;
  *  - embeddings circular-shift by the replica index: norms and value
  *    distributions are untouched, within-replica geometry is identical,
  *    and cross-replica cosine drops to the vectors' autocorrelation —
  *    again keeping near-dup structure replica-local.
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <dstDir> <reps>
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, repsS) = args.take(3)
    val spark = graft.SessionDefaults.local(graft.SessionDefaults.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dst, repsS.toInt)
    spark.stop()
  }

  /** Callable form (Bench uses it to materialize the scale leg once). */
  def generate(spark: SparkSession, src: String, dst: String, reps: Int): Unit = {
    // events goes through Tables.t — the probe-aware reader that handles
    // BOTH fixture timestamp units (raw-nanos fallback vs native micros)
    // and always yields a true TimestampType ts, so the replica is
    // written as TIMESTAMP(MICROS) and round-trips through the same
    // probe. Forcing eventsRawSchema here on a micros fixture would
    // write raw int64 micros, which the replica-side probe would then
    // misroute through the div-1000 nanos lane — collapsing the x10
    // leg's time axis 1000x (caught by r11 self-review).
    def rd(name: String): DataFrame =
      if (name == "events") graft.Tables.t(spark, src, name)
      else spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
    def off(name: String, key: String): Long =
      rd(name).agg(max(col(key))).head.getLong(0) + 1
    /** `reps` copies of `base`, transformed per replica. The replica
      * index arrives as a COLUMN from a cross join against
      * range(reps): a literal per-replica unionAll is O(reps) plan
      * NODES, and at reps=10000 the analyzer alone runs for hours (the
      * r15 x10000 attempt sat at 100% driver CPU with zero rows
      * written). One nested-loop fan-out node is the same rows with a
      * constant-size plan; the source is repartitioned first so the
      * fan-out parallelizes across the session's cores instead of
      * multiplying inside one or two parquet-split tasks. */
    def replicate(base: DataFrame)(f: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame = {
      val cpus = spark.sessionState.conf.numShufflePartitions
      val fanned = base.repartition(cpus)
        .crossJoin(spark.range(reps).toDF("__rep"))
      f(fanned, col("__rep")).drop("__rep")
    }

    Seq("region", "nation").foreach(n => wr(rd(n), n))

    val (oC, oO, oS, oP) = (off("customer", "c_custkey"),
      off("orders", "o_orderkey"), off("supplier", "s_suppkey"),
      off("part", "p_partkey"))

    wr(replicate(rd("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + i * oC)
    }, "customer")
    wr(replicate(rd("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + i * oS)
    }, "supplier")
    wr(replicate(rd("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + i * oP)
    }, "part")
    wr(replicate(rd("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * oO)
        .withColumn("o_custkey", col("o_custkey") + i * oC)
    }, "orders")
    wr(replicate(rd("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * oO)
        .withColumn("l_partkey", col("l_partkey") + i * oP)
        .withColumn("l_suppkey", col("l_suppkey") + i * oS)
    }, "lineitem")

    val (oE, oU) = (off("events", "event_id"), off("events", "user_id"))
    wr(replicate(rd("events")) { (d, i) =>
      d.withColumn("event_id", col("event_id") + i * oE)
        .withColumn("user_id", col("user_id") + i * oU)
    }, "events")

    val oD = off("documents", "doc_id")
    wr(replicate(rd("documents")) { (d, i) =>
      // replica 0 keeps its text byte-identical; every other replica
      // prefix-tags EVERY word (see scaladoc) — same "r<i>" scheme as
      // the unionAll form, built as a per-row replacement string
      d.withColumn("text", when(i === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), i.cast("string"), lit("$1")))))
        .withColumn("doc_id", col("doc_id") + i * oD)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    val oV = off("embeddings", "vec_id")
    val dim = rd("embeddings").select(size(col("embedding"))).head.getInt(0)
    wr(replicate(rd("embeddings")) { (d, i) =>
      // rotate by i mod dim: replica 65 of a 64-dim corpus must wrap,
      // not ask slice() for a negative length (surfaced by the x100
      // scale probe); column-form slice keeps the exact per-replica
      // rotation of the old unionAll form
      val r = (i % dim).cast("int")
      d.withColumn("embedding", when(r === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), r + lit(1), lit(dim) - r),
            slice(col("embedding"), lit(1), r))))
        .withColumn("vec_id", col("vec_id") + i * oV)
    }, "embeddings")

    println(s"[genscale] wrote ${reps}x $src -> $dst")
  }
}
