package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-drift canary: the driver regenerates /root/testdata between
  * rounds and has already flipped `events.ts` between TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS) parquet. A mis-detected unit divides every timestamp
  * by 1000 and collapses the corpus into ~1970, which then fails 17
  * correctness rows with opaque hash mismatches. This spec fails FIRST,
  * with a readable message naming the file and the read path taken, so a
  * silent fixture change reports itself.
  */
class FixtureCanarySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("events.ts lands in a plausible year range on every SF") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/events.parquet").exists) {
        val path = s"$dir/events.parquet"
        val lane =
          if (Tables.eventsNeedsNanosFallback(spark, path)) "raw-int64-nanos/div-1000"
          else "native-micros"
        val r = Tables.t(spark, dir, "events")
          .agg(year(min(col("ts"))).as("lo"), year(max(col("ts"))).as("hi"))
          .head()
        val (lo, hi) = (r.getInt(0), r.getInt(1))
        assert(lo > 1990 && hi < 2100,
          s"$path read via lane '$lane' yields year range [$lo, $hi] — " +
            "the fixture's timestamp unit changed and the reader detected it wrong")
      }
    }
  }

  test("every fixture table keeps its column names and type families") {
    import org.apache.spark.sql.types._
    // family letters: i=integral, f=floating, s=string, t=timestamp/date,
    // v=array<float>. A driver-side fixture regen that flips a family
    // (double -> decimal, timestamp -> string, ...) fails HERE with the
    // table+column named, instead of as dozens of opaque hash mismatches.
    def family(dt: DataType): String = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "i"
      case _: FloatType | _: DoubleType => "f"
      case _: StringType => "s"
      case _: TimestampType | _: TimestampNTZType | _: DateType => "t"
      case ArrayType(_: FloatType | _: DoubleType, _) => "v"
      case other => other.simpleString
    }
    val expected = Map(
      "region" -> Seq("r_regionkey" -> "i", "r_name" -> "s"),
      "nation" -> Seq("n_nationkey" -> "i", "n_name" -> "s", "n_regionkey" -> "i"),
      "customer" -> Seq("c_custkey" -> "i", "c_name" -> "s", "c_nationkey" -> "i",
                        "c_acctbal" -> "f", "c_mktsegment" -> "s"),
      "supplier" -> Seq("s_suppkey" -> "i", "s_name" -> "s", "s_nationkey" -> "i",
                        "s_acctbal" -> "f"),
      "part" -> Seq("p_partkey" -> "i", "p_name" -> "s", "p_brand" -> "s",
                    "p_type" -> "s", "p_size" -> "i", "p_retailprice" -> "f"),
      "orders" -> Seq("o_orderkey" -> "i", "o_custkey" -> "i", "o_orderstatus" -> "s",
                      "o_totalprice" -> "f", "o_orderdate" -> "t", "o_orderpriority" -> "s"),
      "lineitem" -> Seq("l_orderkey" -> "i", "l_partkey" -> "i", "l_suppkey" -> "i",
                        "l_linenumber" -> "i", "l_quantity" -> "f", "l_extendedprice" -> "f",
                        "l_discount" -> "f", "l_tax" -> "f", "l_returnflag" -> "s",
                        "l_linestatus" -> "s", "l_shipdate" -> "t"),
      "events" -> Seq("event_id" -> "i", "ts" -> "t", "user_id" -> "i",
                      "event_type" -> "s", "value" -> "f", "props" -> "s"),
      "documents" -> Seq("doc_id" -> "i", "text" -> "s", "lang" -> "s",
                         "source" -> "s", "n_chars" -> "i"),
      "embeddings" -> Seq("vec_id" -> "i", "embedding" -> "v", "label" -> "i"))
    for ((table, cols) <- expected) {
      val got = Tables.t(spark, SparkTestSession.sf, table)
        .schema.fields.map(f => f.name -> family(f.dataType)).toSeq
      assert(got == cols,
        s"fixture schema drifted for '$table': read $got, expected $cols — " +
          "a driver-side regen changed column names or type families")
    }
  }

  test("reader re-probes a fixture regenerated at the same path mid-session") {
    import org.apache.spark.sql.types.TimestampType
    // a path with a space is one java.net.URI.create rejects; the
    // fixture version must still move when the fixture is regenerated
    Seq("graft_regen", "graft regen").foreach { prefix =>
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      val dst = java.nio.file.Path.of(s"$dir/events.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Path.of(s"${SparkTestSession.sf}/events.parquet"), dst)
      val first = Tables.t(spark, dir, "events")
      assert(first.schema("ts").dataType == TimestampType)
      val year1 = first.agg(year(min(col("ts")))).head.getInt(0)
      assert(year1 > 1990)
      // regenerate AT THE SAME PATH in the other unit (raw INT64 nanos —
      // the r10 fixture-regeneration scenario, inverted); the mtime-keyed probe must
      // re-run and route through the div-1000 fallback, reconstructing
      // the identical time axis
      val nanos = first.select(col("event_id"),
        (expr("unix_micros(ts)") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
        .limit(500).cache()
      nanos.count()
      java.nio.file.Files.delete(dst)
      nanos.write.parquet(dst.toString)
      val second = Tables.t(spark, dir, "events")
      assert(second.schema("ts").dataType == TimestampType,
        s"fallback lane must still yield a timestamp, got ${second.schema("ts").dataType}")
      assert(second.agg(year(min(col("ts")))).head.getInt(0) == year1)
      nanos.unpersist()
    }
  }

  test("batch and streaming readers agree on the events timestamp axis") {
    val dir = SparkTestSession.sf
    val batchMin = Tables.t(spark, dir, "events").agg(min(col("ts"))).head().getTimestamp(0)
    val streamed = graft.streaming.Streaming.tumblingAgg(spark, dir, "canary_tumbling")
    val streamMin = streamed.agg(min(col("hour_start"))).head().getTimestamp(0)
    // tumbling window start truncates to the hour; same axis within 1h
    assert(math.abs(streamMin.getTime - batchMin.getTime) <= 3600L * 1000,
      s"batch min ts $batchMin vs streaming min window $streamMin — readers disagree on unit")
  }
}
