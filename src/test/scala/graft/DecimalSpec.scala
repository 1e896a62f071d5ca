package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §7.3 "hard/risky": the reference's `numeric` is unbounded
  * (`/root/reference/src/backend/utils/adt/numeric.c`); Spark caps at
  * DecimalType(38). These tests pin the documented behavior at the cap:
  * exactness inside 38 digits, explicit overflow error under ANSI mode
  * (never silent corruption), and the micros-sum convention's own bound. */
class DecimalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("decimal arithmetic is exact through precision 38, scale yields at the cap") {
    // (38,18)+(38,18) needs precision 39; Spark keeps 38 by reducing the
    // result scale to 17 — value stays exact, trailing precision is shed.
    // This is the documented divergence from the reference's unbounded
    // numeric: magnitude wins over scale at the cap.
    val r = spark.sql(
      """SELECT CAST('99999999999999999999.999999999999999999' AS DECIMAL(38,18))
        |     + CAST('0.000000000000000001' AS DECIMAL(38,18)) AS v""".stripMargin)
      .head.getDecimal(0)
    assert(r.toPlainString == "100000000000000000000.00000000000000000")
  }

  test("overflow beyond 38 digits raises under ANSI, never truncates") {
    val e = intercept[Exception] {
      spark.sql(
        """SELECT CAST('9e37' AS DECIMAL(38,0)) * CAST('9e37' AS DECIMAL(38,0)) AS v"""
      ).collect()
    }
    assert(e.getMessage.toLowerCase.contains("overflow") ||
           e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"), e.getMessage)
  }

  test("micros-long sum convention stays exact at the gate scale") {
    // worst case at sf0.01: ~60k rows x 1e5 price = 6e9 absolute sum;
    // scaled by 1e6 = 6e15 < 2^53 (9.007e15): long->double stays exact
    val sp = spark; import sp.implicits._
    val n = 60000
    val df = (1 to n).map(_ => 104997.88).toDF("x")
    val got = Tables.dsum(org.apache.spark.sql.functions.col("x"))
    val v = df.agg(got).head.getDouble(0)
    assert(v == 104997.88 * n || math.abs(v - 104997.88 * n) < 1e-6)
    assert(BigDecimal(v) == BigDecimal("104997.88") * n)
  }

  // ---- lsum128b magnitude contract enforcement (r17 "What's wrong #3") --
  // The 2-limb sum requires |micros| < 2^44 PER ROW (Tables.scala:202):
  // the decomposition v = (v>>22)*2^22 + (v & mask) is exact for any
  // long, but the signed high limb must stay under 2^22 in magnitude for
  // its plain-long accumulator to keep the documented ~2^41 rows/group
  // capacity. The contract is a PER-ROW DOMAIN bound — it does not grow
  // with SF (GenScale replicas preserve value distributions; per-user
  // event counts are replica-local), so pinning it over the real input
  // expressions at test SF pins it at any scale. The enumeration below
  // mirrors every distinct input-expression CLASS feeding dsum/davg in
  // src/main; the occurrence-count meta-test makes adding a call site
  // without registering its input class a compile-adjacent failure.

  private val MicrosBound = 1L << 44

  /** Max |micros| the column would stage, over the given frame. */
  private def maxAbsMicros(df: org.apache.spark.sql.DataFrame,
                           c: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    df.agg(coalesce(max(abs(round(c * 1000000.0, 0).cast("long"))), lit(0L)))
      .head.getLong(0)
  }

  test("every dsum/davg input class satisfies |micros| < 2^44 with wide margin") {
    import org.apache.spark.sql.functions._
    val sf = SparkTestSession.sf
    def t(n: String) = Tables.t(spark, sf, n)
    val li = t("lineitem")
    val ev = t("events")
    // (label, frame, expression) — one row per distinct input class.
    // Sources: CoreAgg/TpchSuite/Joins/SetOpsMisc/Xforms (money columns
    // and their q1/q6-style products), Events/TypeOps/Advanced/Streaming
    // (events.value and its per-session/per-window sums — bounded by the
    // per-user total, the hardest derived input), SparseOps (svec
    // components = embedding values), StorageSweep (l_quantity).
    val classes: Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.Column)] = Seq(
      ("lineitem.l_quantity", li, col("l_quantity")),
      ("lineitem.l_extendedprice", li, col("l_extendedprice")),
      ("lineitem.l_discount", li, col("l_discount")),
      ("lineitem revenue = price*(1-disc)", li,
        col("l_extendedprice") * (lit(1) - col("l_discount"))),
      ("lineitem charge = price*(1-disc)*(1+tax)", li,
        col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))),
      ("orders.o_totalprice", t("orders"), col("o_totalprice")),
      ("part.p_retailprice", t("part"), col("p_retailprice")),
      ("customer.c_acctbal", t("customer"), col("c_acctbal")),
      ("events.value", ev, col("value")),
      // upper-bounds EVERY per-session / per-window dsum-of-value input
      // (q_events_session_window's outer dsum(session_value), sliding /
      // tumbling re-sums): a session or window of one user can never
      // exceed that user's whole-history |value| total
      ("events per-user SUM|value| (bounds session_value)",
        ev.groupBy(col("user_id"))
          .agg(sum(abs(col("value"))).as("user_total")),
        col("user_total")),
      ("embeddings svec component",
        t("embeddings").select(
          explode(col("embedding").cast("array<double>")).as("x")),
        col("x")))
    val rows = classes.map { case (label, df, c) =>
      val m = maxAbsMicros(df, c)
      assert(m < MicrosBound,
        s"$label VIOLATES the lsum128b per-row bound: max|micros|=$m >= 2^44")
      // margin: >= 16x headroom so domain drift surfaces long before the
      // contract is threatened (the tightest real class is o_totalprice,
      // ~5e11 micros = 35x clear; everything else is 100x+)
      assert(m < MicrosBound / 16,
        s"$label is within 16x of the lsum128b bound (max|micros|=$m) — " +
          "re-derive the headroom table before accepting the new domain")
      (label, m)
    }
    info(rows.map { case (l, m) => f"$l%-50s max|micros|=$m" }.mkString("\n"))
  }

  test("the contract check fires on a planted over-bound column") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    // |value| = 1.9e7 > 1e7 doc bound -> micros 1.9e13 > 2^44 = ~1.76e13
    val planted = Seq(1.9e7, -1.9e7, 12.5).toDF("x")
    assert(maxAbsMicros(planted, col("x")) >= MicrosBound,
      "the detector must flag a column whose micros exceed 2^44")
  }

  test("dsum/davg call-site census matches the registered input classes") {
    // every dsum(/davg( occurrence in src/main must correspond to an
    // input class registered in the contract test above — adding a call
    // site bumps this count and fails here until the class table is
    // re-audited (the r17 verdict's "machine-checked, not documented")
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val occurrences = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      // tools/ = measurement probes, not query lanes (the headroom probe
      // that fed dsum a synthetic contract-scale column is recorded in
      // SCALING.md "Round 18: the headroom projection PROVEN")
      .filterNot(_.toString.contains("/tools/"))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .map { src =>
        "(?<![A-Za-z])(dsum|davg)\\(".r.findAllIn(src).size
      }.sum
    // 42 call sites + the 2 definitions in Tables.scala
    assert(occurrences == 44,
      s"dsum/davg occurrence census drifted (got $occurrences, pinned 44): " +
        "audit the new call site's input expression against the lsum128b " +
        "|micros| < 2^44 contract and register its class in the " +
        "enumeration test, then re-pin")
  }
}
