package graft

import org.apache.spark.sql.SparkSession

/** Measurement harness for the graft optimizer rules on the TPC-H lane
  * (VERDICT r12 #6): the reference ships its ORCA xforms ON by default
  * (`gporca/libgpopt/src/xforms/` — each CXform is enabled unless
  * disabled by traceflag); ours were conf-gated experiments until
  * measured. This main runs the full TPC-H battery twice on one
  * SparkContext — a stock session vs a session with every graft rule
  * installed AND enabled — min-of-3 each, and prints a per-query
  * comparison plus whether each query's optimized plan actually
  * changed (a rule that never fires is trivially neutral).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.RuleSweep"
  */
object RuleSweep {

  private val tpch = Seq(
    "q1_pricing_summary", "q2_min_cost_supp", "q3_shipping_priority",
    "q4_order_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_important_stock", "q12_shipmode_priority",
    "q13_cust_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_qty_revenue", "q18_large_volume_cust",
    "q19_bracketed_revenue", "q20_promotion_supp", "q21_suppliers_waiting",
    "q22_global_sales_opp")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionDefaults.cpus
    // stock root, not SessionDefaults.local: it compares stock vs graft-ruled sessions
    val root = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    root.sparkContext.setLogLevel("WARN")

    val stock = root.newSession()
    val ruled = root.newSession()
    // SPARK_GRAFT_SWEEP_RULES=eager,union,orx,range restricts which
    // rules the "ruled" session carries (isolating one rule's effect);
    // default = all, the production configuration.
    val rules = sys.env.get("SPARK_GRAFT_SWEEP_RULES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("eager", "union", "orx", "range"))
    if (rules("eager")) {
      plans.EagerAggRule.install(ruled)
      ruled.conf.set(plans.EagerAggRule.ConfKey, "true")
    }
    if (rules("union")) {
      plans.PushJoinBelowUnionAllRule.install(ruled)
      ruled.conf.set(plans.PushJoinBelowUnionAllRule.ConfKey, "true")
    }
    if (rules("orx")) {
      plans.OrExpansionRule.install(ruled)
      ruled.conf.set(plans.OrExpansionRule.ConfKey, "true")
    }
    if (rules("range")) {
      plans.RangeBinJoinRule.install(ruled)
      ruled.conf.set(plans.RangeBinJoinRule.ConfKey, "10.0")
    }

    def time(s: SparkSession, name: String): (Double, String) = {
      val fn = SparkEntry.queries(name)
      val plan = fn(s, sfDir).queryExecution.optimizedPlan
        .treeString.replaceAll("#\\d+", "#N")
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(s, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      (runs.min, plan)
    }

    // SPARK_GRAFT_SWEEP_ONLY=q20_promotion_supp,... restricts the set
    val only = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    println(f"${"query"}%-24s ${"stock"}%8s ${"ruled"}%8s ${"ratio"}%7s  fired")
    var fired = 0
    tpch.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n))).foreach { name =>
      val (ts, ps) = time(stock, name)
      val (tr, pr) = time(ruled, name)
      val changed = ps != pr
      if (changed) fired += 1
      println(f"$name%-24s $ts%8.3f $tr%8.3f ${tr / ts}%7.2f  ${if (changed) "YES" else "-"}")
    }
    println(s"plans changed by rules: $fired")
    root.stop()
  }
}
