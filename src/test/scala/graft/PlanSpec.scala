package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the scale properties SURVEY §4 promises —
  * predicate pushdown to the parquet scan, broadcast of small dims,
  * partial aggregation, no accidental cartesian products. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("tid fetch resolves physical addresses and prunes non-matching files") {
    import org.apache.spark.sql.functions._
    // a 4-file table, so (file_path, row_index) addresses are genuinely
    // two-dimensional and file pruning is observable
    val dir = java.nio.file.Files.createTempDirectory("tidscan").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = SparkEntry.queries("q_tid_scan")(spark, dir)
    val expect = spark.read.parquet(s"$dir/orders.parquet")
      .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(10)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(out.select("o_orderkey").collect().map(_.getLong(0)).sorted
      .sameElements(expect), "tid fetch returned the wrong physical rows")
    // pruning: address ONE row in ONE file — the fetch scan must list
    // exactly that file, not all 4 (metadata file_path filters prune at
    // the FileIndex, before any parquet I/O)
    val one = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("_metadata.file_path").as("fp"),
              col("_metadata.row_index").as("ri"))
      .limit(1).collect().head
    val fetch = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("_metadata.file_path") === one.getString(0) &&
              col("_metadata.row_index") === one.getLong(1))
    assert(fetch.collect().length == 1)  // executes THIS QueryExecution
    val scan = fetch.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.size == 1)
    assert(scan.head.metrics("numFiles").value == 1,
      s"tid fetch read ${scan.head.metrics("numFiles").value} files, want 1")
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q1 plans partial+final hash aggregation") {
    val p = planOf("q1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q3 broadcasts the filtered customer dim") {
    val p = planOf("q3_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q5 snowflake joins broadcast nation and region") {
    val p = planOf("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("decontamination joins the corpus against a BROADCAST eval-gram set") {
    val p = planOf("d_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "the corpus-side gram stream must never shuffle for the join\n" + p)
  }

  test("AQE splits a skewed join partition (OptimizeSkewedJoin)") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      graft.plans.EagerAggRule.ConfKey)
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // make the skew detector fire on test-sized data, and forbid the
      // broadcast fallback so a real shuffle join plans. EagerAgg must
      // sit this one out: with the rule on (session extensions, r15) it
      // pre-aggregates the hot key below the join — 50k rows collapse
      // to 1 and there is no skew left for AQE to split, which is great
      // for the query but defeats the machinery this test pins.
      conf.set(graft.plans.EagerAggRule.ConfKey, "false")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sp = spark; import sp.implicits._
      // one hot key carrying 50k rows vs 1 row for everything else
      val fact = spark.range(0, 51000)
        .select(when(col("id") < 50000, 0L).otherwise(col("id")).as("k"),
                col("id").as("payload"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      val joined = fact.join(dim, "k").groupBy(col("name")).count()
      joined.collect()  // AQE finalizes the plan only after execution
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected OptimizeSkewedJoin to split the hot partition, plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("geo grid join is an equi-join on cells, never a cartesian") {
    val p = planOf("q_geo_grid_join")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"spatial join must come from the (cx,cy) equi-join, plan:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("column pruning reaches the scan (q_agg_having reads 2 cols)") {
    val p = planOf("q_agg_having")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"), p)
  }

  test("join algorithm hints are honored") {
    assert(planOf("q_join_merge_algo").contains("SortMergeJoin"))
    assert(planOf("q_join_hash_algo").contains("ShuffledHashJoin"))
  }

  test("minhash LSH candidate generation contains no cartesian product") {
    val p = planOf("d_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("top-k uses bounded TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk_global")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("LIMIT WITH TIES has no single-partition window: bounded top-k + filter") {
    val p = planOf("q_limit_with_ties")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("q5 prunes supplier/customer through nation⋈region before the fact joins") {
    val p = planOf("q5_region_revenue")
    // 4 broadcast joins: region->nation, natReg->supplier, natReg->customer,
    // supp->lineitem; the fact table never joins an unpruned dim.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
  }

  test("phash dedup candidates come from one (band, key) shuffle, not a cross product") {
    val p = planOf("m_phash_dedup")
    // the capped-bucket scan shuffles the band table once; the window
    // and self-join shape it replaced shuffled it three times
    val bucketShuffles = """hashpartitioning\(band#\d+L?, key#\d+L?, \d+\)""".r
    assert(bucketShuffles.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("FTS top-20 is a bounded TakeOrderedAndProject") {
    val p = planOf("t_fts_rank")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("date_bin aggregation plans map-side partials") {
    val p = planOf("q_date_bin")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the Spark analogue of the reference's motion-level semi-join
    // reduction: a bloom filter built from the selective dim side is
    // pushed into the fact scan at runtime. At 100 TB this is the knob
    // that keeps a 1%-selectivity join from shuffling the full fact table.
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ord = Tables.t(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.t(spark, sf, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan)
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no corpus-sized driver collect in the pipeline operators") {
    // the scale contract from VERDICT r1: candidate generation and kernels
    // run executor-side; the only driver round-trips allowed are K-bounded
    // (centroid/codebook state). Dedup must be collect-free; Similarity
    // may keep exactly its seven K-bounded collects: IVF seed + per-iter
    // centroid update (2), PQ seed ids (16 longs) + seed sub-vectors
    // (M x K rows) + per-iter codebook update (M x K x Sub = 1024 rows),
    // and the two fit-once store loaders (r8: pqLoadCodebooks 1024 rows,
    // ivfLoadCentroids K x dim rows).
    def src(f: String): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/queries/$f")))
    assert(!src("Dedup.scala").contains(".collect()"))
    // literal driver collects only — the executor-side collect_list
    // aggregate (e.g. the broadcast-centroid row) is not a driver
    // round-trip and must not count
    assert("""\.collect\(\)""".r
      .findAllMatchIn(src("Similarity.scala")).size <= 7)
  }

  test("persist() serves rescans from memory (Material/tuplestore analogue)") {
    import org.apache.spark.sql.functions.col
    val df = Tables.t(spark, sf, "supplier")
      .groupBy(col("s_nationkey")).count().persist()
    try {
      df.count() // materialize
      val again = df.filter(col("count") > 0)
      val plan = again.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
      assert(again.count() > 0)
    } finally df.unpersist()
  }

  test("bloom membership probes the bit set via broadcast, no cartesian") {
    val p = planOf("d_bloom_membership")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("count-min probe join broadcasts the sketch cells") {
    val p = planOf("d_countmin_heavy")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("BM25 corpus stats broadcast back onto the doc pass") {
    val p = planOf("t_bm25_rank")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row stats side must broadcast, never shuffle the corpus\n" + p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be bounded top-k, not a global sort\n" + p)
  }

  test("ltree ancestor join is an equi-join on the extracted subpath") {
    val p = planOf("q_ltree_paths")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the @> ancestor test must run as the equi-join decomposition\n" + p)
  }

  test("naive Bayes scores through a broadcast model join") {
    val p = planOf("d_naive_bayes")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("AQE coalesces shuffle partitions at runtime") {
    import org.apache.spark.sql.functions.{col, sum}
    val df = Tables.t(spark, sf, "lineitem")
      .groupBy(col("l_partkey")).agg(sum(col("l_quantity")))
    df.collect()  // AQE finalizes the plan only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"expected runtime-coalesced shuffle read, plan:\n$plan")
  }

  test("bucketed tables join co-located: no shuffle exchange") {
    // DISTRIBUTED BY analogue: both sides bucketed on the join key means
    // the join runs with zero Exchange nodes (the reference's co-located
    // motion-free join).
    val spark2 = spark
    import org.apache.spark.sql.functions.col
    Tables.t(spark2, sf, "orders").write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_bkt")
    Tables.t(spark2, sf, "lineitem").write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_bkt")
    val joined = spark2.table("lineitem_bkt")
      .join(spark2.table("orders_bkt").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    val exchangesBeforeJoin = p.linesIterator
      .dropWhile(!_.contains("SortMergeJoin"))
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchangesBeforeJoin == 0,
      s"expected a shuffle-free co-located join, plan:\n$p")
    assert(joined.count() > 0)
  }

  test("q6 pushes every scan predicate into the parquet scan") {
    // read the scan node's metadata directly — the plan's toString
    // truncates long PushedFilters lists
    // sparkPlan, not executedPlan: AQE wraps the tree and hides leaves
    val scans = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
      .queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size == 1, s"expected one file scan, got $scans")
    val pushed = scans.head.metadata("PushedFilters")
    // shipdate range, discount range, and quantity must ALL reach the scan
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity").foreach(f =>
      assert(pushed.contains(f), s"missing pushed filter $f in:\n$pushed"))
  }

  test("sparse cosine top-k broadcasts the query set, never the corpus") {
    val p = planOf("v_svec_dot_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus side must stream: exactly one broadcast exchange (the
    // tiny query set), no corpus-wide hash exchange before the join
    assert("BroadcastExchange".r.findAllIn(p).size == 1, p)
  }

  test("fit-once PQ scoring reads stored codes, not re-fit passes") {
    // with the store configured, the scoring plan's corpus side is the
    // pq_codes table — the embeddings scan appears only for the
    // query-vector LUTs, and the tiny query set broadcasts
    val s = spark.newSession()
    val tmp = java.nio.file.Files.createTempDirectory("pqplan").toString
    graft.queries.Similarity.pqEnsurePersisted(s, sf, tmp)
    s.conf.set(graft.queries.Similarity.PqDirConf, tmp)
    val p = SparkEntry.queries("s_ann_pq_score")(s, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("pq_codes"), p)
    assert("BroadcastExchange".r.findAllIn(p).size == 1, p)
  }

  test("the r8 map-side scalar families plan without a hash shuffle") {
    // trigram sets, haversine, cover-density rank: per-row expressions
    // only — the sole exchange allowed is the presentation sort's range
    // partitioning (or none when top-k folds into TakeOrdered)
    Seq("q_trgm_fuzzy", "q_earth_distance", "t_fts_rank_cd").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$n grew a hash shuffle:\n$p")
    }
  }

  test("rank/ECDF spine has no partition-less window or global sort") {
    // q_mannwhitney_u / q_ks_test cumsum over a bucket-partitioned spine
    // with triangular-join offsets — safe even on a continuous column
    // where the spine is no longer value-domain-bounded. (The one
    // remaining SinglePartition exchange is the final scalar aggregate
    // over ~32 partial rows — bounded by partition count, not data.)
    import org.apache.spark.sql.catalyst.plans.logical.{Sort => LSort, Window => LWindow}
    for (n <- Seq("q_mannwhitney_u", "q_ks_test")) {
      val lp = SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
      val badWin = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(badWin.isEmpty, s"$n plans a partition-less window:\n$lp")
      val badSort = lp.collect { case s: LSort if s.global => s }
      assert(badSort.isEmpty, s"$n plans a global sort:\n$lp")
    }
  }

  test("multirange canonicalization shuffles once on the grouping key") {
    // window partition-by user_id; both downstream groupBys cluster on
    // supersets/subsets served by the same HashPartitioning — one
    // exchange total (plus the final presentation sort)
    val p = planOf("q_multirange_agg")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected a single hash exchange, got $shuffles:\n$p")
  }

  test("DBSCAN candidate pairs come from a cell equi-join, never a cartesian") {
    val p = planOf("q_dbscan")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the broadcast of the 9-row
    // offsets relation; every point-point pairing is keyed on (cx, cy)
    assert(p.contains("cx") && p.contains("cy"), p)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).nonEmpty, p)
  }

  test("semdedup pair search is one cell shuffle into an in-task scan, never a pair join") {
    val detail = graft.queries.Similarity.semdedupDetail(spark, sf)
    val p = detail.queryExecution.executedPlan.toString
    val cellExchanges = "Exchange hashpartitioning\\(cell#\\d+L?, \\d+\\)".r
      .findAllIn(p).size
    assert(cellExchanges == 1, s"expected one cell exchange, got $cellExchanges:\n$p")
    assert(p.contains("MapPartitions"), p)
    // the only join left marks drops back onto the corpus by vec_id
    assert("Join \\[cell#".r.findFirstIn(p).isEmpty, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("static shuffled-hash joins respect the local-hash-map size bound " +
    "(the SessionDefaults preferSortMergeJoin=false safety boundary)") {
    // The engine defaults flip preferSortMergeJoin off (SessionDefaults),
    // which lets the STATIC planner choose ShuffledHashJoinExec — whose
    // in-memory build map, unlike sort-merge, has no graceful spill. The
    // planner's own guard is canBuildLocalHashMap: build-side ESTIMATE <
    // autoBroadcastJoinThreshold * shuffle.partitions. This pins both
    // sides of that boundary on one join (orders >< customer, estimates
    // from parquet file sizes: customer ~6.9 KB, orders ~36.6 KB at
    // sf0.001), so a regression that plans an over-threshold build side
    // as static SHJ fails here. The estimate-risk that remains (a
    // misestimated build side under the bound) is documented in
    // SCALING.md; the AQE rewrite path (measured sizes) is the
    // size-safe half, evidenced by the r19 executed-plan dumps.
    import org.apache.spark.sql.functions.col
    // the battery runs the shipped session, so the child sessions below
    // inherit preferSortMergeJoin=false rather than set it themselves
    SessionDefaults.confs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"battery session $k must match SessionDefaults")
    }
    def planWith(threshold: Int): String = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false") // static decision only
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      Tables.t(s, sf, "orders").join(Tables.t(s, sf, "customer"),
          col("o_custkey") === col("c_custkey"))
        .queryExecution.executedPlan.toString
    }
    // bound = 512 * 8 partitions = 4 KB < customer: must stay sort-merge
    val over = planWith(512)
    assert(over.contains("SortMergeJoin") && !over.contains("ShuffledHashJoin"),
      s"over-threshold build side must plan SMJ statically:\n$over")
    // bound = 2048 * 8 = 16 KB > customer (and customer is 3x under
    // orders): the planner may and does build the local hash map
    val under = planWith(2048)
    assert(under.contains("ShuffledHashJoin"),
      s"under-threshold build side should plan SHJ with preferSMJ off:\n$under")
  }

  test("content-defined chunking runs the boundary kernel inside codegen") {
    val chunked = graft.queries.Corpus.cdcChunkDetail(
      Tables.t(spark, sf, "documents").select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")))
    val p = chunked.queryExecution.executedPlan.toString
    // the kernel projects within a whole-stage-codegen span ("*(n)"),
    // unlike the CodegenFallback HOF chain it replaced
    assert(p.contains("*(1) Project"), p)
    assert(p.contains("cdc_bounds"), p)
  }
}
