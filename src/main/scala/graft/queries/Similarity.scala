package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Approximate-nearest-neighbor search over the embedding column —
  * additive large-pipeline capability (no reference analogue; the
  * reference's vector support is `gp_sparse_vector`,
  * `/root/reference/gpcontrib/gp_sparse_vector/`).
  *
  * Baseline: brute-force cosine top-k (exact; one broadcast of the query
  * set, full scan of the corpus — at 100 TB this is the per-batch scoring
  * path). Scale path: random-hyperplane LSH bucketing — candidates come
  * from an equi-join on the bucket id, turning O(n*q) into
  * O(sum of bucket sizes), the standard sign-LSH trade.
  *
  * The hyperplanes are generated in Scala (`round(sin(j*64+k+1), 6)`) and
  * the very same literal values are embedded into the DuckDB oracle SQL, so
  * both engines see bit-identical planes.
  */
/** Deterministic random-hyperplane family shared by every sign-LSH
  * consumer ([[Similarity]]'s bucketed ANN and [[Dedup]]'s embedding
  * near-dup candidate stage): plane(j)(k) = round(sin(j*64 + k + 1), 6),
  * rounded so the literals survive a text round-trip into the DuckDB
  * oracle bit-exactly. One definition, two renderings — a Column of
  * literals for the Spark plan and a SQL array literal for the oracle —
  * so both engines see bit-identical planes by construction. */
private[graft] object Hyperplanes {
  val dim = 64
  def plane(j: Int): Seq[Double] =
    Seq.tabulate(dim)(k => math.rint(math.sin(j * dim + k + 1) * 1e6) / 1e6)
  def planeCol(j: Int): Column = array(plane(j).map(lit(_)): _*)
  def planeSql(j: Int): String = plane(j).mkString("[", ", ", "]")
}

object Similarity extends QueryModule {

  private val nPlanes = 8
  private val dim = Hyperplanes.dim
  private def planeCol(j: Int): Column = Hyperplanes.planeCol(j)
  private def planeSql(j: Int): String = Hyperplanes.planeSql(j)

  /** (vec_id, v double[], bucket) with bucket = sign-LSH over the
    * planes — the fused [[graft.functions.SignSig]] kernel (one pass
    * over the stacked plane matrix; sign decisions identical to the
    * per-plane vec_dot form it replaced, see Dedup.embeddingSig). */
  private def bucketed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
    val flat = new Array[Double](nPlanes * dim)
    for (j <- 0 until nPlanes; i <- 0 until dim)
      flat(j * dim + i) = Hyperplanes.plane(j)(i)
    val bucketExpr = org.apache.spark.sql.GraftBridge.exprColumn(
      graft.functions.SignSig(
        org.apache.spark.sql.GraftBridge.columnExpr(col("v")), flat, dim))
    e.withColumn("bucket", bucketExpr)
      .select(col("vec_id"), col("label"), col("v"), col("bucket"))
  }

  // ---- IVF machinery ---------------------------------------------------
  // Shared by s_ann_ivf_topk (in-plan full-corpus fit, the oracle-parity
  // lane) and s_ann_ivf_score (sampled fit / fit-once persisted store).
  private val IvfK = 8

  private def ivfE(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Per-centroid ranking distances |c|^2 - 2 v.c (|v|^2 is constant per
    * row and drops out of every ranking): the [[graft.functions
    * .PqLutsExpr]] kernel with one subspace spanning the whole vector.
    * The centroids ride as ONE flattened array literal — the unrolled
    * per-centroid literal form paid ~600 expression nodes of plan
    * overhead per fit iteration. */
  private def ivfDists(cs: Array[Array[Double]]): Column =
    element_at(call_function("pq_luts", col("v"),
      typedLit(cs.flatten.toArray), lit(1), lit(cs.length), lit(dim)), 1)

  /** argmin cell; ties -> lowest cell index (kernel contract). */
  private def ivfCellCol(cs: Array[Array[Double]]): Column =
    element_at(call_function("pq_encode", col("v"),
      typedLit(cs.flatten.toArray), lit(1), lit(cs.length), lit(dim)), 1)

  /** Above this many centroids, assignment switches from the literal
    * codebook kernel to the broadcast-relation lane (conf-overridable;
    * the literal is the right shape up to K ~ 1e4 ≈ a 5 MB task
    * constant, past which the flattened literal plus its per-task
    * binary copies reach 100s of MB — the forward watch item from the
    * r11 review). */
  private[graft] val BroadcastKConf = "spark.graft.ivf.broadcastK"

  /** Centroids as a relation (cell, c) — the shape
    * [[ivfEnsurePersisted]] already writes; this builder covers the
    * in-plan lanes and tests. */
  private[graft] def centroidsDf(s: SparkSession,
                                 cs: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cs.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "c")
  }

  /** Broadcast-relation cell assignment — the large-K lane: the
    * centroid table collapses to ONE broadcast row holding a
    * cell-sorted array of (cell, c) structs, a broadcast nested-loop
    * join attaches it to every corpus row (no corpus shuffle, no
    * K-per-row intermediate), and a single `aggregate()` fold computes
    * the argmin with dist = vec_norm_sq(c) - 2 vec_dot(v, c) — the
    * SAME left-to-right accumulation and strict-< lowest-cell tie rule
    * as the PqEncodeExpr kernel, so the two lanes are bit-equal
    * (IvfBroadcastSpec asserts per-vector parity and that this plan's
    * size stays O(1) in K while the literal lane's grows). */
  private[graft] def ivfAssignBroadcast(e: DataFrame,
                                        centroids: DataFrame): DataFrame = {
    val s = e.sparkSession
    graft.functions.VectorFns.register(s)
    val cents = broadcast(centroids.agg(
      sort_array(collect_list(struct(col("cell"), col("c")))).as("cents")))
    val zero = struct(lit(Double.PositiveInfinity).as("best"),
      lit(-1).as("cell"))
    e.crossJoin(cents)
      .withColumn("cell", aggregate(col("cents"), zero, (acc, x) => {
        def d = call_function("vec_norm_sq", x("c")) -
          lit(2.0) * call_function("vec_dot", col("v"), x("c"))
        when(d < acc("best"), struct(d.as("best"), x("cell").as("cell")))
          .otherwise(acc)
      })("cell"))
      .drop("cents")
  }

  /** Lane-choosing assignment: literal kernel up to the conf threshold,
    * broadcast relation beyond it. Both lanes append a `cell` column to
    * `e` and are bit-equal. */
  private[graft] def ivfAssign(e: DataFrame,
                               cs: Array[Array[Double]]): DataFrame = {
    graft.functions.PqFns.register(e.sparkSession)
    val thresh = scala.util.Try(
      e.sparkSession.conf.get(BroadcastKConf, "10000").toInt).getOrElse(10000)
    if (cs.length <= thresh) e.withColumn("cell", ivfCellCol(cs))
    else ivfAssignBroadcast(e, centroidsDf(e.sparkSession, cs))
  }

  /** Seeded 3-iteration Lloyd over `e` (vec_id, v) — seeds are the IvfK
    * lowest-vec_id vectors; the centroid mean is micros-sum / n / 1e6 so
    * the update is bit-reproducible across engines and executions. Only
    * the K x dim centroid state (512 doubles) touches the driver. */
  private def ivfFit(e: DataFrame,
                     k: Int = IvfK): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] =
      e.orderBy(col("vec_id")).limit(k).collect()
        .map(_.getSeq[Double](1).toArray)
    for (_ <- 1 to 3) {
      val upd = e.select(ivfCellCol(centroids).as("cell"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(round(col("x") * 1000000.0, 0).cast("long")).cast("double")
          / count(lit(1)) / 1000000.0).as("m"))
        .collect()  // K x dim rows — centroid state only, never the corpus
      val next = centroids.map(_.clone())
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centroids = next  // empty cells keep their previous centroid
    }
    centroids
  }

  /** SemDeDup threshold: within-cell cosine at or above this marks a
    * near-duplicate (the production knob; 0.4 yields a realistic ~5%
    * drop rate on the synthetic corpus). */
  private[graft] val SemTau = 0.4

  /** Per-vector SemDeDup detail (cell, vec_id, v, nrm, is_drop): the
    * corpus clustered by [[ivfFit]]'s seeded Lloyd, is_drop = 1 iff a
    * lower-vec_id vector of the same cell sits at cosine >= [[SemTau]].
    * The kept rows (is_drop null) are the production survivor set; the
    * d_semdedup query aggregates this to the hash-checked per-cell
    * summary and SimilaritySpec asserts the independent-set/witness
    * properties on it.
    *
    * Cluster count: `spark.graft.semdedup.k` — default 8 (the
    * oracle-parity lane, mirrored by the unrolled DuckDB Lloyd), or
    * "auto" = ceil(sqrt(n)) (the production scaling the paper
    * prescribes: per-cell size ~sqrt(n), so the within-cell pair search
    * stays ~n^1.5 total instead of n^2/K at fixed K; Bench runs this
    * lane). The properties SimilaritySpec proves hold for any K.
    *
    * The pair search is [[Dedup.cellWitnessDrops]] over the cells, the
    * scan d_semdedup_probes also runs; a zero-norm vector is never a
    * witness there. */
  private[graft] def semdedupDetail(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = ivfE(s, dir)
    val k = s.conf.get("spark.graft.semdedup.k", "8") match {
      case "auto" => math.max(8,
        math.ceil(math.sqrt(rowCount(s, dir, "embeddings").toDouble)).toInt)
      case v => v.toInt
    }
    val cs = ivfFit(e, k)
    val assigned = ivfAssign(e, cs)
      .withColumn("nrm", expr("vec_norm_sq(v)"))
    val drops = Dedup.cellWitnessDrops(
      assigned.select(col("cell"), col("vec_id"), col("v"), col("nrm")), SemTau)
    assigned.join(drops.withColumn("is_drop", lit(1)), Seq("vec_id"), "left")
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"), col("is_drop"))
  }

  /** Two-level sampled-anchor IVF multi-probe SemDeDup — the r13 scale
    * lane that flattens the production path's second decade (the one
    * measured superlinearity in SCALING.md's two-decade probe).
    *
    * Structure (FAISS's hierarchical coarse-quantizer idea applied to
    * dedup blocking): K1 = ceil(cbrt(n)) coarse anchors and
    * ~K1^2 = n^(2/3) fine anchors, both deterministic vec_id-ordered
    * samples of the corpus — no Lloyd iterations at all, which removes
    * the 3 x (n x K distance evals + posexplode shuffle) fit term that
    * dominates the legacy auto-K lane at x100. Every vector probes its
    * TOP-2 coarse cells (the multi-probe recall knob: near-dup pairs
    * split by a coarse Voronoi boundary still meet through their second
    * probe) and takes the TOP-2 fine anchors within each (the fine-level
    * multi-probe), so each vector lands in <= 4 fine cells of expected
    * size ~4 n^(1/3). The pair search runs within each fine cell:
    * expected pair term 16 n^2 / K2 = O(n^(4/3)) vs the legacy lane's
    * n^(3/2) —
    * and assignment is O(n * n^(1/3)) map-side kernel FLOPs, vs
    * n^(3/2) for flat K = sqrt(n) assignment.
    *
    * Scale envelope: driver state is the K1 x dim coarse-anchor literal
    * (n^(1/3) * dim doubles — 1 MB at n = 10^10); the fine-anchor table
    * broadcast is K2 x dim doubles (n^(2/3) * dim — fits the broadcast
    * budget to n ~ 10^9; past that, shard the corpus or widen the fine
    * stride, trading cell size for anchor count like the paper's K
    * knob). Drop semantics match [[semdedupDetail]]: b is dropped iff
    * some lower-id a shares a (probed) cell with cosine >= [[SemTau]].
    * Both lanes run that law in [[Dedup.cellWitnessDrops]]: it never
    * materializes a pair, stops at a vector's first witness, and decodes
    * one block of vectors (WindowExec's in-memory threshold) at a time; a
    * jumbo fine cell spills through Spark's memory manager. A zero-norm
    * vector (NaN cosine) is never a witness; the fixtures hold none.
    * SimilaritySpec pins the witness law and measures candidate recall
    * vs the exact within-tau pair set; the DuckDB oracle replays the
    * whole construction (anchors, probes, argmin ties) literally. */
  private[graft] def semdedupProbesDetail(s: SparkSession,
                                          dir: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    graft.functions.PqFns.register(s)
    val e = ivfE(s, dir)
    // cached per fixture version — no per-execution count() job (r13 #4)
    val n = rowCount(s, dir, "embeddings")
    // integer-exact knob derivation (min k with k^3 >= n == ceil(cbrt n),
    // ceil division for the stride) so the oracle can compute the SAME
    // values in SQL with no transcendental edge — the sf0.1 full-battery
    // sweep caught the old oracle HARDCODING sf0.01's k1=8/step=8
    val k1 = math.max(4, Iterator.from(1)
      .find(k => k.toLong * k * k >= n).get)
    val step = math.max(1L, (n + k1.toLong * k1 - 1) / (k1.toLong * k1))
    // coarse anchors: the K1 lowest-vec_id vectors (same seeding idiom
    // as ivfFit; K1-bounded driver state)
    val coarse: Array[Array[Double]] =
      e.orderBy(col("vec_id")).limit(k1).collect()
        .map(_.getSeq[Double](1).toArray)
    // top-2 coarse probes per vector, in-plan (sorted struct(d, i)
    // array — ties resolve to the lower cell, matching the oracle's
    // ORDER BY dist, cell)
    val probeArr = array_sort(array(coarse.indices.map(i =>
      struct(element_at(col("dists"), i + 1).as("d"), lit(i).as("i"))): _*))
    val probed = e.withColumn("dists", ivfDists(coarse))
      .select(col("vec_id"), col("v"),
        explode(slice(probeArr.getField("i"), 1, 2)).as("ccell"))
    // fine anchors: every step-th vec_id, each assigned to its nearest
    // coarse cell (kernel ties -> lowest cell), grouped per coarse cell
    // into a fid-sorted struct array and broadcast (K2 x dim state)
    val fa = e.filter(col("vec_id") % step === 0)
      .select(col("vec_id").as("fid"), col("v"))
      .withColumn("ccell", ivfCellCol(coarse))
    val fgrp = fa.groupBy(col("ccell"))
      .agg(sort_array(collect_list(
        struct(col("fid"), col("v").as("fv")))).as("fas"))
    // per (vector, coarse probe): TOP-2 fine anchors within the probed
    // cell (the fine-level multi-probe — one fine cell per vector loses
    // wide-tau near-dup pairs whose members straddle a fine Voronoi
    // boundary). The strict-< two-slot fold keeps the earliest fid on
    // equal distance, matching the oracle's ORDER BY dist, fid rk <= 2.
    val zero = struct(
      lit(Double.PositiveInfinity).as("b1"), lit(-1L).as("f1"),
      lit(Double.PositiveInfinity).as("b2"), lit(-1L).as("f2"))
    val assigned = probed.join(broadcast(fgrp), Seq("ccell"))
      .withColumn("ftop", aggregate(col("fas"), zero, (acc, x) => {
        def d = call_function("vec_norm_sq", x("fv")) -
          lit(2.0) * call_function("vec_dot", col("v"), x("fv"))
        when(d < acc("b1"), struct(d.as("b1"), x("fid").as("f1"),
            acc("b1").as("b2"), acc("f1").as("f2")))
          .when(d < acc("b2"), struct(acc("b1").as("b1"), acc("f1").as("f1"),
            d.as("b2"), x("fid").as("f2")))
          .otherwise(acc)
      }))
      .select(col("vec_id"), col("v"),
        explode(array(col("ftop")("f1"), col("ftop")("f2"))).as("fcell"))
      .filter(col("fcell") >= 0)
      .dropDuplicates(Seq("vec_id", "fcell"))
      .withColumn("nrm", expr("vec_norm_sq(v)"))
    val drops = Dedup.cellWitnessDrops(
      assigned.select(col("fcell"), col("vec_id"), col("v"), col("nrm")), SemTau)
      .distinct()
    e.join(drops.withColumn("is_drop", lit(1)), Seq("vec_id"), "left")
  }

  /** Per-query probe rows (qid, qv, qcell, qn): top-2 nearest cells per
    * query vector, computed in-plan (sorted struct(dist, idx) array; no
    * driver round-trip). */
  private def ivfQueries(e: DataFrame,
                         cs: Array[Array[Double]]): DataFrame = {
    // the kernel computes all centroid distances once into a real column;
    // the sortable struct array is then built from cheap element_at reads
    val probeArr = array_sort(array(cs.indices.map(i =>
      struct(element_at(col("dists"), i + 1).as("d"), lit(i).as("i"))): _*))
    e.filter(col("vec_id") < 10)
      .withColumn("dists", ivfDists(cs))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
              explode(slice(probeArr.getField("i"), 1, 2)).as("qcell"))
      .withColumn("qn", expr("vec_norm_sq(qv)"))
  }

  /** Shared probe-join scoring tail: exact cosine inside the probed
    * cells, top-3 per query. */
  private def ivfScoreTail(assigned: DataFrame, q: DataFrame): DataFrame = {
    val scored = assigned
      .join(broadcast(q), col("cell") === col("qcell") &&
                          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(expr("vec_dot(qv, v)") /
              sqrt(col("qn") * expr("vec_norm_sq(v)")), 6).as("cos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Query rows for the composed IVF+PQ lanes: top-2 probed cells plus
    * the per-query ADC LUTs, slimmed to (qid, qcell, luts) for the
    * broadcast. */
  private def ivfpqQueries(e: DataFrame, cs: Array[Array[Double]],
                           cb: Array[Array[Array[Double]]]): DataFrame =
    ivfQueries(e, cs)
      .withColumnRenamed("qv", "v")
      .withColumn("luts", pqLutsWideCol(cb))
      .select(col("qid"), col("qcell"), col("luts"))

  /** Shared composed-lane tail: ADC scoring of the (vec_id, cell, cds)
    * candidate table within the probed cells, ADC top-8 shortlist, and
    * the exact-cosine rerank over true vectors fetched through one
    * bounded equi-join — FAISS IndexIVFPQ's search path. */
  private def ivfpqTail(e: DataFrame, cand: DataFrame,
                        q: DataFrame): DataFrame = {
    val termSum = (0 until PqM).map { m =>
      round(element_at(element_at(col("luts"), m + 1),
        element_at(col("cds"), m + 1) + lit(1)) * 1000000.0, 0).cast("long")
    }.reduce(_ + _)
    val adc = cand.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (termSum.cast("double") / 1000000.0).as("adc"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    val short = adc.withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= 8).select(col("qid"), col("nid"))
    val en = e.withColumn("nrm", expr("vec_norm_sq(v)"))
    val qe = en.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv2"),
              col("nrm").as("qn2"))
    val rer = short
      .join(en.select(col("vec_id").as("nid"), col("v").as("nv"),
                      col("nrm").as("nn")), Seq("nid"))
      .join(broadcast(qe), Seq("qid"))
      .select(col("qid"), col("nid"),
        round(call_function("vec_dot", col("qv2"), col("nv")) /
              sqrt(col("qn2") * col("nn")), 6).as("cos"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    rer.withColumn("rk", row_number().over(wR)).filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("nid"), col("cos"))
      .orderBy(col("qid"), col("rk"))
  }

  private[graft] def ivfLoadCentroids(s: SparkSession,
                               outDir: String): Array[Array[Double]] = {
    val arr = Array.ofDim[Double](IvfK, dim)
    s.read.parquet(s"$outDir/ivf_centroids").collect().foreach { r =>
      arr(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    arr
  }

  // ---- product-quantization machinery ----------------------------------
  // Shared by s_ann_pq_adc (in-plan full-corpus fit, the oracle-parity
  // lane) and s_ann_pq_score (sampled fit / fit-once persisted store, the
  // production lane). Jégou et al. 2011.
  private val PqM = 8; private val PqSubDim = 8; private val PqK = 16

  /** Deterministic training sample for the sampled-fit lane: every 16th
    * vector. Static, so the DuckDB oracle selects the identical sample —
    * and the honest production choice: PQ codebooks are trained on a
    * learning subset, never the full indexed corpus. */
  private val PqSampleMod = 16L

  /** (vec_id, v): the embeddings corpus as full double vectors. */
  private def pqE(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** All-subspace code array off the embedding row `v` — the ENCODE
    * shape: no explode, no shuffle, one [[graft.functions.PqEncodeExpr]]
    * kernel call per row inside whole-stage codegen. The codebook rides
    * as ONE flattened array literal, not unrolled literal trees (the
    * unrolled form's ~2k expression nodes made plan analysis + codegen
    * dominate wall time at any corpus size — the r9 bench regression). */
  private def pqCodesWideCol(cb: Array[Array[Array[Double]]]): Column =
    call_function("pq_encode", col("v"), typedLit(cb.flatten.flatten),
      lit(PqM), lit(PqK), lit(PqSubDim))

  /** All-subspace asymmetric-distance LUTs off the query row `v`:
    * PqM arrays of PqK ranking terms `|c|^2 - 2 q_m . c` (the constant
    * |q_m|^2 drops out of ranking). Same kernel-literal shape. */
  private def pqLutsWideCol(cb: Array[Array[Array[Double]]]): Column =
    call_function("pq_luts", col("v"), typedLit(cb.flatten.flatten),
      lit(PqM), lit(PqK), lit(PqSubDim))

  /** Seeded 2-iteration per-subspace Lloyd over the WIDE corpus
    * (vec_id, v) — bit-reproducible (micros-stabilized means, ties to
    * lowest code, seeds = the PqK lowest vec_ids present) so the DuckDB
    * oracle can unroll the identical fit. Codebook state: PqM x PqK x
    * PqSubDim = 1024 doubles of driver memory, regardless of corpus
    * size. Each iteration is one corpus pass: encode all subspaces with
    * the kernel, explode positions, and fold (m, k, pos) micros means
    * map-side (order-free long sums). */
  private def pqFit(e: DataFrame): Array[Array[Array[Double]]] = {
    var cb: Array[Array[Array[Double]]] = {
      val arr = Array.ofDim[Array[Double]](PqM, PqK)
      e.orderBy(col("vec_id")).limit(PqK).collect().zipWithIndex.foreach {
        case (r, rank) =>
          val v = r.getSeq[Double](1).toArray
          (0 until PqM).foreach(m =>
            arr(m)(rank) = v.slice(m * PqSubDim, (m + 1) * PqSubDim))
      }
      arr
    }
    for (_ <- 1 to 2) {
      val upd = e
        .select(pqCodesWideCol(cb).as("cds"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select(expr(s"CAST(pos div $PqSubDim AS INT)").as("m"),
          expr(s"element_at(cds, CAST(pos div $PqSubDim AS INT) + 1)").as("k"),
          expr(s"CAST(pos % $PqSubDim AS INT)").as("p"), col("x"))
        .groupBy(col("m"), col("k"), col("p"))
        .agg((sum(round(col("x") * 1000000.0, 0).cast("long")).cast("double")
          / count(lit(1)) / 1000000.0).as("mn"))
        .collect()  // M x K x SubDim = 1024 rows — codebook state only
      val next = cb.map(_.map(_.clone()))
      upd.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cb = next  // empty codes keep their previous centroid
    }
    cb
  }

  /** Shared ADC scoring tail over WIDE relations: codes = (vec_id, cds:
    * PqM small ints — the ONLY per-vector state), queries = (qid, luts)
    * broadcast. The ADC distance folds in ONE codegen projection — zip
    * the PqM LUTs against the PqM codes, sum exact micros — so there is
    * no per-subspace join fan-out and no (qid, nid) re-aggregation
    * shuffle (the pre-r9 shape exploded codes x queries on the subspace
    * key, 8x the rows, then shuffled the partial terms back together).
    * Top-3 per query runs on the native TopKPerGroup operator: map-side
    * bounded heaps, so the only shuffle carries 3 x queries x partitions
    * candidate rows — never every scored pair. */
  private def pqScoreTail(codesWide: DataFrame, qWide: DataFrame): DataFrame = {
    // unrolled PqM-term sum (not a zip_with/aggregate fold: higher-order
    // functions evaluate interpreted, this stays in whole-stage codegen)
    val termSum = (0 until PqM).map { m =>
      round(element_at(element_at(col("luts"), m + 1),
        element_at(col("cds"), m + 1) + lit(1)) * 1000000.0, 0).cast("long")
    }.reduce(_ + _)
    val scored = codesWide
      .join(broadcast(qWide), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (termSum.cast("double") / 1000000.0).as("adc"))
    val top = graft.plans.TopKPerGroup(scored, Seq("qid"),
      order = Seq(("adc", false), ("nid", false)), k = 3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc"), col("nid"))
    top.withColumn("rk", row_number().over(w))
      .select(col("qid"), col("rk"), col("nid"), col("adc"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Conf naming the directory that holds fit-once PQ artifacts. */
  val PqDirConf = "spark.graft.pq.codebookDir"

  /** Fit-once production lane (the r7 verdict's "persist the codebook"
    * item): train codebooks on the deterministic sample, encode the WHOLE
    * corpus, store both as parquet tables — `pq_codebooks` (m, k, pos,
    * val) and `pq_codes` (vec_id, cds: PqM codes wide — one row per
    * vector, so scoring scans it with no pivot). Idempotent via the codes
    * _SUCCESS marker. At 100 TB this runs once per corpus version;
    * queries then touch only stored 8-byte codes (32x compression) and
    * zero fit passes. */
  def pqEnsurePersisted(s: SparkSession, dir: String, outDir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(outDir, "pq_codes/_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a store is valid only if it exists AND has the wide (vec_id, cds)
    // layout — a pre-r9 store held (vec_id, m, code) rows and must be
    // rebuilt, not trusted on the marker alone
    if (fs.exists(marker) &&
        s.read.parquet(s"$outDir/pq_codes").columns.contains("cds")) return
    graft.functions.VectorFns.register(s)
    val cb = pqFit(pqE(s, dir).filter(col("vec_id") % PqSampleMod === 0))
    import s.implicits._
    val rows = for { m <- 0 until PqM; k <- 0 until PqK; p <- 0 until PqSubDim }
      yield (m, k, p, cb(m)(k)(p))
    rows.toDF("m", "k", "pos", "val").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/pq_codebooks")
    pqE(s, dir).select(col("vec_id"), pqCodesWideCol(cb).as("cds"))
      .write.mode("overwrite").parquet(s"$outDir/pq_codes")
  }

  /** Fit-once IVF companion to [[pqEnsurePersisted]]: sampled-fit
    * centroids (`ivf_centroids`: cell, pos, val) and full-corpus cell
    * assignments (`ivf_cells`: vec_id, cell) — the stored-layout reality
    * of an IVF index. Idempotent via the cells _SUCCESS marker. */
  def ivfEnsurePersisted(s: SparkSession, dir: String, outDir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(outDir, "ivf_cells/_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return
    graft.functions.VectorFns.register(s)
    val e = ivfE(s, dir)
    val cs = ivfFit(e.filter(col("vec_id") % PqSampleMod === 0))
    import s.implicits._
    val rows = for { c <- 0 until IvfK; p <- 0 until dim }
      yield (c, p, cs(c)(p))
    rows.toDF("cell", "pos", "val").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/ivf_centroids")
    e.select(col("vec_id"), ivfCellCol(cs).as("cell"))
      .write.mode("overwrite").parquet(s"$outDir/ivf_cells")
  }

  private def pqLoadCodebooks(s: SparkSession,
                              outDir: String): Array[Array[Array[Double]]] = {
    val arr = Array.ofDim[Double](PqM, PqK, PqSubDim)
    s.read.parquet(s"$outDir/pq_codebooks").collect().foreach { r =>
      arr(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
    }
    arr
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact top-5 cosine neighbors for query vectors vec_id < 10.
    "s_ann_bruteforce_topk" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", expr("vec_norm_sq(v)"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          round(expr("vec_dot(qv, v)") /
                sqrt(col("qn") * col("nrm")), 6).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), col("cos"))
        .orderBy(col("qid"), col("rk"))
    }),

    // MMR diversified top-k (Carbonell & Goldstein 1998 — the retrieval
    // op that trades pure relevance for result diversity; the RAG/
    // curation default for "don't return 3 copies of the same doc").
    // Greedy selection: pick argmax cos(q,d); then twice more pick
    // argmax of lambda*cos(q,d) - (1-lambda)*max_{s in S} cos(d,s),
    // ties -> lowest nid. Shape: the candidate stage is the existing
    // brute/IVF ranking (top-8 per query window), then the greedy runs
    // entirely map-side per query over the collected candidate array
    // (k x m struct fold, bounded state, no second shuffle) — at 100 TB
    // the candidate stage is the ANN index path and MMR stays O(k*m)
    // per query. All MMR arithmetic runs in EXACT INTEGER micros
    // (lambda = 7/10 -> score_u = 7*cos_u - 3*maxsim_u at 1e-7 scale):
    // float scoring diverged from the oracle in the 6th decimal, integer
    // scoring cannot.
    "s_ann_mmr_topk" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", expr("vec_norm_sq(v)"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"), col("v"), col("nrm"),
          round(expr("vec_dot(qv, v)") / sqrt(col("qn") * col("nrm")) *
                1000000.0, 0).cast("long").as("cu"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cu").desc, col("nid"))
      // candidate array sorted (cu desc, nid): the struct's leading
      // negated-micros field drives sort_array
      val cands = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .groupBy(col("qid"))
        .agg(sort_array(collect_list(struct(
          (col("cu") * -1).as("neg"), col("nid"),
          col("v"), col("nrm"), col("cu")))).as("cs"))
      // candidate-candidate cosine in micros
      def du(x: Column, sel: Column): Column =
        round(call_function("vec_dot", x("v"), sel("v")) /
              sqrt(x("nrm") * sel("nrm")) * 1000000.0, 0).cast("long")
      // greedy step: rescore `rest` against the selected set, sort by
      // (score_u desc, nid) via the leading negated field, take head
      def pick(rest: Column, scU: Column => Column): Column =
        element_at(array_sort(transform(rest, x => struct(
          (scU(x) * -1).as("neg"), x("nid").as("nid"),
          x("v").as("v"), x("nrm").as("nrm"), x("cu").as("cu")))), 1)
      val withPicks = cands
        .withColumn("s1", element_at(col("cs"), 1))
        .withColumn("s2", pick(
          filter(col("cs"), x => x("nid") =!= col("s1")("nid")),
          x => lit(7L) * x("cu") - lit(3L) * du(x, col("s1"))))
        .withColumn("s3", pick(
          filter(col("cs"), x => x("nid") =!= col("s1")("nid") &&
                                 x("nid") =!= col("s2")("nid")),
          x => lit(7L) * x("cu") - lit(3L) *
               greatest(du(x, col("s1")), du(x, col("s2")))))
      withPicks.select(col("qid"), explode(array(
          struct(lit(1).as("rk"), col("s1")("nid").as("nid"),
                 (col("s1")("cu") * 7L).as("score_u")),
          struct(lit(2).as("rk"), col("s2")("nid").as("nid"),
                 (col("s2")("neg") * -1).as("score_u")),
          struct(lit(3).as("rk"), col("s3")("nid").as("nid"),
                 (col("s3")("neg") * -1).as("score_u")))).as("p"))
        .select(col("qid"), col("p")("rk").as("rk"),
                col("p")("nid").as("nid"), col("p")("score_u").as("score_u"))
        .orderBy(col("qid"), col("rk"))
    }),

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009
    // — the standard lexical+semantic fusion; doc_id and vec_id are the
    // same corpus key). Query-by-document over doc_id < 5: the TEXT leg
    // ranks corpus docs by distinct-token Jaccard to the query doc, the
    // VECTOR leg by embedding cosine, both top-20 windows; fusion
    // score_u = round(1e9/(60+rank_text)) + round(1e9/(60+rank_vec))
    // over the FULL OUTER join of the two rank lists (a doc found by
    // only one leg still scores), top-5 fused per query. All scoring in
    // exact integers. Shape: both legs broadcast the bounded query set
    // and scan the corpus once; the fusion join carries only
    // (qid, nid, rank) rows — at 100 TB swap the brute legs for the
    // inverted-index and ANN candidate stages, fusion is unchanged.
    "q_hybrid_rrf" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("toks"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", expr("vec_norm_sq(v)"))
      val qd = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), col("toks").as("qtoks"))
      val qv = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"))
      val wT = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("jac_u").desc, col("nid"))
      // jaccard via the fused TokenIntersect kernel: both token arrays
      // are array_distinct, so |union| = |a| + |b| - |inter| exactly and
      // the single membership count replaces array_intersect +
      // array_union (two hash sets + two materialized arrays per scored
      // pair — 5.4 s executor-CPU at the r20 x10 probe, the lane's whole
      // cost). The round/div arithmetic is unchanged Spark expressions,
      // so the rounded micros are bit-identical.
      graft.functions.TextFns.register(s)
      val txt = docs.join(broadcast(qd), col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("nid"),
          call_function("tok_inter", col("toks"), col("qtoks")).as("ti"),
          (size(col("toks")) + size(col("qtoks"))).as("sz"))
        .select(col("qid"), col("nid"),
          round(col("ti").cast("double") * 1000000.0 /
            (col("sz") - col("ti")), 0).cast("long").as("jac_u"))
        .withColumn("rt", row_number().over(wT)).filter(col("rt") <= 20)
        .select(col("qid"), col("nid"), col("rt"))
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cu").desc, col("nid"))
      val vec = emb.join(broadcast(qv), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          round(expr("vec_dot(qv, v)") / sqrt(col("qn") * col("nrm")) *
                1000000.0, 0).cast("long").as("cu"))
        .withColumn("rv", row_number().over(wV)).filter(col("rv") <= 20)
        .select(col("qid"), col("nid"), col("rv"))
      val fused = txt.join(vec, Seq("qid", "nid"), "full_outer")
        .withColumn("score_u",
          coalesce(round(lit(1000000000.0) / (lit(60) + col("rt")), 0)
            .cast("long"), lit(0L)) +
          coalesce(round(lit(1000000000.0) / (lit(60) + col("rv")), 0)
            .cast("long"), lit(0L)))
      val wF = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score_u").desc, col("nid"))
      fused.withColumn("rk", row_number().over(wF)).filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("nid"), col("score_u"),
                col("rt"), col("rv"))
        .orderBy(col("qid"), col("rk"))
    }),

    // Contrastive pair mining (the training-data op behind contrastive /
    // triplet objectives: for each anchor, the closest SAME-label vector
    // is the positive and the closest OTHER-label vector is the HARD
    // negative — the pairs that actually move an embedding model): one
    // broadcast of the anchor set, cosine via the vec_dot kernel, one
    // (qid, same-label) ranking window, pivoted to anchor rows with the
    // triplet margin. Scale path: swap the brute scan for the IVF/PQ
    // candidate stages — the mining logic downstream is unchanged.
    "s_hard_negatives" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", expr("vec_norm_sq(v)"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label").as("ql"),
          col("v").as("qv"), col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("ql"), col("vec_id").as("nid"),
          (col("label") === col("ql")).as("same"),
          round(expr("vec_dot(qv, v)") /
                sqrt(col("qn") * col("nrm")), 6).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"), col("same")).orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy(col("qid"))
        .agg(max(when(col("same"), col("nid"))).as("pos_id"),
             max(when(col("same"), col("cos"))).as("pos_cos"),
             max(when(!col("same"), col("nid"))).as("neg_id"),
             max(when(!col("same"), col("cos"))).as("neg_cos"))
        .withColumn("margin", round(col("pos_cos") - col("neg_cos"), 6))
        .orderBy(col("qid"))
    }),

    // Sign-LSH bucket histogram (the partition-shape diagnostic you run
    // before trusting the bucketed path at scale).
    "s_ann_lsh_buckets" -> ((s, dir) => {
      bucketed(s, dir)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"),
             countDistinct(col("label")).as("n_labels"))
        .orderBy(col("bucket"))
    }),

    // Bucketed ANN: top-3 same-bucket neighbors per query (vec_id < 10).
    // Candidates come from the bucket equi-join only.
    "s_ann_lsh_topk" -> ((s, dir) => {
      val b = bucketed(s, dir)
        .withColumn("nrm", expr("vec_norm_sq(v)"))
      val q = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
                col("nrm").as("qn"), col("bucket").as("qb"))
      val scored = b.join(broadcast(q),
          col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          round(expr("vec_dot(qv, v)") /
                sqrt(col("qn") * col("nrm")), 6).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk"), col("nid"), col("cos"))
        .orderBy(col("qid"), col("rk"))
    }),

    // 5-NN majority-vote label classification (MADlib's knn module —
    // the same in-database-ML niche as q_linreg_fit/q_pagerank): exact
    // cosine neighbors among the labeled corpus, labels tallied, the
    // prediction is the vote argmax with (count, label) struct-max
    // tie-breaking mirrored in the oracle. The scoring join is the
    // brute-force ANN shape — broadcast queries, corpus streams.
    "s_knn_classify" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
                col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", expr("vec_norm_sq(v)"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label").as("true_label"),
                col("v").as("qv"), col("nrm").as("qn"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("true_label"), col("label"),
          round(expr("vec_dot(qv, v)") /
                sqrt(col("qn") * col("nrm")), 6).as("cos"),
          col("vec_id").as("nid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .groupBy(col("qid"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("qid"), col("true_label"))
        .agg(max(struct(col("votes").as("c"), col("label").as("l")))
          .as("win"))
        .select(col("qid"), col("true_label"),
          col("win.l").as("predicted"), col("win.c").as("votes"),
          (col("win.l") === col("true_label")).as("correct"))
        .orderBy(col("qid"))
    }),

    // Matrix-style aggregate (MADlib matrix_add analogue,
    // `/root/reference/src/backend/utils/adt/matrix.c`): element-wise sum
    // of vectors per label, exact via integer micros per position.
    "s_matrix_sum_by_label" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg((sum(round(col("x") * 1000000.0, 0).cast("long"))
          .cast("double") / 1000000.0).as("sum_x"),
          count(lit(1)).as("n"))
        .orderBy(col("label"), col("pos"))
    }),

    // IVF (inverted-file) ANN: deterministic k-means (seeded with the
    // first 8 vectors, 3 Lloyd iterations), then probe the 2 nearest
    // centroid lists per query. HASH-CHECKED against an oracle that
    // unrolls the same 3 Lloyd iterations in SQL: every float op on both
    // sides is either order-fixed (sequential dot products / norms) or
    // order-free (the centroid update sums integer MICROS, then divides
    // in one fixed order) — so both engines build bit-identical centroids
    // and the same probe lists. SimilaritySpec additionally asserts
    // recall against the exact brute-force top-k.
    //
    // Scale design: the CORPUS never leaves the executors. Each Lloyd
    // iteration is (a) assignment — an argmin over K centroid literals
    // embedded in the plan (dist^2 = |v|^2 - 2 v.c + |c|^2, codegen'd
    // vec_dot), and (b) update — posexplode + groupBy(cell,pos).avg. Only
    // the K x dim centroid state (512 doubles) returns to the driver
    // between iterations, matching the reference's small-state contract.
    "s_ann_ivf_topk" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = ivfE(s, dir)
      val centroids = ivfFit(e)
      val assigned = e.withColumn("cell", ivfCellCol(centroids))
      ivfScoreTail(assigned, ivfQueries(e, centroids))
    }),

    // Fit-once IVF — the companion production lane to s_ann_pq_score:
    // the in-plan 3-iteration Lloyd fit above is the oracle-parity lane,
    // but at 100 TB centroids are trained once (on a learning sample)
    // and cell assignments are part of the STORED layout — query time
    // touches only the probe-list join. Centroids + assignments come
    // from the persisted store ([[PqDirConf]], Bench's lane) or, with no
    // store configured (the Verify/oracle lane), from an in-plan fit
    // over the deterministic 1/16 sample with full-corpus assignment.
    "s_ann_ivf_score" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = ivfE(s, dir)
      val store = s.conf.get(PqDirConf, "")
      val (centroids, assigned) =
        if (store.nonEmpty) {
          val cs = ivfLoadCentroids(s, store)
          (cs, e.join(s.read.parquet(s"$store/ivf_cells"), Seq("vec_id")))
        } else {
          val cs = ivfFit(e.filter(col("vec_id") % PqSampleMod === 0))
          (cs, e.withColumn("cell", ivfCellCol(cs)))
        }
      ivfScoreTail(assigned, ivfQueries(e, centroids))
    }),

    // SemDeDup semantic deduplication (Abbas et al. 2023,
    // arXiv:2303.09540 — the embedding-space member of the Dedup family
    // in queries/Dedup.scala): cluster the corpus with the SAME seeded
    // micros-stabilized Lloyd as the IVF lane, then drop, within each
    // cluster, every vector that has a LOWER-id near-duplicate at
    // cosine >= 0.4. The paper keeps one representative per semantic-dup
    // group; "drop iff a lower-id near-dup exists" is the deterministic,
    // SQL-expressible policy: the kept set is exactly the id-minimal
    // elements of the within-cell near-dup relation — mutually non-dup
    // (a kept pair at cos >= tau is impossible: the higher id would have
    // a lower-id witness) and containing each chain's minimum id; both
    // properties are asserted in SimilaritySpec. Output is per-cluster
    // (n, dropped, kept) plus an
    // md5 digest of the numerically-sorted dropped-id list, so the hash
    // compare proves the exact drop SET, not just its size.
    //
    // Scale design: this is WHY SemDeDup clusters first — the quadratic
    // pair search runs within a cell, never across the corpus, and K
    // grows with n (the paper uses K ~ sqrt(n)) so cell sizes stay
    // bounded; the witness scan shuffles (cell, id, v) once on cell,
    // drops carry only the id, and centroid state on the driver is K x dim
    // doubles. The exact all-pairs audit lane (d_dedup_embedding) is the
    // unclustered contrast with the O(n^2) misuse guard.
    "d_semdedup" -> ((s, dir) => {
      // Misuse guard (r13 VERDICT #1): this legacy paper-K lane measured
      // superlinear across decades (dec2 5.76x at K=sqrt(n), SCALING.md)
      // and is SUPERSEDED by d_semdedup_probes (dec2 ~2.7x, recall 0.69
      // vs 0.19). Quarantined exactly like d_dedup_embedding: it stays
      // the oracle-parity / audit lane, and fails fast above audit scale
      // unless spark.graft.audit=true (or a raised maxRows) opts in.
      Dedup.requireAuditScale(s, dir,
        "d_semdedup is the superseded superlinear audit path", "d_semdedup_probes")
      semdedupDetail(s, dir)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          count(col("is_drop")).as("dropped"),
          (count(lit(1)) - count(col("is_drop"))).as("kept"),
          md5(concat_ws(",",
            transform(
              sort_array(collect_list(when(col("is_drop") === 1,
                col("vec_id")))),
              _.cast("string")))).as("dropped_digest"))
        .orderBy(col("cell"))
    }),

    // The r13 production-scale SemDeDup: two-level sampled-anchor IVF
    // with top-2 multi-probe (see semdedupProbesDetail's scaladoc for
    // the n^(4/3)-vs-n^(3/2) argument). Output is the global survivor
    // summary with an md5 digest of the sorted dropped-id list, so the
    // hash compare proves the exact drop SET against the oracle's
    // literal replay of the anchor/probe/argmin construction.
    "d_semdedup_probes" -> ((s, dir) => {
      semdedupProbesDetail(s, dir)
        .agg(count(lit(1)).as("n"),
          count(col("is_drop")).as("dropped"),
          (count(lit(1)) - count(col("is_drop"))).as("kept"),
          md5(concat_ws(",",
            transform(
              sort_array(collect_list(when(col("is_drop") === 1,
                col("vec_id")))),
              _.cast("string")))).as("dropped_digest"))
    }),

    // DBSCAN density clustering (MADlib-clustering niche alongside the
    // Lloyd lanes; Ester et al. 1996): eps-neighborhoods over the first
    // two embedding dims in exact integer micros, core points (>= 4
    // points in the closed eps-ball incl. self), clusters = connected
    // components of the core-core eps-graph labeled by min core id
    // (Corpus.connectedComponents, the d_dedup_cluster_assign_near
    // machinery), border points adopt the min cluster among their core
    // neighbors, the rest are noise. Scale shape: candidate pairs come
    // from an eps-sized GRID — each point explodes to its 3x3 neighbor
    // cells (a 9-row broadcast) and pairs equi-join on the cell, so the
    // join cost is sum of cell-occupancy products, never n^2; the
    // DuckDB oracle runs the NAIVE theta join, so the hash compare
    // proves the grid decomposition lossless (the q_geo_grid_join
    // discipline). All distances are integer micros^2 — bit-exact.
    "q_dbscan" -> ((s, dir) => {
      val epsU = 50000L
      val eps2 = epsU * epsU
      val pts = t(s, dir, "embeddings").select(col("vec_id"),
        (round(element_at(col("embedding"), 1).cast("double") * 1000000.0, 0)
          .cast("long") + 1000000L).as("x"),
        (round(element_at(col("embedding"), 2).cast("double") * 1000000.0, 0)
          .cast("long") + 1000000L).as("y"))
      val cells = pts
        .withColumn("cx", expr(s"x div $epsU"))
        .withColumn("cy", expr(s"y div $epsU"))
      val offs = s.range(0, 9)
        .selectExpr("id % 3 - 1 AS dx", "id div 3 - 1 AS dy")
      val aExp = cells.crossJoin(broadcast(offs))
        .select(col("vec_id").as("aid"), col("x").as("ax"),
          col("y").as("ay"),
          (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
      val b = cells.select(col("vec_id").as("bid"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy"))
      val pairs = aExp.join(b, Seq("cx", "cy"))
        .filter(col("aid") =!= col("bid") &&
          ((col("ax") - col("bx")) * (col("ax") - col("bx")) +
            (col("ay") - col("by")) * (col("ay") - col("by"))) <= eps2)
        .select(col("aid"), col("bid"))
      val core = pairs.groupBy(col("aid")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3).select(col("aid").as("vec_id"))
      val coreEdges = pairs
        .join(core.select(col("vec_id").as("aid")), "aid")
        .join(core.select(col("vec_id").as("bid")), "bid")
      val clab = Corpus.connectedComponents(
          core.select(col("vec_id").as("id")),
          coreEdges.select(col("aid").as("src"), col("bid").as("dst")))
        .select(col("id").as("vec_id"), col("lbl").as("core_cluster"))
      val blab = pairs
        .join(clab.select(col("vec_id").as("bid"),
          col("core_cluster").as("bcl")), "bid")
        .join(core.select(col("vec_id").as("aid"), lit(1).as("ac")),
          Seq("aid"), "left_anti")
        .groupBy(col("aid")).agg(min(col("bcl")).as("border_cluster"))
        .select(col("aid").as("vec_id"), col("border_cluster"))
      pts.join(clab, Seq("vec_id"), "left")
        .join(blab, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("core_cluster").isNotNull, lit("core"))
            .when(col("border_cluster").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("core_cluster"), col("border_cluster"))
            .as("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // Binary quantization + Hamming ANN — the most aggressive vector
    // compression tier (sign-bit per dimension: 64 dims -> 8 bytes, 64x
    // vs float32, 512x vs the double working form; the standard
    // bq-then-rerank trade, same family as the sign-LSH bucketing
    // above). Packed as TWO 32-bit halves folded MSB-first (acc*2+bit —
    // a 64-bit fold would overflow BIGINT in the oracle engine, which
    // errors rather than wraps); distance = popcount(xor(hi)) +
    // popcount(xor(lo)), all integer — bit-exact across engines by
    // construction. 100 TB shape: signature build is one map-side pass;
    // queries broadcast (2 longs each); the only shuffle is the
    // (qid, nid) top-k.
    "s_ann_binary_hamming" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def sig(a: Column): Column =
        aggregate(a, lit(0L),
          (acc, x) => acc * 2 + when(x > 0, 1L).otherwise(0L))
      val b = e.select(col("vec_id"),
        sig(slice(col("v"), 1, 32)).as("hi"),
        sig(slice(col("v"), 33, 32)).as("lo"))
      val q = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("hi").as("qhi"),
                col("lo").as("qlo"))
      val scored = b.join(broadcast(q), col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          (bit_count(col("hi").bitwiseXOR(col("qhi"))) +
           bit_count(col("lo").bitwiseXOR(col("qlo")))).cast("int")
            .as("hamming"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("hamming"), col("nid"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("qid"), col("rk"), col("nid"), col("hamming"))
        .orderBy(col("qid"), col("rk"))
    }),

    // Int8 scalar quantization (the storage path for ANN at 100 TB: 4x
    // smaller vectors, distance on int8 with one dequant multiply).
    // Per-vector symmetric scale = max|x| / 127; reports the scale, the
    // max reconstruction error, and an integer checksum of the codes —
    // all per-row map-side expressions, no shuffle at all.
    // Product quantization + ADC (Jégou et al. 2011, "Product
    // quantization for nearest neighbor search" — the standard
    // billion-vector ANN compression; the reference's closest surface is
    // the same MADlib-on-GP k-means niche the IVF query mirrors).
    // 64-dim -> 8 subspaces x 16-centroid codebooks -> 8 codes/vector
    // (32x compression: the ONLY per-vector state the scoring join
    // touches is 8 small ints). Codebooks fit with the same seeded
    // micros-stabilized Lloyd as s_ann_ivf_topk, per subspace, 2
    // iterations — bit-reproducible, so the DuckDB oracle unrolls the
    // identical fit. Queries stay EXACT (asymmetric distance): per
    // (query, subspace) a 16-entry LUT of `|c|^2 - 2 q_m . c` terms
    // (the constant |q_m|^2 drops out of ranking); ADC distance = sum of
    // 8 LUT hits, accumulated as exact micros so summation order can't
    // smear the hash. 100 TB shape: codebook state = 1024 doubles on the
    // driver; the corpus contributes only (vec_id, m, code) triples;
    // queries broadcast; one narrow (qid, nid) shuffle.
    "s_ann_pq_adc" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      // The 2 Lloyd iterations, encode, and query-LUT each scan the
      // (vec_id, v) corpus once — 4 cheap columnar scans, no persisted
      // copy; codebook state is 1024 doubles on the driver. This is the
      // oracle-parity lane (the DuckDB SQL unrolls this exact
      // full-corpus fit); the shape you RUN at scale is s_ann_pq_score
      // below, which never fits at query time.
      val cb = pqFit(pqE(s, dir))
      val codes = pqE(s, dir).select(col("vec_id"), pqCodesWideCol(cb).as("cds"))
      val q = pqE(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), pqLutsWideCol(cb).as("luts"))
      pqScoreTail(codes, q)
    }),

    // Composed IVF + PQ — FAISS's IndexIVFPQ, THE production ANN shape
    // at corpus scale (Jégou et al. 2011 §V): coarse IVF cells bound the
    // candidate set (top-2 probed cells, the s_ann_ivf_topk machinery),
    // PQ ADC ranks candidates from their 8-byte codes without touching
    // full vectors (the s_ann_pq_adc machinery), and only the ADC top-8
    // shortlist is reranked with true vectors (one bounded equi-join
    // back to the corpus — the "fetch full precision for the shortlist"
    // step real systems pay). Scale story: the corpus contributes one
    // cell id + one code array per row; full vectors are read only for
    // shortlist rows; centroid + codebook driver state is K x dim +
    // M x K x Sub doubles regardless of corpus size. The DuckDB oracle
    // unrolls both fits and replays probe -> ADC -> rerank literally.
    "s_ann_ivfpq_topk" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = ivfE(s, dir)
      val cs = ivfFit(e)
      val cb = pqFit(pqE(s, dir))
      val cand = ivfAssign(e, cs).select(col("vec_id"), col("cell"),
        pqCodesWideCol(cb).as("cds"))
      ivfpqTail(e, cand, ivfpqQueries(e, cs, cb))
    }),

    // Fit-once composed IVF+PQ — the lane you actually RUN at corpus
    // scale: centroids, codebooks, cell ids and 8-byte codes all come
    // from the persisted store ([[PqDirConf]], Bench's lane — the
    // corpus contributes ONLY its stored cells⋈codes rows, zero fit
    // passes at query time), or from sampled in-plan fits when no
    // store is configured (the Verify/oracle lane — identical seeded
    // fits over the same 1/16 rows, so the result is the same
    // DataFrame either way, like s_ann_pq_score/s_ann_ivf_score).
    "s_ann_ivfpq_score" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val e = ivfE(s, dir)
      val store = s.conf.get(PqDirConf, "")
      val (cs, cb, cand) =
        if (store.nonEmpty) {
          (ivfLoadCentroids(s, store), pqLoadCodebooks(s, store),
           s.read.parquet(s"$store/ivf_cells")
             .join(s.read.parquet(s"$store/pq_codes"), Seq("vec_id")))
        } else {
          val cs0 = ivfFit(e.filter(col("vec_id") % PqSampleMod === 0))
          val cb0 = pqFit(pqE(s, dir)
            .filter(col("vec_id") % PqSampleMod === 0))
          (cs0, cb0,
           e.select(col("vec_id"), ivfCellCol(cs0).as("cell"),
                    pqCodesWideCol(cb0).as("cds")))
        }
      ivfpqTail(e, cand, ivfpqQueries(e, cs, cb))
    }),

    // Fit-once PQ — the production shape at 100 TB. Codebooks come either
    // from the persisted store ([[PqDirConf]], Bench's lane: the corpus
    // contributes ONLY its stored 8-byte codes, zero fit passes at query
    // time) or, when no store is configured (the Verify/oracle lane),
    // from an in-plan Lloyd fit over the deterministic 1/16 sample —
    // sample-trained codebooks being standard PQ practice (Jégou et al.
    // train on a learning subset, not the indexed set). Both lanes
    // produce identical codebooks (same seeded fit over the same rows),
    // so the scoring result is the same DataFrame either way.
    "s_ann_pq_score" -> ((s, dir) => {
      graft.functions.VectorFns.register(s)
      val store = s.conf.get(PqDirConf, "")
      val (cb, codes) =
        if (store.nonEmpty)
          (pqLoadCodebooks(s, store), s.read.parquet(s"$store/pq_codes"))
        else {
          val cb0 = pqFit(pqE(s, dir).filter(col("vec_id") % PqSampleMod === 0))
          (cb0, pqE(s, dir).select(col("vec_id"), pqCodesWideCol(cb0).as("cds")))
        }
      val q = pqE(s, dir).filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), pqLutsWideCol(cb).as("luts"))
      pqScoreTail(codes, q)
    }),

    "s_quantize_int8" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale",
          array_max(transform(col("v"), x => abs(x))) / 127.0)
        .withColumn("q",
          transform(col("v"), x => round(x / col("scale")).cast("int")))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale6"),
          round(array_max(zip_with(col("q"), col("v"),
            (qi, x) => abs(qi * col("scale") - x))), 6).as("max_err"),
          aggregate(col("q"), lit(0), (acc, qi) => acc + qi).as("q_sum"))
        .orderBy(col("vec_id"))
    }),

    // Per-label centroid + mean distance-to-centroid (cluster cohesion).
    // Element-wise mean is decimal-stabilized per (label, pos) so both
    // engines build the identical centroid.
    "s_label_centroid_dist" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
                posexplode(col("embedding").cast("array<double>"))
                  .as(Seq("pos", "x")))
      val centroid = e.groupBy(col("label"), col("pos"))
        .agg((sum(col("x").cast(Dec)).cast("double") /
              count(lit(1))).as("c"))
      val d2 = e.join(centroid, Seq("label", "pos"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(((col("x") - col("c")) * (col("x") - col("c")))
          .cast(Dec)).cast("double").as("d2"))
      d2.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             round(sum(sqrt(col("d2")).cast(Dec)).cast("double") /
                   count(lit(1)), 4).as("avg_dist"))
        .orderBy(col("label"))
    }),

    // Cluster-quality metrics over the labeled embedding space (the
    // MADlib clustering-eval niche; what you run AFTER k-means/IVF to
    // decide whether the clustering is usable): per-cluster scatter s_i
    // (mean distance to centroid, micros), nearest-other-centroid
    // separation, and the Davies-Bouldin term max_j (s_i + s_j) / d_ij
    // — lower is better-separated. Per-row sqrt outputs are rounded to
    // integer micros BEFORE summing (IEEE sqrt is correctly rounded, so
    // the per-row longs are engine-identical and the sums order-free).
    // Shape: centroids are (labels x dims) rows; the pair matrix is
    // labels^2 — both tiny at any corpus size; one corpus pass total.
    "s_cluster_quality" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
                posexplode(col("embedding").cast("array<double>"))
                  .as(Seq("pos", "x")))
      val centroid = e.groupBy(col("label"), col("pos"))
        .agg((sum(col("x").cast(Dec)).cast("double") /
              count(lit(1))).as("c"))
      val scatter = e.join(centroid, Seq("label", "pos"))
        .groupBy(col("label"), col("vec_id"))
        .agg(sum(((col("x") - col("c")) * (col("x") - col("c")))
          .cast(Dec)).cast("double").as("d2"))
        .select(col("label"),
          round(sqrt(col("d2")) * 1000000.0, 0).cast("long").as("d_u"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             expr("(2 * sum(d_u) + count(1)) div (2 * count(1))").as("s_u"))
      val cj = centroid.select(col("label").as("lj"), col("pos"),
        col("c").as("cj"))
      val pairs = centroid.join(cj, Seq("pos"))
        .filter(col("label") =!= col("lj"))
        .groupBy(col("label"), col("lj"))
        .agg(sum(((col("c") - col("cj")) * (col("c") - col("cj")))
          .cast(Dec)).cast("double").as("dc2"))
        .select(col("label"), col("lj"),
          round(sqrt(col("dc2")) * 1000000.0, 0).cast("long").as("dij_u"))
      val sj = scatter.select(col("label").as("lj"), col("s_u").as("sj_u"))
      val wL = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      pairs.join(broadcast(scatter), "label").join(broadcast(sj), "lj")
        .withColumn("db_term_u",
          expr("(2 * (1000000 * (s_u + sj_u)) + dij_u) div (2 * dij_u)"))
        .withColumn("dmin", min(col("dij_u")).over(wL))
        .groupBy(col("label"), col("n"), col("s_u"))
        .agg(min(when(col("dij_u") === col("dmin"), col("lj"))).as("nearest_label"),
             min(col("dij_u")).as("nearest_d_u"),
             max(col("db_term_u")).as("db_u"))
        .orderBy(col("label"))
    })
  )

  private def bucketSqlExpr: String =
    (0 until nPlanes).map { j =>
      s"""(CASE WHEN list_dot_product(v, ${planeSql(j)}) > 0
         |  THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** dist-to-centroid argmin term, matching the Spark plan op-for-op:
    * |c|^2 (sequential sum of squares from 0.0) minus 2 * v.c (sequential
    * dot product). Identical double sequences on both engines. */
  private def ivfDistSql(vec: String, cen: String): String =
    s"list_reduce(list_prepend(0.0, $cen), (acc, x) -> acc + x * x)" +
      s" - 2 * list_dot_product($vec, $cen)"

  /** One unrolled PQ Lloyd iteration over ALL subspaces at once: assign
    * every (vector, subspace) row to its nearest `prev` code of that
    * subspace (ties -> lowest code), rebuild per-(m, k) centroids as
    * micros-sum / n / 1e6; empty codes keep their previous centroid.
    * Mirrors the Spark fit op-for-op, like [[ivfIterSql]]. */
  private def pqIterSql(prev: String, cur: String, src: String = "sub"): String =
    s"""pa_$cur AS (
       |  SELECT vec_id, m, sv, k FROM (
       |    SELECT s.vec_id, s.m, s.sv, c.k,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${ivfDistSql("s.sv", "c.c")}, c.k) AS rk
       |    FROM $src s JOIN $prev c ON s.m = c.m) WHERE rk = 1),
       |pm_$cur AS (
       |  SELECT m, k, i.i AS pos,
       |    CAST(SUM(CAST(round(sv[i.i + 1] * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
       |      / COUNT(*) / 1000000.0 AS mn
       |  FROM pa_$cur, (SELECT unnest(range(0, 8)) AS i) i
       |  GROUP BY m, k, i.i),
       |pl_$cur AS (SELECT m, k, list(mn ORDER BY pos) AS c
       |  FROM pm_$cur GROUP BY m, k),
       |$cur AS (SELECT p.m, p.k, COALESCE(l.c, p.c) AS c
       |  FROM $prev p LEFT JOIN pl_$cur l ON p.m = l.m AND p.k = l.k)""".stripMargin

  /** One unrolled Lloyd iteration: assign every vector to its nearest
    * `prev` centroid (ties -> lowest cell, like the struct-min), then
    * rebuild each cell's centroid as micros-sum / n / 1e6; empty cells
    * keep their previous centroid. */
  private def ivfIterSql(prev: String, cur: String, src: String = "e"): String =
    s"""a_$cur AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
       |    FROM $src e, $prev c) WHERE rk = 1),
       |m_$cur AS (
       |  SELECT cell, i.i AS pos,
       |    CAST(SUM(CAST(round(v[i.i + 1] * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
       |      / COUNT(*) / 1000000.0 AS m
       |  FROM a_$cur, (SELECT unnest(range(0, $dim)) AS i) i
       |  GROUP BY cell, i.i),
       |l_$cur AS (SELECT cell, list(m ORDER BY pos) AS c
       |  FROM m_$cur GROUP BY cell),
       |$cur AS (SELECT p.cell, COALESCE(l.c, p.c) AS c
       |  FROM $prev p LEFT JOIN l_$cur l ON p.cell = l.cell)""".stripMargin

  val oracle: Map[String, String] = Map(
    "s_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
        |                (a, x) -> a + x * x) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid, e.label = q.label AS same,
        |    ROUND(list_dot_product(q.v, e.v) / sqrt(q.nrm * e.nrm), 6) AS cos
        |  FROM e q JOIN e ON q.vec_id < 20 AND e.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, nid, same, cos,
        |    row_number() OVER (PARTITION BY qid, same ORDER BY cos DESC, nid)
        |      AS rk
        |  FROM scored),
        |top AS (SELECT qid,
        |    MAX(CASE WHEN same THEN nid END) AS pos_id,
        |    MAX(CASE WHEN same THEN cos END) AS pos_cos,
        |    MAX(CASE WHEN NOT same THEN nid END) AS neg_id,
        |    MAX(CASE WHEN NOT same THEN cos END) AS neg_cos
        |  FROM ranked WHERE rk = 1 GROUP BY qid)
        |SELECT qid, pos_id, pos_cos, neg_id, neg_cos,
        |  ROUND(pos_cos - neg_cos, 6) AS margin
        |FROM top ORDER BY qid""".stripMargin,

    "s_ann_bruteforce_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
        |                (a, x) -> a + x * x) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    ROUND(list_dot_product(q.v, e.v) / sqrt(q.nrm * e.nrm), 6) AS cos
        |  FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |  FROM scored)
        |SELECT qid, CAST(rk AS INT) AS rk, nid, cos FROM ranked
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // literal replay of the greedy MMR: same top-8 candidate window,
    // same three selection steps, all scoring in exact integer micros
    // (score_u = 7*cos_u - 3*maxsim_u), ties -> lowest nid
    "s_ann_mmr_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
        |                (a, x) -> a + x * x) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid, e.v, e.nrm,
        |    CAST(ROUND(list_dot_product(q.v, e.v) / sqrt(q.nrm * e.nrm)
        |      * 1000000.0, 0) AS BIGINT) AS cu
        |  FROM e q JOIN e ON q.vec_id < 10 AND e.vec_id <> q.vec_id),
        |cands AS (
        |  SELECT * FROM (
        |    SELECT qid, nid, v, nrm, cu,
        |      row_number() OVER (PARTITION BY qid ORDER BY cu DESC, nid) AS rn
        |    FROM scored) WHERE rn <= 8),
        |s1 AS (SELECT qid, nid, v, nrm, cu FROM cands WHERE rn = 1),
        |st2 AS (
        |  SELECT c.qid, c.nid, c.v, c.nrm, c.cu,
        |    7 * c.cu - 3 * CAST(ROUND(list_dot_product(c.v, s.v)
        |      / sqrt(c.nrm * s.nrm) * 1000000.0, 0) AS BIGINT) AS sc
        |  FROM cands c JOIN s1 s ON c.qid = s.qid AND c.nid <> s.nid),
        |s2 AS (SELECT qid, nid, v, nrm, sc FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY sc DESC, nid) AS rk2 FROM st2) WHERE rk2 = 1),
        |st3 AS (
        |  SELECT c.qid, c.nid,
        |    7 * c.cu - 3 * GREATEST(
        |      CAST(ROUND(list_dot_product(c.v, a.v)
        |        / sqrt(c.nrm * a.nrm) * 1000000.0, 0) AS BIGINT),
        |      CAST(ROUND(list_dot_product(c.v, b.v)
        |        / sqrt(c.nrm * b.nrm) * 1000000.0, 0) AS BIGINT)) AS sc
        |  FROM cands c JOIN s1 a ON c.qid = a.qid JOIN s2 b ON c.qid = b.qid
        |  WHERE c.nid <> a.nid AND c.nid <> b.nid),
        |s3 AS (SELECT qid, nid, sc FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid
        |      ORDER BY sc DESC, nid) AS rk3 FROM st3) WHERE rk3 = 1)
        |SELECT qid, 1 AS rk, nid, CAST(7 * cu AS BIGINT) AS score_u FROM s1
        |UNION ALL SELECT qid, 2 AS rk, nid, CAST(sc AS BIGINT) AS score_u FROM s2
        |UNION ALL SELECT qid, 3 AS rk, nid, CAST(sc AS BIGINT) AS score_u FROM s3
        |ORDER BY qid, rk""".stripMargin,

    // literal replay of the two legs and the fusion: distinct-token
    // Jaccard micros, cosine micros, top-20 windows, FULL OUTER fusion
    // with round(1e9/(60+rank)) integer terms, top-5 by fused score
    "q_hybrid_rrf" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |qd AS (SELECT doc_id AS qid, toks AS qtoks FROM d WHERE doc_id < 5),
        |txt AS (SELECT qid, nid, rt FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY jac_u DESC, nid) AS rt
        |    FROM (
        |      SELECT q.qid, d.doc_id AS nid,
        |        CAST(ROUND(len(list_intersect(d.toks, q.qtoks))
        |          * 1000000.0
        |          / len(list_distinct(list_concat(d.toks, q.qtoks))), 0)
        |          AS BIGINT) AS jac_u
        |      FROM d, qd q WHERE d.doc_id <> q.qid)) WHERE rt <= 20),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
        |                (a, x) -> a + x * x) AS nrm
        |  FROM embeddings),
        |vec AS (SELECT qid, nid, rv FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid
        |        ORDER BY cu DESC, nid) AS rv
        |    FROM (
        |      SELECT q.vec_id AS qid, e.vec_id AS nid,
        |        CAST(ROUND(list_dot_product(q.v, e.v) / sqrt(q.nrm * e.nrm)
        |          * 1000000.0, 0) AS BIGINT) AS cu
        |      FROM e q JOIN e ON q.vec_id < 5 AND e.vec_id <> q.vec_id))
        |  WHERE rv <= 20),
        |f AS (
        |  SELECT COALESCE(t.qid, v.qid) AS qid, COALESCE(t.nid, v.nid) AS nid,
        |    t.rt, v.rv,
        |    COALESCE(CAST(ROUND(1000000000.0 / (60 + t.rt), 0) AS BIGINT), 0)
        |    + COALESCE(CAST(ROUND(1000000000.0 / (60 + v.rv), 0) AS BIGINT), 0)
        |      AS score_u
        |  FROM txt t FULL OUTER JOIN vec v
        |    ON t.qid = v.qid AND t.nid = v.nid)
        |SELECT qid, CAST(rk AS INT) AS rk, nid, score_u,
        |  CAST(rt AS INT) AS rt, CAST(rv AS INT) AS rv FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY score_u DESC, nid) AS rk FROM f) WHERE rk <= 5
        |ORDER BY qid, rk""".stripMargin,

    "s_ann_lsh_buckets" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, CAST($bucketSqlExpr AS BIGINT) AS bucket
         |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |        FROM embeddings))
         |SELECT bucket, COUNT(*) AS n_vectors,
         |  COUNT(DISTINCT label) AS n_labels
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "s_ann_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |    CAST($bucketSqlExpr AS BIGINT) AS bucket,
         |    list_reduce(list_prepend(0.0, v), (a, x) -> a + x * x) AS nrm
         |  FROM e),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    ROUND(list_dot_product(q.v, c.v) / sqrt(q.nrm * c.nrm), 6) AS cos
         |  FROM b q JOIN b c ON q.vec_id < 10 AND c.bucket = q.bucket
         |    AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM scored)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, cos FROM ranked
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // same neighbor ranking as the brute-force oracle; the vote argmax
    // via max-by-(count,label) struct ordering, mirrored
    "s_knn_classify" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_prepend(0.0, CAST(embedding AS DOUBLE[])),
        |                (a, x) -> a + x * x) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, q.label AS true_label, e.label,
        |    ROUND(list_dot_product(q.v, e.v) / sqrt(q.nrm * e.nrm), 6) AS cos,
        |    e.vec_id AS nid
        |  FROM e q JOIN e ON q.vec_id < 20 AND e.vec_id <> q.vec_id),
        |top5 AS (SELECT qid, true_label, label FROM (
        |    SELECT qid, true_label, label,
        |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
        |    FROM scored) WHERE rk <= 5),
        |votes AS (SELECT qid, true_label, label, COUNT(*) AS c
        |  FROM top5 GROUP BY qid, true_label, label),
        |win AS (SELECT qid, true_label, label, c FROM (
        |    SELECT qid, true_label, label, c,
        |      row_number() OVER (PARTITION BY qid ORDER BY c DESC, label DESC)
        |        AS rk
        |    FROM votes) WHERE rk = 1)
        |SELECT qid, true_label, label AS predicted, CAST(c AS BIGINT) AS votes,
        |  label = true_label AS correct
        |FROM win ORDER BY qid""".stripMargin,

    "s_matrix_sum_by_label" ->
      """SELECT label, CAST(i.i AS INT) AS pos,
        |  CAST(SUM(CAST(round(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
        |    / 1000000.0 AS sum_x,
        |  COUNT(*) AS n
        |FROM embeddings, (SELECT unnest(range(0, 8)) AS i) i
        |GROUP BY label, i.i ORDER BY label, pos""".stripMargin,

    // the same seeded 3-iteration Lloyd as the Spark plan, unrolled —
    // see the query comment for why every float op is cross-engine stable
    "s_ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    v AS c
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |${ivfIterSql("c0", "c1")},
         |${ivfIterSql("c1", "c2")},
         |${ivfIterSql("c2", "c3")},
         |assigned AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
         |    FROM e, c3 c) WHERE rk = 1),
         |probe AS (
         |  SELECT qid, qv, qn, cell FROM (
         |    SELECT q.vec_id AS qid, q.v AS qv,
         |      list_reduce(list_prepend(0.0, q.v), (acc, x) -> acc + x * x) AS qn,
         |      c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${ivfDistSql("q.v", "c.c")}, c.cell) AS rk
         |    FROM e q, c3 c WHERE q.vec_id < 10) WHERE rk <= 2),
         |scored AS (
         |  SELECT DISTINCT p.qid, t.vec_id AS nid,
         |    ROUND(list_dot_product(p.qv, t.v) / sqrt(p.qn *
         |      list_reduce(list_prepend(0.0, t.v), (acc, x) -> acc + x * x)), 6)
         |      AS cos
         |  FROM probe p JOIN assigned t
         |    ON t.cell = p.cell AND t.vec_id <> p.qid),
         |ranked AS (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM scored)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, cos FROM ranked
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // NAIVE theta-join neighborhood (no grid): the hash compare against
    // the grid-decomposed Spark plan proves the decomposition lossless
    "q_dbscan" ->
      """WITH RECURSIVE p AS (SELECT vec_id,
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) + 1000000 AS x,
        |    CAST(round(CAST(embedding[2] AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) + 1000000 AS y
        |  FROM embeddings),
        |e AS (SELECT a.vec_id AS aid, b.vec_id AS bid
        |  FROM p a JOIN p b ON a.vec_id <> b.vec_id
        |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 2500000000),
        |core AS (SELECT aid AS vec_id FROM e GROUP BY aid
        |  HAVING COUNT(*) >= 3),
        |ce AS (SELECT aid AS src, bid AS dst FROM e
        |  WHERE aid IN (SELECT vec_id FROM core)
        |    AND bid IN (SELECT vec_id FROM core)),
        |reach(id, lbl) AS (
        |  SELECT vec_id, vec_id FROM core
        |  UNION
        |  SELECT ce.dst, r.lbl FROM reach r JOIN ce ON ce.src = r.id),
        |clab AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
        |blab AS (SELECT e.aid AS id, MIN(c.cluster_id) AS cluster_id
        |  FROM e JOIN clab c ON e.bid = c.id
        |  WHERE e.aid NOT IN (SELECT vec_id FROM core)
        |  GROUP BY e.aid)
        |SELECT p.vec_id,
        |  CASE WHEN cl.id IS NOT NULL THEN 'core'
        |       WHEN bl.id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(cl.cluster_id, bl.cluster_id) AS cluster_id
        |FROM p LEFT JOIN clab cl ON p.vec_id = cl.id
        |  LEFT JOIN blab bl ON p.vec_id = bl.id
        |ORDER BY p.vec_id""".stripMargin,

    // same unrolled Lloyd as s_ann_ivf_topk, then the within-cell
    // lower-id-witness drop predicate replicated literally
    "d_semdedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    v AS c
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |${ivfIterSql("c0", "c1")},
         |${ivfIterSql("c1", "c2")},
         |${ivfIterSql("c2", "c3")},
         |assigned AS (
         |  SELECT vec_id, v, cell,
         |    list_reduce(list_prepend(0.0, v), (acc, x) -> acc + x * x) AS nrm
         |  FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
         |    FROM e, c3 c) WHERE rk = 1),
         |drops AS (
         |  SELECT DISTINCT a.cell, b.vec_id AS bid
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6)
         |    >= 0.4)
         |SELECT s.cell, COUNT(*) AS n, COUNT(d.bid) AS dropped,
         |  COUNT(*) - COUNT(d.bid) AS kept,
         |  md5(coalesce(string_agg(CAST(d.bid AS VARCHAR), ','
         |    ORDER BY d.bid), '')) AS dropped_digest
         |FROM assigned s LEFT JOIN drops d
         |  ON s.cell = d.cell AND s.vec_id = d.bid
         |GROUP BY s.cell ORDER BY s.cell""".stripMargin,

    // literal replay of the two-level sampled-anchor construction at
    // sf0.01 (n=500 -> K1=8 coarse anchors, fine stride 8): coarse =
    // first-8 vectors, fine = every 8th vec_id assigned to its nearest
    // coarse cell (ties -> lowest cell), every vector probes its top-2
    // coarse cells and takes the best fine anchor within each
    // (ties -> lowest fid), drop = lower-id cosine witness in a shared
    // fine cell
    "d_semdedup_probes" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
         |kk AS (
         |  SELECT n, GREATEST(4, (SELECT MIN(r.range) FROM range(1, 2000) r
         |    WHERE r.range * r.range * r.range >= nn.n)) AS k1 FROM nn),
         |params AS (
         |  SELECT k1, GREATEST(1, (n + k1 * k1 - 1) // (k1 * k1)) AS step
         |  FROM kk),
         |ca AS (
         |  SELECT CAST(rn - 1 AS INT) AS cell, v AS c
         |  FROM (SELECT vec_id, v,
         |      row_number() OVER (ORDER BY vec_id) AS rn FROM e)
         |  WHERE rn <= (SELECT k1 FROM params)),
         |fac AS (
         |  SELECT fid, fv, cell AS ccell FROM (
         |    SELECT f.vec_id AS fid, f.v AS fv, c.cell,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${ivfDistSql("f.v", "c.c")}, c.cell) AS rk
         |    FROM e f, ca c
         |    WHERE f.vec_id % (SELECT step FROM params) = 0) WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id, v, cell AS ccell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
         |    FROM e, ca c) WHERE rk <= 2),
         |fassign AS (
         |  SELECT DISTINCT vec_id, v, fcell FROM (
         |    SELECT p.vec_id, p.v, f.fid AS fcell,
         |      row_number() OVER (PARTITION BY p.vec_id, p.ccell
         |        ORDER BY ${ivfDistSql("p.v", "f.fv")}, f.fid) AS rk
         |    FROM probes p JOIN fac f ON p.ccell = f.ccell) WHERE rk <= 2),
         |aset AS (
         |  SELECT vec_id, v, fcell,
         |    list_reduce(list_prepend(0.0, v), (acc, x) -> acc + x * x) AS nrm
         |  FROM fassign),
         |drops AS (
         |  SELECT DISTINCT b.vec_id AS bid
         |  FROM aset a JOIN aset b
         |    ON a.fcell = b.fcell AND a.vec_id < b.vec_id
         |  WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 6)
         |    >= 0.4)
         |SELECT (SELECT COUNT(*) FROM e) AS n,
         |  (SELECT COUNT(*) FROM drops) AS dropped,
         |  (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM drops) AS kept,
         |  md5(coalesce((SELECT string_agg(CAST(bid AS VARCHAR), ','
         |    ORDER BY bid) FROM drops), '')) AS dropped_digest""".stripMargin,

    // the sampled-fit lane of the fit-once IVF query, unrolled: identical
    // Lloyd but trained only on the deterministic 1/16 sample; assignment,
    // probe and scoring run over the full corpus like s_ann_ivf_topk
    "s_ann_ivf_score" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |fe AS (SELECT * FROM e WHERE vec_id % 16 = 0),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    v AS c
         |  FROM (SELECT vec_id, v FROM fe ORDER BY vec_id LIMIT 8)),
         |${ivfIterSql("c0", "c1", "fe")},
         |${ivfIterSql("c1", "c2", "fe")},
         |${ivfIterSql("c2", "c3", "fe")},
         |assigned AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
         |    FROM e, c3 c) WHERE rk = 1),
         |probe AS (
         |  SELECT qid, qv, qn, cell FROM (
         |    SELECT q.vec_id AS qid, q.v AS qv,
         |      list_reduce(list_prepend(0.0, q.v), (acc, x) -> acc + x * x) AS qn,
         |      c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${ivfDistSql("q.v", "c.c")}, c.cell) AS rk
         |    FROM e q, c3 c WHERE q.vec_id < 10) WHERE rk <= 2),
         |scored AS (
         |  SELECT DISTINCT p.qid, t.vec_id AS nid,
         |    ROUND(list_dot_product(p.qv, t.v) / sqrt(p.qn *
         |      list_reduce(list_prepend(0.0, t.v), (acc, x) -> acc + x * x)), 6)
         |      AS cos
         |  FROM probe p JOIN assigned t
         |    ON t.cell = p.cell AND t.vec_id <> p.qid),
         |ranked AS (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM scored)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, cos FROM ranked
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // the same seeded 2-iteration per-subspace Lloyd as the Spark PQ fit,
    // unrolled; queries stay exact, ADC terms micros-summed
    "s_ann_pq_adc" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |sub AS (SELECT vec_id, mm.m AS m,
         |    v[mm.m * 8 + 1 : mm.m * 8 + 8] AS sv
         |  FROM e, (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) mm),
         |pq0 AS (
         |  SELECT m,
         |    CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
         |      AS INT) AS k,
         |    sv AS c
         |  FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
         |${pqIterSql("pq0", "pq1")},
         |${pqIterSql("pq1", "pq2")},
         |enc AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${ivfDistSql("s.sv", "c.c")}, c.k) AS rk
         |    FROM sub s JOIN pq2 c ON s.m = c.m) WHERE rk = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.k,
         |    ${ivfDistSql("s.sv", "c.c")} AS term
         |  FROM sub s JOIN pq2 c ON s.m = c.m WHERE s.vec_id < 8),
         |score AS (
         |  SELECT l.qid, t.vec_id AS nid,
         |    CAST(SUM(CAST(round(l.term * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS adc
         |  FROM enc t JOIN lut l
         |    ON t.m = l.m AND t.code = l.k AND t.vec_id <> l.qid
         |  GROUP BY l.qid, t.vec_id),
         |ranked AS (
         |  SELECT qid, nid, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rk
         |  FROM score)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, adc FROM ranked
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // composed IVF+PQ, unrolled: the s_ann_ivf_topk coarse fit/assign/
    // probe chain + the s_ann_pq_adc codebook/encode/LUT chain, ADC
    // scored ONLY within the probed cells, ADC top-8 shortlist reranked
    // with true vectors, final top-3 by exact cosine
    "s_ann_ivfpq_topk" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    v AS c
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |${ivfIterSql("c0", "c1")},
         |${ivfIterSql("c1", "c2")},
         |${ivfIterSql("c2", "c3")},
         |assigned AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
         |    FROM e, c3 c) WHERE rk = 1),
         |probe AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.vec_id AS qid, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${ivfDistSql("q.v", "c.c")}, c.cell) AS rk
         |    FROM e q, c3 c WHERE q.vec_id < 10) WHERE rk <= 2),
         |sub AS (SELECT vec_id, mm.m AS m,
         |    v[mm.m * 8 + 1 : mm.m * 8 + 8] AS sv
         |  FROM e, (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) mm),
         |pq0 AS (
         |  SELECT m,
         |    CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
         |      AS INT) AS k,
         |    sv AS c
         |  FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16)),
         |${pqIterSql("pq0", "pq1")},
         |${pqIterSql("pq1", "pq2")},
         |enc AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${ivfDistSql("s.sv", "c.c")}, c.k) AS rk
         |    FROM sub s JOIN pq2 c ON s.m = c.m) WHERE rk = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.k,
         |    ${ivfDistSql("s.sv", "c.c")} AS term
         |  FROM sub s JOIN pq2 c ON s.m = c.m WHERE s.vec_id < 10),
         |score AS (
         |  SELECT p.qid, t.vec_id AS nid,
         |    CAST(SUM(CAST(round(l.term * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS adc
         |  FROM probe p
         |    JOIN assigned t ON t.cell = p.cell AND t.vec_id <> p.qid
         |    JOIN enc c ON c.vec_id = t.vec_id
         |    JOIN lut l ON l.qid = p.qid AND l.m = c.m AND l.k = c.code
         |  GROUP BY p.qid, t.vec_id),
         |short AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
         |    FROM score) WHERE rn <= 8),
         |rer AS (
         |  SELECT s.qid, s.nid,
         |    ROUND(list_dot_product(q.v, t.v) / sqrt(
         |      list_reduce(list_prepend(0.0, q.v), (a, x) -> a + x * x) *
         |      list_reduce(list_prepend(0.0, t.v), (a, x) -> a + x * x)), 6)
         |      AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.qid
         |    JOIN e t ON t.vec_id = s.nid)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, cos FROM (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM rer) WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin,

    // the fit-once composed lane, unrolled with BOTH fits trained on
    // the deterministic 1/16 sample (fe / fsub — what the persisted
    // store holds); assignment, encode, probe, ADC and rerank run over
    // the full corpus exactly like s_ann_ivfpq_topk
    "s_ann_ivfpq_score" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |fe AS (SELECT * FROM e WHERE vec_id % 16 = 0),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    v AS c
         |  FROM (SELECT vec_id, v FROM fe ORDER BY vec_id LIMIT 8)),
         |${ivfIterSql("c0", "c1", "fe")},
         |${ivfIterSql("c1", "c2", "fe")},
         |${ivfIterSql("c2", "c3", "fe")},
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${ivfDistSql("e.v", "c.c")}, c.cell) AS rk
         |    FROM e, c3 c) WHERE rk = 1),
         |probe AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.vec_id AS qid, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${ivfDistSql("q.v", "c.c")}, c.cell) AS rk
         |    FROM e q, c3 c WHERE q.vec_id < 10) WHERE rk <= 2),
         |sub AS (SELECT vec_id, mm.m AS m,
         |    v[mm.m * 8 + 1 : mm.m * 8 + 8] AS sv
         |  FROM e, (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) mm),
         |fsub AS (SELECT * FROM sub WHERE vec_id % 16 = 0),
         |pq0 AS (
         |  SELECT m,
         |    CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
         |      AS INT) AS k,
         |    sv AS c
         |  FROM fsub
         |  WHERE vec_id IN (SELECT vec_id FROM e WHERE vec_id % 16 = 0
         |                   ORDER BY vec_id LIMIT 16)),
         |${pqIterSql("pq0", "pq1", "fsub")},
         |${pqIterSql("pq1", "pq2", "fsub")},
         |enc AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${ivfDistSql("s.sv", "c.c")}, c.k) AS rk
         |    FROM sub s JOIN pq2 c ON s.m = c.m) WHERE rk = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.k,
         |    ${ivfDistSql("s.sv", "c.c")} AS term
         |  FROM sub s JOIN pq2 c ON s.m = c.m WHERE s.vec_id < 10),
         |score AS (
         |  SELECT p.qid, t.vec_id AS nid,
         |    CAST(SUM(CAST(round(l.term * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS adc
         |  FROM probe p
         |    JOIN assigned t ON t.cell = p.cell AND t.vec_id <> p.qid
         |    JOIN enc c ON c.vec_id = t.vec_id
         |    JOIN lut l ON l.qid = p.qid AND l.m = c.m AND l.k = c.code
         |  GROUP BY p.qid, t.vec_id),
         |short AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rn
         |    FROM score) WHERE rn <= 8),
         |rer AS (
         |  SELECT s.qid, s.nid,
         |    ROUND(list_dot_product(q.v, t.v) / sqrt(
         |      list_reduce(list_prepend(0.0, q.v), (a, x) -> a + x * x) *
         |      list_reduce(list_prepend(0.0, t.v), (a, x) -> a + x * x)), 6)
         |      AS cos
         |  FROM short s JOIN e q ON q.vec_id = s.qid
         |    JOIN e t ON t.vec_id = s.nid)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, cos FROM (
         |  SELECT qid, nid, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |  FROM rer) WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin,

    // the sampled-fit lane of the fit-once PQ query, unrolled: identical
    // Lloyd but trained ONLY on the deterministic 1/16 sample; encode +
    // LUT + scoring run over the full corpus exactly like s_ann_pq_adc
    "s_ann_pq_score" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |sub AS (SELECT vec_id, mm.m AS m,
         |    v[mm.m * 8 + 1 : mm.m * 8 + 8] AS sv
         |  FROM e, (SELECT CAST(unnest(range(0, 8)) AS INT) AS m) mm),
         |fsub AS (SELECT * FROM sub WHERE vec_id % 16 = 0),
         |pq0 AS (
         |  SELECT m,
         |    CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
         |      AS INT) AS k,
         |    sv AS c
         |  FROM fsub
         |  WHERE vec_id IN (SELECT vec_id FROM e WHERE vec_id % 16 = 0
         |                   ORDER BY vec_id LIMIT 16)),
         |${pqIterSql("pq0", "pq1", "fsub")},
         |${pqIterSql("pq1", "pq2", "fsub")},
         |enc AS (
         |  SELECT vec_id, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY ${ivfDistSql("s.sv", "c.c")}, c.k) AS rk
         |    FROM sub s JOIN pq2 c ON s.m = c.m) WHERE rk = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.k,
         |    ${ivfDistSql("s.sv", "c.c")} AS term
         |  FROM sub s JOIN pq2 c ON s.m = c.m WHERE s.vec_id < 8),
         |score AS (
         |  SELECT l.qid, t.vec_id AS nid,
         |    CAST(SUM(CAST(round(l.term * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS adc
         |  FROM enc t JOIN lut l
         |    ON t.m = l.m AND t.code = l.k AND t.vec_id <> l.qid
         |  GROUP BY l.qid, t.vec_id),
         |ranked AS (
         |  SELECT qid, nid, adc,
         |    row_number() OVER (PARTITION BY qid ORDER BY adc, nid) AS rk
         |  FROM score)
         |SELECT qid, CAST(rk AS INT) AS rk, nid, adc FROM ranked
         |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    // the same MSB-first two-half sign packing; pure integer, so the
    // compare is exact with no stabilization needed
    "s_ann_binary_hamming" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |b AS (SELECT vec_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(v[1:32],
        |        x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT))),
        |      (a, x) -> a * 2 + x) AS hi,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(v[33:64],
        |        x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT))),
        |      (a, x) -> a * 2 + x) AS lo
        |  FROM e),
        |scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    CAST(bit_count(xor(q.hi, c.hi)) + bit_count(xor(q.lo, c.lo))
        |      AS INT) AS hamming
        |  FROM b q JOIN b c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, nid, hamming,
        |    row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS rk
        |  FROM scored)
        |SELECT qid, CAST(rk AS INT) AS rk, nid, hamming FROM ranked
        |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    "s_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e),
        |q AS (SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(round(x / scale) AS INT)) AS qv
        |  FROM s)
        |SELECT vec_id,
        |  ROUND(scale, 6) AS scale6,
        |  ROUND(list_max([abs(qv[i] * scale - v[i]) FOR i IN range(1, len(v) + 1)]), 6)
        |    AS max_err,
        |  CAST(list_reduce(list_prepend(0, qv), (a, x) -> a + x) AS INT) AS q_sum
        |FROM q ORDER BY vec_id""".stripMargin,

    "s_label_centroid_dist" ->
      """WITH e AS (
        |  SELECT vec_id, label, i.i AS pos,
        |    CAST(embedding[i.i + 1] AS DOUBLE) AS x
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i),
        |centroid AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c
        |  FROM e GROUP BY label, pos),
        |d2 AS (
        |  SELECT e.label, e.vec_id,
        |    CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(28,6))) AS DOUBLE) AS d2
        |  FROM e JOIN centroid c ON e.label = c.label AND e.pos = c.pos
        |  GROUP BY e.label, e.vec_id)
        |SELECT label, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(sqrt(d2) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 4) AS avg_dist
        |FROM d2 GROUP BY label ORDER BY label""".stripMargin,

    "s_cluster_quality" ->
      """WITH e AS (
        |  SELECT vec_id, label, i.i AS pos,
        |    CAST(embedding[i.i + 1] AS DOUBLE) AS x
        |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i),
        |centroid AS (
        |  SELECT label, pos,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS c
        |  FROM e GROUP BY label, pos),
        |scat0 AS (
        |  SELECT e.label, e.vec_id,
        |    CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(28,6))) AS DOUBLE) AS d2
        |  FROM e JOIN centroid c ON e.label = c.label AND e.pos = c.pos
        |  GROUP BY e.label, e.vec_id),
        |scatter AS (
        |  SELECT label, COUNT(*) AS n,
        |    (2 * SUM(CAST(round(sqrt(d2) * 1000000.0, 0) AS BIGINT)) + COUNT(*))
        |      // (2 * COUNT(*)) AS s_u
        |  FROM scat0 GROUP BY label),
        |pairs AS (
        |  SELECT a.label, b.label AS lj,
        |    CAST(round(sqrt(CAST(SUM(CAST((a.c - b.c) * (a.c - b.c)
        |        AS DECIMAL(28,6))) AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS dij_u
        |  FROM centroid a JOIN centroid b
        |    ON a.pos = b.pos AND a.label <> b.label
        |  GROUP BY a.label, b.label),
        |j AS (SELECT p.label, p.lj, p.dij_u, s.n, s.s_u, t.s_u AS sj_u,
        |    (2 * (1000000 * (s.s_u + t.s_u)) + p.dij_u) // (2 * p.dij_u)
        |      AS db_term_u
        |  FROM pairs p JOIN scatter s ON p.label = s.label
        |  JOIN scatter t ON p.lj = t.label),
        |m AS (SELECT *, MIN(dij_u) OVER (PARTITION BY label) AS dmin FROM j)
        |SELECT label, n, CAST(s_u AS BIGINT) AS s_u,
        |  MIN(CASE WHEN dij_u = dmin THEN lj END) AS nearest_label,
        |  MIN(dij_u) AS nearest_d_u,
        |  CAST(MAX(db_term_u) AS BIGINT) AS db_u
        |FROM m GROUP BY label, n, s_u ORDER BY label""".stripMargin
  )
}
