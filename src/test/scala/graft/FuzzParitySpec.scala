package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Differential fuzzing (SURVEY §5(3)): a bounded SQL grammar —
  * filters, grouping, HAVING, window frames, join shapes,
  * null-handling, NaN/Inf, decimal edges — executed on TWO engine
  * configurations and multiset-compared:
  *
  *  - lane A "stock": a plain Catalyst session, whole-stage codegen on,
  *    32 shuffle partitions — the baseline engine;
  *  - lane B "graft": every injected optimizer rule installed AND
  *    enabled (EagerAgg, PushJoinBelowUnionAll, OrExpansion,
  *    RangeBinJoin with a bin width), codegen forced OFF (interpreted
  *    expression paths), and a different shuffle partitioning.
  *
  * Any divergence means a graft rule broke bag semantics, an
  * expression's interpreted path disagrees with codegen, or a result
  * silently depends on partitioning. The fixed CORRECTNESS queries
  * prove chosen paths; this hunts unchosen ones. Seeded (fixed initial
  * seed → reproducible failures) with ScalaCheck shrinking on the
  * generated case structure. 13 properties × 63 cases = 819 generated
  * cases per run (r13 added IGNORE NULLS navigation and the
  * hstore/jsonpath row-local kernels; r14 adds pure-Scala-model
  * differentials for the rewritten substring-dedup and embedding
  * sign-LSH operators, star fallback included; the capped bucket pairs
  * and the semantic-dedup cell witness scan have models too);
  * [[TlpFuzzSpec]] adds 200 metamorphic cases on the same lanes.
  *
  * Float discipline: double SUM/AVG group-aggregates are excluded from
  * the grammar (addition order legitimately varies with partitioning);
  * decimal sums, counts, min/max, and window aggregates (fixed
  * intra-partition order) are exact and must match bit-for-bit.
  */
object FuzzParitySpec extends Properties("FuzzParity") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(63)
      .withInitialSeed(Seed(20260814L))

  // ---- the two engine lanes (shared with TlpFuzzSpec) --------------
  private lazy val (stockLane, graftLane) = (FuzzLanes.stock, FuzzLanes.graft)

  private def runBoth(sql: String): Prop = {
    val ra = FuzzLanes.rows(stockLane, sql)
    val rb = FuzzLanes.rows(graftLane, sql)
    (ra == rb) :| {
      val diffA = ra.diff(rb).take(3)
      val diffB = rb.diff(ra).take(3)
      s"SQL: $sql\nstock-only: $diffA\ngraft-only: $diffB\n" +
        s"sizes: ${ra.size} vs ${rb.size}"
    }
  }

  // ---- grammar ------------------------------------------------------
  private val numCol = Gen.oneOf("k1", "k2", "v", "d", "id")
  private val numConst = Gen.oneOf("0", "7", "-1", "0.5", "9999999999.99",
    "-0.01", "double('NaN')", "double('Infinity')", "double('-Infinity')",
    "NULL")

  private val cmp = Gen.oneOf("<", "<=", "=", ">=", ">", "<>", "<=>")

  private def atom: Gen[String] = Gen.frequency(
    5 -> (for { a <- numCol; op <- cmp; b <- numConst }
      yield s"($a $op $b)"),
    3 -> (for { a <- numCol; b <- numCol; op <- cmp }
      yield s"($a $op $b)"),
    2 -> numCol.map(c => s"($c IS NULL)"),
    2 -> numCol.map(c => s"($c IS NOT NULL)"),
    2 -> Gen.oneOf(s"(s LIKE 's1%')", "(s LIKE '%_%')", "(s = '')",
      "(s <=> NULL)", "(s IN ('s1', 's2', 'café'))"),
    2 -> (for { a <- numCol; xs <- Gen.listOfN(3, numConst) }
      yield s"($a IN (${xs.mkString(", ")}))"))

  private def pred(depth: Int): Gen[String] =
    if (depth <= 0) atom
    else Gen.frequency(
      3 -> atom,
      2 -> (for { l <- pred(depth - 1); r <- pred(depth - 1) }
        yield s"($l AND $r)"),
      2 -> (for { l <- pred(depth - 1); r <- pred(depth - 1) }
        yield s"($l OR $r)"),
      1 -> pred(depth - 1).map(p => s"(NOT $p)"))

  property("filter/projection parity") = Prop.forAll(pred(2)) { p =>
    runBoth(s"SELECT id, k1, k2, v, d, s FROM f WHERE $p")
  }

  private val groupExpr = Gen.oneOf("k1", "k2", "k1 % 5", "coalesce(k2, -1)",
    "CASE WHEN v > 0 THEN 1 WHEN v <= 0 THEN 0 END", "s")

  property("aggregate/having parity") = Prop.forAll(
    for { g <- groupExpr; p <- pred(1); h <- Gen.chooseNum(0, 5) }
      yield (g, p, h)) { case (g, p, h) =>
    runBoth(
      s"""SELECT $g AS g, count(*) AS n, sum(d) AS sd, min(v) AS mv,
         |max(v) AS xv, count(DISTINCT k2) AS cd, min(s) AS ms
         |FROM f WHERE $p GROUP BY g HAVING count(*) > $h""".stripMargin)
  }

  private val frame = Gen.oneOf(
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    "RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING")
  private val winPart = Gen.oneOf("k1", "k2", "k1 % 3")
  private val winOrd = Gen.oneOf("id", "v, id", "d, id")

  property("window frame parity") = Prop.forAll(
    for { fr <- frame; pt <- winPart; o <- winOrd; p <- pred(1) }
      yield (fr, pt, o, p)) { case (fr, pt, o, p) =>
    // RANGE frames need a single numeric sort key
    val ord = if (fr.startsWith("RANGE")) "id" else o
    runBoth(
      s"""SELECT id, sum(v) OVER (PARTITION BY $pt ORDER BY $ord $fr) AS wv,
         |count(*) OVER (PARTITION BY $pt ORDER BY $ord $fr) AS wn,
         |rank() OVER (PARTITION BY $pt ORDER BY $ord) AS rk
         |FROM f WHERE $p""".stripMargin)
  }

  property("join shapes parity (equi, or-expansion, eager agg)") =
    Prop.forAll(for {
      shape <- Gen.oneOf("equi", "or", "eageragg", "union")
      p <- pred(1)
    } yield (shape, p)) { case (shape, p) =>
    val sql = shape match {
      case "equi" =>
        s"SELECT f.id, b.w FROM f JOIN b ON f.k1 = b.k WHERE $p"
      case "or" =>
        s"""SELECT count(*) AS n, sum(f.d) AS sd FROM f JOIN b
           |ON f.k1 = b.k OR f.k2 = b.k WHERE $p""".stripMargin
      case "eageragg" =>
        s"""SELECT b.k, count(*) AS n, sum(f.d) AS sd
           |FROM f JOIN b ON f.k1 = b.k WHERE $p GROUP BY b.k""".stripMargin
      case "union" =>
        s"""SELECT u.k, count(*) AS n FROM
           |(SELECT k1 AS k FROM f WHERE $p UNION ALL SELECT k FROM b) u
           |JOIN b ON u.k = b.k GROUP BY u.k""".stripMargin
    }
    runBoth(sql)
  }

  property("set-op / distinct parity") = Prop.forAll(for {
    op <- Gen.oneOf("UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
      "EXCEPT", "EXCEPT ALL")
    p1 <- pred(1)
    p2 <- pred(1)
    proj <- Gen.oneOf("k1, k2", "k1 % 4, s", "coalesce(k2, -1)")
  } yield (op, p1, p2, proj)) { case (op, p1, p2, proj) =>
    runBoth(
      s"""SELECT * FROM (
         |  SELECT $proj FROM f WHERE $p1
         |  $op
         |  SELECT $proj FROM f WHERE $p2)""".stripMargin) &&
    runBoth(s"SELECT DISTINCT $proj FROM f WHERE $p1")
  }

  property("band join parity (range-bin rewrite incl. NaN/Inf bounds)") =
    Prop.forAll(for {
      loCmp <- Gen.oneOf(">=", ">")
      hiCmp <- Gen.oneOf("<=", "<")
      agg <- Gen.oneOf(true, false)
    } yield (loCmp, hiCmp, agg)) { case (loCmp, hiCmp, agg) =>
    val cond = s"f.v $loCmp b.lo AND f.v $hiCmp b.hi"
    val sql =
      if (agg) s"SELECT count(*) AS n, min(f.id) AS mi, max(f.id) AS mx " +
        s"FROM f JOIN b ON $cond"
      else s"SELECT f.id, b.k, b.w FROM f JOIN b ON $cond"
    runBoth(sql)
  }

  // r13: IGNORE NULLS navigation functions — interpreted vs codegen
  // window paths over a nullable column with a nontrivial null pattern.
  // (GROUPS frames stay out of the SQL grammar: Spark's parser has no
  // GROUPS — the engine's GROUPS surface is the dense_rank emulation
  // oracle-checked by q_window_groups_frame.)
  property("window IGNORE NULLS navigation parity") = Prop.forAll(for {
    pt <- Gen.oneOf("k1", "k1 % 3", "CASE WHEN v > 0 THEN 1 ELSE 0 END")
    nav <- Gen.oneOf("lead(k2, 1)", "lag(k2, 2)", "nth_value(k2, 2)",
      "first_value(k2)", "last_value(k2)")
    p <- pred(1)
  } yield (pt, nav, p)) { case (pt, nav, p) =>
    if (pt.isEmpty || nav.isEmpty || p.isEmpty) Prop.passed
    else {
      // lead/lag reject an explicit frame; the value functions take one
      val fr = if (nav.startsWith("lead") || nav.startsWith("lag")) ""
        else "\n     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
      runBoth(
        s"""SELECT id,
           |  $nav IGNORE NULLS OVER
           |    (PARTITION BY $pt ORDER BY id$fr) AS iv,
           |  $nav RESPECT NULLS OVER
           |    (PARTITION BY $pt ORDER BY id$fr) AS rv
           |FROM f WHERE $p""".stripMargin)
    }
  }

  // r13: row-local graft kernels — hstore parse/render/json and
  // jsonpath-style extraction — exercised through BOTH lanes (custom
  // Expression eval vs doGenCode is exactly the split the two lanes
  // pin). The hstore text is built from fixture columns with quotes
  // stripped so only VALUE variety (null/empty/unicode/%_%) fuzzes,
  // not hstore grammar validity.
  private val hsExpr =
    """hstore_to_json_loose(hstore_parse(concat(
      |  'a=>"', regexp_replace(coalesce(s, 'NULL'), '"', ''),
      |  '", b=>', coalesce(cast(k2 AS string), 'NULL'),
      |  ', c=>t')))""".stripMargin
  private val jsonPath = Gen.oneOf("$.a", "$.b.c", "$.b.d", "$.arr[1]",
    "$.arr[9]", "$.miss")

  property("hstore/jsonpath expression parity") = Prop.forAll(for {
    path <- jsonPath
    p <- pred(1)
  } yield (path, p)) { case (path, p) =>
    runBoth(
      s"""SELECT id, $hsExpr AS hs,
         |  get_json_object(to_json(named_struct(
         |    'a', s, 'b', named_struct('c', k1, 'd', v),
         |    'arr', array(k2, id))), '$path') AS jp,
         |  hstore_render(hstore_parse($hsExpr)) IS NULL AS hs_rt_null
         |FROM f WHERE $p""".stripMargin)
  }

  // ---- native as-of operator vs a pure-Scala derivation -------------
  // AsofJoinExec (plans/AsofJoin.scala) is the one custom PHYSICAL
  // operator with its own two-pointer merge; the fixed specs pin chosen
  // shapes, this lane hunts unchosen ones — random key skew, fully
  // unmatched keys, boundary-equal timestamps, empty sides, single-row
  // partitions — on BOTH engine lanes (codegen/32-part vs
  // interpreted/5-part) against an independently computed expected set.
  // Right values are v = k*1000 + t so duplicate (k, t) rows are
  // IDENTICAL and the native "last tie in sort order" rule cannot
  // produce an order-dependent value.
  private val asofGen: Gen[(List[(Long, Long)], List[(Long, Long)])] = for {
    nl <- Gen.choose(0, 40)
    nr <- Gen.choose(0, 40)
    left <- Gen.listOfN(nl, for {
      k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 50L) } yield (k, t))
    right <- Gen.listOfN(nr, for {
      k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 50L) } yield (k, t))
  } yield (left, right)

  property("as-of native operator vs relational derivation") =
    Prop.forAll(asofGen) { case (left, right) =>
      import org.apache.spark.sql.functions.col
      val rlist = right.distinct
      val expected = left.zipWithIndex.map { case ((k, t), i) =>
        val cands = rlist.filter(r => r._1 == k && r._2 <= t)
        (i.toLong, if (cands.isEmpty) None
                   else Some(k * 1000L + cands.map(_._2).max))
      }.sorted.toList
      def run(s: SparkSession): List[(Long, Option[Any])] = {
        val sp = s; import sp.implicits._
        val ldf = left.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "k", "t")
        val rdf = rlist.map { case (k, t) => (k, t, k * 1000L + t) }
          .toDF("rk", "rt", "v")
        graft.plans.AsofJoin(ldf, rdf, Seq(("k", "rk")), "t", "rt")
          .select(col("lid"), col("v")).collect()
          .map(r => (r.getLong(0), Option(r.get(1)))).toList.sorted(
            Ordering.by((x: (Long, Option[Any])) => x._1))
      }
      val a = run(stockLane); val b = run(graftLane)
      val exp = expected.map { case (i, v) => (i, v: Option[Any]) }
      (a == exp && b == exp) :| {
        s"left=$left\nright=$rlist\nexpected=$exp\nstock=$a\ngraft=$b"
      }
    }

  // ---- substring dedup vs a pure-Scala model -------------------------
  // The r14 single-pass rewrite (window count over digests + islands
  // fold — Corpus.substringDedupSpans) gets the same treatment as the
  // as-of operator: tiny-vocab corpora force dense duplicated 8-gram
  // structure (adjacent, overlapping, within-doc, cross-doc, straddling
  // span merges), and every output column — including the exact span
  // geometry behind spans_digest — is recomputed by an independent
  // model. Both engine lanes (codegen/32-part vs interpreted/5-part)
  // must match it, so digest grouping, the window, and the aggregate()
  // fold are all partition-independent.
  private val corpusGen: Gen[List[List[String]]] = for {
    nd <- Gen.choose(0, 8)
    docs <- Gen.listOfN(nd, for {
      len <- Gen.frequency(2 -> Gen.choose(0, 7), 5 -> Gen.choose(8, 28))
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c"))
    } yield ws)
  } yield docs

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  property("substring dedup vs pure-Scala span model") =
    Prop.forAll(corpusGen) { docs =>
      val K = 8
      // model: global window multiset over ALL docs, then per-doc spans
      val wins = docs.zipWithIndex.flatMap { case (ws, d) =>
        (0 to ws.length - K).map(i => (d.toLong, i + 1, ws.slice(i, i + K)))
      }
      val counts = wins.groupBy(_._3).map { case (k, v) => (k, v.size) }
      val expected = docs.indices.map { d =>
        val mine = wins.filter(_._1 == d.toLong)
        val dupStarts = mine.filter(w => counts(w._3) > 1).map(_._2).sorted
        val spans = dupStarts.foldLeft(List.empty[(Int, Int)]) {
          case (Nil, x) => List((x, x))
          case ((s, l) :: rest, x) =>
            if (x - l > K) (x, x) :: (s, l) :: rest else (s, x) :: rest
        }.reverse.map { case (s, l) => (s, l + K - 1) }
        val digest = if (spans.isEmpty) ""
          else md5hex(spans.map(p => s"${p._1}-${p._2}").sorted.mkString(","))
        val nw = mine.size.toLong; val ndup = dupStarts.size.toLong
        (d.toLong, nw, ndup, spans.size.toLong,
          spans.map(p => p._2 - p._1 + 1).sum.toLong, digest,
          if (nw > 0) (2000000L * ndup + nw) / (2 * nw) else 0L)
      }.toList
      def run(s: SparkSession): List[(Long, Long, Long, Long, Long, String, Long)] = {
        val sp = s; import sp.implicits._
        val df = docs.zipWithIndex
          .map { case (ws, d) => (d.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        graft.queries.Corpus.substringDedupSpans(df).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
           r.getLong(4), r.getString(5), r.getLong(6))).toList
      }
      val a = run(stockLane); val b = run(graftLane)
      (a == expected && b == expected) :| {
        s"docs=$docs\nexpected=$expected\nstock=$a\ngraft=$b"
      }
    }

  // ---- capped bucket pairs vs a pure-Scala model --------------------
  // Dedup.cappedBucketPairs on (string, int) keys against the contract:
  // a bucket of at most `cap` rows emits every pair with doc_a < doc_b,
  // a larger one emits (min, member) for every member other than the
  // min, and a null key never pairs. Buckets of cap-1, cap and cap+1
  // distinct ids sit on both sides of the cap; one row repeated inside a
  // bucket adds to its size but never pairs with itself.
  private val cappedGen: Gen[(Int, List[(String, Int, Long)])] = for {
    cap <- Gen.choose(2, 6)
    under <- Gen.pick(cap - 1, 0L until 40L)
    at <- Gen.pick(cap, 0L until 40L)
    over <- Gen.pick(cap + 1, 0L until 40L)
    loose <- Gen.listOf(for {
      blk <- Gen.oneOf("a", "b", null)
      band <- Gen.choose(0, 1)
      id <- Gen.choose(0L, 39L)
    } yield (blk, band, id))
    repeat <- Gen.choose(0, 2)
    seed <- Gen.long
  } yield {
    val sized = List(under, at, over).zipWithIndex.flatMap { case (ids, b) =>
      ids.map(id => ("s", b, id)) }
    val nulls = List((null: String, 0, 1L), (null: String, 0, 2L))
    val rows = sized ++ sized.filter(_._2 == repeat).take(1) ++ nulls ++ loose
    (cap, new scala.util.Random(seed).shuffle(rows))
  }

  property("capped bucket pairs vs pure-Scala model") =
    Prop.forAll(cappedGen) { case (cap, rows) =>
      val expected = rows.filter(_._1 != null).groupBy(r => (r._1, r._2))
        .values.flatMap { bucket =>
          val ids = bucket.map(_._3)
          if (ids.size <= cap)
            for (a <- ids; b <- ids if a < b) yield (a, b)
          else ids.filter(_ != ids.min).map(m => (ids.min, m))
        }.toSet
      def run(s: SparkSession): Seq[(Long, Long)] = {
        val sp = s; import sp.implicits._
        graft.queries.Dedup.cappedBucketPairs(rows.toDF("blk", "band", "doc_id"),
            Seq("blk", "band"), cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      }
      val a = run(stockLane); val b = run(graftLane)
      val want = expected.toSeq.sorted
      (a == want && b == want) :| {
        s"cap=$cap rows=$rows\nexpected=$want\nstock=$a\ngraft=$b"
      }
    }

  // ---- cell witness drops vs a pure-Scala model ----------------------
  // Dedup.cellWitnessDrops, the SemDeDup drop law of both semantic-dedup
  // lanes, against a first-witness model: within a cell, sorted by id, a
  // row is dropped iff a lower id sits at HALF_UP-6dp cosine >= tau; a
  // NaN cosine (the planted zero vector) is never a witness. Window
  // buffer thresholds of 1-8 make the scan run many blocks. The random
  // cells also spill (count threshold 1-8). The jumbo cell of
  // near-identical vectors keeps the default spill threshold: every pass
  // over a spilled cell opens one reader (and, with read-ahead on, one
  // thread) per spill file, so it runs its many blocks in memory.
  private type CellRow = (Long, Long, Array[Double], Double)
  private val witnessGen: Gen[(Int, Int, List[CellRow], List[CellRow])] = {
    val dim = 6
    def row(cell: Long, id: Long, v: Array[Double]): CellRow =
      (cell, id, v, v.map(x => x * x).sum)
    def cellOf(rnd: scala.util.Random, cell: Long, n: Int,
               vec: Int => Array[Double]): List[CellRow] =
      Iterator.continually(rnd.nextLong()).distinct.take(n).zipWithIndex
        .map { case (id, i) => row(cell, id, vec(i)) }.toList
    for {
      inMem <- Gen.choose(1, 8)
      spill <- Gen.choose(1, 8)
      sizes <- Gen.listOfN(3, Gen.choose(1, 16))
      jumbo <- Gen.choose(2000, 3000)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      // three prototypes plus noise wide enough to put pairs on both
      // sides of tau; the same id may recur across cells
      val small = sizes.flatMap { n =>
        cellOf(rnd, rnd.nextLong(), n, _ => {
          val p = rnd.nextInt(3)
          Array.tabulate(dim)(i => math.sin(p * 7 + i) + rnd.nextGaussian() * 0.6)
        })
      }
      val base = Array.tabulate(dim)(i => math.cos(i + 1.0))
      val big = cellOf(rnd, rnd.nextLong(), jumbo,
        i => base.map(_ + 1e-3 * math.sin(i * 0.37)))
      def planted(rows: List[CellRow]): List[CellRow] = {
        val at = rows(rnd.nextInt(rows.size))
        rows :+ row(at._1, rnd.nextLong(), Array.fill(dim)(0.0))
      }
      (inMem, spill, planted(small), planted(big))
    }
  }

  private def witnessModel(rows: Seq[CellRow], tau: Double): Seq[Long] =
    rows.groupBy(_._1).values.toSeq.flatMap { cell =>
      val s = cell.sortBy(_._2)
      def witness(a: CellRow, b: CellRow): Boolean = {
        var d = 0.0; var p = 0
        while (p < a._3.length) { d += a._3(p) * b._3(p); p += 1 }
        val raw = d / math.sqrt(a._4 * b._4)
        !raw.isNaN && java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() >= tau
      }
      s.indices.filter(j => (0 until j).exists(i => witness(s(i), s(j))))
        .map(s(_)._2)
    }.sorted

  property("cell witness drops vs pure-Scala model") =
    Prop.forAll(witnessGen) { case (inMem, spill, small, big) =>
      val tau = graft.queries.Similarity.SemTau
      val inMemKey = "spark.sql.windowExec.buffer.in.memory.threshold"
      val spillKey = "spark.sql.windowExec.buffer.spill.threshold"
      def run(s: SparkSession, rows: List[CellRow], spills: Boolean): Seq[Long] = {
        val sp = s; import sp.implicits._
        s.conf.set(inMemKey, inMem.toString)
        if (spills) s.conf.set(spillKey, spill.toString)
        try graft.queries.Dedup.cellWitnessDrops(
            rows.toDF("cell", "vec_id", "v", "nrm"), tau)
          .collect().map(_.getLong(0)).toSeq.sorted
        finally { s.conf.unset(inMemKey); s.conf.unset(spillKey) }
      }
      Seq(small -> true, big -> false).map { case (rows, spills) =>
        val want = witnessModel(rows, tau)
        val a = run(stockLane, rows, spills); val b = run(graftLane, rows, spills)
        (a == want && b == want) :| {
          s"inMem=$inMem spill=${if (spills) spill else "default"} " +
            s"rows=${rows.size}\nexpected=${want.take(8)}\nstock=${a.take(8)}\n" +
            s"graft=${b.take(8)}"
        }
      }.reduce(_ && _)
    }

  // ---- embedding sign-LSH vs a pure-Scala model ----------------------
  // The r14 single-shuffle run iterator (Dedup.embeddingLshPairs) —
  // small-bucket all-pairs AND the star fallback — against a direct
  // model of the contract: group by (band, key) over the SAME shared
  // hyperplane signatures, buckets <= maxBucket emit every verified
  // pair, oversized buckets emit verified (bucket-min, member) pairs
  // only. maxBucket is fuzzed down to 2 so star degradation triggers
  // constantly (clustered prototypes + exact copies force hot buckets);
  // both engine lanes must match the model set exactly.
  private val lshGen: Gen[(List[Array[Double]], Int, (Int, Int))] = {
    val dim = 64
    val proto: Gen[Int] = Gen.choose(0, 2)
    val vec: Gen[Array[Double]] = for {
      p <- proto
      noise <- Gen.choose(0, 3)
      flip <- Gen.choose(0, dim - 1)
    } yield {
      val v = Array.tabulate(dim)(i =>
        math.sin(p * 31 + i * 0.7) + (if (i == flip) noise * 0.05 else 0.0))
      v
    }
    for {
      n <- Gen.choose(0, 40)
      vs <- Gen.listOfN(n, vec)
      cap <- Gen.choose(2, 6)
      // r16: the geometry is a parameter now (the recall knob) — fuzz
      // every banding of the shared 60-plane signature the API accepts,
      // including ones that leave high signature bits unused; r17 adds
      // WIDE geometries (> 64 planes — the SignBandKeys kernel path,
      // incl. the production 10x12 and a non-multiple-of-60 shape)
      geo <- Gen.oneOf((5, 12), (10, 6), (6, 10), (4, 15), (12, 5),
        (3, 12), (2, 6), (10, 12), (7, 11))
    } yield (vs, cap, geo)
  }

  property("embedding sign-LSH (incl. star fallback) vs pure-Scala model") =
    Prop.forAll(lshGen) { case (vs, cap, (bands, bits)) =>
      val threshold = 0.45
      val planes = (0 until bands * bits)
        .map(j => graft.queries.Hyperplanes.plane(j).toArray)
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { s += a(i) * b(i); i += 1 }
        s
      }
      def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val ids = vs.indices.map(_.toLong)
      // per-band keys directly (bit k of band b = sign of plane b*bits+k)
      // — the packed-long sig view and the wide SignBandKeys view are
      // both exactly this, so ONE model covers both engine paths
      val keys = vs.map { v =>
        (0 until bands).map { b =>
          (0 until bits).map(k =>
            if (dot(v, planes(b * bits + k)) > 0) 1L << k else 0L).sum
        }
      }
      val nrm = vs.map(v => dot(v, v))
      def cosOk(i: Int, j: Int): Option[(Long, Long, Double)] = {
        val c = round6(dot(vs(i), vs(j)) / math.sqrt(nrm(i) * nrm(j)))
        if (c >= threshold) Some((math.min(ids(i), ids(j)),
          math.max(ids(i), ids(j)), c)) else None
      }
      val expected = (0 until bands).flatMap { b =>
        vs.indices.groupBy(i => keys(i)(b)).values.flatMap {
          bucket =>
            if (bucket.size <= cap)
              bucket.combinations(2).flatMap(p => cosOk(p(0), p(1)))
            else {
              val center = bucket.min   // ids are indices: min id == min index
              bucket.filter(_ != center).flatMap(m => cosOk(center, m))
            }
        }
      }.toSet
      def run(s: SparkSession): Set[(Long, Long, Double)] = {
        val sp = s; import sp.implicits._
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("vec_id", "v")
        graft.queries.Dedup.embeddingLshPairs(df, cap, threshold, bands, bits)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val a = run(stockLane); val b = run(graftLane)
      (a == expected && b == expected) :| {
        s"n=${vs.size} cap=$cap geo=${bands}x$bits\nmissing=${(expected -- a).take(4)}\n" +
          s"extra=${(a -- expected).take(4)}\ngraft-diff=${(b -- expected).take(4)}"
      }
    }
}
